"""The benchmark's workloads, each pinned by operation key.

Every workload reads tables made by gen_tables.py at relational scale
factor `sf` (documents sized apart), stages `families`
from scratch in every setup round, and runs `keys` (plus, for
irs990_etl, the GraftJob/XmlIngest operations over a corpus of
`filings` from gen_irs990.py) once cold and then in warm passes.
`fresh_tmp_keys` run every call in an empty `java.io.tmpdir`: their write
is gated by `Staging`'s write-once check, so without it they would write
only on their first call in the JVM.
"""

WORKLOADS = {
    # Driver-side work: one or two keys from each relational family, each
    # keeping under a quarter of the cores busy.
    "olap_interactive": {
        "sf": 0.01, "families": [],
        "keys": ["agg_retention_cohort", "win_forecast_naive_backtest",
                 "join_star_schema", "fn_json", "sql_tvf_family",
                 "quality_drift_psi", "set_except_all",
                 "sketch_tdigest_quantile", "sample_class_balance",
                 "resample_seasonal_index"],
    },
    # Executor-side work: LLM-data keys that keep most cores busy.
    "llm_curation": {
        "sf": 0.01, "docs": 1000,
        "families": [],
        "keys": ["dedup_minhash_lsh", "text_repetition_score",
                 "text_cooccur_pmi", "text_bigram_lm_nll"],
    },
    # The paper's pipeline: the GraftJobs and XmlIngest over the corpus,
    # plus bulk ingest, sink commits and a streaming replay.
    "irs990_etl": {
        "sf": 0.01, "filings": 1000,
        "families": ["Ingest"],
        "keys": ["ingest_parse_bulk", "sink_compression_codecs",
                 "sink_partition_overwrite", "stream_tumbling"],
        "fresh_tmp_keys": ["sink_compression_codecs",
                           "sink_partition_overwrite"],
    },
}
