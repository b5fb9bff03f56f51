package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Window functions — SURVEY.md §2.B rows B20–B23.
  *
  * Ranking, analytic (lag/lead/ntile), running ROWS frames and RANGE frames.
  * Every window's ORDER BY carries a unique tie-break column so both engines
  * rank identically.
  */
object Windows {
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B20: top-3 orders per customer by price, via the generic operator.
    "win_rank_topk_pergrp" -> ((s, d) =>
      graft.operators.TopKPerGroup(t(s, d, "orders"), 3,
        groupBy = Seq(col("o_custkey")),
        orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")),

    // B21: lag / lead / ntile over the per-user event timeline.
    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          ntile(4).over(w).as("quartile"))
        .orderBy("event_id")
    }),

    // B22: running sum, ROWS UNBOUNDED PRECEDING..CURRENT ROW.
    "win_running_rows" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // B58: rank-statistic family — rank / dense_rank / percent_rank /
    // cume_dist over a unique total order (so both engines tie-break
    // identically).
    "win_rank_stats" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_orderkey")
    }),

    // B71: value-navigation family — first/last/nth value over a full
    // per-user frame (both frame bounds explicit: last_value over the
    // default running frame is the classic silent-wrong-answer).
    "win_first_last" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        first(col("value")).over(w).as("first_val"),
        last(col("value")).over(w).as("last_val"),
        nth_value(col("value"), 2).over(w).as("second_val"))
        .orderBy("event_id")
    }),

    // B73: custom typed Aggregator over a window frame — the UDAF surface
    // composes with window functions (running geometric mean of order
    // totals per priority; o_orderkey is unique, so the frame order is
    // total — lineitem's (orderkey, linenumber) is NOT unique here).
    "win_custom_udaf" -> ((s, d) => {
      val geo = udaf(graft.functions.GeoMean)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        round(geo(col("o_totalprice")).over(w), 2).as("running_geo"))
        .orderBy("o_orderkey")
    }),

    // ext: gap-based sessionization — the batch twin of stream_session.
    // A session breaks where the per-user gap exceeds 6 h (sized to the
    // synthetic corpus's ~7 h median inter-event gap so sessions really
    // group events — a web-log deployment would use minutes); the session
    // ordinal is the running count of breaks (lag + running SUM over the
    // same total order), then one keyed aggregation per (user, session).
    // Scale shape: two window passes and the final agg all share ONE
    // hash-partition-by-user_id exchange — Catalyst reuses the shuffle
    // because every window and the groupBy key off the same prefix.
    // HOT-KEY caveat: like every keyed window, one bot user = one sort
    // task. Both established escapes apply when that bites: the
    // chunked-carry rewrite (AsOfJoin.chunked — per (user, time-chunk)
    // local sessions stitched through a chunk-boundary table; the break
    // flag only needs the previous chunk's last timestamp) or, when
    // only per-session AGGREGATES are needed, the sort-free
    // aggregation-chain rewrite demonstrated by win_funnel_skewproof.
    "win_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("prev_sec", lag(col("sec"), 1).over(w))
        .withColumn("brk",
          when(col("prev_sec").isNull ||
            col("sec") - col("prev_sec") > 21600L, 1L).otherwise(0L))
        .withColumn("sess_id", sum("brk").over(wRun))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min("sec").as("start_sec"),
          max("sec").as("end_sec"),
          (max("sec") - min("sec")).as("duration_sec"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id", "sess_id")
    }),

    // Gaps-and-islands: maximal runs of consecutive active hours per user
    // — the classic "islands" pattern (uptime stretches, contiguous
    // coverage, streaks). hidx − row_number() is constant within a
    // consecutive run, so one distinct + one window + one keyed agg does
    // it: no self-join, no recursion, and everything after the distinct
    // rides the same user_id hash exchange. At 100 TB the distinct is the
    // only full shuffle and it carries two integer columns.
    "win_gaps_islands" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("hidx").asc)
      Tables.events(s, d)
        .select(col("user_id"),
          floor(unix_timestamp(date_trunc("hour", col("ts"))) / 3600.0)
            .cast("long").as("hidx"))
        .distinct()
        .withColumn("grp", col("hidx") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg((min("hidx") * 3600L).as("start_sec"),
          (max("hidx") * 3600L).as("end_sec"),
          count(lit(1)).as("n_hours"))
        .select("user_id", "start_sec", "end_sec", "n_hours")
        .orderBy("user_id", "start_sec")
    }),

    // Mann–Kendall trend test + Sen's slope on the daily event-count
    // series — the nonparametric is-there-a-trend screen (robust to
    // outliers and any monotone transform, unlike an OLS slope) with
    // the robust slope estimate next to it. S folds over the all-PAIRS
    // day join — bounded: the axis is |days|², never event-cardinality
    // — with the standard continuity-corrected z (no-ties variance
    // formula, stated convention; count ties are rare and shrink |z|).
    // Sen's slope is the exact median of pairwise slopes via the same
    // percentile↔quantile_cont pairing the percentile keys pin.
    "win_mann_kendall_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.day") < col("b.day"))
        .select(signum((col("b.n") - col("a.n")).cast("double"))
            .cast("long").as("sgn"),
          ((col("b.n") - col("a.n")).cast("double") /
            datediff(col("b.day"), col("a.day"))).as("slope"))
      val m = pairs.agg(sum("sgn").as("s_stat"),
        expr("percentile(slope, 0.5)").as("sen"),
        count(lit(1)).as("n_pairs"))
      val nD = daily.agg(count(lit(1)).as("n_days"))
      val nd = col("n_days").cast("double")
      val sigma = sqrt(nd * (nd - 1) * (lit(2.0) * nd + 5) / 18.0)
      m.crossJoin(broadcast(nD))
        .withColumn("z",
          when(col("s_stat") > 0, (col("s_stat") - 1) / sigma)
            .when(col("s_stat") < 0, (col("s_stat") + 1) / sigma)
            .otherwise(lit(0.0)))
        .select(col("n_days"), col("n_pairs"), col("s_stat"),
          (round(col("z"), 4) + lit(0.0)).as("z_stat"),
          (round(col("sen"), 4) + lit(0.0)).as("sen_slope"))
        .withColumn("trend",
          when(col("z_stat") >= 1.959963985, "increasing")
            .when(col("z_stat") <= -1.959963985, "decreasing")
            .otherwise("none"))
    }),

    // Parkinson range volatility per event type — the high/low
    // estimator that beats close-to-close variance ~5× in efficiency
    // because the intraday RANGE sees the path, not just the endpoint:
    // σ² = mean(ln(H/L)²) / (4·ln 2) over daily (max, min) value bars.
    // One bounded daily aggregate (the same shape resample_ohlc folds),
    // then a type-keyed fold over ≤|days| rows; the 4·ln2 constant is
    // one shared literal. A zero-range day contributes exactly 0. Values
    // are NOT strictly positive (the sf0.1 events carry zero-valued
    // days): a day with L = 0 has no finite ln(H/L), so try_divide makes
    // it NULL — the DuckDB twin's x/0 — and it drops out of both avgs
    // while n_days still counts it. Plain `/` throws DIVIDE_BY_ZERO there
    // under ANSI mode.
    "win_volatility_parkinson" -> ((s, d) => {
      val lnHL = log(try_divide(col("h"), col("l")))
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(max("value").as("h"), min("value").as("l"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(sqrt(avg(lnHL * lnHL) / lit(2.772588722239781)), 4)
            .as("parkinson_sigma"),
          round(avg(lnHL), 4).as("mean_log_range"))
        .orderBy("event_type")
    }),

    // Local-peak detection over the per-type daily series — the
    // alerting primitive behind "traffic spiked on the 14th": an
    // interior day is a peak when it STRICTLY exceeds both neighbours,
    // with prominence = height above the taller neighbour. One bounded
    // daily aggregate, one type-keyed lag/lead window over ≤|days|
    // rows; all-integer comparisons so the flag can't drift between
    // engines. Edge days have no two neighbours and are excluded by
    // definition (a series endpoint is a boundary, not a peak).
    "win_peak_detection" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("prev", lag("n_events", 1).over(w))
        .withColumn("next", lead("n_events", 1).over(w))
        .filter(col("prev").isNotNull && col("next").isNotNull &&
          col("n_events") > col("prev") && col("n_events") > col("next"))
        .select(col("event_type"), col("day"), col("n_events"),
          (col("n_events") - greatest(col("prev"), col("next")))
            .as("prominence"))
        .orderBy("event_type", "day")
    }),

    // Rolling z-score anomaly flag: each event scored against the
    // TRAILING 24 events of its own user (frame ends at −1 so the row
    // never contaminates its own baseline — the leakage mistake this
    // query exists to pin). Both moments come from running-style row
    // frames over ONE (user, ts) sort; rows with a cold-start baseline
    // (n < 12) or a degenerate sd are excluded rather than scored. The
    // z itself is emitted rounded (stats-family precedent) and the >3σ
    // cut uses the unrounded value identically in both engines.
    "win_anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-24, -1)
      Tables.events(s, d)
        .withColumn("mu", avg("value").over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") >= 12 && col("sd") > 0 &&
          abs((col("value") - col("mu")) / col("sd")) > 3)
        .select(col("event_id"), col("user_id"), col("value"),
          round((col("value") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("event_id")
    }),

    // Bollinger breach scan over the hourly mean-value series: per
    // event type, the 20-period trailing mean ± 2σ band (the row's own
    // period INCLUDED — the charting convention, unlike the zscore
    // key's leakage-free −1 frame — and the band only fires once all
    // 20 periods exist). Emits only the breach rows with their band
    // state and side. Shape: one bounded hourly hash aggregate, then
    // one type-keyed window sort — the series axis is hours, so the
    // window input is calendar-bounded regardless of event volume; the
    // raw-event window twin (win_anomaly_zscore) covers the unbounded-
    // input case.
    "win_bollinger_bands" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("hsec")
        .rowsBetween(-19, 0)
      Tables.events(s, d)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hsec"))
        .agg(avg("value").as("v"))
        .withColumn("ma", avg("v").over(w))
        .withColumn("sd", stddev_samp(col("v")).over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("n") === 20 && col("sd") > 0 &&
          abs(col("v") - col("ma")) > lit(2.0) * col("sd"))
        .select(col("event_type"), col("hsec"),
          round(col("v"), 4).as("v"),
          round(col("ma"), 4).as("ma"),
          round(col("sd"), 4).as("sd"),
          when(col("v") > col("ma"), lit("up")).otherwise(lit("down"))
            .as("side"))
        .orderBy("event_type", "hsec")
    }),

    // Stochastic oscillator over the same hourly mean-value series as
    // the Bollinger key: %K = 100·(v − min₂₀)/(max₂₀ − min₂₀) places the
    // current period inside its trailing 20-period range (the
    // range-position momentum view Bollinger's σ-bands can't give on
    // fat-tailed series), %D = 3-period mean of %K is the signal line.
    // Two stacked windows share ONE (event_type, hsec) sort — Catalyst
    // plans a single exchange — and the series axis is calendar-bounded
    // hours, so window input is corpus-size-independent. A flat window
    // (max = min) pins %K to the 50.0 midline on both engines instead
    // of dividing by zero.
    "win_stochastic_osc" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("hsec")
        .rowsBetween(-19, 0)
      val wD = Window.partitionBy("event_type").orderBy("hsec")
        .rowsBetween(-2, 0)
      Tables.events(s, d)
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("hsec"))
        .agg(avg("value").as("v"))
        .withColumn("lo", min("v").over(w))
        .withColumn("hi", max("v").over(w))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("pct_k",
          when(col("hi") > col("lo"),
            lit(100.0) * (col("v") - col("lo")) /
              (col("hi") - col("lo")))
            .otherwise(lit(50.0)))
        .withColumn("nk", count(lit(1)).over(wD))
        .withColumn("pct_d", avg("pct_k").over(wD))
        .filter(col("n") === 20 && col("nk") === 3)
        .select(col("event_type"), col("hsec"),
          round(col("v"), 4).as("v"),
          round(col("pct_k"), 4).as("pct_k"),
          round(col("pct_d"), 4).as("pct_d"))
        .orderBy("event_type", "hsec")
    }),

    // IGNORE NULLS navigation — the carry-forward / carry-backward
    // pair (LOCF and next-observation) every sparse-series pipeline
    // leans on; lag/lead without the modifier step onto the gap rows
    // themselves, which is exactly the bug this key exists to pin.
    // Sparseness is derived deterministically (purchase rows are the
    // observed points, everything else is a gap), then ONE user-keyed
    // window sort feeds both directions: last(ignoreNulls) over the
    // running frame, first(ignoreNulls) over the forward frame — the
    // two Window nodes share the partitioning and sort, so Catalyst
    // plans a single exchange.
    "win_ignore_nulls_family" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wBack = w.rowsBetween(Window.unboundedPreceding, 0)
      val wFwd = w.rowsBetween(0, Window.unboundedFollowing)
      Tables.events(s, d)
        .withColumn("obs",
          when(col("event_type") === "purchase", col("value")))
        .select(col("event_id"), col("user_id"),
          round(col("obs"), 4).as("obs"),
          round(last(col("obs"), ignoreNulls = true).over(wBack), 4)
            .as("locf"),
          round(first(col("obs"), ignoreNulls = true).over(wFwd), 4)
            .as("nocb"))
        .orderBy("event_id")
    }),

    // B23: RANGE frame over epoch seconds — trailing 24 h sum per user.
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc)
        .rangeBetween(-86400L, 0L)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          round(sum("value").over(w), 2).as("trailing_24h"))
        .orderBy("event_id")
    }),

    // Ordered-sequence (funnel) match: first view → first click AFTER a
    // view → first purchase AFTER such a click, per user. Three stacked
    // running-frame window aggregates over the SAME (user_id, ts) sort —
    // one exchange + one sort total, and each stage's condition reads the
    // previous stage's per-row value, so the whole state machine runs
    // without a self-join or collect_list materialization. The final
    // per-user reduce takes the group min of each stage column (running
    // mins are non-increasing, so group-min == full-history value).
    "win_funnel_match" -> ((s, d) => {
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("v_sec",
          min(when(col("event_type") === "view", col("sec"))).over(wRun))
        .withColumn("c_sec",
          min(when(col("event_type") === "click" &&
            col("sec") >= col("v_sec"), col("sec"))).over(wRun))
        .withColumn("p_sec",
          min(when(col("event_type") === "purchase" &&
            col("sec") >= col("c_sec"), col("sec"))).over(wRun))
        .groupBy("user_id")
        .agg(min("v_sec").as("view_sec"),
          min("c_sec").as("click_sec"),
          min("p_sec").as("purchase_sec"))
        .withColumn("stage",
          when(col("purchase_sec").isNotNull, 3L)
            .when(col("click_sec").isNotNull, 2L)
            .when(col("view_sec").isNotNull, 1L).otherwise(0L))
        .orderBy("user_id")
    }),

    // The funnel under HOT-KEY skew: the window spelling above sorts
    // each user's whole history onto one task — a bot user with 10^8
    // events serializes that task (the same failure join_asof_chunked
    // solves for as-of). This twin removes the per-user SORT entirely.
    // Key insight: in the running-frame spelling, `sec >= v_sec` is
    // implied whenever v_sec is non-null (every preceding row has
    // sec <= current sec), so each stage's condition is really "an
    // earlier-in-sort-order event of the previous stage exists" — and
    // with kv = min view (sec, id) key, that is just key > kv. So the
    // funnel is three MAP-SIDE-COMBINABLE hash aggregations (min of a
    // struct key) chained by user-keyed equi-joins: the hot user's rows
    // collapse to one partial per map task before every exchange, the
    // group tables are user-cardinality, and the only skew surface left
    // is the join probe, which AQE skew-split parallelizes (a sort
    // cannot be split; a hash probe can). Output is identical to
    // win_funnel_match — same oracle, plus an equality spec.
    "win_funnel_skewproof" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("sec"))
      val key = struct(col("sec"), col("event_id"))
      val users = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "view", key)).as("kv"))
      // first qualifying click = lex-min click key strictly after the
      // first view key (kv is the MIN view key, so "exists a view before
      // this click" <=> click.key > kv)
      val clicks = ev.filter(col("event_type") === "click")
        .join(users, Seq("user_id"))
        .filter(col("kv").isNotNull && key > col("kv"))
        .groupBy("user_id").agg(min(key).as("kc"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .join(clicks, Seq("user_id"))
        .filter(key > col("kc"))
        .groupBy("user_id").agg(min(col("sec")).as("purchase_sec"))
      users
        .join(clicks, Seq("user_id"), "left")
        .join(purchases, Seq("user_id"), "left")
        .select(col("user_id"),
          col("kv.sec").as("view_sec"),
          col("kc.sec").as("click_sec"),
          col("purchase_sec"),
          when(col("purchase_sec").isNotNull, 3L)
            .when(col("kc").isNotNull, 2L)
            .when(col("kv").isNotNull, 1L).otherwise(0L).as("stage"))
        .orderBy("user_id")
    }),

    // Decile bucketing: ntile(10) over a UNIQUE total order (price,
    // then key) — ntile without a deterministic tie-break assigns
    // boundary rows engine-arbitrarily, so the unique suffix is the
    // correctness requirement, not decoration. One keyed window
    // exchange; the standard feature-binning step before quantile
    // normalization or per-decile sampling in a training pipeline.
    "win_ntile_decile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), ntile(10).over(w).as("decile"))
        .orderBy("o_orderkey")
    }),

    // Pareto 80/20 concentration: how many top customers carry 80% of
    // revenue — the one-row concentration headline (the Lorenz/Gini
    // keys report the whole curve; this is the number executives quote).
    // Shape: orders fold to per-customer spend (the only corpus-sized
    // exchange), the running-share window then runs over CUSTOMER-
    // cardinality rows. The >= 0.8 crossing is found with a count of
    // rows strictly below the threshold + 1 — integer-exact, no float
    // boundary can flip it between engines because the same doubles
    // feed the same comparison. Global window over customers is
    // single-partition by construction — acceptable because its input
    // is the per-customer aggregate, not orders; at extreme customer
    // counts the same statistic comes from a quantile over spend.
    "win_pareto_8020" -> ((s, d) => {
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum("o_totalprice").as("spend"))
      val w = Window.orderBy(col("spend").desc, col("o_custkey").asc) // corpus-axis: customers (fallback above)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spend
        .withColumn("cum", sum("spend").over(w))
        .withColumn("tot", sum("spend").over(
          Window.partitionBy().rowsBetween( // corpus-axis: customers
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .agg(
          (sum(when(col("cum") < col("tot") * 0.8, 1L).otherwise(0L)) + 1L)
            .as("n_top_customers"),
          count(lit(1)).as("n_customers"),
          round(
            (sum(when(col("cum") < col("tot") * 0.8, 1L).otherwise(0L))
              + 1L).cast("double") / count(lit(1)), 4)
            .as("share_of_customers"))
    }),

    // The SCALE twin of win_pareto_8020: the 80%-spend crossing point
    // WITHOUT the global single-partition window. Two-level search:
    // (1) bucket every customer by ~percentile FENCES (one
    // percentile_approx aggregate broadcast as a 1-row frame, bucket
    // assignment map-side), (2) fold the ≤NF-row per-bucket
    // (sum, count) summary on the driver to locate the crossing
    // bucket B plus the exact spend/count above it, (3) resolve the
    // crossing INSIDE B with a window PARTITIONED on the bucket —
    // B holds ~N/NF rows, so the only sorted partition is
    // fence-bounded, never the full customer set (recurse the fence
    // split for a tighter bound at extreme N). Output is the same
    // (n_top, n, share) triple as the exact key; FencesSpec pins
    // agreement (±1 at a float-boundary tie) and the no-global-window
    // plan shape.
    "win_pareto_8020_fences" -> ((s, d) => {
      val nf = 100
      val spend = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum("o_totalprice").as("spend"))
      val probs = array((1 until nf).map(i =>
        lit(i.toDouble / nf)): _*)
      val fences = spend.agg(
        percentile_approx(col("spend"), probs, lit(10000)).as("qs"))
      val bucketed = spend.crossJoin(broadcast(fences))
        .withColumn("b", aggregate(col("qs"), lit(0),
          (acc, x) => acc + when(col("spend") >= x, 1).otherwise(0)))
        .drop("qs")
        .localCheckpoint(true) // one orders fold serves summary + resolve
      // bounded driver fold: NF rows of (bucket, sum, count)
      val summary = bucketed.groupBy("b")
        .agg(sum("spend").as("bs"), count(lit(1)).as("bc"))
        .collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
        .sortBy(-_._1) // richest bucket first
      val total = summary.map(_._2).sum
      val target = total * 0.8
      var cumAbove = 0.0; var countAbove = 0L; var crossing = -1
      summary.foreach { case (b, bs, bc) =>
        if (crossing < 0) {
          if (cumAbove + bs >= target) crossing = b
          else { cumAbove += bs; countAbove += bc }
        }
      }
      val wB = Window.partitionBy("b")
        .orderBy(col("spend").desc, col("o_custkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nTop = bucketed.filter(col("b") === crossing)
        .withColumn("cum", sum("spend").over(wB))
        .agg((sum(when(lit(cumAbove) + col("cum") < lit(target), 1L)
          .otherwise(0L)) + lit(1L) + lit(countAbove))
          .as("n_top_customers"))
      val nAll = bucketed.agg(count(lit(1)).as("n_customers"))
      nTop.crossJoin(nAll)
        .select(col("n_top_customers"), col("n_customers"),
          round(col("n_top_customers").cast("double") /
            col("n_customers"), 4).as("share_of_customers"))
    }),

    // Inter-arrival gap profile per event type: median and p90 of the
    // second-granular gap between consecutive events of a type — the
    // traffic-shape diagnostic (bursty vs steady) behind rate-limit and
    // capacity decisions. One type-keyed window pass derives gaps, one
    // bounded aggregate (|event types| rows) folds exact percentiles.
    "win_inter_event_gaps" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) -
            lag(unix_timestamp(col("ts")), 1).over(w)).as("gap"))
        .filter(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5)"), 4).as("p50_gap_sec"),
          round(expr("percentile(gap, 0.9)"), 4).as("p90_gap_sec"),
          max("gap").as("max_gap_sec"))
        .orderBy("event_type")
    }),

    // Running-peak drawdown — the canonical "how far below the best so
    // far" series metric (risk in finance, regression tracking in eval
    // dashboards). Per series: a cumulative-max window in chronological
    // order, drawdown = peak − current, then one hash agg folds the
    // worst drawdown and the peak. One keyed window exchange; max() is
    // pure selection so every compared value is bit-identical across
    // engines and the strict window math oracles exactly.
    "win_drawdown" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          col("value"))
        .withColumn("run_peak", max("value").over(w))
        .withColumn("dd", col("run_peak") - col("value"))
        .groupBy("event_type")
        .agg(round(max("dd"), 4).as("max_drawdown"),
          round(max("value"), 4).as("peak"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    }),

    // One-sided CUSUM change detection per user (Page 1954): the drift
    // monitor for "has this entity's metric level shifted upward". The
    // textbook recurrence s_i = max(0, s_{i-1} + (x_i − target − slack))
    // looks sequential, but WITHOUT alarm-reset it has the closed form
    // s_i = P_i − min(0, min_{j≤i} P_j) over the deviation prefix sums P
    // — two ordered-window accumulations (running sum + running min), NO
    // per-key fold, no collect_list: the whole thing is one keyed
    // exchange and stays inside Spark's window codegen whatever one
    // user's history length is (contrast agg_ewma_ordered, whose affine
    // fold genuinely needs the series). Running sums evaluate in the
    // same (ts, event_id) order in both engines → identical doubles.
    "win_cusum_changepoint" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value") - lit(60.0)).as("dev"))
        .withColumn("p", sum("dev").over(byUser))
        .withColumn("s",
          col("p") - least(lit(0.0), min("p").over(byUser)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(max("s"), 4).as("max_cusum"),
          sum(when(col("s") > 100.0, 1L).otherwise(0L)).as("n_alarm"),
          min(when(col("s") > 100.0, unix_timestamp(col("ts"))))
            .as("first_alarm_ts"))
        .orderBy("user_id")
    }),

    // Rolling autocorrelation — lag-1 Pearson correlation of each user's
    // value series over a trailing 20-row frame: the standard "is this
    // series trending or mean-reverting right now" monitor. Two window
    // passes over ONE keyed exchange (lag reuses the sort the corr
    // frame needs — a single hash-partition by user, a single sort);
    // corr over a bounded 20-row ROWS frame costs O(frame) per row, so
    // the whole key stays O(rows × 20) however long one user's history
    // grows — no per-key collect, no unbounded-following frame (those
    // re-aggregate O(partition²), see resample_interpolate). Rows with
    // fewer than 10 lagged pairs in frame are suppressed (corr is noise
    // there and near-degenerate variances would risk cross-engine
    // rounding flips).
    "win_rolling_corr" -> ((s, d) => {
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val roll = ord.rowsBetween(-19, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          lag(col("value"), 1).over(ord).as("pv"))
        .select(col("event_id"), col("user_id"),
          // + 0.0 normalizes IEEE -0.0 → +0.0: a tiny negative corr that
          // rounds to zero lands on -0.0 in DuckDB but +0.0 in Spark —
          // numerically equal, byte-hash different. Same idiom oracle-side.
          (round(corr(col("value"), col("pv")).over(roll), 4) + lit(0.0))
            .as("autocorr"),
          count(col("pv")).over(roll).as("n_pairs"))
        .filter(col("n_pairs") >= 10)
        .orderBy("event_id")
    }),

    // Longest consecutive-day activity streak per user — the retention
    // headline number. The island trick WITHOUT lag: for the distinct
    // (user, day) set sorted per user, day − row_number is CONSTANT
    // within a consecutive run, so one keyed window + one aggregate
    // finds every streak; max per user. Exchanges carry (user, day)
    // deduped rows only.
    "win_streak_longest" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    // RSI(14), simple-average variant: per-user momentum oscillator —
    // trailing mean gain vs mean loss over 14 deltas, RSI = 100 −
    // 100/(1+RS). One lag + two frame aggregates reusing ONE keyed
    // exchange and sort (same single-sort discipline as
    // win_rolling_corr). The all-gain frame (mean loss exactly 0) hits
    // the RS pole — pinned to the conventional 100.0 by an explicit
    // CASE so both engines agree instead of each choosing an
    // inf/NaN behavior. Cold-start rows (<14 deltas) suppressed.
    "win_rsi" -> ((s, d) => {
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val frame = ord.rowsBetween(-13, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("value") - lag(col("value"), 1).over(ord)).as("delta"))
        .select(col("event_id"), col("user_id"),
          // NULL passthrough on the first row's missing delta: Spark's
          // greatest() SKIPS nulls (greatest(NULL, 0) = 0) and would
          // count the non-existent delta as a zero gain — and engines
          // disagree on greatest-with-NULL, so spell the cases out
          avg(when(col("delta").isNull, lit(null))
            .when(col("delta") > 0, col("delta")).otherwise(lit(0.0)))
            .over(frame).as("ag"),
          avg(when(col("delta").isNull, lit(null))
            .when(col("delta") < 0, -col("delta")).otherwise(lit(0.0)))
            .over(frame).as("al"),
          count(col("delta")).over(frame).as("n_deltas"))
        .filter(col("n_deltas") >= 14)
        .select(col("event_id"), col("user_id"),
          round(when(col("al") === 0.0, lit(100.0))
            .otherwise(lit(100.0) -
              lit(100.0) / (lit(1.0) + col("ag") / col("al"))), 4)
            .as("rsi"))
        .orderBy("event_id")
    }),

    // Time-weighted average (TWAP): each observation holds until the
    // next one, so its weight is the seconds until the user's next
    // event that day — the metric that makes irregular samples
    // comparable (a value held 50 minutes counts 50× one held a
    // minute). One lead() + one weighted aggregate on a single
    // user-keyed exchange; the day's last observation has no holding
    // interval and drops out of the weighting (both engines, by the
    // same NULL-propagating lead). No state beyond the frame sort.
    "win_twap" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("sec").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("value"),
          unix_timestamp(col("ts")).as("sec"))
        .withColumn("dt", lead(col("sec"), 1).over(w) - col("sec"))
        .groupBy("user_id", "day")
        .agg(
          round(sum(col("value") * col("dt")) / sum(col("dt")), 4)
            .as("twap"),
          count(col("dt")).as("n_intervals"),
          sum(col("dt")).as("w"))
        // zero total holding time (all events in the same second) would
        // make twap 0/0 — NaN handling diverges across engines, drop it
        .filter(col("n_intervals") >= 1 && col("w") > 0)
        .select("user_id", "day", "twap", "n_intervals")
        .orderBy("user_id", "day")
    }),

    // Rolling EXACT median over a trailing 21-row frame — the robust
    // location estimate a spike-tolerant monitor wants where the rolling
    // mean (win_centered_smooth) chases outliers. The exact `percentile`
    // aggregate runs over the bounded ROWS frame: O(frame log frame) per
    // row on ONE keyed exchange + sort — bounded and partition-length-
    // independent, unlike an unbounded frame. Cold-start rows (frame
    // < 11) are suppressed: a median of 3 points is noise, and tiny
    // frames are where cross-engine interpolation rounding could flip.
    // Both engines compute the same type-7 linear interpolation on the
    // same 21 doubles, pinned by round(4) + the spec's driver recompute.
    "win_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-20, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          round(expr("percentile(value, 0.5)").over(w), 4)
            .as("med"),
          count(lit(1)).over(w).as("n_win"))
        .filter(col("n_win") >= 11)
        .orderBy("event_id")
    }),

    // Centered moving average — the bounded-FOLLOWING frame done right:
    // ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING costs O(frame) per row
    // exactly like a trailing frame (Spark's sliding frame buffers the
    // 5-row window); the trap this key documents by contrast is
    // UNBOUNDED FOLLOWING, which re-aggregates the remaining partition
    // per row — O(partition²), the reason resample_interpolate derives
    // its next-neighbor from a descending running frame instead. One
    // keyed exchange + sort; n_win exposes the shrunken edge frames so
    // the oracle's comparison covers them explicitly.
    "win_centered_smooth" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, 2)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          round(avg("value").over(w), 4).as("smooth"),
          count(lit(1)).over(w).as("n_win"))
        .orderBy("event_id")
    }),

    // Calendar-interval RANGE frame — the time-typed sibling of
    // win_range_frame's numeric-seconds spelling: the frame bound is an
    // INTERVAL over the raw timestamp order, so the window reasons in
    // calendar time without a unix_timestamp projection. RANGE frames
    // are tie-INCLUSIVE (all rows at the boundary instant join the
    // frame), which makes the result deterministic even under timestamp
    // ties — the property a ROWS frame would lose. Interval frame
    // bounds only parse in SQL (the Scala rangeBetween API is
    // numeric-only), hence the spark.sql spelling; one type-keyed
    // window exchange either way.
    "win_range_interval_frame" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("graft_rif_events")
      s.sql(
        """SELECT event_id, event_type,
          |       round(sum(value) OVER (PARTITION BY event_type
          |                              ORDER BY ts
          |                              RANGE BETWEEN INTERVAL 1 HOUR
          |                                PRECEDING AND CURRENT ROW), 2)
          |         AS hr_sum,
          |       count(*) OVER (PARTITION BY event_type
          |                      ORDER BY ts
          |                      RANGE BETWEEN INTERVAL 1 HOUR
          |                        PRECEDING AND CURRENT ROW) AS hr_n
          |FROM graft_rif_events ORDER BY event_id""".stripMargin)
    }),

    // Interval union (merge overlapping spans) — the scheduling/uptime
    // primitive behind "total active time": each event opens a 30-min
    // interval; overlapping intervals per user coalesce into maximal
    // spans. The classic windowed linear scan: a span starts where the
    // interval's start clears the running max of all PRECEDING ends
    // (one per-user ordered pass, O(1) state/row), span ids come from
    // the running sum of those start flags, then two keyed aggregates
    // fold spans and users. Exchange keys are user-keyed throughout —
    // no interval self-join (the naive overlap pairing is quadratic in
    // the per-user event count). Seconds are unix-truncated on both
    // engines; (ts, event_id) ordering makes the scan deterministic.
    "win_interval_merge" -> ((s, d) => {
      val dur = 1800L
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("st").asc, col("event_id").asc)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("st"))
        .withColumn("en", col("st") + dur)
      ev.withColumn("pmax",
          max("en").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("is_new",
          (col("pmax").isNull || col("st") >= col("pmax")).cast("long"))
        .withColumn("span_id",
          sum("is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "span_id")
        .agg(min("st").as("s0"), max("en").as("e1"),
          count(lit(1)).as("n_ev"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e1") - col("s0")).as("covered_sec"),
          max(col("e1") - col("s0")).as("longest_sec"),
          max("n_ev").as("max_span_events"))
        .orderBy("user_id")
    }),
  )

  /** One oracle, two spellings: the window state machine
    * (`win_funnel_match`) and the skew-proof aggregation twin
    * (`win_funnel_skewproof`) contract to the same output. */
  private val funnelOracle =
    """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), v AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN sec END)
        |         OVER w AS v_sec
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), c AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND sec >= v_sec
        |                     THEN sec END) OVER w AS c_sec
        |  FROM v
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), p AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND sec >= c_sec
        |                     THEN sec END) OVER w AS p_sec
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id,
        |       min(v_sec) AS view_sec,
        |       min(c_sec) AS click_sec,
        |       min(p_sec) AS purchase_sec,
        |       CAST(CASE WHEN min(p_sec) IS NOT NULL THEN 3
        |                 WHEN min(c_sec) IS NOT NULL THEN 2
        |                 WHEN min(v_sec) IS NOT NULL THEN 1
        |                 ELSE 0 END AS BIGINT) AS stage
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same bounded all-pairs fold, continuity correction, and
    // quantile_cont Sen median
    "win_mann_kendall_trend" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), pairs AS (
        |  SELECT CAST(CASE WHEN b.n > a.n THEN 1
        |                   WHEN b.n < a.n THEN -1 ELSE 0 END AS BIGINT)
        |           AS sgn,
        |         CAST(b.n - a.n AS DOUBLE) /
        |           date_diff('day', a.day, b.day) AS slope
        |  FROM daily a JOIN daily b ON a.day < b.day
        |), m AS (
        |  SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
        |         quantile_cont(slope, 0.5) AS sen,
        |         CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
        |), z AS (
        |  SELECT n_days, n_pairs, s_stat,
        |         CASE WHEN s_stat > 0 THEN (s_stat - 1) /
        |                sqrt(CAST(n_days AS DOUBLE) * (n_days - 1) *
        |                     (2.0 * n_days + 5) / 18.0)
        |              WHEN s_stat < 0 THEN (s_stat + 1) /
        |                sqrt(CAST(n_days AS DOUBLE) * (n_days - 1) *
        |                     (2.0 * n_days + 5) / 18.0)
        |              ELSE CAST(0.0 AS DOUBLE) END AS zr,
        |         sen
        |  FROM m, nd
        |)
        |SELECT n_days, n_pairs, s_stat,
        |       round(zr, 4) + 0.0 AS z_stat,
        |       round(sen, 4) + 0.0 AS sen_slope,
        |       CASE WHEN round(zr, 4) + 0.0 >= 1.959963985
        |              THEN 'increasing'
        |            WHEN round(zr, 4) + 0.0 <= -1.959963985
        |              THEN 'decreasing'
        |            ELSE 'none' END AS trend
        |FROM z""".stripMargin,
    // same daily bars and shared 4·ln2 literal
    "win_volatility_parkinson" ->
      """WITH bars AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         max(value) AS h, min(value) AS l
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       round(sqrt(avg(ln(h / l) * ln(h / l)) /
        |         2.772588722239781), 4) AS parkinson_sigma,
        |       round(avg(ln(h / l)), 4) AS mean_log_range
        |FROM bars GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // same strict-neighbour rule and taller-neighbour prominence
    "win_peak_detection" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2
        |), n AS (
        |  SELECT *,
        |         lag(n_events) OVER (PARTITION BY event_type
        |           ORDER BY day) AS prev,
        |         lead(n_events) OVER (PARTITION BY event_type
        |           ORDER BY day) AS next
        |  FROM daily
        |)
        |SELECT event_type, day, n_events,
        |       CAST(n_events - greatest(prev, next) AS BIGINT)
        |         AS prominence
        |FROM n
        |WHERE prev IS NOT NULL AND next IS NOT NULL
        |  AND n_events > prev AND n_events > next
        |ORDER BY event_type, day""".stripMargin,
    // same day-index arithmetic and day − row_number island key
    "win_streak_longest" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id,
        |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS day
        |  FROM events
        |), g AS (
        |  SELECT user_id,
        |         day - row_number() OVER (PARTITION BY user_id
        |                                  ORDER BY day) AS grp
        |  FROM du
        |), runs AS (
        |  SELECT user_id, grp, count(*) AS len
        |  FROM g GROUP BY user_id, grp
        |)
        |SELECT user_id, max(len) AS longest_streak,
        |       count(*) AS n_streaks
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical delta/frame math; the avg-over-frame of greatest() runs
    // on the same doubles, and the RS pole is CASEd to 100.0 both sides
    "win_rsi" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts,
        |         value - lag(value, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC) AS delta
        |  FROM events
        |), f AS (
        |  SELECT event_id, user_id,
        |         avg(CASE WHEN delta IS NULL THEN NULL
        |                  WHEN delta > 0 THEN delta ELSE 0.0 END)
        |           OVER w AS ag,
        |         avg(CASE WHEN delta IS NULL THEN NULL
        |                  WHEN delta < 0 THEN -delta ELSE 0.0 END)
        |           OVER w AS al,
        |         count(delta) OVER w AS n_deltas
        |  FROM l
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id,
        |       round(CASE WHEN al = 0.0 THEN 100.0
        |                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 4)
        |         AS rsi
        |FROM f WHERE n_deltas >= 14
        |ORDER BY event_id""".stripMargin,
    // identical lead-based holding intervals; epoch-floor seconds agree
    "win_twap" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), l AS (
        |  SELECT user_id, day, value,
        |         lead(sec, 1) OVER (PARTITION BY user_id, day
        |           ORDER BY sec ASC, event_id ASC) - sec AS dt
        |  FROM e
        |)
        |SELECT user_id, day,
        |       round(sum(value * dt) / sum(dt), 4) AS twap,
        |       count(dt) AS n_intervals
        |FROM l GROUP BY user_id, day
        |HAVING count(dt) >= 1 AND sum(dt) > 0
        |ORDER BY user_id, day""".stripMargin,
    // quantile_cont == Spark's exact `percentile` (both type-7 linear
    // interpolation over the sorted frame)
    "win_rolling_median" ->
      """SELECT event_id, user_id,
        |       round(quantile_cont(value, 0.5) OVER w, 4) AS med,
        |       count(*) OVER w AS n_win
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
        |QUALIFY count(*) OVER w >= 11
        |ORDER BY event_id""".stripMargin,
    "win_rolling_corr" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts, value,
        |         lag(value, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC) AS pv
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |       round(corr(value, pv) OVER w, 4) + 0.0 AS autocorr,
        |       count(pv) OVER w AS n_pairs
        |FROM l
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |QUALIFY count(pv) OVER w >= 10
        |ORDER BY event_id""".stripMargin,
    "win_centered_smooth" ->
      """SELECT event_id, user_id,
        |       round(avg(value) OVER w, 4) AS smooth,
        |       count(*) OVER w AS n_win
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "win_gaps_islands" ->
      """WITH h AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(floor(epoch(date_trunc('hour', ts))) / 3600.0)
        |              AS BIGINT) AS hidx
        |  FROM events
        |), g AS (
        |  SELECT user_id, hidx,
        |         hidx - row_number() OVER (PARTITION BY user_id
        |           ORDER BY hidx ASC) AS grp
        |  FROM h
        |)
        |SELECT user_id, min(hidx) * 3600 AS start_sec,
        |       max(hidx) * 3600 AS end_sec, count(*) AS n_hours
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_sec""".stripMargin,
    "win_anomaly_zscore" ->
      """WITH z AS (
        |  SELECT event_id, user_id, value,
        |         avg(value) OVER w AS mu,
        |         stddev_samp(value) OVER w AS sd,
        |         count(*) OVER w AS n
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, value,
        |       round((value - mu) / sd, 4) AS z
        |FROM z
        |WHERE n >= 12 AND sd > 0 AND abs((value - mu) / sd) > 3
        |ORDER BY event_id""".stripMargin,
    "win_ignore_nulls_family" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |         CASE WHEN event_type = 'purchase' THEN value END AS obs
        |  FROM events
        |)
        |SELECT event_id, user_id, round(obs, 4) AS obs,
        |       round(last_value(obs IGNORE NULLS) OVER wb, 4) AS locf,
        |       round(first_value(obs IGNORE NULLS) OVER wf, 4) AS nocb
        |FROM e
        |WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       wf AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "win_bollinger_bands" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |           AS hsec,
        |         avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type, hsec, v,
        |         avg(v) OVER w AS ma,
        |         stddev_samp(v) OVER w AS sd,
        |         count(*) OVER w AS n
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hsec
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, hsec, round(v, 4) AS v, round(ma, 4) AS ma,
        |       round(sd, 4) AS sd,
        |       CASE WHEN v > ma THEN 'up' ELSE 'down' END AS side
        |FROM b
        |WHERE n = 20 AND sd > 0
        |  AND abs(v - ma) > CAST(2.0 AS DOUBLE) * sd
        |ORDER BY event_type, hsec""".stripMargin,
    // same hourly series, same stacked windows; the flat-window midline
    // pin (50.0) keeps both engines off the 0/0 division
    "win_stochastic_osc" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |           AS hsec,
        |         avg(value) AS v
        |  FROM events GROUP BY 1, 2
        |), k AS (
        |  SELECT event_type, hsec, v,
        |         min(v) OVER w AS lo,
        |         max(v) OVER w AS hi,
        |         count(*) OVER w AS n
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hsec
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), kk AS (
        |  SELECT event_type, hsec, v, n,
        |         CASE WHEN hi > lo
        |              THEN 100.0 * (v - lo) / (hi - lo)
        |              ELSE 50.0 END AS pct_k
        |  FROM k
        |), dd AS (
        |  SELECT event_type, hsec, v, n, pct_k,
        |         avg(pct_k) OVER wd AS pct_d,
        |         count(*) OVER wd AS nk
        |  FROM kk
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY hsec
        |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, hsec, round(v, 4) AS v,
        |       round(pct_k, 4) AS pct_k, round(pct_d, 4) AS pct_d
        |FROM dd WHERE n = 20 AND nk = 3
        |ORDER BY event_type, hsec""".stripMargin,
    "win_funnel_match" -> funnelOracle,
    "win_funnel_skewproof" -> funnelOracle,
    "win_rank_topk_pergrp" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "win_lag_lead" ->
      """SELECT event_id, user_id, value,
        |       lag(value, 1) OVER w AS prev_value,
        |       lead(value, 1) OVER w AS next_value,
        |       ntile(4) OVER w AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY event_id""".stripMargin,
    "win_running_rows" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_rank_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       round(percent_rank() OVER w, 6) AS prank,
        |       round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,
    "win_custom_udaf" ->
      """SELECT o_orderkey, o_orderpriority,
        |       round(exp(avg(ln(o_totalprice)) OVER w), 2) AS running_geo
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "win_first_last" ->
      """SELECT event_id, user_id,
        |       first_value(value) OVER w AS first_val,
        |       last_value(value) OVER w AS last_val,
        |       nth_value(value, 2) OVER w AS second_val
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "win_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, ts,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), l AS (
        |  SELECT *, lag(sec, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC) AS prev_sec
        |  FROM e
        |), b AS (
        |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 21600
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM l
        |), g AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |           ORDER BY ts ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS sess_id
        |  FROM b
        |)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |       min(sec) AS start_sec, max(sec) AS end_sec,
        |       max(sec) - min(sec) AS duration_sec,
        |       round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "win_range_frame" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id
        |         ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC
        |         RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW), 2)
        |         AS trailing_24h
        |FROM events ORDER BY event_id""".stripMargin,
    "win_ntile_decile" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice ASC, o_orderkey ASC) AS INT)
        |         AS decile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // same fold → running-share window → integer crossing count
    "win_pareto_8020" ->
      """WITH s AS (
        |  SELECT o_custkey, sum(o_totalprice) AS spend
        |  FROM orders GROUP BY o_custkey
        |), r AS (
        |  SELECT spend,
        |         sum(spend) OVER (ORDER BY spend DESC, o_custkey ASC
        |           ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(spend) OVER () AS tot
        |  FROM s
        |)
        |SELECT CAST(count_if(cum < tot * 0.8) + 1 AS BIGINT)
        |         AS n_top_customers,
        |       count(*) AS n_customers,
        |       round(CAST(count_if(cum < tot * 0.8) + 1 AS DOUBLE)
        |             / count(*), 4) AS share_of_customers
        |FROM r""".stripMargin,
    // identical lag-gap derivation; quantile_cont == Spark's exact
    // percentile (both type-7)
    "win_inter_event_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) -
        |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts ASC, event_id ASC)
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |       round(quantile_cont(gap, 0.5), 4) AS p50_gap_sec,
        |       round(quantile_cont(gap, 0.9), 4) AS p90_gap_sec,
        |       max(gap) AS max_gap_sec
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "win_drawdown" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         max(value) OVER (PARTITION BY event_type
        |           ORDER BY ts ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS run_peak
        |  FROM events
        |)
        |SELECT event_type,
        |       round(max(run_peak - value), 4) AS max_drawdown,
        |       round(max(value), 4) AS peak, count(*) AS n_events
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same (ts, event_id)-ordered running accumulations in both engines
    // → the prefix sums are bit-identical doubles; round(4) is belt
    "win_cusum_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value - 60.0 AS dev FROM events
        |), p AS (
        |  SELECT user_id, event_id, ts, sum(dev) OVER w AS p
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), sline AS (
        |  SELECT user_id, ts, p - least(0.0, min(p) OVER w2) AS s
        |  FROM p
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, count(*) AS n_events,
        |       round(max(s), 4) AS max_cusum,
        |       CAST(sum(CASE WHEN s > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_alarm,
        |       min(CASE WHEN s > 100.0
        |           THEN CAST(floor(epoch(ts)) AS BIGINT) END)
        |         AS first_alarm_ts
        |FROM sline GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same tie-inclusive interval frame over the same timestamp order
    "win_range_interval_frame" ->
      """SELECT event_id, event_type,
        |       round(sum(value) OVER (PARTITION BY event_type
        |                              ORDER BY ts
        |                              RANGE BETWEEN INTERVAL 1 HOUR
        |                                PRECEDING AND CURRENT ROW), 2)
        |         AS hr_sum,
        |       CAST(count(*) OVER (PARTITION BY event_type
        |                           ORDER BY ts
        |                           RANGE BETWEEN INTERVAL 1 HOUR
        |                             PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS hr_n
        |FROM events ORDER BY event_id""".stripMargin,
    // same truncated seconds, same running-max span cut, same folds
    "win_interval_merge" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |         CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS en
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, st, en,
        |         max(en) OVER (PARTITION BY user_id
        |                       ORDER BY st ASC, event_id ASC
        |                       ROWS BETWEEN UNBOUNDED PRECEDING
        |                                AND 1 PRECEDING) AS pmax
        |  FROM ev
        |), f AS (
        |  SELECT user_id, event_id, st, en,
        |         CASE WHEN pmax IS NULL OR st >= pmax
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM m
        |), sgl AS (
        |  SELECT user_id, st, en,
        |         sum(is_new) OVER (PARTITION BY user_id
        |                           ORDER BY st ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING
        |                                    AND CURRENT ROW) AS span_id
        |  FROM f
        |), sp AS (
        |  SELECT user_id, span_id, min(st) AS s0, max(en) AS e1,
        |         count(*) AS n_ev
        |  FROM sgl GROUP BY user_id, span_id
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(e1 - s0) AS BIGINT) AS covered_sec,
        |       CAST(max(e1 - s0) AS BIGINT) AS longest_sec,
        |       CAST(max(n_ev) AS BIGINT) AS max_span_events
        |FROM sp GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
