package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode, Trigger}

import graft.Tables

/** Structured Streaming operators — SURVEY.md §2.B rows B35–B39.
  *
  * `stream_tumbling`, `stream_sliding`, `stream_session` and
  * `stream_stateful_dedup` run a REAL streaming query (file source →
  * watermark/window/dedup → memory sink, AvailableNow trigger) and return
  * the materialized sink — so the verify gate exercises the actual
  * streaming engine, with a batch-equivalent DuckDB oracle. The
  * out-of-order / late-data scenarios live in the ScalaTest specs, where
  * MemoryStream gives control over batch boundaries.
  * `stream_flatmapgroups` covers arbitrary stateful processing —
  * sessionization via flatMapGroupsWithState, which Spark also executes on
  * batch Datasets.
  *
  * Scale notes: all aggregations are keyed (window/event-type/user), so
  * state is partitioned across executors by the shuffle; watermarks bound
  * state size — nothing here accumulates unbounded driver-side state.
  *
  * Output modes: the window/session queries run in APPEND mode — the
  * production configuration, where the watermark evicts a window from the
  * state store the moment it emits. A bounded replay needs one extra
  * ingredient for that to cover ALL windows: the staged `wm` source ends
  * with a single sentinel row 2 h past the real max event time, which
  * advances the watermark past every real window's end before the query
  * terminates (the sentinel aggregates under its own unique keys and those
  * groups are dropped batch-side after the run). The running-count
  * queries (static join, foreachBatch) aggregate without an event-time
  * window, which append mode cannot express — they run in UPDATE mode and
  * the caller folds the emitted per-batch updates with max(cnt), valid
  * because a count only grows.
  */
object StreamingOps {

  /** Sentinel event_id used to close the watermark on bounded replays. */
  private val WmSentinelId = -1L

  /** Events re-materialized with a normalized micros `ts` (the source
    * parquet's ts encoding drifts between testdata generations —
    * Tables.events dispatches on it; staging through the loader keeps the
    * streaming reader on one stable schema regardless).
    * Variants: "one" (as-is), "dup" (doubled, for the dedup
    * query), "wm" (with the watermark-closing sentinel row appended).
    * Coalesced to a few files so a benched run pays for the streaming
    * engine, not per-file listing/task overhead.
    */
  // private[graft] so specs that drive a manual twin over the same staged
  // source resolve the path HERE — a copied literal in a test rotted once
  // already (the v2→v3 bump left StreamingMoreSpec reading a dir that no
  // longer existed).
  private[graft] def stage(s: SparkSession, d: String, variant: String)
      : String = {
    // v3: wm8 layout hardened (atomic multi-slice staging + explicit
    // mtimes) — bump re-stages every variant once rather than trusting
    // v2 dirs whose slice mtimes may tie on coarse-granularity systems
    val tmp = graft.Staging.dir(s"graft_stream_events_v3_$variant", d)
    // idempotent per (sfDir, variant): the staged copy is deterministic,
    // so re-staging on every query run would only burn IO
    if (!graft.Staging.isStaged(tmp)) {
      val ev = Tables.events(s, d)
      val out = variant match {
        case "dup" => ev.unionAll(ev)
        case "wm" | "wm8" =>
          // one row, 2 h past max(ts): > any window end + watermark delay
          ev.unionByName(wmSentinel(ev, WmSentinelId))
        case "wma" | "wmb" =>
          // disjoint event-type slices for the multi-source union query;
          // EACH slice carries its own sentinel because the query-global
          // watermark under the default `min` multipleWatermarkPolicy is
          // the minimum over sources — a sentinel in only one source
          // would leave the other source's watermark at its real max ts
          // and hold back every window in the last 10 minutes
          val types =
            if (variant == "wma") Seq("click", "view")
            else Seq("purchase", "signup", "error")
          val id = if (variant == "wma") WmSentinelId else WmSentinelId - 1
          // sentinel ts from max over ALL events, not the slice: both
          // source watermarks must clear the same global window set
          ev.filter(col("event_type").isin(types: _*))
            .unionByName(wmSentinel(ev, id))
        case _ => ev
      }
      if (variant == "wm8") {
        // The throttled-backfill source must be EVENT-TIME-ORDERED files:
        // the file source feeds micro-batches in modification-time order,
        // and once a batch advances the watermark, any later file carrying
        // older events gets its rows dropped as late — a hash-scattered
        // layout silently loses data under maxFilesPerTrigger (observed:
        // repartition(8) dropped every pre-watermark row of later files).
        // This is the real operational rule for watermark-correct
        // reprocessing, so the staging enforces it: 8 contiguous time
        // slices written SEQUENTIALLY (one file each, strictly ascending
        // mtime; the sentinel rides the last slice). At 100 TB the same
        // rule holds structurally: backfill partitions registered in
        // event-time order, e.g. dt=-partitioned paths fed oldest-first.
        import org.apache.spark.sql.Row
        val Row(tMin: java.sql.Timestamp, tMax: java.sql.Timestamp) =
          ev.agg(min(col("ts")), max(col("ts"))).head()
        val span = math.max(1L, tMax.getTime - tMin.getTime + 1)
        val slices = (0 until 8).map { i =>
          val lo = tMin.getTime + span * i / 8
          val hi = tMin.getTime + span * (i + 1) / 8
          out.filter(
            (unix_millis(col("ts")) >= lo &&
              (unix_millis(col("ts")) < hi || lit(i == 7))))
        }
        // Atomic multi-slice staging (r10 ADVICE): the old
        // overwrite-then-append layout committed _SUCCESS with slice 0,
        // so a crash before the last append left a PARTIAL staging that
        // isStaged accepted — and the sentinel rides slice 7, so the
        // replay would then silently drop data or emit nothing. Now each
        // slice commits into a scratch dir and its part file is RENAMED
        // into place; _SUCCESS is written manually, last. mtimes are set
        // EXPLICITLY 1 s apart (not Thread.sleep-spaced): on coarse
        // (1 s) mtime filesystems two sleep-spaced slices can tie and
        // feed out of event-time order, dropping pre-watermark rows of
        // the later file — the exact silent-loss mode the ordering rule
        // exists to prevent.
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val tmpPath = new org.apache.hadoop.fs.Path(tmp)
        val scratch = new org.apache.hadoop.fs.Path(tmp + "_build")
        fs.delete(tmpPath, true); fs.mkdirs(tmpPath)
        slices.zipWithIndex.foreach { case (slice, i) =>
          fs.delete(scratch, true)
          slice.coalesce(1).write.mode("overwrite")
            .parquet(scratch.toString)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(scratch, "part-*"))(0).getPath
          fs.rename(part,
            new org.apache.hadoop.fs.Path(tmpPath, f"slice_$i%02d.parquet"))
        }
        fs.delete(scratch, true)
        val base = System.currentTimeMillis() - 60000L
        (0 until 8).foreach { i =>
          fs.setTimes(
            new org.apache.hadoop.fs.Path(tmpPath, f"slice_$i%02d.parquet"),
            base + i * 1000L, -1L)
        }
        // completion marker LAST: a crash anywhere above leaves no
        // _SUCCESS and the next run re-stages from scratch
        fs.create(new org.apache.hadoop.fs.Path(tmpPath, "_SUCCESS"), true)
          .close()
      } else out.coalesce(8).write.mode("overwrite").parquet(tmp)
    }
    tmp
  }

  /** Late-arrival replay source: three files in strict mtime order —
    * (0) the full on-time event history, (1) the watermark-closing
    * sentinel, (2) a LATE file duplicating the corpus's first hour
    * under fresh event_ids. With maxFilesPerTrigger=1 the sentinel
    * batch advances the watermark past every real window BEFORE the
    * late file arrives, so the stateful aggregation must DROP all of
    * file 2 (its windows are emitted and evicted) — the semantic
    * `stream_late_data_drop` pins. Same atomic staging discipline as
    * wm8 (scratch + rename + explicit mtimes + manual _SUCCESS last).
    */
  private def stageLate(s: SparkSession, d: String): String = {
    val tmp = graft.Staging.dir("graft_stream_late_src", d)
    if (!graft.Staging.isStaged(tmp)) {
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val scratch = new org.apache.hadoop.fs.Path(tmp + "_build")
      fs.delete(tmpPath, true); fs.mkdirs(tmpPath)
      val ev = Tables.events(s, d)
      val tMin = ev.agg(min(col("ts"))).head()
        .getTimestamp(0).getTime
      val late = ev.filter(unix_millis(col("ts")) < tMin + 3600000L)
        .withColumn("event_id", col("event_id") + 10000000L)
      val slices = Seq(ev, wmSentinel(ev, WmSentinelId), late)
      slices.zipWithIndex.foreach { case (slice, i) =>
        fs.delete(scratch, true)
        slice.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(scratch, "part-*"))(0).getPath
        fs.rename(part,
          new org.apache.hadoop.fs.Path(tmpPath, f"slice_$i%02d.parquet"))
      }
      fs.delete(scratch, true)
      val base = System.currentTimeMillis() - 60000L
      (0 until 3).foreach { i =>
        fs.setTimes(new org.apache.hadoop.fs.Path(tmpPath,
          f"slice_$i%02d.parquet"), base + i * 1000L, -1L)
      }
      fs.create(new org.apache.hadoop.fs.Path(tmpPath, "_SUCCESS"), true)
        .close()
    }
    tmp
  }

  /** One-off source staging for the streaming queries — idempotent. Bench
    * calls this before its timed loop so per-query numbers measure the
    * streaming run, not the one-time re-materialization.
    */
  def ensureStaged(s: SparkSession, d: String): Unit = {
    stage(s, d, "one")
    stage(s, d, "dup")
    stage(s, d, "wm")
    stage(s, d, "wma")
    stage(s, d, "wmb")
    stage(s, d, "wm8")
    stageLate(s, d)
    stageBloomBatch(s, d)
    stageIncrSlice(s, d)
    ()
  }

  /** One watermark-closing sentinel row, 2 h past the frame's max(ts). */
  private def wmSentinel(ev: DataFrame, id: Long): DataFrame =
    ev.agg(max(col("ts")).as("ts")).select(
      lit(id).as("event_id"),
      (col("ts") + expr("INTERVAL 2 HOURS")).as("ts"),
      lit(-1L).as("user_id"),
      lit("__graft_wm__").as("event_type"),
      lit(0.0).as("value"),
      lit(null).cast("string").as("props"))

  /** The cross-run refresh batch (fresh docs + re-crawled base docs, same
    * composition as the batch twin `dedup_bloom_incremental`) materialized
    * as a streaming file source.
    */
  private def stageBloomBatch(s: SparkSession, d: String): String = {
    val tmp = graft.Staging.dir("graft_stream_bloom_batch", d)
    if (!graft.Staging.isStaged(tmp))
      graft.queries.TextOps.bloomBatch(s, d).coalesce(4)
        .write.mode("overwrite").parquet(tmp)
    tmp
  }

  /** The near-dup refresh slice (doc_id % 10 == 0, same composition as
    * the batch twin `dedup_minhash_incremental`) written as 4 id-bucketed
    * files with ascending mtimes: `maxFilesPerTrigger(1)` then replays it
    * as 4 deterministic micro-batches. Same atomic staging discipline as
    * wm8 (scratch + rename + manual _SUCCESS last).
    */
  private def stageIncrSlice(s: SparkSession, d: String): String = {
    val tmp = graft.Staging.dir("graft_stream_mh_incr_src", d)
    if (!graft.Staging.isStaged(tmp)) {
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val scratch = new org.apache.hadoop.fs.Path(tmp + "_build")
      fs.delete(tmpPath, true); fs.mkdirs(tmpPath)
      val slice = Tables(s, d, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      (0 until 4).foreach { i =>
        fs.delete(scratch, true)
        slice.filter(pmod(floor(col("doc_id") / 10), lit(4)) === i)
          .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(scratch, "part-*"))(0).getPath
        fs.rename(part,
          new org.apache.hadoop.fs.Path(tmpPath, f"slice_$i%02d.parquet"))
      }
      fs.delete(scratch, true)
      val basems = System.currentTimeMillis() - 60000L
      (0 until 4).foreach { i =>
        fs.setTimes(new org.apache.hadoop.fs.Path(tmpPath,
          f"slice_$i%02d.parquet"), basems + i * 1000L, -1L)
      }
      fs.create(new org.apache.hadoop.fs.Path(tmpPath, "_SUCCESS"), true)
        .close()
    }
    tmp
  }

  /** Streaming events source whose watermark ends past every real window:
    * reads the `wm` variant and sets the watermark. The sentinel is NOT
    * filtered here — a pre-aggregation filter would be pushed below the
    * EventTimeWatermark node (its predicate doesn't touch `ts`), silencing
    * the very row that advances the clock. Instead the sentinel flows into
    * the aggregate under its own unique keys (user_id -1 / event_type
    * "__graft_wm__") and each query drops those groups batch-side after
    * the run.
    */
  private def wmStream(s: SparkSession, d: String): DataFrame = {
    val src = stage(s, d, "wm")
    s.readStream
      .schema(Tables.events(s, d).schema).parquet(src)
      .withWatermark("ts", "10 minutes")
  }

  private def runToTable(s: SparkSession, df: DataFrame, name: String,
      mode: String): DataFrame = {
    // Stateful-operator partition count is a deliberate per-query sizing
    // decision, not something to inherit: it is frozen into the checkpoint
    // at first start, and every partition costs a state-store instance
    // whose load/commit/maintenance runs per micro-batch even when nearly
    // empty. These queries key state by user/event-type/window (hundreds
    // of groups), so 8 stores carry it comfortably; a 100 TB deployment
    // sizes this to its key cardinality BEFORE the first start instead.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B35: tumbling window count — real streaming run, APPEND mode: each
    // window emits exactly once, when the watermark passes its end (the
    // staged sentinel closes the last ones), and is evicted from state.
    "stream_tumbling" -> ((s, d) => {
      val stream = wmStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_tumbling", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    }),

    // Late-data rejection under an advanced watermark — the semantic
    // every production watermark exists to enforce, pinned end-to-end:
    // the sentinel batch closes and EVICTS every real window, then a
    // whole file of late duplicates (first hour, fresh ids) arrives and
    // must be dropped by the stateful aggregation — not double-counted
    // into a re-emitted window. The oracle is the plain hourly count
    // over the ORIGINAL events: equality proves the duplicates
    // contributed nothing and no window emitted twice. At 100 TB this
    // is the replayed-kafka-segment / stale-backfill-partition case;
    // the state bound (watermark eviction) is exactly what makes the
    // drop happen.
    "stream_late_data_drop" -> ((s, d) => {
      val src = stageLate(s, d)
      val stream = s.readStream.schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_late_drop", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"),
          col("cnt"))
        .orderBy("ws", "event_type")
    }),

    // Multi-source ingestion: two file streams (disjoint event-type
    // slices — the "clickstream topic" and the "transactions topic")
    // union into ONE windowed aggregation. The union is map-side; the
    // single downstream state store sees one merged keyed stream. The
    // subtle production semantic this pins: the query-global watermark
    // under the default `min` multipleWatermarkPolicy is the SLOWEST
    // source's — a window emits only when every source has passed it,
    // which is why each staged slice carries its own sentinel. At
    // 100 TB the same topology handles N kafka topics; state stays
    // bounded by (windows × types) regardless of source count.
    "stream_union_sources" -> ((s, d) => {
      val schema = Tables.events(s, d).schema
      val a = s.readStream.schema(schema).parquet(stage(s, d, "wma"))
        .withWatermark("ts", "10 minutes")
      val b = s.readStream.schema(schema).parquet(stage(s, d, "wmb"))
        .withWatermark("ts", "10 minutes")
      val stream = a.unionByName(b)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_union", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    }),

    // Throttled backfill: the same hourly aggregation fed through
    // `maxFilesPerTrigger=4` — AvailableNow still processes EVERY file,
    // but in bounded micro-batches instead of one giant batch. This is
    // the reprocessing knob that keeps a 100 TB backfill from planning
    // one task wave over the whole history: each micro-batch's shuffle
    // fits executor memory, checkpoint progress lands between batches
    // (a mid-backfill crash resumes, not restarts), and the result is
    // REQUIRED to be bit-identical to the one-shot run — which is
    // exactly what the shared oracle asserts and the spec re-proves
    // against the unthrottled twin. 4 of the 8 staged files per
    // trigger (2 micro-batches), not 2 (4 batches): the key is a
    // SEMANTICS test — throttled replay == one-shot — and two batches
    // prove it at half the per-batch overhead the reps=1 gate pays;
    // the spec's manually driven twin still runs 2-per-trigger to pin
    // the ≥3-batch progress shape (r16 gate-noise hardening).
    "stream_rate_limited" -> ((s, d) => {
      val stream = s.readStream
        .schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(stage(s, d, "wm8"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_rate_limited", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    }),

    // Chained stateful aggregations (Spark 3.5+/4.x multiple-stateful-
    // operator support): hourly counts roll up into daily totals INSIDE
    // ONE streaming query — the second groupBy keys on
    // window(window_time(window), '1 day'), re-windowing the hourly
    // results by their event-time column instead of round-tripping
    // through an intermediate sink. Both operators run in append mode
    // with one watermark: an hourly window emits (and drops its state)
    // when the watermark passes its end, the daily window when it
    // passes the day's end — the staged sentinel (+2 h past max ts)
    // closes every REAL window of both levels on a bounded replay
    // (its own hourly window never emits, which only starves the
    // sentinel group that is dropped batch-side anyway). State at both
    // levels is keyed by (window, event_type) and watermark-bounded;
    // at 100 TB the pre-aggregation means the daily operator sees
    // hours × types rows, not events.
    "stream_chained_agg" -> ((s, d) => {
      val hourly = wmStream(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val daily = hourly
        .groupBy(window(window_time(col("window")), "1 day"),
          col("event_type"))
        .agg(sum(col("cnt")).as("cnt"),
          count(lit(1)).as("n_hours"))
      runToTable(s, daily, "graft_stream_chained", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"),
          col("cnt"), col("n_hours"))
        .orderBy("ws", "event_type")
    }),

    // B36: sliding window (1 h window, 15 min slide) — real streaming run,
    // append mode; each event lands in exactly 4 windows.
    "stream_sliding" -> ((s, d) => {
      val stream = wmStream(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_sliding", "append")
        .filter(col("event_type") =!= "__graft_wm__")
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type")
    }),

    // B37: session window (30 min gap) per user — real streaming run
    // through the generic Sessionize.byWindow operator (the same
    // session_window expression works in batch and streaming alike);
    // append mode — a session emits once the watermark passes last-event
    // + gap (the sentinel guarantees that for every session in a bounded
    // replay), then its state is dropped.
    "stream_session" -> ((s, d) => {
      val sessions = graft.operators.Sessionize
        .byWindow(wmStream(s, d), col("user_id"), col("ts"), "30 minutes")
      runToTable(s, sessions, "graft_stream_session", "append")
        .withColumnRenamed("key", "user_id")
        .filter(col("user_id") =!= WmSentinelId)
        .orderBy("user_id", "session_start")
    }),

    // B38: stateful dedup within watermark — real streaming run over a
    // doubled source; every event arrives exactly twice and must survive
    // exactly once.
    "stream_stateful_dedup" -> ((s, d) => {
      val src = stage(s, d, "dup")
      val stream = s.readStream
        .schema(Tables.events(s, d).schema).parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      runToTable(s, stream, "graft_stream_dedup", "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // B39: arbitrary stateful processing — sessionization with a 30 min
    // gap via flatMapGroupsWithState (batch execution; the incremental
    // streaming variant is exercised in ScalaTest with MemoryStream).
    "stream_flatmapgroups" -> ((s, d) =>
      graft.operators.Sessionize
        .byState(s, Tables.events(s, d), col("user_id"), col("ts"),
          gapMicros = 30L * 60 * 1000 * 1000)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "session_start")),

    // B53: stream-static enrichment join — the static dim is broadcast to
    // every micro-batch task, so the stream side never shuffles for the
    // join; the canonical "attach user profile to the event stream" shape.
    // The running count has no event-time window, so append mode cannot
    // express it: UPDATE mode emits each group's new total per batch, and
    // the batch-side fold below keeps max(cnt) — exact, since a count only
    // grows (a production consumer upserts by key the same way).
    "stream_static_join" -> ((s, d) => {
      val src = stage(s, d, "one")
      val dim = broadcast(Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      val stream = s.readStream
        .schema(Tables.events(s, d).schema).parquet(src)
        .withWatermark("ts", "10 minutes")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy("c_nationkey", "event_type")
        .agg(count(lit(1)).as("cnt"))
      runToTable(s, stream, "graft_stream_static_join", "update")
        .groupBy("c_nationkey", "event_type")
        .agg(max(col("cnt")).as("cnt"))
        .orderBy("c_nationkey", "event_type")
    }),

    // B54: stream-stream interval join — click within 30 min after a view
    // by the same user; both sides watermarked so join state is bounded.
    // Inner-join matches emit as soon as both rows are seen, so the
    // AvailableNow run over the full file source equals the batch join.
    "stream_interval_join" -> ((s, d) => {
      val src = stage(s, d, "one")
      val schema = Tables.events(s, d).schema
      val views = s.readStream.schema(schema).parquet(src)
        .filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "10 minutes")
      val clicks = s.readStream.schema(schema).parquet(src)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val joined = views.join(clicks,
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      runToTable(s, joined, "graft_stream_interval_join", "append")
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // STREAM-STREAM LEFT OUTER interval join — the question the inner
    // join cannot answer: which views never converted inside their
    // 30-minute window? Outer NULL rows are produced by STATE EVICTION,
    // not matching: an unmatched view leaves the join state only when
    // the query watermark passes v_ts + 30min, and only then emits its
    // NULL-click row (IntervalOuterSpec pins that timing on a
    // MemoryStream — the row must NOT exist before the watermark
    // crosses the window end). Bounded replay: the staged sentinel
    // (2 h past max ts) must flow through BOTH sides' watermark nodes —
    // the query watermark is the MIN across inputs, so it rides each
    // side's type filter via isin — closing every real view's window;
    // the AvailableNow run then equals the full batch left join. The
    // sentinel can pair only with its own twin (nothing else lives in
    // its window), dropped from the output by id.
    "stream_interval_join_outer" -> ((s, d) => {
      val src = stage(s, d, "wm")
      val schema = Tables.events(s, d).schema
      def side(t: String, p: String) =
        s.readStream.schema(schema).parquet(src)
          .filter(col("event_type").isin(t, "__graft_wm__"))
          .select(col("event_id").as(s"${p}_id"),
            col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "10 minutes")
      val joined = side("view", "v").join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      runToTable(s, joined, "graft_stream_interval_join_outer", "append")
        .filter(col("v_id") =!= WmSentinelId)
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_id").isNull.cast("long")).as("n_orphans"))
        .orderBy("user_id")
    }),

    // FULL OUTER interval join — both orphan classes at once: views
    // that never converted AND clicks with no view in the preceding 30
    // minutes (bot traffic / lost impressions — the other half of the
    // funnel audit). Same eviction semantics per side as the left
    // variant; the sentinel rides both watermark nodes and pairs only
    // with its own twin, dropped by id (null-safe: an orphan row has a
    // NULL id on the missing side).
    "stream_interval_join_full" -> ((s, d) => {
      val src = stage(s, d, "wm")
      val schema = Tables.events(s, d).schema
      def side(t: String, p: String) =
        s.readStream.schema(schema).parquet(src)
          .filter(col("event_type").isin(t, "__graft_wm__"))
          .select(col("event_id").as(s"${p}_id"),
            col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "10 minutes")
      val joined = side("view", "v").join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "full_outer")
      runToTable(s, joined, "graft_stream_interval_join_full", "append")
        .filter(coalesce(col("v_id"), lit(0L)) =!= WmSentinelId &&
          coalesce(col("c_id"), lit(0L)) =!= WmSentinelId)
        .groupBy(coalesce(col("v_user"), col("c_user")).as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_id").isNull.cast("long")).as("n_view_orphans"),
          sum(col("v_id").isNull.cast("long")).as("n_click_orphans"))
        .orderBy("user_id")
    }),

    // B60: transformWithState (Spark 4 arbitrary-state API) — per-user
    // running count in a RocksDB ValueState; in Update mode the last
    // emitted row per key is the final total, which must equal the batch
    // group-by count.
    //
    // RocksDB state-store sizing at scale (how a 1000-executor deployment
    // tunes what this local run defaults):
    // - Store count = shuffle partitions at FIRST start, frozen into the
    //   checkpoint. Size it to key cardinality / executor memory BEFORE
    //   launch: each store costs a memtable (writeBufferSizeMB, default
    //   64) + block cache, so 2000 partitions × 64 MB of memtable alone
    //   overwhelms 8 GB executors. Cap the fleet-wide total with
    //   spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage=true +
    //   maxMemoryUsageMB (a shared block-cache/memtable budget per
    //   executor), which turns per-store sizing into one number.
    // - State bytes per key here ≈ key (8 B user_id) + a long value +
    //   RocksDB per-entry overhead (~50-100 B); 1e9 users ≈ low-hundreds
    //   of GB spread over the stores — fine on disk, the knobs above
    //   bound what of it sits in memory.
    // - Enable changelogCheckpointing.enabled: per-batch uploads become
    //   the delta changelog instead of full SST snapshots — at 100 TB the
    //   snapshot upload otherwise dominates micro-batch latency.
    // - TTL (TimeMode.ProcessingTime + state TTL) evicts dormant keys;
    //   without it a running-count state only grows. This bounded replay
    //   keeps TimeMode.None: the key space is the sf's user set.
    "stream_transform_with_state" -> ((s, d) => {
      import s.implicits._
      val src = stage(s, d, "one")
      val prev =
        s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val updates = s.readStream
          .schema(Tables.events(s, d).schema).parquet(src)
          .select(col("ts").cast("timestamp").as("ts"), col("user_id"))
          .as[(java.sql.Timestamp, Long)]
          .groupByKey(_._2)
          .transformWithState(new RunningCount, TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "cnt")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("cnt").desc)
        runToTable(s, updates, "graft_stream_tws", "update")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("cnt").as("n_events"))
          .orderBy("user_id")
      } finally prev match {
        case Some(p) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // ext: STREAMING twin of the cross-run Bloom exact-dedup
    // (`dedup_bloom_incremental`, TextOps) — continuous ingestion that
    // admits only never-seen-before documents. Per micro-batch, row-local
    // and shuffle-free until a duplicate is actually suspected:
    // (1) xxhash64 + the codegen'd graft_bloom_contains probe against the
    //     previous run's persisted Bloom run scan-side — a fixed-size
    //     bitmap shipped once in the task binary, NOT a stream-corpus
    //     join;
    // (2) only bloom candidates (true cross-run dups + ~fpp of the batch)
    //     pay the exact-confirm stream-static join against the persisted
    //     hash set (no false negatives by Bloom construction, so
    //     non-candidates skip the join entirely and are unioned back).
    //     At this sf the static side broadcasts; at 100 TB the corpus
    //     hash set doesn't fit a broadcast, and a stream-static SMJ
    //     re-scans the static side EVERY micro-batch — so there the
    //     confirm side is kept as a hash-bucketed table (bucket pruning
    //     scans only the buckets the batch's candidate hashes land in),
    //     or candidates are spilled to a side channel and confirmed by a
    //     periodic batch join. The bloom probe is what makes either
    //     cheap: candidates ≈ dups + fpp·batch, never the whole stream;
    // (3) in-stream first-seen dedup of the survivors via a keyed
    //     min(doc_id) aggregate — UPDATE mode, folded batch-side with the
    //     same min, exact because min only decreases. Keyed by full text
    //     here (oracle-comparable, and state is bounded by the batch's
    //     distinct texts); at 100 TB key this state by a 128-bit content
    //     hash instead and let the watermarked variant
    //     (dropDuplicatesWithinWatermark) evict, trading exactness
    //     across the whole run for bounded state.
    "stream_dedup_bloom" -> ((s, d) => {
      graft.plans.GraftExtensions.register(s)
      val base = graft.queries.TextOps.bloomBaseStaged(s, d)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/filter.bin"))
      val src = stageBloomBatch(s, d)
      val stream = s.readStream
        .schema(s.read.parquet(src).schema).parquet(src)
        .withColumn("h", xxhash64(col("text")))
        .withColumn("bloom_hit",
          call_function("graft_bloom_contains", col("h"), lit(bytes)))
      val hits = stream.filter(col("bloom_hit"))
      val misses = stream.filter(!col("bloom_hit"))
      val baseHashes = s.read.parquet(s"$base/hashes")
        .withColumn("in_base", lit(true))
      val confirmedNew = hits.join(baseHashes, Seq("h"), "left_outer")
        .filter(col("in_base").isNull).drop("in_base")
      val firstSeen = misses.unionByName(confirmedNew)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      runToTable(s, firstSeen, "graft_stream_bloom_dedup", "update")
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").orderBy("doc_id")
    }),

    // The STREAMING twin of dedup_minhash_incremental — the shape a
    // crawl pipeline actually runs: new documents arrive continuously
    // and the near-dup index/cluster assignment must absorb them without
    // ever re-pairing the old corpus. The refresh slice replays as 4
    // micro-batches (maxFilesPerTrigger=1); foreachBatch runs the SAME
    // incremental algebra as the batch twin per batch — in-stream
    // shingle+band (identical expressions, same signature seed),
    // candidates = batch bands vs base ∪ previously-admitted bands with
    // the batch pinned to one join side (old-old work never repeats),
    // exact verify, contract old endpoints to their CURRENT cluster rep,
    // CC over the contracted batch-sized edge set — then applies LABEL
    // CORRECTION: a batch doc that bridges two existing clusters merges
    // them, and every assignment row carrying either rep is rewritten.
    // The final partition is IDENTICAL to the one-shot batch refresh
    // (spec-pinned): min-label components are confluent — maintaining
    // exact component minima after each edge-subset delivery converges
    // to the same minima as delivering all edges at once, whatever the
    // batch order. Per-batch state I/O is batch-edges + assignment-table
    // sized; the corpus is touched only through the static shingle/band
    // stores the base build already materialized.
    "stream_dedup_incremental" -> ((s, d) => {
      graft.plans.GraftExtensions.register(s)
      val base = graft.queries.TextOps.minhashBaseStaged(s, d)
      // static shingle store for the exact-verify lookups (old endpoints
      // are not in the stream; the base build owns this table) — read the
      // STAGED projection like the batch twin (dedup_minhash_incremental)
      // instead of re-running tokenize+shingle+hash over the full corpus
      // inside the replay window; (doc_id, g) is the identical artifact
      // (mhShingledStaged stages exactly mhShingled's output plus `gr`)
      val docsG = graft.queries.TextOps.mhShingledRead(s, d)
        .select(col("doc_id"), col("g"))
        .localCheckpoint(true)
      val src = stageIncrSlice(s, d)
      val work = graft.Staging.dir("graft_stream_mh_incr_work", d)
      // fresh state per run: the replay is deterministic, so re-seeding
      // from the base assignment beats reasoning about stale state
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work), true)
      // VERSIONED assignment state: each batch writes assign_v<n+1> and
      // the next batch reads it by path. The old single-path overwrite
      // forced an eager localCheckpoint of the new assignment before
      // overwriting the directory it was derived from — one extra
      // materialization job per micro-batch whose only purpose was the
      // read-write conflict; versioning removes the conflict, the
      // per-batch full state rewrite (the measured I/O contract) stays.
      // foreachBatch bodies run sequentially on the driver, so the
      // current-version handoff is a plain mutable reference.
      val asgPath = new java.util.concurrent.atomic.AtomicReference[String](
        s"$work/assign_v0")
      s.read.parquet(s"$base/assign")
        .write.mode("overwrite").parquet(asgPath.get)
      val q = s.readStream
        .option("maxFilesPerTrigger", "1")
        .schema(s.read.parquet(src).schema).parquet(src)
        .writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          // r20: no checkpoint — batchBands (checkpointed below) is the
          // only consumer of the shingled projection, so materializing it
          // separately was one extra per-batch job whose blocks nothing
          // re-read (newRows takes its ids straight off `batch`)
          val batchG = batch
            .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
            .select(col("doc_id"),
              array_sort(transform(
                graft.operators.Dedup.shingles(col("t"), 2),
                g => xxhash64(g))).as("g"))
          val batchBands = graft.queries.TextOps.mhBandKeys(batchG)
            .localCheckpoint(true) // consumed by candidates AND the append
          val admittedPath = s"$work/bands"
          val baseBands = ss.read.parquet(s"$base/bands")
          // probe through the Hadoop FileSystem (same API the cleanup above
          // uses) — a java.io.File test is always-false off local FS
          val oldBands =
            if (fs.exists(new org.apache.hadoop.fs.Path(admittedPath)))
              baseBands.unionByName(ss.read.parquet(admittedPath))
            else baseBands
          // old ids only on the a-side → old-new pairs surface once;
          // batch-batch pairs surface in both orientations → va<vb keeps
          // one (the `an` flag marks a-side batch rows)
          val aK = oldBands
            .select(col("doc_id").as("va"), col("band"), col("key"))
            .withColumn("an", lit(false))
            .unionByName(batchBands
              .select(col("doc_id").as("va"), col("band"), col("key"))
              .withColumn("an", lit(true)))
          val bK = batchBands
            .select(col("doc_id").as("vb"), col("band"), col("key"))
          val cand = aK.join(bK, Seq("band", "key"))
            .filter(col("va") =!= col("vb") &&
              (!col("an") || col("va") < col("vb")))
            .select(least(col("va"), col("vb")).as("da"),
              greatest(col("va"), col("vb")).as("db"))
            .distinct()
          val edges = graft.queries.TextOps.mhExactVerified(cand, docsG)
            .select(col("da").as("src"), col("db").as("dst"))
          val asg = ss.read.parquet(asgPath.get)
          val contracted = edges
            .join(asg.select(col("doc_id").as("src"),
              col("cluster_rep").as("ra")), Seq("src"), "left")
            .join(asg.select(col("doc_id").as("dst"),
              col("cluster_rep").as("rb")), Seq("dst"), "left")
            .select(coalesce(col("ra"), col("src")).as("src"),
              coalesce(col("rb"), col("dst")).as("dst"))
          // r20: CC's returned labels are already a thin select over the
          // final round's materialized (lazily checkpointed) RDD — an
          // extra eager localCheckpoint here re-materialized ANOTHER
          // copy, one pure-overhead job per micro-batch; both relabel
          // joins read the same cached blocks either way
          val cc = graft.operators.ConnectedComponents(contracted)
          // label correction: existing rows re-label through their rep
          val relabeledOld = asg
            .join(cc.select(col("v").as("cluster_rep"), col("comp")),
              Seq("cluster_rep"), "left")
            .select(col("doc_id"),
              coalesce(col("comp"), col("cluster_rep")).as("cluster_rep"))
          val newRows = batch.select("doc_id")
            .join(cc.select(col("v").as("doc_id"), col("comp")),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("comp"), col("doc_id")).as("cluster_rep"))
          // no materialize-before-overwrite needed: the new version lands
          // beside its source, and the reference flips only after the
          // write committed
          val nextPath = s"$work/assign_v${batchId + 1}"
          relabeledOld.unionByName(newRows)
            .write.mode("overwrite").parquet(nextPath)
          asgPath.set(nextPath)
          batchBands.write.mode("append").parquet(admittedPath)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(asgPath.get)
        .withColumn("is_new", col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    }),

    // B61: foreachBatch sink — the programmable-sink surface: each
    // micro-batch lands in a batch writer (parquet append here), the
    // standard escape hatch for sinks Structured Streaming lacks.
    // UPDATE mode (the running count has no window, so append can't carry
    // it): every batch appends each changed group's new total, and the
    // read-back folds with max(cnt) — exact for a monotone count.
    "stream_foreach_batch" -> ((s, d) => {
      val src = stage(s, d, "one")
      val out = graft.Staging.dir("graft_stream_feb_out", d)
      val outDir = new java.io.File(out)
      if (outDir.exists()) scala.reflect.io.Directory(outDir).deleteRecursively()
      val q = s.readStream
        .schema(Tables.events(s, d).schema).parquet(src)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .writeStream
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy("event_type").agg(max(col("cnt")).as("cnt"))
        .orderBy("event_type")
    }),

    // The exactly-once FILE sink: raw pass-through to a parquet sink
    // directory whose _spark_metadata transaction log records exactly
    // the files each committed batch wrote. The read-back goes THROUGH
    // that manifest (spark.read.parquet on a streaming sink dir lists
    // the log, not the directory), so files from an uncommitted/failed
    // batch are invisible — this, not foreachBatch bookkeeping, is the
    // engine's own end-to-end exactly-once story for file outputs.
    // Idempotency across Verify/Bench reruns comes from the CHECKPOINT,
    // not a staging marker: a second AvailableNow run finds no new
    // source files and commits nothing, so counts are stable — exactly
    // how a 100 TB incremental ingest resumes. The distinct-id audit
    // rides along to prove no batch double-committed.
    "stream_sink_files" -> ((s, d) => {
      val src = stage(s, d, "one")
      // sink + checkpoint derive from the STAGED SOURCE PATH, not just
      // the dataset dir: a file-stream checkpoint records offsets as
      // source file paths, so a staged-layout version bump (v2→v3) must
      // invalidate the downstream checkpoint with it — a checkpoint that
      // outlives its source layout replays "Wrong basePath" (observed on
      // the v3 bump). Same lifetime rule a production pipeline needs
      // when a source directory is re-materialized.
      val (sink, chk) = fileSinkDirs(s, d)
      val q = s.readStream
        .schema(Tables.events(s, d).schema).parquet(src)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),
    // Exactly-once streaming into the TRANSACTIONAL manifest sink — the
    // composition a 100 TB streaming curation run needs and neither
    // parent key gives alone: `stream_sink_files` is exactly-once only
    // into Spark's own _spark_metadata log; `sink_overwrite_txn`'s
    // manifest serves batch writers. Here every micro-batch lands via
    // foreachBatch as one manifest commit carrying a `# batch=<id>`
    // transaction marker: data files first (to a batch-deterministic
    // dir), then ONE rename publishes them. The two crash windows are
    // both safe — before the rename, the data dir is an invisible
    // orphan and the un-advanced checkpoint replays the batch (the
    // deterministic rewrite converges); after the rename, the replayed
    // batch finds its marker already committed and SKIPS (idempotence),
    // so a crash between manifest commit and checkpoint commit cannot
    // double-count. The replay/crash interleavings are driven
    // explicitly in TxnOverwriteSpec; the distinct-id audit here proves
    // end-to-end no batch double-committed. maxFilesPerTrigger splits
    // the 8 staged source files into several real micro-batches.
    "stream_manifest_txn" -> ((s, d) => {
      val src = stage(s, d, "one")
      val (sink, chk) = manifestTxnDirs(s, d)
      val q = s.readStream
        .schema(Tables.events(s, d).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          commitBatchTxn(s, sink, batch, batchId)
        }
        .start()
      q.awaitTermination()
      graft.queries.Physical.manifestRead(s, sink, None)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    }),

    // STREAMING INCREMENTAL VIEW MAINTENANCE — the lakehouse and
    // streaming families tied together: the transaction log ITSELF is
    // the stream (a file source over the fact sink's `_commits` dir,
    // maxFilesPerTrigger=1 → one micro-batch per committed version),
    // and each micro-batch advances a materialized per-status aggregate
    // by exactly that version's FILE-LEVEL diff — the same
    // O(changed files) + O(|view|) fold as `sink_changefeed_ivm`, now
    // running continuously instead of on demand. The maintained view is
    // itself a manifest-committed table whose markers carry the
    // applied-version set forward, so a replayed micro-batch (crash
    // before checkpoint advance) is a structural no-op — the
    // commitBatchTxn idempotence algebra applied to view maintenance.
    // Deltas are per-status sums, hence COMMUTATIVE: correctness never
    // depends on micro-batch arrival order. The oracle is the batch
    // key's, verbatim — streaming must converge to the batch recompute.
    // STREAMING IVM OVER THE JOIN VIEW — the streaming twin of
    // sink_changefeed_ivm_join, completing the family's symmetry the
    // way stream_changefeed_ivm does for the single-table case. The
    // stream is the COMMIT-NOTIFICATION FEED (one pointer file per
    // committed version of EITHER log, totally ordered — the
    // Debezium-topic shape): the fold tails it one event per
    // micro-batch, applying each log's file-level diff with the
    // delta-join algebra — a dim event folds A⨝ΔD off the maintained
    // SUBVIEW (never a fact rescan), a fact event folds ΔA against the
    // dim version the feed has delivered SO FAR (the serialization is
    // what makes the cross term land exactly once) and advances the
    // subview. State = one manifest log carrying the view files, the
    // current subview pointer (`# aux=`), and `# applied=` markers
    // that make any replay a structural no-op. Result must be
    // bit-identical to the batch twin — same oracle.
    "stream_changefeed_ivm_join" -> ((s, d) => {
      val fix = graft.queries.Physical.joinIvmStaged(s, d)
      val (state, chk) = joinIvmStreamDirs(s, d)
      val q = s.readStream
        .format("text")
        .option("maxFilesPerTrigger", "1")
        .load(s"$fix/feed")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("value").collect()
            .map(_.getString(0).trim).filter(_.nonEmpty)
            .map { ev =>
              val Array(log, v) = ev.split(",")
              (log, v.toInt)
            }
            .sortBy(identity[(String, Int)]) // deterministic in-batch
            .foreach { case (log, v) =>
              applyJoinIvmEvent(s, fix, state, log, v)
            }
        }
        .start()
      q.awaitTermination()
      graft.queries.Physical.manifestRead(s, state, None)
        .filter(col("n") > 0)
        .select(col("seg"), col("n").as("n_orders"),
          round(col("rev").cast("double"), 2).as("revenue"))
        .orderBy("seg")
    }),

    "stream_changefeed_ivm" -> ((s, d) => {
      val fact = graft.queries.Physical.mergeSinkStaged(s, d)
      val (state, chk) = ivmStreamDirs(s, d)
      val q = s.readStream
        .format("text")
        .option("maxFilesPerTrigger", "1")
        .load(s"$fact/_commits")
        .select(col("_metadata.file_path").as("fp"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("fp").distinct().collect()
            .map(r => new org.apache.hadoop.fs.Path(r.getString(0))
              .getName)
            .flatMap(graft.queries.Physical.logVersion(_))
            .sorted
            .foreach(v => applyIvmVersion(s, fact, state, v))
        }
        .start()
      q.awaitTermination()
      graft.queries.Physical.manifestRead(s, state, None)
        .filter(col("n") > 0)
        .select(col("o_orderstatus"), col("n").as("n_orders"),
          round(col("rev").cast("double"), 2).as("revenue"))
        .orderBy("o_orderstatus")
    }),
  )

  /** (state, checkpoint) for `stream_changefeed_ivm`, reset whenever the
    * orders source regenerates (a stale checkpoint against a rebuilt
    * fact log would silently skip versions).
    */
  private[graft] def ivmStreamDirs(s: SparkSession, d: String)
      : (String, String) = {
    val base = graft.Staging.dir("graft_stream_ivm", d)
    val stamp = graft.Staging.fingerprint(s, s"$d/orders.parquet")
    if (!graft.Staging.isCurrent(base, stamp)) {
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(base))
      graft.Staging.commitStamped(base, stamp)
    }
    (s"$base/state", s"$base/chk")
  }

  /** (state, checkpoint) for `stream_changefeed_ivm_join`, reset when
    * either source table regenerates (same contract as
    * [[ivmStreamDirs]]).
    */
  private[graft] def joinIvmStreamDirs(s: SparkSession, d: String)
      : (String, String) = {
    val base = graft.Staging.dir("graft_stream_ivm_join", d)
    val stamp = graft.Staging.fingerprint(s,
      s"$d/orders.parquet", s"$d/customer.parquet")
    if (!graft.Staging.isCurrent(base, stamp)) {
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(base))
      graft.Staging.commitStamped(base, stamp)
    }
    (s"$base/state", s"$base/chk")
  }

  /** Apply ONE feed event (a committed version of the fact OR dim log)
    * to the maintained join view — the streaming leg of the delta-join
    * algebra, factored out so the replay spec can re-apply events
    * directly. State is one manifest log: data lines = the view's
    * parquet files, `# aux=<dir>` = the current per-custkey subview
    * snapshot, `# applied=<log>_<v>` markers = the committed event set
    * (ride forward like [[applyIvmVersion]]'s). Bootstrap (first
    * event) loads the staged v0 view/aux. A dim event folds
    * A⨝ΔD_signed into the view (subview unchanged — a dim change does
    * not move per-custkey fact totals); a fact event folds
    * ΔA⨝D_applied (the dim version the feed has delivered, resolved
    * from the markers — using the stale dim here is exactly the
    * dropped-cross-term bug IvmJoinSpec demonstrates) AND advances the
    * subview, whose new snapshot commits ATOMICALLY with the view in
    * the same manifest — a torn (view, aux) pair can never be read.
    * DECIMAL end-to-end; a replayed event returns without touching
    * state.
    */
  private[graft] def applyJoinIvmEvent(s: SparkSession, fix: String,
      statePath: String, log: String, version: Int): Unit = {
    val Physical = graft.queries.Physical
    val (last, prevFiles, prevMeta) = Physical.resolve(s, statePath)
    val applied = prevMeta.filter(_.startsWith("# applied="))
      .map(_.stripPrefix("# applied=").trim).toSet
    if (applied.contains(s"${log}_$version")) return
    // current state (bootstrap = the staged v0 snapshots)
    val auxDir = prevMeta.find(_.startsWith("# aux="))
      .map(_.stripPrefix("# aux=").trim).getOrElse(s"$fix/aux")
    val view =
      if (last < 0)
        s.read.parquet(s"$fix/view")
          .select(col("seg"), col("n0").as("n"), col("rev0").as("rev"))
      else s.read.parquet(prevFiles: _*)
    lazy val (removed, added) =
      Physical.fileDiff(s, s"$fix/$log", version - 1, version)
    val (deltaVOpt, newAuxDir) = log match {
      case "dim" =>
        def part(fls: Seq[String], sign: Int): Option[DataFrame] =
          if (fls.isEmpty) None
          else Some(s.read.parquet(fls: _*).withColumn("sign", lit(sign)))
        // a metadata-only dim commit has an empty diff on BOTH sides
        // (and a pure-add or pure-remove commit on ONE side) — build
        // each signed leg only when its file list is non-empty, exactly
        // the [[applyIvmVersion]] no-op hardening
        val dimDeltaOpt = (part(added, 1) ++ part(removed, -1))
          .reduceOption(_ unionByName _)
        val dv = dimDeltaOpt.map { dimDelta =>
          s.read.parquet(auxDir)
            .join(dimDelta, col("o_custkey") === col("c_custkey"))
            .groupBy("seg")
            .agg(sum(col("a_n") * col("sign")).as("dn"),
              sum(col("a_rev") * col("sign")).cast("decimal(28,2)")
                .as("drev"))
        }
        (dv, auxDir)
      case "fact" =>
        def part(fls: Seq[String], sign: Int): Option[DataFrame] =
          if (fls.isEmpty) None
          else Some(s.read.parquet(fls: _*)
            .groupBy("o_custkey")
            .agg((count(lit(1)) * sign).as("dn"),
              (sum(col("o_totalprice").cast("decimal(18,2)")) * sign)
                .as("drev")))
        val deltaAOpt = (part(added, 1) ++ part(removed, -1))
          .reduceOption(_ unionByName _)
        deltaAOpt match {
          case None =>
            // no-op fact commit: nothing to fold into view OR aux
            (None, auxDir)
          case Some(deltaARaw) =>
            val deltaA = deltaARaw
              .groupBy("o_custkey")
              .agg(sum("dn").as("dn"),
                sum("drev").cast("decimal(28,2)").as("drev"))
              .localCheckpoint(true) // consumed by the view AND aux folds
            // the dim version the feed has DELIVERED — the highest
            // committed dim marker, not the log's latest on disk (using
            // an undelivered dim here is exactly the dropped ΔF⨝ΔD
            // cross-term bug IvmJoinSpec demonstrates)
            val dimV = applied.filter(_.startsWith("dim_"))
              .map(_.stripPrefix("dim_").toInt)
              .maxOption.getOrElse(0)
            val (_, dimFiles, _) =
              Physical.resolve(s, s"$fix/dim", Some(dimV))
            val dv = deltaA
              .join(s.read.parquet(dimFiles: _*),
                col("o_custkey") === col("c_custkey"))
              .groupBy("seg")
              .agg(sum("dn").as("dn"),
                sum("drev").cast("decimal(28,2)").as("drev"))
            val auxOut = s"$statePath/aux/${log}_$version"
            s.read.parquet(auxDir)
              .join(deltaA, Seq("o_custkey"), "full_outer")
              .select(col("o_custkey"),
                (coalesce(col("a_n"), lit(0L)) + coalesce(col("dn"),
                  lit(0L))).as("a_n"),
                (coalesce(col("a_rev").cast("decimal(28,2)"),
                  lit(0).cast("decimal(28,2)")) +
                  coalesce(col("drev"), lit(0).cast("decimal(28,2)")))
                  .cast("decimal(28,2)").as("a_rev"))
              .write.mode("overwrite").parquet(auxOut)
            (Some(dv), auxOut)
        }
      case other => sys.error(s"unknown feed log: $other")
    }
    val outDir = s"$statePath/data/${log}_$version"
    val dataLines = deltaVOpt match {
      // no-op event: commit the marker (so a replay stays idempotent)
      // over the CURRENT data lines — on bootstrap that means
      // materializing the staged v0 view first, so the manifest's data
      // lines are never empty
      case None if last >= 0 => prevFiles
      case None => Physical.writeParts(view.coalesce(1), outDir)
      case Some(deltaV) =>
        Physical.writeParts(view.join(deltaV, Seq("seg"), "full_outer")
          .select(col("seg"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("rev").cast("decimal(28,2)"),
              lit(0).cast("decimal(28,2)")) +
              coalesce(col("drev"), lit(0).cast("decimal(28,2)")))
              .cast("decimal(28,2)").as("rev"))
          .coalesce(1), outDir)
    }
    Physical.commitManifest(s, statePath, last + 1, dataLines,
      meta = prevMeta.filterNot(_.startsWith("# aux=")) ++
        Seq(s"# aux=$newAuxDir", s"# applied=${log}_$version"))
  }

  /** Apply ONE fact-log version's file diff to the maintained view —
    * factored out so the replay spec can re-apply a version directly.
    * Idempotence: the view's latest manifest carries `# applied=<v>`
    * markers for every folded version (the committed set rides forward
    * like [[commitBatchTxn]]'s batch ids); a version already recorded
    * returns without touching state. The fold itself is the
    * `sink_changefeed_ivm` algebra: replaced files enter negatively,
    * new files positively, DECIMAL end-to-end so the running total is
    * exact under any delta order.
    */
  private[graft] def applyIvmVersion(s: SparkSession, factPath: String,
      statePath: String, version: Int): Unit = {
    val Physical = graft.queries.Physical
    val (last, prevFiles, prevMeta) = Physical.resolve(s, statePath)
    val prevMarkers = prevMeta.filter(_.startsWith("# applied="))
    val applied = prevMarkers
      .map(_.stripPrefix("# applied=").trim.toInt).toSet
    if (applied.contains(version)) return
    val (removed, added) =
      Physical.fileDiff(s, factPath, version - 1, version)
    def part(files: Seq[String], sign: Int): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(s.read.parquet(files: _*)
        .groupBy("o_orderstatus")
        .agg((count(lit(1)) * sign).as("dn"),
          (sum(col("o_totalprice").cast("decimal(18,2)")) * sign)
            .as("drev")))
    // A no-op commit (identical file list, e.g. a metadata-only manifest)
    // has an EMPTY diff on both sides: fold nothing, but still record the
    // `# applied=` marker so a replay of the no-op stays a structural
    // no-op instead of crashing `.reduce` on an empty iterator.
    val files = (part(added, 1) ++ part(removed, -1))
      .reduceOption(_ unionByName _) match {
      case None => prevFiles
      case Some(raw) =>
        val delta = raw
          .groupBy("o_orderstatus")
          .agg(sum("dn").as("dn"),
            sum("drev").cast("decimal(28,2)").as("drev"))
        val next =
          if (last < 0)
            delta.select(col("o_orderstatus"), col("dn").as("n"),
              col("drev").as("rev"))
          else
            s.read.parquet(prevFiles: _*)
              .join(delta, Seq("o_orderstatus"), "full_outer")
              .select(col("o_orderstatus"),
                (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
                  .as("n"),
                (coalesce(col("rev").cast("decimal(28,2)"),
                  lit(0).cast("decimal(28,2)")) +
                  coalesce(col("drev"), lit(0).cast("decimal(28,2)")))
                  .cast("decimal(28,2)").as("rev"))
        Physical.writeParts(next.coalesce(1), s"$statePath/data/v$version")
    }
    Physical.commitManifest(s, statePath, last + 1, files,
      meta = prevMarkers :+ s"# applied=$version")
  }

  /** (sink, checkpoint) for `stream_sink_files` — bound to the staged
    * source generation (see the query comment). Exposed so the spec's
    * stray-file probe agrees on the sink location.
    */
  private[graft] def fileSinkDirs(s: SparkSession, d: String)
      : (String, String) = {
    val src = stage(s, d, "one")
    (src + "_filesink", src + "_filesink_chk")
  }

  /** (sink, checkpoint) for `stream_manifest_txn` — same staged-source
    * lifetime rule as [[fileSinkDirs]].
    */
  private[graft] def manifestTxnDirs(s: SparkSession, d: String)
      : (String, String) = {
    val src = stage(s, d, "one")
    (src + "_txnsink", src + "_txnsink_chk")
  }

  /** The foreachBatch committer for `stream_manifest_txn`, factored out
    * so TxnOverwriteSpec can REPLAY a batch id and crash one mid-commit.
    * Exactly-once algebra: (1) a batch id recorded in the LATEST
    * committed manifest — whose markers carry the complete committed-id
    * set forward by induction — is a replay of a fully-committed batch
    * → no-op;
    * (2) otherwise (re)write the batch's files to its deterministic data
    * dir — a replay after a pre-rename crash overwrites the orphan with
    * identical content; (3) append the files to the live set and commit
    * one new manifest version whose `# batch=` marker makes step (1)
    * fire on any later replay. Readers resolve manifests only, so every
    * partial state is invisible.
    */
  private[graft] def commitBatchTxn(s: SparkSession, sink: String,
      batch: DataFrame, batchId: Long): Unit = {
    val Physical = graft.queries.Physical
    // every commit carries the FULL committed-batch-id set forward in its
    // markers (see below), so the replay check reads ONE manifest — the
    // previous full-history scan re-read every version's line list per
    // micro-batch, O(commits²) manifest I/O over a long-running stream
    val (last, prev, prevMeta) = Physical.resolve(s, sink)
    val prevMarkers = prevMeta.filter(_.startsWith("# batch="))
    val committedIds = prevMarkers
      .map(_.stripPrefix("# batch=").trim.toLong).toSet
    if (committedIds.contains(batchId)) return
    val files = Physical.writeParts(batch, s"$sink/data/batch_$batchId")
    Physical.commitManifest(s, sink, last + 1,
      prev ++ files, meta = prevMarkers :+ s"# batch=$batchId")
  }

  // gap >= 30 min, not >: session_window is end-exclusive (an event at
  // exactly prev_ts + 30:00 opens a new session) — see the
  // quality_bounce_rate oracle note
  private val sessionOracle =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, date_trunc('microseconds', min(ts)) AS session_start,
      |       count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the batch key's oracle VERBATIM: streaming maintenance must
    // converge to the same post-merge recompute from orders
    "stream_changefeed_ivm" ->
      graft.queries.Physical.oracleSql("sink_changefeed_ivm"),
    "stream_changefeed_ivm_join" ->
      graft.queries.Physical.oracleSql("sink_changefeed_ivm_join"),
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    // equality against the ORIGINAL events proves the late file was
    // dropped whole: any accepted duplicate would inflate a first-hour
    // count, any re-emission would duplicate a window row
    "stream_late_data_drop" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    // the union of the two disjoint type slices IS the full event set,
    // and the throttled backfill must equal the one-shot run — all three
    // share the hourly-count ground truth
    "stream_union_sources" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_rate_limited" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_chained_agg" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT date_trunc('day', h) AS ws, event_type,
        |       CAST(sum(cnt) AS BIGINT) AS cnt, count(*) AS n_hours
        |FROM hourly GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_sliding" ->
      """SELECT ws, event_type, count(*) AS cnt FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS ws, event_type
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) ks
        |) GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "stream_session" -> sessionOracle,
    "stream_stateful_dedup" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_sink_files" ->
      """SELECT event_type, count(*) AS cnt,
        |       count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exactly-once through the txn manifest: every event exactly once —
    // a double-committed batch inflates cnt above n_ids, a dropped
    // batch deflates both
    "stream_manifest_txn" ->
      """SELECT event_type, count(*) AS cnt,
        |       count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_flatmapgroups" -> sessionOracle,
    "stream_static_join" ->
      """SELECT c_nationkey, event_type, count(*) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey, event_type
        |ORDER BY c_nationkey, event_type""".stripMargin,
    "stream_interval_join" ->
      """SELECT v.user_id, count(*) AS n_pairs
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    // the sentinel closes every real view's window, so the streamed
    // result is the FULL batch left join: matched rows plus one NULL
    // row per never-converted view
    "stream_interval_join_outer" ->
      """SELECT v.user_id, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_orphans
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "stream_interval_join_full" ->
      """SELECT coalesce(v.user_id, c.user_id) AS user_id,
        |       count(*) AS n_rows,
        |       CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_view_orphans,
        |       CAST(sum(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_click_orphans
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
        |GROUP BY coalesce(v.user_id, c.user_id)
        |ORDER BY user_id""".stripMargin,
    "stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_foreach_batch" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // batch = fresh docs (doc_id%10=0) + re-crawled base docs
    // (doc_id%10<>0 AND doc_id%17=3, id-offset by 1e9, matching
    // TextOps.RecrawlIdOffset); survivors = batch texts absent from the
    // base run's corpus, one (min-id) representative per distinct text.
    "stream_dedup_bloom" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 <> 0 AND doc_id % 17 = 3
        |), base AS (
        |  SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0
        |)
        |SELECT min(b.doc_id) AS doc_id
        |FROM batch b LEFT JOIN base ON b.text = base.text
        |WHERE base.text IS NULL
        |GROUP BY b.text
        |ORDER BY doc_id""".stripMargin,
  )
}
