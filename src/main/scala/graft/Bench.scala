package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every SparkEntry query
  * against $SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":"total","value":sec,"unit":"sec","queries":{name:sec},
  * "failed":{name:exceptionClass},"prepare_failed":{family:exceptionClass},
  * "sf":dir}. A query that throws is a failure, never a time: it lands in
  * `failed` and stays out of `queries` and `value`.
  *
  * Each query is forced through the noop sink rather than count() — count()
  * lets Catalyst prune every computed column (a scan-only measurement),
  * while noop executes the full plan including projections and sorts, which
  * is what a real consumer pays.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the AppStatus/SQL stores still populate with the UI disabled (they
      // back the status APIs) and default retention keeps 1000 stages +
      // 100k tasks + 1000 SQL executions live across the whole sweep —
      // steady listener-thread eviction churn and old-gen residency that
      // the per-key cleanup cannot touch; a 400-key sweep needs none of it
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one-off layout/source staging outside the timed loop — bench should
    // measure the operators, not idempotent one-time writes
    val prepareFailed = SparkEntry.prepare(spark, sfDir)
    // dev loop: `runMain graft.Bench q1 q2` times only the named queries;
    // the driver invokes with no args → full sweep
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries

    // Post-run cleanup, OUTSIDE the timed section. Release storage pinned
    // by the query (persisted iterations, localCheckpoints, broadcast
    // sketches) — queries are independent, and carried-over blocks
    // otherwise build GC pressure that bleeds into later measurements.
    def cleanup(): Unit = {
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
      // streaming queries additionally pin driver/executor memory the
      // cache clear misses: memory-sink tables (all emitted rows, held by
      // the temp view) and loaded state-store providers (one per shuffle
      // partition per stateful query; the maintenance thread only unloads
      // them on a slow cycle). Left alone they compound across a 124-query
      // sweep and inflate the later streaming entries 3-6x.
      try {
        spark.streams.active.foreach(q => q.stop())
        spark.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
          .foreach(t => spark.catalog.dropTempView(t.name))
        org.apache.spark.sql.execution.streaming.state.StateStoreJanitor
          .unloadAll()
      } catch { case _: Throwable => () }
      // Spark's ContextCleaner frees dead broadcasts / shuffle files /
      // accumulators only when the DRIVER garbage-collects their handles —
      // in a 124-query sweep the driver heap never fills, so nothing is
      // ever cleaned and later queries pay 3-6x in block-manager pressure
      // (measured: dedup_minhash_native 1.9s standalone vs 12.2s in-sweep).
      // One explicit GC per query, outside the timed section, keeps every
      // measurement as close to standalone as one JVM allows.
      System.gc()
      // The GC only ENQUEUES the cleanups — ContextCleaner processes its
      // reference queue on its own thread and issues async block-removal /
      // shuffle-unregister RPCs that would otherwise execute INSIDE the
      // next key's timed window (the r18/r20 in-sweep inflation of the
      // task-heavy MLlib keys, 5x their solo time while code was
      // unchanged). A short quiesce drains that backlog outside the
      // window; 0 disables.
      val quiesceMs = scala.util.Try(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_QUIESCE_MS", "250").trim.toLong).getOrElse(250L)
      if (quiesceMs > 0) Thread.sleep(quiesceMs)
    }

    // SPARK_GRAFT_BENCH_REPS=N runs every query N times and reports the
    // MEDIAN — same-host back-to-back sweeps measured ±30% single-run
    // variance (PERF.md), so cross-round deltas on single runs are mostly
    // noise. Default 1 keeps the driver's per-round sweep cheap; use 3 for
    // any comparison a decision hangs on (scripts/bench_compare.py).
    val reps = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").trim.toInt).getOrElse(1))

    val (raw, failed) =
      sweep(spark, sfDir, selected.toSeq.sortBy(_._1), reps, () => cleanup())
    val results = raw.map { case (name, ts) => name -> median(ts) }

    // Second pass over the known-variance keys (plus any key whose own
    // reps spread >= 3x this run): re-measure AFTER the sweep so every
    // artifact carries {queries: in-sweep, solo: post-sweep} pairs and
    // judges can separate sweep-transient interference (solo snaps back
    // to the fresh-JVM time) from accumulated-JVM-state interference
    // (solo stays inflated) without ad-hoc postmortems. Same JVM by
    // design — a fresh-JVM number answers a different question.
    val defaultSolo = Seq("dedup_minhash_lsh", "dedup_minhash_incremental",
      "dedup_minhash_native", "dedup_minhash_tradeoff",
      "dedup_incremental_index", "dedup_ngram_jaccard_prefix",
      "multimodal_phash_neardup", "scan_binary_packed",
      "stream_dedup_incremental",
      // r15 watchlist: 1.20→2.01 s on untouched code, no pair on record;
      // one round of in-sweep/solo pairing arbitrates host noise vs real
      "agg_decimal_exact")
    val envSolo = sys.env.get("SPARK_GRAFT_BENCH_SOLO")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultSolo)
    val spreadFlagged = raw.collect {
      case (name, ts) if ts.size >= 2 && ts.max > 1.0 &&
        ts.max >= 3 * math.max(ts.min, 1e-3) => name
    }
    val soloPairs = (envSolo ++ spreadFlagged).distinct
      .filter(k => selected.contains(k) && !failed.contains(k))
      .take(10).flatMap { name =>
        // one UNTIMED warm rep first: the sweep's cleanup() dropped every
        // cached/persisted intermediate, so a staging-amortizing key's
        // first post-sweep run pays a rebuild its in-sweep runs had warm
        // (dedup_minhash_tradeoff measured 10.1 in-sweep vs 22.5 "solo"
        // purely from that) — a pair where the solo number includes a
        // cold rebuild answers neither question the pairs exist for
        val warm = timedRun(spark, sfDir, name, selected(name))
        cleanup()
        // ≥5 reps for solo: the r15 root-cause probes showed these keys'
        // per-rep distribution is BIMODAL under host interference (mode
        // ~2 s with sporadic 3-6x reps when the hypervisor steals CPU /
        // the kernel stalls in sys time — vmstat-correlated, GC and code
        // cache exonerated), so a 3-rep median lands on the slow mode
        // with p ≈ 0.2-0.3 per key and the pairs re-open every round
        val soloReps = math.max(reps, 5)
        val times = (1 to soloReps).map { _ =>
          val r = timedRun(spark, sfDir, name, selected(name))
          cleanup()
          r
        }
        // a key that passed the sweep but throws here has no solo number
        (warm +: times).partitionMap(identity) match {
          case (Seq(), warmT +: ts) =>
            logReps(f"solo(warm=$warmT%.2f)", name, ts)
            Some(name -> median(ts))
          case _ => None
        }
      }
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def classes(m: Map[String, String]): String =
      obj(m.toSeq.sorted.map { case (k, c) => k -> ("\"" + c + "\"") })
    val total = results.map(_._2).sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":${obj(results)},"solo":${obj(soloPairs)},""" +
        s""""failed":${classes(failed)},""" +
        s""""prepare_failed":${classes(prepareFailed)},""" +
        s""""reps":$reps,"sf":"$sfDir"}"""
    // full line (per-query breakdown), then a durable file copy, then a
    // SHORT final line — the r1 driver tail-capture truncated the 4 KB full
    // line and lost the total; the short line cannot be truncated away.
    println(full)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")), full)
    catch { case e: Throwable =>
      System.err.println(s"[bench] file write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_failed":${failed.size},"sf":"$sfDir"}""")
    spark.stop()
  }

  private type Query =
    (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** One timed run of `fn` through the noop sink: Right(elapsed seconds),
    * or Left(exception class) when it throws — a thrown key is a failure,
    * never a time. The timing window is this whole function and nothing
    * else, so cleanup() structurally CANNOT land inside it (the r2/r3 bug
    * class was cleanup creeping into the timed expression).
    */
  private[graft] def timedRun(spark: SparkSession, sfDir: String,
      name: String, fn: Query): Either[String, Double] = {
    val t0 = System.nanoTime()
    val failure =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        Some(e.getClass.getName)
      }
    val dt = (System.nanoTime() - t0) / 1e9
    // TRACE=1: stamp each rep as it finishes so an external sampler
    // (jstack/top) can be correlated with the slow rep it caught
    if (sys.env.get("SPARK_GRAFT_BENCH_TRACE").contains("1"))
      System.err.println(f"[bench] trace ${System.currentTimeMillis()}%d " +
        f"$name $dt%.2f")
    failure.toLeft(dt)
  }

  /** Time every query `reps` times, `cleanup` after each rep (after
    * timedRun returned: provably outside the window). Returns the rep
    * times of the keys that never threw, and failed key → exception
    * class for the rest: a key whose run throws is reported, not timed.
    */
  private[graft] def sweep(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)], reps: Int, cleanup: () => Unit)
      : (Seq[(String, Seq[Double])], Map[String, String]) = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timed = queries.flatMap { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val r = timedRun(spark, sfDir, name, fn)
        cleanup()
        r
      }
      runs.partitionMap(identity) match {
        case (Seq(), times) =>
          logReps("sweep", name, times)
          Some(name -> times)
        case (cls +: _, _) =>
          failed(name) = cls
          None
      }
    }
    (timed, failed.toMap)
  }

  // true median: average of the two middle elements for even sizes (the
  // upper-middle pick would report the WORSE of two runs at reps=2)
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  // per-rep series to stderr: medians hide WHICH rep was slow, and the
  // r14 dedup_minhash_lsh postmortem stalled for a round on exactly that
  // (first-touch JIT vs sustained inflation vs bimodal plans all median
  // the same) — one line per key makes the next dispute self-serve
  private def logReps(tag: String, name: String, ts: Seq[Double]): Unit =
    System.err.println(s"[bench] $tag $name reps=" +
      ts.map(t => f"$t%.2f").mkString(","))
}
