package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ingest.{CitiesCountJob, GraftArgs, GraftJob, IngestMetrics,
  RevenueByFilingJob, XmlIngest}

/** JVM side of the benchmark: one fresh JVM per run, driven by one
  * closed-loop client (this thread issues one operation at a time).
  *
  * Reads a plan JSON written by `perfbench/run.py`, runs the setup rounds
  * (session + from-scratch staging of the workload's families), pass 1
  * (cold) and the warm passes over the workload's operations, then one
  * untimed output-check execution per operation, and writes a result JSON.
  * It reaches the program only through its public entry points:
  * `SparkEntry.queries`, the per-family `ensure*Staged`,
  * `XmlIngest.fetchParse` and `GraftJob.run`.
  */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One timed operation: `build` makes the DataFrame (eager work such as
    * checkpoints, collects, streams and the ETL jobs' writes happens here),
    * then it runs to the noop sink. `output` gives the DataFrame whose rows
    * the untimed output check writes out; by default one more build.
    * `freshTmp` runs every call in an empty `java.io.tmpdir`, for keys
    * whose write goes through `Staging`'s write-once check and would
    * otherwise write only on their first call in the JVM.
    */
  final case class Op(name: String, build: SparkSession => DataFrame,
      output: Option[SparkSession => DataFrame] = None,
      freshTmp: Boolean = false)

  /** Outcome of one call: both phases' seconds, or the failure's class. */
  sealed trait Outcome
  final case class Ok(buildS: Double, writeS: Double, schema: String)
      extends Outcome
  final case class Failed(error: String, message: String) extends Outcome

  final class MissingKey(k: String)
      extends NoSuchElementException(s"no key $k in SparkEntry.queries")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times one operation. A throw, in either phase, is a failure carrying
    * the exception class, never a time.
    */
  def timed(spark: SparkSession, op: Op): Outcome = {
    try {
      val t0 = System.nanoTime()
      val df = op.build(spark)
      val buildS = secs(t0)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      Ok(buildS, secs(t1), df.schema.simpleString)
    } catch {
      case e: Throwable =>
        Failed(e.getClass.getName, String.valueOf(e.getMessage).take(300))
    }
  }

  def catalogOp(key: String, dataDir: String, freshTmp: Boolean): Op =
    Op(key, s => SparkEntry.queries.get(key) match {
      case Some(f) => f(s, dataDir)
      case None => throw new MissingKey(key)
    }, freshTmp = freshTmp)

  /** Runs `f` with `java.io.tmpdir` set to a new empty directory under
    * `root` when `fresh`; the directory is deleted afterwards and the
    * seconds that takes are returned beside `f`'s result.
    */
  def inTmp[A](fresh: Boolean, root: String, n: Int)(f: => A): (A, Double) =
    if (!fresh) (f, 0.0)
    else {
      val prev = System.getProperty("java.io.tmpdir")
      val dir = new File(root, s"op$n")
      dir.mkdirs()
      System.setProperty("java.io.tmpdir", dir.getPath)
      val a = try f finally System.setProperty("java.io.tmpdir", prev)
      val t = System.nanoTime()
      rmTree(dir)
      (a, secs(t))
    }

  /** The two `GraftJob`s, each in two output formats, plus a bare
    * `XmlIngest.fetchParse` over the same manifest.
    */
  def etlOps(manifest: String, partitions: Int, warehouse: String): Seq[Op] = {
    val jobs: Seq[GraftJob] = Seq(CitiesCountJob, RevenueByFilingJob)
    val formats = Seq("parquet" -> "gzip", "orc" -> "zlib")
    val runs = for (j <- jobs; (fmt, codec) <- formats) yield {
      val table = s"${j.name}_$fmt"
      Op(s"etl.${j.name}.$fmt", s => j.run(s, GraftArgs(manifest, table,
        numInputPartitions = partitions, numOutputPartitions = 2,
        outputFormat = fmt, outputCompression = codec,
        warehouseDir = Some(warehouse))),
        output = Some(s => s.table(table)))
    }
    runs :+ Op("ingest.fetch_parse", s => XmlIngest.fetchParse(s, manifest,
      new File(manifest).getParent, partitions).toDF())
  }

  def stager(family: String): (SparkSession, String) => Unit = {
    import graft.queries._
    family match {
      case "Physical" => Physical.ensureStaged
      case "Pipeline" => Pipeline.ensureStaged
      case "SimSearch" => SimSearch.ensureStaged
      case "TextOps" => TextOps.ensureStaged
      case "EntityRes" => EntityRes.ensureStaged
      case "StreamingOps" => graft.streaming.StreamingOps.ensureStaged
      case "Multimodal" => (s, d) => {
        Multimodal.ensureStaged(s, d); Multimodal.ensurePackedStaged(s, d); ()
      }
      case "Ingest" => (s, d) => { Ingest.ensureBulkStaged(s, d); () }
    }
  }

  def session(cores: Int, warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Releases what an operation pinned (cached blocks, streams, memory-sink
    * views, state stores); runs between operations, outside every window.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.streams.active.foreach(_.stop())
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    org.apache.spark.sql.execution.streaming.state.StateStoreJanitor
      .unloadAll()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val str = (k: String) => plan(k).toString
    val num = (k: String) => plan(k).asInstanceOf[Number].doubleValue
    val dataDir = str("data_dir")
    val tmpRoot = str("tmp_root")
    val warehouse = str("warehouse")
    val cores = num("cores").toInt
    val seed = num("seed").toLong
    val traced = plan("trace") == true
    val strs = (k: String) => plan(k) match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case l: Iterable[_] => l.map(_.toString).toSeq
    }
    val families = strs("families")
    val keys = strs("keys")
    val manifest = plan.get("manifest").collect { case m: String => m }
    val freshTmpKeys = strs("fresh_tmp_keys").toSet
    val ops = keys.map(k => catalogOp(k, dataDir, freshTmpKeys(k))) ++
      manifest.toSeq.flatMap(etlOps(_, 2 * cores, warehouse))

    // Setup: JVM launch and the session once, then the workload's staging
    // from scratch in each round, each into its own java.io.tmpdir
    // (Staging.dir reads it per call) so every round pays it in full.
    val launchS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (sessionStart, t0) = (System.currentTimeMillis(), System.nanoTime())
    val spark = session(cores, warehouse)
    val sessionS = secs(t0)
    val setup = (1 to num("setup_rounds").toInt).map { round =>
      val dir = new File(tmpRoot, s"setup$round")
      dir.mkdirs()
      System.setProperty("java.io.tmpdir", dir.getPath)
      val fam = families.map { f =>
        val (start, t) = (System.currentTimeMillis(), System.nanoTime())
        stager(f)(spark, dataDir)
        (f, start, secs(t))
      }
      Map("round" -> round, "staging_s" -> fam.map(_._3).sum,
        "staging_bytes" -> du(dir),
        "families" -> fam.map { case (f, start, d) =>
          f -> Map("start_ms" -> start, "s" -> d) }.toMap)
    }

    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val schemas = mutable.Map.empty[String, Set[String]]
    var cleanupS = 0.0
    val rng = new scala.util.Random(seed)

    // Pass 1 is cold (first touch of every operation in this JVM); then
    // `warm_passes` warm passes. Traced runs alternate traced and untraced
    // warm passes so the tracer's overhead can be reported.
    var pass = 1
    while (pass <= 1 + num("warm_passes").toInt) {
      val tracedPass = tracer.isDefined && (pass == 1 || pass % 2 == 0)
      tracer.foreach(t => if (tracedPass) t.attach() else t.detach())
      // pass 1 keeps the pinned order, so first-touch costs land on the
      // same operations in every run; warm passes run in a seeded order
      val order = if (pass == 1) ops else rng.shuffle(ops)
      val (passStart, gc0) = (System.currentTimeMillis(), gcMs())
      var wall = 0.0
      order.foreach { op =>
        tracer.filter(_ => tracedPass).foreach(_.begin(op.name, pass))
        var opWall = 0.0
        val (out, rmS) = inTmp(op.freshTmp, tmpRoot, records.size) {
          val t0 = System.nanoTime()
          val o = timed(spark, op)
          opWall = secs(t0)
          o
        }
        cleanupS += rmS
        wall += opWall
        val layers = tracer.filter(_ => tracedPass)
          .map(_.end(opWall, out)).getOrElse(Map.empty)
        records += (out match {
          case Ok(b, w, schema) =>
            schemas(op.name) = schemas.getOrElse(op.name, Set.empty) + schema
            Map("pass" -> pass, "op" -> op.name, "ok" -> true,
              "build_s" -> b, "write_s" -> w, "wall_s" -> opWall,
              "layers" -> layers)
          case Failed(e, m) =>
            Map("pass" -> pass, "op" -> op.name, "ok" -> false,
              "error" -> e, "message" -> m, "wall_s" -> opWall,
              "layers" -> layers)
        })
        val tc = System.nanoTime()
        try cleanup(spark) catch { case _: Throwable => () }
        cleanupS += secs(tc)
      }
      val gcS = (gcMs() - gc0) / 1e3
      val tg = System.nanoTime()
      System.gc()
      cleanupS += secs(tg)
      passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> tracedPass,
        "start_ms" -> passStart, "gc_s" -> gcS)
      pass += 1
    }
    tracer.foreach(_.detach())

    // Output check: one more, untimed execution per operation, written to
    // parquet for run.py to compare; plus one metered fetchParse for the
    // ingest file counts.
    val checkDir = str("check_dir")
    val check = ops.map { op =>
      op.name -> (try inTmp(op.freshTmp, tmpRoot, records.size) {
        val df = op.output.getOrElse(op.build)(spark)
        df.write.mode("overwrite").parquet(s"$checkDir/${op.name}")
        val seen = schemas.getOrElse(op.name, Set.empty) +
          df.schema.simpleString
        Map("ok" -> true, "schema" -> df.schema.simpleString,
          "stable_schema" -> (seen.size == 1))
      }._1 catch { case e: Throwable =>
        Map("ok" -> false, "error" -> e.getClass.getName)
      })
    }.toMap
    val ingestCheck = manifest.map { m =>
      val metrics = IngestMetrics(spark)
      XmlIngest.fetchParse(spark, m, new File(m).getParent, 2 * cores,
        Some(metrics)).toDF().write.format("noop").mode("overwrite").save()
      Map("ok" -> metrics.ok.value, "failed" -> metrics.failed.value,
        "records" -> metrics.records.value)
    }
    val oracle = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))

    val result = Map(
      "launch_s" -> launchS, "session_s" -> sessionS,
      "session_start_ms" -> sessionStart,
      "setup" -> setup, "ops" -> records, "passes" -> passes,
      "check" -> check, "ingest_check" -> ingestCheck.orNull,
      "oracle_sql" -> oracle.toMap, "cleanup_s" -> cleanupS,
      "peak_rss_mb" -> vmHwmMb(), "heap_peak_mb" -> heapPeakMb(),
      "cores" -> cores,
      "trace" -> tracer.map(_.summary()).orNull)
    mapper.writeValue(new File(str("out")), result)
    spark.stop()
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
}
