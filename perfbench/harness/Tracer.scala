package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer counters for traced runs, from three listeners the
  * benchmark registers itself (scheduler/task events, query executions,
  * streaming progress) plus the codegen counters. Spans (operation, build,
  * write, job, stage, streaming batch) are kept in memory with epoch-ms
  * times and handed back by [[summary]].
  *
  * Events arrive on the listener bus asynchronously, so [[end]] drains the
  * bus before it closes an operation: every event seen between [[begin]]
  * and that drain belongs to the current operation.
  */
final class Tracer(spark: SparkSession, cores: Int) {

  private final class OpTrace(val name: String, val pass: Int) {
    val startMs: Long = System.currentTimeMillis()
    val jobs = mutable.Map.empty[Int, (Long, Long)]
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.Map.empty[Int, (Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val batches = mutable.ArrayBuffer.empty[(Long, Long)]
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  @volatile private var cur: OpTrace = null
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attached = false
  private var compiles0 = 0L
  private var compileNs0 = 0L
  private var fs0 = (0L, 0L)

  // bytes through every Hadoop FileSystem in this JVM (local mode runs the
  // tasks in it too): XML fetches, scans, commits and temp files alike
  private def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  private def add(k: String, v: Double): Unit = {
    val o = cur
    if (o != null) o.synchronized { o.c(k) += v }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = cur
      if (o != null) o.synchronized {
        o.jobs(e.jobId) = (e.time, -1L)
        e.stageIds.foreach(s => o.stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = cur
      if (o != null) o.synchronized {
        o.jobs.get(e.jobId).foreach(j => o.jobs(e.jobId) = (j._1, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val o = cur
      val i = e.stageInfo
      if (o != null) o.synchronized {
        o.stages(i.stageId) = (i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerDriverAccumUpdates => writeStats(u)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val o = cur
      if (o == null) return
      o.synchronized {
        if (e.reason != Success) o.c("task_failures") += 1
        o.c("tasks") += 1
        o.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          o.c("task_s") += m.executorRunTime / 1e3
          o.c("cpu_s") += m.executorCpuTime / 1e9
          o.c("gc_s") += m.jvmGCTime / 1e3
          o.c("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
          o.c("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
          o.c("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        e.taskInfo.accumulables.foreach { a =>
          (a.name, a.update) match {
            case (Some(n @ ("xml_input_ok" | "xml_input_failed" |
                "records_emitted")), Some(v: java.lang.Long)) =>
              o.c(n) += v.doubleValue
            case _ => ()
          }
        }
      }
    }
  }

  // file writes report their totals as driver-side metric updates, one
  // event per write command
  private def writeStats(u: SparkListenerDriverAccumUpdates): Unit = {
    val o = cur
    if (o == null) return
    o.synchronized {
      u.accumUpdates.foreach { case (id, v) =>
        BenchBus.accumName(id) match {
          case Some("number of written files") => o.c("sink_files") += v
          case Some("written output") => o.c("sink_bytes") += v
          case _ => ()
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (p, s) =>
        add(s"phase_$p", s.durationMs / 1e3)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
      : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val o = cur
      if (o == null) return
      val p = e.progress
      val d = (k: String) => Option(p.durationMs.get(k)).map(_.doubleValue)
        .getOrElse(0.0)
      o.synchronized {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        o.batches += ((start, p.batchDuration))
        o.c("stream_plan_ms") += d("queryPlanning")
        o.c("stream_commit_ms") += d("commitOffsets") + d("walCommit")
        p.stateOperators.foreach { s =>
          o.c("state_rows") += s.numRowsTotal
          o.c("state_commit_ms") += s.commitTimeMs
        }
      }
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def begin(name: String, pass: Int): Unit = {
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    fs0 = fsBytes()
    cur = new OpTrace(name, pass)
  }

  private def span(parent: String, id: String, kind: String, start: Long,
      durMs: Double): Unit =
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "start_ms" -> start, "dur_ms" -> durMs)

  /** Closes the current operation; returns its layer counters. */
  def end(wallS: Double, out: Harness.Outcome): Map[String, Any] = {
    BenchBus.drain(spark.sparkContext)
    val o = cur
    cur = null
    val wallMs = wallS * 1e3
    val opEnd = o.startMs + wallMs.toLong
    val opId = s"p${o.pass}/${o.name}"
    span(s"p${o.pass}", opId, "op", o.startMs, wallMs)
    out match {
      case Harness.Ok(b, w, _) =>
        span(opId, s"$opId/build", "build", o.startMs, b * 1e3)
        span(opId, s"$opId/write", "write", o.startMs + (b * 1e3).toLong,
          w * 1e3)
      case _ => ()
    }
    val jobIv = o.jobs.toSeq.map { case (j, (s, e)) =>
      (j, s, if (e < 0) opEnd else e) }
    jobIv.foreach { case (j, s, e) =>
      span(opId, s"$opId/job$j", "job", s, (e - s).toDouble)
    }
    o.stages.foreach { case (st, (s, e)) =>
      val parent = o.stageJob.get(st).map(j => s"$opId/job$j").getOrElse(opId)
      span(parent, s"$opId/stage$st", "stage", s, (e - s).toDouble)
    }
    o.batches.zipWithIndex.foreach { case ((s, d), i) =>
      span(opId, s"$opId/batch$i", "batch", s, d.toDouble)
    }
    // longest stage: max ÷ median task time
    val skew = o.stages.toSeq.sortBy { case (_, (s, e)) => s - e }.headOption
      .flatMap { case (st, _) => o.stageTaskMs.get(st) }
      .filter(_.nonEmpty).map { ts =>
        val sorted = ts.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }.getOrElse(0.0)
    val batchMs = o.batches.map(_._2.toDouble).sorted
    val (fsRead, fsWritten) = fsBytes()
    o.c.toMap ++ Map(
      "jobs" -> o.jobs.size.toDouble,
      "stages" -> o.stages.size.toDouble,
      "core_busy" -> o.c("task_s") / (wallS * cores),
      "stage_skew" -> skew,
      "codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "codegen_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "stream_batches" -> batchMs.size.toDouble,
      "fs_read_b" -> (fsRead - fs0._1).toDouble,
      "fs_write_b" -> (fsWritten - fs0._2).toDouble,
      "batch_ms" -> batchMs)
  }

  def summary(): Map[String, Any] = Map("spans" -> spans)
}
