package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench's failure contract: a query that throws — while its DataFrame is
  * built or only once the noop write executes it — is reported in
  * `failed` with its exception class and never timed, so a crash can no
  * longer pass as a fast key in the artifact.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query lands in `failed` with its exception class and " +
    "is left out of the timed keys") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val buildBoom: (SparkSession, String) => DataFrame =
      (_, _) => throw new ArithmeticException("thrown while building")
    val execBoom: (SparkSession, String) => DataFrame =
      (s, _) => s.range(1).select(raise_error(lit("thrown while executing")))
    var cleanups = 0
    val (timed, failed) = Bench.sweep(spark, sf,
      Seq("ok_key" -> ok, "build_boom" -> buildBoom, "exec_boom" -> execBoom),
      reps = 2, () => cleanups += 1)
    assert(timed.map(_._1) === Seq("ok_key"))
    assert(timed.head._2.size === 2 && timed.head._2.forall(_ >= 0.0))
    assert(failed.keySet === Set("build_boom", "exec_boom"))
    assert(failed("build_boom") === "java.lang.ArithmeticException")
    assert(failed("exec_boom").startsWith("org.apache.spark."),
      s"execution-time failure must carry Spark's class: ${failed("exec_boom")}")
    assert(cleanups === 6, "cleanup runs after every rep, failed or not")
  }
}
