package graft

import org.apache.spark.sql.SparkSession

/** `SparkEntry.prepare` isolation contract (r9 postmortem: one family's
  * staging failure under a single try/catch unstaged everything after it
  * and skipped the warm-up, adding ~120 s of in-run index rebuilds to the
  * bench). One stage blowing up must (a) not stop later stages, (b) not
  * stop the warm-up, (c) name itself on stderr.
  */
class PrepareSpec extends SparkSpec {

  test("a failing stage does not prevent later stages or the warm-up, " +
    "and is named on stderr") {
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val stages = Seq[(String, (SparkSession, String) => Unit)](
      "boomFamily" -> ((_, _) => throw new RuntimeException("staging exploded")),
      "afterA" -> ((_, _) => { ran += "afterA"; () }),
      "afterB" -> ((_, _) => { ran += "afterB"; () }))
    val errBuf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val failed = try SparkEntry.prepare(spark, sf, stages)
    finally System.setErr(realErr)
    val err = errBuf.toString
    assert(failed === Map("boomFamily" -> "java.lang.RuntimeException"),
      "the failed family must be returned for Bench's prepare_failed")
    assert(ran.toSeq === Seq("afterA", "afterB"),
      "stages after a failure must still run")
    assert(err.contains("boomFamily staging FAILED"),
      s"failure must be named on stderr; got: $err")
    assert(!err.contains("warm-up FAILED"),
      s"warm-up must still run (and succeed) after a staging failure: $err")
  }

  test("the production stager list covers all eight staging families, " +
    "most drift-prone input (events via StreamingOps) last") {
    val names = SparkEntry.stagers.map(_._1)
    assert(names.toSet ===
      Set("Physical", "Pipeline", "SimSearch", "TextOps", "Multimodal",
        "Ingest", "EntityRes", "StreamingOps"))
    assert(names.last === "StreamingOps")
  }
}
