package graft

import java.sql.Timestamp

/** `win_volatility_parkinson` on a day whose low is 0: ln(H/L) has no
  * finite value there, so the day must surface as NULL (the DuckDB twin's
  * x/0) — counted in n_days, absent from both averages — instead of the
  * ANSI DIVIDE_BY_ZERO that crashed the key at sf0.1.
  */
class VolatilityZeroSpec extends SparkSpec {

  test("a zero-low day is counted in n_days and drops out of both avgs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_parkinson_zero").toString
    try {
      import spark.implicits._
      def at(day: Int, hour: Int) =
        Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
      // day 1: H/L = 4; day 2: L = 0 (no finite ln); day 3: zero range
      Seq((0L, at(1, 1), 2.0), (1L, at(1, 2), 8.0),
        (2L, at(2, 1), 0.0), (3L, at(2, 2), 5.0),
        (4L, at(3, 1), 3.0), (5L, at(3, 2), 3.0))
        .map { case (id, ts, v) => (id, ts, 1L, "view", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val rows = SparkEntry.queries("win_volatility_parkinson")(spark, dir)
        .collect()
      assert(rows.length === 1, "the key must return its row, not throw")
      val r = rows.head
      assert(r.getAs[Long]("n_days") === 3L)
      // only days 1 and 3 average: ln 4 and 0
      val ln4 = math.log(4.0)
      assert(r.getAs[Double]("mean_log_range") ===
        BigDecimal(ln4 / 2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      assert(r.getAs[Double]("parkinson_sigma") ===
        BigDecimal(math.sqrt(ln4 * ln4 / 2 / 2.772588722239781))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
