package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the repo's own mains and of the test suite:
  * `local[cpus]` with one shuffle partition per core, UTC session time
  * zone, no UI, WARN logging, plus per-caller `extra` settings. The
  * driver's `Bench` and `Verify` mains are frozen and keep their own
  * builders. */
object LocalSession {
  def apply(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
