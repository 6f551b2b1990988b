package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CrawlStream
import graft.streaming.CrawlStream.{BreakerEvent, FetchEvent}

/** Structured-Streaming crawl telemetry: windowed host rates match the
  * batch twin on the same rows, and the per-host circuit breaker emits
  * exactly-once pause/resume transitions through stateful processing —
  * incrementally, across multiple micro-batches.
  */
class CrawlStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  private val events = Seq(
    // zenodo: two failures then recovery, then a long failure streak
    FetchEvent(ts(0), "zenodo", "z/1", 200, 1),
    FetchEvent(ts(10), "zenodo", "z/2", 404, 3),
    FetchEvent(ts(20), "zenodo", "z/3", 404, 3),
    FetchEvent(ts(30), "zenodo", "z/4", 200, 1),
    FetchEvent(ts(40), "zenodo", "z/5", 404, 3),
    FetchEvent(ts(50), "zenodo", "z/6", 502, 3),
    FetchEvent(ts(60), "zenodo", "z/7", 404, 3),
    FetchEvent(ts(70), "zenodo", "z/8", 404, 3), // stays open: no 2nd pause
    FetchEvent(ts(80), "zenodo", "z/9", 200, 2), // resume
    // figshare: never crosses the threshold
    FetchEvent(ts(5), "figshare", "f/1", 404, 3),
    FetchEvent(ts(15), "figshare", "f/2", 200, 1),
    FetchEvent(ts(25), "figshare", "f/3", 404, 3),
    FetchEvent(ts(35), "figshare", "f/4", 200, 1),
  )

  test("windowed host rates: streaming result equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[FetchEvent]
    val q = CrawlStream.hostRates(mem.toDF())
      .writeStream.format("memory").queryName("rates")
      .outputMode("complete").start()
    try {
      // two micro-batches — the windows must accumulate incrementally
      mem.addData(events.take(7))
      q.processAllAvailable()
      mem.addData(events.drop(7))
      q.processAllAvailable()
      val streamed = spark.table("rates")
        .select(col("window.start").cast("long").as("w"), col("host"),
          col("fetched"), col("ok"), col("errors"), col("attempts"))
        .collect().map(_.toString).sorted
      val batch = CrawlStream.hostRates(events.toDF())
        .select(col("window.start").cast("long").as("w"), col("host"),
          col("fetched"), col("ok"), col("errors"), col("attempts"))
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("circuit breaker: exactly-once pause/resume across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[FetchEvent]
    val q = CrawlStream.circuitBreaker(mem.toDS(), threshold = 3)
      .writeStream.format("memory").queryName("breaker")
      .outputMode("append").start()
    try {
      // split MID-STREAK (after z/6, streak=2): state must carry across
      // micro-batches for the pause to fire on z/7 in the second batch
      mem.addData(events.take(6))
      q.processAllAvailable()
      mem.addData(events.drop(6))
      q.processAllAvailable()
      val out = spark.table("breaker").as[BreakerEvent].collect().toSet
      assert(out === Set(
        BreakerEvent("zenodo", "pause", 3),
        BreakerEvent("zenodo", "resume", 4)))
    } finally q.stop()
  }
}
