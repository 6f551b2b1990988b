package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.GlacierSink
import graft.tables.Glacier

/** Exactly-once streaming → Glacier: micro-batches land atomically with
  * their batch id; re-delivered batch ids are skipped (idempotent write
  * side), fresh ids append. The atomicity leg (data + state in one flip)
  * rides the commit machinery GlacierPipelineSpec kill-point-tests.
  */
class GlacierSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("stream appends exactly once; replayed batch ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = SparkTestSession.scratchDir("glacier-sink")
    val g = new Glacier(root)
    val ckpt = SparkTestSession.scratchDir("glacier-sink-ckpt")

    // drive two micro-batches through the REAL foreachBatch path
    val mem = MemoryStream[Long]
    val q = mem.toDS().toDF("v")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(GlacierSink.appendBatch(g, "nums") _)
      .start()
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()

    val read = g.read(spark, "nums").get
    assert(read.count() === 5)
    assert(GlacierSink.lastCommittedBatch(g, "nums", spark) === Some(1L))

    // failure-replay simulation: Structured Streaming re-delivers a batch
    // with the SAME id after a crash — the sink must skip it even if the
    // replayed frame differs (deterministic-source contract makes equal
    // content the normal case; skipping by id is what guarantees no dups)
    GlacierSink.appendBatch(g, "nums")(Seq(98L, 99L).toDF("v"), 1L)
    assert(g.read(spark, "nums").get.count() === 5)
    GlacierSink.appendBatch(g, "nums")(Seq(98L, 99L).toDF("v"), 0L)
    assert(g.read(spark, "nums").get.count() === 5)

    // a FRESH id appends, and the state high-water mark advances with it
    GlacierSink.appendBatch(g, "nums")(Seq(6L).toDF("v"), 2L)
    val after = g.read(spark, "nums").get
    assert(after.count() === 6)
    assert(after.agg(sum(col("v"))).collect()(0).getLong(0) === 21L)
    assert(GlacierSink.lastCommittedBatch(g, "nums", spark) === Some(2L))

    // state survives unrelated commits to the same root (carried tables)
    g.commit(spark, Seq(g.TableWrite("other", Seq(7L).toDF("x"), g.Replace)))
    assert(GlacierSink.lastCommittedBatch(g, "nums", spark) === Some(2L))
    assert(g.read(spark, "nums").get.count() === 6)
  }
}
