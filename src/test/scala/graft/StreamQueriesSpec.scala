package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries

/** The seven streaming-replay entries, end to end through the engine:
  * pinned results at sf0.001, no leaked cache, and empty inputs. */
class StreamQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private val Sf = "/root/testdata/sf0.001"

  /** (rows, order-insensitive checksum): the wrapping sum of one xxhash64
    * per row over every column — independent of row order and of the JVM
    * time zone (timestamps hash as epoch micros). */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.toSeq.map(col): _*))
      .collect().map(_.getLong(0))
    (hs.length.toLong, hs.sum)
  }

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Drop whatever earlier specs left cached in the shared session, so a
    * leak is charged to the entry that made it. */
  private def clearPinned(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Rows and checksum of each entry at sf0.001, recorded from the
    * per-entry replay code before the shared harness replaced it. */
  private val Pinned: Map[String, (Long, Long)] = Map(
    "q_stream_dedup_replay" -> (500L, 3493935718691762769L),
    "q_stream_window_counts" -> (477L, 5267876386942534974L),
    "q_stream_static_join" -> (410L, 6564585197936584197L),
    "q_stream_stream_join" -> (91L, 6844052345131673745L),
    "q_stream_sink_replay" -> (1000L, 807755811898778212L),
    "q_stream_sessionize_replay" -> (946L, 6313775213965498390L),
    "q_stream_session_window" -> (946L, -4126464543865933536L),
  )

  StreamQueries.entries.foreach { e =>
    test(s"${e.name}: rows and checksum are pinned at sf0.001") {
      assert(fingerprint(run(e.name, Sf)) === Pinned(e.name))
    }
  }

  test("every entry releases the frames it pins") {
    StreamQueries.entries.foreach { e =>
      clearPinned()
      run(e.name, Sf).collect()
      val left = spark.sparkContext.getPersistentRDDs.size
      assert(left === 0, s"${e.name} left $left cached RDD(s)")
    }
  }

  test("zero-row events, documents and customer: every entry returns 0 rows") {
    val empty = BenchDirs.scratchDir("stream-queries-empty")
    Seq("events", "documents", "customer").foreach { t =>
      Tables.t(spark, Sf, t).limit(0)
        .write.parquet(s"$empty/$t.parquet")
    }
    StreamQueries.entries.foreach { e =>
      assert(run(e.name, empty).count() === 0L, e.name)
    }
  }
}
