package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries

/** The seven streaming-replay entries, end to end through the engine: no
  * leaked cache, and empty inputs. Their results at sf0.001 are pinned
  * with every other entry's by [[EntryRegistrySpec]]. */
class StreamQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private val Sf = "/root/testdata/sf0.001"

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Drop whatever earlier specs left cached in the shared session, so a
    * leak is charged to the entry that made it. */
  private def clearPinned(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
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
