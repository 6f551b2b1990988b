package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Glacier

class GlacierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def tmpRoot(): String =
    SparkTestSession.scratchDir("glacier-test")

  test("commit / read / append / replace / time-travel") {
    val g = new Glacier(tmpRoot())
    val df1 = spark.range(10).select(col("id"), (col("id") * 2).as("v"))
    val s1 = g.commit(spark, Seq(
      g.TableWrite("t_app", df1, g.Append),
      g.TableWrite("t_rep", df1, g.Replace),
    ), Map("round" -> 1L))
    assert(s1 === 1L)
    assert(g.rowCount("t_app") === 10L)

    val df2 = spark.range(10, 15).select(col("id"), (col("id") * 2).as("v"))
    val s2 = g.commit(spark, Seq(
      g.TableWrite("t_app", df2, g.Append),
      g.TableWrite("t_rep", df2, g.Replace),
    ), Map("round" -> 2L))

    // append accumulates, replace rewrites
    assert(g.read(spark, "t_app").get.count() === 15L)
    assert(g.read(spark, "t_rep").get.count() === 5L)
    assert(g.rowCount("t_app") === 15L)

    // time travel to snapshot 1
    assert(g.read(spark, "t_app", Some(s1)).get.count() === 10L)
    assert(g.read(spark, "t_rep", Some(s1)).get.count() === 10L)

    // history is ordered, metrics preserved
    val hist = g.history
    assert(hist.map(_.snapshotId) === Seq(1L, 2L))
    assert(hist.last.metrics("round") === 2L)
    assert(hist.last.parentId === Some(1L))

    // untouched tables carry forward
    val s3 = g.commit(spark, Seq(g.TableWrite("t_rep", df1, g.Replace)))
    assert(g.read(spark, "t_app", Some(s3)).get.count() === 15L)

    // per-partition lineage recorded: bytes AND exact per-part row counts
    // (footer metadata — no scan), parts summing to the delta's rows
    val m = g.manifest(s2)
    assert(m.tables("t_app").partitions.nonEmpty)
    assert(m.tables("t_app").partitions.forall(_.bytes > 0))
    assert(m.tables("t_app").partitions.forall(_.rows >= 0))
    assert(m.tables("t_app").partitions.map(_.rows).sum === 5L) // df2 delta
    assert(m.tables("t_rep").partitions.map(_.rows).sum === 5L)
    // a thunk-less write's table row count comes from the same footers
    assert(m.tables("t_rep").rows === 5L)
  }

  test("missing table / empty root / unknown snapshot behave") {
    val g = new Glacier(tmpRoot())
    assert(g.currentSnapshotId.isEmpty)
    assert(g.read(spark, "nope").isEmpty)
    assert(g.rowCount("nope") === 0L)
    assert(g.history.isEmpty)
    // unknown snapshot ids → None/0, not an exception
    val df = spark.range(3).toDF("id")
    g.commit(spark, Seq(g.TableWrite("t", df, g.Append)))
    assert(g.read(spark, "t", Some(999L)).isEmpty)
    assert(g.rowCount("t", Some(999L)) === 0L)
  }

  test("compaction folds an append table's dirs to one, rows identical") {
    val g = new Glacier(tmpRoot())
    (1 to 5).foreach { i =>
      g.commit(spark, Seq(g.TableWrite("seen",
        spark.range((i - 1) * 10L, i * 10L).toDF("id"), g.Append)))
    }
    assert(g.currentManifest.get.tables("seen").files.size === 5)
    val before = g.read(spark, "seen").get.collect().map(_.getLong(0)).toSet

    val snap = g.compact(spark, "seen", parts = 2)
    assert(snap.isDefined)
    val st = g.currentManifest.get.tables("seen")
    assert(st.files.size === 1)
    assert(st.partitions.size <= 2)
    assert(st.rows === 50L)
    val after = g.read(spark, "seen").get.collect().map(_.getLong(0)).toSet
    assert(after === before)
    // pre-compaction snapshots still time-travel
    assert(g.read(spark, "seen", Some(3L)).get.count() === 30L)
  }

  test("snapshot expiry keeps time travel to retained snapshots only") {
    val root = tmpRoot()
    val g = new Glacier(root)
    (1 to 5).foreach { i =>
      g.commit(spark, Seq(
        g.TableWrite("app", spark.range(i * 10L).toDF("id"), g.Append),
        g.TableWrite("rep", spark.range(i.toLong).toDF("id"), g.Replace)))
    }
    val expired = g.expireSnapshots(keepLast = 2)
    assert(expired === Seq(1L, 2L, 3L))
    // current + previous still fully readable (append history dirs kept:
    // they are referenced by the retained manifests)
    assert(g.read(spark, "app").get.count() === 150L)
    assert(g.read(spark, "rep", Some(4L)).get.count() === 4L)
    // expired snapshots are gone
    assert(g.read(spark, "app", Some(2L)).isEmpty)
    assert(g.history.map(_.snapshotId) === Seq(4L, 5L))
    // unreferenced data dirs (old Replace dirs) were deleted
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "data")).iterator()
    val names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(dataDirs).asScala.map(_.getFileName.toString).toSet
    // staging dirs are snap-<id>-<tag>: snapshot 1's Replace'd `rep` dir
    // must be gone from whatever tagged dir staged it (its manifest was
    // expired, so nothing references it)
    val snap1RepDirs = names.filter(_.startsWith("snap-1-")).filter(n =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "data", n, "rep")))
    assert(snap1RepDirs.isEmpty, s"unreferenced dirs survived: $snap1RepDirs")
  }

  test("compaction + expiry bound a growing seen/bloom state (crawl shape)") {
    import spark.implicits._
    val g = new Glacier(tmpRoot())
    val sk = graft.crawl.SeenSet.BloomSeen(100, 0.01)
    (1 to 4).foreach { i =>
      val urls = (1 to 20).map(k => s"u://$i-$k").toDF("url")
      g.commit(spark, Seq(
        g.TableWrite("seen", urls, g.Append),
        g.TableWrite("bloom",
          graft.crawl.SeenSet.buildShardsWith(urls, 4, sk), g.Append)))
    }
    assert(g.read(spark, "bloom").get.count() > 4) // delta rows accreted
    g.compact(spark, "seen", parts = 2)
    g.compact(spark, "bloom", parts = 1,
      transformFn = graft.crawl.SeenSet.foldShardsWith(_, sk))
    val bloom = g.read(spark, "bloom").get
    assert(bloom.count() <= 4) // one row per shard
    // folded filters still contain every url
    val all = bloom.select("shard", "bloom").as[(Int, Array[Byte])].collect()
      .map(t => org.apache.spark.util.sketch.BloomFilter.readFrom(t._2))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    (1 to 4).foreach(i => (1 to 20).foreach(k =>
      assert(all.mightContainString(s"u://$i-$k"))))
    assert(g.read(spark, "seen").get.count() === 80L)
    g.expireSnapshots(keepLast = 1)
    assert(g.read(spark, "seen").get.count() === 80L)
  }
}
