package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Glacier

/** Zone-map pruning: commits record per-part column min/max/null stats
  * from the parquet footers (no scan), and `readBetween` opens only the
  * parts whose recorded range can intersect the bound — an Iceberg-style
  * data-skipping read over the snapshot layer.
  */
class GlacierStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def tmpRoot(): String =
    SparkTestSession.scratchDir("glacier-stats-test")

  /** Three appended commits with disjoint `round` ranges, one part each. */
  private def threeRounds(g: Glacier): Unit =
    for (r <- 1 to 3) {
      val df = spark.range(100).select(
        lit(r.toLong).as("round"),
        (col("id") + r * 1000).as("seq"),
        concat(lit(s"u$r-"), col("id")).as("url"),
        (col("id").cast("double") / (r * 7)).as("score"),
      ).coalesce(1)
      g.commit(spark, Seq(g.TableWrite("docs", df, g.Append)),
        Map("round" -> r.toLong))
    }

  test("footer stats recorded per part: long, double and string columns") {
    val g = new Glacier(tmpRoot())
    threeRounds(g)
    val m = g.currentManifest.get
    val parts = m.tables("docs").partitions
    assert(parts.size === 1) // delta of the LAST commit only (lineage is per-commit)
    val st = parts.head.stats
    assert(st("round").tpe === "long")
    assert(st("round").min === Some("3") && st("round").max === Some("3"))
    assert(st("seq").min === Some("3000") && st("seq").max === Some("3099"))
    assert(st("score").tpe === "double")
    assert(st("url").tpe === "string")
    assert(st("url").min === Some("u3-0"))
    assert(st.values.forall(_.nulls === 0L))
  }

  test("readBetween prunes parts by range and stays exact") {
    val g = new Glacier(tmpRoot())
    threeRounds(g)

    // full read sees all three parts
    val full = g.read(spark, "docs").get
    assert(full.inputFiles.length === 3)
    assert(full.count() === 300)

    // round = 2 only: one part opened, result identical to the filter
    val pruned = g.readBetween(spark, "docs", "round", 2L, 2L).get
    assert(pruned.inputFiles.length === 1)
    assert(pruned.filter(col("round") === 2).count() === 100)
    assert(pruned.count() === 100)

    // seq range spanning commits 1-2 prunes commit 3
    val seqPruned = g.readBetween(spark, "docs", "seq", 1050L, 2050L).get
    assert(seqPruned.inputFiles.length === 2)
    assert(seqPruned.filter(col("seq").between(1050, 2050)).count() === 101)

    // string bounds prune too
    val urlPruned = g.readBetween(spark, "docs", "url", "u3-", "u3-~").get
    assert(urlPruned.inputFiles.length === 1)

    // disjoint range: no parts at all
    assert(g.readBetween(spark, "docs", "round", 9L, 10L).isEmpty)
  }

  test("parts from dirs whose manifests expired are kept (conservative)") {
    val g = new Glacier(tmpRoot())
    threeRounds(g)
    g.expireSnapshots(keepLast = 1)
    // snapshot-1/2 manifests are gone but their dirs are still referenced;
    // their parts have no reachable stats and must be INCLUDED, not dropped
    val pruned = g.readBetween(spark, "docs", "round", 3L, 3L).get
    assert(pruned.inputFiles.length === 3)
    assert(pruned.filter(col("round") === 3).count() === 100)
  }

  test("merge into: upsert overwrites matches, inserts new, keeps history") {
    import spark.implicits._
    val g = new Glacier(tmpRoot())
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    // missing table → merge is the initial load
    val snap1 = g.mergeInto(spark, "kv", base, "k")
    val updates = Seq((2L, "b2", 25L), (4L, "d", 40L)).toDF("k", "s", "v")
    val snap2 = g.mergeInto(spark, "kv", updates, "k")
    val after = g.read(spark, "kv").get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(after.toSeq === Seq((1L, "a", 10L), (2L, "b2", 25L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // pre-merge state stays time-travelable (the audit trail)
    val before = g.read(spark, "kv", Some(snap1)).get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(before.toSeq === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(snap2 > snap1)
    // ambiguous MERGE source (duplicate keys) is refused, table untouched
    val dup = Seq((5L, "x", 1L), (5L, "y", 2L)).toDF("k", "s", "v")
    val err = intercept[IllegalArgumentException] {
      g.mergeInto(spark, "kv", dup, "k")
    }
    assert(err.getMessage.contains("duplicate"))
    assert(g.read(spark, "kv").get.count() === 4)
  }

  test("bloom index: point lookups skip parts, definite absence is free") {
    val g = new Glacier(tmpRoot())
    threeRounds(g) // 3 parts; url = u<round>-<0..99>
    assert(g.buildBloomIndex(spark, "docs", "url") === 3)
    // present URL: only the claiming part opens; the row is found
    val hit = g.readPoint(spark, "docs", "url", "u2-50").get
    assert(hit.inputFiles.length === 1)
    assert(hit.filter(col("url") === "u2-50").count() === 1)
    // absent URL: no part claims it → None, zero I/O
    assert(g.readPoint(spark, "docs", "url", "definitely-absent-xyz").isEmpty)
    // un-indexed column: conservative fallback to the full read
    assert(g.readPoint(spark, "docs", "seq", "1000").get
      .inputFiles.length === 3)
  }

  test("zorder compaction: readBetween prunes on EITHER clustered column") {
    val g = new Glacier(tmpRoot())
    // full 64×64 grid, one row per cell — two INDEPENDENT dimensions
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"),
      expr("(id div 64) % 64").as("y"), // div: integral — `/` is double
      col("id").as("payload"))
    g.commit(spark, Seq(g.TableWrite("grid", df.repartition(8), g.Append)))
    // round-robin parts each span ~the full x AND y range → nothing prunes
    val before = g.readBetween(spark, "grid", "y", 0L, 7L).get
    assert(before.inputFiles.length === 8)

    g.compactZOrdered(spark, "grid", Seq("x", "y"),
      parts = 16, bitsPerCol = 8)

    // rows preserved exactly through the rewrite
    val all = g.read(spark, "grid").get
    assert(all.count() === 4096)
    assert(all.agg(sum(col("payload"))).collect()(0).getLong(0)
      === (0L until 4096L).sum)

    // 16 z-range parts ≈ aligned 16×16 squares of the grid: a 1/8-range
    // predicate on EITHER dimension touches only the 4 squares of one
    // stripe — a lexicographic (x, y) sort would serve only x
    val px = g.readBetween(spark, "grid", "x", 0L, 7L).get
    val py = g.readBetween(spark, "grid", "y", 0L, 7L).get
    assert(px.inputFiles.length < 8, s"x opened ${px.inputFiles.length}/16")
    assert(py.inputFiles.length < 8, s"y opened ${py.inputFiles.length}/16")
    // pruned reads stay supersets of the true matches
    assert(px.filter(col("x") <= 7).count() === 8 * 64)
    assert(py.filter(col("y") <= 7).count() === 8 * 64)
  }

  test("nested/array columns are skipped, not mis-statted") {
    val g = new Glacier(tmpRoot())
    val df = spark.range(10).select(
      col("id"),
      array(struct(lit("text").as("kind"), col("id").cast("string").as("t")))
        .as("spans"))
    g.commit(spark, Seq(g.TableWrite("t", df, g.Replace)))
    val st = g.currentManifest.get.tables("t").partitions.head.stats
    assert(st.contains("id"))
    assert(!st.keys.exists(_.startsWith("spans")))
  }
}
