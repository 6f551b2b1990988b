package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.SeenSet
import graft.crawl.SeenSet.BloomSeen

/** The URL-seen membership layer: Bloom shards route, the exact table is
  * authoritative — a Bloom false positive must never drop a URL (north-rule
  * exactness). The last test FORCES false positives with a tiny
  * over-saturated filter and asserts exactness anyway.
  */
class SeenSetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val nShards = 4

  test("BloomAgg custom aggregator builds per-shard filters") {
    val urls = (0 until 500).map(i => s"u://$i").toDF("url")
    val agg = udaf(new SeenSet.BloomAgg(1000, 0.01))
    val shards = urls
      .select(SeenSet.shardCol(col("url"), nShards).as("shard"), col("url"))
      .groupBy($"shard").agg(agg($"url").as("bloom"))
      .as[(Int, Array[Byte])].collect().toMap
    assert(shards.nonEmpty)
    val merged = shards.values.map(BloomFilter.readFrom)
    // every inserted url hits its shard's filter (no false negatives)
    val all = BloomFilter.create(1000, 0.01)
    merged.foreach(all.mergeInPlace)
    (0 until 500).foreach(i => assert(all.mightContainString(s"u://$i")))
  }

  test("buildShards + filterNew: exact split of new vs seen") {
    val seen = (0 until 300).map(i => s"u://$i").toDF("url")
    val sk = BloomSeen(1000, 0.01)
    val shards = SeenSet.buildShardsWith(seen, nShards, sk)
    val candidates = (200 until 600).map(i => s"u://$i").toDF("url")
    val fresh = SeenSet.filterNewWith(candidates, shards, seen, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh === (300 until 600).map(i => s"u://$i").toSet)
  }

  test("over-saturated Bloom (many false positives) still yields exact results") {
    // 5000 urls into filters sized for 50 → fpp ≈ 1; exact confirm must save us
    val seen = (0 until 5000).map(i => s"u://$i").toDF("url")
    val sk = BloomSeen(50, 0.01)
    val shards = SeenSet.buildShardsWith(seen, nShards, sk)
    val candidates = (4000 until 9000).map(i => s"u://$i").toDF("url")
    val fresh = SeenSet.filterNewWith(candidates, shards, seen, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh === (5000 until 9000).map(i => s"u://$i").toSet)
  }

  test("filterNew merges delta-appended shard rows (multiple rows per shard)") {
    // bloom state as the crawl commits it: one delta row-set per round
    val seenA = (0 until 200).map(i => s"u://$i").toDF("url")
    val seenB = (200 until 400).map(i => s"u://$i").toDF("url")
    val sk = BloomSeen(1000, 0.01)
    val deltas = SeenSet.buildShardsWith(seenA, nShards, sk)
      .unionByName(SeenSet.buildShardsWith(seenB, nShards, sk))
    val seenAll = seenA.unionByName(seenB)
    val candidates = (0 until 600).map(i => s"u://$i").toDF("url")
    val fresh = SeenSet.filterNewWith(candidates, deltas, seenAll, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh === (400 until 600).map(i => s"u://$i").toSet)
  }

  test("folding delta shards accumulates membership across deltas") {
    val sk = BloomSeen(500, 0.01)
    val a = SeenSet.buildShardsWith(
      (0 until 100).map(i => s"a$i").toDF("url"), nShards, sk)
    val b = SeenSet.buildShardsWith(
      (0 until 100).map(i => s"b$i").toDF("url"), nShards, sk)
    val merged = SeenSet.foldShardsWith(a.unionByName(b), sk)
      .select("shard", "bloom").as[(Int, Array[Byte])].collect().toMap
    val f = merged.values.map(BloomFilter.readFrom)
      .reduce { (x, y) => x.mergeInPlace(y); x }
    (0 until 100).foreach { i =>
      assert(f.mightContainString(s"a$i"))
      assert(f.mightContainString(s"b$i"))
    }
  }

  test("inserted counts ride the state: build totals, fold sums per shard") {
    val urls = (0 until 500).map(i => s"u://$i").toDF("url")
    val sk = BloomSeen(1000, 0.01)
    val built = SeenSet.buildShardsWith(urls, nShards, sk)
    val counts = built.select("shard", "inserted")
      .as[(Int, Long)].collect().toMap
    assert(counts.values.sum === 500L)
    assert(counts.values.forall(_ > 0)) // xxhash spreads across 4 shards

    // two deltas folded: per-shard counts are the sums of the delta counts
    val d2 = SeenSet.buildShardsWith(
      (500 until 700).map(i => s"u://$i").toDF("url"), nShards, sk)
    val folded = SeenSet.foldShardsWith(built.unionByName(d2), sk)
      .select("shard", "inserted").as[(Int, Long)].collect().toMap
    assert(folded.values.sum === 700L)
    val c2 = d2.select("shard", "inserted").as[(Int, Long)].collect().toMap
    folded.foreach { case (s, n) =>
      assert(n === counts.getOrElse(s, 0L) + c2.getOrElse(s, 0L))
    }
  }

  test("pre-upgrade state (no inserted column) folds and forgets without error") {
    // a Glacier root written before fill accounting: 2-column state rows
    val sk = BloomSeen(500, 0.01)
    val legacy = SeenSet.buildShardsWith(
      (0 until 200).map(i => s"u://$i").toDF("url"), nShards, sk)
      .select("shard", "bloom")
    val folded = SeenSet.foldShardsWith(legacy, sk)
    assert(folded.columns.toSeq === Seq("shard", "bloom", "inserted"))
    // baseline unknown → 0, never a crash
    assert(folded.select("inserted").as[Long].collect().forall(_ === 0L))

    // mixed-era SINGLE table: one parquet read where pre-column part-files
    // surface as NULL inserted next to counted rows — fold must not NPE
    // and must sum the known part
    val fresh = SeenSet.buildShardsWith(
      (200 until 300).map(i => s"u://$i").toDF("url"), nShards, sk)
    val mixed = legacy.withColumn("inserted", lit(null).cast("long"))
      .unionByName(fresh)
    val foldedMixed = SeenSet.foldShardsWith(mixed, sk)
    assert(foldedMixed.select("inserted").as[Long].collect().sum === 100L)

    // forget on a legacy bloom state rebuilds touched shards (and the
    // rebuild recomputes real counts for them)
    val seen = (0 until 200).map(i => s"u://$i").toDF("url")
    val (newSeen, newState) = SeenSet.forgetUrls(
      seen, legacy, Seq("u://5").toDF("url"), nShards, sk)
    assert(newSeen.count() === 199L)
    assert(newState.columns.contains("inserted"))
  }

  test("forgetUrls (cuckoo) decrements the forgotten shard's inserted count") {
    val sk = SeenSet.CuckooSeen(1 << 10)
    val seen = (0 until 300).map(i => s"u://$i").toDF("url")
    val state = SeenSet.buildShardsWith(seen, nShards, sk)
    val before = state.select("shard", "inserted")
      .as[(Int, Long)].collect().toMap
    val forget = Seq("u://7", "u://8", "u://absent").toDF("url")
    val (_, newState) = SeenSet.forgetUrls(seen, state, forget, nShards, sk)
    val after = newState.select("shard", "inserted")
      .as[(Int, Long)].collect().toMap
    assert(before.values.sum - after.values.sum === 2L) // absent url ignored
    assert(after.values.forall(_ >= 0L))
  }
}
