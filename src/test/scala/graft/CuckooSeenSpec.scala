package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.crawl.SeenSet.{BloomSeen, CuckooSeen}

/** The cuckoo-filter seen-set path (BASELINE.json north rule names
  * "Bloom/cuckoo-filter URL-seen set"): filter-level invariants
  * (never-false-negative, delete, merge, saturation, serialization),
  * sketch-generic routing exactness, end-to-end crawl parity under the
  * cuckoo sketch, and the deletion capability Bloom lacks — forget +
  * re-crawl.
  */
class CuckooSeenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val nShards = 4

  // ---- filter-level invariants --------------------------------------------

  test("never false-negative; serialization round-trips") {
    val f = CuckooFilter.create(2000)
    val keys = (0 until 1500).map(i => s"u://k/$i")
    keys.foreach(f.insert)
    assert(!f.saturated)
    keys.foreach(k => assert(f.mightContain(k), s"false negative for $k"))
    val back = CuckooFilter.readFrom(f.serialize())
    keys.foreach(k => assert(back.mightContain(k)))
    assert(back.size === f.size && back.buckets === f.buckets)
    // false-positive rate is small (16-bit fingerprints): probe absentees
    val fps = (0 until 2000).count(i => f.mightContain(s"v://absent/$i"))
    assert(fps < 20, s"$fps false positives out of 2000 (expect ~2^-13/bucket)")
  }

  test("delete removes membership for inserted keys and nothing else") {
    val f = CuckooFilter.create(1000)
    val keys = (0 until 600).map(i => s"u://k/$i")
    keys.foreach(f.insert)
    val (gone, kept) = keys.splitAt(200)
    gone.foreach(k => assert(f.delete(k), s"delete missed $k"))
    kept.foreach(k => assert(f.mightContain(k), s"delete broke live key $k"))
    // deleted keys may still collide-in, but the bulk must be gone
    val still = gone.count(f.mightContain)
    assert(still < 10, s"$still of 200 deleted keys still present")
  }

  test("merge unions membership; mismatched geometry refuses") {
    val a = CuckooFilter.create(1000)
    val b = CuckooFilter.create(1000)
    (0 until 300).foreach(i => a.insert(s"a://$i"))
    (0 until 300).foreach(i => b.insert(s"b://$i"))
    a.mergeInPlace(b)
    (0 until 300).foreach { i =>
      assert(a.mightContain(s"a://$i")); assert(a.mightContain(s"b://$i"))
    }
    val tiny = CuckooFilter.create(10)
    intercept[IllegalArgumentException](a.mergeInPlace(tiny))
  }

  test("overfill saturates instead of dropping (answers TRUE for all)") {
    val f = CuckooFilter.create(64)
    val keys = (0 until 5000).map(i => s"u://$i")
    keys.foreach(f.insert)
    assert(f.saturated)
    keys.foreach(k => assert(f.mightContain(k)))
    assert(f.mightContain("never://inserted")) // conservative, not exact
    assert(!f.delete(keys.head)) // saturated filters refuse deletes
  }

  test("property: random insert/delete churn never false-negatives a live key") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Model-based churn: a multiset of live keys tracks what the filter
    // MUST answer true for. Ops honor the class contract — delete only
    // keys the model says are inserted (the exact-table pre-filter the
    // seen set performs), and a saturated filter's refused delete leaves
    // the key live in the model too (conservative on both sides).
    val keySpace = (0 until 400).map(i => s"u://prop/$i")
    val genOps: Gen[List[(Boolean, Int)]] =
      Gen.listOfN(600, Gen.zip(Gen.prob(0.7), Gen.choose(0, keySpace.size - 1)))
    val prop = Prop.forAll(genOps) { ops =>
      // capacity 256 << 400-key space so some runs saturate, some don't
      val f = CuckooFilter.create(256)
      val live = scala.collection.mutable.Map.empty[Int, Int]
      ops.foreach { case (isInsert, k) =>
        if (isInsert) { f.insert(keySpace(k)); live(k) = live.getOrElse(k, 0) + 1 }
        else if (live.getOrElse(k, 0) > 0 && f.delete(keySpace(k))) {
          val n = live(k) - 1
          if (n == 0) live.remove(k) else live(k) = n
        }
      }
      val fresh = CuckooFilter.readFrom(f.serialize())
      live.keys.forall { k =>
        f.mightContain(keySpace(k)) && fresh.mightContain(keySpace(k))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"churn property failed: ${res.status}")
  }

  test("property: merge of churned filters contains both sides' live keys") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genKeys: Gen[(List[Int], List[Int])] = Gen.zip(
      Gen.listOfN(150, Gen.choose(0, 999)), Gen.listOfN(150, Gen.choose(1000, 1999)))
    val prop = Prop.forAll(genKeys) { case (as, bs) =>
      val a = CuckooFilter.create(512)
      val b = CuckooFilter.create(512)
      as.foreach(i => a.insert(s"m://$i"))
      bs.foreach(i => b.insert(s"m://$i"))
      a.mergeInPlace(b)
      (as.forall(i => a.mightContain(s"m://$i"))
        && bs.forall(i => a.mightContain(s"m://$i")))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, s"merge property failed: ${res.status}")
  }

  // ---- sketch-generic routing exactness -----------------------------------

  test("filterNewWith(cuckoo) splits new vs seen exactly, same as bloom") {
    val seen = (0 until 300).map(i => s"u://$i").toDF("url")
    val candidates = (200 until 600).map(i => s"u://$i").toDF("url")
    val expected = (300 until 600).map(i => s"u://$i").toSet
    for (sk <- Seq(CuckooSeen(1000), BloomSeen(1000, 0.01))) {
      val shards = SeenSet.buildShardsWith(seen, nShards, sk)
      val fresh = SeenSet.filterNewWith(candidates, shards, seen, nShards, sk)
        .select("url").as[String].collect().toSet
      assert(fresh === expected, s"sketch $sk")
    }
  }

  test("saturated cuckoo shards still yield exact results (route-only)") {
    // filters sized for 8 urls get 1200 → saturation; exact confirm saves us
    val seen = (0 until 1200).map(i => s"u://$i").toDF("url")
    val sk = CuckooSeen(8)
    val shards = SeenSet.buildShardsWith(seen, nShards, sk)
    val candidates = (1000 until 1600).map(i => s"u://$i").toDF("url")
    val fresh = SeenSet.filterNewWith(candidates, shards, seen, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh === (1200 until 1600).map(i => s"u://$i").toSet)
  }

  test("delta rows merge per shard at probe time (append-only state)") {
    val sk = CuckooSeen(1000)
    val d1 = SeenSet.buildShardsWith((0 until 200).map(i => s"u://$i").toDF("url"), nShards, sk)
    val d2 = SeenSet.buildShardsWith((200 until 400).map(i => s"u://$i").toDF("url"), nShards, sk)
    val state = d1.unionByName(d2)
    val seen = (0 until 400).map(i => s"u://$i").toDF("url")
    val fresh = SeenSet.filterNewWith(
      (300 until 500).map(i => s"u://$i").toDF("url"), state, seen, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh === (400 until 500).map(i => s"u://$i").toSet)
    // and foldShardsWith collapses to one row per shard with equal membership
    val folded = SeenSet.foldShardsWith(state, sk)
    assert(folded.count() === folded.select("shard").distinct().count())
    val fresh2 = SeenSet.filterNewWith(
      (300 until 500).map(i => s"u://$i").toDF("url"), folded, seen, nShards, sk)
      .select("url").as[String].collect().toSet
    assert(fresh2 === (400 until 500).map(i => s"u://$i").toSet)
  }

  // ---- forget: the capability Bloom lacks ---------------------------------

  test("forgetUrls removes from exact table and sketch on both paths") {
    val seen = (0 until 400).map(i => s"u://$i").toDF("url")
    val forget = ((100 until 150).map(i => s"u://$i") :+ "u://not-seen").toDF("url")
    for (sk <- Seq(CuckooSeen(1000), BloomSeen(1000, 0.01))) {
      val state = SeenSet.buildShardsWith(seen, nShards, sk)
      val (newSeen, newState) = SeenSet.forgetUrls(seen, state, forget, nShards, sk)
      val left = newSeen.select("url").as[String].collect().toSet
      assert(left === ((0 until 100) ++ (150 until 400)).map(i => s"u://$i").toSet,
        s"sketch $sk")
      // forgotten urls re-enter as definitely-new or via exact confirm;
      // kept urls stay seen — routing + confirm stays exact
      val candidates = (0 until 400).map(i => s"u://$i").toDF("url")
      val fresh = SeenSet.filterNewWith(candidates, newState, newSeen, nShards, sk)
        .select("url").as[String].collect().toSet
      assert(fresh === (100 until 150).map(i => s"u://$i").toSet, s"sketch $sk")
    }
  }

  test("forgetUrls deduplicates its input: duplicated urls delete exactly once") {
    // left_semi keeps duplicate left rows; without the distinct, a url
    // appearing twice would fire two cuckoo deletes — the second can strip a
    // colliding live key's fingerprint (sketch false negative). Pin the fix:
    // a duplicated forget list must yield shard bytes IDENTICAL to the
    // distinct list's.
    val sk = CuckooSeen(1000)
    val seen = (0 until 300).map(i => s"u://$i").toDF("url")
    val state = SeenSet.buildShardsWith(seen, nShards, sk)
    val once = (50 until 80).map(i => s"u://$i")
    val dup = (once ++ once ++ once).toDF("url")
    val (_, stateDup) = SeenSet.forgetUrls(seen, state, dup, nShards, sk)
    val (_, stateOnce) = SeenSet.forgetUrls(seen, state, once.toDF("url"), nShards, sk)
    val a = stateDup.select("shard", "bloom").as[(Int, Array[Byte])].collect().toMap
    val b = stateOnce.select("shard", "bloom").as[(Int, Array[Byte])].collect().toMap
    assert(a.keySet === b.keySet)
    a.keys.foreach(s => assert(java.util.Arrays.equals(a(s), b(s)),
      s"shard $s bytes differ between dup and distinct forget input"))
  }

  test("create guard rejects over-capacity sizing with a clear error") {
    // b=2^29 would overflow (b*4).toInt → NegativeArraySizeException; the
    // guard must refuse BEFORE allocation with the real ceiling
    val over = (1L << 28) * 4L * 95L / 100L + 1L
    val ex = intercept[IllegalArgumentException](CuckooFilter.create(over))
    assert(ex.getMessage.contains("raise shard count"))
    // and anything the guard admits must size without arithmetic overflow:
    // minBuckets at the ceiling is exactly 2^28 (no allocation test — that
    // array is 2 GiB — just the sizing arithmetic the guard protects)
    val ceil = (1L << 28) * 4L * 95L / 100L
    val minBuckets = math.max(1L, math.ceil(ceil / 4.0 / 0.95).toLong)
    var bk = 1L
    while (bk < minBuckets) bk <<= 1
    assert(bk <= (1L << 28) && (bk * 4) <= Int.MaxValue)
  }

  test("cuckoo forget edits shards in place: forgotten urls miss the sketch again") {
    // with cuckoo, a forgotten url should MISS the sketch again (no exact
    // confirm needed) — measure via the filter directly
    val sk = CuckooSeen(1000)
    val seen = (0 until 200).map(i => s"u://$i").toDF("url")
    val state = SeenSet.buildShardsWith(seen, nShards, sk)
    val forget = (0 until 50).map(i => s"u://$i").toDF("url")
    val (_, newState) = SeenSet.forgetUrls(seen, state, forget, nShards, sk)
    val probes = newState.select("shard", "bloom")
      .as[(Int, Array[Byte])].collect().toMap
      .map { case (s, b) => s -> CuckooFilter.readFrom(b) }
    // every remaining url still hits some shard; most forgotten urls miss
    val stillIn = (150 until 200).forall { i =>
      probes.values.exists(_.mightContain(s"u://$i"))
    }
    assert(stillIn)
    val forgottenHits = (0 until 50).count { i =>
      probes.values.exists(_.mightContain(s"u://$i"))
    }
    assert(forgottenHits < 5,
      s"$forgottenHits of 50 forgotten urls still in some cuckoo shard")
  }

  // ---- end-to-end: crawl parity + forget/re-crawl under cuckoo ------------

  private val repo = RepoConfig(seed = 77L, universe = 120,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 60,
    cursorPages = 3, gpcrmdCount = 12, mddbCount = 10, atlasCount = 8)
  private val budget = Map("zenodo" -> 25, "figshare" -> 15, "osf" -> 18,
    "nomad" -> 4, "gpcrmd" -> 10, "mddb" -> 8, "atlas" -> 8)
  private val maxRounds = 8

  private def cfg(root: String, sketch: String) =
    CrawlConfig(repo, budget, maxRounds, root, salts = 4, bloomShards = 8,
      bloomExpectedPerShard = 1 << 12, seenSketch = sketch)

  test("full crawl under the cuckoo sketch matches the sequential oracle") {
    val oracle = ReferenceCrawl.run(repo, budget, maxRounds)
    val root = SparkTestSession.scratchDir("crawl-cuckoo")
    CrawlLoop.run(spark, cfg(root, "cuckoo"))
    val g = new graft.tables.Glacier(root)
    val engineLog = g.read(spark, "crawl_log").get
      .orderBy("round", "seqInRound")
      .select("round", "seqInRound", "url", "status")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toVector
    val oracleLog = oracle.log.map(e => (e.round, e.seqInRound, e.url, e.status))
    assert(engineLog === oracleLog)
    val engineSeen = g.read(spark, "seen").get
      .select("url").as[String].collect().toSet
    assert(engineSeen === oracle.seen)
    // resume validation knows the sketch: a bloom-config resume must refuse
    val ex = intercept[IllegalArgumentException](
      CrawlLoop.run(spark, cfg(root, "bloom")))
    assert(ex.getMessage.contains("sketch"))
  }

  test("forget + re-crawl: forgotten URLs are fetched again, others skipped") {
    val root = SparkTestSession.scratchDir("crawl-forget")
    // enough rounds to DRAIN the frontier: the re-crawl assertions need the
    // first crawl to have finished with nothing pending
    val c = cfg(root, "cuckoo").copy(maxRounds = 20)
    CrawlLoop.run(spark, c)
    assert(new graft.tables.Glacier(root).rowCount("frontier") === 0)
    val g = new graft.tables.Glacier(root)
    val fetchedOnce = g.read(spark, "crawl_log").get
      .filter(col("status") === 200)
      .select("url").as[String].collect()
    val victims = fetchedOnce.filter(_.startsWith("gpcrmd://")).take(5).toSeq
    assert(victims.size === 5)
    val logBefore = g.read(spark, "crawl_log").get.count()
    CrawlLoop.forget(spark, g, c, victims.toDF("url"))
    // seen no longer holds the victims; frontier carries them
    assert(g.read(spark, "seen").get.filter(col("url").isin(victims: _*)).count() === 0)
    assert(g.read(spark, "frontier").get.count() === 5)
    // re-run with a round budget that allows the extra round
    CrawlLoop.run(spark, c.copy(maxRounds = 24))
    val logRows = g.read(spark, "crawl_log").get
    assert(logRows.filter(col("url").isin(victims: _*)).count() === 10,
      "each victim fetched exactly twice (once per crawl)")
    assert(logRows.count() === logBefore + 5, "non-victims not re-fetched")
  }

  test("forget of a still-PENDING frontier url does not duplicate it") {
    // pending urls are already in the seen table, so forget's left_semi
    // passes — without the anti-join vs the carried frontier it would union
    // a SECOND live row and the url would be fetched twice
    val root = SparkTestSession.scratchDir("crawl-forget-pending")
    val c = cfg(root, "cuckoo").copy(maxRounds = 2) // stop mid-crawl
    CrawlLoop.run(spark, c)
    val g = new graft.tables.Glacier(root)
    val pending = g.read(spark, "frontier").get
      .select("url").as[String].collect()
    assert(pending.nonEmpty, "need a non-empty frontier for this test")
    val victim = pending.head
    CrawlLoop.forget(spark, g, c, Seq(victim).toDF("url"))
    val rows = g.read(spark, "frontier").get.filter(col("url") === victim)
    assert(rows.count() === 1, s"$victim must appear exactly once on the frontier")
    // finish the crawl: the victim is fetched exactly once
    CrawlLoop.run(spark, c.copy(maxRounds = 24))
    val hits = g.read(spark, "crawl_log").get
      .filter(col("url") === victim).count()
    assert(hits === 1, s"pending-then-forgotten url fetched $hits times, want 1")
  }
}
