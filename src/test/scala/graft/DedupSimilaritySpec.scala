package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different words entirely here now friends"),
    (5L, "ab"), // fewer than 3 words → no shingles
  ).toDF("doc_id", "text")

  test("shingles: word 3-grams, short texts empty") {
    val sh = docs.select(col("doc_id"), DedupOps.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).length === 7) // 9 words → 7 3-grams
    assert(sh(1L).head === "the quick brown")
    assert(sh(1L).last === "the lazy dog")
    assert(sh(5L).isEmpty)
  }

  test("exact dedup groups duplicates, keeps lowest id") {
    val got = DedupOps.exactDedup(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(got.length === 4)
    val dupGroup = got.find(_.getLong(1) == 1L).get
    assert(dupGroup.getLong(2) === 2L) // docs 1 and 2 collapse
  }

  test("fused minhash expression == composable per-perm columns, bit-exact") {
    // the native one-pass Catalyst expression must reproduce
    // array_min(transform(sh, x => md5('p:' || x))) for every permutation —
    // the form the DuckDB oracle mirrors
    val sh = DedupOps.shingles(col("text"))
    val rows = docs.filter(size(sh) > 0)
      .select(col("doc_id"),
        DedupOps.minhashSigArray(sh).as("fused"),
        array((0 until 8).map(i => KernelReferences.minhashSig(sh, i)): _*)
          .as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"doc ${r.getLong(0)}")
    }
    // empty shingle array → null lanes (array_min-of-empty semantics)
    val empty = Seq((9L, "ab")).toDF("doc_id", "text")
      .select(DedupOps.minhashSigArray(DedupOps.shingles(col("text")))
        .as("s")).collect()(0).getSeq[String](0)
    assert(empty.length === 8 && empty.forall(_ == null))
    // interpreted eval path (no codegen) agrees with the kernel
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Array[Any](
      UTF8String.fromString("a b c"), UTF8String.fromString("b c d")))
    val direct = graft.functions.MinhashSignature.compute(arr, 2)
    assert(direct.numElements() === 2)
    assert(direct.getUTF8String(0).toString.matches("[0-9a-f]{32}"))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = DedupOps.minhashCandidatePairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → all bands collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near-dup (7/9 shared shingles... should share at least one band)")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("containment: embedded doc scores 1.0 in its direction, dup pair both") {
    // doc 6 = doc 1's text twice → sh(1) ⊆ sh(6) (9 distinct: 7 shared + 2
    // boundary shingles), so containment flags what Jaccard (7/9) dilutes
    val withEmbedded = docs.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog " +
        "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    val got = DedupOps.containmentOnCandidates(withEmbedded, 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got((1L, 2L)) === ((1.0, 1.0))) // exact dups contain each other
    assert(got((1L, 6L)) === ((1.0, 7.0 / 9.0))) // 1 embedded in 6
    assert(got((2L, 6L)) === ((1.0, 7.0 / 9.0)))
    // near-dup pair: 5 of 7 shingles shared, symmetric
    got.get((1L, 3L)).foreach(v => assert(v === ((5.0 / 7.0, 5.0 / 7.0))))
    // unrelated and too-short docs never appear
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!got.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("edit distance: zero for exact dups, exact DP count for near dups") {
    val got = DedupOps.editDistanceOnCandidates(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val len1 = "the quick brown fox jumps over the lazy dog".length.toLong
    assert(got((1L, 2L)) === ((0L, len1, len1, 1.0))) // exact dup pair
    // near-dup 3 differs from 1 by one word swap; distance is the exact
    // character-level DP result, similarity the exact IEEE division
    got.get((1L, 3L)).foreach { case (d, la, lb, sim) =>
      assert(d > 0L && d < la)
      assert(sim === 1.0 - d.toDouble / math.max(la, lb).toDouble)
    }
    // unrelated doc 4 never reaches the DP (not an LSH candidate)
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("duplicated spans: stride-1 windows catch a mid-chunk shared span") {
    // docs share a 4-token run at DIFFERENT offsets (1 vs 0) — an aligned
    // chunker misses it; stride-1 windows must find it
    val corpus = Seq(
      (1L, "x common run of words a"),
      (2L, "common run of words b c"),
      (3L, "nothing shared here at all"),
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(corpus, 4, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 1)
    val (h, occ, nDocs, first) = got.head
    assert(h === org.apache.commons.codec.digest.DigestUtils
      .md5Hex("common run of words"))
    assert((occ, nDocs, first) === ((2L, 2L, 1L)))
    // within-doc repetition alone (n_docs = 1) stays below the gate
    val rep = Seq((7L, "p q r s p q r s")).toDF("doc_id", "text")
    assert(DedupOps.duplicatedSpans(rep, 4, 2L).count() === 0L)
    assert(DedupOps.duplicatedSpans(rep, 4, 1L)
      .filter(col("n_occurrences") === 2).count() === 1L) // "p q r s" twice
  }

  test("simhash: identical texts equal, near dups within small hamming distance") {
    val sh = docs.select(col("doc_id"), DedupOps.simhash16(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= 6, s"hamming=$hamming")
    assert(sh(1L) >= 0 && sh(1L) < (1 << 16))
  }

  test("connected components: path-shaped cluster closes in O(log n) rounds") {
    // a 64-node PATH is plain min-propagation's worst case (64 rounds);
    // alternating small-star/large-star must close it logarithmically
    val path = (0L until 63L).map(i => (i, i + 1))
    val other = Seq((1001L, 1002L), (1002L, 1003L)) // second component
    val edges = (path ++ other).toDF("src", "dst")
    // localFinishEdges = 0 forces the DISTRIBUTED contraction — this test
    // pins the log-round closure, not the small-set shortcut
    val (stars, iters) = DedupOps.connectedComponents(edges, localFinishEdges = 0L)
    val got = stars.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 63L).foreach(i => assert(got(i) === 0L))
    assert(got(1002L) === 1001L && got(1003L) === 1001L)
    assert(!got.contains(0L) && !got.contains(1001L)) // roots emit no edge
    assert(iters <= 14, s"path of 64 took $iters rounds (expected ~2·log2)")
  }

  test("small-edge local finish equals the distributed fixed point") {
    // same worst-case path + side component, default threshold → the
    // driver union-find takes over at iteration 0; star edges must be
    // IDENTICAL to the distributed contraction's
    val path = (0L until 63L).map(i => (i, i + 1))
    val other = Seq((1001L, 1002L), (1002L, 1003L))
    val edges = (path ++ other).toDF("src", "dst")
    val (local, itersLocal) = DedupOps.connectedComponents(edges)
    val (dist, _) = DedupOps.connectedComponents(edges, localFinishEdges = 0L)
    assert(itersLocal === 0, "small input must not pay a distributed round")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(local) === pairs(dist))

    // MID-LOOP takeover: threshold 64 < the 65 input edges, so the entry
    // gate passes, at least one distributed star round runs, and the
    // union-find takes over an INTERMEDIATE contraction state (the edge
    // count must pass through <=64 on its way to the 64-edge fixed point)
    val (mid, itersMid) =
      DedupOps.connectedComponents(edges, localFinishEdges = 64L)
    assert(itersMid >= 1, "takeover must happen mid-contraction here")
    assert(pairs(mid) === pairs(dist))
  }

  test("connected components refuse non-long ids before any job") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(edges)
    }
    assert(ex.getMessage.contains("long"), ex.getMessage)
    val ints = Seq((1, 2)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      DedupOps.connectedComponentsCanonical(ints)
    }
  }

  test("quadratic-twin guard refuses oversized blocks, passes small ones") {
    val small = Seq((1L, "en"), (2L, "en"), (3L, "fr")).toDF("doc_id", "lang")
    // passes untouched under the cap
    assert(DedupOps.requireBoundedBlocks(small, Seq("lang"), "t", "t_lsh",
      cap = 2L).count() === 3L)
    // refuses loudly above it, naming the flagship
    val ex = intercept[IllegalArgumentException] {
      DedupOps.requireBoundedBlocks(small, Seq("lang"), "t", "t_lsh", cap = 1L)
    }
    assert(ex.getMessage.contains("t_lsh"))
    assert(ex.getMessage.contains("refused"))
  }

  test("cosine: self-similarity 1, orthogonal 0") {
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(2.0, 0.0, 0.0)),
    ).toDF("vec_id", "v")
    val a = e.as("a"); val b = e.as("b")
    val sims = a.join(b, col("a.vec_id") <= col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
              SimilarityOps.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(sims((1L, 2L))) < 1e-12)
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-12) // scale-invariant
  }

  test("brute-force top-k returns k rows ordered by similarity") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = SimilarityOps.bruteForceTopK(emb, 0L, 5).collect()
    assert(got.length === 5)
    val sims = got.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(!got.map(_.getLong(0)).contains(0L))
  }

  test("IVF probes a subset but still returns k ordered rows") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = SimilarityOps.ivfTopK(emb, 0L, 3, 5).collect()
    assert(got.length === 5)
    val labels = got.map(_.getInt(1)).toSet
    assert(labels.size <= 3, "results restricted to probed partitions")
  }

  test("paragraph dedup: corpus-wide first-wins over 8-word chunks") {
    // doc1: 2 chunks; doc2 repeats doc1's first chunk then adds 2 of its
    // own; doc3 is EXACTLY doc1's second chunk (drops out entirely);
    // doc4 is a short single chunk; doc5 repeats its own first chunk.
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h x y z w q r s t u v"),
      (3L, "i j"),
      (4L, "short words only"),
      (5L, "p q r s t u v w p q r s t u v w"),
    ).toDF("doc_id", "text")
    val got = DedupOps.paragraphDedup(corpus).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(t => t._1 -> t._2).toSeq ===
      Seq(1L -> 2L, 2L -> 2L, 4L -> 1L, 5L -> 1L)) // doc3 fully deduped
    // doc1 keeps both chunks in document order
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig1 = md.digest("a b c d e f g h\ni j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.find(_._1 == 1L).get._3 === sig1)
    // doc2 keeps only its OWN chunks (the shared first chunk went to doc1)
    val sig2 = md.digest("x y z w q r s t\nu v".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got.find(_._1 == 2L).get._3 === sig2)
  }

  test("incremental near-dup: delta docs matched against the index only") {
    // content-addressed buckets: doc 2, 12 land >= 90 (incoming delta);
    // 1, 3, 4 land < 90 (indexed corpus)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),   // indexed
      (2L, "the quick brown fox jumps over the lazy dog"),   // delta dup of 1
      (12L, "the quick brown fox jumps over the sleepy dog"), // delta near-dup of 1
      (3L, "completely different words entirely here now friends"), // indexed
      (4L, "the quick brown fox jumps over the lazy dog"),   // indexed dup of 1
    ).toDF("doc_id", "text")
    val got = DedupOps.incrementalNearDup(corpus, 0.5)
      .orderBy("new_doc", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // delta 2 matches BOTH indexed copies (1 and 4), never indexed 3 and
    // never another delta doc; near-dup 12 survives the 0.5 threshold
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq((2L, 1L), (2L, 4L), (12L, 1L), (12L, 4L)))
    assert(got.filter(_._1 == 2L).forall(_._3 === 1.0))
    assert(got.filter(_._1 == 12L).forall(t => t._3 > 0.5 && t._3 < 1.0))
  }

  test("hll sketch: accuracy, multiset-invariance, partition-order-free") {
    val vals = (1 to 20000).map(i => s"value-$i").toDF("t")
    val row = DedupOps.hllSketch(vals).collect()(0)
    val (exact, est) = (row.getLong(0), row.getDouble(4))
    assert(exact === 20000L)
    assert(math.abs(est - exact) / exact < 0.1,
      s"HLL estimate $est should be within 10% of $exact (σ ≈ 6.5%)")
    // duplicates change NOTHING (register max is multiset-invariant on
    // the estimate side; only exact_distinct re-counts)
    val dup = DedupOps.hllSketch(
      vals.union(vals.limit(5000)).repartition(9)).collect()(0)
    assert(dup.getDouble(4) === est)
    assert(dup.getDouble(3) === row.getDouble(3))
    assert(dup.getLong(0) === 20000L)
  }

  test("cluster representatives: argmax quality per component, sizes total") {
    val sf = "/root/testdata/sf0.001"
    val reps = SparkEntry.queries("q_cluster_representatives")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val comp = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))) // (doc, component)
    val quality = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.qualityExpr(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // one rep per component; member counts total the corpus
    assert(reps.map(_._1).distinct.length === reps.length)
    assert(reps.map(_._2).sum === comp.length)
    // the rep IS a member and has the max quality (ties -> lowest id)
    val members = comp.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    reps.foreach { case (c, _, rep, rq) =>
      assert(members(c).contains(rep))
      val best = members(c).map(d => (-quality(d), d)).min
      assert(rep === best._2 && rq === quality(rep))
    }
  }

  test("quantized centroids: exact nano-unit means, partition-order-free") {
    import org.apache.spark.sql.functions.{col, transform => htransform}
    // label 1: (0.5, -0.25) and (0.25, 0.75) → mean (0.375, 0.25)
    // (all values exact in binary AND at nano-unit grain → means exact)
    val emb = Seq(
      (1L, 1, Seq(0.5f, -0.25f)),
      (2L, 1, Seq(0.25f, 0.75f)),
      (3L, 2, Seq(1.0f, 0.0f)),
    ).toDF("vec_id", "label", "embedding")
    val e = emb.select(col("label"),
      htransform(col("embedding"), _.cast("double")).as("v"))
    val got = SimilarityOps.labelCentroidsQuantized(e)
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(got(0) === ((1, 2L, Seq(0.375, 0.25))))
    assert(got(1) === ((2, 1L, Seq(1.0, 0.0))))
    // repartitioned input produces the identical frame (order-independent
    // integral sums — THE property the quantization buys)
    val got8 = SimilarityOps.labelCentroidsQuantized(e.repartition(8))
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(got8.toSeq === got.toSeq)
  }

  test("ivf recall: probing every partition reproduces brute force exactly") {
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    // 10 labels in the fixture: nprobe=10 probes ALL partitions → the IVF
    // candidate set IS the corpus → recall must be exactly 1.0
    val full = SimilarityOps.ivfRecall(emb, 0L, nprobe = 10, k = 10).collect()(0)
    assert(full.getAs[Long]("n_overlap") === 10L)
    assert(full.getAs[Double]("recall") === 1.0)
    // partial probe: recall is a valid fraction of k
    val part = SimilarityOps.ivfRecall(emb, 0L, nprobe = 1, k = 10).collect()(0)
    val r = part.getAs[Double]("recall")
    assert(r >= 0.0 && r <= 1.0)
    assert(part.getAs[Long]("n_overlap") === math.round(r * 10))
  }

  test("simhash pairs: block LSH == brute-force hamming<=1, no dup pairs") {
    // ten docs incl. an exact dup (hamming 0) and assorted texts; the block
    // LSH must return EXACTLY the brute-force pairs at distance <= 1
    // (pigeonhole completeness) with each pair emitted once
    val ten = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the sleepy dog"),
      (4L, "completely different words entirely here now friends"),
      (5L, "alpha beta gamma delta"),
      (6L, "alpha beta gamma delta epsilon"),
      (7L, "one two three four five six"),
      (8L, "seven eight nine ten eleven"),
      (9L, "lorem ipsum dolor sit amet"),
      (10L, "pack my box with five dozen jugs"),
    ).toDF("doc_id", "text")
    val sketches = ten
      .select(col("doc_id"), DedupOps.simhash16(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sketches.keys; b <- sketches.keys if a < b
      if java.lang.Long.bitCount(sketches(a) ^ sketches(b)) <= 1
    } yield (a, b, java.lang.Long.bitCount(sketches(a) ^ sketches(b)).toLong))
      .toSet
    val got = DedupOps.simhashHammingPairs(ten, maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === got.toSet.size, "pair emitted more than once")
    assert(got.toSet === expected)
    assert(expected.contains((1L, 2L, 0L)), "exact dup must be at distance 0")
    // larger radius → d+1 blocks, still pigeonhole-complete vs brute force
    val expected3 = (for {
      a <- sketches.keys; b <- sketches.keys if a < b
      if java.lang.Long.bitCount(sketches(a) ^ sketches(b)) <= 3
    } yield (a, b, java.lang.Long.bitCount(sketches(a) ^ sketches(b)).toLong))
      .toSet
    val got3 = DedupOps.simhashHammingPairs(ten, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got3 === expected3)
  }

  // ---- native-kernel golden tests: each fused Catalyst expression must
  // reproduce its composable-column twin bit-for-bit (the twin is what the
  // DuckDB oracle mirrors) --------------------------------------------------

  test("native cosine == HOF cosine, bit-exact incl. mismatch/null/empty") {
    val vecs = Seq(
      (1L, Seq(1.0, 2.0, -3.5, 0.25), Seq(0.5, -1.0, 2.0, 4.0)),
      (2L, Seq(1e-17, 2e300, -3e-7, 1.0), Seq(7.0, 1e-300, 2.25, -8.5)),
      // (no zero-norm row: under ANSI mode the HOF's Divide throws on
      // 0/0 where the native kernel yields IEEE NaN — no such vectors
      // exist in any table, so the forms agree on the evaluated domain)
      (4L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch → null
    ).toDF("id", "a", "b")
    val rows = vecs.select(col("id"),
      SimilarityOps.cosine(col("a"), col("b")).as("native"),
      KernelReferences.cosineHof(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      val n = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val h = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      (n, h) match {
        case (Some(x), Some(y)) =>
          assert(java.lang.Double.doubleToRawLongBits(x) ===
            java.lang.Double.doubleToRawLongBits(y), s"id ${r.getLong(0)}")
        case _ => assert(n.isEmpty === h.isEmpty, s"id ${r.getLong(0)}")
      }
    }
    // null-element vector nulls both forms
    val withNull = Seq((9L, Seq(Some(1.0), None, Some(2.0)),
      Seq(Some(1.0), Some(1.0), Some(1.0)))).toDF("id", "a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("n"),
        KernelReferences.cosineHof(col("a"), col("b")).as("h")).collect()(0)
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
  }

  test("native lsh bands == per-band HOF bandValue on 64-dim vectors") {
    val rng = new scala.util.Random(42)
    val vecs = (0 until 20).map(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian()))).toDF("id", "v")
    val native = vecs.select(col("id"),
      graft.functions.VectorKernels.lshBandsCol(col("v"), 16, 4, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val hof = vecs.select(col("id"),
      array((0 until 4).map(b => KernelReferences.bandValue(col("v"), b)): _*)
        .as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native === hof)
    // wrong-dimension vector: every band 0 on both forms (zip_with pads
    // with null → null dot → otherwise(0))
    val short = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val ns = short.select(graft.functions.VectorKernels
      .lshBandsCol(col("v"), 16, 4, 64).as("b")).collect()(0).getSeq[Int](0)
    val hs = short.select(array((0 until 4)
      .map(b => KernelReferences.bandValue(col("v"), b)): _*).as("b"))
      .collect()(0).getSeq[Int](0)
    assert(ns === Seq(0, 0, 0, 0) && hs === ns)
  }

  test("native simhash16 == HOF simhash16, incl. empty and multi-space") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), // split -> [""] (one empty word)
      (3L, "a  b"), // double space -> empty middle token
      (4L, "unicode naïve café ñandú 日本語"),
      (5L, "x"),
    ).toDF("doc_id", "text")
    val rows = texts.select(col("doc_id"),
      DedupOps.simhash16(col("text")).as("native"),
      KernelReferences.simhash16Hof(col("text")).as("hof")).collect()
    rows.foreach(r =>
      assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}"))
  }
}
