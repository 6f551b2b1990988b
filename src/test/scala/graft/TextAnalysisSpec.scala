package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions.{col, desc}
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("token bigrams: adjacent-pair counts across the corpus") {
    val corpus = Seq(
      (1L, "x y x"),   // (x,y), (y,x)
      (2L, "y x"),     // (y,x)
      (3L, "solo"),    // 1 token → no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenBigrams(corpus).orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("x", "y", 1L), ("y", "x", 2L)))
  }

  test("contamination: eval docs sharing train 4-grams, distinct-counted") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "x a b c d e"),   // shares "a b c d" and "b c d e"
      (11L, "c d e f g h"),   // shares only 3-grams → clean at k=4
      (12L, "a b c d a b c d e"), // shared grams counted DISTINCT (2, not 3)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationBetween(train, eval, 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((10L, 2L), (12L, 2L)))
  }

  test("doc chunks: overlapping windows, stride starts, tail length") {
    // 8 tokens, chunkLen 4, stride 3 → starts 0,3,6; tails 4,4,2
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val got = TextAnalysis.docChunks(docs, 4, 3)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 2L)))
    // chunk hash = md5 of the space-joined window
    val h = TextAnalysis.docChunks(docs, 4, 3)
      .orderBy("chunk_idx").collect().map(_.getString(4))
    assert(h(0) === org.apache.commons.codec.digest.DigestUtils.md5Hex("a b c d"))
    assert(h(2) === org.apache.commons.codec.digest.DigestUtils.md5Hex("g h"))
  }

  test("term salience: tf*N/df ranking with per-doc top-k") {
    // N=3; "rare" appears only in doc 1 (df=1, tf=2 → 6.0);
    // "common" in all three (df=3, tf=1 → 1.0)
    val docs = Seq(
      (1L, "rare rare common"),
      (2L, "common x"),
      (3L, "common y"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.termSalience(docs, 2)
      .orderBy(col("doc_id"), desc("salience"), col("term")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4)))
    assert(got.head === ((1L, "rare", 6.0)))
    // doc 1's second entry is "common" at 1.0; each doc keeps ≤ k rows
    assert(got.count(_._1 == 1L) === 2)
    assert(got.filter(_._1 == 2L).map(_._2).toSet === Set("common", "x"))
  }

  test("token packing: batch advances when the budget is crossed") {
    // budget 10, one lang, one shard: cum-exclusive 0,4,9,13 → batches 0,0,0,1
    val docs = Seq(
      (1L, "en", "t t t t"),          // 4 tokens
      (2L, "en", "t t t t t"),        // 5
      (3L, "en", "t t t t"),          // 4
      (4L, "en", "t t"),              // 2
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.tokenPacking(docs, 10, 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L)))
    // shard boundary resets the running count
    val sharded = Seq((999L, "en", "t t t"), (1000L, "en", "t t t"))
      .toDF("doc_id", "lang", "text")
    val g2 = TextAnalysis.tokenPacking(sharded, 2, 1000)
      .orderBy("doc_id").collect().map(r => (r.getLong(2), r.getLong(4)))
    assert(g2.toSeq === Seq((0L, 0L), (1L, 0L)))
  }

  test("bm25: rational-IDF scores match the reference arithmetic exactly") {
    // N=3 docs, dl = 3,2,2 → avgdl = 7/3; term 'a': df=2, tf=2 (doc 1), 1 (doc 2)
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a b"),
      (3L, "b c"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, Seq("a"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // same IEEE operation order as the Column expression
    val avgdl = 7.0 / 3.0
    def w(tf: Double, dl: Double, df: Double, n: Double): Double =
      ((n - df + 0.5) / (df + 0.5)) *
        ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
    assert(got === Seq((1L, w(2, 3, 2, 3)), (2L, w(1, 2, 2, 3))))
    assert(got(0)._2 > got(1)._2) // higher tf on a shorter-normalized doc wins
    // doc 3 has no query term → absent, not zero-scored
    assert(!got.exists(_._1 == 3L))
  }

  test("cms heavy hitters: estimate >= exact, equality without collisions") {
    import org.apache.commons.codec.digest.DigestUtils
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b c c d"),
    ).toDF("doc_id", "text")
    val depth = 2
    val width = 2 // deliberately tiny → collisions guaranteed among 4 tokens
    def bucket(j: Int, token: String): Long =
      java.lang.Long.parseLong(
        DigestUtils.md5Hex(s"$j:$token").substring(0, 8), 16) % width
    val exact = Map("a" -> 4L, "b" -> 3L, "c" -> 3L, "d" -> 1L)
    // reference sketch: counter per (depth, bucket); estimate = min over depths
    val sketch = (for {
      (tok, n) <- exact.toSeq; j <- 0 until depth
    } yield ((j, bucket(j, tok)), n))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val expected = exact.map { case (tok, _) =>
      tok -> (0 until depth).map(j => sketch((j, bucket(j, tok)))).min
    }
    val got = TextAnalysis.cmsHeavyHitters(docs, depth, width, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 4)
    got.foreach { case (tok, ex, est) =>
      assert(ex === exact(tok))
      assert(est === expected(tok), s"token $tok")
      assert(est >= ex) // CMS never underestimates
    }
    // the tiny width must actually exercise a collision
    assert(got.exists { case (tok, ex, est) => est > ex })
  }

  test("quality sample: keep iff content-addressed draw < quality*1000") {
    import org.apache.commons.codec.digest.DigestUtils
    def draw(id: Long): Long =
      java.lang.Long.parseLong(
        DigestUtils.md5Hex(s"qs:$id").substring(0, 8), 16) % 1000
    // high-quality text (stopword-rich, long-ish, no punct) vs junk
    val good = "the cat and the dog of a house is a fine thing " * 3
    val junk = "@@@@ #### $$$$ %%%%"
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) good.trim else junk)).toDF("doc_id", "text")
    val kept = TextAnalysis.qualitySample(docs)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    kept.foreach { case (id, q, d) =>
      assert(d === draw(id))
      assert(d.toDouble < q * 1000.0) // the keep rule, exactly
    }
    // junk (quality ~0.06) must survive far less often than good (~0.8+)
    val keptIds = kept.map(_._1).toSet
    val goodKept = (1L to 40L).count(i => i % 2 == 0 && keptIds(i))
    val junkKept = (1L to 40L).count(i => i % 2 == 1 && keptIds(i))
    assert(goodKept > 10 && junkKept < 5)
    // determinism: same input → identical keep set
    assert(TextAnalysis.qualitySample(docs)
      .collect().map(_.getLong(0)).toSet === keptIds)
  }

  test("dist drift: conditional split counts, rate gap, top-k order") {
    import org.apache.commons.codec.digest.DigestUtils
    def isTrain(id: Long): Boolean =
      java.lang.Long.parseLong(
        DigestUtils.md5Hex(s"split:$id").substring(0, 8), 16) % 100 < 90
    // pick one id per side so the split is known a priori
    val trainId = (1L to 50L).find(isTrain).get
    val evalId = (1L to 50L).find(!isTrain(_)).get
    val docs = Seq(
      (trainId, "a a b"),
      (evalId, "a c"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDistributionDrift(docs, 10)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // totals: train 3 tokens, eval 2; gaps: a |2/3-1/2|=1/6, b 1/3, c 1/2
    assert(got.toSeq === Seq(
      ("c", 0L, 1L, math.abs(0.0 / 3.0 - 1.0 / 2.0)),
      ("b", 1L, 0L, math.abs(1.0 / 3.0 - 0.0 / 2.0)),
      ("a", 2L, 1L, math.abs(2.0 / 3.0 - 1.0 / 2.0)),
    ))
  }

  test("pmi: rational score equals n12*N/(n1*n2) over bigram positions") {
    // bigrams: (a,b)x2 from doc1+doc2, (b,a)x1, (b,c)x1 → N=4
    // marginals: n1(a)=2, n1(b)=2; n2(b)=2, n2(a)=1, n2(c)=1
    val corpus = Seq(
      (1L, "a b a b"), // → (a,b),(b,a),(a,b)
      (2L, "b c"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(corpus, 1L)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // N=4 bigrams: (a,b)x2, (b,a)x1, (b,c)x1
    // n1: a→2, b→2 ; n2: b→2, a→1, c→1
    assert(got.toSeq === Seq(
      ("a", "b", 2L, (2.0 * 4.0) / (2.0 * 2.0)), // 2.0: a,b collocate
      ("b", "a", 1L, (1.0 * 4.0) / (2.0 * 1.0)),
      ("b", "c", 1L, (1.0 * 4.0) / (2.0 * 1.0)),
    ))
    // minCount prunes BEFORE the score, marginals stay corpus-wide
    val pruned = TextAnalysis.pmiCollocations(corpus, 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    assert(pruned.toSeq === Seq(("a", "b", 2.0)))
  }

  test("oov rate: vocabulary membership counted per doc") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "c d"),
    ).toDF("doc_id", "text")
    // vocabK=1 → vocab = {a} (freq 2 beats the 1s)
    val got = TextAnalysis.oovRate(docs, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 3L, 1L, 1.0 / 3.0), (2L, 2L, 2L, 1.0)))
  }

  test("vocab encode: rank by freq desc then term, OOV → 0, order kept") {
    import spark.implicits._
    // freqs: b=3, a=2, c=1, zz=1 → ids b=1, a=2, c=3 (tie c<zz), zz=4;
    // maxVocab=3 drops zz to the reserved OOV id 0
    val corpus = Seq(
      (1L, "b a b c"),
      (2L, "a b zz"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabEncode(corpus, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2)))
    assert(got(0) === ((1L, Seq(1L, 2L, 1L, 3L), 0)))
    assert(got(1) === ((2L, Seq(2L, 1L, 0L), 1)))
  }

  test("vocab encode: the single-partition rank window sees at most maxVocab rows") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // a realistic vocabulary cap, above the limit (1000 by default) up to
    // which Catalyst would infer the top-k cut from a rank filter itself
    val maxVocab = 5000
    val corpus = Seq((1L, "b a b c d e f"), (2L, "a b zz y")).toDF("doc_id", "text")
    val plan = TextAnalysis.vocabEncode(corpus, maxVocab)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: Window => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.child.maxRows.exists(_ <= maxVocab),
        s"window input unbounded:\n$w")
    }
  }

  test("cosine pairs: hot terms pruned from the vector space, exact cut") {
    import spark.implicits._
    // "the" (df 6/6) is pruned at maxDfPct=50; on the surviving vocabulary
    // docs 1,2 are identical → cosine exactly 1.0; doc 3 shares alpha with
    // doc 1 → cosine 0.5, below the 4/5 threshold, excluded by the exact
    // integer test 25·dot² ≥ 16·na·nb (25 < 64)
    val corpus = Seq(
      (1L, "the alpha beta"),
      (2L, "the alpha beta"),
      (3L, "the alpha gamma"),
      (4L, "the delta epsilon"),
      (5L, "the zeta eta"),
      (6L, "the theta iota"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cosinePairsIndexed(corpus, 4, 5, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }
}
