package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis suite for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring, token counting, fingerprinting.
  * Everything is a narrow, codegen'd per-row expression — no shuffle, no
  * UDF — so the suite runs at full scan speed at any scale.
  */
object TextAnalysis {
  import Tables.t

  /** Language marker profiles (tiny whole-word stopword sets). */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "les", "et", "une", "est"),
  )

  /** Whole-word occurrence count of `w` in a pre-split words column. */
  private def wordCount(words: Column, w: String): Column =
    size(filter(words, x => x === w))

  def langScores(text: Column): Seq[(String, Column)] = {
    val words = split(lower(text), " ")
    profiles.map { case (lang, ws) =>
      lang -> ws.map(wordCount(words, _)).reduce(_ + _)
    }
  }

  /** Predicted language = argmax score, ties broken by profile order. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
  }

  /** Corpus-wide adjacent-token bigram counts over a (text) column: one
    * (w1, w2, n) row per observed transition. Narrow array expansion; the
    * single shuffle is the partial-agg'd count (≤|vocab|² groups).
    */
  def tokenBigrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = split(col("text"), " ")
    val pairs = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => struct(element_at(words, i + 1).as("w1"),
          element_at(words, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    graft.Tables.fanOut(docs).select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
  }

  /** Content-addressed split bucket (0..99) — md5-head of the salted id.
    * Shared by `q_train_split` and `q_decontamination`.
    */
  def splitBucket: Column = splitBucketOf(col("doc_id"))

  /** [[splitBucket]] over an arbitrary id column (the banded-signature
    * frame names its id `doc`). */
  def splitBucketOf(id: Column): Column = pmod(
    conv(substring(md5(concat(lit("split:"), id)), 1, 8),
      16, 10).cast("long"), lit(100L))

  /** Test-set contamination detection: one row per eval doc that shares at
    * least one word k-gram with ANY train doc, with the count of its
    * distinct shared k-grams. The standard pre-release decontamination
    * check for an LLM training corpus. Scale shape: both sides reduce to
    * DISTINCT n-gram hashes before the join — the train side is one
    * partial-agg'd distinct bounded by distinct-n-gram volume (not corpus
    * volume), and the join is an equi-join on the hash (at 100 TB: truncate
    * md5 to 64 bits for the shuffle key and let AQE/bloom prefilter the
    * eval side; md5 is kept here so the DuckDB oracle reproduces it).
    */
  def contaminationBetween(train: org.apache.spark.sql.DataFrame,
                           eval: org.apache.spark.sql.DataFrame,
                           k: Int): org.apache.spark.sql.DataFrame = {
    val trainG = train
      .select(explode(DedupOps.shingles(col("text"), k)).as("g"))
      .select(md5(col("g")).as("gh")).distinct()
    val evalG = eval
      .select(col("doc_id"), explode(DedupOps.shingles(col("text"), k)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh")).distinct()
    evalG.join(trainG, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Whole-word count of the English marker words in `text`, as a double. */
  private def enStopCount(text: Column): Column =
    profiles.toMap.apply("en")
      .map(wordCount(split(lower(text), " "), _)).reduce(_ + _)
      .cast("double")

  /** Count of the characters of `text` outside `[a-zA-Z0-9 ]`, as a double. */
  private def nonAlnumCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double")

  /** The `q_quality_score` formula as one expression over a text column
    * (same operation order, so the doubles are bit-identical): weighted
    * stopword-ratio, length and punctuation terms. Reused by the cluster-
    * representative selection.
    */
  def qualityExpr(text: Column): Column = {
    val words = split(text, " ")
    val nTokens = size(words).cast("double")
    val stopCount = enStopCount(text)
    val nonAlnum = nonAlnumCount(text)
    val stopwordRatio = stopCount / nTokens
    val punctRatio = nonAlnum / length(text).cast("double")
    lit(0.5) * least(stopwordRatio * 5.0, lit(1.0)) +
      lit(0.3) * least(size(words).cast("long").cast("double") / 100.0, lit(1.0)) +
      lit(0.2) * (lit(1.0) - least(punctRatio * 10.0, lit(1.0)))
  }

  /** Overlapping fixed-size token windows per document (context-window
    * chunking): (doc_id, chunk_idx, start_token, n_chunk_tokens, chunk_md5).
    * Pure narrow HOFs — zero shuffle; chunks leave as content hashes.
    */
  def docChunks(docs: org.apache.spark.sql.DataFrame,
                chunkLen: Int, stride: Int): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        least(lit(chunkLen), size(col("w")) - col("start"))
          .cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkLen))))
          .as("chunk_md5"))

  /** (doc_id, term) per non-empty space-separated token of `docs`, the
    * scan fanned out over every core. */
  private def termTokens(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)

  /** Top-k salient terms per document by tf·N/df (TF×IDF-shaped, log-free
    * so both engines compute bit-identical doubles). df derives from the tf
    * frame (vocab-bounded → broadcast); per-doc top-k goes through the
    * TopKPerKey node so the final shuffle carries ≤ docs×k rows. tf feeds
    * BOTH the df rollup and the scoring join, and Catalyst does not reuse
    * the exchange across the broadcast boundary (verified: two
    * ShuffleQueryStages, two corpus scans without it) — so tf is persisted:
    * the df branch computes it once and the scoring join reads it back,
    * exactly the checkpoint a 100 TB pipeline would put there.
    */
  def termSalience(docs: org.apache.spark.sql.DataFrame,
                   k: Int): org.apache.spark.sql.DataFrame = {
    val tf = termTokens(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs") / col("df").cast("double"))
          .as("salience"))
    graft.plans.TopKPerKey(scored, Seq(col("doc_id")),
        Seq(col("salience").desc, col("term").asc), k)
      .select("doc_id", "term", "tf", "df", "salience")
  }

  /** Token-budget sequence packing: batch_idx = exclusive-cumulative token
    * count within a (lang, content-addressed shard) stratum, integer-divided
    * by the budget. Packing is inherently sequential; sharding makes the
    * sequences LOCAL so every window partition stays small and uniform at
    * any corpus size (lang alone would be the low-cardinality skew case).
    */
  def tokenPacking(docs: org.apache.spark.sql.DataFrame,
                   budget: Int, shardSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // integral `div`, not floor(x / y): exact past 2^53 and the same
    // truncation semantics as the oracle's `//` for any sign
    val d = docs.select(col("doc_id"), col("lang"),
      expr(s"CAST(doc_id div $shardSize AS BIGINT)").as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val cum = sum(col("n_tokens"))
      .over(Window.partitionBy("lang", "shard").orderBy("doc_id"))
    d.withColumn("cum_excl", cum - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        expr(s"CAST(cum_excl div $budget AS BIGINT)").as("batch_idx"))
  }

  /** Capped inverted index: term → document frequency + the first `k`
    * postings (doc_ids ascending). The presence set (DISTINCT doc, term) is
    * persisted so ONE corpus scan feeds both the df rollup and the posting
    * lists, and the postings go through TopKPerKey, which prunes map-side —
    * the collect_list is bounded by k, never by a common term's full df
    * (the posting-list skew case at corpus scale).
    */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
                    k: Int): org.apache.spark.sql.DataFrame = {
    val presence = termTokens(docs)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = presence.groupBy("term").agg(count(lit(1)).as("df"))
    val postings = graft.plans.TopKPerKey(presence, Seq(col("term")),
        Seq(col("doc_id").asc), k)
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    df.join(postings, "term")
  }

  /** BM25 relevance scores (k1=1.2, b=0.75) for a fixed query-term set,
    * with the log-free rational IDF `(N - df + 0.5)/(df + 0.5)` — a strictly
    * monotone transform of the textbook `ln(1 + ...)` form that keeps both
    * engines bit-identical (ln is not correctly-rounded across libms; the
    * IEEE +,-,*,/ used here are). One row per document containing at least
    * one query term. Scale shape: tf is one partial-agg'd shuffle FILTERED
    * to the query terms before the shuffle (carries ≤ docs×|q| rows); df
    * and the corpus stats are broadcast one-row/vocab-bounded frames; the
    * per-doc score is a fixed-order sum over the pivoted term weights, so
    * no double ever crosses an order-dependent aggregate.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame,
           terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val tok = termTokens(docs)
    // dl feeds BOTH the corpus-stats agg and the scoring join; Catalyst
    // does not reuse the exchange across the 1-row crossJoin boundary
    // (same finding as termSalience), so pin it
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = tok.where(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfD = col("tf").cast("double")
    val weight = idf * ((tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    val w = tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("term"), weight.as("weight"))
    val byTerm = w.groupBy("doc_id").pivot("term", terms).agg(first(col("weight")))
    val score = terms.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduce(_ + _)
    byTerm.select(col("doc_id"), score.as("bm25"))
  }

  /** Dictionary (vocabulary) encoding: dense integer token ids assigned by
    * corpus frequency (rank 1 = most frequent; ties broken by term), docs
    * re-emitted as position-ordered id sequences with out-of-vocabulary
    * tokens mapped to the reserved id 0 — the tokenizer-table step every
    * training pipeline runs before packing. Scale shape: one tokenize
    * shuffle for the frequency table; the top-`maxVocab` cut runs as a
    * top-k before the rank, so the rank's single-partition window sees at
    * most `maxVocab` rows; the encode join
    * broadcasts the dictionary; sequence re-assembly rides the doc_id
    * shuffle with an in-array sort, never an ordered collect.
    */
  def vocabEncode(docs: org.apache.spark.sql.DataFrame,
                  maxVocab: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = graft.Tables.fanOut(docs)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .where(length(col("term")) > 0)
    val freq = tok.groupBy("term").agg(count(lit(1)).as("freq"))
    // the top-maxVocab cut comes BEFORE the rank: the window has no
    // partition key, so it runs in one partition, and the cut bounds it
    // to maxVocab rows instead of the whole vocabulary
    val dict = freq
      .orderBy(col("freq").desc, col("term")).limit(maxVocab)
      .withColumn("token_id", row_number()
        .over(Window.orderBy(col("freq").desc, col("term"))).cast("long"))
      .select(col("term"), col("token_id"))
    tok.join(broadcast(dict), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          coalesce(col("token_id"), lit(0L)).as("tid")))),
        s => s.getField("tid")).as("token_ids"))
      .select(col("doc_id"), col("token_ids"),
        size(filter(col("token_ids"), _ === 0L)).as("n_oov"))
  }

  /** All-pairs document cosine similarity over term-frequency vectors via
    * the inverted index — the Bayardo et al. WWW'07 all-pairs shape. Hot
    * terms (document frequency above `maxDfPct`% of the corpus) are pruned
    * from the VECTOR SPACE first (tf, norms, and postings all computed on
    * the pruned space, so the emitted value is the exact cosine of the
    * pruned vectors, not an approximation of anything). Partial dot
    * products come from a postings self-join on the term — per-term work
    * is bounded by the df cap, so no hot term ever drives an O(df²)
    * bucket — then ONE pair-keyed shuffle sums them. The threshold is
    * applied sqrt-free on exact integers (q²·dot² ≥ p²·‖a‖²·‖b‖² for
    * cosine ≥ p/q), and only the emitted cosine touches floating point
    * (exact-int casts, one IEEE multiply/sqrt/divide — bit-identical across
    * engines). At 100 TB add Bayardo prefix filtering to shrink the
    * postings join; the plan shape is unchanged.
    */
  def cosinePairsIndexed(docs: org.apache.spark.sql.DataFrame,
                         thrNum: Long, thrDen: Long,
                         maxDfPct: Int): org.apache.spark.sql.DataFrame = {
    val tf0 = termTokens(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfq = tf0.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * 100 <= col("n_docs") * maxDfPct)
      .select(col("term"))
    val tf = tf0.join(dfq, "term") // pruned vector space
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("norm_sq"))
    val dot = tf.as("a").join(tf.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("norm_sq").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("norm_sq").as("nb")), "doc_b")
      .where(lit(thrDen * thrDen) * col("dot") * col("dot")
        >= lit(thrNum * thrNum) * col("na") * col("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("cosine"))
  }

  /** Count-min-sketch frequency estimation: depth×width counter grid keyed
    * by salted md5 buckets, estimate = min over depths. THE bounded-state
    * frequency operator at corpus scale — the sketch shuffle carries at most
    * depth×width rows per partition after map-side combine, regardless of
    * vocabulary size, where an exact token groupBy shuffles the full vocab.
    * Returns (token, exact_count, cms_estimate) for the exact top-`k`
    * tokens so over-estimation from bucket collisions is visible against
    * ground truth (estimate ≥ exact always; equality iff no collision in
    * some depth). md5 bucketing keeps the oracle bit-reproducible.
    */
  def cmsHeavyHitters(docs: org.apache.spark.sql.DataFrame,
                      depth: Int, width: Int, k: Int): org.apache.spark.sql.DataFrame = {
    def bucket(j: Column, token: Column): Column = pmod(
      conv(substring(md5(concat(j.cast("string"), lit(":"), token)), 1, 8),
        16, 10).cast("long"), lit(width.toLong))
    val tok = graft.Tables.fanOut(docs)
      .select(explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val cells = tok.select(explode(transform(
        sequence(lit(0), lit(depth - 1)),
        j => struct(j.cast("long").as("depth"),
          bucket(j, col("token")).as("bucket")))).as("c"))
      .select(col("c.depth").as("depth"), col("c.bucket").as("bucket"))
    val sketch = cells.groupBy("depth", "bucket").agg(count(lit(1)).as("n"))
    val top = tok.groupBy("token").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("token").asc).limit(k)
    val cand = top
      .select(col("token"), col("exact_count"),
        explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .select(col("token"), col("exact_count"),
        col("j").cast("long").as("depth"), bucket(col("j"), col("token")).as("bucket"))
    cand.join(broadcast(sketch), Seq("depth", "bucket"))
      .groupBy("token", "exact_count").agg(min(col("n")).as("cms_estimate"))
  }

  /** Deterministic quality-proportional downsampling: each doc survives iff
    * its content-addressed permille draw (md5 of the salted id, same
    * mechanism as [[splitBucket]]) falls under `quality × 1000` — i.e. a
    * doc is kept with probability equal to its [[qualityExpr]] score, but
    * the decision is a pure function of (doc_id, text): reproducible
    * across engines, runs, and partitionings, and growth-stable (adding
    * docs never flips an existing doc's fate — the property random
    * sampling lacks). This is the CCNet/FineWeb-style quality-weighted
    * keep, per-row and shuffle-free: it pipelines into whatever scan or
    * filter precedes it at any scale.
    */
  def qualitySample(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val draw = pmod(
      conv(substring(md5(concat(lit("qs:"), col("doc_id"))), 1, 8),
        16, 10).cast("long"), lit(1000L))
    docs
      .select(col("doc_id"), qualityExpr(col("text")).as("quality"),
        draw.as("draw"))
      .filter(col("draw").cast("double") < col("quality") * lit(1000.0))
  }

  /** Token-distribution drift between the content-addressed train and eval
    * splits: per token, its occurrence rate on each side and the absolute
    * rate gap, top-`k` by gap — the corpus-health check that catches a
    * skewed split or a domain shift before training does. All counts are
    * exact integers off ONE tokenize pass (both sides share one shuffle
    * via conditional sums — no union, no second scan); the rates and the
    * gap are a fixed-order chain of IEEE divide/subtract/abs both engines
    * reproduce bit-identically. Totals are a broadcast 1-row frame.
    */
  def tokenDistributionDrift(docs: org.apache.spark.sql.DataFrame,
                             k: Int): org.apache.spark.sql.DataFrame = {
    val tok = docs
      .select((splitBucket < 90).as("is_train"),
        explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val counts = tok.groupBy("token").agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_eval"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = counts.agg(sum(col("n_train")).as("t_train"),
      sum(col("n_eval")).as("t_eval"))
    val rTrain = col("n_train").cast("double") / col("t_train").cast("double")
    val rEval = col("n_eval").cast("double") / col("t_eval").cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("n_train"), col("n_eval"),
        abs(rTrain - rEval).as("rate_gap"))
      .orderBy(col("rate_gap").desc, col("token").asc)
      .limit(k)
  }

  /** PMI collocation scores over adjacent-token bigrams, in the log-free
    * rational form `n(w1,w2)·N / (n(w1,·)·n(·,w2))` — a strictly monotone
    * transform of textbook PMI `log p(w1,w2)/(p(w1)p(w2))` that keeps both
    * engines bit-identical (the four factors are exact integers < 2⁵³, and
    * the two IEEE multiplies + one divide are correctly rounded everywhere;
    * `log` is not). Marginals are over bigram positions, so the ratio is
    * exactly the PMI argument. Scale shape: ONE shuffle builds the bigram
    * counts ([[tokenBigrams]], map-side combined to ≤|vocab|² rows); the
    * marginals and the grand total are vocab-bounded/one-row frames
    * derived from it and broadcast back — the corpus text is scanned once.
    * The frame is persisted because it feeds four branches and Catalyst
    * does not reuse exchanges across them (same finding as termSalience).
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame,
                      minCount: Long): org.apache.spark.sql.DataFrame = {
    val bi = tokenBigrams(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = bi.groupBy("w1").agg(sum(col("n")).as("n1"))
    val right = bi.groupBy("w2").agg(sum(col("n")).as("n2"))
    val total = bi.agg(sum(col("n")).as("n_total"))
    bi.filter(col("n") >= minCount)
      .join(broadcast(left), "w1")
      .join(broadcast(right), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n"),
        ((col("n").cast("double") * col("n_total").cast("double")) /
          (col("n1").cast("double") * col("n2").cast("double")))
          .as("pmi_ratio"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-`k`
    * token vocabulary — the tokenizer-coverage check before committing a
    * vocab. The vocab is a bounded broadcast (top-k of a partial-agg'd
    * frequency shuffle); membership is a broadcast left join; the per-doc
    * rollup is count-based (no double sums), so the emitted rate is an
    * exact int/int IEEE division both engines reproduce bit-identically.
    */
  def oovRate(docs: org.apache.spark.sql.DataFrame,
              vocabK: Int): org.apache.spark.sql.DataFrame = {
    val tok = graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(vocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        count(col("in_vocab")).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - col("n_in_vocab")).as("n_oov"),
        ((col("n_tokens") - col("n_in_vocab")).cast("double") /
          col("n_tokens").cast("double")).as("oov_rate"))
  }

  private def sqlWordCount(words: String, w: String): String =
    s"len(list_filter($words, x -> x = '$w'))"

  private def sqlLangScore(words: String, lang: String): String =
    profiles.toMap.apply(lang).map(sqlWordCount(words, _)).mkString("(", " + ", ")")

  /** SQL twin of [[enStopCount]] (before the cast). */
  private val sqlEnStopCount = sqlLangScore("string_split(lower(text), ' ')", "en")

  /** SQL twin of [[splitBucket]]. */
  private val sqlSplitBucket =
    "CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT) % 100"

  /** CTE `tok`: (doc_id, term) per token of `words`, empty terms kept. */
  private def sqlTermTok(words: String): String =
    s"""WITH tok AS (SELECT doc_id, unnest($words) AS term
            FROM documents)"""

  /** CTE `df`: the document frequency of each term of CTE `tf`. */
  private val sqlDocFreq = "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)"

  /** CTE `n`: the corpus document count. */
  private val sqlNDocs = "n AS (SELECT count(*) AS n_docs FROM documents)"

  def entries: Seq[QueryEntry] = Seq(
    // ---- language identification -----------------------------------------
    QueryEntry(
      "q_lang_id",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val scoreCols = langScores(col("text")).map { case (l, c) => c.cast("long").as(s"score_$l") }
        d.select(col("doc_id") +: col("lang").as("labeled_lang") +: scoreCols :+
          langId(col("text")).as("predicted_lang"): _*)
          .orderBy("doc_id")
      },
      Some {
        val w = "string_split(lower(text), ' ')"
        val scores = profiles.map { case (l, _) =>
          s"CAST(${sqlLangScore(w, l)} AS BIGINT) AS score_$l"
        }.mkString(", ")
        // same argmax with the same first-wins tie-break order
        val best = profiles.map { case (l, _) => sqlLangScore(w, l) }
          .mkString("greatest(", ", ", ")")
        val pred = profiles.foldRight("'und'") { case ((l, _), acc) =>
          s"CASE WHEN ${sqlLangScore(w, l)} = $best AND ${sqlLangScore(w, l)} > 0 THEN '$l' ELSE $acc END"
        }
        s"""SELECT doc_id, lang AS labeled_lang, $scores, $pred AS predicted_lang
            FROM documents ORDER BY doc_id"""
      },
    ),
    // ---- quality scoring ----------------------------------------------------
    QueryEntry(
      "q_quality_score",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val words = split(col("text"), " ")
        val nTokens = size(words).cast("double")
        val totalWordChars =
          aggregate(words, lit(0), (acc, w) => acc + length(w)).cast("double")
        val stopCount = enStopCount(col("text"))
        val nonAlnum = nonAlnumCount(col("text"))
        d.select(
          col("doc_id"),
          size(words).cast("long").as("n_tokens"),
          (totalWordChars / nTokens).as("avg_token_len"),
          (stopCount / nTokens).as("stopword_ratio"),
          (nonAlnum / length(col("text")).cast("double")).as("punct_ratio"),
        ).withColumn("quality",
          lit(0.5) * least(col("stopword_ratio") * 5.0, lit(1.0))
            + lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
            + lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 10.0, lit(1.0))))
          .orderBy("doc_id")
      },
      Some {
        val w = "string_split(text, ' ')"
        s"""SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
              0.5 * least(stopword_ratio * 5.0, 1.0)
            + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
            + 0.2 * (1.0 - least(punct_ratio * 10.0, 1.0)) AS quality
            FROM (SELECT doc_id,
              CAST(len($w) AS BIGINT) AS n_tokens,
              CAST(list_aggregate(list_transform($w, x -> len(x)), 'sum') AS DOUBLE)
                / CAST(len($w) AS DOUBLE) AS avg_token_len,
              CAST($sqlEnStopCount AS DOUBLE) / CAST(len($w) AS DOUBLE) AS stopword_ratio,
              CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(len(text) AS DOUBLE) AS punct_ratio
              FROM documents)
            ORDER BY doc_id"""
      },
    ),
    // ---- token counting ------------------------------------------------------
    QueryEntry(
      "q_token_count",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
            .cast("long").as("bpe_ish_tokens"),
        ).orderBy("doc_id"),
      Some("""SELECT doc_id,
        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
          AS bpe_ish_tokens
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- document fingerprint (normalized content hash) -----------------------
    QueryEntry(
      "q_fingerprint",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fingerprint"),
        ).orderBy("doc_id"),
      Some("""SELECT doc_id,
        md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- deterministic train/val/test split -------------------------------
    // Content-addressed split: bucket = md5-head of a salted id, mod 100 —
    // stable under re-runs, re-partitioning and corpus growth (a given doc
    // never migrates), the standard way a 100 TB corpus is split without a
    // shuffle or a global sort. Pure per-row arithmetic.
    QueryEntry(
      "q_train_split",
      (s, dir) => {
        val bucket = splitBucket
        t(s, dir, "documents").select(
          col("doc_id"),
          bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "validation")
            .otherwise("test").as("split"),
        ).orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id,
            $sqlSplitBucket
              AS bucket FROM documents)
          SELECT doc_id, bucket,
            CASE WHEN bucket < 90 THEN 'train'
                 WHEN bucket < 95 THEN 'validation'
                 ELSE 'test' END AS split
          FROM b ORDER BY doc_id"""),
    ),
    // ---- PII scrubbing ------------------------------------------------------
    // Email + phone redaction before training. Bodies are synthesized with
    // planted PII (every doc an email, every 3rd a phone) so the oracle
    // genuinely checks the redaction, not a no-op. Patterns kept inside the
    // RE2 ∩ Java-regex subset so both engines compile them identically.
    QueryEntry(
      "q_pii_scrub",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val content = concat(
          lit("contact user"), pmod(col("doc_id"), lit(997)),
          lit("@example"), pmod(col("doc_id"), lit(7)), lit(".org "),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("tel +1-555-"),
              format_string("%04d", pmod(col("doc_id"), lit(10000))),
              lit(" "))).otherwise(lit("")),
          col("text"))
        val scrubbed = regexp_replace(
          regexp_replace(content,
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+[0-9][0-9\\-]{6,}[0-9]", "<PHONE>")
        d.select(col("doc_id"), scrubbed.as("scrubbed"),
            (length(content) - length(scrubbed)).cast("long").as("redacted_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            'contact user' || (doc_id % 997) || '@example' || (doc_id % 7)
              || '.org ' ||
            (CASE WHEN doc_id % 3 = 0
              THEN 'tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
              ELSE '' END) || text AS content
          FROM documents),
        scr AS (SELECT doc_id, content,
            regexp_replace(
              regexp_replace(content,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\+[0-9][0-9\-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
          FROM src)
        SELECT doc_id, scrubbed,
          CAST(len(content) - len(scrubbed) AS BIGINT) AS redacted_chars
        FROM scr ORDER BY doc_id"""),
    ),
    // ---- repetition filter (Gopher-style) -----------------------------------
    // Duplicate-line fraction + top-word share over a synthesized multi-line
    // body (every 4th doc gets a repeated line). Pure HOF arithmetic per
    // row — the per-word count is quadratic in DISTINCT words per doc,
    // bounded by the line count, not the corpus.
    QueryEntry(
      "q_repetition_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // 4 segments per doc (token "seg<(doc_id·i) mod 13>"); every 4th doc
        // repeats its first segment; docs with doc_id ≡ 0 (mod 13) collapse
        // to ONE repeated segment — both metrics genuinely vary
        val segOf = (i: Column) =>
          concat(lit("seg"), pmod(col("doc_id") * i, lit(13)))
        val dupSeg = when(pmod(col("doc_id"), lit(4)) === 0,
          array(segOf(lit(1)))).otherwise(array().cast("array<string>"))
        val segs = concat(
          transform(sequence(lit(1), lit(4)), i => segOf(i)), dupSeg)
        val n = size(segs).cast("double")
        val dupFrac = lit(1.0) - size(array_distinct(segs)).cast("double") / n
        val topShare = array_max(transform(array_distinct(segs),
          w => size(filter(segs, x => x === w)))).cast("double") / n
        d.select(col("doc_id"),
            size(segs).cast("long").as("n_segments"),
            dupFrac.as("dup_frac"),
            topShare.as("top_segment_share"))
          .withColumn("keep",
            col("dup_frac") <= 0.1 && col("top_segment_share") <= 0.35)
          .orderBy("doc_id")
      },
      Some("""WITH src AS (SELECT doc_id,
            list_concat(
              list_transform(range(1, 5), i -> 'seg' || ((doc_id * i) % 13)),
              CASE WHEN doc_id % 4 = 0
                THEN ['seg' || (doc_id % 13)] ELSE [] END) AS segs
          FROM documents),
        m AS (SELECT doc_id, segs,
            1.0 - CAST(len(list_distinct(segs)) AS DOUBLE)
                / CAST(len(segs) AS DOUBLE) AS dup_frac,
            CAST(list_max(list_transform(list_distinct(segs),
                w -> len(list_filter(segs, x -> x = w)))) AS DOUBLE)
              / CAST(len(segs) AS DOUBLE) AS top_segment_share
          FROM src)
        SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segments,
          dup_frac, top_segment_share,
          dup_frac <= 0.1 AND top_segment_share <= 0.35 AS keep
        FROM m ORDER BY doc_id"""),
    ),
    // ---- stratified deterministic sampling ----------------------------------
    // Per-language downsampling with content-addressed gates (the q_train_split
    // mechanics with a per-stratum rate): dominant-language rebalancing of a
    // training corpus. Zero shuffle, growth-stable (a doc's verdict never
    // changes as the corpus grows), rerun-stable (no RNG) — the properties
    // `DataFrame.sample` does NOT give across re-partitions at 100 TB.
    QueryEntry(
      "q_stratified_sample",
      (s, dir) => {
        val bucket = pmod(
          conv(substring(md5(concat(lit("sample:"), col("doc_id"))), 1, 8),
            16, 10).cast("long"), lit(100L))
        val rate = when(col("lang") === "en", 10L).otherwise(40L)
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), bucket.as("bucket"),
            rate.as("rate"))
          .where(col("bucket") < col("rate"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, lang,
            CAST(('0x' || substr(md5('sample:' || doc_id), 1, 8)) AS BIGINT) % 100
              AS bucket,
            CAST(CASE WHEN lang = 'en' THEN 10 ELSE 40 END AS BIGINT) AS rate
          FROM documents)
        SELECT doc_id, lang, bucket, rate FROM b
        WHERE bucket < rate ORDER BY doc_id"""),
    ),
    // ---- exact length percentiles per stratum --------------------------------
    // Corpus-shape stats (p50/p90/p99 token counts per language) via the
    // HISTOGRAM shape, not a per-stratum sort: groupBy(lang, n_tokens) first,
    // so the shuffle carries one row per (lang, DISTINCT count) — bounded by
    // the value domain, not the corpus — then a tiny cumulative window over
    // the histogram picks the discrete percentiles. A window straight over
    // the docs would sort each stratum (low-cardinality partitions = the
    // skew worst case at 100 TB); the histogram never touches that path.
    QueryEntry(
      "q_length_percentiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents").select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val hist = d.groupBy("lang", "n_tokens").agg(count(lit(1)).as("c"))
        val cum = hist
          .withColumn("cum", sum(col("c"))
            .over(Window.partitionBy("lang").orderBy("n_tokens")))
          .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
        def pick(p: Double) =
          min(when(col("cum") >= ceil(col("n") * p), col("n_tokens")))
        cum.groupBy("lang").agg(
            max(col("n")).as("n_docs"),
            pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy("lang")
      },
      Some("""WITH d AS (SELECT lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        h AS (SELECT lang, n_tokens, count(*) AS c FROM d GROUP BY 1, 2),
        cm AS (SELECT lang, n_tokens,
            sum(c) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
            sum(c) OVER (PARTITION BY lang) AS n
          FROM h)
        SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
          min(CASE WHEN cum >= ceil(n * 0.5) THEN n_tokens END) AS p50,
          min(CASE WHEN cum >= ceil(n * 0.9) THEN n_tokens END) AS p90,
          min(CASE WHEN cum >= ceil(n * 0.99) THEN n_tokens END) AS p99,
          min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        FROM cm GROUP BY lang ORDER BY lang"""),
    ),
    // ---- vocabulary top-k per stratum ----------------------------------------
    // Most-frequent tokens per language: explode → ONE partial-agg'd shuffle
    // on (lang, token) → the custom TopKPerKey node (graft.plans) prunes to
    // the per-language top-10 map-side, so the second shuffle carries at
    // most keys×k rows. Frequency ties break on the token for a total order
    // the oracle reproduces.
    QueryEntry(
      "q_vocab_topk",
      (s, dir) => {
        val tokens = t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
          .where(length(col("token")) > 0)
        val freq = tokens.groupBy("lang", "token").agg(count(lit(1)).as("freq"))
        graft.plans.TopKPerKey(freq, Seq(col("lang")),
            Seq(col("freq").desc, col("token").asc), 10)
          .select("lang", "token", "freq")
      },
      Some("""SELECT lang, token, freq FROM (
          SELECT lang, token, freq,
            row_number() OVER (PARTITION BY lang
              ORDER BY freq DESC, token) AS rn
          FROM (SELECT lang, token, count(*) AS freq
                FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                      FROM documents)
                WHERE len(token) > 0 GROUP BY 1, 2) f) t
        WHERE rn <= 10"""),
    ),
    // ---- corpus bigram transition counts (Markov / LM statistics) ---------
    // Adjacent-token transition matrix over the whole corpus — the n-gram LM
    // building block and the usual "improbable transition" quality signal.
    // Scale shape: the bigram expansion is a NARROW codegen'd array
    // transform (no shuffle, no positional self-join); the only shuffle is
    // the final partial-agg count, which map-side-combines to at most
    // |vocab|² rows per partition regardless of corpus size.
    QueryEntry(
      "q_token_bigrams",
      (s, dir) => tokenBigrams(t(s, dir, "documents")).orderBy("w1", "w2"),
      Some("""WITH b AS (
          SELECT string_split(text,' ')[CAST(i AS INT)] AS w1,
                 string_split(text,' ')[CAST(i AS INT)+1] AS w2
          FROM documents, UNNEST(range(1, len(string_split(text,' ')))) AS t(i))
        SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2 ORDER BY w1, w2"""),
    ),
    // ---- train/eval contamination detection -------------------------------
    // Word-4-gram overlap between the content-addressed train split
    // (bucket < 90) and the held-out eval split (bucket >= 90) — the
    // pre-release decontamination sweep. See [[contaminationBetween]] for
    // the scale shape (distinct-hash reduction on both sides BEFORE the
    // equi-join; no text ever crosses the shuffle).
    QueryEntry(
      "q_decontamination",
      (s, dir) => {
        val withB = graft.Tables.fanOut(t(s, dir, "documents"))
          .select(col("doc_id"), col("text"), splitBucket.as("bucket"))
        contaminationBetween(
          withB.filter(col("bucket") < 90),
          withB.filter(col("bucket") >= 90), 4)
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, text,
            $sqlSplitBucket
              AS bucket FROM documents),
        g AS (SELECT doc_id, bucket,
            unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 1)),
              i -> array_to_string(string_split(text,' ')[i:i+3], ' '))) AS g
          FROM b),
        tg AS (SELECT DISTINCT md5(g) AS gh FROM g WHERE bucket < 90),
        eg AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g WHERE bucket >= 90)
        SELECT doc_id, count(*) AS n_shared FROM eg JOIN tg USING (gh)
        GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // ---- context-window chunking (len 32, stride 24) — see [[docChunks]]
    QueryEntry(
      "q_doc_chunks",
      (s, dir) => docChunks(t(s, dir, "documents"), 32, 24)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents),
          st AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM d)
          SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
            CAST(start AS BIGINT) AS start_token,
            CAST(least(32, len(w) - start) AS BIGINT) AS n_chunk_tokens,
            md5(array_to_string(w[start+1 : start+32], ' ')) AS chunk_md5
          FROM st ORDER BY doc_id, chunk_idx"""),
    ),
    // ---- per-document salient terms (tf·N/df, log-free) — the exact
    // rational keeps both engines bit-identical (ln is not correctly-
    // rounded-guaranteed across libms); same monotone ranking either way.
    // See [[termSalience]] for the shuffle shape.
    QueryEntry(
      "q_term_salience",
      (s, dir) => termSalience(t(s, dir, "documents"), 3)
        .orderBy(col("doc_id"), col("salience").desc, col("term")),
      Some(s"""${sqlTermTok("string_split(text, ' ')")},
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                 WHERE len(term) > 0 GROUP BY 1, 2),
          $sqlDocFreq,
          $sqlNDocs,
          s AS (SELECT doc_id, term, tf, df,
                  CAST(tf AS DOUBLE) * n_docs / CAST(df AS DOUBLE) AS salience
                FROM tf JOIN df USING (term), n),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY salience DESC, term) AS rn FROM s)
          SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                 CAST(df AS BIGINT) AS df, salience
          FROM r WHERE rn <= 3 ORDER BY doc_id, salience DESC, term"""),
    ),
    // ---- capped inverted index (postings k=5) — see [[invertedIndex]].
    // The postings list is emitted as a scalar md5 digest of its
    // space-joined form plus its length (q_array_set_ops house style):
    // the driver's pandas comparator cannot sort raw array cells.
    QueryEntry(
      "q_inverted_index",
      (s, dir) => invertedIndex(t(s, dir, "documents"), 5)
        .select(col("term"), col("df"),
          md5(concat_ws(" ", col("postings").cast("array<string>")))
            .as("postings_md5"),
          size(col("postings")).cast("long").as("n_postings"))
        .orderBy("term"),
      Some(s"""${sqlTermTok("string_split(text, ' ')")},
          tf AS (SELECT DISTINCT doc_id, term FROM tok WHERE len(term) > 0),
          $sqlDocFreq,
          p AS (SELECT term, list(doc_id ORDER BY doc_id)[1:5] AS postings
                FROM tf GROUP BY 1)
          SELECT term, df,
            md5(array_to_string(postings, ' ')) AS postings_md5,
            CAST(len(postings) AS BIGINT) AS n_postings
          FROM df JOIN p USING (term)
          ORDER BY term"""),
    ),
    // ---- token-budget sequence packing (budget 2048, shard 1000) — batch
    // ids are shard-local, deterministic, growth-stable; see [[tokenPacking]]
    QueryEntry(
      "q_token_packing",
      (s, dir) => tokenPacking(t(s, dir, "documents"), 2048, 1000)
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, lang,
              CAST(doc_id // 1000 AS BIGINT) AS shard,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents),
          c AS (SELECT doc_id, lang, shard, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
            FROM d)
          SELECT doc_id, lang, shard, n_tokens,
            CAST((cum - n_tokens) // 2048 AS BIGINT) AS batch_idx
          FROM c ORDER BY doc_id"""),
    ),
    // ---- BM25 relevance over a fixed query (log-free rational IDF) --------
    // see [[bm25]] for the scale shape and the bit-identical-doubles design
    QueryEntry(
      "q_bm25",
      (s, dir) => bm25(t(s, dir, "documents"), Seq("hash", "join", "scan"))
        .orderBy("doc_id"),
      Some(s"""${sqlTermTok("string_split(text,' ')")},
          tk AS (SELECT doc_id, term FROM tok WHERE len(term) > 0),
          dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
          st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
                 FROM dl),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
                 WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
          $sqlDocFreq,
          w AS (SELECT tf.doc_id, tf.term,
              ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
                / (CAST(df AS DOUBLE) + 0.5e0))
              * ((CAST(tf AS DOUBLE) * 2.2e0)
                / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0
                    * (CAST(dl AS DOUBLE)
                       / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
                AS weight
            FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st)
          SELECT doc_id,
            coalesce(max(CASE WHEN term = 'hash' THEN weight END), 0e0)
            + coalesce(max(CASE WHEN term = 'join' THEN weight END), 0e0)
            + coalesce(max(CASE WHEN term = 'scan' THEN weight END), 0e0)
              AS bm25
          FROM w GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // ---- vocabulary dictionary encoding (token ids by corpus rank) --------
    // see [[vocabEncode]]; vocab capped at 64 so OOV (id 0) is exercised.
    // The token-id sequence is emitted as a scalar md5 digest of its
    // space-joined form plus its length (q_array_set_ops house style):
    // the driver's pandas comparator cannot sort raw array cells.
    QueryEntry(
      "q_vocab_encode",
      (s, dir) => vocabEncode(t(s, dir, "documents"), 64)
        .select(col("doc_id"),
          md5(concat_ws(" ", col("token_ids").cast("array<string>")))
            .as("token_ids_md5"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          col("n_oov"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents),
          st AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM d),
          tok AS (SELECT doc_id, pos, w[pos] AS term FROM st
                  WHERE len(w[pos]) > 0),
          freq AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
          dict AS (SELECT term, row_number()
                     OVER (ORDER BY freq DESC, term) AS token_id
                   FROM freq QUALIFY token_id <= 64),
          enc AS (SELECT doc_id,
                    list(coalesce(token_id, 0) ORDER BY pos) AS token_ids
                  FROM tok LEFT JOIN dict USING (term) GROUP BY doc_id)
          SELECT doc_id,
            md5(array_to_string(token_ids, ' ')) AS token_ids_md5,
            CAST(len(token_ids) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(token_ids, x -> x = 0)) AS INT) AS n_oov
          FROM enc ORDER BY doc_id"""),
    ),
    // ---- all-pairs TF-cosine via the inverted index ------------------------
    // see [[cosinePairsIndexed]]: df-capped vector space, postings
    // self-join, sqrt-free integer threshold (cosine >= 4/5)
    QueryEntry(
      "q_cosine_pairs_index",
      (s, dir) => cosinePairsIndexed(t(s, dir, "documents"), 4, 5, 20)
        .orderBy("doc_a", "doc_b"),
      Some(s"""${sqlTermTok("string_split(text,' ')")},
          tf0 AS (SELECT doc_id, term, count(*) AS tf FROM tok
                  WHERE len(term) > 0 GROUP BY 1, 2),
          $sqlNDocs,
          keep AS (SELECT term FROM
              (SELECT term, count(*) AS df FROM tf0 GROUP BY 1), n
            WHERE df * 100 <= n_docs * 20),
          tf AS (SELECT tf0.* FROM tf0 JOIN keep USING (term)),
          norms AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS norm_sq
                    FROM tf GROUP BY 1),
          d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(sum(a.tf*b.tf) AS BIGINT) AS dot
                FROM tf a JOIN tf b
                  ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
          j AS (SELECT doc_a, doc_b, dot, na.norm_sq AS na, nb.norm_sq AS nb
                FROM d JOIN norms na ON na.doc_id = d.doc_a
                       JOIN norms nb ON nb.doc_id = d.doc_b)
          SELECT doc_a, doc_b,
            CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
              AS cosine
          FROM j WHERE 25*dot*dot >= 16*na*nb ORDER BY doc_a, doc_b"""),
    ),
    // ---- count-min-sketch frequency estimates vs ground truth -------------
    // depth 4 × width 16 (width deliberately small so collisions — and the
    // estimator's over-count — are exercised); see [[cmsHeavyHitters]]
    QueryEntry(
      "q_cms_heavy_hitters",
      (s, dir) => cmsHeavyHitters(t(s, dir, "documents"), 4, 16, 20)
        .orderBy("token"),
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS token
            FROM documents),
          tk AS (SELECT token FROM tok WHERE len(token) > 0),
          cells AS (SELECT j,
              CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8))
                AS BIGINT) % 16 AS bucket
            FROM tk, UNNEST([0, 1, 2, 3]) AS u(j)),
          sketch AS (SELECT j AS depth, bucket, count(*) AS n
                     FROM cells GROUP BY 1, 2),
          top AS (SELECT token, count(*) AS exact_count FROM tk
                  GROUP BY 1 ORDER BY exact_count DESC, token LIMIT 20),
          cand AS (SELECT token, exact_count, j AS depth,
              CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8))
                AS BIGINT) % 16 AS bucket
            FROM top, UNNEST([0, 1, 2, 3]) AS u(j))
          SELECT token, exact_count, min(n) AS cms_estimate
          FROM cand JOIN sketch USING (depth, bucket)
          GROUP BY token, exact_count ORDER BY token"""),
    ),
    // ---- quality-proportional deterministic sampling ------------------------
    // see [[qualitySample]]: content-addressed permille draw vs the quality
    // score — per-row, shuffle-free, growth-stable
    QueryEntry(
      "q_quality_sample",
      (s, dir) => qualitySample(t(s, dir, "documents")).orderBy("doc_id"),
      Some {
        val w = "string_split(text, ' ')"
        s"""WITH q AS (SELECT doc_id,
              0.5 * least(CAST($sqlEnStopCount AS DOUBLE) / CAST(len($w) AS DOUBLE) * 5.0, 1.0)
            + 0.3 * least(CAST(len($w) AS DOUBLE) / 100.0, 1.0)
            + 0.2 * (1.0 - least(
                CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                  / CAST(len(text) AS DOUBLE) * 10.0, 1.0)) AS quality,
              CAST(('0x' || substr(md5('qs:' || doc_id), 1, 8)) AS BIGINT) % 1000
                AS draw
            FROM documents)
          SELECT doc_id, quality, draw FROM q
          WHERE CAST(draw AS DOUBLE) < quality * 1000.0
          ORDER BY doc_id"""
      },
    ),
    // ---- train/eval token-distribution drift --------------------------------
    // see [[tokenDistributionDrift]]: one tokenize shuffle with conditional
    // sums for both splits, broadcast totals, exact-integer counts and a
    // fixed-order IEEE rate-gap so the top-k hashes identically
    QueryEntry(
      "q_dist_drift",
      (s, dir) => tokenDistributionDrift(
        graft.Tables.fanOut(t(s, dir, "documents")), 25),
      Some("""WITH b AS (SELECT
            CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT)
              % 100 < 90 AS is_train, text FROM documents),
          tok AS (SELECT is_train, unnest(string_split(text,' ')) AS token
                  FROM b),
          tk AS (SELECT is_train, token FROM tok WHERE len(token) > 0),
          c AS (SELECT token,
              CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                AS n_train,
              CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
                AS n_eval
            FROM tk GROUP BY 1),
          t AS (SELECT CAST(sum(n_train) AS BIGINT) AS t_train,
                       CAST(sum(n_eval) AS BIGINT) AS t_eval FROM c)
          SELECT token, n_train, n_eval,
            abs(CAST(n_train AS DOUBLE) / CAST(t_train AS DOUBLE)
              - CAST(n_eval AS DOUBLE) / CAST(t_eval AS DOUBLE)) AS rate_gap
          FROM c, t
          ORDER BY rate_gap DESC, token ASC LIMIT 25"""),
    ),
    // ---- PMI collocations (log-free rational score) ------------------------
    // see [[pmiCollocations]]: one corpus shuffle, broadcast marginals,
    // exact-integer IEEE arithmetic so the emitted ratio hashes identically
    QueryEntry(
      "q_pmi",
      (s, dir) => pmiCollocations(t(s, dir, "documents"), 3L)
        .orderBy("w1", "w2"),
      Some("""WITH b AS (
            SELECT string_split(text,' ')[CAST(i AS INT)] AS w1,
                   string_split(text,' ')[CAST(i AS INT)+1] AS w2
            FROM documents,
                 UNNEST(range(1, len(string_split(text,' ')))) AS t(i)),
          bi AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
          l AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n1 FROM bi GROUP BY 1),
          r AS (SELECT w2, CAST(sum(n) AS BIGINT) AS n2 FROM bi GROUP BY 1),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM bi)
          SELECT bi.w1, bi.w2, bi.n,
            (CAST(bi.n AS DOUBLE) * CAST(n_total AS DOUBLE))
              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS pmi_ratio
          FROM bi JOIN l USING (w1) JOIN r USING (w2), tot
          WHERE bi.n >= 3 ORDER BY bi.w1, bi.w2"""),
    ),
    // ---- out-of-vocabulary rate vs the corpus top-10 vocab -----------------
    // see [[oovRate]]
    QueryEntry(
      "q_oov_rate",
      (s, dir) => oovRate(t(s, dir, "documents"), 10).orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
            FROM documents),
          tk AS (SELECT doc_id, token FROM tok WHERE len(token) > 0),
          vocab AS (SELECT token, 1 AS in_vocab FROM (
              SELECT token, count(*) AS freq FROM tk
              GROUP BY 1 ORDER BY freq DESC, token LIMIT 10)),
          a AS (SELECT tk.doc_id, v.in_vocab
                FROM tk LEFT JOIN vocab v ON tk.token = v.token)
          SELECT doc_id, count(*) AS n_tokens,
            count(*) - count(in_vocab) AS n_oov,
            CAST(count(*) - count(in_vocab) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              AS oov_rate
          FROM a GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // ---- unigram diversity (Simpson collision probability, log-free) -------
    // The Shannon-entropy quality gate in the log-free rational form this
    // suite standardizes on (cross-engine `log` is not reproducible; integer
    // collision counts are): per document, the unbiased token collision
    // probability numerator sum c·(c−1) over its denominator n·(n−1), plus
    // the type-token ratio as an exact ppm integer. Low diversity (high
    // collision, low TTR) flags the degenerate repetitive spam a pretraining
    // filter drops. Plan: tokenize → ONE (doc_id, token) partial-agg shuffle
    // → per-doc rollup riding the same doc_id distribution — the same
    // two-level shape at 100 TB, no windows, no driver state.
    QueryEntry(
      "q_token_diversity",
      (s, dir) => {
        val tok = graft.Tables.fanOut(t(s, dir, "documents"))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        tok.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_types"),
            sum("n").as("n_tokens"),
            sum(col("n") * (col("n") - 1)).as("coll_num"))
          .select(col("doc_id"), col("n_types"), col("n_tokens"),
            col("coll_num"),
            (col("n_tokens") * (col("n_tokens") - 1)).as("coll_den"),
            expr("n_types * 1000000 div n_tokens").as("ttr_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
            FROM documents),
          c AS (SELECT doc_id, w, count(*) AS n FROM tok GROUP BY 1, 2)
          SELECT doc_id, count(*) AS n_types,
            CAST(sum(n) AS BIGINT) AS n_tokens,
            CAST(sum(n*(n-1)) AS BIGINT) AS coll_num,
            CAST(sum(n) AS BIGINT) * (CAST(sum(n) AS BIGINT) - 1) AS coll_den,
            count(*) * 1000000 // CAST(sum(n) AS BIGINT) AS ttr_ppm
          FROM c GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // ---- source mixture weighting (temperature-scaled, exact-integer) ------
    // Training-data mixing: per-source corpus shares and the α=0.5
    // temperature-scaled sampling weights (∝ √tokens — the standard
    // upweight-the-tail mixture rule). IEEE sqrt is a correctly-rounded
    // required op, so per-source √tokens is bit-reproducible cross-engine;
    // each weight is floor-quantized to an exact micro-integer BEFORE the
    // normalizing sum so no cross-row double accumulation ever happens.
    // Plan: one partial-agg shuffle to per-source totals (|sources| rows),
    // then two broadcast scalars — at 100 TB the shuffle carries one row
    // per (partition × source).
    QueryEntry(
      "q_domain_mix",
      (s, dir) => {
        val perSrc = t(s, dir, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
        val w = perSrc.withColumn("w_raw",
          floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
        val tot = w.agg(sum("n_tokens").as("tot"), sum("w_raw").as("wsum"))
        w.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("n_tokens * 1000000 div tot").as("share_ppm"),
            col("w_raw"),
            expr("w_raw * 1000000 div wsum").as("weight_ppm"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source, count(*) AS n_docs,
              CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
          w AS (SELECT source, n_docs, n_tokens,
              CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
                AS w_raw
            FROM s),
          t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
              CAST(sum(w_raw) AS BIGINT) AS wsum FROM w)
          SELECT source, n_docs, n_tokens,
            n_tokens * 1000000 // tot AS share_ppm, w_raw,
            w_raw * 1000000 // wsum AS weight_ppm
          FROM w, t ORDER BY source"""),
    ),
  )
}
