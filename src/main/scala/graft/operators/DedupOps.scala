package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

/** Document deduplication suite for training-data pipelines: exact hash,
  * MinHash+LSH, SimHash, n-gram Jaccard. All hash functions are md5-based so
  * the DuckDB oracle can reproduce them byte-for-byte (no engine-internal
  * hash functions anywhere).
  *
  * Scale design:
  *  - exact dedup = groupBy(content hash) — one shuffle on a 32-char key
  *    (or the 64-bit RollingHash at 100 TB), partial agg map-side;
  *  - MinHash LSH = per-doc signature (narrow, codegen'd HOFs over the
  *    shingle array) → explode to (band, doc) → shuffle on band → pairs
  *    emitted only within a bucket. No all-pairs join ever materializes;
  *  - SimHash = narrow per-doc 16-bit sketch; near-dup candidates group on
  *    the sketch value;
  *  - n-gram Jaccard = blocked self-join (here: (lang, source) block key;
  *    at scale: an LSH band) so the quadratic work is bounded per block.
  */
object DedupOps {
  import Tables.t

  private val ShingleSize = 3
  private val NumHashes = 8
  private val BandRows = 2 // 4 bands of 2 rows
  private val ParagraphWords = 8 // C4-style pseudo-paragraph chunk width

  // ---- shared shingle / signature builders (Spark side) --------------------
  /** Word k-shingles of a text column (empty array when fewer than k words). */
  def shingles(text: Column, k: Int = ShingleSize): Column = {
    val words = split(text, " ")
    when(size(words) >= k,
      transform(sequence(lit(0), size(words) - k),
        i => concat_ws(" ", slice(words, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** ALL `NumHashes` MinHash signatures in one pass via the native kernel
    * [[graft.functions.MinhashSignature]]: signature i is the
    * lexicographic min of md5(i:shingle), bit-identical per lane to the
    * composable `array_min(transform(sh, x => md5('i:' || x)))` the
    * DuckDB oracle mirrors, with one array traversal instead of eight. */
  def minhashSigArray(shingleCol: Column): Column =
    graft.functions.Kernel.call(graft.functions.MinhashSignature, "compute",
      ArrayType(StringType))(
      shingleCol -> ArrayType(StringType), lit(NumHashes) -> IntegerType)

  /** 16-bit SimHash from the per-word md5 hex digits: bit i is set iff the
    * count of words whose i-th hex digit has its high bit set exceeds the
    * count of those that don't. Native one-pass kernel
    * ([[graft.functions.VectorKernels.simhash16]]: one md5 per word, all
    * 16 counters in one traversal) — bit-identical to the 16-pass HOF
    * chain it replaced (each of whose bit expressions re-evaluated the
    * md5 transform); pinned by the golden spec.
    */
  def simhash16(text: Column): Column =
    graft.functions.VectorKernels.simhash16Col(text)

  // ---- matching DuckDB SQL fragments (kept in lockstep with the above) ----
  // i ranges over 1..len-k+1 (range() is end-exclusive → end = len-k+2)
  private def sqlShingles(text: String): String =
    s"""list_transform(range(1, greatest(len(string_split($text,' ')) - ${ShingleSize - 2}, 1)),
        i -> array_to_string(string_split($text,' ')[i:i+${ShingleSize - 1}], ' '))"""

  private def sqlMinhashSig(sh: String, i: Int): String =
    s"list_min(list_transform($sh, x -> md5('$i:' || x)))"

  private def sqlSimhash16(text: String): String = {
    val hs = s"list_transform(string_split($text, ' '), w -> md5(w))"
    (1 to 16).map { i =>
      s"""(CASE WHEN list_aggregate(list_transform($hs,
            h -> CASE WHEN substr(h,$i,1) IN ('8','9','a','b','c','d','e','f')
                 THEN 1 ELSE -1 END), 'sum') > 0
          THEN ${1L << (i - 1)} ELSE 0 END)"""
    }.mkString("(", " + ", ")")
  }

  // The MinHash LSH oracles (the SQL twin of [[bandedSignatures]]): the
  // signature columns, their band hashes, and one `bands` row per
  // (doc, band); `carry` names columns kept through to `bands`.
  private val sqlSigCols: String = {
    val sh = sqlShingles("text")
    (0 until NumHashes)
      .map(i => s"${sqlMinhashSig(sh, i)} AS sig_$i").mkString(", ")
  }

  private val sqlBandCols: String =
    (0 until NumHashes / BandRows).map { b =>
      val parts = (0 until BandRows).map(r => s"sig_${b * BandRows + r}")
      s"md5(${parts.mkString(" || ")}) AS band_$b"
    }.mkString(", ")

  private def sqlBandUnion(carry: String): String =
    (0 until NumHashes / BandRows)
      .map(b => s"SELECT doc_id AS doc, $carry$b AS band_idx, band_$b AS band_hash FROM sigs")
      .mkString(" UNION ALL ")

  /** CTEs `raw` (signatures), `sigs` (band hashes) and `bands`. */
  private val sqlLshBands: String =
    s"""raw AS (
              SELECT doc_id, $sqlSigCols FROM documents
              WHERE len(string_split(text,' ')) >= $ShingleSize),
            sigs AS (SELECT doc_id, $sqlBandCols FROM raw),
            bands AS (${sqlBandUnion("")})"""

  /** [[sqlLshBands]] plus `cand`: the distinct pairs (doc_a < doc_b) that
    * share a band (the oracle of [[minhashCandidatePairs]]). */
  private val sqlLshCand: String =
    s"""$sqlLshBands,
            cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc < b.doc)"""

  /** [[sqlLshCand]] closed transitively as a recursive CTE: min reachable
    * id = the component representative (UNION dedups, so the recursion is
    * bounded by |component|² rows). */
  private val sqlLshReach: String =
    s"""WITH RECURSIVE $sqlLshCand,
            edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                      UNION SELECT doc_b, doc_a FROM cand),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.src, reach.r FROM edges e
              JOIN reach ON reach.id = e.dst)"""

  /** CTE `d`: per-doc distinct shingle sets (the oracle of [[shingleSets]]). */
  private val sqlShingleSets: String =
    s"""d AS (SELECT doc_id, list_distinct(${sqlShingles("text")}) AS sh FROM documents
                  WHERE len(string_split(text,' ')) >= $ShingleSize)"""

  /** Exact Jaccard of the shingle sets `a.sh` and `b.sh`. */
  private val sqlJaccardAB: String =
    """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)"""

  /** CTEs `rr` → `rk`: the HLL (b, r) register rows over the md5 column
    * `h` of `tv` (the oracle of [[hllBucketRank]]); `carry` is a leading
    * column kept through. */
  private def sqlHllRanks(carry: String): String =
    s"""rr AS (SELECT$carry
                CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS b,
                length(regexp_extract(substr(h, 3, 30), '^0*')) AS zlen,
                substr(h, 3 + length(regexp_extract(substr(h, 3, 30), '^0*')), 1) AS fd
              FROM tv),
            rk AS (SELECT$carry b,
                CASE WHEN zlen = 30 THEN 121
                     ELSE zlen * 4 +
                       (CASE WHEN fd = '1' THEN 3
                             WHEN fd IN ('2','3') THEN 2
                             WHEN fd IN ('4','5','6','7') THEN 1
                             ELSE 0 END) + 1 END AS r
              FROM rr)"""

  /** CTE `<name>`: the (present, f) harmonic fold of register CTE `reg`. */
  private def sqlHllRoll(name: String, reg: String): String =
    s"""$name AS (SELECT count(*) AS present,
                list_aggregate(list(1e0 / CAST((CAST(1 AS BIGINT) << least(m, 62)) AS DOUBLE) ORDER BY b), 'sum') AS f
              FROM $reg)"""

  /** The raw HLL estimate of fold CTE `roll` (the oracle of [[hllEstimate]]). */
  private def sqlHllEstimate(roll: String): String =
    s"""(0.7213e0 / (1e0 + 1.079e0 / 256e0)) * 65536e0
                / ($roll.f + (256 - $roll.present) * 1e0)"""

  // ---- reusable operators ---------------------------------------------------
  /** Exact near-duplicate groups: one row per distinct content hash with the
    * first (lowest-id) keeper and the duplicate count.
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Tables.fanOut(docs).groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Banded MinHash signatures: one (doc, band_idx, band_hash) row per LSH
    * band — the narrow, codegen'd frame every LSH consumer keys on. At
    * 100 TB this is the table an indexed corpus persists (bucketed by
    * (band_idx, band_hash)) so that incremental deltas join against it
    * without re-signing the corpus.
    */
  def bandedSignatures(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sh = shingles(col(textCol))
    // fan the single-split scan out over every core before the per-row
    // signature kernel, and gate on the cheap word count (equivalent to
    // size(shingles) > 0, but does not build the shingle array a second
    // time in the filter operator — filter and project cannot share
    // subexpressions across the operator boundary)
    val withSig = Tables.fanOut(docs)
      .filter(size(split(col(textCol), " ")) >= ShingleSize)
      .select(col(idCol).as("doc"),
        minhashSigArray(sh).as("sig"))
    val bands = (0 until NumHashes / BandRows).map { b =>
      val parts = (0 until BandRows).map(r =>
        element_at(col("sig"), b * BandRows + r + 1))
      struct(lit(b).as("band_idx"), md5(concat(parts: _*)).as("band_hash"))
    }
    withSig.select(col("doc"), explode(array(bands: _*)).as("band"))
      .select(col("doc"), col("band.band_idx"), col("band.band_hash"))
  }

  /** MinHash LSH candidate pairs: signature → bands → explode → bucket join.
    * At scale this is the only shuffle (on the band hash); the quadratic
    * pair generation happens per bucket.
    */
  def minhashCandidatePairs(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exploded = bandedSignatures(docs, textCol, idCol)
    // ONE shuffle: bucket docs by band, emit i<j pairs inside each bucket
    // via codegen'd higher-order functions. A band self-join would instead
    // recompute the whole signature pipeline on both sides and shuffle it
    // twice — measured 10× slower at sf0.01 and strictly worse at scale.
    val docsInBucket = exploded
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("doc"))).as("ds"))
      .filter(size(col("ds")) > 1)
    val pairs = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    docsInBucket.select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** SimHash near-duplicate pairs at scale: block LSH over the 16-bit
    * sketch (the Manku et al. WWW'07 scheme). Hamming distance ≤ 1 implies
    * at least one 8-bit half of the two sketches is bit-identical
    * (pigeonhole), so candidates come from ONE shuffle on
    * (half_idx, half_value) with in-bucket pair expansion — never an
    * all-pairs join — and are verified with an exact popcount on the XOR.
    * At 100 TB the sketch is 64-bit split into d+1 blocks for distance ≤ d
    * (same plan shape; buckets stay balanced because sketch bits are
    * hash-uniform); 16 bits here keeps the DuckDB oracle in lockstep with
    * [[simhash16]].
    */
  def simhashHammingPairs(docs: DataFrame, maxHamming: Int = 1): DataFrame = {
    // pigeonhole needs maxHamming+1 blocks: d flipped bits can touch at
    // most d blocks, leaving one identical. Contiguous ranges of the 16
    // sketch bits (widths may differ by 1 — the argument never needs
    // equal widths).
    val nBlocks = maxHamming + 1
    require(nBlocks >= 2 && nBlocks <= 16,
      s"simhashHammingPairs: maxHamming=$maxHamming needs $nBlocks blocks" +
        " over a 16-bit sketch (1 <= maxHamming <= 15)")
    val sk = Tables.fanOut(docs)
      .select(col("doc_id"), simhash16(col("text")).as("sh"))
    val halves = (0 until nBlocks).map { j =>
      val start = j * 16 / nBlocks
      val width = (j + 1) * 16 / nBlocks - start
      struct(lit(j).as("half_idx"),
        shiftright(col("sh"), start)
          .bitwiseAND(lit((1L << width) - 1)).as("half_val"))
    }
    val exploded = sk
      .select(col("doc_id"), col("sh"), explode(array(halves: _*)).as("h"))
      .select(col("doc_id"), col("sh"), col("h.half_idx"), col("h.half_val"))
    // ONE shuffle: bucket sketches by half, expand i<j pairs in-bucket via
    // codegen'd HOFs (the minhashCandidatePairs pattern — a half self-join
    // would shuffle the sketch pipeline twice).
    val buckets = exploded
      .groupBy(col("half_idx"), col("half_val"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sh")))).as("ds"))
      .filter(size(col("ds")) > 1)
    val pairs = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))),
        y => struct(x.getField("doc_id").as("doc_a"),
          y.getField("doc_id").as("doc_b"),
          x.getField("sh").as("sh_a"), y.getField("sh").as("sh_b")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        expr("cast(bit_count(p.sh_a ^ p.sh_b) as bigint)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Per-doc distinct word-shingle sets `(doc_id, sh)`, docs without a
    * shingle dropped — pinned, so the array_distinct pass runs once and not
    * once per [[joinBack]] side. */
  private def shingleSets(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .select(col("doc_id"), array_distinct(shingles(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** THE LSH join-back: attach `d`'s per-doc `payload` to both ends of the
    * candidate `pairs` (id columns `a`, `b`) as `<payload>_a` /
    * `<payload>_b`. The candidate list is the tiny (LSH-bounded) side, so
    * it — and the pair + `<payload>_a` intermediate — broadcast onto `d`,
    * which is never shuffled. */
  private def joinBack(pairs: DataFrame, d: DataFrame, a: String, b: String,
      payload: String): DataFrame = {
    val withA = d.select(col("doc_id").as(a), col(payload).as(s"${payload}_a"))
      .join(broadcast(pairs), a)
    d.select(col("doc_id").as(b), col(payload).as(s"${payload}_b"))
      .join(broadcast(withA), b)
  }

  /** Exact Jaccard of the joined-back shingle sets `sh_a` and `sh_b`. */
  private def joinedJaccard: Column = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    inter.cast("double") /
      (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double")
  }

  /** Directed Broder containment on the MinHash-LSH candidate set: for each
    * candidate pair, |A∩B|/|A| and |A∩B|/|B| over distinct word-shingle
    * sets, keeping pairs where either direction reaches `threshold`.
    * Resemblance (Jaccard) misses a short doc embedded verbatim in a long
    * one — the union denominator swamps it; containment is the standard
    * detector for that quote/boilerplate case. Same scale shape as
    * [[minhashCandidatePairs]] + shingle join-back: never all-pairs.
    */
  def containmentOnCandidates(docs: DataFrame, threshold: Double): DataFrame = {
    val pairs = minhashCandidatePairs(docs, "text", "doc_id")
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    joinBack(pairs, shingleSets(docs), "doc_a", "doc_b", "sh")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") / size(col("sh_a")).cast("double"))
          .as("contain_a_in_b"),
        (inter.cast("double") / size(col("sh_b")).cast("double"))
          .as("contain_b_in_a"))
      .filter(greatest(col("contain_a_in_b"), col("contain_b_in_a"))
        >= threshold)
  }

  /** Exact Levenshtein verification of the MinHash-LSH candidate set —
    * character-level ground truth where Jaccard/containment are set-level
    * approximations (they can't see transpositions or in-shingle edits).
    * Both engines implement the classic unit-cost DP, so the distance is a
    * well-defined integer and the normalized similarity
    * `1 − dist/max(len)` an exact IEEE division. The O(len_a·len_b) DP per
    * pair is why this runs ONLY on the LSH candidates (bucket-bounded,
    * never all-pairs): at corpus scale the candidate list is the tiny side
    * and broadcasts onto the docs scan.
    */
  def editDistanceOnCandidates(docs: DataFrame): DataFrame = {
    // candidate list broadcasts onto the docs scan (the documented 100 TB
    // shape) — without the hint the planner shuffles the full text table
    // twice for the two join-backs
    val pairs = minhashCandidatePairs(docs, "text", "doc_id")
    joinBack(pairs, Tables.fanOut(docs), "doc_a", "doc_b", "text")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_dist"),
        length(col("text_a")).cast("long").as("len_a"),
        length(col("text_b")).cast("long").as("len_b"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(col("len_a"), col("len_b")).cast("double"))
  }

  /** Incremental near-dup detection — the continuous-crawl shape: each new
    * delta of documents is checked against the already-indexed corpus, not
    * against itself. Split is content-addressed ([[TextAnalysis.splitBucket]]:
    * bucket ≥ 90 = incoming delta, < 90 = indexed corpus). The delta's
    * banded signatures equi-join the corpus's on (band_idx, band_hash) —
    * at 100 TB the corpus side is the PERSISTED [[bandedSignatures]] table
    * bucketed on that key, so the delta probe touches only matching
    * buckets and the corpus is never re-signed; exact Jaccard runs only on
    * the surviving candidate pairs (near-linear in the true dup count).
    */
  def incrementalNearDup(docs: DataFrame, threshold: Double): DataFrame = {
    // sign the corpus ONCE and split the banded frame by the
    // content-addressed bucket (recomputable from the id alone): banding
    // is per-doc, so filtering before or after signing is equivalent —
    // before this the delta and corpus branches each ran their own full
    // shingle+signature pass. The pinned frame serves both filters.
    val bands = bandedSignatures(docs, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucket = TextAnalysis.splitBucketOf(col("doc"))
    val nb = bands.filter(bucket >= 90)
    val ob = bands.filter(bucket < 90)
    val cand = nb.select(col("doc").as("new_doc"), col("band_idx"), col("band_hash"))
      .join(ob.select(col("doc").as("dup_of"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select(col("new_doc"), col("dup_of")).distinct()
    // exact Jaccard on the candidates only (the q_jaccard_lsh join-back)
    joinBack(cand, shingleSets(docs), "new_doc", "dup_of", "sh")
      .select(col("new_doc"), col("dup_of"), joinedJaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Deterministic HyperLogLog-shaped cardinality sketch: md5-derived
    * registers (bucket = first md5 byte, rank = leading-zero bits of the
    * rest + 1, 256 registers) so BOTH engines reproduce the sketch
    * byte-for-byte — unlike `approx_count_distinct`, whose engine-internal
    * hashing can never be oracle-checked. Scale shape: the register build
    * is ONE partial-agg'd shuffle of ≤256 (bucket, max-rank) rows per
    * partition regardless of input size — the standard way distinct-URL /
    * distinct-n-gram cardinality is tracked at 10^10 scale without an
    * exact distinct. The harmonic sum folds over the bucket-sorted
    * register array (order-pinned: 256 tiny doubles), and the estimate is
    * emitted RAW (no log-based small-range correction — `ln` is not
    * correctly-rounded-guaranteed across libms; callers in the small
    * regime should use the exact distinct, which the entry emits
    * alongside for the error check).
    */
  /** md5-derived HLL (bucket, rank) register columns over `col("t")` —
    * shared by [[hllSketch]] and the merge entry so the two register
    * builds cannot drift. */
  private def hllBucketRank: (Column, Column) = {
    val h = md5(col("t"))
    val b = conv(substring(h, 1, 2), 16, 10).cast("int")
    val rest = substring(h, 3, 30)
    val zl = length(regexp_extract(rest, "^0*", 0))
    val fd = rest.substr(zl + 1, lit(1))
    val nibz = when(fd === "1", 3)
      .when(fd.isin("2", "3"), 2)
      .when(fd.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    (b, when(zl === 30, lit(121)).otherwise(zl * 4 + nibz + 1))
  }

  /** Order-pinned harmonic fold of a register frame (b, m) → one row
    * (present, fold) — the estimate's deterministic core. */
  private def hllFold(reg: DataFrame): DataFrame = {
    val inv = reg.select(col("b"),
      (lit(1.0) /
        expr("CAST(shiftleft(CAST(1 AS BIGINT), least(m, 62)) AS DOUBLE)"))
        .as("iv"))
    inv.agg(count(lit(1)).as("present"),
      aggregate(
        transform(array_sort(collect_list(struct(col("b"), col("iv")))),
          s => s.getField("iv")),
        lit(0.0), _ + _).as("fold"))
  }

  /** Raw HLL estimate from a (present, fold) roll-up row. */
  private def hllEstimate: Column =
    (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) * lit(65536.0) /
      (col("fold") + (lit(256) - col("present")) * lit(1.0))

  def hllSketch(values: DataFrame): DataFrame = {
    val (b, rank) = hllBucketRank
    val reg = values.select(b.as("b"), rank.as("r"))
      .groupBy("b").agg(max(col("r")).as("m"))
    val roll = hllFold(reg)
    val exact = values.agg(countDistinct(col("t")).as("exact_distinct"))
    val sumInv = col("fold") + (lit(256) - col("present")) * lit(1.0)
    exact.crossJoin(broadcast(roll))
      .select(col("exact_distinct"),
        lit(256L).as("n_registers"),
        (lit(256L) - col("present")).as("n_zero_registers"),
        sumInv.as("sum_inv"),
        hllEstimate.as("hll_estimate"))
  }

  /** Guard for the deliberately-quadratic small-scale reference twins
    * (`q_ngram_jaccard`, `q_embedding_neardup`): measures the largest
    * block BEFORE the within-block self-join is allowed to run and
    * REFUSES loudly above `cap` — at that point the caller belongs on the
    * LSH flagship (`q_jaccard_lsh` / `q_embedding_lsh`), whose work is
    * bounded by the signature, not the block. The check itself is one
    * scalable partial-agg shuffle; an oversized quadratic join never
    * starts. cap=10^4 bounds any block at ≤10^8 pairs.
    */
  private[operators] val QuadraticBlockCap = 10000L
  def requireBoundedBlocks(d: DataFrame, keys: Seq[String], name: String,
                           flagship: String,
                           cap: Long = QuadraticBlockCap): DataFrame = {
    val mx = d.groupBy(keys.map(col): _*).count()
      .agg(coalesce(max(col("count")), lit(0L)).as("mx"))
      .collect()(0).getLong(0)
    require(mx <= cap,
      s"$name: largest (${keys.mkString(",")}) block has $mx rows > cap " +
        s"$cap — quadratic within-block self-join refused; use $flagship " +
        "(LSH-bounded) at this scale")
    d
  }

  def entries: Seq[QueryEntry] = Seq(
    // ---- exact dedup by content hash -------------------------------------
    QueryEntry(
      "q_dedup_exact_hash",
      (s, dir) =>
        exactDedup(t(s, dir, "documents"), "text", "doc_id")
          .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_dups
        FROM documents GROUP BY md5(text) ORDER BY content_hash"""),
    ),
    // ---- MinHash signatures ----------------------------------------------
    QueryEntry(
      "q_minhash_sig",
      (s, dir) => {
        // fan-out + cheap word-count gate (the bandedSignatures pattern:
        // size(shingles) > 0 ⟺ words >= k, without building the shingle
        // array a second time inside the Filter operator)
        val docs = Tables.fanOut(t(s, dir, "documents"))
          .filter(size(split(col("text"), " ")) >= ShingleSize)
        val sh = shingles(col("text"))
        val withArr = docs
          .select(col("doc_id"), minhashSigArray(sh).as("__sigs"))
        val sigs = (0 until NumHashes)
          .map(i => element_at(col("__sigs"), i + 1).as(s"sig_$i"))
        withArr.select(col("doc_id") +: sigs: _*)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, $sqlSigCols FROM documents
            WHERE len(string_split(text,' ')) >= $ShingleSize
            ORDER BY doc_id"""),
    ),
    // ---- MinHash LSH candidate pairs --------------------------------------
    QueryEntry(
      "q_minhash_pairs",
      (s, dir) =>
        minhashCandidatePairs(t(s, dir, "documents"), "text", "doc_id")
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlLshBands
            SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc < b.doc
            ORDER BY doc_a, doc_b"""),
    ),
    // ---- SimHash sketch -----------------------------------------------------
    QueryEntry(
      "q_simhash",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), simhash16(col("text")).as("simhash"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        CAST(${sqlSimhash16("text")} AS BIGINT) AS simhash
        FROM documents ORDER BY doc_id"""),
    ),
    // ---- SimHash hamming-distance pairs via block LSH -----------------------
    // see [[simhashHammingPairs]] for the pigeonhole argument and scale shape
    QueryEntry(
      "q_simhash_pairs",
      (s, dir) =>
        simhashHammingPairs(t(s, dir, "documents"), maxHamming = 1)
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH s AS (SELECT doc_id,
              CAST(${sqlSimhash16("text")} AS BIGINT) AS sh FROM documents),
          h AS (SELECT doc_id, sh, j, (sh >> (8*j)) & 255 AS hv
                FROM s, UNNEST([0, 1]) AS u(j)),
          p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sh AS sh_a, b.sh AS sh_b
                FROM h a JOIN h b
                  ON a.j = b.j AND a.hv = b.hv AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b,
            CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
          FROM p WHERE bit_count(xor(sh_a, sh_b)) <= 1
          ORDER BY doc_a, doc_b"""),
    ),
    // ---- n-gram Jaccard within (lang, source) blocks ------------------------
    QueryEntry(
      "q_ngram_jaccard",
      (s, dir) => {
        // pinned: the guard's block-size probe, then BOTH self-join sides,
        // read this frame — without the persist the shingle build runs 3×
        val d = requireBoundedBlocks(
          Tables.fanOut(t(s, dir, "documents"))
            .select(col("doc_id"), col("lang"), col("source"),
                    array_distinct(shingles(col("text"))).as("sh"))
            .filter(size(col("sh")) > 0)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
          Seq("lang", "source"), "q_ngram_jaccard", "q_jaccard_lsh")
        val a = d.as("a")
        val b = d.as("b")
        a.join(b, col("a.lang") === col("b.lang")
            && col("a.source") === col("b.source")
            && col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
              (size(col("a.sh")) + size(col("b.sh"))
                - size(array_intersect(col("a.sh"), col("b.sh")))).cast("double"))
              .as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val sh = sqlShingles("text")
        s"""WITH d AS (
              SELECT doc_id, lang, source, list_distinct($sh) AS sh
              FROM documents
              WHERE len(string_split(text,' ')) >= $ShingleSize)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              $sqlJaccardAB
                AS jaccard
            FROM d a JOIN d b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b"""
      },
    ),
    // ---- exact Jaccard over MinHash-LSH candidates (the scale path) -------
    // The blocked self-join above is quadratic within its block; at corpus
    // scale the right shape is: LSH candidate pairs (ONE band shuffle) →
    // join the pair list back to the shingle sets → exact Jaccard on only
    // those pairs. Pair count is near-linear in the duplicate count, so
    // the joins are tiny relative to the corpus.
    QueryEntry(
      "q_jaccard_lsh",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = minhashCandidatePairs(docs, "text", "doc_id")
        joinBack(pairs, shingleSets(docs), "doc_a", "doc_b", "sh")
          .select(col("doc_a"), col("doc_b"), joinedJaccard.as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $sqlLshCand,
            $sqlShingleSets
            SELECT c.doc_a, c.doc_b,
              $sqlJaccardAB
                AS jaccard
            FROM cand c
            JOIN d a ON a.doc_id = c.doc_a
            JOIN d b ON b.doc_id = c.doc_b
            WHERE $sqlJaccardAB
              >= 0.5
            ORDER BY doc_a, doc_b"""),
    ),
    // ---- directed containment over LSH candidates --------------------------
    // Broder containment |A∩B|/|A| (and the mirror |A∩B|/|B|) on the same
    // candidate set as q_jaccard_lsh: resemblance misses a short doc
    // embedded verbatim in a long one (the quote/boilerplate case — union
    // dominates the ratio); containment is the detector for it. Same scale
    // shape as the Jaccard flagship: ONE band shuffle for candidates, then
    // the pair list joins back to the shingle sets — never all-pairs. The
    // emitted ratios are exact int/int IEEE divisions.
    QueryEntry(
      "q_containment",
      (s, dir) => containmentOnCandidates(t(s, dir, "documents"), 0.5)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlLshCand,
            $sqlShingleSets
            SELECT c.doc_a, c.doc_b,
              CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(a.sh) AS DOUBLE) AS contain_a_in_b,
              CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(b.sh) AS DOUBLE) AS contain_b_in_a
            FROM cand c
            JOIN d a ON a.doc_id = c.doc_a
            JOIN d b ON b.doc_id = c.doc_b
            WHERE greatest(
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(a.sh) AS DOUBLE),
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / CAST(len(b.sh) AS DOUBLE)) >= 0.5e0
            ORDER BY doc_a, doc_b"""),
    ),
    // ---- exact edit-distance verification of LSH candidates ----------------
    // character-level ground truth on the bucket-bounded candidate set;
    // see [[editDistanceOnCandidates]] for why this never runs all-pairs
    QueryEntry(
      "q_edit_distance",
      (s, dir) => editDistanceOnCandidates(t(s, dir, "documents"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $sqlLshCand
            SELECT c.doc_a, c.doc_b,
              CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
              CAST(len(a.text) AS BIGINT) AS len_a,
              CAST(len(b.text) AS BIGINT) AS len_b,
              1e0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                / CAST(greatest(len(a.text), len(b.text)) AS DOUBLE)
                AS edit_sim
            FROM cand c
            JOIN documents a ON a.doc_id = c.doc_a
            JOIN documents b ON b.doc_id = c.doc_b
            ORDER BY c.doc_a, c.doc_b"""),
    ),
    // ---- incremental near-dup: delta vs indexed corpus --------------------
    // see [[incrementalNearDup]] for the continuous-crawl scale shape
    QueryEntry(
      "q_incremental_neardup",
      (s, dir) => incrementalNearDup(t(s, dir, "documents"), 0.5)
        .orderBy("new_doc", "dup_of"),
      Some(s"""WITH b AS (SELECT doc_id, text,
              CAST(('0x' || substr(md5('split:' || doc_id), 1, 8)) AS BIGINT) % 100
                AS bucket FROM documents),
            raw AS (SELECT doc_id, bucket, $sqlSigCols FROM b
                    WHERE len(string_split(text,' ')) >= $ShingleSize),
            sigs AS (SELECT doc_id, bucket, $sqlBandCols FROM raw),
            bands AS (${sqlBandUnion("bucket, ")}),
            cand AS (SELECT DISTINCT n.doc AS new_doc, o.doc AS dup_of
                     FROM bands n JOIN bands o
                       ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
                     WHERE n.bucket >= 90 AND o.bucket < 90),
            $sqlShingleSets,
            j AS (SELECT c.new_doc, c.dup_of,
                    CAST(len(list_intersect(a.sh, o.sh)) AS DOUBLE) /
                    CAST(len(a.sh) + len(o.sh) - len(list_intersect(a.sh, o.sh))
                         AS DOUBLE) AS jaccard
                  FROM cand c JOIN d a ON a.doc_id = c.new_doc
                              JOIN d o ON o.doc_id = c.dup_of)
            SELECT new_doc, dup_of, jaccard FROM j WHERE jaccard >= 0.5
            ORDER BY new_doc, dup_of"""),
    ),
    // ---- near-dup CLUSTERS: connected components over LSH pairs -----------
    // A training-data dedup pipeline keeps ONE canonical document per
    // near-dup cluster, and clusters are the transitive closure of the
    // pairwise candidates. Implemented as alternating small-star/large-star
    // contraction (the two-phase MapReduce CC algorithm): converges in
    // O(log diameter) rounds — a PATH-shaped cluster of length 10^6 (plain
    // min-propagation's worst case: 10^6 full-edge-list shuffles) closes in
    // ~20 — and per-iteration shuffle volume shrinks with the edge set as
    // stars collapse. ONE Spark action per iteration; the convergence
    // metric rides that action via Observation (no separate count job).
    QueryEntry(
      "q_dedup_clusters",
      (s, dir) => clustersFor(s, dir),
      Some(s"""$sqlLshReach
            SELECT id AS doc_id, min(r) AS component
            FROM reach GROUP BY id ORDER BY doc_id"""),
    ),
    // ---- deterministic HLL cardinality sketch over corpus 3-grams ----------
    // see [[hllSketch]]; exact distinct emitted alongside as the error
    // baseline (sketch lands within ~1.04/√256 ≈ 6.5% of it)
    QueryEntry(
      "q_approx_distinct",
      (s, dir) => hllSketch(
        Tables.fanOut(t(s, dir, "documents"))
          .select(explode(shingles(col("text"))).as("t"))),
      Some {
        val sh = sqlShingles("text")
        s"""WITH tok AS (SELECT unnest($sh) AS t FROM documents
              WHERE len(string_split(text,' ')) >= $ShingleSize),
            tv AS (SELECT t, md5(t) AS h FROM tok),
            ${sqlHllRanks("")},
            reg AS (SELECT b, max(r) AS m FROM rk GROUP BY b),
            inv AS (SELECT b,
                1e0 / CAST((CAST(1 AS BIGINT) << least(m, 62)) AS DOUBLE) AS iv
              FROM reg),
            roll AS (SELECT CAST(count(*) AS BIGINT) AS present,
                list_aggregate(list(iv ORDER BY b), 'sum') AS f
              FROM inv),
            ex AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS exact_distinct
              FROM tok)
            SELECT ex.exact_distinct,
              CAST(256 AS BIGINT) AS n_registers,
              CAST(256 - roll.present AS BIGINT) AS n_zero_registers,
              roll.f + (256 - roll.present) * 1e0 AS sum_inv,
              ${sqlHllEstimate("roll")} AS hll_estimate
            FROM roll, ex"""
      },
    ),
    // ---- HLL sketch mergeability (the map-side-combine property) -----------
    // What makes sketches work at 100 TB: registers built per shard merge by
    // per-bucket MAX into exactly the registers a single global build would
    // produce (max is associative/commutative/idempotent), so cardinality
    // sketches combine map-side and union across partitions/snapshots for
    // free. Proven here end-to-end: per-source sketches → merged estimate ==
    // direct whole-corpus estimate, bit-equal (lossless_merge emitted and
    // oracle-checked, not just asserted). Shuffle grain: per-source registers
    // ≤ sources×256 rows, merge ≤ 256 — constant past the one token scan.
    QueryEntry(
      "q_sketch_merge",
      (s, dir) => {
        val toks = Tables.fanOut(t(s, dir, "documents"))
          .select(col("source"), explode(shingles(col("text"))).as("t"))
        val (b, rank) = hllBucketRank
        // ONE pass tokenizes+hashes the corpus into (source, b, r) rows;
        // the per-source registers, the merged registers and the direct
        // registers all aggregate from it (the direct build previously
        // re-scanned the corpus — a second full shingle+md5+regex pass).
        // The merge-vs-direct comparison stays non-vacuous: the two
        // estimates still come from different aggregation paths over the
        // same hashed-token stream.
        val tv = toks.select(col("source"), b.as("b"), rank.as("r"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val perSrc = tv.groupBy("source", "b").agg(max(col("r")).as("m"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val merged = hllFold(perSrc.groupBy("b").agg(max(col("m")).as("m")))
          .select(hllEstimate.as("merged_estimate"))
        val direct = hllFold(tv.groupBy("b").agg(max(col("r")).as("m")))
          .select(hllEstimate.as("direct_estimate"))
        perSrc.agg(countDistinct(col("source")).as("n_sources"))
          .crossJoin(broadcast(merged))
          .crossJoin(broadcast(direct))
          .select(col("n_sources"), col("merged_estimate"),
            col("direct_estimate"),
            (col("merged_estimate") === col("direct_estimate"))
              .as("lossless_merge"))
      },
      Some {
        val sh = sqlShingles("text")
        s"""WITH tok AS (SELECT source, unnest($sh) AS t FROM documents
              WHERE len(string_split(text,' ')) >= $ShingleSize),
            tv AS (SELECT source, md5(t) AS h FROM tok),
            ${sqlHllRanks(" source,")},
            psrc AS (SELECT source, b, max(r) AS m FROM rk GROUP BY 1, 2),
            mreg AS (SELECT b, max(m) AS m FROM psrc GROUP BY 1),
            dreg AS (SELECT b, max(r) AS m FROM rk GROUP BY 1),
            ${sqlHllRoll("mroll", "mreg")},
            ${sqlHllRoll("droll", "dreg")},
            ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources
              FROM psrc)
            SELECT ns.n_sources,
              ${sqlHllEstimate("mroll")} AS merged_estimate,
              ${sqlHllEstimate("droll")} AS direct_estimate,
              (${sqlHllEstimate("mroll")}) =
              (${sqlHllEstimate("droll")}) AS lossless_merge
            FROM ns, mroll, droll"""
      },
    ),
    // ---- canonical representative per near-dup cluster ---------------------
    // The dedup pipeline's final decision: keep the highest-quality doc of
    // each cluster (tie → lowest id). Rides the memoized/checkpointed
    // cluster frame (computed once per session); quality is the
    // q_quality_score formula ([[TextAnalysis.qualityExpr]]); the per-
    // cluster argmax goes through TopKPerKey(k=1), so the final shuffle
    // carries one row per cluster — never a per-cluster sort of members.
    QueryEntry(
      "q_cluster_representatives",
      (s, dir) => {
        val comp = clustersFor(s, dir)
        val qd = t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.qualityExpr(col("text")).as("quality"))
        val reps = graft.plans.TopKPerKey(comp.join(qd, "doc_id"),
            Seq(col("component")),
            Seq(col("quality").desc, col("doc_id").asc), 1)
          .select(col("component"), col("doc_id").as("rep_doc_id"),
            col("quality").as("rep_quality"))
        comp.groupBy("component").agg(count(lit(1)).as("n_members"))
          .join(reps, "component")
          .select(col("component"), col("n_members"),
            col("rep_doc_id"), col("rep_quality"))
          .orderBy("component")
      },
      Some {
        val w = "string_split(text, ' ')"
        val lw = "string_split(lower(text), ' ')"
        val stop = Seq("the", "and", "of", "a", "is")
          .map(t => s"len(list_filter($lw, x -> x = '$t'))")
          .mkString("(", " + ", ")")
        val quality =
          s"""0.5 * least(CAST($stop AS DOUBLE) / CAST(len($w) AS DOUBLE) * 5.0, 1.0)
            + 0.3 * least(CAST(len($w) AS DOUBLE) / 100.0, 1.0)
            + 0.2 * (1.0 - least(
                CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(len(text) AS DOUBLE) * 10.0, 1.0))"""
        s"""$sqlLshReach,
            comp AS (SELECT id AS doc_id, min(r) AS component
                     FROM reach GROUP BY id),
            qd AS (SELECT doc_id, $quality AS quality FROM documents),
            scored AS (SELECT c.component, c.doc_id, q.quality,
                row_number() OVER (PARTITION BY c.component
                  ORDER BY q.quality DESC, c.doc_id) AS rn
              FROM comp c JOIN qd q USING (doc_id)),
            sz AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1)
            SELECT s.component, z.n_members, s.doc_id AS rep_doc_id,
                   s.quality AS rep_quality
            FROM scored s JOIN sz z USING (component)
            WHERE s.rn = 1 ORDER BY s.component"""
      },
    ),
    // ---- C4-style corpus-level paragraph dedup (first occurrence wins) ----
    // Each document splits into fixed 8-word "paragraph" chunks (the last
    // chunk may be shorter); a paragraph survives only at its FIRST corpus
    // occurrence in (doc_id, chunk-index) order — C4/CCNet-style global
    // paragraph dedup (reference analog: the md5-keyed first-wins download
    // cache, scripts/download_files.py:142-187, generalized from file- to
    // paragraph-granularity). Scale shape: the dedup is ONE partial-agg
    // shuffle keyed on md5(chunk) with a min(struct) first-wins aggregate
    // (the D1 crawl-dedup pattern) — the map side collapses to one candidate
    // per distinct paragraph per partition and no join back is needed; the
    // per-doc reassembly is a second shuffle bounded by SURVIVING paragraphs
    // only. Equality is md5 hash-equality (what C4 does at corpus scale);
    // 128-bit collisions sit far below storage-corruption rates.
    QueryEntry(
      "q_paragraph_dedup",
      (s, dir) => paragraphDedup(Tables.fanOut(t(s, dir, "documents")))
        .orderBy("doc_id"),
      Some(s"""WITH c AS (
          SELECT doc_id, CAST(i AS INT) AS idx,
                 array_to_string(string_split(text,' ')[i*$ParagraphWords+1 : i*$ParagraphWords+$ParagraphWords], ' ') AS chunk
          FROM documents,
               UNNEST(range(CAST(ceil(len(string_split(text,' ')) / $ParagraphWords.0) AS BIGINT))) AS t(i)),
        k AS (SELECT doc_id, idx, chunk,
                 row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
              FROM c)
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(chunk, chr(10) ORDER BY idx)) AS kept_sig
        FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // ---- fuzzy ID matching (edit-distance pairs within prefix blocks) ------
    // Entity resolution over near-identical identifiers (OCR'd invoice
    // numbers, typo'd SKUs, mirrored URLs): block on the 16-char name
    // prefix — the blocking key bounds the quadratic exactly as LSH bands
    // bound MinHash — then codegen'd levenshtein == 1 inside the block (no
    // UDF). ONE shuffle on the block key; the guard refuses unbounded
    // blocks, naming the sketch flagship.
    QueryEntry(
      "q_fuzzy_id_pairs",
      (s, dir) => {
        val f = Tables.fanOut(t(s, dir, "customer"))
          .select(col("c_name").as("nm"),
            substring(col("c_name"), 1, 16).as("blk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val g = requireBoundedBlocks(f, Seq("blk"), "q_fuzzy_id_pairs",
          "q_minhash_pairs")
        val a = g.select(col("nm").as("wa"), col("blk"))
        val b = g.select(col("nm").as("wb"), col("blk"))
        a.join(b, "blk").filter(col("wa") < col("wb"))
          .filter(levenshtein(col("wa"), col("wb")) === 1)
          .select(col("wa"), col("wb"))
          .orderBy("wa", "wb")
      },
      Some("""WITH f AS (SELECT c_name AS nm, substr(c_name, 1, 16) AS blk
              FROM customer)
          SELECT a.nm AS wa, b.nm AS wb
          FROM f a JOIN f b ON a.blk = b.blk AND a.nm < b.nm
          WHERE levenshtein(a.nm, b.nm) = 1
          ORDER BY wa, wb"""),
    ),
    // ---- duplicated-span detection (stride-1 rolling windows) --------------
    // see [[duplicatedSpans]]: cross-document boilerplate via overlapping
    // 12-token windows; only hashes shuffle, never text
    QueryEntry(
      "q_dup_spans",
      (s, dir) => duplicatedSpans(Tables.fanOut(t(s, dir, "documents")),
          12, 2L)
        .orderBy("span_hash"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
          spans AS (SELECT doc_id,
              md5(array_to_string(ws[CAST(i AS INT)+1:CAST(i AS INT)+12], ' '))
                AS span_hash
            FROM w, UNNEST(range(0, len(ws) - 12 + 1)) AS t(i))
          SELECT span_hash, count(*) AS n_occurrences,
            count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
          FROM spans GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
          ORDER BY span_hash"""),
    ),
  )

  /** ExactSubstr-style duplicated-span detection: EVERY overlapping
    * `spanWords`-token window (stride 1, unlike [[paragraphDedup]]'s
    * non-overlapping chunks), hashed and aggregated; returns spans that
    * occur in at least `minDocs` distinct documents — the cross-document
    * boilerplate detector that chunk-aligned dedup misses when the
    * duplicate starts mid-chunk. Scale shape: the window expansion is a
    * narrow codegen'd transform (×spanWords row growth, no join); only
    * span HASHES cross the shuffle (never span text), and the single
    * aggregation partial-combines on (hash, doc) before the distinct-doc
    * count. At 100 TB, truncate the hash to 64 bits and pre-filter with a
    * bloom of once-seen hashes so unique spans (the overwhelming majority)
    * die map-side.
    */
  def duplicatedSpans(docs: DataFrame, spanWords: Int,
                      minDocs: Long): DataFrame = {
    val words = split(col("text"), " ")
    val nWin = size(words) - spanWords + 1
    val wins = when(nWin > 0,
      transform(sequence(lit(0), nWin - 1),
        i => md5(array_join(slice(words, i + 1, lit(spanWords)), " "))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), explode(wins).as("span_hash"))
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** C4-style corpus paragraph dedup over (doc_id, text): fixed 8-word
    * chunks, first corpus occurrence in (doc_id, idx) order wins; returns
    * one row per surviving doc with the kept-chunk count and an md5 over
    * the kept chunks in document order. See the `q_paragraph_dedup` entry
    * comment for the scale shape (min(struct) partial agg on md5(chunk),
    * no join back).
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val nChunks = ceil(size(words).cast("double") / ParagraphWords).cast("int")
    val chunkArr = when(size(words) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(
          slice(words, i * ParagraphWords + 1, lit(ParagraphWords)), " ")))
      .otherwise(array().cast("array<string>"))
    val chunks = docs
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("idx", "chunk")))
    val winners = chunks
      .groupBy(md5(col("chunk")).as("chash"))
      .agg(min(struct(col("doc_id"), col("idx"), col("chunk"))).as("w"))
    winners
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"),
        col("w.chunk").as("chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), "\n")).as("kept_sig"))
  }

  /** The converged generation stays cached (the returned plan reads
    * through it). SINGLE-entry memo: re-invocation on the same
    * (session, sfDir) reuses the cached result; a different key evicts —
    * unpersisting the old frame — so the memo never pins more than one
    * labels table (or a stopped session) for the JVM's lifetime. */
  private var clustersMemo:
      Option[((org.apache.spark.sql.SparkSession, String), DataFrame)] = None

  private[operators] def clustersFor(s: org.apache.spark.sql.SparkSession,
                                     dir: String): DataFrame = synchronized {
    clustersMemo match {
      case Some((k, df)) if k == ((s, dir)) && !s.sparkContext.isStopped => df
      case prev =>
        prev.foreach { case ((olds, _), df) =>
          if (!olds.sparkContext.isStopped) releaseCheckpoint(df)
        }
        val df = computeClusters(s, dir)
        clustersMemo = Some(((s, dir), df))
        df
    }
  }

  /** One small-star round: canonical edges (src > dst) grouped by src;
    * every member of Γ⁻(u) ∪ {u} points at the group min. Output stays
    * canonical; self-loops (the min pointing at itself) are dropped.
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val moved = e.join(mins, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    moved.unionByName(mins.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** One large-star round: over the SYMMETRIZED neighborhood of u, every
    * strictly-larger neighbor points at min(Γ(u) ∪ {u}). Breaks long
    * chains logarithmically (the phase plain propagation lacks).
    */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Connected components of an undirected edge list of long ids
    * (src, dst) — any other id type is refused up front — returned
    * as (id, component-min) star edges for every NON-root member; isolated
    * nodes simply don't appear (callers left-join + coalesce to their own
    * id). Alternates small-star/large-star until the edge set is a fixed
    * point. Each iteration materializes ONCE via an eager localCheckpoint —
    * which also TRUNCATES lineage, mandatory here because one star round
    * references its input ~6× (plan size would otherwise grow 6^iters) —
    * and the fixed-point check (count + order-invariant hash) is a tiny
    * aggregate over the checkpointed in-memory blocks, recomputing
    * nothing. On a real cluster swap localCheckpoint for a reliable
    * `checkpoint` dir to survive executor loss on long chains.
    */
  def connectedComponents(edges: DataFrame,
      localFinishEdges: Long = LocalGraph.LocalFinishEdges): (DataFrame, Int) =
    connectedComponentsCanonical(edges
      .select(greatest(col("src"), col("dst")).as("src"),
              least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct(), localFinishEdges)

  /** Free a localCheckpoint-backed frame's blocks NOW. `Dataset.unpersist`
    * only clears CacheManager entries — a checkpointed RDD's
    * MEMORY_AND_DISK blocks otherwise linger until the ContextCleaner
    * happens to GC the RDD, which on a long-lived session lets every
    * iteration's superseded generation pile up in the block store. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Fast path when the caller guarantees edges are already canonical
    * (src > dst) and distinct — e.g. LSH candidate pairs, which arrive as
    * distinct (doc_a < doc_b) rows — skipping one full shuffle+distinct
    * of the initial (largest) edge set. */
  def connectedComponentsCanonical(edges: DataFrame,
      localFinishEdges: Long = LocalGraph.LocalFinishEdges): (DataFrame, Int) = {
    require(edges.schema.map(_.dataType) == Seq(LongType, LongType),
      s"connected components take long (src, dst) ids, got ${edges.schema.simpleString}")
    var e = edges.localCheckpoint(true)
    def sig(d: DataFrame): (Long, java.math.BigDecimal) = {
      val r = d.agg(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("src"), col("dst"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as("h")).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    // entry gate: ONE count over the checkpointed in-memory blocks (no
    // hash — xxhashing the full input would tax the 100 TB path that can
    // never take the shortcut); small inputs never pay a distributed
    // round at all. Mid-loop gating below is genuinely free: it reads the
    // count off the fixed-point signature the loop computes anyway.
    var prev = (-1L, java.math.BigDecimal.ZERO)
    var iters = 0
    var converged = false
    if (e.count() <= localFinishEdges) {
      val out = localFinishStars(e)
      releaseCheckpoint(e)
      return (out, iters)
    }
    while (!converged) {
      iters += 1
      val next = largeStar(smallStar(e)).localCheckpoint(true)
      // equal (count, hash-sum) of consecutive DISTINCT edge sets ⇔ fixed
      // point (rows are distinct, so the multiset hash is a set hash)
      val s = sig(next)
      converged = s._1 == prev._1 && s._2.compareTo(prev._2) == 0
      prev = s
      releaseCheckpoint(e)
      e = next
      if (!converged && s._1 <= localFinishEdges) {
        val out = localFinishStars(e)
        releaseCheckpoint(e)
        return (out, iters)
      }
    }
    (e, iters)
  }

  /** Collapse a SMALL edge set (≤ [[LocalGraph.LocalFinishEdges]],
    * enforced by the callers' count check) to its final star form in one
    * driver pass: a union-find over the collected edges' node indices,
    * then (member → component min) edges for every non-root — exactly the
    * contraction's fixed point, without its per-iteration job latency.
    * Ids are sorted, so each component's root is its minimum and the rows
    * come out in src order. */
  private def localFinishStars(e: DataFrame): DataFrame = {
    val rows = e.collect()
    val ends = new Array[Long](2 * rows.length) // edge k: src at 2k, dst at 2k+1
    for (k <- rows.indices) {
      ends(2 * k) = rows(k).getLong(0); ends(2 * k + 1) = rows(k).getLong(1)
    }
    val idx = new LocalGraph.IdIndex(ends)
    val uf = new LocalGraph.UnionFind(idx.size)
    for (k <- rows.indices)
      uf.union(idx.indexOf(ends(2 * k)), idx.indexOf(ends(2 * k + 1)))
    val members = Array.range(0, idx.size).filter(i => uf.find(i) != i)
    LocalGraph.frame(e.sparkSession, e.schema, members.length) { (k, row) =>
      row(0) = idx.ids(members(k)); row(1) = idx.ids(uf.find(members(k)))
    }
  }

  private def computeClusters(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // pairs are distinct with doc_a < doc_b — already canonical edges
    // (src = the larger id) for the star contraction, which materializes
    // them ONCE via its own eager localCheckpoint (a persist here would
    // just write the same rows to the block store a second time)
    val pairs = minhashCandidatePairs(docs, "text", "doc_id")
      .select(col("doc_b").as("src"), col("doc_a").as("dst"))
    val (stars, _) = connectedComponentsCanonical(pairs)
    docs.select(col("doc_id"))
      .join(stars.select(col("src").as("doc_id"), col("dst").as("__c")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }
}
