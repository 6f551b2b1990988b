package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Iterative graph operators. PageRank-style authority ranking is the crawl
  * scheduler's priority signal at web scale (rank hosts/pages by in-link
  * mass to order the frontier — the priority-queue score's "dataset-type /
  * authority" term); here it runs over a deterministic synthetic link graph
  * derived from the documents table (three affine out-links per node mod N)
  * so the DuckDB oracle can replay the whole computation exactly.
  *
  * Determinism: a grouped double sum is visit-order-dependent, so each
  * iteration quantizes the contribution mass to integral picounits
  * (`floor(r/outdeg · 1e12)`) and sums them exactly in decimal(38,0) — the
  * [[SimilarityOps.labelCentroidsQuantized]] pattern — making every
  * iteration bit-reproducible under any partitioning in both engines.
  *
  * Scale shape: one iteration = edges⋈outdeg⋈ranks on src (edges and
  * outdeg share the cached edge partitioning), ONE partial-agg'd shuffle of
  * the summed mass keyed on dst (grain = in-linked nodes, map-side
  * combined), and a node-keyed left join for the damping term. Edges and
  * nodes are persisted across iterations — at 100 TB the edge table would
  * live pre-bucketed by src and each iteration's ranks would be
  * checkpointed to cut lineage (the `DedupOps` connected-components
  * pattern); with a fixed 3 iterations the lineage stays shallow.
  */
object GraphOps {
  import Tables.t
  import LocalGraph.LinkCoeffs

  private val Quant = 1e12

  /** Deterministic synthetic out-links: node → (a·node + b) mod N for
    * (a,b) ∈ [[LinkCoeffs]], self-loops dropped, deduplicated. */
  def syntheticEdges(nodes: DataFrame, nDf: DataFrame): DataFrame = {
    val dsts = LinkCoeffs.map { case (a, b) =>
      pmod(col("node") * a + b, col("n_docs")).as("dst")
    }
    nodes.crossJoin(broadcast(nDf))
      .select(col("node").as("src"), explode(array(dsts: _*)).as("dst"))
      .where(col("dst") =!= col("src"))
      .distinct()
  }

  /** The synthetic graph over `docs`: the one-row node count, and the
    * node and edge frames, both persisted across the caller's iterations. */
  private def persistedGraph(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val nodes = docs.select(col("doc_id").as("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = syntheticEdges(nodes, nDf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (nDf, nodes, edges)
  }

  /** Fixed-iteration PageRank (damping 0.85) with quantized-exact mass. */
  def pagerank(docs: DataFrame, iterations: Int): DataFrame = {
    val (nDf, nodes, edges) = persistedGraph(docs)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("node"), (lit(1.0) / col("n_docs")).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = edges.join(outdeg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(floor(col("r") / col("outdeg") * Quant)
          .cast("decimal(38,0)")).as("sq"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nDf))
        .select(col("node"),
          (lit(0.15) / col("n_docs") + lit(0.85) *
            (coalesce(col("sq"), lit(0).cast("decimal(38,0)"))
              .cast("double") / Quant)).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank"))
  }

  /** Fixed-iteration HITS (Kleinberg): hub mass flows src→dst into
    * authority, authority flows back dst→src into hub — the second
    * crawl-priority signal family (a hub page full of dataset links vs an
    * authoritative dataset page). Each half-step is L1-normalized;
    * contribution mass is quantized to integral NANO-units and summed as
    * exact longs — the [[pagerank]] determinism pattern, but nano not pico
    * so every norm sum stays under 2^53 and its double cast is exact at any
    * scale factor. Scale shape per iteration: two partial-agg'd shuffles
    * (keyed src, then dst) over the persisted edge table plus two 1-row
    * scalar aggs for the norms; same bucketed-edge story as PageRank at
    * 100 TB.
    */
  def hits(docs: DataFrame, iterations: Int): DataFrame =
    // Small-graph fast path (the bfsLayers pattern): collect the node ids
    // only and run the fixed iterations in memory on [[LocalGraph]]. Every
    // step is exact-long quantized sums plus the same IEEE double divisions
    // the distributed loop performs, so the result is bit-identical (pinned
    // by the equality spec); one job replaces the ~8 join/agg/norm
    // barriers per iteration that amplify under load.
    LocalGraph.localNodeIds(docs.select(col("doc_id").cast("long"))) match {
      case Some(ids) => hitsLocal(docs.sparkSession, ids, iterations)
      case None      => hitsDistributed(docs, iterations)
    }

  private def hitsLocal(spark: org.apache.spark.sql.SparkSession,
      nodeIds: Array[Long], iterations: Int): DataFrame = {
    val idx = new LocalGraph.IdIndex(nodeIds)
    val m = idx.size
    // out-links as node indices; -1 marks a dst that is not a node id: no
    // score row (the distributed frames are node-keyed), but its auth mass
    // counts in the norm
    val out = idx.ids.map(v =>
      LocalGraph.outLinks(v, nodeIds.length.toLong).map(idx.indexOf))
    val auth = Array.fill(m)(1.0)
    val hub = Array.fill(m)(1.0)
    for (_ <- 1 to iterations) {
      // hub: per src, exact long sum of floor(auth(dst)·1e9) over node dsts
      // (the distributed join edges⋈auth on dst drops the others)
      val hq = out.map(_.filter(_ >= 0).map(d => math.floor(auth(d) * 1e9).toLong).sum)
      val hsum = hq.sum
      for (v <- 0 until m) hub(v) = hq(v).toDouble / hsum.toDouble
      val aq = new Array[Long](m)
      var asum = 0L
      for (v <- 0 until m) {
        val add = math.floor(hub(v) * 1e9).toLong
        out(v).foreach { d => if (d >= 0) aq(d) += add; asum += add }
      }
      for (v <- 0 until m) auth(v) = aq(v).toDouble / asum.toDouble
    }
    LocalGraph.frame(spark, StructType.fromDDL(
        "node BIGINT NOT NULL, hub DOUBLE, auth DOUBLE"), m) { (v, row) =>
      row(0) = idx.ids(v); row(1) = hub(v); row(2) = auth(v)
    }
  }

  /** The distributed iteration loop — public above the local-finish bound
    * and pinned equal to [[hitsLocal]] by the equality spec. */
  def hitsDistributed(docs: DataFrame, iterations: Int): DataFrame = {
    val QuantN = 1e9
    val (_, nodes, edges) = persistedGraph(docs)
    var auth = nodes.select(col("node"), lit(1.0).as("a"))
    var hub = nodes.select(col("node"), lit(1.0).as("h"))
    for (_ <- 1 to iterations) {
      val hq = edges.join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(floor(col("a") * QuantN)).as("hq"))
      val hnorm = hq.agg(sum(col("hq")).as("hsum"))
      hub = nodes.join(hq, Seq("node"), "left").crossJoin(broadcast(hnorm))
        .select(col("node"), (coalesce(col("hq"), lit(0L)).cast("double") /
          col("hsum").cast("double")).as("h"))
      val aq = edges.join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(floor(col("h") * QuantN)).as("aq"))
      val anorm = aq.agg(sum(col("aq")).as("asum"))
      auth = nodes.join(aq, Seq("node"), "left").crossJoin(broadcast(anorm))
        .select(col("node"), (coalesce(col("aq"), lit(0L)).cast("double") /
          col("asum").cast("double")).as("a"))
    }
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Exact triangle count over the undirected link graph — the classic
    * graph-shape statistic (community density in a host graph; a crawl
    * scheduler reads high triangle density as a link farm / mirror
    * cluster). The standard order-canonicalization trick bounds the join:
    * every undirected edge is kept once as (lo, hi), so each triangle
    * {a<b<c} is counted exactly once via wedge (a→b, b→c) ∩ edge (a→c) —
    * two equi-join shuffles over the edge table, never an all-pairs
    * expansion; at 100 TB the edge table is bucketed by `src` and degree
    * skew is handled by the standard high-degree-vertex split (the salted
    * join pattern, see q_skew_join_salted).
    */
  def triangleCount(docs: DataFrame): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val nodes = docs.select(col("doc_id").as("node"))
    val und = syntheticEdges(nodes, nDf)
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = und.as("e1").join(und.as("e2"),
        col("e1.hi") === col("e2.lo"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
        col("e2.hi").as("c"))
    wedges.join(und.as("e3"),
        col("a") === col("e3.lo") && col("c") === col("e3.hi"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Min-hop BFS layers from a deterministic seed set (node ≡ 0 mod 97) —
    * the crawl loop's abstract form, SQL-checkable: a monotone visited set,
    * each round's frontier = out-links of the previous frontier anti-joined
    * against everything already seen, depth = discovery round (mdws's
    * node-graph ×2 closure generalized to depth d; reference anchor
    * `osf.py`'s node expansion). Scale shape per level: one src-keyed join
    * bounded by the frontier, a dst distinct, and an anti-join against
    * visited — exactly the production loop's shape, where the anti-join is
    * replaced by the partitioned bloom/cuckoo seen-set probe ([[graft.crawl.SeenSet]])
    * so visited never re-shuffles; here the exact anti-join IS the point
    * (the oracle replays it with a recursive CTE). Each level is persisted
    * so lineage stays one level deep. Returns the per-depth rollup
    * (n_nodes + node-sum fingerprint), whose grain is maxDepth+1 rows at
    * any corpus size.
    */
  def bfsLayers(docs: DataFrame, maxDepth: Int): DataFrame = {
    // Small-graph fast path: when the 3·|nodes| synthetic edges fit
    // [[LocalGraph.LocalFinishEdges]], collect the NODE IDS ONLY and run
    // the whole BFS + rollup in memory — pure integer arithmetic,
    // bit-identical to the level loop, ONE job instead of ~3 per level
    // (whose barriers amplify under load: r5 driver 25.4 s vs 4.5 s quiet).
    // Above the bound the distributed level loop runs unchanged.
    val nodeIds = LocalGraph.localNodeIds(docs.select(col("doc_id").cast("long")))
      .getOrElse(return bfsLayersDistributed(docs, maxDepth))
    val idx = new LocalGraph.IdIndex(nodeIds)
    // Mirror the distributed semantics exactly: edges exist only for src ∈
    // node table (a discovered dst that is not a node id — an "alien",
    // always in [0, N) — has NO out-edges: the level join keys edges on
    // src), while any dst value participates in layers and the rollup.
    val depth = Array.fill(idx.size)(-1)
    val alien = new java.util.BitSet()
    val nAt = new Array[Long](math.max(maxDepth, 0) + 1)
    val sumAt = new Array[Long](nAt.length)
    def visit(w: Long, d: Int): Unit = { nAt(d) += 1; sumAt(d) += w }
    var frontier = Array.range(0, idx.size).filter(i => Math.floorMod(idx.ids(i), 97L) == 0)
    frontier.foreach { i => depth(i) = 0; visit(idx.ids(i), 0) }
    var d = 1
    while (d <= maxDepth && frontier.nonEmpty) {
      val next = Array.newBuilder[Int]
      for (v <- frontier; w <- LocalGraph.outLinks(idx.ids(v), nodeIds.length)) {
        val i = idx.indexOf(w)
        if (i >= 0 && depth(i) < 0) { depth(i) = d; next += i; visit(w, d) }
        else if (i < 0 && !alien.get(w.toInt)) { alien.set(w.toInt); visit(w, d) }
      }
      frontier = next.result()
      d += 1
    }
    val depths = nAt.indices.filter(nAt(_) > 0)
    LocalGraph.frame(docs.sparkSession, StructType.fromDDL("depth BIGINT NOT NULL, " +
        "n_nodes BIGINT NOT NULL, sum_nodes BIGINT"), depths.size) { (k, row) =>
      row(0) = depths(k).toLong; row(1) = nAt(depths(k)); row(2) = sumAt(depths(k))
    }.orderBy("depth")
  }

  /** The distributed level loop — public surface above the local-finish
    * bound; kept callable directly so the equality spec can pin
    * local == distributed on the same graph. */
  def bfsLayersDistributed(docs: DataFrame,
      maxDepth: Int): DataFrame = {
    val (_, nodes, edges) = persistedGraph(docs)
    var visited = nodes.where(pmod(col("node"), lit(97L)) === 0)
      .select(col("node"), lit(0L).as("depth"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier = visited.select("node")
    for (d <- 1 to maxDepth) {
      val next = edges
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("depth"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      visited = visited.unionByName(next)
        .persist(StorageLevel.MEMORY_AND_DISK)
      frontier = next.select("node")
    }
    visited.groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_nodes"))
      .orderBy("depth")
  }

  private val sqlN = "(SELECT count(*) FROM documents)"

  /** CTEs `nodes` and `e0`: the synthetic graph's nodes and raw out-links
    * (self-loops and repeats kept), rendered from [[LinkCoeffs]]. */
  private val sqlLinks: String = {
    val links = LinkCoeffs.zipWithIndex.map {
      case ((a, b), 0) => s"SELECT node AS src, (node*$a+$b) % $sqlN AS dst FROM nodes"
      case ((a, b), _) => s"SELECT node, (node*$a+$b) % $sqlN FROM nodes"
    }
    s"""nodes AS (SELECT doc_id AS node FROM documents),
          e0 AS (${links.mkString("\n                 UNION ALL ")})"""
  }

  /** [[sqlLinks]] plus `e`: the distinct out-links, self-loops dropped
    * (the oracle of [[syntheticEdges]]). */
  private val sqlEdges: String =
    s"""$sqlLinks,
          e AS (SELECT DISTINCT src, dst FROM e0 WHERE dst <> src)"""
  private def sqlStep(prev: String, i: Int): String =
    s"""s$i AS (SELECT e.dst AS node,
          sum(CAST(floor($prev.r / od.outdeg * 1e12) AS DECIMAL(38,0))) AS sq
        FROM e JOIN od USING (src) JOIN $prev ON $prev.node = e.src GROUP BY 1),
      r$i AS (SELECT nodes.node,
          0.15e0 / $sqlN + 0.85e0 * (CAST(coalesce(s$i.sq, 0) AS DOUBLE) / 1e12) AS r
        FROM nodes LEFT JOIN s$i USING (node))"""

  // one HITS iteration in oracle SQL: authority a$prev → hub h$i → auth a$i
  private def sqlHitsIter(i: Int, prev: Int): String =
    s"""hq$i AS (SELECT e.src AS node,
          CAST(sum(CAST(floor(a$prev.a * 1e9) AS BIGINT)) AS BIGINT) AS q
        FROM e JOIN a$prev ON a$prev.node = e.dst GROUP BY 1),
      h$i AS (SELECT nodes.node, CAST(coalesce(q, 0) AS DOUBLE)
          / (SELECT CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) FROM hq$i) AS h
        FROM nodes LEFT JOIN hq$i USING (node)),
      aq$i AS (SELECT e.dst AS node,
          CAST(sum(CAST(floor(h$i.h * 1e9) AS BIGINT)) AS BIGINT) AS q
        FROM e JOIN h$i ON h$i.node = e.src GROUP BY 1),
      a$i AS (SELECT nodes.node, CAST(coalesce(q, 0) AS DOUBLE)
          / (SELECT CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) FROM aq$i) AS a
        FROM nodes LEFT JOIN aq$i USING (node))"""

  def entries: Seq[QueryEntry] = Seq(
    QueryEntry(
      "q_hits",
      (s, dir) => hits(t(s, dir, "documents"), 2).orderBy("node"),
      Some(s"""WITH $sqlEdges,
          a0 AS (SELECT node, 1e0 AS a FROM nodes),
          ${sqlHitsIter(1, 0)},
          ${sqlHitsIter(2, 1)}
          SELECT h2.node, h2.h AS hub, a2.a AS auth
          FROM h2 JOIN a2 USING (node) ORDER BY node"""),
    ),
    QueryEntry(
      "q_bfs_layers",
      (s, dir) => bfsLayers(t(s, dir, "documents"), 4),
      Some(s"""WITH RECURSIVE $sqlEdges,
          bfs AS (
            SELECT node, 0 AS depth FROM nodes WHERE node % 97 = 0
            UNION
            SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.node
            WHERE b.depth < 4
          ),
          dist AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY 1)
          SELECT CAST(depth AS BIGINT) AS depth,
                 CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(node) AS BIGINT) AS sum_nodes
          FROM dist GROUP BY 1 ORDER BY 1"""),
    ),
    QueryEntry(
      "q_triangle_count",
      (s, dir) => triangleCount(t(s, dir, "documents")),
      Some(s"""WITH $sqlLinks,
          und AS (SELECT DISTINCT least(src, dst) AS lo,
                         greatest(src, dst) AS hi
                  FROM e0 WHERE dst <> src)
          SELECT count(*) AS n_triangles
          FROM und e1 JOIN und e2 ON e1.hi = e2.lo
               JOIN und e3 ON e1.lo = e3.lo AND e2.hi = e3.hi"""),
    ),
    QueryEntry(
      "q_pagerank",
      (s, dir) => pagerank(t(s, dir, "documents"), 3).orderBy("node"),
      Some(s"""WITH $sqlEdges,
          od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          r0 AS (SELECT node, 1e0 / $sqlN AS r FROM nodes),
          ${sqlStep("r0", 1)},
          ${sqlStep("r1", 2)},
          ${sqlStep("r2", 3)}
          SELECT node, r AS rank FROM r3 ORDER BY node"""),
    ),
  )
}
