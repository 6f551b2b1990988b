package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.StructType

/** The driver-local graph core: every small-graph finish (the connected
  * components of [[DedupOps]], HITS and BFS of [[GraphOps]]) runs on the
  * same primitive state — a sorted `Array[Long]` id index, `Int` node
  * indices into it, and `Array[Int]`/`Array[Long]`/`Array[Double]` per
  * node — instead of boxed hash maps keyed by ids (the CPU/memory balance
  * of the CAMEL hash table: flat arrays, no per-entry objects).
  */
object LocalGraph {

  /** Edge count at or below which a graph finishes driver-local. Each
    * distributed round costs ~2 s of fixed job latency regardless of data
    * volume, multiplied under load (r4/r5 driver benches: 29 s and 155 s
    * where quiet probes sit at 4-5 s), while ≤2·10⁶ edges is a bounded
    * driver transfer (two longs per edge ≈ 32 MB). At 100 TB the big early
    * rounds stay distributed; only the logarithmic tail collapses. */
  val LocalFinishEdges: Long = 2000000L

  /** The affine link coefficients (a, b) of the synthetic graph: every
    * node links to (a·node + b) mod N ([[GraphOps]] renders its oracle
    * SQL from the same pairs). */
  val LinkCoeffs: Seq[(Long, Long)] = Seq((7L, 1L), (13L, 5L), (31L, 11L))

  /** The node ids of a one-column (long) id frame when the synthetic
    * graph over them — 3 directed edges per node — fits
    * [[LocalFinishEdges]]; None above it. Collects at most bound + 1 ids,
    * so a graph above the bound never crosses the driver: the size gate
    * comes before the collect, not after it. */
  def localNodeIds(ids: DataFrame): Option[Array[Long]] = {
    val bound = LocalFinishEdges / 3
    val got = ids.limit((bound + 1).toInt).collect().map(_.getLong(0))
    if (got.length > bound) None else Some(got)
  }

  /** Sorted distinct ids; a node is its position in [[ids]]. */
  final class IdIndex(raw: Array[Long]) {
    val ids: Array[Long] = {
      val a = raw.clone()
      java.util.Arrays.sort(a)
      var m = 0
      for (i <- a.indices) if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      java.util.Arrays.copyOf(a, m)
    }
    def size: Int = ids.length
    /** The node of `id`, or -1 when `id` is not a node. */
    def indexOf(id: Long): Int = math.max(-1, java.util.Arrays.binarySearch(ids, id))
  }

  /** Union-find over node indices. The smaller root always wins a union,
    * so every root is its component's smallest index. */
  final class UnionFind(n: Int) {
    private val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var c = x
      while (parent(c) != c) { parent(c) = parent(parent(c)); c = parent(c) }
      c
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** The synthetic out-links of `v` among `n` nodes: (a·v + b) mod n over
    * [[LinkCoeffs]], distinct, self-loops dropped — the edge set of
    * [[GraphOps.syntheticEdges]]. */
  def outLinks(v: Long, n: Long): Array[Long] =
    LinkCoeffs.map { case (a, b) => Math.floorMod(v * a + b, n) }
      .distinct.filter(_ != v).toArray

  /** A local frame of `n` rows; `fill(i, values)` sets row `i`'s values. */
  def frame(spark: SparkSession, schema: StructType, n: Int)(
      fill: (Int, Array[Any]) => Unit): DataFrame = {
    val rows = new java.util.ArrayList[Row](n)
    for (i <- 0 until n) {
      val values = new Array[Any](schema.length)
      fill(i, values)
      rows.add(new GenericRow(values))
    }
    spark.createDataFrame(rows, schema)
  }
}
