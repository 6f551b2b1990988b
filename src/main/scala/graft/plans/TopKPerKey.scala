package graft.plans

import java.util.{HashMap => JHashMap}

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.IntegerType

/** Whole-operator Catalyst extension (brief's tier (c)): exact per-key
  * top-k as a first-class plan node — logical node, partial/final
  * physical operators with bounded heaps, a planner [[SparkStrategy]],
  * and an explicitly applied optimizer [[Rule]] that rewrites the
  * `row_number() OVER (PARTITION BY k ORDER BY o) <= n` + rank-pruning
  * idiom into this node.
  *
  * Why Spark's built-ins aren't enough (reference shape: the crawl
  * frontier drain, `scripts/scrape_zenodo.py`-family per-source page
  * budgets — each host may fetch only its politeness budget per round,
  * highest score first):
  *
  *  - the Window form costs TWO full sorts (pre-shuffle sort for the
  *    partial `WindowGroupLimitExec`, post-shuffle sort for the final +
  *    `WindowExec`) plus the rank projection and filter, and Spark's
  *    group-limit still feeds the whole window machinery;
  *  - this operator keeps a size-≤k binary heap per key: the partial
  *    pass bounds every input partition to ≤k rows per key with NO sort
  *    and NO shuffle (the skew kill: a hot host with 10^9 pending rows
  *    leaves each partition with ≤k of them — the round-2 salted
  *    two-phase drain did this with an extra shuffle), then ONE shuffle
  *    on the keys moves ≤ partitions×k rows per key into the final heap.
  *    Nothing is sorted unless a final task overflows its memory budget;
  *    output order within a key is unspecified (see [[TopKHeaps.topK]]).
  *
  * `limit` is an [[Expression]] evaluated against each row, so the k may
  * vary per key (the drain's per-host budget map); it must be constant
  * within a key — which any key-derived lookup (`element_at(budgetMap,
  * host)`) is by construction. Null or ≤0 limits drop the key's rows.
  *
  * Tie semantics match `row_number`: rows beyond a tie boundary are
  * broken arbitrarily (deterministic end-to-end only when the ordering
  * is total — the drain's ordering includes the unique discovery seq).
  *
  * Memory: per task, heaps hold ≤ k rows per distinct key in that
  * partition. The partial pass degrades gracefully past its key budget
  * (new keys stream through unpruned); the final pass is exact AND
  * bounded — past [[TopKHeaps.MaxRetainedRows]] retained rows, the kept
  * rows and the rest of the partition overflow into Spark's own spilling
  * sort ([[TopKHeaps.topKExact]]), so key-cardinality × k beyond task
  * memory, or one key's k, costs sorter spills, never an OOM.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    limit: Expression,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Shared executor-side kernel: stream a partition through per-key
  * bounded heaps. Kept in an object so partial and final execs (and
  * tests) share one implementation.
  */
object TopKHeaps {
  /** Bounded keeper of the k first rows under `ord`, with LAZY
    * heapification: below capacity it only appends (one row copy, zero
    * comparisons), so when k is of the order of the group size — the
    * politeness-bounded drain bench regime, where the round selects most
    * of the frontier and nothing can prune — the cost degenerates to a
    * plain collect (one copy per row, zero comparisons), NOT n·log k
    * heap churn with per-row eviction. Only once full does it heapify
    * (O(k), once) and start the classic replace-worst-in-O(log k)
    * regime that wins when n ≫ k. */
  private final class KeyHeap(k: Int, ord: Ordering[InternalRow]) {
    private var arr = new Array[InternalRow](math.max(1, math.min(k, 16)))
    private var n = 0
    private var heapified = false

    /** Returns the retained-row growth (1 on append, 0 on replace/drop)
      * so the exact pass can meter its memory budget. */
    def offer(row: InternalRow): Int =
      if (n < k) {
        if (n == arr.length)
          arr = java.util.Arrays.copyOf(arr, math.min(k.toLong, arr.length * 2L).toInt)
        arr(n) = row.copy(); n += 1; 1
      } else {
        if (!heapified) { heapify(); heapified = true }
        if (ord.compare(row, arr(0)) < 0) { arr(0) = row.copy(); siftDown(0) }
        0
      }

    // max-heap on `ord`: arr(0) is the worst kept row
    private def heapify(): Unit = {
      var i = n / 2 - 1
      while (i >= 0) { siftDown(i); i -= 1 }
    }
    private def siftDown(i0: Int): Unit = {
      var i = i0
      val half = n / 2
      val top = arr(i)
      while (i < half) {
        var c = 2 * i + 1
        if (c + 1 < n && ord.compare(arr(c + 1), arr(c)) > 0) c += 1
        if (ord.compare(arr(c), top) <= 0) { arr(i) = top; return }
        arr(i) = arr(c); i = c
      }
      arr(i) = top
    }

    def size: Int = n
    def drain(): Iterator[InternalRow] = arr.iterator.take(n)
  }

  /** Output order within a key is UNSPECIFIED (matching Spark's own
    * group-limit operators): every consumer either re-sorts on its own
    * key (the drain's global numbering range-sorts by priority) or is
    * order-insensitive, so a per-key k·log k emit sort would be pure
    * waste in both passes.
    *
    * `maxKeys` is the partial pass's memory valve: once the heap map
    * holds that many distinct keys, rows of NEW keys stream through
    * unpruned (already-tracked keys keep pruning). The partial pass is
    * an optimization — any superset is correct, the final pass is exact
    * — so degradation under extreme key cardinality (e.g. the
    * first-wins URL dedup the rewrite rule captures, where keys ≈ rows)
    * costs shuffle volume, never correctness or unbounded memory. The
    * final pass ([[topKExact]]) must group fully; it overflows into a
    * sort instead.
    */
  def topK(
      iter: Iterator[InternalRow],
      keys: Seq[Expression],
      order: Seq[SortOrder],
      limit: Expression,
      input: Seq[Attribute],
      maxKeys: Int = Int.MaxValue): Iterator[InternalRow] = {
    if (iter.isEmpty) return Iterator.empty
    val keyProj = UnsafeProjection.create(keys, input)
    val limitProj = UnsafeProjection.create(Seq(Cast(limit, IntegerType)), input)
    val ord = RowOrdering.create(order, input)
    val heaps = new JHashMap[UnsafeRow, KeyHeap]()
    // Manual two-phase iterator (no per-row closure/Option allocation in
    // the hot loop): phase 1 streams the input, pruning into heaps and
    // emitting overflow-key rows straight through (borrowed rows are safe
    // to emit — consumed before the next input row is read); phase 2
    // drains the heaps once the input is exhausted.
    new Iterator[InternalRow] {
      private var pending: InternalRow = null
      private var drainIt: Iterator[InternalRow] = null

      private def advance(): Unit = {
        while (iter.hasNext) {
          val row = iter.next()
          val lim = limitProj(row)
          val k = if (lim.isNullAt(0)) 0 else lim.getInt(0)
          if (k > 0) {
            val key = keyProj(row)
            val h = heaps.get(key)
            if (h != null) h.offer(row)
            else if (heaps.size < maxKeys) {
              val nh = new KeyHeap(k, ord)
              heaps.put(key.copy(), nh)
              nh.offer(row)
            } else { pending = row; return }
          }
        }
        if (drainIt == null)
          drainIt = heaps.values.iterator().asScala.flatMap(_.drain())
      }

      override def hasNext: Boolean = {
        if (pending == null && drainIt == null) advance()
        pending != null || drainIt.hasNext
      }
      override def next(): InternalRow =
        if (pending != null) { val r = pending; pending = null; r }
        else { if (!hasNext) Iterator.empty.next(); drainIt.next() }
    }
  }

  /** Final pass: retained heap rows per task before the partition
    * overflows into a sort; `withRetainedRows` is its test seam. */
  val MaxRetainedRows: Long = 1L << 22
  private[plans] val retainedRows = new DynamicVariable[Long](MaxRetainedRows)
  private[graft] def withRetainedRows[A](rows: Long)(body: => A): A =
    retainedRows.withValue(rows)(body)
  /** Partial pass: distinct keys per task before rows of new keys stream
    * through unpruned. */
  val MaxPartialKeys: Int = 1 << 20

  /** The final pass's overflow sort: keys ascending, then `order`. Built
    * on the driver, its sorter only in a task that overflows, so no sort
    * node enters the plan. */
  def overflowSort(keys: Seq[Expression], order: Seq[SortOrder], child: SparkPlan): SortExec =
    SortExec(keys.map(SortOrder(_, Ascending)) ++ order, global = false, child)

  /** Exact per-key top-k with bounded memory — the final pass. Unlike
    * [[topK]] it may not emit unpruned rows, so it groups every key, in
    * heaps while they retain at most `budgetRows` rows. Past that, the
    * kept rows (each key's only surviving candidates) and the rest of the
    * partition go through one Spark `UnsafeExternalRowSorter` from
    * `overflow` ([[overflowSort]]), which spills under memory pressure,
    * and the first k rows of each key stream out of it (k read from the
    * key's first row). So many keys, or one key whose k exceeds the
    * budget, cost sorter spills, never an OOM. `onSpill` gets the count
    * of rows handed to the sorter.
    */
  def topKExact(
      iter: Iterator[InternalRow],
      keys: Seq[Expression],
      order: Seq[SortOrder],
      limit: Expression,
      input: Seq[Attribute],
      budgetRows: Long,
      overflow: SortExec,
      onSpill: Long => Unit = _ => ()): Iterator[InternalRow] = {
    if (!iter.hasNext) return Iterator.empty
    val keyProj = UnsafeProjection.create(keys, input)
    val limitProj = UnsafeProjection.create(Seq(Cast(limit, IntegerType)), input)
    def limitOf(row: InternalRow): Int = {
      val lim = limitProj(row)
      if (lim.isNullAt(0)) 0 else lim.getInt(0)
    }
    val ord = RowOrdering.create(order, input)
    val heaps = new JHashMap[UnsafeRow, KeyHeap]()
    val budget = math.max(1L, budgetRows)
    var retained = 0L

    while (retained <= budget && iter.hasNext) {
      val row = iter.next()
      val k = limitOf(row)
      if (k > 0) {
        val key = keyProj(row)
        val h = heaps.get(key)
        if (h != null) retained += h.offer(row)
        else {
          val nh = new KeyHeap(k, ord)
          heaps.put(key.copy(), nh)
          retained += nh.offer(row)
        }
      }
    }
    val inMem = heaps.values.iterator().asScala.flatMap(_.drain())
    if (retained <= budget) return inMem

    val sorter = overflow.createSorter()
    val toUnsafe = UnsafeProjection.create(input.map(_.dataType).toArray)
    var sorted = 0L
    inMem.foreach { r => sorter.insertRow(toUnsafe(r)); sorted += 1 }
    heaps.clear()
    iter.foreach { r => if (limitOf(r) > 0) { sorter.insertRow(toUnsafe(r)); sorted += 1 } }
    onSpill(sorted)
    val sameKey = RowOrdering.create(keys.map(SortOrder(_, Ascending)), input)
    var head: InternalRow = null
    var left = 0
    sorter.sort().filter { r =>
      if (head == null || sameKey.compare(r, head) != 0) { head = r.copy(); left = limitOf(r) }
      left -= 1
      left >= 0
    }
  }
}

/** Map-side pass: bounds every partition to ≤k rows per key in place —
  * no sort, no shuffle. Mirrors partial aggregation, including its
  * bounded-memory degradation: past [[TopKHeaps.MaxPartialKeys]]
  * distinct keys per task, new keys stream through to the exchange
  * unpruned (see [[TopKHeaps.topK]]). */
case class TopKPerKeyPartialExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    limit: Expression,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, lim, in) = (keys, order, limit, child.output)
    child.execute().mapPartitions(
      TopKHeaps.topK(_, ks, os, lim, in, TopKHeaps.MaxPartialKeys),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Reduce-side pass: requires clustering on the keys (the planner
  * inserts the single exchange), emits each key's exact top-k, past
  * [[TopKHeaps.MaxRetainedRows]] retained rows per task through a
  * spilling sort ([[TopKHeaps.topKExact]]); `spillRows` counts its rows. */
case class TopKPerKeyFinalExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    limit: Expression,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys, requireAllClusterKeys = false, None) :: Nil
  override lazy val metrics = Map(
    "spillRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows sorted by exact final pass"))
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, lim, in) = (keys, order, limit, child.output)
    val (budget, overflow) = (TopKHeaps.retainedRows.value,
      TopKHeaps.overflowSort(keys, order, child))
    val spillMetric = longMetric("spillRows")
    child.execute().mapPartitions(
      TopKHeaps.topKExact(_, ks, os, lim, in, budget, overflow, spillMetric.add(_)),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)
}

/** Plans the logical node as partial→(exchange)→final. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, limit, child) =>
      TopKPerKeyFinalExec(keys, order, limit,
        TopKPerKeyPartialExec(keys, order, limit, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Rewrites the pruned rank-filter idiom
  * {{{
  *   Project(cols without rn,
  *     Filter(rn <= k [AND rest],
  *       Window(rn = row_number() OVER (PARTITION BY p ORDER BY o))))
  * }}}
  * into `Project(cols, [Filter(rest,)] TopKPerKeyNode(p, o, k))` —
  * eliminating the Window AND both of its sorts, not just bounding them
  * the way Spark's own `InferWindowGroupLimit` does. Fires only when the
  * rank column is provably dead (the enclosing Project drops it) and no
  * residual predicate references it; `row_number` only (rank/dense_rank
  * keep ties and can exceed k rows). Applied explicitly to one frame's
  * optimized plan ([[TopKPerKey.rewrite]]), i.e. after
  * `InferWindowGroupLimit` may have inserted its node — that helper is
  * stripped along with the Window.
  *
  * Gated to `k ≥ minK` (default 2): at k=1 the idiom is usually a
  * first-wins dedup over a near-unique key (the crawl's in-round URL
  * dedup), where hash-grouping every key loses ~2× to the window's radix
  * sort (measured; PLANS.md, "Measured regime boundary") and nothing can
  * prune — and the rule has no cardinality estimate to tell that apart
  * from a heavy-group argmin, so it stays conservative. Workloads with
  * few heavy groups can pass `minK = 1`.
  */
case class RewriteRankLimitToTopK(minK: Int = 2)
    extends Rule[LogicalPlan] with PredicateHelper {
  private def limitOf(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  /** InferWindowGroupLimit's bound is redundant once the Window goes. */
  private def stripGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case WindowGroupLimit(_, _, _, _, inner) => inner
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
          Filter(cond,
            w @ Window(Seq(alias @ Alias(
              WindowExpression(_: RowNumber, WindowSpecDefinition(ps, os, _)), _)),
              ps2, os2, wChild, _)))
        if w.resolved && ps == ps2 && os == os2 =>
      val rn = alias.toAttribute
      val conjuncts = splitConjunctivePredicates(cond)
      val (rankPreds, rest) = conjuncts.partition(limitOf(_, rn).isDefined)
      val ks = rankPreds.flatMap(limitOf(_, rn))
      val deadRank = !projList.exists(_.references.contains(rn)) &&
        !rest.exists(_.references.contains(rn))
      if (ks.nonEmpty && ks.min >= minK && ks.min > 0 && deadRank) {
        val topk = TopKPerKeyNode(ps, os, Literal(ks.min), stripGroupLimit(wChild))
        val filtered = rest.reduceOption(And).map(Filter(_, topk)).getOrElse(topk)
        Project(projList, filtered)
      } else p
  }
}

/** Registration + public API. */
object TopKPerKey {
  /** Idempotent runtime injection of the planner strategy into any
    * already-built session, through Spark's public `ExperimentalMethods`
    * seam. It plans only [[TopKPerKeyNode]], so no other plan changes; the
    * rewrite rule is never installed session-wide ([[rewrite]]). */
  private def register(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(TopKPerKeyStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKPerKeyStrategy
  }

  /** `df` with [[RewriteRankLimitToTopK]] applied to its optimized plan:
    * the rank-filter idiom becomes a [[TopKPerKeyNode]] in this frame only. */
  def rewrite(df: DataFrame, minK: Int = 2): DataFrame = {
    register(df.sparkSession)
    GraftSqlShim.ofRows(df.sparkSession,
      RewriteRankLimitToTopK(minK)(df.queryExecution.optimizedPlan))
  }

  private def toSortOrder(c: Column): SortOrder =
    GraftSqlShim.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }

  /** Per-key top-k with a constant k. */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame =
    apply(df, keys, order, org.apache.spark.sql.functions.lit(k))

  /** Per-key top-k with a per-key k expression (e.g.
    * `element_at(budgetMap, host)`); must be key-constant. */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Column): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    GraftSqlShim.ofRows(spark, TopKPerKeyNode(
      keys.map(GraftSqlShim.expression),
      order.map(toSortOrder),
      GraftSqlShim.expression(k),
      GraftSqlShim.plan(df)))
  }

  // ---- driver-contract queries (SURVEY §2.7 per-key top-k, custom-op form)
  import org.apache.spark.sql.functions._
  import graft.{QueryEntry, Tables}

  /** Both entries share one DuckDB oracle shape: per-returnflag top-5
    * lineitem rows by price, tie-broken to a total order. `q_topk_per_key`
    * drives the node through the public API; `q_topk_rewrite` writes the
    * plain window idiom and applies [[RewriteRankLimitToTopK]] to plan
    * it as the custom operator (TopKPerKeySpec pins that the rewrite
    * fires and the Window is gone).
    */
  private val topkOracle =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem) t WHERE rn <= 5"""

  private def ordering = Seq(
    col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)

  def entries: Seq[QueryEntry] = Seq(
    QueryEntry(
      "q_topk_per_key",
      (s, dir) => TopKPerKey(
        Tables.t(s, dir, "lineitem"), Seq(col("l_returnflag")), ordering, 5)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
      Some(topkOracle),
    ),
    QueryEntry(
      "q_topk_rewrite",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy(ordering: _*)
        rewrite(Tables.t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"))
      },
      Some(topkOracle),
    ),
  )
}
