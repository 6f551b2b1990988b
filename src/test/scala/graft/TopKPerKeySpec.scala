package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, InterpretedUnsafeProjection, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{TopKHeaps, TopKPerKey}

/** The custom Catalyst top-k operator must (a) agree row-for-row with the
  * window `row_number` reference, (b) plan as partial→one-exchange→final
  * with no sort and no WindowExec, and (c) fire its optimizer rewrite on
  * the pruned rank-filter idiom — and only on it.
  *
  * Plan-shape assertions are string-based: AQE wraps the physical plan in
  * a leaf AdaptiveSparkPlanExec, so `collect` can't traverse it, but the
  * tree string renders the full current plan.
  */
class TopKPerKeySpec extends AnyFunSuite {
  import TopKPerKeySpec._
  private lazy val spark = SparkTestSession.get

  // Deterministic synthetic frontier: total ordering via unique id.
  private def frontier = {
    import spark.implicits._
    (0 until 4000).map { i =>
      val host = Seq("zenodo", "figshare", "osf", "nomad", "atlas")(i % 5)
      (host, i, (i * 2654435761L % 97).toDouble)
    }.toDF("host", "id", "score").repartition(8, col("id"))
  }

  private def windowRef(k: Int) = {
    val w = Window.partitionBy("host").orderBy(col("score").desc, col("id").asc)
    frontier.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("host", "id", "score").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("constant k agrees with window row_number reference") {
    val got = TopKPerKey(frontier, Seq(col("host")),
      Seq(col("score").desc, col("id").asc), 17)
    assert(collectSorted(got) === collectSorted(windowRef(17)))
  }

  test("k larger than every group passes all rows through") {
    val got = TopKPerKey(frontier, Seq(col("host")),
      Seq(col("score").desc, col("id").asc), 100000)
    assert(got.count() === 4000)
  }

  test("per-key budget expression: map lookup, missing host drops rows") {
    val budgets = typedLit(Map("zenodo" -> 10, "figshare" -> 3, "osf" -> 0))
    val got = TopKPerKey(frontier, Seq(col("host")),
      Seq(col("score").desc, col("id").asc),
      element_at(budgets, col("host"))) // null for nomad/atlas
    val byHost = got.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHost === Map("zenodo" -> 10L, "figshare" -> 3L))

    // Values must match the window reference restricted to budgeted hosts.
    val w = Window.partitionBy("host").orderBy(col("score").desc, col("id").asc)
    val ref = frontier.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= element_at(budgets, col("host"))).drop("rn")
    assert(collectSorted(got) === collectSorted(ref))
  }

  test("plan: partial below one exchange below final; no sort, no window") {
    val got = TopKPerKey(frontier, Seq(col("host")),
      Seq(col("score").desc, col("id").asc), 5)
    val s = planString(got)
    assert("TopKPerKeyFinal".r.findAllIn(s).size === 1, s)
    assert("TopKPerKeyPartial".r.findAllIn(s).size === 1, s)
    // two exchanges total: the test repartition(8) plus the top-k shuffle
    assert("Exchange hashpartitioning".r.findAllIn(s).size === 2, s)
    assert(!s.contains("WindowExec") && !s.contains("Sort "), s)
  }

  test("optimizer rule rewrites pruned row_number filter to TopKPerKeyNode") {
    // Project drops rn above Filter(rn<=9) above Window
    val df = TopKPerKey.rewrite(windowRef(9))
    val s = planString(df)
    assert(s.contains("TopKPerKeyFinal"), s"rewrite did not fire:\n$s")
    assert(!s.contains("Window ") && !s.contains("RunningWindowFunction"), s)
    assert(collectSorted(df) === collectSorted(windowRef(9)))
  }

  test("rewrite does NOT fire when the rank column survives") {
    val w = Window.partitionBy("host").orderBy(col("score").desc, col("id").asc)
    val df = TopKPerKey.rewrite(
      frontier.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4))
    val s = planString(df)
    assert(!s.contains("TopKPerKeyFinal"), s)
    assert(s.contains("Window"), s)
  }

  test("residual non-rank predicates are preserved") {
    val w = Window.partitionBy("host").orderBy(col("score").desc, col("id").asc)
    val df = TopKPerKey.rewrite(frontier.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 6 && col("score") > 10).drop("rn"))
    val ref = frontier.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 6).filter(col("score") > 10).drop("rn")
    assert(planString(df).contains("TopKPerKeyFinal"))
    assert(collectSorted(df) === collectSorted(ref))
  }

  test("partial-pass memory valve: tiny maxPartialKeys stays exact") {
    // With the valve at 2 keys, most partial-pass rows stream through
    // unpruned; the final pass must still produce the exact top-k.
    for (interp <- Seq(false, true)) {
      val (partial, got) = inTask(interp) { () =>
        val chunks = Valve.grouped(500).map(c => pairs(
          TopKHeaps.topK(rows(c), Seq(K), Seq(Desc), Literal(17),
            Input, maxKeys = 2))).toVector
        (chunks.map(_.size).sum, pairs(exact(
          rows(chunks.flatten), Desc, 17, TopKHeaps.MaxRetainedRows)))
      }
      assert(partial > 8 * 5 * 17, "the valve let no row through")
      assert(got.sorted === reference(Valve, 17), s"interpreted=$interp")
    }
  }

  test("k=1 first-wins idiom: gated off by default, exact when opted in") {
    val w = Window.partitionBy(col("k")).orderBy(col("score").asc, col("id").asc)
    val base = frontier.withColumn("k", col("id") % 997)
    def firstWins = base.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")

    // Default minK = 2: k=1 keeps the window plan (near-unique keys
    // beat hash-grouping — see RewriteRankLimitToTopK scaladoc).
    assert(!planString(TopKPerKey.rewrite(firstWins)).contains("TopKPerKeyFinal"))

    // Opted in (heavy-group argmin workloads): rewrite fires and is exact.
    val df = TopKPerKey.rewrite(firstWins, minK = 1)
    assert(planString(df).contains("TopKPerKeyFinal"), planString(df))
    val ref = base.collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .groupBy(t => t._2 % 997).values
      .map(_.minBy(t => (t._3, t._2))).toSeq.sortBy(_._2)
    val got = df.select("host", "id", "score").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).sortBy(_._2)
    assert(got.toSeq === ref)
  }

  test("a TopKPerKey call leaves other plans of its session alone") {
    // a fresh session: the shared one may already have run TopKPerKey
    val s = spark.newSession()
    val lateral = graft.operators.Relational.entries
      .find(_.name == "q_lateral_topk").get
    def plan = lateral.fn(s, EntryRegistrySpec.Sf).queryExecution
      .optimizedPlan.toString.replaceAll("#\\d+", "#")
    val before = plan
    TopKPerKey(s.range(10).toDF("id"), Seq(col("id") % 2), Seq(col("id").asc), 2)
      .collect()
    assert(plan === before)
    assert(before.contains("WindowGroupLimit") && !before.contains("TopKPerKey"),
      before)
  }

  test("empty input and k<=0 yield empty output") {
    val empty = frontier.filter(col("id") < 0)
    assert(TopKPerKey(empty, Seq(col("host")), Seq(col("id").asc), 3).count() === 0)
    assert(TopKPerKey(frontier, Seq(col("host")), Seq(col("id").asc), lit(0)).count() === 0)
  }

  // ---- final-pass overflow into the sort ---------------------------------

  test("topKExact kernel: tiny row budget overflows into the sort, stays exact") {
    // 500 keys × 20 rows, top 3 by v desc per key, past budgets of 1 and
    // 32 rows, with and without forced sorter spills every 1000 rows
    val in = (0 until 10000).map(i => (i % 500, i))
    for (interp <- Seq(false, true); budget <- Seq(1L, 32L); spillEvery <- Seq(0, 1000)) {
      val (got, sorted) = exactInTask(interp, in, Desc, 3, budget, spillEvery)
      val mode = s"interpreted=$interp budget=$budget spillEvery=$spillEvery"
      assert(sorted > 0, mode)
      // duplicate-safe: no row lost or doubled
      assert(got.size === 1500, mode)
      assert(got.sorted === reference(in, 3), mode)
    }
  }

  test("topKExact: admitted keys growing past the budget overflow into the sort") {
    // Breadth-first: all 40 keys arrive (one row each) before any key's
    // second row, so the budget of 45 rows is passed by keys already
    // admitted, never by a new one; keys × k = 2000 rows would be held.
    val in = (0 until 40 * 120).map(i => (i % 40, i))
    for (interp <- Seq(false, true)) {
      val (got, sorted) = exactInTask(interp, in, Desc, 50, 45L, 1000)
      assert(sorted > 0, "growth past the budget must overflow")
      assert(got.size === 40 * 50)
      assert(got.sorted === reference(in, 50), s"interpreted=$interp")
    }
  }

  test("topKExact: a single key whose k exceeds the budget goes through the sort") {
    val in = (0 until 6000).map(i => (7, (i * 7919) % 6000))
    for (interp <- Seq(false, true)) {
      val (got, sorted) = exactInTask(interp, in, Asc, 5000, 5L, 1000)
      assert(sorted === 6000L, s"interpreted=$interp")
      assert(got.map(_._2).sorted === (0 until 5000).toVector)
    }
  }

  test("final-pass spill e2e: exact under a tiny retained-row budget") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val base = frontier.withColumn("k", col("id") % 997)
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id").asc)
    val ref = base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn").select("k", "id")
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getInt(1))).sorted
    val expect = sorted(ref.collect())
    for (interp <- Seq(false, true)) TopKHeaps.withRetainedRows(32) {
      val got = TopKPerKey(base, Seq(col("k")),
        Seq(col("score").desc, col("id").asc), 3).select("k", "id")
      assert(sorted(
        if (interp) SparkTestSession.interpreted(got.collect()) else got.collect()) === expect)

      // the spillRows SQL metric on the exec instance that just ran; AQE
      // wraps each stage in a leaf QueryStageExec, so descend manually
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def finals(p: SparkPlan): Seq[graft.plans.TopKPerKeyFinalExec] = {
        val here = p match {
          case f: graft.plans.TopKPerKeyFinalExec => Seq(f); case _ => Nil
        }
        val kids = p match {
          case q: QueryStageExec => Seq(q.plan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case other => other.children
        }
        here ++ kids.flatMap(finals)
      }
      val plan = got.queryExecution.executedPlan
      val fin = finals(plan)
      assert(fin.nonEmpty, plan.toString)
      assert(fin.head.metrics("spillRows").value > 0,
        "997 keys × budget 32 rows must overflow in the final pass")
    }
  }

  /** `body` inside one Spark task — the overflow sorter takes the task's
    * memory manager — with the task's projections and orderings
    * interpreted or generated (the factory mode reaches a task through
    * its local properties). */
  private def inTask[A: scala.reflect.ClassTag](interp: Boolean)(body: () => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(FactoryMode, if (interp) "NO_CODEGEN" else "CODEGEN_ONLY")
    val (modeSeen, result) =
      try sc.parallelize(Seq(0), 1).map { _ =>
        (UnsafeProjection.create(Seq(K), Input).isInstanceOf[InterpretedUnsafeProjection],
          body())
      }.collect().head
      finally sc.setLocalProperty(FactoryMode, null)
    assert(modeSeen === interp, "the task ran in the other mode")
    result
  }

  /** [[TopKHeaps.topKExact]] over (key, v) pairs with a constant k, in a
    * task; the kept pairs and the rows handed to the sorter. */
  private def exactInTask(interp: Boolean, in: Seq[(Int, Int)], order: SortOrder,
      k: Int, budget: Long, spillEvery: Int): (Vector[(Int, Int)], Long) =
    inTask(interp) { () =>
      var sorted = 0L
      (pairs(exact(rows(in), order, k, budget, spillEvery, sorted += _)), sorted)
    }

  /** The first k pairs of each key by v descending, sorted. */
  private def reference(in: Seq[(Int, Int)], k: Int): Vector[(Int, Int)] =
    in.groupBy(_._1).values.flatMap(_.sortBy(-_._2).take(k)).toVector.sorted
}

/** The final-pass kernel over (key, v) int rows, outside the suite so a
  * task's closure captures nothing of it. */
object TopKPerKeySpec {
  val FactoryMode = "spark.sql.codegen.factoryMode"
  val K = AttributeReference("k", IntegerType)()
  val V = AttributeReference("v", IntegerType)()
  val Input = Seq(K, V)
  val Asc = SortOrder(V, Ascending)
  val Desc = SortOrder(V, Descending)
  /** 4000 rows over 5 keys, v a permutation of 0 until 4000. */
  val Valve: Seq[(Int, Int)] = (0 until 4000).map(i => (i % 5, (i * 7919) % 4000))

  def rows(in: Seq[(Int, Int)]): Iterator[InternalRow] =
    in.iterator.map { case (a, b) => InternalRow(a, b) }
  def pairs(it: Iterator[InternalRow]): Vector[(Int, Int)] =
    it.map(r => (r.getInt(0), r.getInt(1))).toVector

  /** Exact top-k by `order` per key, sorting past `budget` retained rows
    * and spilling every `spillEvery` sorted rows (0: only under memory
    * pressure). */
  def exact(in: Iterator[InternalRow], order: SortOrder, k: Int, budget: Long,
      spillEvery: Int = 0, onSpill: Long => Unit = _ => ()): Iterator[InternalRow] =
    TopKHeaps.topKExact(in, Seq(K), Seq(order), Literal(k), Input, budget,
      TopKHeaps.overflowSort(Seq(K), Seq(order), LocalTableScanExec(Input, Nil, None))
        .copy(testSpillFrequency = spillEvery), onSpill)
}
