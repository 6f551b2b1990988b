package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerKey

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
    spark.conf.set("spark.graft.topk.maxPartialKeys", "2")
    try {
      val got = TopKPerKey(frontier, Seq(col("host")),
        Seq(col("score").desc, col("id").asc), 17)
      assert(collectSorted(got) === collectSorted(windowRef(17)))
    } finally spark.conf.unset("spark.graft.topk.maxPartialKeys")
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

  // ---- final-pass spill fallback -----------------------------------------

  test("topKExact kernel: tiny row budget spills, recurses, stays exact") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, Literal, SortOrder}
    import org.apache.spark.sql.types.IntegerType
    import graft.plans.TopKHeaps

    val k = AttributeReference("k", IntegerType)()
    val v = AttributeReference("v", IntegerType)()
    val input = Seq(k, v)
    // 500 keys × 20 rows; top-3 by v desc per key = v in {9980+key pattern}
    val n = 10000
    def rows = (0 until n).iterator.map(i => InternalRow(i % 500, i): InternalRow)
    var spilled = 0L
    val got = TopKHeaps.topKExact(
      rows, Seq(k), Seq(SortOrder(v, Descending)), Literal(3), input,
      budgetRows = 10, fanout = 8, onSpill = spilled += _)
      .map(r => (r.getInt(0), r.getInt(1))).toVector
    assert(spilled > 0, "budget of 10 rows over 500 keys must spill")
    val expect = (0 until n).map(i => (i % 500, i)).groupBy(_._1)
      .values.flatMap(_.sortBy(-_._2).take(3)).toVector.sorted
    assert(got.sorted === expect)
    // duplicate-safe: no row lost or doubled across recursion levels
    assert(got.size === 1500)

    // k larger than the whole budget for a single key: stays in memory,
    // exact, no infinite recursion (single-key k is the documented
    // non-spilling envelope; demotion requires >= 2 in-memory keys).
    var sp2 = 0L
    val one = TopKHeaps.topKExact(
      (0 until 100).iterator.map(i => InternalRow(7, i): InternalRow),
      Seq(k), Seq(SortOrder(v, Ascending)), Literal(50), input,
      budgetRows = 5, fanout = 4, onSpill = sp2 += _)
      .map(_.getInt(1)).toVector
    assert(one.sorted === (0 until 50).toVector)
    assert(sp2 === 0L)
  }

  test("topKExact demotion: admitted keys growing past the budget spill") {
    // Without demotion this shape retains keys×k = 40×50 = 2000 rows
    // against a budget of 30: all 40 keys arrive (one row each) before
    // any key's second row, so admission alone never spills. Demotion
    // must move growing keys to disk and the result must stay exact.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, Literal, SortOrder}
    import org.apache.spark.sql.types.IntegerType
    import graft.plans.TopKHeaps

    val k = AttributeReference("k", IntegerType)()
    val v = AttributeReference("v", IntegerType)()
    val input = Seq(k, v)
    val nKeys = 40; val perKey = 120; val keep = 50
    // round-robin: key i gets rows i, i+40, i+80, ... — breadth-first
    def rows = (0 until nKeys * perKey).iterator
      .map(i => InternalRow(i % nKeys, i): InternalRow)
    var spilled = 0L
    val got = TopKHeaps.topKExact(
      rows, Seq(k), Seq(SortOrder(v, Descending)), Literal(keep), input,
      budgetRows = 30, fanout = 8, onSpill = spilled += _)
      .map(r => (r.getInt(0), r.getInt(1))).toVector
    assert(spilled > 0, "growth past the budget must demote keys to disk")
    val expect = (0 until nKeys * perKey).map(i => (i % nKeys, i))
      .groupBy(_._1).values.flatMap(_.sortBy(-_._2).take(keep))
      .toVector.sorted
    assert(got.sorted === expect)
    assert(got.size === nKeys * keep)
  }

  test("final-pass spill e2e: exact under a tiny retained-row budget") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    spark.conf.set("spark.graft.topk.maxRetainedRows", "32")
    try {
      val base = frontier.withColumn("k", col("id") % 997)
      val got = TopKPerKey(base, Seq(col("k")),
        Seq(col("score").desc, col("id").asc), 3).select("k", "id")
      val w = Window.partitionBy("k").orderBy(col("score").desc, col("id").asc)
      val ref = base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn").select("k", "id")
      def sorted(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getInt(0), r.getInt(1))).sorted
      assert(sorted(got.collect()) === sorted(ref.collect()))

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
        "997 keys × budget 32 rows must spill in the final pass")
    } finally spark.conf.unset("spark.graft.topk.maxRetainedRows")
  }
}
