package graft

import graft.operators.Relational
import org.scalatest.funsuite.AnyFunSuite

class RelationalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  test("profile: per-column null/distinct/min/max in native type order") {
    val df = Seq[(java.lang.Long, String)](
      (9L, "b"),
      (10L, "a"), // 10 > 9 numerically but "10" < "9" lexicographically
      (null, "a"),
    ).toDF("k", "s")
    val got = Relational.profileColumns(df, Seq("k", "s"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.toSeq === Seq(
      // min/max computed on the BIGINT, stringified after → 9..10, not 10..9
      ("k", 3L, 2L, 2L, "9", "10"),
      ("s", 3L, 3L, 2L, "a", "b"),
    ))
  }

  test("profile: single scan — one Expand aggregate, no join or union") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val plan = Relational.profileColumns(df, Seq("k", "s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand")) // multi-column exact count-distinct
    assert(!plan.contains("Join") && !plan.contains("Union"))
  }

  test("cube: one Expand + one aggregate pass, grouping_id disambiguates") {
    import org.apache.spark.sql.functions._
    val df = Seq(("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 3.0))
      .toDF("s", "p", "v")
    val q = df.cube($"s", $"p")
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    val rows = q.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    // 2^2 grouping sets from ONE pass: no Union of per-set scans
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    assert(!plan.contains("Union"))
    assert(rows.count(_._4 == 0L) === 3) // detail rows
    val grand = rows.filter(_._4 == 3L)
    assert(grand.length === 1 && grand.head._3 === 3L)
    assert(rows.count(_._4 == 1L) === 2) // (s) subtotals: A, B
    assert(rows.count(_._4 == 2L) === 2) // (p) subtotals: x, y
  }

  test("exclusion: first matching pattern labels a file; NULL matches none") {
    import org.apache.spark.sql.functions.col
    val df = Seq[(Int, String)]((1, "__MACOSX/.git/x"), (2, "a/.hidden"),
      (3, "a/.git.b/y"), (4, "a/b.gro"), (5, null)).toDF("id", "file_name")
    val paths = Seq("__MACOSX", ".git")
    val got = df.select(col("id"),
        Relational.exclusionLabel(paths, Seq(".")).as("label"))
      .orderBy("id").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "in path: __MACOSX", 2 -> "starting with: .",
      3 -> "in path: .git", 4 -> null, 5 -> null))
    // the filter keeps exactly the unlabelled rows, a NULL file_name too
    assert(Relational.excludeFiles(df, paths, Seq(".")).orderBy("id")
      .collect().map(_.getInt(0)).toSeq === Seq(4, 5))
  }

  test("snapshot diff: added/removed/changed classified, unchanged dropped") {
    val v1 = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "st", "price")
    val v2 = Seq((1L, "A", 10.0), (2L, "B", 25.0), (4L, "D", 40.0))
      .toDF("k", "st", "price")
    val got = Relational.snapshotDiff(v1, v2, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // k=1 unchanged (absent), k=2 changed, k=3 removed, k=4 added
    assert(got.toSeq === Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
    val changed = Relational.snapshotDiff(v1, v2, "k")
      .where($"k" === 2L).collect()(0)
    assert(changed.getAs[Double]("old_price") === 20.0)
    assert(changed.getAs[Double]("new_price") === 25.0)
  }
}
