package graft

/** Query probe: plans and times the named SparkEntry queries.
  *
  *  - `plan:<name>` prints the formatted physical plan, so pushdown /
  *    pruning / broadcast / codegen claims are checked against what
  *    Catalyst actually planned (see PLANS.md);
  *  - `exec:<name>` runs the query first and prints the FINAL adaptive
  *    plan (shows AQE decisions: ReusedExchange, replanned joins);
  *  - a bare `<name>` is timed `reps` times ROUND-ROBIN interleaved with
  *    the other bare names — co-tenant noise on this shared box hits every
  *    variant equally instead of whichever query ran during the spike —
  *    and best-of and median per query are reported as one JSON line. Used
  *    to separate real plan regressions from measurement noise before
  *    acting on BENCH-to-BENCH deltas (the r3 verdict's re-measure
  *    protocol).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 SPARK_GRAFT_PROBE_REPS=5 \
  *     sbt "runMain graft.QueryProbe q_ngram_jaccard plan:q_jaccard_lsh"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProbe <name | plan:name | exec:name> [more]")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    val (shown, timed) = args.toSeq.partition(_.contains(":"))
    val badMode = shown.filterNot(a => a.startsWith("plan:") || a.startsWith("exec:"))
    require(badMode.isEmpty, s"unknown modes: ${badMode.mkString(", ")}")
    val unknown = (shown.map(_.split(":", 2)(1)) ++ timed)
      .filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = LocalSession(cpus)
    def query(n: String) = SparkEntry.queries(n)(spark, sfDir)

    shown.foreach { a =>
      val Array(mode, n) = a.split(":", 2)
      if (mode == "exec") {
        val df = query(n)
        // run this frame's own plan so AQE finalizes it, without
        // materializing rows on the driver
        df.queryExecution.toRdd.foreach(_ => ())
        println(s"\n===== $a (final adaptive plan) =====")
        println(df.queryExecution.executedPlan.toString)
      } else {
        println(s"\n===== $a =====")
        query(n).explain("formatted")
      }
      spark.catalog.clearCache()
    }

    if (timed.nonEmpty) {
      val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      (1 to reps).foreach { _ =>
        timed.foreach { n =>
          val t0 = System.nanoTime()
          query(n).count()
          samples(n) = samples(n) :+ (System.nanoTime() - t0) / 1e9
          // release any intra-query persists OUTSIDE the timing (Bench's
          // rule) so rep N+1 measures the real plan, not a cache read
          spark.catalog.clearCache()
        }
      }
      val fields = timed.map { n =>
        val v = samples(n).sorted
        s""""$n":{"best":${v.head},"median":${v(v.size / 2)},"reps":$reps}"""
      }
      println(fields.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
