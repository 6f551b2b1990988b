package graft

/** Bench-triage probe: times the named SparkEntry queries `reps` times
  * ROUND-ROBIN interleaved — co-tenant noise on this shared box hits every
  * variant equally instead of whichever query ran during the spike — and
  * reports best-of and median per query as one JSON line. Used to separate
  * real plan regressions from measurement noise before acting on
  * BENCH-to-BENCH deltas (the r3 verdict's re-measure protocol).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 SPARK_GRAFT_PROBE_REPS=5 \
  *     sbt "runMain graft.QueryProbe q_ngram_jaccard q_jaccard_lsh"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProbe <query-name> [more names]")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSession(cpus)

    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to reps).foreach { _ =>
      args.foreach { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        samples(n) = samples(n) :+ (System.nanoTime() - t0) / 1e9
        // release any intra-query persists OUTSIDE the timing (Bench's
        // rule) so rep N+1 measures the real plan, not a cache read
        spark.catalog.clearCache()
      }
    }
    val fields = args.map { n =>
      val v = samples(n).sorted
      s""""$n":{"best":${v.head},"median":${v(v.size / 2)},"reps":$reps}"""
    }
    println(fields.mkString("{", ",", "}"))
    spark.stop()
  }
}
