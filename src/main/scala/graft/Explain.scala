package graft

/** Plan-inspection helper: prints the formatted physical plan of selected
  * queries so pushdown / pruning / broadcast / codegen claims are checked
  * against what Catalyst actually planned (see PLANS.md).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_filter_pushdown", "q_join_agg", "q_agg_pricing",
        "q_span_field_scan", "q_minhash_pairs")
    val spark = LocalSession(4)
    names.foreach { n =>
      // "exec:<name>" runs the query first and prints the FINAL adaptive
      // plan (shows AQE decisions: ReusedExchange, replanned joins).
      if (n.startsWith("exec:")) {
        val df = SparkEntry.queries(n.stripPrefix("exec:"))(spark, sfDir)
        // finalize AQE without materializing rows on the driver
        df.write.format("noop").mode("overwrite").save()
        println(s"\n===== $n (final adaptive plan) =====")
        println(df.queryExecution.executedPlan.toString)
      } else {
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
