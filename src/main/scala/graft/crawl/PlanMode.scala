package graft.crawl

import scala.util.DynamicVariable

import org.apache.spark.sql.SparkSession

import graft.tables.Glacier

/** Plan mode of the crawl and its ETL ([[CrawlLoop.run]],
  * [[DownloadStage.run]], [[ExportStage.run]]): interpreted evaluation, or
  * the session's own generated code.
  *
  * Janino compilation is a per-job fixed cost: a cold micro-crawl plus its
  * download and export compiles ~340 classes (~7.5 s of a ~38 s unit on 4
  * cores), and the unit's ~230 distinct classes overflow Spark's 100-entry
  * codegen cache, so every later round compiles most of them again. On a
  * few hundred rows, interpreted evaluation costs far less than compiling
  * the code that would evaluate them. Compiling only once the input pays
  * for it is the adaptive-execution idea of Kohn, Leis and Neumann (ICDE
  * 2018). Both modes evaluate the same Catalyst expressions, so results
  * are identical (`PlanModeSpec`).
  *
  * A step is sized by the rows it starts on, only where interpreted
  * evaluation was measured to lose (BENCH.md, "Plan mode crossover"): the
  * crawl's post-pass and the export run generated code once the root's
  * current snapshot holds [[InterpretedRows]] rows, summed from its
  * manifest (footer row counts each commit already read, so sizing runs
  * no Spark job). Crawl rounds and download won interpreted at every size
  * measured, up to a 2.1 M-row root, so they are sized as empty. The mode
  * changes only between steps, after the previous step's commits are
  * durable, so each snapshot's `interpreted` metric is the mode of all its
  * writes.
  */
object PlanMode {

  /** Steps over fewer rows than this run interpreted. The post-pass is
    * the first step to lose interpreted, between 29k and 99k snapshot
    * rows; export loses between 220k and 800k. */
  val InterpretedRows: Long = 1L << 16

  /** The bound in force: a test seam (`withBound(0)` forces generated
    * code on every step), deliberately not a conf key. */
  private val bound = new DynamicVariable[Long](InterpretedRows)
  private[graft] def withBound[A](rows: Long)(body: => A): A =
    bound.withValue(rows)(body)

  // The two confs that make a plan interpreted. `wholeStage` alone still
  // compiles every projection, predicate and ordering one by one;
  // `factoryMode` = NO_CODEGEN makes those factories build their
  // interpreted twins. Spark marks `factoryMode` internal (documented for
  // tests) — it is only ever set here, and both keys live only here.
  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** Total rows of `g`'s current snapshot (0 for an empty root). */
  def snapshotRows(g: Glacier): Long =
    g.currentManifest.fold(0L)(_.tables.valuesIterator.map(_.rows).sum)

  /** The session's own codegen confs: generated-code mode, and what a
    * step restores on exit. */
  private[crawl] def sessionConfs(spark: SparkSession): Seq[(String, String)] =
    Seq(WholeStage, FactoryMode).map(k => k -> spark.conf.get(k))

  /** Put `spark` in the mode of a step over `rows` rows: interpreted
    * below the bound, else the session's own confs `own`. True =
    * interpreted. */
  private[crawl] def set(spark: SparkSession, rows: Long,
                         own: Seq[(String, String)]): Boolean = {
    val small = rows < bound.value
    if (small) {
      spark.conf.set(WholeStage, "false")
      spark.conf.set(FactoryMode, "NO_CODEGEN")
    } else own.foreach { case (k, v) => spark.conf.set(k, v) }
    small
  }

  /** Run one step over `rows` rows in its mode, restoring the session's
    * codegen confs on every exit. */
  private[crawl] def sizedTo[A](spark: SparkSession, rows: Long)(body: => A): A = {
    val own = sessionConfs(spark)
    try { set(spark, rows, own); body }
    finally own.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The mode entry of a committed snapshot's `metrics`: `interpreted` →
    * 1 or 0, as the session is set now. */
  private[crawl] def metric(spark: SparkSession): Map[String, Long] = {
    val interpreted = spark.conf.get(WholeStage) == "false" &&
      spark.conf.get(FactoryMode) == "NO_CODEGEN"
    Map("interpreted" -> (if (interpreted) 1L else 0L))
  }
}
