package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.model.FetchedPage

/** A fleet that refuses every fetch: the crawl's first round fails. */
object RefusingFetchClient extends FetchClient {
  def fetchAttempt(url: String, attempt: Int): FetchedPage =
    throw new IllegalStateException(s"fetch refused: $url")
  def maxAttempts: Int = 1
}

/** `CrawlLoop.run` owns the crawl's plan policy: whatever the session says,
  * a crawl executes with AQE off, and the session confs it changes (AQE,
  * shuffle partitions, the plan mode's codegen confs) read back as they
  * were afterwards — also when the crawl fails.
  */
class CrawlPlanPolicySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"
  private val Codegen = Seq("spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode")

  private val repo = RepoConfig(seed = 9L, universe = 60,
    fileTypes = Seq("gro"), pageSize = 30, maxHitsPerQuery = 60,
    cursorPages = 2)
  private val budget = Map("zenodo" -> 6, "figshare" -> 6, "osf" -> 6,
    "nomad" -> 3)

  /** A 1-round micro-crawl into a fresh root. */
  private def cfg = CrawlConfig(repo, budget, maxRounds = 1,
    SparkTestSession.scratchDir("crawl-policy"),
    bloomShards = 4, bloomExpectedPerShard = 1 << 10)

  /** Sets AQE on and 4 shuffle partitions for `body`, restoring the
    * session's own values after it. */
  private def withSessionConfs[A](body: => A): A = {
    val before = Seq(Aqe, Parts).map(k => k -> spark.conf.get(k))
    spark.conf.set(Aqe, "true")
    spark.conf.set(Parts, "4")
    try body finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The codegen confs, read before `body` and checked unchanged after. */
  private def codegenRestored(body: => Unit): Unit = {
    val before = Codegen.map(spark.conf.get)
    body
    assert(Codegen.map(spark.conf.get) === before)
  }

  /** The executed plans of every query that finished while `body` ran.
    * Listener events arrive asynchronously but in order, so a marker
    * query run after `body` tells when all of its queries have arrived. */
  private def plansDuring(body: => Unit): Seq[SparkPlan] = {
    val marker = "crawl_policy_marker"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerSeen.countDown()
        else if (markerSeen.getCount > 0) plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "query listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("a crawl runs without adaptive plans and restores the session confs") {
    withSessionConfs { codegenRestored {
      val plans = plansDuring(CrawlLoop.run(spark, cfg))
      assert(plans.nonEmpty, "the listener saw no crawl query")
      val adaptive = plans.filter(_.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
      assert(adaptive.isEmpty,
        s"${adaptive.size} of ${plans.size} crawl plans ran under AQE")
      // a 1-round micro-crawl is far below PlanMode's bound: interpreted
      val compiled = plans.filter(_.exists(_.isInstanceOf[WholeStageCodegenExec]))
      assert(compiled.isEmpty,
        s"${compiled.size} of ${plans.size} crawl plans ran generated code")
      assert(spark.conf.get(Aqe) === "true")
      assert(spark.conf.get(Parts) === "4")
    }}
  }

  test("a failing crawl restores the session confs") {
    withSessionConfs { codegenRestored {
      val e = intercept[Exception] {
        CrawlLoop.run(spark, cfg.copy(client = Some(RefusingFetchClient)))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("fetch refused")),
        s"the crawl failed for another reason: $e")
      assert(spark.conf.get(Aqe) === "true")
      assert(spark.conf.get(Parts) === "4")
    }}
  }
}
