package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{CrawlLoop, CrawlSpec}
import graft.model.FetchTask

/** The priority-queue drain must select exactly the per-host top-budget by
  * (score desc, discovery seq asc) — verified against a brute-force sort,
  * including the salted two-phase pruning and the global seqInRound order.
  */
class FrontierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def mk(i: Int, host: String, score: Double) =
    FetchTask(s"$host://u/$i", host, 0, score,
      round = i % 5, queryIdx = i % 17, pageIdx = i % 3, hitIdx = i)

  test("drainSelect == brute-force per-host top-k, global order exact") {
    import spark.implicits._
    val tasks = (0 until 5000).map { i =>
      val host = Seq("zenodo", "figshare", "osf")(i % 3)
      mk(i, host, Seq(3.0, 2.0, 1.0, 0.5)(i % 4))
    }
    val budget = Map("zenodo" -> 120, "figshare" -> 75, "osf" -> 50)

    val (drained, release) =
      CrawlLoop.drainSelectManaged(tasks.toDF(), budget, salts = 4)
    val got =
      try drained.orderBy("seqInRound")
        .as[(String, String, Int, Double, Int, Int, Int, Int, Int, Int)]
        .collect()
        .map(r => (r._1, r._9, r._10)) // (url, seqInRound, kInHost)
      finally release()

    // brute force: per-host top-budget in task order; global order for the
    // seq; per-host position for the politeness-schedule rank
    val perHost = tasks.groupBy(_.host).toSeq.flatMap { case (h, ts) =>
      ts.sorted(CrawlSpec.taskOrder).take(budget(h)).zipWithIndex
        .map { case (t, k) => t -> k }
    }
    val kOf = perHost.map { case (t, k) => t.url -> k }.toMap
    val expected = perHost.map(_._1).sorted(CrawlSpec.taskOrder).zipWithIndex
      .map { case (t, i) => (t.url, i + 1, kOf(t.url)) }

    assert(got.toSeq === expected)
  }

  test("host without budget entry is never drained") {
    import spark.implicits._
    val tasks = (0 until 100).map(i => mk(i, if (i % 2 == 0) "zenodo" else "mystery", 1.0))
    val (drained, release) =
      CrawlLoop.drainSelectManaged(tasks.toDF(), Map("zenodo" -> 10), salts = 4)
    val got =
      try drained.select("host").as[String].collect()
      finally release()
    assert(got.length === 10)
    assert(got.forall(_ == "zenodo"))
  }
}
