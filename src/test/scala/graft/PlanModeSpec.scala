package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.tables.Glacier

/** The size-gated plan mode: a micro-crawl plus its download and export
  * runs interpreted by default and compiles only a few codegen-only
  * classes; forced to generated code (a bound of 0) the same steps give
  * the same crawl-order log and the same rows in every table. Past the
  * bound, only the post-pass and the export compile.
  */
class PlanModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val repo = RepoConfig(seed = 42L, universe = 400,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 100,
    cursorPages = 6, gpcrmdCount = 30, mddbCount = 35, atlasCount = 25)
  private val budget = Map("zenodo" -> 80, "figshare" -> 50, "osf" -> 60,
    "nomad" -> 5, "gpcrmd" -> 40, "mddb" -> 30, "atlas" -> 36)

  /** Janino compiles so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A 2-round micro-crawl, download and export into a fresh root; the
    * root and the compiles the crawl itself took. */
  private def crawlAndEtl(): (Glacier, Long) = {
    val root = SparkTestSession.scratchDir("plan-mode")
    val n0 = compiles
    val g = CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = 2,
      root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    val crawlCompiles = compiles - n0
    DownloadStage.run(spark, g, repo, Seq("gro", "mdp"), withZipFiles = true)
    ExportStage.run(spark, g)
    (g, crawlCompiles)
  }

  private lazy val (interpreted, interpretedCompiles) = crawlAndEtl()
  private lazy val (compiled, compiledCompiles) =
    PlanMode.withBound(0L)(crawlAndEtl())

  /** The snapshots a crawl, download or export step committed. */
  private def steps(g: Glacier) = g.history.filter(m =>
    Set("bootstrap", "post-pass", "download", "export")(m.note) ||
      m.note.startsWith("round "))

  private def logChecksum(g: Glacier): BigInt =
    g.read(spark, "crawl_log").get.select(
      sum(xxhash64(col("round"), col("seqInRound"), col("url"), col("status"))
        .cast("decimal(38,0)"))).collect()(0).getDecimal(0).toBigInteger

  test("a small crawl and its ETL run interpreted and record it") {
    assert(PlanMode.snapshotRows(interpreted) < PlanMode.InterpretedRows)
    assert(steps(interpreted).size === 6) // bootstrap, 2 rounds, post-pass, download, export
    assert(steps(interpreted).forall(_.metrics.get("interpreted").contains(1L)))
    assert(steps(compiled).forall(_.metrics.get("interpreted").contains(0L)))
    // the codegen-only classes (cached-frame column accessors, range
    // orderings, safe projections) stay; generated code compiles ~175
    info(s"crawl compiles: $interpretedCompiles interpreted, " +
      s"$compiledCompiles generated")
    assert(interpretedCompiles <= 40,
      s"interpreted crawl compiled $interpretedCompiles classes")
    assert(compiledCompiles > interpretedCompiles)
  }

  test("past the bound only the post-pass and the export compile") {
    // a bound the post-pass's starting snapshot (the last round's) reaches
    val lastRound = steps(interpreted).filter(_.note.startsWith("round ")).last
    val bound = lastRound.tables.valuesIterator.map(_.rows).sum
    val (g, _) = PlanMode.withBound(bound)(crawlAndEtl())
    val modes = steps(g).map(m => m.note -> m.metrics("interpreted"))
    assert(modes === Seq("bootstrap" -> 1L, "round 1" -> 1L, "round 2" -> 1L,
      "post-pass" -> 0L, "download" -> 1L, "export" -> 0L))
    assert(logChecksum(g) === logChecksum(interpreted))
  }

  test("interpreted and generated code give the same crawl and tables") {
    assert(logChecksum(interpreted) === logChecksum(compiled))
    val tables = interpreted.currentManifest.get.tables.keySet
    assert(tables === compiled.currentManifest.get.tables.keySet)
    tables.toSeq.sorted.foreach { t =>
      assert(interpreted.rowCount(t) === compiled.rowCount(t), t)
      assert(Fingerprint.of(interpreted.read(spark, t).get) ===
        Fingerprint.of(compiled.read(spark, t).get), t)
    }
  }
}
