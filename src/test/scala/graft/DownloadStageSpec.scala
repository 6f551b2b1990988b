package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.model.FileRecord

/** The post-crawl download + zip-extraction + parse stage
  * (scripts/download_files.py + parse_{gro,mdp}_files.py): selection-mode
  * equivalence against a straight re-implementation of the pandas logic,
  * pooch cache semantics (second run downloads nothing), and parse
  * correctness of the committed gro/mdp parameter tables.
  */
class DownloadStageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val repo = RepoConfig(seed = 77L, universe = 150,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 60)
  private val budget = Map("zenodo" -> 30, "figshare" -> 20, "osf" -> 15)
  private val types = Seq("gro", "mdp")

  private lazy val (g, oracle) = {
    val root = SparkTestSession.scratchDir("dl-stage")
    val gl = CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = 8,
      root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    (gl, ReferenceCrawl.run(repo, budget, maxRounds = 8))
  }

  /** select_files_to_download re-implemented verbatim on the oracle's
    * cleaned files frame (download_files.py:68-139). */
  private def referenceSelect(files: Vector[FileRecord], mode: String): Vector[FileRecord] =
    mode match {
      case "no"  => files.filter(f =>
        f.containing_archive_file_name.isEmpty && types.contains(f.file_type))
      case "yes" => files.filter(f =>
        f.containing_archive_file_name.isDefined && types.contains(f.file_type))
      case "zip" =>
        val zips = files.filter(f => f.containing_archive_file_name.isDefined &&
          types.contains(f.file_type))
          .map(f => (f.dataset_id_in_repository, f.containing_archive_file_name.get))
          .distinct.toSet
        files.filter(f =>
          zips.contains((f.dataset_id_in_repository, f.file_name)))
    }

  private def urls(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("file_url_in_repository").collect().map(_.getString(0)).toSet

  test("selection modes match the reference logic on the cleaned files table") {
    val files = g.read(spark, "files_clean").get
    assert(urls(DownloadStage.selectFiles(files, types, DownloadStage.DirectFiles))
      === referenceSelect(oracle.filesClean, "no").map(_.file_url_in_repository).toSet)
    assert(urls(DownloadStage.selectFiles(files, types, DownloadStage.InZipFiles))
      === referenceSelect(oracle.filesClean, "yes").map(_.file_url_in_repository).toSet)
    assert(urls(DownloadStage.selectFiles(files, types, DownloadStage.ZipArchives))
      === referenceSelect(oracle.filesClean, "zip").map(_.file_url_in_repository).toSet)
    // non-degenerate: all three selections non-empty, zip archives are zips
    assert(referenceSelect(oracle.filesClean, "no").nonEmpty)
    assert(referenceSelect(oracle.filesClean, "yes").nonEmpty)
    assert(referenceSelect(oracle.filesClean, "zip").forall(_.file_type == "zip"))
  }

  test("pooch cache: first run fetches, second run is all cache hits") {
    val m1 = DownloadStage.run(spark, g, repo, types, withZipFiles = true)
    assert(m1("dl_downloaded") > 0)
    assert(m1("dl_extracted") > 0)
    assert(m1("dl_cache_hits") === 0)
    // retry envelope exercised: some downloads needed a second attempt
    assert(m1("dl_attempts") > m1("dl_downloaded"))

    val m2 = DownloadStage.run(spark, g, repo, types, withZipFiles = true)
    assert(m2("dl_downloaded") === 0)
    assert(m2("dl_extracted") === 0)
    assert(m2("dl_cache_hits") === m2("dl_targets"))
    // the second run's store is identical — same cache row count
    val cacheRows = g.read(spark, "download_cache").get.count()
    assert(cacheRows === m1("dl_downloaded") + m1("dl_extracted"))
  }

  test("manifest row counts equal the rows read back, at every snapshot") {
    // its own small crawl: the shared one above must reach the pooch test
    // with an empty download cache
    val small = RepoConfig(seed = 78L, universe = 60,
      fileTypes = types, pageSize = 20, maxHitsPerQuery = 30,
      gpcrmdCount = 5)
    val root = SparkTestSession.scratchDir("dl-rows")
    val gl = CrawlLoop.run(spark, CrawlConfig(small, budget + ("gpcrmd" -> 5),
      maxRounds = 3, root, salts = 4, bloomShards = 8,
      bloomExpectedPerShard = 1 << 12))
    DownloadStage.run(spark, gl, small, types, withZipFiles = true)
    ExportStage.run(spark, gl)
    val hist = gl.history
    // the bootstrap, two chained pipelined rounds, the post-pass, the
    // download and the export are all on the checked chain
    assert(Seq("bootstrap", "round 1", "round 2", "post-pass", "download",
      "export").forall(n => hist.exists(_.note == n)), hist.map(_.note))
    assert(hist.last.tables.contains("head_sizes"))
    assert(hist.last.tables("crawl_log").rows > 0)
    for (m <- hist; (t, st) <- m.tables)
      assert(st.rows ===
        gl.read(spark, t, Some(m.snapshotId)).fold(0L)(_.count()),
        s"snap-${m.snapshotId} (${m.note}) $t")
  }

  test("parsed mdp/gro parameter tables decode the downloaded bodies") {
    DownloadStage.run(spark, g, repo, types, withZipFiles = true)
    val mdp = g.read(spark, "mdp_params").get.collect()
    val gro = g.read(spark, "gro_params").get.collect()
    assert(mdp.nonEmpty && gro.nonEmpty)

    // spot-check every mdp row against a direct parse of the same body
    mdp.foreach { r =>
      val url = r.getAs[String]("file_url")
      val body = SyntheticRepo.fileContent(repo, url)
      val dtExpected = "(?i)dt\\s*=\\s*([^\\s\\n]+)".r
        .findAllMatchIn(body).toSeq.last.group(1).toDouble
      assert(r.getAs[Double]("dt") === dtExpected, url)
      assert(r.getAs[Long]("nsteps") ===
        "(?i)nsteps\\s*=\\s*([^\\s\\n]+)".r
          .findAllMatchIn(body).toSeq.last.group(1).toLong, url)
      assert(r.getAs[String]("thermostat") !== null)
    }
    // last-match-wins: bodies with the duplicated dt line parse to 0.009
    assert(mdp.exists(_.getAs[Double]("dt") == 0.009))

    gro.foreach { r =>
      val url = r.getAs[String]("file_url")
      val body = SyntheticRepo.fileContent(repo, url)
      val lines = body.split("\n")
      assert(r.getAs[Int]("atom_number") === lines(1).trim.toInt, url)
      val resnames = lines.drop(2).map(l => l.slice(5, 10).trim).toSet
      assert(r.getAs[Boolean]("has_lipid") ===
        resnames.exists(Seq("DPPC", "POPC", "DOPC").contains), url)
    }
    // zip members made it into the parse tables (extraction worked)
    assert(mdp.exists(_.getAs[String]("file_url").startsWith("zip://")) ||
      gro.exists(_.getAs[String]("file_url").startsWith("zip://")))
  }

  test("an .mdp without a key, or a one-line .gro, parses to NULL under ANSI") {
    import org.apache.spark.sql.functions.col
    import graft.operators.FileParsers
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val mdp = Seq(
      "integrator = md\ndt = 0.002\ntcoupl = V-rescale", // no pcoupl line
      "integrator = sd\nnsteps = 10\nPcoupl = C-rescale", // no dt line
    ).toDF("content")
      .select(FileParsers.mdpParamColumns(col("content")): _*).collect()
    assert(mdp(0).getAs[Double]("dt") === 0.002)
    assert(mdp(0).getAs[String]("thermostat") === "V-rescale")
    assert(mdp(0).getAs[String]("barostat") === "unknown")
    assert(mdp(1).isNullAt(mdp(1).fieldIndex("dt")))
    assert(mdp(1).getAs[Long]("nsteps") === 10L)
    assert(mdp(1).getAs[String]("barostat") === "C-rescale")
    val gro = Seq("doc 1 molecule").toDF("content")
      .select(FileParsers.groParamColumns(col("content")): _*).collect()(0)
    assert(gro.isNullAt(gro.fieldIndex("atom_number")))
    assert(!gro.getAs[Boolean]("has_protein") && !gro.getAs[Boolean]("has_lipid"))
  }

  test("download metrics and the cached bodies are pinned") {
    // a fresh crawl: a direct-files run, then a run that adds the zip
    // archives and their members (the retry envelope fires in both)
    val root = SparkTestSession.scratchDir("dl-pins")
    val gl = CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = 8,
      root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    val direct = DownloadStage.run(spark, gl, repo, types, withZipFiles = false)
    val zips = DownloadStage.run(spark, gl, repo, types, withZipFiles = true)
    val cache = Fingerprint.of(gl.read(spark, "download_cache").get)
    assert(direct === Map("dl_targets" -> 247L, "dl_downloaded" -> 247L,
      "dl_cache_hits" -> 0L, "dl_extracted" -> 0L, "dl_attempts" -> 257L))
    assert(zips === Map("dl_targets" -> 301L, "dl_downloaded" -> 54L,
      "dl_cache_hits" -> 247L, "dl_extracted" -> 566L, "dl_attempts" -> 56L))
    assert(cache === ((867L, 2576105697925666195L)))
  }

  test("with no cache the fetch plan has one exchange, keyed on file_url") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val root = SparkTestSession.scratchDir("dl-plan")
    val gl = CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = 3,
      root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    val marker = "dl_plan_marker"
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) markerSeen.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      DownloadStage.run(spark, gl, repo, types, withZipFiles = true)
      spark.range(1).toDF(marker).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "query listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)

    // every node, through adaptive stages and the persisted fetch
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case o => o.children.flatMap(nodes)
    })
    val fetches = plans.asScala.toSeq.flatMap(nodes)
      .collect { case m: MapPartitionsExec => m }
    assert(fetches.nonEmpty, "the listener saw no fetch")
    // the selection's own archive distinct shuffles on (dataset, archive)
    fetches.foreach { f =>
      val byUrl = nodes(f).collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        .collect { case HashPartitioning(ks, _)
          if ks.exists(_.references.exists(_.name == "file_url")) => ks }
      assert(byUrl.size === 1, f.treeString)
      assert(byUrl.head.collect { case a: Attribute => a.name } === Seq("file_url"))
    }
  }
}
