package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.operators.AnalyzeOps

/** Capstone: the full mdws user journey composed end-to-end on the engine —
  * crawl all six sources → exclusion/false-positive post-pass → download +
  * zip extraction → .gro/.mdp parameter parsing → analysis rollups — with
  * the final analysis numbers recomputed independently from the sequential
  * oracle + the deterministic file bodies. A reference user switching to
  * this library runs exactly this chain (run_all.sh:1-56 → analyze.py).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val repo = RepoConfig(seed = 99L, universe = 200,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 80,
    cursorPages = 3, gpcrmdCount = 15, mddbCount = 20, atlasCount = 10)
  private val budget = Map("zenodo" -> 40, "figshare" -> 25, "osf" -> 25,
    "nomad" -> 5, "gpcrmd" -> 15, "mddb" -> 12, "atlas" -> 12)

  test("crawl → clean → download → parse → analyze, checked against the oracle") {
    val root = SparkTestSession.scratchDir("pipeline")
    val g = CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = 7,
      root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    DownloadStage.run(spark, g, repo, Seq("gro", "mdp"), withZipFiles = true)
    ExportStage.run(spark, g)
    val oracle = ReferenceCrawl.run(repo, budget, maxRounds = 7)

    // --- every parsed parameter row traces back to a downloaded body -----
    val cacheUrls = g.read(spark, "download_cache").get
      .select("file_url").collect().map(_.getString(0)).toSet
    val mdp = g.read(spark, "mdp_params").get.collect()
    val gro = g.read(spark, "gro_params").get.collect()
    assert(mdp.nonEmpty && gro.nonEmpty)
    (mdp ++ gro).foreach(r =>
      assert(cacheUrls.contains(r.getAs[String]("file_url"))))

    // --- engine classification over the CLEANED files table matches a
    // pure recomputation from the oracle's cleaned rows -------------------
    val engineCounts = g.read(spark, "files_clean").get
      .groupBy(AnalyzeOps.extEngine(col("file_type")).as("engine")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedCounts = oracle.filesClean
      .groupBy { f =>
        val e = f.file_type.toLowerCase
        if (AnalyzeOps.gromacsExts.contains(e)) "gromacs"
        else if (AnalyzeOps.namdExts.contains(e)) "namd"
        else if (AnalyzeOps.amberExts.contains(e)) "amber"
        else "other"
      }.view.mapValues(_.size.toLong).toMap
    assert(engineCounts === expectedCounts)

    // --- thermostat distribution from the parsed mdp table matches a
    // direct parse of the same deterministic bodies -----------------------
    val engineTherm = mdp
      .groupBy(_.getAs[String]("thermostat"))
      .view.mapValues(_.size).toMap
    val tcRe = "(?i)tcoupl\\s*=\\s*([^\\s\\n]+)".r
    val norm = Map("no" -> "no", "berendsen" -> "Berendsen",
      "nosehoover" -> "Nose-Hoover", "andersen" -> "Andersen",
      "vrescale" -> "V-rescale")
    val expectedTherm = mdp.map { r =>
      val body = SyntheticRepo.fileContent(repo, r.getAs[String]("file_url"))
      val raw = tcRe.findAllMatchIn(body).toSeq.last.group(1)
      norm.getOrElse(raw.toLowerCase.replace("-", "").replace("_", ""),
        "unknown")
    }.groupBy(identity).view.mapValues(_.size).toMap
    assert(engineTherm === expectedTherm)
    assert(engineTherm.keySet.size >= 3) // distribution is non-degenerate

    // --- consolidated export: per-origin stats rollup + grand total
    // (export_to_parquet.py:11-34) recomputed from the oracle's cleaned
    // files -----------------------------------------------------------------
    val stats = g.read(spark, "export_stats").get.collect()
      .map(r => r.getAs[String]("dataset_origin") -> (
        r.getAs[Long]("datasets"), r.getAs[Long]("files_from_datasets"),
        r.getAs[Double]("total_size_in_GB"), r.getAs[Long]("zip_files"),
        r.getAs[Long]("files_from_zip_files"), r.getAs[Long]("total_files")))
      .toMap
    // the export dedups to one row per entity (first occurrence in
    // discovery order) — the crawl tables carry one row per page
    // occurrence; replay that dedup on the oracle's vectors
    def firstWins[A, K](xs: Vector[A])(key: A => K): Vector[A] =
      xs.foldLeft(Vector.empty[A] -> Set.empty[K]) {
        case ((acc, seen), x) =>
          if (seen(key(x))) (acc, seen) else (acc :+ x, seen + key(x))
      }._1
    val filesDedup = firstWins(oracle.filesClean)(f =>
      (f.dataset_repository_name, f.dataset_id_in_repository,
        f.file_url_in_repository))
    val byOrigin = filesDedup.groupBy(_.dataset_repository_name)
    byOrigin.foreach { case (origin, fs) =>
      val fromZip = fs.count(_.containing_archive_file_name.isDefined)
      val expected = (
        fs.map(_.dataset_id_in_repository).distinct.size.toLong,
        (fs.size - fromZip).toLong,
        fs.filter(_.containing_archive_file_name.isEmpty)
          .flatMap(_.file_size_in_bytes).map(_ / 1e9).sum,
        fs.count(_.file_type == "zip").toLong,
        fromZip.toLong,
        fs.size.toLong)
      val got = stats(origin)
      assert(got._1 === expected._1 && got._2 === expected._2 &&
        got._4 === expected._4 && got._5 === expected._5 &&
        got._6 === expected._6, s"stats mismatch for $origin")
      assert(math.abs(got._3 - expected._3) < 1e-9, s"size GB for $origin")
    }
    // grand-total row = column sums of the per-origin rows (dataset_agg
    // .loc["total"], export_to_parquet.py:33)
    val perOrigin = stats - "total"
    assert(stats("total")._1 === perOrigin.values.map(_._1).sum)
    assert(stats("total")._6 === perOrigin.values.map(_._6).sum)
    assert(stats.keySet.contains("total") && perOrigin.nonEmpty)

    // --- timeline (prepare_timeline_df, analyze.py:58-94): per-year
    // dataset/file counts + first-occurrence author dedup, recomputed from
    // the oracle's cleaned datasets in discovery order --------------------
    val tl = g.read(spark, "export_timeline").get.collect()
      .map(r => (r.getAs[String]("type"), r.getAs[Int]("year")) ->
        r.getAs[Long]("value")).toMap
    def yearOf(d: graft.model.DatasetRecord): Int =
      d.date_created.get.take(4).toInt
    val dsClean = firstWins(oracle.datasetsClean)(d =>
      (d.dataset_repository_name, d.dataset_id_in_repository))
    val expDatasets = dsClean.groupBy(yearOf).view.mapValues(_.size.toLong)
    expDatasets.foreach { case (y, n) => assert(tl(("datasets", y)) === n) }
    val expFiles = dsClean.groupBy(yearOf).view
      .mapValues(_.flatMap(_.number_of_files).sum)
    expFiles.foreach { case (y, n) => assert(tl(("files", y)) === n) }
    val expAuthors = dsClean  // keep FIRST occurrence per author string
      .map(d => d.author_names.mkString(";") -> yearOf(d))
      .foldLeft(Vector.empty[(String, Int)] -> Set.empty[String]) {
        case ((acc, seen), (a, y)) =>
          if (seen(a)) (acc, seen) else (acc :+ (a -> y), seen + a)
      }._1.groupBy(_._2).view.mapValues(_.size.toLong)
    expAuthors.foreach { case (y, n) => assert(tl(("authors", y)) === n) }
    assert(tl.keys.count(_._1 == "authors") === expAuthors.size)

    // legacy TSVs written per origin with the documented column set
    val tsv = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$root/legacy_tsv/files")
    assert(tsv.columns.toSet === Set("dataset_origin", "dataset_id",
      "file_type", "file_size", "file_md5", "from_zip_file", "file_name",
      "file_url", "origin_zip_file"))
    assert(tsv.count() === filesDedup.size)
  }
}
