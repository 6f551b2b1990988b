package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.model._

/** Parity of the distributed crawl engine against the sequential oracle
  * ([[ReferenceCrawl]]): crawl-order log, exact URL-seen set, per-row
  * span-sequence equality (kind, text, media_ref, order), validated
  * records, per-round metrics — plus resume-from-snapshot equality.
  * These are the north-rule invariants (BASELINE.json).
  */
class CrawlParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val repo = RepoConfig(seed = 42L, universe = 400,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 100,
    cursorPages = 6, gpcrmdCount = 30, mddbCount = 35, atlasCount = 25)
  private val budget = Map("zenodo" -> 40, "figshare" -> 25, "osf" -> 30,
    "nomad" -> 5, "gpcrmd" -> 20, "mddb" -> 15, "atlas" -> 18)
  private val maxRounds = 12

  private def cfg(root: String) = CrawlConfig(repo, budget, maxRounds, root,
    salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12,
    compactEvery = 5) // exercises in-loop state compaction + resume across it

  private lazy val oracle = ReferenceCrawl.run(repo, budget, maxRounds)

  private lazy val engineRoot = {
    val root = SparkTestSession.scratchDir("crawl-parity")
    CrawlLoop.run(spark, cfg(root))
    root
  }

  private def g = new graft.tables.Glacier(engineRoot)

  test("oracle crawl is non-trivial (exercises dedup, robots, subcrawls, 404s)") {
    assert(oracle.log.size > 300)
    assert(oracle.log.exists(_.status === 404))
    assert(oracle.metrics.exists(_("seen_hits") > 0))
    assert(oracle.metrics.exists(_("dup_in_round") > 0))
    assert(oracle.metrics.exists(_("robots_excluded") > 0))
    assert(oracle.docs.keys.exists(_.startsWith("zenodo://preview/")))
    assert(oracle.docs.keys.exists(_.startsWith("figshare://article/")))
    assert(oracle.docs.keys.exists(_.startsWith("osf://node/")))
    assert(oracle.files.exists(_.containing_archive_file_name.isDefined))
    // retry envelope: 202-on-attempt-1 URLs succeed on attempt 2; dead URLs
    // are retried to the bound then given up (toolbox.py:29-117)
    assert(oracle.log.exists(e => e.attempts === 2 && e.status === 200))
    assert(oracle.log.filter(_.status === 404)
      .forall(_.attempts === repo.maxAttempts))
    // the cursor chain advanced one page per round
    val cursorRounds = oracle.log
      .filter(_.url.startsWith("nomad://cursor/")).map(_.round)
    assert(cursorRounds === (1 to repo.cursorPages).toVector)
    // nomad records carry validated nested simulation metadata; some
    // payloads quarantine (non-positive timestep)
    assert(oracle.datasets.exists(d => d.simulation.exists(s =>
      s.simulation_temperatures_in_kelvin.nonEmpty &&
        s.molecules.exists(_.external_identifiers.exists(_.url.isDefined)))))
    // gpcrmd files surface sizeless (HEAD probe pending) and the post-pass
    // fills sizes for files whose probe was fetched
    assert(oracle.files.exists(f =>
      f.dataset_repository_name == "gpcrmd" && f.file_size_in_bytes.isEmpty))
    assert(oracle.filesClean.exists(f =>
      f.dataset_repository_name == "gpcrmd" && f.file_size_in_bytes.isDefined))
    // MDDB/MDposit source: offset pages fetched, per-replica filenotes
    // drained, replica-prefixed file names, 6-case molecule assembly
    assert(oracle.docs.keys.exists(_.startsWith("mddb://projects/")))
    assert(oracle.docs.keys.exists(_.startsWith("mddb://filenotes/")))
    assert(oracle.files.exists(f => f.dataset_repository_name == "mddb" &&
      f.file_name.startsWith("replica_")))
    val mddbSims = oracle.datasets
      .filter(_.dataset_repository_name == "mddb").flatMap(_.simulation)
    assert(mddbSims.nonEmpty)
    assert(mddbSims.exists(_.molecules.exists(m =>
      m.molecule_type.contains("PROTEIN") && m.sequence.isDefined &&
        m.external_identifiers.exists(e => e.database_name == "UNIPROT" &&
          e.url.exists(_.contains("uniprot.org"))))))
    assert(mddbSims.exists(_.molecules.exists(_.name == "Unknown protein")))
    assert(mddbSims.exists(_.molecules.exists(m =>
      m.molecule_type.contains("SOLVENT") &&
        m.number_of_molecules.exists(_ > 0))))
    assert(mddbSims.exists(_.molecules.exists(_.inchikey.isDefined)))
    // OSF two-round closure: depth-3 node pages are fetched but never
    // expand further (scrape_osf.py:493-494) — and the page-abort quirk
    // (F4) truncates some search page's hit list (nLinks below the spans'
    // raw node-link count for at least one search page)
    assert(oracle.metrics.exists(m => m.getOrElse("depth_gated", 0L) > 0))
    assert(oracle.log.filter(_.url.startsWith("osf://node/"))
      .forall(_.depth <= 3))
    val truncated = oracle.docs.exists { case (id, spans) =>
      id.startsWith("osf://search/") &&
        PageParser.parseableSpans(Doc(id, spans)).size < spans.size
    }
    assert(truncated)
  }

  test("ATLAS source: regex index scan, per-chain pages, regex-extracted sizes") {
    // every chain on the index was discovered by the chain-id regex and
    // BOTH its pages enqueued (metadata API + dataset HTML); pages the
    // synthetic web kills (deterministic 404, ~1/97) are retried to the
    // bound and given up, like any other source
    val chains = (0 until repo.atlasCount)
      .map(n => SyntheticRepo.atlasChainId(repo, n)).toSet
    assert(chains.forall(c => oracle.seen.contains(s"atlas://meta/$c")))
    assert(chains.forall(c => oracle.seen.contains(s"atlas://chain/$c")))
    def fetched(prefix: String): Set[String] = oracle.log
      .filter(e => e.url.startsWith(prefix) && e.status == 200)
      .map(_.url.stripPrefix(prefix)).toSet
    val metaOk = fetched("atlas://meta/")
    val chainOk = fetched("atlas://chain/")
    assert(metaOk.subsetOf(chains) && metaOk.size >= chains.size - 3)
    assert(oracle.docs.keys.filter(_.startsWith("atlas://meta/"))
      .map(_.stripPrefix("atlas://meta/")).toSet === metaOk)
    // duplicate anchors for the same chain (analysis.html) dedup to ONE
    // dataset record per fetched chain, id = the chain id
    val atlasDs = oracle.datasets.filter(_.dataset_repository_name == "atlas")
    assert(atlasDs.map(_.dataset_id_in_repository).toSet === metaOk)
    assert(atlasDs.size === metaOk.size)
    assert(atlasDs.forall(_.license.contains("CC-BY-4.0")))
    // file rows carry REGEX-extracted human-readable sizes parsed to bytes;
    // decoy anchors (no Download(...) text / non-zip / wrong path) excluded
    val atlasFiles = oracle.files.filter(_.dataset_repository_name == "atlas")
    assert(atlasFiles.nonEmpty)
    assert(atlasFiles.forall(f => f.file_name.endsWith(".zip") &&
      f.file_size_in_bytes.isDefined))
    assert(!atlasFiles.exists(f => f.file_name == "raw.zip" ||
      f.file_name == "readme.txt" || f.file_name == "bundle.zip"))
    // sizes match the synthetic ground truth — including comma-decimal
    // link texts ("1,2 GB") normalized before the ByteSize parse
    val expected = chains.toSeq.flatMap(c =>
      SyntheticRepo.atlasFileEntries(repo, c).map(f => f.url -> f.sizeBytes))
      .toMap
    atlasFiles.foreach(f => assert(
      f.file_size_in_bytes.contains(expected(f.file_url_in_repository)),
      s"size mismatch for ${f.file_url_in_repository}"))
    val commaSized = chainOk.toSeq.flatMap(c =>
      SyntheticRepo.atlasFileEntries(repo, c)).filter(_.sizeText.contains(","))
    assert(commaSized.nonEmpty, "config must exercise comma decimal sizes")
  }

  test("crawl-order log matches the oracle exactly") {
    val engineLog = g.read(spark, "crawl_log").get
      .orderBy("round", "seqInRound")
      .collect()
      .map(r => LogEntry(r.getAs[Int]("round"), r.getAs[Int]("seqInRound"),
        r.getAs[String]("url"), r.getAs[String]("host"),
        r.getAs[Int]("depth"), r.getAs[Int]("status"), r.getAs[Int]("nLinks"),
        r.getAs[Int]("attempts"), r.getAs[Double]("sched_sec")))
      .toVector
    assert(engineLog.size === oracle.log.size)
    engineLog.zip(oracle.log).zipWithIndex.foreach { case ((e, o), i) =>
      assert(e === o, s"log mismatch at position $i")
    }
  }

  test("recorded politeness schedule respects rate and hourly caps") {
    import graft.crawl.Politeness
    val rows = g.read(spark, "crawl_log").get
      .select("host", "sched_sec").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (host, hs) =>
      val policy = Politeness.policyOf(host)
      val times = hs.map(_._2).sorted
      // consecutive fetches of one host are spaced at least 60/rate apart
      times.sliding(2).foreach {
        case Array(a, b) =>
          assert(b - a >= 60.0 / policy.ratePerMinute - 1e-9,
            s"$host fetches $a and $b violate the ${policy.ratePerMinute}/min rate")
        case _ =>
      }
      // no simulated hour holds more fetches than the host's hourly cap
      policy.hourlyCap.foreach { cap =>
        times.foreach { t0 =>
          assert(times.count(t => t >= t0 && t < t0 + 3600.0) <= cap,
            s"$host exceeds $cap fetches in the hour starting at $t0")
        }
      }
    }
  }

  test("URL-seen set matches exactly") {
    val engineSeen = g.read(spark, "seen").get
      .select("url").collect().map(_.getString(0)).toSet
    assert(engineSeen === oracle.seen)
  }

  test("span sequences match per document (kind, text, media_ref, order)") {
    val engineDocs = g.read(spark, "docs").get
    assert(engineDocs.select("doc_id").distinct().count().toInt === oracle.docs.size)
    val collected = engineDocs
      .select(col("doc_id"), col("spans"))
      .collect()
      .map { r =>
        val spans = r.getSeq[org.apache.spark.sql.Row](1).map { s =>
          Span(s.getString(0), s.getString(1), s.getString(2), s.getInt(3))
        }
        r.getString(0) -> spans
      }.toMap
    assert(collected.keySet === oracle.docs.keySet)
    // full sequence equality on a deterministic sample + global count
    oracle.docs.foreach { case (id, spans) =>
      assert(collected(id) === spans, s"span mismatch for $id")
    }
  }

  test("validated dataset / file records match (as multisets + order key)") {
    import spark.implicits._
    val eng = g.read(spark, "datasets").get
      .orderBy("round", "seqInRound", "ordinal")
      .drop("round", "seqInRound", "ordinal")
      .as[DatasetRecord].collect().toVector
    assert(eng === oracle.datasets)

    val engF = g.read(spark, "files").get
      .orderBy("round", "seqInRound", "ordinal")
      .drop("round", "seqInRound", "ordinal")
      .as[FileRecord].collect().toVector
    assert(engF === oracle.files)
  }

  test("per-round metrics match the oracle") {
    val hist = g.history.filter(_.note.startsWith("round"))
    val engineMetrics = hist.map(_.metrics)
    assert(engineMetrics.size === oracle.metrics.size)
    engineMetrics.zip(oracle.metrics).foreach { case (e, o) =>
      o.foreach { case (k, v) =>
        if (k != "frontier_pending") // engine tracks it via rowCount instead
          assert(e.getOrElse(k, -1L) === v, s"metric $k @ round ${o("round")}")
      }
    }
  }

  test("sketch fill metrics: saturation surfaces, right-sized run is clean") {
    // the engine run is sized generously (2^12/shard): every round must
    // report fill, none may be saturated
    val rounds = g.history.filter(_.note.startsWith("round"))
    assert(rounds.nonEmpty)
    assert(rounds.forall(_.metrics.contains("sketch_fill_max_pct")))
    assert(rounds.forall(_.metrics("sketch_saturated_shards") === 0L))
    assert(roundFills(engineRoot).head === (2L, 0L))

    // a deliberately mis-sized run (4 urls/shard) must cross 100% fill and
    // count saturated shards — the silent-FPP-degradation watch. A fresh
    // crawl's baseline is the bootstrap sketch state, a resumed one's the
    // state table it resumes on; both give the same (max fill %, saturated
    // shards) per round. The values were recorded while the bootstrap
    // baseline still came from a read-back of the state table.
    def satRun(root: String, rounds: Int): Unit =
      CrawlLoop.run(spark, CrawlConfig(repo, budget, maxRounds = rounds, root,
        salts = 4, bloomShards = 8, bloomExpectedPerShard = 4))
    val expected = Seq((2050L, 8L), (2425L, 8L), (2825L, 8L))
    val root = SparkTestSession.scratchDir("crawl-sat")
    satRun(root, 3)
    assert(roundFills(root) === expected)
    val resumed = SparkTestSession.scratchDir("crawl-sat-resume")
    satRun(resumed, 1)
    satRun(resumed, 3)
    assert(roundFills(resumed) === expected)
  }

  /** (sketch_fill_max_pct, sketch_saturated_shards) of each round. */
  private def roundFills(root: String): Seq[(Long, Long)] =
    new graft.tables.Glacier(root).history.filter(_.note.startsWith("round"))
      .map(m => (m.metrics("sketch_fill_max_pct"),
        m.metrics("sketch_saturated_shards")))

  test("post-pass: exclusion filter + false-positive removal match the oracle") {
    import spark.implicits._
    // oracle side is non-trivial: patterns hit, false positives found
    assert(oracle.exclusionCounts.nonEmpty)
    assert(oracle.falsePositiveIds.nonEmpty)
    assert(oracle.datasetsClean.size < oracle.datasets.size)
    assert(oracle.filesClean.size < oracle.files.size)

    val eng = g.read(spark, "datasets_clean").get
      .orderBy("round", "seqInRound", "ordinal")
      .drop("round", "seqInRound", "ordinal")
      .as[DatasetRecord].collect().toVector
    assert(eng === oracle.datasetsClean)

    val engF = g.read(spark, "files_clean").get
      .orderBy("round", "seqInRound", "ordinal")
      .drop("round", "seqInRound", "ordinal")
      .as[FileRecord].collect().toVector
    assert(engF === oracle.filesClean)

    val meta = g.history.find(_.note == "post-pass").get.metrics
    oracle.exclusionCounts.foreach { case (k, v) =>
      assert(meta.getOrElse(s"excl:$k", -1L) === v, s"exclusion count $k")
    }
    assert(meta("files_excluded") === oracle.exclusionCounts.values.sum)
  }

  test("incremental round report rides the zone maps: prunes parts, stays exact") {
    val log = g.read(spark, "crawl_log").get
    val lastRound = log.agg(max("round")).head.getInt(0)
    assert(lastRound >= 3, "fixture must have enough rounds to prune")
    val tail = ExportStage.roundReport(spark, g, lastRound, lastRound).get
    // pruned read opens strictly fewer part files than the full log scan
    assert(tail.inputFiles.length < log.inputFiles.length,
      s"zone maps pruned nothing: ${tail.inputFiles.length} of ${log.inputFiles.length}")
    // and the result equals the same aggregation over the FULL scan
    val full = log.filter(col("round") === lastRound)
      .groupBy(col("round"), col("host"))
      .agg(count(lit(1)).as("fetches"),
        count_if(col("status") === 200).as("ok"),
        count_if(col("status") =!= 200).as("failed"),
        sum(col("nLinks")).cast("long").as("links"),
        sum(col("attempts")).cast("long").as("attempts"))
    val key: org.apache.spark.sql.Row => String = _.toString
    assert(tail.collect().map(key).sorted.toVector ===
      full.collect().map(key).sorted.toVector)
    // out-of-range request: every part pruned
    assert(ExportStage.roundReport(spark, g, lastRound + 50, lastRound + 60)
      .forall(_.collect().isEmpty))
  }

  test("a ≥20-deep NOMAD cursor chain is followed strictly sequentially") {
    // dedicated tiny config: the chain dominates the crawl's length
    val chainRepo = RepoConfig(seed = 9L, universe = 60,
      fileTypes = Seq("gro"), pageSize = 30, maxHitsPerQuery = 60,
      cursorPages = 22)
    val chainBudget = Map("zenodo" -> 6, "figshare" -> 6, "osf" -> 6,
      "nomad" -> 3)
    val rounds = 26
    val chainOracle = ReferenceCrawl.run(chainRepo, chainBudget, rounds)
    // one cursor page per round, in order — the dependent chain cannot be
    // parallelized or reordered
    val cursorLog = chainOracle.log.filter(_.url.startsWith("nomad://cursor/"))
    assert(cursorLog.map(_.round) === (1 to 22).toVector)
    assert(cursorLog.map(_.url) ===
      (1 to 22).map(k => SyntheticRepo.cursorUrl(chainRepo, k)).toVector)

    val root = SparkTestSession.scratchDir("crawl-chain")
    CrawlLoop.run(spark,
      CrawlConfig(chainRepo, chainBudget, rounds, root,
        salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
    val engineLog = new graft.tables.Glacier(root).read(spark, "crawl_log").get
      .orderBy("round", "seqInRound")
      .collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Int]("seqInRound"),
        r.getAs[String]("url"), r.getAs[Int]("status"),
        r.getAs[Int]("attempts")))
      .toVector
    assert(engineLog === chainOracle.log.map(e =>
      (e.round, e.seqInRound, e.url, e.status, e.attempts)))
  }

  test("resume from a mid-crawl snapshot reproduces the identical final state") {
    // run 3 rounds, "crash", then resume to completion
    val root2 = SparkTestSession.scratchDir("crawl-resume")
    val c = cfg(root2).copy(maxRounds = 3)
    CrawlLoop.run(spark, c)
    val g2 = new graft.tables.Glacier(root2)
    val midRounds = g2.currentManifest.get.metrics("round")
    assert(midRounds === 3L)
    // resume with the full budget of rounds
    CrawlLoop.run(spark, cfg(root2))

    val logA = g.read(spark, "crawl_log").get
      .orderBy("round", "seqInRound")
      .select("round", "seqInRound", "url", "status")
      .collect().map(_.toString).toVector
    val logB = new graft.tables.Glacier(root2).read(spark, "crawl_log").get
      .orderBy("round", "seqInRound")
      .select("round", "seqInRound", "url", "status")
      .collect().map(_.toString).toVector
    assert(logA === logB)

    val seenB = new graft.tables.Glacier(root2).read(spark, "seen").get
      .select("url").collect().map(_.getString(0)).toSet
    assert(seenB === oracle.seen)

    // the resumed rounds' sketch fill starts from the state table's
    // baseline: every round reports what the uninterrupted crawl reports
    // (round 4, the first resumed one, recorded as (3, 0))
    val resumedFills = roundFills(root2)
    assert(resumedFills === roundFills(engineRoot))
    assert(resumedFills(3) === (3L, 0L))
  }
}
