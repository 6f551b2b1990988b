package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.tables.Glacier

/** One unit of work of a workload (a crawl, an ETL cycle, a query pass):
  * its wall time, the latencies of the operations inside it that passed
  * their checks, and the failed ones by exception class. */
final case class UnitResult(wallS: Double, ops: Seq[(String, Double)],
                            attempted: Int, failures: Seq[String],
                            items: Long, itemSecs: Double) {
  def opLatS: Seq[Double] = ops.map(_._2)
}

/** Per-layer counters summed over traced units, reported per unit. */
final class LayerSums {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = m(k) = math.max(m.getOrElse(k, v), v)
  def get(k: String): Double = m.getOrElse(k, 0.0)
}

trait Workload {
  def unit(spark: SparkSession, i: Int): UnitResult
  /** Traced-run extras after a traced unit (kernel probes), outside it. */
  def probe(spark: SparkSession, i: Int): Unit = ()
  /** Checks that need work outside the measured phase (a reference
    * computation); failures by class. */
  def finish(spark: SparkSession): Seq[String] = Nil
  def release(i: Int): Unit = ()
}

/** Seeded synthetic micro-crawl (the CrawlQueries shape) followed by the
  * download and export stages and a read-back of every table it produced.
  * Every crawl is checked against [[ReferenceCrawl]] for the same seed
  * (computed once per seed, cached, outside the measured phase).
  */
final class CrawlWorkload(seed: Long, ctx: Ctx) extends Workload {
  import CrawlWorkload._

  private val repo = repoFor(seed)
  private def config(root: String, r: RepoConfig = repo): CrawlConfig =
    CrawlConfig(r, Budget, MaxRounds, root, salts = 4, bloomShards = 8,
      bloomExpectedPerShard = 1L << 12)

  /** What each unit produced; compared with the reference in [[finish]]. */
  private val outcomes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
  private val roots = scala.collection.mutable.Map.empty[Int, String]

  private def withAqeOff[A](spark: SparkSession)(body: => A): A = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  /** Download, export, then read every table back; returns the rows read
    * and the latency of each table read, by table. */
  private def etlStages(spark: SparkSession, g: Glacier,
                        r: RepoConfig): (Long, Seq[(String, Double)]) = {
    ctx.tracer.span("crawl.download") {
      DownloadStage.run(spark, g, r, Seq("gro", "mdp"), withZipFiles = true)
    }
    ctx.tracer.span("crawl.export")(ExportStage.run(spark, g))
    ctx.tracer.span("crawl.read") {
      val reads = g.currentManifest.toSeq.flatMap(_.tables.keys).sorted.map { t =>
        val t0 = System.nanoTime()
        val n = g.read(spark, t).map(_.count()).getOrElse(0L)
        (n, t -> (System.nanoTime() - t0) / 1e9)
      }
      (reads.map(_._1).sum, reads.map(_._2))
    }
  }

  def unit(spark: SparkSession, i: Int): UnitResult = {
    val root = ctx.freshDir(s"crawl-$i")
    roots(i) = root
    val t0 = System.nanoTime()
    try {
      val g = ctx.tracer.span("crawl.loop")(withAqeOff(spark)(CrawlLoop.run(spark, config(root))))
      val crawlS = (System.nanoTime() - t0) / 1e9
      val sum = ctx.tracer.span("check")(logChecksum(spark, g))
      val (readRows, readLat) = etlStages(spark, g, repo)
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = g.rowCount("crawl_log")
      val tables = g.currentManifest.map(_.tables.keySet).getOrElse(Set.empty)
      outcomes += Outcome(rows, sum, g.rowCount("seen"),
        g.rowCount("datasets_clean"), g.rowCount("files_clean"),
        EtlTables.filter(t => g.rowCount(t) == 0 || !tables.contains(t)),
        readRows, tables.toSeq.map(g.rowCount(_)).sum)
      if (ctx.tracer.enabled) layerCounts(g, root)
      UnitResult(wall, readLat, 1, Nil, rows, crawlS)
    } catch {
      case NonFatal(e) =>
        UnitResult((System.nanoTime() - t0) / 1e9, Nil, 1,
          Seq(e.getClass.getName), 0L, 0.0)
    }
  }

  override def release(i: Int): Unit = roots.remove(i).foreach(ctx.deleteTree)

  /** crawl.* counts from the round manifests, tables.* from the root. */
  private def layerCounts(g: Glacier, root: String): Unit = {
    val l = ctx.layers
    val rounds = g.history.filter(_.note.startsWith("round "))
    def s(k: String) = rounds.map(_.metrics.getOrElse(k, 0L)).sum.toDouble
    l.add("crawl.rounds", rounds.size)
    l.add("crawl.fetched", s("fetched"))
    l.add("crawl.attempts", s("attempts"))
    l.add("crawl.enqueued", s("enqueued"))
    l.add("crawl.allowed", s("enqueued") + s("seen_hits") + s("dup_in_round"))
    l.add("crawl.seen_hits", s("seen_hits"))
    l.add("crawl.dup_in_round", s("dup_in_round"))
    l.add("crawl.quarantined", s("datasets_quarantined") + s("files_quarantined"))
    l.max("crawl.sketch_fill_max_pct",
      rounds.map(_.metrics.getOrElse("sketch_fill_max_pct", 0L)).maxOption
        .getOrElse(0L).toDouble)
    l.add("tables.commits", g.history.size)
    l.add("tables.files", ctx.treeFilesBytes(Paths.get(root, "data"))._1)
    l.add("tables.bytes_mb", ctx.treeFilesBytes(Paths.get(root))._2 / 1e6)
    l.add("crawl.log_rows", g.rowCount("crawl_log"))
  }

  /** Kernel probes over the finished crawl's own data (traced run only). */
  override def probe(spark: SparkSession, i: Int): Unit = {
    val root = roots(i)
    val g = new Glacier(root)
    val cfg = config(root)
    val l = ctx.layers
    import spark.implicits._
    val urls = g.read(spark, "crawl_log").get
      .orderBy("round", "seqInRound").select("url").as[String]
      .limit(ProbeUrls).collect().toSeq
    val client = cfg.fetcher
    val pages = ctx.tracer.span("crawl.fetch")(timed(l, "crawl.fetch_s") {
      urls.map(client.fetch)
    })
    ctx.tracer.span("crawl.parse")(timed(l, "crawl.parse_s") {
      pages.filter(_.status == 200).map { p =>
        PageParser.parseDatasets(p.host, p.doc)
          .map(graft.model.Validators.validateDataset).count(_.isRight) +
          PageParser.parseFiles(p.host, p.doc)
            .map(graft.model.Validators.validateFile).count(_.isRight)
      }.sum
    })
    // seen-probe: every logged URL is seen; an equal number of altered
    // URLs is not, and the probe must return exactly those
    val logged = g.read(spark, "crawl_log").get.select("url")
    val unseen = logged.select(concat(col("url"), lit("#unseen")).as("url"))
    val back = ctx.tracer.span("crawl.seen_probe")(timed(l, "crawl.seen_probe_s") {
      SeenSet.filterNewWith(logged.unionByName(unseen), g.read(spark, "bloom").get,
        g.read(spark, "seen").get, cfg.bloomShards, cfg.sketch)
        .select("url").as[String].collect().toSet
    })
    val want = unseen.as[String].collect().toSet
    if (back != want) ctx.probeFailures += "SeenProbeMismatch"
    // drain: the largest frontier any snapshot of this crawl held
    val fid = g.history.filter(_.tables.contains("frontier"))
      .maxBy(m => m.tables("frontier").rows).snapshotId
    val frontier = g.read(spark, "frontier", Some(fid)).get
    ctx.tracer.span("crawl.drain")(timed(l, "crawl.drain_s") {
      val (sel, done) = CrawlLoop.drainSelectManaged(frontier, cfg.hostBudget, cfg.salts)
      try sel.count() finally done()
    })
    // tables: one round-sized append into a scratch root, then a full
    // read of every crawl table
    val rounds = math.max(1, g.history.count(_.note.startsWith("round ")))
    val slice = g.read(spark, "crawl_log").get
      .limit((g.rowCount("crawl_log") / rounds).toInt).cache()
    slice.count()
    val scratch = new Glacier(ctx.freshDir(s"commit-$i"))
    ctx.tracer.span("tables.commit")(timed(l, "tables.commit_s") {
      scratch.commit(spark, Seq(scratch.TableWrite("crawl_log", slice, scratch.Append)))
    })
    slice.unpersist()
    ctx.deleteTree(scratch.root)
    ctx.tracer.span("tables.read")(timed(l, "tables.read_s") {
      g.currentManifest.toSeq.flatMap(_.tables.keys).sorted
        .map(t => g.read(spark, t).map(_.count()).getOrElse(0L)).sum
    })
  }

  private def timed[A](l: LayerSums, key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally l.add(key, (System.nanoTime() - t0) / 1e9)
  }

  override def finish(spark: SparkSession): Seq[String] = {
    if (outcomes.isEmpty) return Nil
    val ref = reference(spark)
    outcomes.toSeq.flatMap { o =>
      Seq(
        Option.when(o.logRows != ref.logRows || o.logChecksum != ref.logChecksum)(
          "CrawlLogMismatch"),
        Option.when(o.seen != ref.seen)("SeenSetMismatch"),
        Option.when(o.datasetsClean != ref.datasetsClean ||
          o.filesClean != ref.filesClean)("PostPassMismatch"),
        Option.when(o.emptyEtlTables.nonEmpty)("EtlTableMissing"),
        Option.when(o.readRows != o.manifestRows)("ReadBackMismatch"),
      ).flatten
    }
  }

  /** Reference outcome for this seed, from the cache or computed now. */
  private def reference(spark: SparkSession): Outcome = {
    // keyed by the crawl's whole configuration, not the seed alone
    val key = scala.util.hashing.MurmurHash3.stringHash(s"$repo $Budget $MaxRounds")
    val file = Paths.get(ctx.refCache, f"small_etl-$seed-$key%08x.txt")
    def parse(s: String): Outcome = {
      val f = s.split(",").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      Outcome(f("log_rows").toLong, f("log_checksum"), f("seen").toLong,
        f("datasets_clean").toLong, f("files_clean").toLong, Nil, 0L, 0L)
    }
    if (Files.exists(file)) parse(Files.readString(file).trim)
    else {
      val r = ReferenceCrawl.run(repo, Budget, MaxRounds)
      import spark.implicits._
      val df = r.log.map(e => (e.round, e.seqInRound, e.url, e.status))
        .toDF("round", "seqInRound", "url", "status")
      val o = Outcome(r.log.size.toLong, checksumOf(df), r.seen.size.toLong,
        r.datasetsClean.size.toLong, r.filesClean.size.toLong, Nil, 0L, 0L)
      Files.createDirectories(file.getParent)
      Files.writeString(file, s"log_rows=${o.logRows},log_checksum=${o.logChecksum}," +
        s"seen=${o.seen},datasets_clean=${o.datasetsClean},files_clean=${o.filesClean}\n")
      o
    }
  }

  private def logChecksum(spark: SparkSession, g: Glacier): String =
    checksumOf(g.read(spark, "crawl_log").get)
}

object CrawlWorkload {
  /** The CrawlQueries micro-crawl shape (universe 400, 7 hosts), cut from
    * six rounds to one so that set-up plus one crawl and its ETL fit a run. */
  def repoFor(seed: Long): RepoConfig = RepoConfig(seed = seed, universe = 400,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 100,
    cursorPages = 6, gpcrmdCount = 30, mddbCount = 35, atlasCount = 25)
  val Budget: Map[String, Int] = Map("zenodo" -> 80, "figshare" -> 50,
    "osf" -> 60, "nomad" -> 5, "gpcrmd" -> 40, "mddb" -> 30, "atlas" -> 36)
  val MaxRounds = 1

  /** Tables the download and export stages must leave non-empty. */
  val EtlTables = Seq("download_cache", "export_datasets", "export_files",
    "export_stats", "export_timeline")

  /** Logged URLs the fetch/parse kernel probes replay. */
  val ProbeUrls = 2000

  final case class Outcome(logRows: Long, logChecksum: String, seen: Long,
                           datasetsClean: Long, filesClean: Long,
                           emptyEtlTables: Seq[String], readRows: Long,
                           manifestRows: Long)

  /** Order-insensitive log checksum: the sum of
    * xxhash64(round, seqInRound, url, status), as CrawlBench computes it. */
  def checksumOf(log: DataFrame): String =
    log.select(sum(xxhash64(col("round").cast("int"), col("seqInRound").cast("int"),
      col("url").cast("string"), col("status").cast("int"))
      .cast(DecimalType(38, 0)))).collect()(0).getDecimal(0) match {
      case null => "0"
      case d => d.toBigInteger.toString
    }
}

/** The entries of [[QueryWorkload.Mix]] over the bundled tables, in an
  * order the seed permutes, [[QueryWorkload.Passes]] times per unit. Every
  * run of an entry is checked against the golden row count and
  * order-insensitive checksum.
  */
final class QueryWorkload(seed: Long, ctx: Ctx) extends Workload {
  import QueryWorkload._

  private val entries = Mix
  private val order = new scala.util.Random(seed).shuffle(entries)
  private val golden: Map[String, (Long, String)] = Golden.read(ctx.golden)

  def unit(spark: SparkSession, i: Int): UnitResult = {
    val t0 = System.nanoTime()
    val lat = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    for (pass <- 1 to Passes; e <- order) {
      val suite = SuiteOf.getOrElse(e.name, "Other")
      val s0 = System.nanoTime()
      val got =
        try Right(ctx.tracer.span(s"suite.$suite", Map("entry" -> e.name, "pass" -> pass.toString)) {
          checksum(e.fn(spark, ctx.data))
        })
        catch { case NonFatal(ex) => Left(ex.getClass.getName) }
      val dt = (System.nanoTime() - s0) / 1e9
      if (ctx.tracer.enabled) ctx.layers.add(s"suite.${suite}_s", dt)
      got match {
        case Right(v) if golden.get(e.name).contains(v) =>
          if (pass == Passes) lat += e.name -> dt
        case Right(v) =>
          fails += "GoldenMismatch"
          ctx.mismatches += s"${e.name}: got rows=${v._1} sum=${v._2}, golden=${golden.get(e.name)}"
        case Left(cls) => fails += cls
      }
      // a query may persist intermediates; release them outside its time
      spark.catalog.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val runs = Passes * order.size
    UnitResult(wall, lat.toSeq, runs, fails.toSeq, (runs - fails.size).toLong, wall)
  }
}

object QueryWorkload {
  /** Operator suite of every entry, in SparkEntry.allEntries' order;
    * checked against it below, so a suite added there cannot be missed. */
  val Suites: Seq[(String, Seq[graft.QueryEntry])] = Seq(
    "Relational" -> graft.operators.Relational.entries,
    "ScalarQueries" -> graft.operators.ScalarQueries.entries,
    "DedupOps" -> graft.operators.DedupOps.entries,
    "SimilarityOps" -> graft.operators.SimilarityOps.entries,
    "TextAnalysis" -> graft.operators.TextAnalysis.entries,
    "TemporalJoins" -> graft.operators.TemporalJoins.entries,
    "SpanOps" -> graft.operators.SpanOps.entries,
    "MultimodalOps" -> graft.operators.MultimodalOps.entries,
    "FileParsers" -> graft.operators.FileParsers.entries,
    "SimulationOps" -> graft.operators.SimulationOps.entries,
    "AnalyzeOps" -> graft.operators.AnalyzeOps.entries,
    "GraphOps" -> graft.operators.GraphOps.entries,
    "BucketedOps" -> graft.operators.BucketedOps.entries,
    "NmrLipidsSource" -> graft.sources.NmrLipidsSource.entries,
    "JsonlStore" -> graft.sources.JsonlStore.entries,
    "TopKPerKey" -> graft.plans.TopKPerKey.entries,
    "StreamQueries" -> graft.streaming.StreamQueries.entries,
    "CrawlQueries" -> graft.operators.CrawlQueries.entries,
  )
  /** Passes per unit. The first runs each entry cold, so an entry's time
    * there depends on which entries the seed put before it; operation
    * latencies come from the last pass, where every plan has been compiled
    * once. */
  val Passes = 2

  require(Suites.flatMap(_._2).map(_.name) == graft.SparkEntry.allEntries.map(_.name),
    "QueryWorkload.Suites no longer lists the entries of SparkEntry.allEntries")

  /** Every entry that does not read the micro-crawl. */
  val Candidates: Seq[graft.QueryEntry] =
    Suites.flatMap(_._2).filterNot(_.name.startsWith("q_crawl_"))

  /** A stratified sample of 20 of the 160 candidates, picked by
    * `run.py --profile-entries` from the per-entry times in
    * golden/entry_times.tsv: each suite gets a share in proportion to its
    * entry count, taken at evenly spaced quantiles of its entries' times.
    * Its suite time shares are within 0.11 (total variation) of the full
    * pass's; README, "The query mix", has the comparison. */
  val MixNames: Seq[String] = Seq(
    "q_anti_join", "q_rollup", "q_window_firstlast", "q_timeline",
    "q_interval_coverage", "q_ref_read", // Relational
    "q_fn_normalize", "q_hof_array", // ScalarQueries
    "q_cluster_representatives", "q_ngram_jaccard", // DedupOps
    "q_embedding_neardup", // SimilarityOps
    "q_doc_chunks", "q_token_diversity", "q_decontamination", // TextAnalysis
    "q_sessionize", // TemporalJoins
    "q_span_field_scan", // SpanOps
    "q_atoms_hist", // FileParsers
    "q_ext_size_pivot", // AnalyzeOps
    "q_triangle_count", // GraphOps
    "q_stream_window_counts", // StreamQueries
  )
  val Mix: Seq[graft.QueryEntry] = MixNames.map(n => Candidates.find(_.name == n)
    .getOrElse(sys.error(s"mix entry $n is not a candidate")))

  val SuiteOf: Map[String, String] =
    Suites.flatMap { case (s, es) => es.map(_.name -> s) }.toMap

  /** Row count and the sum of xxhash64 over all columns. Doubles are
    * narrowed to float first, so the last bits of a float sum, which may
    * depend on partitioning, do not change the checksum. */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f =>
      normalize(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) if hasDouble(et) => transform(c, x => normalize(x, et))
    case st: StructType if hasDouble(st) =>
      struct(st.fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def hasDouble(t: DataType): Boolean = t match {
    case DoubleType => true
    case ArrayType(et, _) => hasDouble(et)
    case st: StructType => st.fields.exists(f => hasDouble(f.dataType))
    case _ => false
  }
}

/** The golden file: one `name<TAB>rows<TAB>checksum` line per entry. */
object Golden {
  def read(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}
