package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryEntry
import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig

/** End-to-end crawl-engine queries on the driver surface. The crawl loop
  * itself is not SQL-expressible, so its artifact entries carry no oracle
  * (driver records the rows-only check; the real gate is CrawlParitySpec's
  * sequential-oracle equality) — except `q_robots_gate`, whose pure
  * regex+mod rule IS mirrorable and gets a hashed CORRECTNESS row. Running
  * the rest through Verify proves the whole engine drives end-to-end in
  * the driver's harness and dumps inspectable artifacts.
  */
object CrawlQueries {

  private val repo = RepoConfig(seed = 42L, universe = 400,
    fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 100,
    cursorPages = 6, gpcrmdCount = 30, mddbCount = 35, atlasCount = 25)
  // 2× the parity suite's per-round budgets / half the rounds: same
  // crawl surface in the artifacts, half the per-round fixed cost in the
  // driver bench (the cursor chain needs exactly its 6 rounds either way)
  private val budget = Map("zenodo" -> 80, "figshare" -> 50, "osf" -> 60,
    "nomad" -> 5, "gpcrmd" -> 40, "mddb" -> 30, "atlas" -> 36)

  /** One micro-crawl per session (sfDir-independent), memoized. */
  @volatile private var cached: Option[(SparkSession, graft.tables.Glacier)] = None
  private def glacier(s: SparkSession): graft.tables.Glacier = synchronized {
    cached match {
      case Some((sess, g)) if sess eq s => g
      case _ =>
        val root = graft.BenchDirs.deleteOnExit(
          Files.createTempDirectory("crawl-q").toString)
        val g = CrawlLoop.run(s, CrawlConfig(repo, budget, maxRounds = 6,
          root, salts = 4, bloomShards = 8, bloomExpectedPerShard = 1 << 12))
        cached = Some((s, g))
        g
    }
  }

  def entries: Seq[QueryEntry] = Seq(
    // ---- robots gate, oracle-checked ---------------------------------------
    // the ONE crawl-core rule that IS SQL-expressible (pure regex + mod),
    // so the north rule's robots gating gets a hashed CORRECTNESS row in
    // addition to its parity coverage: the rule the crawl loop's link
    // gate and the reference crawl run ([[graft.crawl.Robots.allowed]],
    // as a kernel), mirrored in DuckDB regexp_extract over a
    // deterministic URL mix
    QueryEntry(
      "q_robots_gate",
      (s, dir) => {
        val urls = graft.Tables.t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("osf://node/"), col("doc_id")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("zenodo://preview/"), col("doc_id"),
                lit("/archive_"), col("doc_id"), lit(".zip")))
            .otherwise(concat(lit("figshare://article/"), col("doc_id")))
            .as("url"))
        urls.select(col("doc_id"), col("url"),
            Robots.allowedCol(col("url")).as("allowed"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'osf://node/' || doc_id
                 WHEN doc_id % 3 = 1 THEN 'zenodo://preview/' || doc_id
                      || '/archive_' || doc_id || '.zip'
                 ELSE 'figshare://article/' || doc_id END AS url
          FROM documents)
        SELECT doc_id, url,
          CASE WHEN regexp_extract(url, '^osf://node/(\d+)$', 1) <> ''
               THEN CAST(regexp_extract(url, '^osf://node/(\d+)$', 1)
                    AS BIGINT) % 13 <> 0
               WHEN regexp_extract(url,
                    '^zenodo://preview/\d+/archive_(\d+)\.zip$', 1) <> ''
               THEN CAST(regexp_extract(url,
                    '^zenodo://preview/\d+/archive_(\d+)\.zip$', 1)
                    AS BIGINT) % 17 <> 0
               ELSE true END AS allowed
        FROM u ORDER BY doc_id"""),
    ),
    // ---- priority-queue drain, oracle-checked ------------------------------
    // The north rule's fetch scheduler (per-host budget + score/discovery
    // priority) driven through the REAL drain path — the custom
    // [[graft.plans.TopKPerKey]] Catalyst operator plus the range-partition
    // global numbering ([[CrawlLoop.drainSelectManaged]]) — against a plain
    // SQL window oracle. The synthetic frontier derives deterministically from
    // `documents` (score = (id·37 mod 100)/10 ties across hosts; minted
    // discovery seq = doc_id keeps the priority a total order); per-host
    // budgets 3..7 from the host's numeric suffix. The oracle's
    // windows-then-filter is the semantics; the engine's plan is the
    // scale shape (bounded heaps, ONE host exchange, no global window).
    QueryEntry(
      "q_frontier_drain",
      (s, dir) => {
        val frontier = graft.Tables.t(s, dir, "documents").select(
          concat(lit("syn://"), col("source"), lit("/"), col("doc_id"))
            .as("url"),
          col("source").as("host"),
          (col("doc_id") % 4).cast("int").as("depth"),
          ((col("doc_id") * 37) % 100).cast("double").divide(lit(10.0))
            .as("score"),
          lit(0).as("round"), lit(0).as("queryIdx"), lit(0).as("pageIdx"),
          col("doc_id").cast("int").as("hitIdx"))
        // host-budget map: dimension-sized (like the loop's own), built
        // from the tiny distinct-host set so any sf's source count works
        val budgets = frontier.select("host").distinct().collect()
          .map(_.getString(0))
          .map(h => h -> (3 + h.drop(3).toInt % 5)).toMap
        // the frame is collected after this returns, so the drain's cache
        // stays pinned (EntryRegistrySpec.PinnedRdds counts it)
        CrawlLoop.drainSelectManaged(frontier, budgets, 1)._1
          .select(col("url"), col("host"), col("depth"), col("score"),
            col("seqInRound").as("seq_in_round"),
            col("kInHost").as("k_in_host"))
          .orderBy("seq_in_round")
      },
      Some("""WITH f AS (SELECT doc_id,
            'syn://' || source || '/' || doc_id AS url,
            source AS host,
            CAST(doc_id % 4 AS INT) AS depth,
            CAST((doc_id * 37) % 100 AS DOUBLE) / 10.0e0 AS score,
            doc_id AS hit
          FROM documents),
        b AS (SELECT *,
            3 + CAST(substr(host, 4) AS BIGINT) % 5 AS budget,
            row_number() OVER (PARTITION BY host
              ORDER BY score DESC, hit ASC) AS rk
          FROM f),
        sel AS (SELECT * FROM b WHERE rk <= budget)
        SELECT url, host, depth, score,
          CAST(row_number() OVER (ORDER BY score DESC, hit ASC) AS INT)
            AS seq_in_round,
          CAST(rk - 1 AS INT) AS k_in_host
        FROM sel ORDER BY seq_in_round"""),
    ),
    // the crawl-order log — the parity artifact, in logical order
    QueryEntry("q_crawl_log", (s, _) =>
      glacier(s).read(s, "crawl_log").get.orderBy("round", "seqInRound")),
    // exact URL-seen set (sorted for stable output)
    QueryEntry("q_crawl_seen", (s, _) =>
      glacier(s).read(s, "seen").get.orderBy("url")),
    // interleaved span documents, exploded to flat comparable rows
    QueryEntry("q_crawl_docs", (s, _) =>
      glacier(s).read(s, "docs").get
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("sp.kind"), col("sp.text"),
          col("sp.media_ref"), col("sp.offset").as("soff"))
        .orderBy("doc_id", "soff")),
    // validated dataset records in discovery order. Array columns are
    // projected to `;`-joined strings: the driver's rows-only compare
    // sorts with pandas, which cannot factorize ndarray cells.
    QueryEntry("q_crawl_datasets", (s, _) =>
      glacier(s).read(s, "datasets").get
        .orderBy("round", "seqInRound", "ordinal")
        .withColumn("author_names", concat_ws(";", col("author_names")))
        .withColumn("keywords", concat_ws(";", col("keywords")))
        .withColumn("description_minhash",
          concat_ws(";", transform(col("description_minhash"),
            x => x.cast("string"))))
        .withColumn("simulation_json", coalesce(col("simulation_json"), lit("")))
        .withColumn("simulation", coalesce(to_json(col("simulation")), lit("")))),
    // post-pass output: files after exclusion + false-positive removal
    QueryEntry("q_crawl_files_clean", (s, _) =>
      glacier(s).read(s, "files_clean").get
        .orderBy("round", "seqInRound", "ordinal")),
    // download stage (scripts/download_files.py): pooch-cached bodies of
    // the selected gro/mdp files (+ zip members), content projected to its
    // length for the rows-only compare
    QueryEntry("q_crawl_downloads", (s, _) =>
      downloaded(s).read(s, "download_cache").get
        .select(col("file_url"), col("dataset_id"), col("file_type"),
          col("attempts"), length(col("content")).as("content_bytes"))
        .orderBy("file_url")),
    // parsed simulation parameters of the downloaded bodies
    // (scripts/parse_mdp_files.py / parse_gro_files.py)
    QueryEntry("q_crawl_mdp_params", (s, _) =>
      downloaded(s).read(s, "mdp_params").get.orderBy("file_url")),
    QueryEntry("q_crawl_gro_params", (s, _) =>
      downloaded(s).read(s, "gro_params").get.orderBy("file_url")),
    // consolidated export (export_to_parquet.py): per-origin stats rollup
    // with the grand-total row, and the timeline analysis frame
    QueryEntry("q_crawl_export_stats", (s, _) =>
      exported(s).read(s, "export_stats").get.orderBy("dataset_origin")),
    QueryEntry("q_crawl_timeline", (s, _) =>
      exported(s).read(s, "export_timeline").get.orderBy("type", "year")),
  )

  /** Pre-warm the memoized micro-crawl + download + export stages
    * (idempotent). Bench calls this BEFORE timing individual queries so
    * the engine bootstrap is reported as its own line instead of being
    * absorbed by whichever q_crawl_* query happens to run first. */
  def ensure(s: SparkSession): Unit = { exported(s); () }

  /** The memoized crawl's Glacier with the export stage guaranteed run
    * (idempotent: the stage skips when the current snapshot is already
    * the export). */
  private def exported(s: SparkSession): graft.tables.Glacier =
    synchronized {
      val g = downloaded(s)
      graft.crawl.ExportStage.run(s, g)
      g
    }

  /** The memoized crawl's Glacier with the download stage guaranteed run
    * (idempotent: a cached store downloads nothing on re-entry). */
  private def downloaded(s: SparkSession): graft.tables.Glacier =
    synchronized {
      val g = glacier(s)
      if (g.read(s, "download_cache").isEmpty)
        graft.crawl.DownloadStage.run(s, g, repo, Seq("gro", "mdp"),
          withZipFiles = true)
      g
    }
}
