package graft.crawl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.FileParsers
import graft.tables.Glacier

/** Post-crawl download + zip-extraction + parse stage — the reference's
  * `scripts/download_files.py` (selection 40-139, pooch cache 142-188, zip
  * extraction 190-210) and the .gro/.mdp parse scripts
  * (`scripts/parse_gro_files.py`, `scripts/parse_mdp_files.py`) as one
  * distributed pipeline over the crawl's Glacier output:
  *
  *   files_clean → select (3 modes) → anti-join the content cache
  *   → fetch missing bodies (retry envelope) → extract zip members
  *   → append cache delta → parse gro/mdp params tables.
  *
  * Cache semantics are pooch's (`download_files.py:168-175`): a file whose
  * (name, md5) is already in the local store is never re-fetched — a rerun
  * of the stage downloads only what the previous run missed. The cache is
  * a Glacier table, so it shares the crawl's snapshot lineage and resume
  * story.
  *
  * Scale: selection is a codegen'd filter (+ one broadcast-size
  * distinct-join for archive mode); the targets cross ONE url-hash
  * exchange, which carries their one-fetch-per-URL dedup, before the
  * cache anti-join; fetch is a narrow
  * mapPartitions (the bytes never visit the driver); parsing is pure
  * column work over the fetched partition. At 100 TB the cache table is
  * the big side and the day's new targets the small side — the anti-join
  * direction already matches.
  */
object DownloadStage {

  /** Selection modes of `select_files_to_download` (download_files.py:68-139). */
  sealed trait Mode
  /** files of interest NOT inside zip archives (`zipfiles="no"`). */
  case object DirectFiles extends Mode
  /** files of interest INSIDE zip archives (`zipfiles="yes"`). */
  case object InZipFiles extends Mode
  /** the zip archives CONTAINING files of interest (`zipfiles="zip"`):
    * distinct (dataset, archive) pairs joined back to the files table on
    * file_name = origin archive (download_files.py:106-138). */
  case object ZipArchives extends Mode

  def selectFiles(files: DataFrame, types: Seq[String], mode: Mode): DataFrame = {
    val inZip = col("containing_archive_file_name").isNotNull
    val wanted = col("file_type").isin(types: _*)
    mode match {
      case DirectFiles => files.filter(!inZip && wanted)
      case InZipFiles  => files.filter(inZip && wanted)
      case ZipArchives =>
        val zips = files.filter(inZip && wanted)
          .select(col("dataset_id_in_repository").as("__zds"),
            col("containing_archive_file_name").as("__zarch"))
          .distinct()
        // archives-with-interesting-content is small next to files —
        // broadcast it so the join needs no shuffle of the files table
        files.join(broadcast(zips),
          col("dataset_id_in_repository") === col("__zds") &&
            col("file_name") === col("__zarch"))
          .drop("__zds", "__zarch")
    }
  }

  /** One fetched body in the content cache; `member` marks a body
    * extracted from a fetched zip archive (not a cache column). */
  final case class CachedFile(file_url: String, file_md5: String,
      file_name: String, dataset_id: String, file_type: String,
      content: String, attempts: Int, member: Boolean)

  private val cacheCols = Seq("file_url", "file_md5", "file_name",
    "dataset_id", "file_type", "content", "attempts").map(col)

  /** Run the stage over a crawl's Glacier root, in [[PlanMode]]'s
    * interpreted mode at any size (download won interpreted up to a
    * 2.1 M-row root, so it is sized as empty). Returns the metrics it
    * committed (downloaded / cache_hits / extracted / attempts).
    */
  def run(spark: SparkSession, g: Glacier, repo: RepoConfig,
          types: Seq[String], withZipFiles: Boolean): Map[String, Long] =
    PlanMode.sizedTo(spark, 0L)(download(spark, g, repo, types, withZipFiles))

  private def download(spark: SparkSession, g: Glacier, repo: RepoConfig,
                       types: Seq[String],
                       withZipFiles: Boolean): Map[String, Long] = {
    import spark.implicits._

    val files = g.read(spark, "files_clean").orElse(g.read(spark, "files"))
      .getOrElse(return Map.empty)

    // Direct files and zip members share ONE target projection and ONE
    // cache check, so their cache key — (file_url, file_md5) — is equal by
    // construction: an archive member whose md5 changed re-extracts
    // exactly like a direct file re-downloads (divergent keys would let
    // one path append dup urls the other path would have skipped). Zip
    // members of interest inside the fetched archives are tagged
    // (extract_zip_content, download_files.py:190-210 — members land next
    // to the archive in the store, i.e. in the same cache table).
    def cacheTargets(selected: DataFrame, member: Boolean): DataFrame = selected.select(
      col("file_url_in_repository").as("file_url"),
      coalesce(col("file_md5"), lit("")).as("file_md5"),
      col("file_name"),
      col("dataset_id_in_repository").as("dataset_id"),
      col("file_type"),
      lit(member).as("member"))

    // ---- pooch cache check: skip bodies already in the store --------------
    val cache = g.read(spark, "download_cache")
    def uncached(targets: DataFrame): DataFrame = cache match {
      case None => targets
      case Some(c) => targets.join(
        c.select(col("file_url").as("__curl"), col("file_md5").as("__cmd5")),
        col("file_url") === col("__curl") && col("file_md5") === col("__cmd5"),
        "left_anti")
    }

    // ---- targets: direct files (+ archives and their members when
    // --withzipfiles), one fetch per URL (pooch store is keyed by file name
    // within the dataset dir). The url repartition also serves the dedup
    // and the fetch, so a target crosses one exchange.
    val direct = selectFiles(files, types, DirectFiles)
    val groups =
      if (!withZipFiles) cacheTargets(direct, member = false)
      else cacheTargets(direct.unionByName(selectFiles(files, types, ZipArchives)), member = false)
        .unionByName(cacheTargets(selectFiles(files, types, InZipFiles), member = true))
    val targets = Observation("dl_targets")
    val toFetch = uncached(groups
      .repartition(spark.sparkContext.defaultParallelism, col("file_url"))
      .dropDuplicates("file_url")
      .observe(targets, count_if(!$"member").as("targets")))

    // persisted: the commit runs download_cache / mdp_params / gro_params
    // as SEPARATE write actions — without the cache each would re-execute
    // the fetch pipeline, tripling the downloads a run performs (the exact
    // thing the pooch-cache contract forbids)
    val obs = Observation("dl")
    val delta = toFetch
      .as[(String, String, String, String, String, Boolean)]
      .mapPartitions { it =>
        it.map { case (url, md5, name, ds, ft, member) =>
          // retry envelope (download_files.py:167-187): a failed download is
          // retried after a pause; deterministic 1-in-41 first-try failure.
          // A member is extracted from its fetched archive: one attempt.
          val attempts =
            if (!member && SyntheticRepo.pos(SyntheticRepo.h(repo, "dlfail", url), 41) == 0) 2
            else 1
          CachedFile(url, md5, name, ds, ft,
            SyntheticRepo.fileContent(repo, url), attempts, member)
        }
      }
      .observe(obs, count_if(!$"member").as("downloaded"),
        count_if($"member").as("extracted"),
        // sum over zero rows is NULL — a fully-cached rerun must still
        // commit clean metrics
        coalesce(sum(when(!$"member", $"attempts")), lit(0L)).cast("long")
          .as("attempts"))
      .select(cacheCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- parse tables over the FULL store (old cache + this delta) --------
    // Pooch OVERWRITES a changed file in place (download_files.py:168-175);
    // the append-only cache table instead accretes a second row for a url
    // whose md5 changed. Dedupe on file_url keeping the LATEST generation
    // (this delta over the old cache) so the parse tables see exactly one
    // body per file, like the pooch store on disk.
    val store = cache match {
      case None    => delta
      case Some(c) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("file_url"))
          .orderBy(col("__gen").desc, col("file_md5").desc)
        c.select(cacheCols: _*).withColumn("__gen", lit(0))
          .unionByName(delta.withColumn("__gen", lit(1)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__gen", "__rn")
    }
    val mdp = parseMdpParams(store)
    val gro = parseGroParams(store)

    def m(o: Observation, k: String): Long = o.get(k).asInstanceOf[Number].longValue()

    g.commit(spark, Seq(
      g.TableWrite("download_cache", delta, g.Append),
      g.TableWrite("mdp_params", mdp, g.Replace),
      g.TableWrite("gro_params", gro, g.Replace),
    ), metrics = Map(
      "dl_targets" -> m(targets, "targets"),
      "dl_downloaded" -> m(obs, "downloaded"),
      "dl_cache_hits" -> (m(targets, "targets") - m(obs, "downloaded")),
      "dl_extracted" -> m(obs, "extracted"),
      "dl_attempts" -> m(obs, "attempts"),
    ) ++ PlanMode.metric(spark), note = "download")
    delta.unpersist(blocking = false)
    g.currentManifest.get.metrics.filter(_._1.startsWith("dl_"))
  }

  /** .mdp bodies → parameter rows (scripts/parse_mdp_files.py semantics via
    * the same column functions as the oracle-checked `q_mdp_parse`:
    * last-match-wins case-insensitive `key = value`, coupling tables). */
  def parseMdpParams(store: DataFrame): DataFrame =
    store.filter(col("file_type") === "mdp").select(
      Seq(col("file_url"), col("dataset_id"), col("file_name")) ++
        FileParsers.mdpParamColumns(col("content")): _*)

  /** .gro bodies → structure rows (scripts/parse_gro_files.py semantics
    * via the same column functions as the oracle-checked
    * `q_gro_classify`). */
  def parseGroParams(store: DataFrame): DataFrame =
    store.filter(col("file_type") === "gro").select(
      Seq(col("file_url"), col("dataset_id"), col("file_name")) ++
        FileParsers.groParamColumns(col("content")): _*)
}
