package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Glacier

/** Consolidated export over a finished crawl's Glacier output — the
  * reference's `scripts/export_to_parquet.py` + the legacy TSV data model
  * (`docs/data_model_tsv.md:1-129`) + the timeline analysis frame
  * (`analyze.py:58-94`), as one distributed stage:
  *
  *   datasets_clean / files_clean
  *     → legacy-model projections (datasets / datasets_text / files)
  *     → merged `export_datasets` (1:1 join, export_to_parquet.py:83-103)
  *       and `export_files` (:105-121)
  *     → `export_stats`: per-origin rollup + grand-total row
  *       (compute_global_statistics, :11-34)
  *     → `export_timeline`: per-year dataset/file/unique-author counts
  *       (prepare_timeline_df, analyze.py:58-94)
  *   committed as ONE Glacier snapshot, plus per-origin legacy TSV sinks.
  *
  * Scale: the projections are narrow column maps; the 1:1 merge joins on
  * (origin, id) — both sides hash-partition on the same key; the stats
  * rollup is a partial-agg shuffle on origin (≤ #origins rows out); the
  * timeline's author dedup is one window over author (hash-partitioned,
  * no global ordering). The grand-total row is a 1-row union — driver
  * cost zero.
  */
object ExportStage {

  /** Fixed fetch timestamp: the reference stamps `datetime.now()`
    * (scrape_osf.py:317); a deterministic engine takes it as input. */
  val DefaultFetchDate = "2026-01-15T00:00:00"

  /** First-wins dedup in discovery order (D1/D2): the crawl tables keep
    * one row per PAGE OCCURRENCE (the same Zenodo record is embedded on
    * every search page that hits it), while the reference's TSVs carry
    * one row per entity — its scrapers dedup by id before writing. The
    * earliest (round, seqInRound, ordinal) row survives. */
  private def firstWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("round").asc, col("seqInRound").asc, col("ordinal").asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- legacy-model projections (docs/data_model_tsv.md) -----------------

  /** datasets.tsv columns (data_model_tsv.md:3-56). `date_last_modified`
    * mirrors creation — the crawl model does not carry a modified date
    * (the synthetic pages emit none). */
  def legacyDatasets(ds: DataFrame, fetchDate: String): DataFrame =
    ds.select(
      col("dataset_repository_name").as("dataset_origin"),
      col("dataset_id_in_repository").as("dataset_id"),
      coalesce(col("doi"), lit("")).as("doi"),
      substring(coalesce(col("date_created"), lit("")), 1, 10)
        .as("date_creation"),
      substring(coalesce(col("date_created"), lit("")), 1, 10)
        .as("date_last_modified"),
      lit(fetchDate).as("date_fetched"),
      coalesce(col("number_of_files"), lit(0L)).as("file_number"),
      coalesce(col("download_number"), lit(0L)).as("download_number"),
      coalesce(col("view_number"), lit(0L)).as("view_number"),
      coalesce(col("license"), lit("")).as("license"),
      col("dataset_url_in_repository").as("dataset_url"),
      // discovery order — carried so downstream first-occurrence dedup
      // (the timeline's author dedup) matches the reference's frame order
      col("round"), col("seqInRound"), col("ordinal"))

  /** datasets_text.tsv columns (data_model_tsv.md:58-86): author is the
    * `;`-joined author list ("Maybe get all available authors"), keywords
    * default "none". */
  def legacyDatasetsText(ds: DataFrame): DataFrame =
    ds.select(
      col("dataset_repository_name").as("dataset_origin"),
      col("dataset_id_in_repository").as("dataset_id"),
      col("title"),
      array_join(col("author_names"), ";").as("author"),
      when(size(col("keywords")) > 0, array_join(col("keywords"), ";"))
        .otherwise("none").as("keywords"),
      coalesce(col("description"), lit("")).as("description"))

  /** files.tsv columns (data_model_tsv.md:88-129). */
  def legacyFiles(fs: DataFrame): DataFrame =
    fs.select(
      col("dataset_repository_name").as("dataset_origin"),
      col("dataset_id_in_repository").as("dataset_id"),
      when(col("file_type") === "", "none").otherwise(col("file_type"))
        .as("file_type"),
      col("file_size_in_bytes").cast("double").as("file_size"),
      coalesce(col("file_md5"), lit("")).as("file_md5"),
      col("containing_archive_file_name").isNotNull.as("from_zip_file"),
      col("file_name"),
      col("file_url_in_repository").as("file_url"),
      coalesce(col("containing_archive_file_name"), lit("none"))
        .as("origin_zip_file"))

  /** Merged datasets frame (export_to_parquet.py:83-103): datasets LEFT
    * JOIN datasets_text, validated 1:1 on (dataset_id, dataset_origin). */
  def mergedDatasets(ds: DataFrame, fetchDate: String): DataFrame =
    legacyDatasets(ds, fetchDate)
      .join(legacyDatasetsText(ds), Seq("dataset_origin", "dataset_id"),
        "left")

  /** Per-origin global statistics + grand-total row
    * (compute_global_statistics, export_to_parquet.py:11-34). The total
    * row sums every numeric column — including `datasets`, i.e. the sum
    * of per-origin nunique counts, exactly as `dataset_agg.sum()` does. */
  def globalStats(files: DataFrame): DataFrame = {
    val perOrigin = files.groupBy(col("dataset_origin")).agg(
      count_distinct(col("dataset_id")).as("datasets"),
      count_if(!col("from_zip_file")).as("files_from_datasets"),
      sum(when(!col("from_zip_file"), col("file_size") / 1e9)
        .otherwise(0.0)).as("total_size_in_GB"),
      count_if(col("file_type") === "zip").as("zip_files"),
      count_if(col("from_zip_file")).as("files_from_zip_files"),
      count(lit(1)).as("total_files"))
    val total = perOrigin.agg(
      lit("total").as("dataset_origin"),
      sum("datasets").as("datasets"),
      sum("files_from_datasets").as("files_from_datasets"),
      sum("total_size_in_GB").as("total_size_in_GB"),
      sum("zip_files").as("zip_files"),
      sum("files_from_zip_files").as("files_from_zip_files"),
      sum("total_files").as("total_files"))
    perOrigin.unionByName(total)
  }

  /** Timeline frame (prepare_timeline_df, analyze.py:58-94): per-year
    * dataset count, file-number sum, and unique-author count where an
    * author counts in the year of their FIRST dataset in frame order
    * (pandas drop_duplicates keeps the first occurrence; frame order =
    * crawl discovery order). Output rows: (year, value, type). */
  def timeline(merged: DataFrame): DataFrame = {
    val withYear = merged
      .filter(col("date_creation") =!= "")
      .withColumn("year", substring(col("date_creation"), 1, 4).cast("int"))
    val datasets = withYear.groupBy("year")
      .agg(count(lit(1)).as("value")).withColumn("type", lit("datasets"))
    val files = withYear.groupBy("year")
      .agg(sum("file_number").as("value")).withColumn("type", lit("files"))
    val wAuthor = Window.partitionBy(col("author"))
      .orderBy(col("round").asc, col("seqInRound").asc, col("ordinal").asc)
    val authors = withYear
      .withColumn("__rn", row_number().over(wAuthor)).filter(col("__rn") === 1)
      .groupBy("year").agg(count(lit(1)).as("value"))
      .withColumn("type", lit("authors"))
    datasets.unionByName(files.select(col("year"),
        col("value").cast("long").as("value"), col("type")))
      .unionByName(authors)
  }

  /** Incremental per-(round, host) fetch report over crawl_log rounds in
    * `[sinceRound, toRound]` — the zone-map read path: each round's commit
    * appends its own part files, so `Glacier.readBetween` on the recorded
    * `round` min/max opens ONLY the requested rounds' parts. At a
    * 10^4-round log a tail refresh ("what did the last night's rounds do")
    * reads a constant number of files instead of the whole table. The
    * residual filter stays because pruning is conservative (superset
    * semantics); None = no crawl_log at all.
    */
  def roundReport(spark: SparkSession, g: Glacier,
                  sinceRound: Int, toRound: Int): Option[DataFrame] =
    g.readBetween(spark, "crawl_log", "round",
        sinceRound.toLong, toRound.toLong)
      .orElse(g.read(spark, "crawl_log").map(_.filter(lit(false))))
      .map { log =>
        log.filter(col("round").between(sinceRound, toRound))
          .groupBy(col("round"), col("host"))
          .agg(
            count(lit(1)).as("fetches"),
            count_if(col("status") === 200).as("ok"),
            count_if(col("status") =!= 200).as("failed"),
            sum(col("nLinks")).cast("long").as("links"),
            sum(col("attempts")).cast("long").as("attempts"))
      }

  /** Run the export over a finished crawl's Glacier root: commit the four
    * parquet tables as one snapshot and write the per-origin legacy TSVs
    * under `<root>/legacy_tsv/<kind>/dataset_origin=<o>/`. Idempotent on
    * resume: skipped only while the export is FRESH — an existing export
    * snapshot with a crawl commit (a round or a forget) after it is stale
    * and gets recomputed, replacing the export tables in a new snapshot.
    * Runs in the [[PlanMode]] the root's current snapshot calls for. */
  def run(spark: SparkSession, g: Glacier,
          fetchDate: String = DefaultFetchDate): Unit =
    PlanMode.sizedTo(spark, PlanMode.snapshotRows(g))(
      exportTables(spark, g, fetchDate))

  private def exportTables(spark: SparkSession, g: Glacier,
                           fetchDate: String): Unit = {
    val hist = g.history
    val lastExport = hist.lastIndexWhere(_.note == "export")
    val lastCrawl = hist.lastIndexWhere(
      m => m.metrics.contains("round") || m.note == "forget")
    if (lastExport >= 0 && lastExport > lastCrawl) return
    val ds = firstWins(g.read(spark, "datasets_clean")
      .orElse(g.read(spark, "datasets")).getOrElse(return),
      Seq("dataset_repository_name", "dataset_id_in_repository"))
    val fs = firstWins(g.read(spark, "files_clean")
      .orElse(g.read(spark, "files")).getOrElse(return),
      Seq("dataset_repository_name", "dataset_id_in_repository",
        "file_url_in_repository"))

    val merged = mergedDatasets(ds, fetchDate)
    val files = legacyFiles(fs)
    val stats = globalStats(files)
    val tl = timeline(merged)

    // legacy TSV sinks, one dir per origin (the reference writes one TSV
    // per repository per kind, scrape_osf.py:502-520); internal
    // discovery-order columns dropped like K2's TSV sinks
    Seq(
      "datasets" -> legacyDatasets(ds, fetchDate)
        .drop("round", "seqInRound", "ordinal"),
      "datasets_text" -> legacyDatasetsText(ds),
      "files" -> files,
    ).foreach { case (kind, df) =>
      df.write.mode("overwrite")
        .partitionBy("dataset_origin")
        .option("sep", "\t").option("header", "true")
        .csv(s"${g.root}/legacy_tsv/$kind")
    }

    g.commit(spark, Seq(
      g.TableWrite("export_datasets",
        merged.drop("round", "seqInRound", "ordinal"), g.Replace),
      g.TableWrite("export_files", files, g.Replace),
      g.TableWrite("export_stats", stats.coalesce(1), g.Replace),
      g.TableWrite("export_timeline", tl.coalesce(1), g.Replace),
    ), PlanMode.metric(spark), note = "export")
  }
}
