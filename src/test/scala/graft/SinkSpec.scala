package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Sinks and scans of the reference ETL (SURVEY.md §2.1 S16, §2.2 K1-K4):
  * TSV sink/scan round-trip with explicit schema, parquet round-trip with
  * schema assertion (export_to_parquet.py:37-61 type check), and the
  * partitioned output-path convention (models/scraper.py:75-105).
  */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  test("TSV sink + schema'd scan round-trips (K2/S16)") {
    import spark.implicits._
    val dir = SparkTestSession.scratchDir("tsv-sink") + "/files.tsv"
    val df = Seq(
      ("zenodo", "z-1", "gro", 1234L, "traj\tfile.gro"), // tab inside a value
      ("osf", "o-2", "mdp", 77L, "params.mdp"),
    ).toDF("dataset_origin", "dataset_id", "file_type", "file_size", "file_name")

    // reference drops internal columns before the TSV sink (scrape_osf.py:503)
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(dir)

    val schema = StructType(Seq(
      StructField("dataset_origin", StringType),
      StructField("dataset_id", StringType),
      StructField("file_type", StringType),
      StructField("file_size", LongType),
      StructField("file_name", StringType)))
    val back = spark.read.option("sep", "\t").option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .schema(schema).csv(dir)

    assert(back.schema === schema)
    assert(back.orderBy("dataset_id").collect().map(_.toSeq).toSeq ===
      df.orderBy("dataset_id").collect().map(_.toSeq).toSeq)
  }

  test("parquet export verifies schema agreement (K3)") {
    import spark.implicits._
    val dir = SparkTestSession.scratchDir("pq-sink") + "/datasets.parquet"
    val df = Seq(("zenodo", "z-1", 5L), ("figshare", "f-2", 9L))
      .toDF("dataset_origin", "dataset_id", "file_number")
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // the reference's pandas↔parquet type check (export_to_parquet.py:37-61)
    // compares names+dtypes; parquet reads are always nullable in Spark, so
    // normalize nullability before comparing
    def norm(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(norm(back.schema) === norm(df.schema))
    assert(back.count() === 2)
  }

  test("partitioned output layout {out}/{source}/{date}/ (K4)") {
    val base = SparkTestSession.scratchDir("layout")
    val source = "zenodo"; val date = "2026-08-16"
    val path = s"$base/$source/$date/${source}_datasets.parquet"
    import spark.implicits._
    Seq(("z-1", 1)).toDF("id", "n").write.mode("overwrite").parquet(path)
    assert(Files.exists(java.nio.file.Paths.get(path)))
    val back = spark.read.parquet(s"$base/$source/$date/*_datasets.parquet")
    assert(back.count() === 1)
  }

  test("jsonl roundtrip preserves tricky strings byte-for-byte") {
    import spark.implicits._
    val tricky = "a \"quoted\" \\ backslash\nnewline\ttab €uro"
    val df = Seq((1L, tricky)).toDF("doc_id", "text")
    val path = SparkTestSession.scratchDir("jsonl-spec") + "/t"
    sources.JsonlStore.writeJsonl(df, path)
    val back = sources.JsonlStore.readJsonl(spark, path,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))).collect()
    assert(back.length === 1)
    assert(back(0).getLong(0) === 1L)
    assert(back(0).getString(1) === tricky)
  }
}
