package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (optionally) an
  * equivalent ANSI SQL string the driver runs in DuckDB over the same parquet
  * tables. Entries without `oracle` get a weaker rows-only check.
  */
final case class QueryEntry(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
)

object QueryEntry {
  /** An entry whose Spark side runs its oracle text: one ANSI string that
    * both engines execute, so there is no DataFrame twin to drift from it.
    * The text must stay byte-identical (the driver hashes it). */
  def sql(name: String, tables: String*)(text: String): QueryEntry =
    QueryEntry(name, (s, dir) => overViews(s, dir, tables, text), Some(text))

  /** Run `text` over temp views of `tables`. `sql()` resolves the views
    * eagerly, so dropping them before the frame is returned can't break
    * its plan; it only keeps catalog state from leaking into later
    * queries. */
  private def overViews(s: SparkSession, dir: String, tables: Seq[String],
      text: String): DataFrame = {
    tables.foreach(n => Tables.t(s, dir, n).createOrReplaceTempView(n))
    val df = s.sql(text)
    tables.foreach(s.catalog.dropTempView)
    df
  }
}

object Tables {
  /** Footer-schema memo: the sf parquet files are immutable for a JVM's
    * lifetime, but every `spark.read.parquet` without an explicit schema
    * pays a driver-side footer read + schema merge per call — ~10-30 ms
    * that the 170-query bench pays several hundred times. Memoizing the
    * STRUCTTYPE (metadata only — never rows, never results) and passing
    * it explicitly keeps the scan plan byte-identical while skipping the
    * repeated inference. Keyed per (session, path) so a restarted session
    * or a different dir never sees a stale schema. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      org.apache.spark.sql.types.StructType]()

  /** Read one of the driver-generated parquet tables under `dir`. Plain
    * `spark.read.parquet` so Catalyst keeps full pushdown/pruning freedom.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaMemo.computeIfAbsent((spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Scale-adaptive scan fan-out for compute-heavy per-row pipelines.
    *
    * The sf parquet tables are single-row-group files, so their scans plan
    * as ONE task and everything upstream of the first shuffle (shingling,
    * per-row hashing, explodes, map-side partial aggregation) runs on one
    * core of the whole machine. When — and only when — the scan's planned
    * partition count is below the session's default parallelism, pay one
    * tiny round-robin exchange of the base rows to unlock every core. At
    * production scale the input has thousands of splits, the condition
    * never fires, and NO repartition of the corpus is ever added — this is
    * the guide's "fix input skew right after the read" rule bounded to the
    * case where the input is the bottleneck. (Deterministic under retries:
    * round-robin repartition local-sorts its input first —
    * spark.sql.execution.sortBeforeRepartition, default on.)
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** 32-bit md5 prefix as an exact long — THE engine-portable checksum /
    * draw primitive (DuckDB mirror:
    * `CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)`;
    * `Glacier.bloomPositions` carries the driver-side twin). One shared
    * definition so the oracle contracts can't silently desynchronize.
    */
  def h32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  }
}
