package graft

import graft.crawl.Robots
import graft.functions.{NormalizeText, TextFunctions, VectorKernels}
import graft.operators.DedupOps
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native kernels, the `TextFunctions` builders over the `Validators`
  * rules and the robots rule give the same values in generated code and
  * when a plan runs interpreted (`StaticInvoke`'s reflective path, the mode
  * `PlanMode` uses), and a wrong-typed argument fails at analysis. */
class KernelModesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val rng = new scala.util.Random(7)
  private def vec(n: Int): Seq[Option[Double]] =
    Seq.fill(n)(Some(rng.nextGaussian()))
  private val decomposed = "cafe\u0301"

  /** Read back from parquet: a `LocalRelation` would be folded at
    * optimization time, and neither evaluation path would run. */
  private lazy val frame: DataFrame = {
    val rows = Seq(
      (1L, Seq(Some("a b c"), Some("b c d")),
        Seq(Some(1.0), Some(2.0), Some(-3.5), Some(0.25)),
        Seq(Some(0.5), Some(-1.0), Some(2.0), Some(4.0)), vec(64),
        "the quick brown fox jumps over the lazy dog", decomposed, "hot"),
      // null elements
      (2L, Seq(Some("a b c"), None), Seq(Some(1.0), None, Some(2.0)),
        Seq(Some(1.0), Some(1.0), Some(1.0)), vec(63) :+ None,
        "a  b", "à ñ ö", "2023-06-01 10:30:00"),
      // length mismatch
      (3L, Seq(None), Seq(Some(1.0), Some(2.0)),
        Seq(Some(1.0), Some(2.0), Some(3.0)), vec(2),
        "unicode naïve café", "plain ascii", "<p>a &amp;\tb</p> "),
      // empty arrays and empty strings
      (4L, Seq.empty[Option[String]], Seq.empty[Option[Double]],
        Seq.empty[Option[Double]], Seq.empty[Option[Double]], "", "", ""),
    ).toDF("id", "sh", "a", "b", "v", "text", "raw", "s")
      // null arguments
      .union(spark.range(5, 6).select(col("id"),
        lit(null).cast("array<string>"), lit(null).cast("array<double>"),
        lit(null).cast("array<double>"), lit(null).cast("array<double>"),
        lit(null).cast("string"), lit(null).cast("string"),
        lit(null).cast("string")))
    val dir = SparkTestSession.scratchDir("kernel-modes") + "/t"
    rows.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def kernels: Seq[Column] = Seq(
    DedupOps.minhashSigArray(col("sh")).as("minhash"),
    VectorKernels.cosineCol(col("a"), col("b")).as("cosine"),
    VectorKernels.lshBandsCol(col("v"), 16, 4, 64).as("bands"),
    VectorKernels.simhash16Col(col("text")).as("simhash"),
    NormalizeText.nfc(col("raw")).as("nfc"),
    NormalizeText.foldAccents(col("raw")).as("folded"),
    TextFunctions.cleanText(col("s")).as("clean"),
    TextFunctions.fileType(col("s")).as("file_type"),
    TextFunctions.parseByteSize(col("s")).as("bytes"),
    TextFunctions.normalizeDate(col("s")).as("date"),
    TextFunctions.temperatureToKelvin(col("s")).as("kelvin"),
    TextFunctions.isValidDoi(col("s")).as("doi"),
    Robots.allowedCol(col("s")).as("robots"))

  /** The kernel columns over `frame`, in id order, and whether the plan
    * ran whole-stage generated code. */
  private def evaluate(): (Seq[Row], Boolean) = {
    val df = frame.select(col("id") +: kernels: _*)
    val rows = df.collect().sortBy(_.getLong(0)).toSeq
    val generated = df.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    (rows, generated)
  }

  test("every kernel gives the same values generated and interpreted") {
    val (gen, genCompiled) = evaluate()
    val (interp, interpCompiled) = SparkTestSession.interpreted(evaluate())
    assert(genCompiled && !interpCompiled)
    assert(gen.length === 5)
    gen.zip(interp).foreach { case (g, i) => assert(g === i, s"id ${g.getLong(0)}") }

    val byId = interp.map(r => r.getLong(0) -> r).toMap
    // the former direct interpreted-eval check: NFC composes e + U+0301
    assert(byId(1L).getAs[String]("nfc") === "caf\u00e9")
    assert(byId(1L).getAs[String]("folded") === "cafe")
    // a null or mismatched element nulls the cosine and zeroes the bands
    Seq(2L, 3L).foreach { id =>
      assert(byId(id).isNullAt(byId(id).fieldIndex("cosine")))
      assert(byId(id).getAs[Seq[Int]]("bands") === Seq(0, 0, 0, 0))
    }
    // an empty shingle array gives null lanes; an empty vector pair NaN
    assert(byId(4L).getAs[Seq[String]]("minhash") === Seq.fill(8)(null))
    assert(byId(4L).getAs[Double]("cosine").isNaN)
    assert(byId(4L).getAs[String]("nfc") === "")
    // a string without a number parses to NULL; the rules take a date,
    // and clean an HTML fragment
    Seq("bytes", "date", "kelvin").foreach(f =>
      assert(byId(1L).isNullAt(byId(1L).fieldIndex(f)), f))
    assert(byId(1L).getAs[String]("clean") === "hot")
    assert(byId(2L).getAs[String]("date") === "2023-06-01T10:30:00")
    assert(byId(3L).getAs[String]("clean") === "a & b")
    assert(byId(1L).getAs[Boolean]("robots"))
    // a null argument gives null without calling the kernel
    assert((1 until byId(5L).length).forall(byId(5L).isNullAt))
  }

  test("a wrong-typed kernel argument fails at analysis") {
    val wrong: Seq[Column] = Seq(
      DedupOps.minhashSigArray(col("text")),
      VectorKernels.cosineCol(col("text"), col("b")),
      VectorKernels.lshBandsCol(col("text"), 16, 4, 64),
      VectorKernels.simhash16Col(col("v")),
      NormalizeText.nfc(col("a")),
      NormalizeText.foldAccents(col("sh")),
      TextFunctions.cleanText(col("a")),
      TextFunctions.fileType(col("sh")),
      TextFunctions.parseByteSize(col("v")),
      TextFunctions.normalizeDate(col("a")),
      TextFunctions.temperatureToKelvin(col("sh")),
      TextFunctions.isValidDoi(col("b")),
      Robots.allowedCol(col("v")))
    wrong.foreach { c =>
      val e = intercept[AnalysisException](frame.select(c).schema)
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }
}
