package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tables mirrored from the reference's pytest suites
  * (tests/models/test_file.py, tests/models/test_simulation.py,
  * tests/core/test_toolbox.py) — same inputs, same expected values.
  */
class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def eval1(col: org.apache.spark.sql.Column, input: String): Any =
    Seq(Option(input)).toDF("v").select(col.as("r")).collect()(0).get(0)

  test("file_type: Path.suffix semantics (tests/models/test_file.py:60-82)") {
    val table = Seq(
      "file.xtc" -> "xtc",
      "archive.tar.gz" -> "gz",
      "document.txt" -> "txt",
      "no_extension_file" -> "",
      "complex.name.with.many.dots.pdb" -> "pdb",
      "complex/path/to/file.pdb" -> "pdb",
      "very.complex/path/to/file.pdb" -> "pdb",
      "long path/with/some spaces/to/this_file.txt" -> "txt",
      ".hidden" -> "",
      "a." -> "",
      // pathlib: Path("a..b").suffix == ".b"
      "a..b" -> "b",
    )
    table.foreach { case (in, want) =>
      assert(eval1(fileType(col("v")), in) === want, s"file_type($in)")
    }
  }

  test("human size: golden table (tests/core/test_toolbox.py:11-58)") {
    val table = Seq(
      0L -> "0.00 B", 1L -> "1.00 B", 512L -> "512.00 B", 789L -> "789.00 B",
      1024L -> "1.02 KB", 1234L -> "1.23 KB", 123456L -> "123.46 KB",
      1048576L -> "1.05 MB", 10485760L -> "10.49 MB", 104857600L -> "104.86 MB",
      1000000000L -> "1.00 GB", 45689000000L -> "45.69 GB",
      132553428173L -> "132.55 GB",
      1099511627776L -> "1.10 TB", 5497558138880L -> "5.50 TB",
      1000000000000000L -> "File too big!",
      -500L -> "Negative size!",
      1000000L -> "1.00 MB", 1000000000000L -> "1.00 TB",
    )
    table.foreach { case (in, want) =>
      val got = Seq(in).toDF("v")
        .select(humanSizeInt(col("v"))).collect()(0).getString(0)
      assert(got === want, s"int($in)")
    }
  }

  test("byte size parse (tests/models/test_file.py:27-59)") {
    val table = Seq(
      "689 Bytes" -> 689L, "123 bytes" -> 123L, "689Bytes" -> 689L,
      "3 MB" -> 3000000L, "24.4 kB" -> 24400L, "1024" -> 1024L,
    )
    table.foreach { case (in, want) =>
      assert(eval1(parseByteSize(col("v")), in) === want, s"parse($in)")
    }
    // no number, or an unknown unit: NULL, not an ANSI cast error
    Seq("junk", "file.xtc").foreach { in =>
      assert(eval1(parseByteSize(col("v")), in) === null, s"parse($in)")
    }
  }

  test("temperature → Kelvin (tests/models/test_simulation.py:41-54)") {
    val table = Seq(
      "300K" -> 300.0, "300  K" -> 300.0,
      "27°C" -> 300.15, "27 °C" -> 300.15,
      "0c" -> 273.15, "100 Celcius" -> 373.15,
      "-10C" -> 263.15, "-10 °C" -> 263.15, "-1.87" -> 271.28,
    )
    table.foreach { case (in, want) =>
      val got = eval1(temperatureToKelvin(col("v")), in).asInstanceOf[Double]
      assert(math.abs(got - want) < 1e-9, s"kelvin($in): $got != $want")
    }
    assert(eval1(temperatureToKelvin(col("v")), "hot") === null)
  }

  test("positive simulation values (tests/models/test_simulation.py:19-36)") {
    import graft.model.Validators.positiveValue
    assert(positiveValue("0.0997μs") === Some(0.0997))
    assert(positiveValue("0") === None)
    assert(positiveValue("-1") === None)
    assert(positiveValue("2.0") === Some(2.0))
  }

  test("thermostat/barostat normalization (parse_mdp_files.py:37-52,146-194)") {
    val th = Seq(
      "Nose-Hoover" -> "Nose-Hoover", "berendsen" -> "Berendsen",
      "V-RESCALE" -> "V-rescale", "no" -> "no",
      "Andersen_massive" -> "Andersen-massive", "sd" -> "unknown",
      "ANDERSEN" -> "Andersen",
    )
    th.foreach { case (in, want) =>
      assert(eval1(normalizeThermostat(col("v")), in) === want, s"th($in)")
    }
    assert(eval1(normalizeThermostat(col("v")), null) === "undefined")
    val ba = Seq("Parrinello-Rahman" -> "Parrinello-Rahman",
                 "C-rescale" -> "C-rescale", "MTTK" -> "MTTK",
                 "weird" -> "unknown")
    ba.foreach { case (in, want) =>
      assert(eval1(normalizeBarostat(col("v")), in) === want, s"ba($in)")
    }
  }

  test("strip whitespace / html / doi / md5") {
    assert(eval1(stripWhitespace(col("v")), "a\tb\r\nc   d") === "a b c d")
    assert(eval1(cleanText(col("v")), "<p>hello <b>w</b>orld &amp; more</p>")
      === "hello world & more")
    assert(eval1(isValidDoi(col("v")), "10.5281/zenodo.123") === true)
    assert(eval1(isValidDoi(col("v")), "doi:10.5281/zenodo.123") === false)
    assert(eval1(isValidDoi(col("v")), "10.1/x") === false)
    assert(eval1(stripMd5Prefix(col("v")), "md5:abcd") === "abcd")
  }

  test("date normalization → %Y-%m-%dT%H:%M:%S") {
    assert(eval1(normalizeDate(col("v")), "2023-06-01 10:30:00")
      === "2023-06-01T10:30:00")
    assert(eval1(normalizeDate(col("v")), "2023-06-01") === "2023-06-01T00:00:00")
    assert(eval1(normalizeDate(col("v")), "junk") === null)
  }

  test("ext classification: declaration-order tie-breaks (analyze.py:256-280)") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestSession.get
    import spark.implicits._
    val rows = Seq("top", "crd", "TPR", "nc", "weird", "pdb")
      .toDF("ext")
      .select(col("ext"),
        graft.operators.AnalyzeOps.extCategory(col("ext")).as("cat"),
        graft.operators.AnalyzeOps.extEngine(col("ext")).as("engine"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap
    // "top" is in topology AND gromacs AND amber: earlier declaration wins
    assert(rows("top") === ("topology", "gromacs"))
    // "crd" is coordinate; engine-wise namd (declared before amber sets)
    assert(rows("crd") === ("coordinate", "namd"))
    // case-insensitive
    assert(rows("TPR") === ("coordinate", "gromacs"))
    // "nc" is amber trajectory
    assert(rows("nc") === ("trajectory", "amber"))
    assert(rows("weird") === ("other", "other"))
    assert(rows("pdb") === ("coordinate", "other"))
  }

  test("normalize_text: NFC composes, accent fold strips, ascii unchanged") {
    import graft.functions.NormalizeText
    val df = Seq(
      (1L, "plain ascii"),
      (2L, "café"),  // composed é
      (3L, "café"), // decomposed e + combining acute
      (4L, "à ñ ö"),
    ).toDF("id", "t")
    val got = df.select(col("id"),
        NormalizeText.nfc(col("t")).as("n"),
        NormalizeText.foldAccents(col("t")).as("f"))
      .orderBy("id").collect().map(r => (r.getString(1), r.getString(2)))
    assert(got(0) === (("plain ascii", "plain ascii")))
    assert(got(1) === (("café", "cafe")))
    // decomposed input composes to the SAME bytes as the composed literal
    assert(got(2) === (("café", "cafe")))
    assert(got(3)._2 === "a n o")
    import org.apache.spark.unsafe.types.UTF8String
    // supplementary-plane combining mark (surrogate pair) is stripped too:
    // U+1D167 MUSICAL SYMBOL COMBINING TREMOLO-1 is category Mn
    val astral = "x" + new String(Character.toChars(0x1D167)) + "y"
    val folded = NormalizeText.compute(
      UTF8String.fromString(astral), stripAccents = true).toString
    assert(folded === "xy")
  }
}
