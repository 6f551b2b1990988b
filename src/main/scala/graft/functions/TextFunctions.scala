package graft.functions

import graft.model.Validators
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's validators and normalizers (SURVEY.md §2.8) as Columns.
  *
  * A rule the crawl also runs has one implementation, in
  * [[graft.model.Validators]]: its Column here is one [[Kernel]] call of a
  * static `UTF8String` adapter of that rule, defined next to the builder
  * under the same name. Where the rule returns an `Option` the kernel is
  * `nullable`, and both a NULL argument and None give NULL; otherwise a
  * NULL argument gives NULL without calling the rule. The other rules are
  * Spark built-in expressions, except `humanSizeInt`, a deterministic UDF.
  */
object TextFunctions {
  private def rule[A](s: UTF8String)(f: String => Option[A]): Option[A] =
    Option(s).flatMap(u => f(u.toString))

  // --- C2: strip_whitespace (core/toolbox.py:228-245) ---------------------
  /** `[\n\r\t]` → space, then 2+ spaces → one space. */
  def stripWhitespace(c: Column): Column =
    regexp_replace(regexp_replace(c, "[\\n\\r\\t]", " "), " {2,}", " ")

  // --- C1/C3: clean_text = strip_html ∘ strip_whitespace -------------------
  /** [[Validators.cleanText]]: tags removed, entities decoded, whitespace
    * collapsed, trimmed. */
  def cleanText(c: Column): Column =
    Kernel.call(this, "cleanText", StringType)(c -> StringType)
  def cleanText(s: UTF8String): UTF8String =
    UTF8String.fromString(Validators.cleanText(s.toString))

  // --- C4: file extension, Python Path.suffix semantics --------------------
  /** [[Validators.fileType]]: extension of the basename without the dot,
    * "" when none (`archive.tar.gz → gz`, `.hidden → ""`, `a..b → b`). */
  def fileType(c: Column): Column =
    Kernel.call(this, "fileType", StringType)(c -> StringType)
  def fileType(s: UTF8String): UTF8String =
    UTF8String.fromString(Validators.fileType(s.toString))

  // --- C5: human-readable size, reference toolbox.py:543-566 ---------------
  /** Integer-exact variant: same unit ladder, 2-decimal HALF_UP rounding
    * done purely in integer arithmetic (`(b*100 + d/2) div d`) so Spark and
    * any SQL oracle (`//` in DuckDB) agree bit-for-bit at any magnitude.
    * Deterministic UDF on integral bytes.
    */
  val humanSizeInt = udf { (bytes: java.lang.Long) =>
    if (bytes == null) null
    else {
      val b = BigInt(bytes.longValue())
      if (b < 0) "Negative size!"
      else if (b >= BigInt("1000000000000000")) "File too big!"
      else {
        val (divisor, unit) =
          if (b < 1000L) (BigInt(1), "B")
          else if (b < 1000000L) (BigInt(1000), "KB")
          else if (b < 1000000000L) (BigInt(1000000), "MB")
          else if (b < 1000000000000L) (BigInt(1000000000), "GB")
          else (BigInt("1000000000000"), "TB")
        val cents = (b * 100 + divisor / 2) / divisor
        f"${cents / 100}.${(cents % 100).toInt}%02d $unit"
      }
    }
  }

  // --- C6/C19: ByteSize parse (models/file.py:48-65 + pydantic ByteSize) ---
  /** [[Validators.parseByteSizeText]]: "24.4 kB" → 24400, "689 Bytes" →
    * 689; NULL without a number or with an unknown unit. */
  def parseByteSize(c: Column): Column =
    Kernel.call(this, "parseByteSize", LongType, nullable = true)(c -> StringType)
  def parseByteSize(s: UTF8String): java.lang.Long =
    rule(s)(Validators.parseByteSizeText).map(Long.box).orNull

  // --- C7: date normalization (models/dataset.py:166-187) ------------------
  /** [[Validators.normalizeDate]]: `yyyy-MM-dd[T ]HH:mm:ss…` or
    * `yyyy-MM-dd` → `%Y-%m-%dT%H:%M:%S`; NULL otherwise. A date or
    * timestamp argument is cast to its string form first. */
  def normalizeDate(c: Column): Column =
    Kernel.call(this, "normalizeDate", StringType, nullable = true)(c -> StringType)
  def normalizeDate(s: UTF8String): UTF8String =
    rule(s)(Validators.normalizeDate).map(UTF8String.fromString).orNull

  // --- C8: temperature → Kelvin (models/simulation.py:227-278) -------------
  /** [[Validators.temperatureToKelvin]]: first number, +273.15 iff the
    * string contains "c" or the value is negative; NULL without a number. */
  def temperatureToKelvin(c: Column): Column =
    Kernel.call(this, "temperatureToKelvin", DoubleType, nullable = true)(
      c -> StringType)
  def temperatureToKelvin(s: UTF8String): java.lang.Double =
    rule(s)(Validators.temperatureToKelvin).map(Double.box).orNull

  // --- C10: DOI pattern (models/dataset.py:19-22) ---------------------------
  /** [[Validators.validDoi]]. */
  def isValidDoi(c: Column): Column =
    Kernel.call(this, "isValidDoi", BooleanType)(c -> StringType)
  def isValidDoi(s: UTF8String): Boolean = Validators.validDoi(s.toString)

  // --- C11: md5 prefix strip (scrapers/zenodo.py:355) -----------------------
  def stripMd5Prefix(c: Column): Column = regexp_replace(c, "^md5:", "")

  // --- C12: keyword join (scripts/scrape_osf.py:336-339) -------------------
  def joinKeywords(c: Column): Column = concat_ws(";", c)

  // --- C13: thermostat / barostat normalization (parse_mdp_files.py:37-52) --
  val thermostats: Map[String, String] = Map(
    "no" -> "no", "berendsen" -> "Berendsen", "nosehoover" -> "Nose-Hoover",
    "andersen" -> "Andersen", "andersenmassive" -> "Andersen-massive",
    "vrescale" -> "V-rescale")
  val barostats: Map[String, String] = Map(
    "no" -> "no", "berendsen" -> "Berendsen", "crescale" -> "C-rescale",
    "parrinellorahman" -> "Parrinello-Rahman", "mttk" -> "MTTK")

  /** lower + strip `-`/`_` + table lookup; miss → "unknown", null →
    * "undefined" (parse_mdp_files.py:146-194).
    */
  def normalizeCoupling(c: Column, table: Map[String, String]): Column = {
    val key = regexp_replace(lower(c), "[-_]", "")
    val looked = table.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(key === k, v).otherwise(acc)
    }
    when(c.isNull, "undefined").otherwise(coalesce(looked, lit("unknown")))
  }
  def normalizeThermostat(c: Column): Column = normalizeCoupling(c, thermostats)
  def normalizeBarostat(c: Column): Column = normalizeCoupling(c, barostats)
}
