package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions re-expressing the reference's validators / normalizers
  * (SURVEY.md §2.8). Everything here is pure `Column` expressions over Spark
  * built-ins — codegen'd, NULL-propagating, usable inside whole-stage
  * codegen — except the two formatting functions that need Python-exact
  * rounding (`humanReadablePy`, `byteSizeHumanPy`), which are deterministic
  * Scala UDFs.
  */
object TextFunctions {

  // --- C2: strip_whitespace (core/toolbox.py:228-245) ---------------------
  /** `[\n\r\t]` → space, then 2+ spaces → one space. */
  def stripWhitespace(c: Column): Column =
    regexp_replace(regexp_replace(c, "[\\n\\r\\t]", " "), " {2,}", " ")

  // --- C1: strip_html (core/toolbox.py:212-225) ----------------------------
  /** Tag removal + decode of the common HTML entities. The reference uses
    * BeautifulSoup text extraction; this covers the tag/entity grammar our
    * span documents emit (divergence on exotic entities is out of scope and
    * pinned by our own fixtures, not the reference's).
    */
  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", "")
    Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (col, (ent, ch)) =>
        regexp_replace(col, ent, java.util.regex.Matcher.quoteReplacement(ch))
      }
  }

  // --- C3: clean_text = strip_html ∘ strip_whitespace ----------------------
  def cleanText(c: Column): Column = stripWhitespace(stripHtml(c))

  // --- C4: file extension, Python Path.suffix semantics --------------------
  /** Extension of the basename, without the dot; "" when none. Matches the
    * reference's pinned table (models/file.py:67-80,
    * tests/models/test_file.py:60-82): `archive.tar.gz → gz`,
    * `no_extension_file → ""`, and `.hidden → ""` (a leading dot is not an
    * extension separator, per pathlib).
    */
  def fileType(name: Column): Column = {
    val base = regexp_extract(name, "([^/]*)$", 1)
    regexp_extract(base, "[^.]\\.([^./]+)$", 1)
  }

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

  /** Python-exact human-readable size (reference toolbox.py:543-566):
    * `f"{size:.2f} {unit}"` = round-half-even over the double's exact decimal
    * expansion. Deterministic UDF; use only where byte-parity with the
    * reference's formatter matters (golden tests) — the oracle-checked path
    * uses `humanSizeInt`.
    */
  val humanSizePyUdf = udf { (bytes: java.lang.Double) =>
    if (bytes == null) null
    else {
      var size = bytes.doubleValue()
      if (size < 0) "Negative size!"
      else {
        var result: String = null
        for (u <- Seq("B", "KB", "MB", "GB", "TB") if result == null) {
          if (size < 1000.0) {
            val s = new java.math.BigDecimal(size)
              .setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString
            result = s"$s $u"
          } else size /= 1000.0
        }
        if (result == null) "File too big!" else result
      }
    }
  }

  // --- C6/C19: ByteSize parse (models/file.py:48-65 + pydantic ByteSize) ---
  private val unitMultipliers: Map[String, Double] = Map(
    "b" -> 1d, "kb" -> 1e3, "mb" -> 1e6, "gb" -> 1e9, "tb" -> 1e12,
    "pb" -> 1e15, "eb" -> 1e18,
    "kib" -> 1024d, "mib" -> math.pow(1024, 2), "gib" -> math.pow(1024, 3),
    "tib" -> math.pow(1024, 4), "pib" -> math.pow(1024, 5),
  )

  /** "24.4 kB" → 24400; "689 Bytes" → 689 ("bytes" normalized to "b" first,
    * file.py:48-65); truncates toward zero like pydantic's `int(...)`.
    * Pure column expressions so a SQL oracle can mirror it exactly.
    */
  def parseByteSize(c: Column): Column = {
    val s = lower(trim(c))
    val norm = regexp_replace(s, "bytes", "b")
    val num = regexp_extract(norm, "([-+]?[0-9]*\\.?[0-9]+)", 1).cast("double")
    val unit = trim(regexp_extract(norm, "([a-z]+)\\s*$", 1))
    val mult = unitMultipliers.foldLeft(when(unit === "", 1d)) {
      case (w, (u, m)) => w.when(unit === u, m)
    }
    floor(num * mult).cast("long")
  }

  // --- C7: date normalization (models/dataset.py:166-187) ------------------
  /** datetime / ISO string → `%Y-%m-%dT%H:%M:%S`. */
  def normalizeDate(c: Column): Column =
    date_format(c.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss")

  // --- C8: temperature → Kelvin (models/simulation.py:227-278) -------------
  /** First float (scientific notation allowed) from the lowercased string;
    * +273.15 iff the string contains "c" or the value is negative.
    */
  def temperatureToKelvin(c: Column): Column = {
    val s = lower(trim(c))
    val v = regexp_extract(s, "([-+]?[0-9]*\\.?[0-9]+([eE][-+]?[0-9]+)?)", 1)
      .cast("double")
    when(v.isNull, lit(null).cast("double"))
      .when(s.contains("c") || v < 0, v + 273.15)
      .otherwise(v)
  }

  // --- C9: strictly-positive check w/ unit strings (simulation.py:174-225) -
  def isPositiveSimValue(c: Column): Column = {
    val v = regexp_extract(c.cast("string"), "([-+]?[0-9]*\\.?[0-9]+)", 1)
      .cast("double")
    v.isNotNull && v > 0
  }

  // --- C10: DOI pattern (models/dataset.py:19-22) ---------------------------
  def isValidDoi(c: Column): Column = c.rlike("^10\\.\\d{4,9}/[\\w\\-./]+$")

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
