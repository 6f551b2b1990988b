package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for Unicode text canonicalization — the first
  * normalization pass of any multilingual training-data pipeline (the same
  * logical text must dedup/fingerprint identically whether a crawler
  * delivered it composed or decomposed):
  *
  *  - `stripAccents = false`: NFC canonical composition (é as e+◌́ and é as
  *    one code point become the same bytes);
  *  - `stripAccents = true`: NFD decomposition, combining marks dropped,
  *    recomposed to NFC — the classic accent fold (é→e, ö→o, ñ→n), matching
  *    DuckDB/utf8proc `strip_accents` on Latin text (the oracle pins it).
  *
  * Spark has no normalizer built-in, and a Scala UDF would break
  * whole-stage codegen around a per-row operation that sits in the hottest
  * scan of the pipeline — so the Columns call the static `compute` through
  * [[Kernel]] (`java.text.Normalizer` under the hood, already ICU-correct
  * in the JDK). ASCII rows short-circuit without allocating.
  */
object NormalizeText {
  import java.text.Normalizer

  private def normalize(c: Column, stripAccents: Boolean): Column =
    Kernel.call(this, "compute", StringType)(
      c -> StringType, lit(stripAccents) -> BooleanType)

  /** NFC composition as a Column. */
  def nfc(c: Column): Column = normalize(c, stripAccents = false)

  /** Accent fold (NFD → drop marks → NFC) as a Column. */
  def foldAccents(c: Column): Column = normalize(c, stripAccents = true)

  /** NFC of `s`, or its accent fold when `stripAccents`. */
  def compute(s: UTF8String, stripAccents: Boolean): UTF8String = {
    // fast path: pure-ASCII bytes are NFC-normal and accent-free already
    val n = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < n) { if ((s.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) return s
    val str = s.toString
    val out =
      if (!stripAccents) Normalizer.normalize(str, Normalizer.Form.NFC)
      else {
        val d = Normalizer.normalize(str, Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(d.length)
        // iterate CODE POINTS, not chars: a supplementary-plane combining
        // mark (surrogate pair) must be stripped too, or the fold diverges
        // from utf8proc/strip_accents on non-BMP text
        var j = 0
        while (j < d.length) {
          val cp = d.codePointAt(j)
          if (Character.getType(cp) != Character.NON_SPACING_MARK)
            sb.appendCodePoint(cp)
          j += Character.charCount(cp)
        }
        Normalizer.normalize(sb.toString, Normalizer.Form.NFC)
      }
    UTF8String.fromString(out)
  }
}
