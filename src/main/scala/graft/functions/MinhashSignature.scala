package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel computing the full MinHash signature of a shingle array
  * in ONE pass: for permutation p ∈ [0, perms),
  * `min_lex(md5_hex("p:" || shingle))` over all shingles — bit-identical
  * to the composable-column form
  * `array_min(transform(sh, x => md5(concat(lit("p:"), x))))` evaluated
  * per permutation (the golden reference in the test tree; the DuckDB
  * oracle mirrors that form), but:
  *
  *  - the shingle array is traversed ONCE instead of `perms` times, with
  *    one UTF8String→bytes conversion per shingle instead of `perms`
  *    concat+convert rounds;
  *  - per-permutation minima are tracked as raw 16-byte digests (hex
  *    lexicographic order == digest byte order, both fixed-width), so no
  *    intermediate hex strings or arrays materialize;
  *  - the digest buffer and prefix bytes are reused across the row — the
  *    allocation profile the crawl's parse-side sketcher already uses
  *    (PageParser.sketch).
  *
  * `DedupOps.minhashSigArray` calls it through [[Kernel]] (a static call
  * inside whole-stage codegen: no UDF boundary, no iterator break). Used
  * by the LSH dedup flagships (`q_minhash_sig`, `q_minhash_pairs`,
  * `q_jaccard_lsh`, `q_dedup_clusters`).
  */
object MinhashSignature {
  private val HexChars = "0123456789abcdef".toCharArray

  /** Single-pass signature kernel. One hex digest per permutation; an
    * empty input gives null elements (the `array_min` of an empty
    * transform), which callers filter upstream. */
  def compute(shingles: ArrayData, perms: Int): ArrayData = {
    val n = shingles.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
    // per-perm current minimum digest; null = nothing seen yet
    val mins = new Array[Array[Byte]](perms)
    val prefixes = Array.tabulate(perms)(p =>
      (p + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val sBytes = shingles.getUTF8String(i).getBytes
        var p = 0
        while (p < perms) {
          md.reset()
          md.update(prefixes(p))
          md.update(sBytes)
          md.digest(out, 0, 16)
          if (mins(p) == null) mins(p) = out.clone()
          else if (compareUnsigned(out, mins(p)) < 0)
            System.arraycopy(out, 0, mins(p), 0, 16)
          p += 1
        }
      }
      i += 1
    }
    val result = new Array[Any](perms)
    var p = 0
    while (p < perms) {
      result(p) = if (mins(p) == null) null else UTF8String.fromString(hex(mins(p)))
      p += 1
    }
    new GenericArrayData(result)
  }

  private def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    0
  }

  private def hex(bytes: Array[Byte]): String = {
    val sb = new Array[Char](32)
    var i = 0
    while (i < 16) {
      sb(2 * i) = HexChars((bytes(i) >> 4) & 0xf)
      sb(2 * i + 1) = HexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(sb)
  }
}
