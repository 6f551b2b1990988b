package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the similarity hot paths, each called through
  * [[Kernel]] as one static call inside whole-stage codegen. They replace
  * chains of higher-order functions (`aggregate`/`zip_with`/`transform`)
  * that are interpreted per element (lambda dispatch + boxing per array
  * slot) and sit inside the quadratic pair-expansion loops of the
  * similarity flagships. Every kernel reproduces the composable form's
  * IEEE operation order exactly (left-to-right folds, same null padding),
  * so results are bit-identical — pinned against the composable golden
  * references by DedupSimilaritySpec.
  */
object VectorKernels {

  /** cosine(a, b) = dot/(sqrt(na)·sqrt(nb)) with sequential left-to-right
    * accumulation — bit-identical to
    * `aggregate(zip_with(a,b,_*_),0.0,_+_) / (sqrt(aggregate(transform(a,x*x)))
    *  · sqrt(...))` including the null semantics: a null element (or a
    * length mismatch, which zip_with pads with nulls) nulls the dot
    * product and so the whole expression, as does a null array; boxed so
    * it can return null. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  // sign matrix cache keyed by (lshBits, dim) — tiny, computed once per JVM
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def signs(lshBits: Int, dim: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((lshBits, dim), { case (bits, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(bits) { j =>
        Array.tabulate(d) { k =>
          md.reset()
          val first = md.digest(s"$j:$k".getBytes("UTF-8"))(0)
          if (((first >> 4) & 0xf) >= 8) 1.0 else -1.0
        }
      }
    })

  /** All `lshBits / bandBits` random-hyperplane LSH band values of an
    * array<double> in ONE pass over the vector — bit-identical per band to
    * the composable `Σ_r when(dot_j > 0, 1, 0)·2^r` form where
    * `dot_j = aggregate(zip_with(planes(j), v, _*_), 0.0, _+_)`: each
    * bit's dot accumulates in dimension order, and any null element /
    * length mismatch (zip_with pads with nulls) nulls every dot, turning
    * all bits 0 via the `otherwise(0)` branch. Plane signs are the
    * md5-derived Rademacher matrix (sign(j,d) = +1 iff the first hex char
    * of md5("j:d") has its high bit set). */
  def lshBands(v: ArrayData, lshBits: Int, bandBits: Int, dim: Int): ArrayData = {
    val nBands = lshBits / bandBits
    val out = new Array[Any](nBands)
    val n = v.numElements()
    // HOF twin: zip_with pads length mismatches with null and a null
    // element nulls every dot -> when(null > 0) takes otherwise(0)
    var clean = n == dim
    var i = 0
    while (clean && i < n) {
      if (v.isNullAt(i)) clean = false
      i += 1
    }
    if (!clean) {
      java.util.Arrays.fill(out.asInstanceOf[Array[Object]], Integer.valueOf(0))
      return new GenericArrayData(out)
    }
    val sm = signs(lshBits, dim)
    val dots = new Array[Double](lshBits)
    var d = 0
    while (d < dim) {
      val x = v.getDouble(d)
      var j = 0
      while (j < lshBits) {
        dots(j) += sm(j)(d) * x
        j += 1
      }
      d += 1
    }
    var b = 0
    while (b < nBands) {
      var bv = 0
      var r = 0
      while (r < bandBits) {
        if (dots(b * bandBits + r) > 0) bv |= 1 << r
        r += 1
      }
      out(b) = bv
      b += 1
    }
    new GenericArrayData(out)
  }

  /** 16-bit SimHash of a text in ONE pass — bit-identical to the
    * composable form (split on single space, md5 per word, per hex digit
    * 1..16 a ±1 majority counter, bit i set iff counter > 0): hex digit i
    * of the digest is nibble i, whose high bit is set iff the nibble
    * value ≥ 8. Split semantics match `split(text, " ")` (Java regex
    * split with limit -1: trailing empty strings kept, "" yields [""]). */
  def simhash16(text: UTF8String): Long = {
    // split(text, " ") semantics: Java regex split, limit -1
    val words = text.toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counters = new Array[Int](16)
    var w = 0
    while (w < words.length) {
      md.reset()
      md.update(words(w).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val dg = md.digest()
      // hex digits 1..16 = nibbles of the first 8 bytes
      var i = 0
      while (i < 16) {
        val byte = dg(i / 2)
        val nib = if (i % 2 == 0) (byte >> 4) & 0xf else byte & 0xf
        if (nib >= 8) counters(i) += 1 else counters(i) -= 1
        i += 1
      }
      w += 1
    }
    var res = 0L
    var i = 0
    while (i < 16) {
      if (counters(i) > 0) res |= 1L << i
      i += 1
    }
    res
  }

  // ---- Column builders ------------------------------------------------------
  private val Vec = ArrayType(DoubleType)

  def cosineCol(a: Column, b: Column): Column =
    Kernel.call(this, "cosine", DoubleType, nullable = true)(a -> Vec, b -> Vec)

  def lshBandsCol(v: Column, lshBits: Int, bandBits: Int, dim: Int): Column =
    Kernel.call(this, "lshBands", ArrayType(IntegerType, containsNull = false))(
      v -> Vec, lit(lshBits) -> IntegerType, lit(bandBits) -> IntegerType,
      lit(dim) -> IntegerType)

  def simhash16Col(text: Column): Column =
    Kernel.call(this, "simhash16", LongType)(text -> StringType)
}
