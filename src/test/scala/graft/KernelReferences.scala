package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composable-column golden references for the native kernels in
  * `graft.functions`: the higher-order-function chains each kernel
  * replaced, which DedupSimilaritySpec pins them bit-identical to. */
object KernelReferences {

  /** MinHash signature i: lexicographic min of md5(i:shingle) — the form
    * the DuckDB oracle mirrors, one lane of `DedupOps.minhashSigArray`. */
  def minhashSig(shingleCol: Column, i: Int): Column =
    array_min(transform(shingleCol, x => md5(concat(lit(s"$i:"), x))))

  /** The 16-pass twin of `DedupOps.simhash16`. */
  def simhash16Hof(text: Column): Column = {
    val hashes = transform(split(text, " "), w => md5(w))
    val bits = (1 to 16).map { i =>
      val s = aggregate(hashes, lit(0),
        (acc, h) => acc + when(substring(h, i, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
      when(s > 0, lit(1L << (i - 1))).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The twin of `SimilarityOps.cosine`. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val na = aggregate(transform(a, x => x * x), lit(0.0), _ + _)
    val nb = aggregate(transform(b, x => x * x), lit(0.0), _ + _)
    dot / (sqrt(na) * sqrt(nb))
  }

  // ±1 Rademacher hyperplanes: sign(j,d) = +1 iff the first hex char of
  // md5("j:d") has its high bit set. 16 bits, 4 bands × 4 bits, 64 dims —
  // the shape `SimilarityOps` passes to `VectorKernels.lshBandsCol`.
  private val LshBits = 16
  private val BandBits = 4
  private val Dim = 64

  private def planeSign(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val first = md.digest(s"$j:$d".getBytes("UTF-8"))(0)
    if (((first >> 4) & 0xf) >= 8) 1.0 else -1.0
  }
  private lazy val planes: Seq[Seq[Double]] =
    (0 until LshBits).map(j => (0 until Dim).map(d => planeSign(j, d)))

  /** Signature bit j of an array<double> column: sign of the dot product
    * with hyperplane j. */
  private def lshBit(v: Column, j: Int): Column = {
    val dot = aggregate(
      zip_with(typedLit(planes(j)), v, (s, x) => s * x), lit(0.0), _ + _)
    when(dot > 0, lit(1)).otherwise(lit(0))
  }

  /** One lane of `VectorKernels.lshBandsCol(v, 16, 4, 64)`. */
  def bandValue(v: Column, b: Int): Column =
    (0 until BandBits).map(r => lshBit(v, b * BandBits + r) * lit(1 << r))
      .reduce(_ + _)
}
