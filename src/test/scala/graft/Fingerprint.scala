package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

/** Order-insensitive result fingerprint shared by the specs that pin an
  * entry's output. */
object Fingerprint {

  /** (rows, checksum): the wrapping sum of one xxhash64 per row over every
    * column — independent of row order and of the JVM time zone
    * (timestamps hash as epoch micros). */
  def of(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.toSeq.map(col): _*))
      .collect().map(_.getLong(0))
    (hs.length.toLong, hs.sum)
  }
}
