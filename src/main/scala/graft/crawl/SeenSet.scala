package graft.crawl

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen membership state: an exact, authoritative Parquet table of
  * every URL ever enqueued, fronted by per-shard Bloom filters as the fast
  * path. The Bloom may say "maybe seen" for a new URL (false positive) but
  * never "new" for a seen one — so candidates that miss every Bloom are
  * *definitely new* and skip the expensive exact anti-join entirely; only
  * Bloom hits get confirmed against the exact table. The north rule demands
  * exact URL-seen equality: the Bloom can only route, never drop.
  *
  * Sharding: `shard = pmod(xxhash64(url), nShards)`. Per-shard filters keep
  * each filter's size bounded at 10^10-URL scale (a single 10^10-entry 1%
  * filter would be ~12 GB; 4096 shards of ~2.4M entries are ~3 MB each, one
  * per state-table row). The probe cogroups candidates with the state table
  * on the shard hash, so each task touches only its shard's filter bytes —
  * fully distributed, no driver collect, no broadcast. The state table is
  * delta-appended (one small row set per round) and merged per shard inside
  * the probe; Glacier compaction folds deltas back to one row per shard.
  *
  * The reference's analog is the pooch download cache / cumulative dedup
  * (download_files.py:142-187, toolbox.py:192-209) — an O(n²) in-memory
  * list scan whose *semantics* (exact first-wins membership) we keep and
  * whose implementation we replace (SURVEY.md §4).
  */
object SeenSet {

  /** The pluggable fast-path sketch (BASELINE.json north rule: "partitioned
    * Bloom/cuckoo-filter URL-seen set"). Implementations promise
    * never-false-negative membership for every inserted key; the exact
    * table stays authoritative either way, so the choice trades Bloom's
    * smaller bytes against the cuckoo filter's O(1) deletes
    * ([[SeenSet.forgetUrls]]).
    */
  sealed trait SeenSketch extends Serializable {
    /** recorded in snapshot metrics; a resume validates it (CrawlLoop) */
    def tag: Long
    def buildShard(urls: Iterator[String]): Array[Byte]
    def mergeShardBytes(parts: Iterator[Array[Byte]]): Array[Byte]
    /** one-time deserialization → many probes within a cogroup task */
    def prober(bytes: Array[Byte]): String => Boolean
  }

  final case class BloomSeen(expectedPerShard: Long, fpp: Double)
      extends SeenSketch {
    val tag = 0L
    def buildShard(urls: Iterator[String]): Array[Byte] = {
      val f = BloomFilter.create(expectedPerShard, fpp)
      urls.foreach(f.putString)
      serialize(f)
    }
    def mergeShardBytes(parts: Iterator[Array[Byte]]): Array[Byte] =
      serialize(parts.map(BloomFilter.readFrom)
        .reduce((a, b) => a.mergeInPlace(b)))
    def prober(bytes: Array[Byte]): String => Boolean = {
      val f = BloomFilter.readFrom(bytes)
      f.mightContainString _
    }
  }

  final case class CuckooSeen(capacityPerShard: Long) extends SeenSketch {
    val tag = 1L
    /** sorted insert order → reproducible filter bytes (the eviction walk
      * is order-sensitive; Bloom's OR-of-bits is not) */
    def buildShard(urls: Iterator[String]): Array[Byte] = {
      val f = CuckooFilter.create(capacityPerShard)
      urls.toArray.sorted.foreach(f.insert)
      f.serialize()
    }
    def mergeShardBytes(parts: Iterator[Array[Byte]]): Array[Byte] =
      parts.map(CuckooFilter.readFrom)
        .reduce((a, b) => a.mergeInPlace(b)).serialize()
    def prober(bytes: Array[Byte]): String => Boolean = {
      val f = CuckooFilter.readFrom(bytes)
      f.mightContain _
    }
    /** Delete keys from one shard's filter — keys MUST be members of the
      * exact seen table (deleting an absent key could strip a colliding
      * fingerprint copy → false negative; see CuckooFilter contract). */
    def deleteShard(bytes: Array[Byte], urls: Iterator[String]): Array[Byte] = {
      val f = CuckooFilter.readFrom(bytes)
      urls.foreach(f.delete)
      f.serialize()
    }
  }

  /** Custom typed aggregate: per-group Bloom filter over a string column —
    * the one genuinely custom Aggregator in the engine (SURVEY.md §2.10).
    */
  final class BloomAgg(expectedPerShard: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedPerShard, fpp)
    def reduce(b: BloomFilter, url: String): BloomFilter = { b.putString(url); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    def finish(b: BloomFilter): Array[Byte] = serialize(b)
    def bufferEncoder: Encoder[BloomFilter] =
      Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def serialize(b: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }

  def shardCol(url: org.apache.spark.sql.Column, nShards: Int) =
    pmod(xxhash64(url), lit(nShards.toLong)).cast("int")

  /** Build per-shard sketches for a batch of URLs → (shard, bloom,
    * inserted). One shuffle of the raw urls, then one sketch built per
    * shard in a single pass (`groupByKey.mapGroups`). Deliberately NOT the
    * [[BloomAgg]] aggregator: hash-partial aggregation would materialize a
    * java-serialized filter buffer per (task × shard) — measured to
    * collapse scaling at high core counts. BloomAgg remains the
    * typed-aggregate API for ad-hoc use and is covered by its own spec.
    *
    * The `bloom` column name is the historical table schema and holds
    * whichever sketch's bytes. The `inserted` count rides every state row
    * (summed by the fold, decremented by cuckoo deletes) so cumulative
    * per-shard fill is an O(nShards) column-pruned aggregate — never a rescan of the sketch bytes or the
    * exact table. Mis-sized shards degrade FPP silently otherwise; the
    * crawl loop turns this into `sketch_fill_max_pct` /
    * `sketch_saturated_shards` round metrics and a saturation warning. */
  def buildShardsWith(urls: DataFrame, nShards: Int,
                      sk: SeenSketch): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    urls.select(shardCol(col("url"), nShards).as("shard"), col("url"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        var n = 0L
        val bytes = sk.buildShard(it.map { t => n += 1; t._2 })
        (shard, bytes, n)
      }
      .toDF("shard", "bloom", "inserted")
  }

  /** `inserted` for states written before the fill-accounting column
    * existed: 0 (baseline unknown). Every reader goes through this so a
    * resume on a pre-upgrade Glacier root keeps working; its fill metrics
    * under-report until the shards are rebuilt. The coalesce covers the
    * MIXED-era shape too — one table whose older part-files predate the
    * column read it as null when the merged schema carries it. */
  private def insertedOr0(df: DataFrame) =
    if (df.columns.contains("inserted"))
      coalesce(col("inserted").cast("long"), lit(0L)).as("inserted")
    else lit(0L).as("inserted")

  /** Fold a (shard, bloom) state with multiple rows per shard (delta
    * appends) down to one merged row per shard — the compaction transform
    * (`Glacier.compact(spark, "bloom", transformFn =
    * SeenSet.foldShardsWith(_, sk))`). The merge uses only the sketch
    * kind; each row's serialized bytes carry their own sizing.
    */
  def foldShardsWith(state: DataFrame, sk: SeenSketch): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    state.select(col("shard").cast("int"), col("bloom"), insertedOr0(state))
      .as[(Int, Array[Byte], Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        var n = 0L
        val bytes = sk.mergeShardBytes(it.map { r => n += r._3; r._2 })
        (shard, bytes, n)
      }
      .toDF("shard", "bloom", "inserted")
  }

  /** Split `candidates` (must have a `url` column) into definitely-new rows
    * (sketch miss) and rows needing exact confirmation, then anti-join only
    * the latter against the exact seen table. Returns the exactly-new rows.
    *
    * Shard-partitioned probe: candidates are cogrouped with the bloom state
    * table on the shard hash — each task deserializes only its own shard's
    * filter(s), merged locally when the state is delta-appended (one row per
    * shard per committed round). NOTHING is collected to the driver or
    * broadcast: at the 10^10-URL design point (4096 shards × ~3 MB) the
    * state stays distributed; a driver collect+broadcast would move ~12 GB
    * through the driver every round. The probe uses only the sketch kind;
    * the state rows' bytes carry their own sizing.
    */
  def filterNewWith(candidates: DataFrame, state: DataFrame,
                    seenExact: DataFrame, nShards: Int,
                    sk: SeenSketch): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val tagged = candidates.withColumn("__shard", shardCol(col("url"), nShards))
    val outSchema = tagged.schema
      .add("__maybe", org.apache.spark.sql.types.BooleanType)
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val shardIdx = tagged.schema.fieldIndex("__shard")
    val urlIdx = tagged.schema.fieldIndex("url")
    val candByShard = tagged.groupByKey(_.getInt(shardIdx))
    val stateByShard = state.select(col("shard").cast("int"), col("bloom"))
      .as[(Int, Array[Byte])].groupByKey(_._1)
    val flagged = candByShard.cogroup(stateByShard) { (_, cands, parts) =>
      if (!parts.hasNext) cands.map(r => Row.fromSeq(r.toSeq :+ false))
      else {
        val probe = sk.prober(sk.mergeShardBytes(parts.map(_._2)))
        cands.map(r => Row.fromSeq(r.toSeq :+ probe(r.getString(urlIdx))))
      }
    }
    val definitelyNew = flagged.filter(!col("__maybe"))
    val confirmed = flagged.filter(col("__maybe"))
      .join(seenExact.select(col("url").as("__seen_url")),
        col("url") === col("__seen_url"), "left_anti")
    definitelyNew.unionByName(confirmed).drop("__shard", "__maybe")
  }

  /** Re-crawl eligibility ("forget"): remove `urls` from the exact seen
    * table AND the fast-path sketch, returning the new (seenExact, state)
    * pair. Only urls actually present in `seenExact` are touched (the
    * cuckoo delete contract). A [[CuckooSeen]] state deletes in place —
    * one cogroup, O(1) per url; a [[BloomSeen]] state cannot delete, so
    * its affected shards are REBUILT from the exact remainder (the honest
    * cost of Bloom, and the reason the north rule names cuckoo as the
    * alternative). Untouched shards pass through byte-identical on both
    * paths.
    */
  def forgetUrls(seenExact: DataFrame, state: DataFrame, urls: DataFrame,
                 nShards: Int, sk: SeenSketch): (DataFrame, DataFrame) = {
    val spark = seenExact.sparkSession
    import spark.implicits._
    // distinct BEFORE the delete: left_semi keeps duplicate left rows, and a
    // url deleted twice can strip a colliding live key's fingerprint from the
    // cuckoo table (sketch false negative -> duplicate crawl).
    val present = urls.select("url").distinct()
      .join(seenExact.select(col("url").as("__s")), col("url") === col("__s"),
        "left_semi")
      .select(shardCol(col("url"), nShards).as("shard"), col("url"))
    val newSeen = seenExact.join(present.select(col("url").as("__f")),
      col("url") === col("__f"), "left_anti")
    val folded = foldShardsWith(state, sk) // one row per shard before edit
    val newState = sk match {
      case c: CuckooSeen =>
        val byShard = present.as[(Int, String)].groupByKey(_._1)
        val stateByShard = folded.select(col("shard").cast("int"), col("bloom"),
            col("inserted").cast("long"))
          .as[(Int, Array[Byte], Long)].groupByKey(_._1)
        stateByShard.cogroup(byShard) { (shard, parts, dels) =>
          parts.map { case (_, bytes, ins) =>
            if (dels.hasNext) {
              var d = 0L
              val nb = c.deleteShard(bytes, dels.map { x => d += 1; x._2 })
              (shard, nb, ins - d)
            } else (shard, bytes, ins)
          }
        }.toDF("shard", "bloom", "inserted")
      case _ =>
        val touched = present.select("shard").distinct()
        val kept = folded.join(touched.withColumnRenamed("shard", "__t"),
          col("shard") === col("__t"), "left_anti")
        val rebuilt = buildShardsWith(
          newSeen.withColumn("__shard", shardCol(col("url"), nShards))
            .join(touched.withColumnRenamed("shard", "__t"),
              col("__shard") === col("__t"), "left_semi")
            .select("url"),
          nShards, sk)
        kept.unionByName(rebuilt)
    }
    (newSeen, newState)
  }
}
