package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The registry golden: every driver-contract entry, pinned as data.
  *
  *  - the set of entry names;
  *  - each entry's `oracleSql` text, by sha256 (the texts are frozen: the
  *    driver hashes them);
  *  - each non-crawl entry's result at sf0.001: row count and
  *    order-insensitive checksum ([[Fingerprint.of]]), which must also
  *    hold at [[EntryRegistrySpec.OddPartitions]] shuffle partitions;
  *  - how many persisted RDDs each non-crawl entry leaves once its result
  *    is collected ([[EntryRegistrySpec.PinnedRdds]]; 0 for all others).
  *
  * The golden (`src/test/resources/entry_registry_golden.tsv`) is written
  * by this object's `main` from a commit whose entries are trusted:
  *
  *   sbt "Test/runMain graft.EntryRegistrySpec /root/testdata/sf0.001 \
  *     src/test/resources/entry_registry_golden.tsv"
  *
  * It is a refactoring guard: regenerate it only on the commit before a
  * change, never to make a failing run pass. Entries whose output differs
  * between two runs of the same code pin only their row count
  * ([[EntryRegistrySpec.RowsOnly]], with the reason).
  */
class EntryRegistrySpec extends AnyFunSuite {
  import EntryRegistrySpec._

  private lazy val spark = SparkTestSession.get
  private lazy val golden: Map[String, Golden] = load()

  test("the entry-name set is pinned") {
    val names = SparkEntry.allEntries.map(_.name)
    assert(names.distinct.size === names.size, "duplicate entry names")
    assert(names.sorted === golden.keys.toSeq.sorted)
  }

  test("every oracle text matches its recorded sha256") {
    val oracles = SparkEntry.oracleSql
    val changed = golden.values.toSeq.sortBy(_.name).collect {
      case g if oracles.get(g.name).map(sha256) != g.oracleSha => g.name
    }
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }

  /** Drop whatever earlier tests or specs left pinned in the shared
    * session, so a persisted RDD is charged to the entry that made it. */
  private def clearPinned(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def assertGolden(name: String, rows: Long, checksum: Long): Unit = {
    val g = golden.getOrElse(name, fail(s"$name is not in the golden"))
    assert(Some(rows) === g.rows, "row count")
    if (!RowsOnly.contains(name)) assert(Some(checksum) === g.checksum)
  }

  SparkEntry.allEntries.filterNot(e => isCrawl(e.name)).foreach { e =>
    test(s"${e.name}: rows and checksum match the golden at sf0.001") {
      clearPinned()
      val (fingerprint, pinned) =
        try (Fingerprint.of(e.fn(spark, Sf)),
          spark.sparkContext.getPersistentRDDs.size)
        finally spark.catalog.clearCache()
      assertGolden(e.name, fingerprint._1, fingerprint._2)
      assert(pinned === PinnedRdds.getOrElse(e.name, 0),
        "persisted RDDs left once the result is collected")
    }
  }

  SparkEntry.allEntries.filterNot(e => isCrawl(e.name)).foreach { e =>
    test(s"${e.name}: the golden holds at $OddPartitions shuffle partitions") {
      clearPinned()
      val key = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(key)
      spark.conf.set(key, OddPartitions.toString)
      val (rows, checksum) =
        try Fingerprint.of(e.fn(spark, Sf))
        finally {
          spark.conf.set(key, before)
          spark.catalog.clearCache()
        }
      assertGolden(e.name, rows, checksum)
    }
  }
}

object EntryRegistrySpec {
  val Sf = "/root/testdata/sf0.001"

  /** Entries whose rows differ between two runs of the same code: only
    * the row count is pinned. */
  val RowsOnly: Map[String, String] = Map()

  /** A shuffle-partition count unlike the session's (one per core), so
    * every hash-partitioned stage splits its keys differently. */
  val OddPartitions = 7

  /** Entries that leave persisted RDDs behind once their result is
    * collected, with how many. `Verify` and `Bench` release them with
    * `clearCache()` between queries; every other entry leaves none. */
  val PinnedRdds: Map[String, Int] = Map(
    "q_ngram_jaccard" -> 1, "q_jaccard_lsh" -> 1, "q_containment" -> 1,
    "q_incremental_neardup" -> 2, "q_sketch_merge" -> 2,
    "q_fuzzy_id_pairs" -> 1, "q_term_salience" -> 1,
    "q_inverted_index" -> 1, "q_bm25" -> 1, "q_cosine_pairs_index" -> 2,
    "q_dist_drift" -> 1, "q_pmi" -> 1, "q_triangle_count" -> 1,
    "q_pagerank" -> 2, "q_frontier_drain" -> 1,
  )

  /** Crawl entries run the synthetic crawl, not the sf tables, and have no
    * oracle: pinned by name only; `CrawlParitySpec` checks their content. */
  def isCrawl(name: String): Boolean = name.startsWith("q_crawl_")

  final case class Golden(name: String, rows: Option[Long],
      checksum: Option[Long], oracleSha: Option[String])

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def field(s: String): Option[String] = Some(s).filter(_ != "-")

  def load(): Map[String, Golden] = {
    val in = getClass.getResourceAsStream("/entry_registry_golden.tsv")
    require(in != null, "entry_registry_golden.tsv is not on the classpath")
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filterNot(_.startsWith("#")).map { l =>
      val Array(name, rows, checksum, oracle) = l.split("\t")
      name -> Golden(name, field(rows).map(_.toLong),
        field(checksum).map(_.toLong), field(oracle))
    }.toMap
  }

  /** Write the golden: `<sfDir> <out.tsv>`. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = SparkTestSession.get
    val oracles = SparkEntry.oracleSql
    val lines = SparkEntry.allEntries.sortBy(_.name).map { e =>
      val (rows, checksum) =
        if (isCrawl(e.name)) ("-", "-")
        else {
          val (r, c) = try Fingerprint.of(e.fn(spark, sfDir))
            finally spark.catalog.clearCache()
          (r.toString, if (RowsOnly.contains(e.name)) "-" else c.toString)
        }
      Seq(e.name, rows, checksum, oracles.get(e.name).map(sha256).getOrElse("-"))
        .mkString("\t")
    }
    Files.write(Paths.get(out),
      ("# name\trows\tchecksum\toracle_sha256\n" + lines.mkString("", "\n", "\n"))
        .getBytes(UTF_8))
    spark.stop()
  }
}
