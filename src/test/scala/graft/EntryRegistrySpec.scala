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
  *    order-insensitive checksum ([[Fingerprint.of]]).
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

  SparkEntry.allEntries.filterNot(e => isCrawl(e.name)).foreach { e =>
    test(s"${e.name}: rows and checksum match the golden at sf0.001") {
      val g = golden.getOrElse(e.name, fail(s"${e.name} is not in the golden"))
      val (rows, checksum) =
        try Fingerprint.of(e.fn(spark, Sf))
        finally spark.catalog.clearCache()
      assert(Some(rows) === g.rows, "row count")
      if (!RowsOnly.contains(e.name)) assert(Some(checksum) === g.checksum)
    }
  }
}

object EntryRegistrySpec {
  val Sf = "/root/testdata/sf0.001"

  /** Entries whose rows differ between two runs of the same code: only
    * the row count is pinned. */
  val RowsOnly: Map[String, String] = Map()

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
