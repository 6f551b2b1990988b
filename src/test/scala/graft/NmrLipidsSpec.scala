package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NmrLipidsSource

/** S15 — recursive local-FS scan + flat-YAML parse
  * (scripts/scrape_nmrlipids.py): a deterministic Simulations tree is
  * written to disk, scanned with the distributed file source, and the
  * parsed records compared against a straight sequential walk+parse.
  */
class NmrLipidsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private val seed = 1234567L
  private def mix(z: Long): Long = graft.crawl.SyntheticRepo.mix(z ^ seed)

  /** Deterministic tree: 3 top dirs × up to 4 nested sim dirs; most carry a
    * README.yaml (some without an ID → must be dropped), plus decoy files
    * the scan must ignore. Returns (root, expected valid source_IDs). */
  private def writeTree(): (Path, Set[String]) = {
    val root = java.nio.file.Paths.get(SparkTestSession.scratchDir("nmrlipids"))
    val valid = Set.newBuilder[String]
    (0 until 3).foreach { a =>
      (0 until 1 + (mix(a).abs % 4).toInt).foreach { b =>
        val dir = root.resolve(s"Simulations/batch$a/sim$b/meta")
        Files.createDirectories(dir)
        val id = (mix(a * 100L + b).abs % 100000).toString
        val hasId = mix(a * 31L + b * 7L).abs % 5 != 0
        val temp = 290 + (mix(a + b * 13L).abs % 40)
        val yaml = new StringBuilder("# README\n")
        if (hasId) { yaml ++= s"ID: $id\n"; valid += id }
        yaml ++= s"SOFTWARE: gromacs\nTEMPERATURE: $temp\n"
        yaml ++= s"NUMBER_OF_ATOMS: ${1000 + (mix(b).abs % 5000)}\n"
        Files.writeString(dir.resolve("README.yaml"), yaml.toString)
        // decoys: other yaml names and non-yaml files must not be scanned
        Files.writeString(dir.resolve("notes.txt"), "ID: 999999\n")
        Files.writeString(dir.resolve("OTHER.yaml"), "ID: 888888\n")
      }
    }
    (root, valid.result())
  }

  test("recursive scan finds exactly the README.yaml files") {
    val (root, _) = writeTree()
    val scanned = NmrLipidsSource.scanReadmes(spark, root.toString)
    val paths = scanned.select("path").collect().map(_.getString(0))
    assert(paths.nonEmpty)
    assert(paths.forall(_.endsWith("/README.yaml")))
    // matches a sequential rglob of the same tree
    import scala.jdk.CollectionConverters._
    val expected = Files.walk(root).iterator().asScala
      .count(_.getFileName.toString == "README.yaml")
    assert(paths.length === expected)
  }

  test("parse validates: ID mandatory, fields string-or-null, constants injected") {
    val (root, validIds) = writeTree()
    val parsed = NmrLipidsSource.parseReadmes(
      NmrLipidsSource.scanReadmes(spark, root.toString), "2026-08-16")
    val rows = parsed.collect()
    assert(rows.map(_.getAs[String]("source_ID")).toSet === validIds)
    rows.foreach { r =>
      assert(r.getAs[String]("source") === "NMRLipids")
      assert(r.getAs[String]("licence") === "CC-BY 4.0")
      assert(r.getAs[String]("crawling_date") === "2026-08-16")
      assert(r.getAs[String]("SOFTWARE") === "gromacs")
      assert(r.getAs[String]("TEMPERATURE").toInt >= 290)
      // absent optional fields surface as NULL, not empty string
      assert(r.getAs[String]("DOI") == null)
      assert(r.getAs[String]("TRJLENGTH") == null)
    }
  }
}
