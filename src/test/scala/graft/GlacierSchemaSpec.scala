package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl._
import graft.crawl.CrawlLoop.CrawlConfig
import graft.model._
import graft.tables.Glacier

/** Glacier tables carry the schema they were written with: every read
  * passes the recorded schema to the scan instead of inferring it, and
  * gets the same relation, rows and checksum a bare parquet read gets. A
  * table whose dirs were written with differing schemas, or a manifest
  * from before the field existed, records none and reads by inference.
  */
class GlacierSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    SparkTestSession.scratchDir(prefix)

  /** The analyzed plan with expression ids masked: two reads of the same
    * files differ only in those. */
  private def analyzed(df: DataFrame): String =
    df.queryExecution.analyzed.treeString.replaceAll("#\\d+L?", "")

  /** `viaGlacier` is the relation a bare parquet read of `files` gives. */
  private def assertSameAsInference(what: String, viaGlacier: DataFrame,
                                    files: Seq[String]): Unit = {
    val inferred = spark.read.parquet(files: _*)
    assert(viaGlacier.schema === inferred.schema, what)
    assert(analyzed(viaGlacier) === analyzed(inferred), what)
    assert(Fingerprint.of(viaGlacier) === Fingerprint.of(inferred), what)
  }

  /** Spark jobs started by `body` on this thread: its jobs run under a
    * unique job group; a fence job in a second group, seen after them on
    * the in-order listener queue, makes the count final. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"schema-probe-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`)                   => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-fence" => fence.countDown()
          case _                             => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "schema probe")
      body
      sc.setJobGroup(s"$tag-fence", "schema probe fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, TimeUnit.SECONDS), "listener fence never arrived")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every table of a crawl + download + export root reads as inference does") {
    val root = tmpRoot("glacier-schema-crawl")
    val repo = RepoConfig(seed = 42L, universe = 400,
      fileTypes = Seq("gro", "mdp"), pageSize = 20, maxHitsPerQuery = 100,
      cursorPages = 6, gpcrmdCount = 30, mddbCount = 35, atlasCount = 25)
    val budget = Map("zenodo" -> 80, "figshare" -> 50, "osf" -> 60,
      "nomad" -> 5, "gpcrmd" -> 40, "mddb" -> 30, "atlas" -> 36)
    val g = CrawlLoop.run(spark, CrawlConfig(repo, budget, 1, root,
      salts = 4, bloomShards = 8, bloomExpectedPerShard = 1L << 12))
    DownloadStage.run(spark, g, repo, Seq("gro", "mdp"), withZipFiles = true)
    ExportStage.run(spark, g)
    val tables = g.currentManifest.get.tables
    assert(tables.keySet.contains("export_datasets") &&
      tables.keySet.contains("download_cache") && tables.size > 15,
      tables.keySet)
    tables.toSeq.sortBy(_._1).foreach { case (t, st) =>
      // every table of a crawl is written with one schema per table
      assert(st.schema.isDefined, s"$t records no schema")
      assertSameAsInference(t, g.read(spark, t).get, st.files)
    }
  }

  test("building a Glacier frame with a recorded schema fires no Spark job") {
    val g = new Glacier(tmpRoot("glacier-schema-jobs"))
    val s1 = g.commit(spark, Seq(g.TableWrite("t",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), g.Append)))
    val s2 = g.commit(spark, Seq(g.TableWrite("t",
      Seq((3L, "c")).toDF("k", "v"), g.Append)))
    g.setRef("release")
    val staged = g.stageCommit(spark, Seq(g.TableWrite("t",
      Seq((4L, "d")).toDF("k", "v"), g.Append)))
    val pending = g.commitPipelined(spark, Seq(g.TableWrite("t",
      Seq((5L, "e")).toDF("k", "v"), g.Append, barrier = true)))
    pending.await() // the handle keeps serving its staged view
    g.buildBloomIndex(spark, "t", "v")
    val reads: Seq[(String, () => Option[DataFrame])] = Seq(
      "read" -> (() => g.read(spark, "t")),
      "read at a snapshot" -> (() => g.read(spark, "t", Some(s1))),
      "PendingCommit.read" -> (() => pending.read(spark, "t")),
      "readBetween" -> (() => g.readBetween(spark, "t", "k", 1L, 2L)),
      "readChanges" -> (() => g.readChanges(spark, "t", s1, s2)),
      "readStaged" -> (() => g.readStaged(spark, staged, "t")),
      "readRef" -> (() => g.readRef(spark, "t", "release")),
      "readPoint" -> (() => g.readPoint(spark, "t", "v", "b")))
    reads.foreach { case (name, f) =>
      var df: Option[DataFrame] = None
      assert(jobsDuring { df = f() } === 0, name)
      assert(df.exists(_.columns.toSeq == Seq("k", "v")), name)
    }
    // the probe does see the inference job a bare read pays
    val dirs = g.currentManifest.get.tables("t").files
    assert(jobsDuring { spark.read.parquet(dirs: _*) } >= 1)
    assert(g.read(spark, "t").get.as[(Long, String)].collect().sorted ===
      Array((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")))
  }

  test("a manifest written without the schema field still reads") {
    val root = tmpRoot("glacier-schema-old")
    val dir = s"$root/data/snap-1/t"
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.parquet(dir)
    val name = scala.util.Using.resource(Files.list(Paths.get(dir)))(
      _.iterator().asScala.map(_.getFileName.toString)
        .find(_.endsWith(".parquet")).get)
    Files.createDirectories(Paths.get(root, "meta"))
    Files.writeString(Paths.get(root, "meta", "snap-1.json"),
      s"""{"snapshotId": 1, "tables": {"t": {"files": ["$dir"], "rows": 2,
         |  "partitions": [{"path": "$name", "bytes": 1}]}},
         |  "metrics": {}, "note": "hand-written"}""".stripMargin)
    Files.writeString(Paths.get(root, "meta", "CURRENT"), "1")
    val g = new Glacier(root)
    assert(g.manifest(1).tables("t").schema.isEmpty)
    assertSameAsInference("pre-schema manifest", g.read(spark, "t").get,
      Seq(dir))
    // an Append over dirs of unknown schema cannot vouch for them
    g.commit(spark, Seq(g.TableWrite("t",
      Seq((3L, "z")).toDF("k", "v"), g.Append)))
    val st = g.currentManifest.get.tables("t")
    assert(st.schema.isEmpty)
    assertSameAsInference("append over it", g.read(spark, "t").get, st.files)
  }

  test("an Append whose schema differs records none and reads as before") {
    val g = new Glacier(tmpRoot("glacier-schema-mixed"))
    // the pre-upgrade sketch state: (shard, bloom), no `inserted` column
    val legacy = Seq((0, Array[Byte](1, 2)), (1, Array[Byte](3)))
      .toDF("shard", "bloom")
    g.commit(spark, Seq(g.TableWrite("bloom", legacy, g.Append)))
    assert(g.currentManifest.get.tables("bloom").schema ===
      Some(legacy.schema.json))
    val delta = Seq((0, Array[Byte](4), 7L)).toDF("shard", "bloom", "inserted")
    g.commit(spark, Seq(g.TableWrite("bloom", delta, g.Append)))
    val st = g.currentManifest.get.tables("bloom")
    assert(st.files.size === 2)
    assert(st.schema.isEmpty)
    assertSameAsInference("mixed-era bloom", g.read(spark, "bloom").get,
      st.files)
    // the mixed state keeps reading through every path that scans it
    assert(g.readChanges(spark, "bloom", 1L, 2L).get.count() === 1L)
    // a Replace writes one dir: its schema holds again
    g.commit(spark, Seq(g.TableWrite("bloom", delta, g.Replace)))
    assert(g.currentManifest.get.tables("bloom").schema ===
      Some(delta.schema.json))
    // an Append of the same shape keeps it
    g.commit(spark, Seq(g.TableWrite("bloom", delta, g.Append)))
    assert(g.currentManifest.get.tables("bloom").schema ===
      Some(delta.schema.json))
    assert(g.read(spark, "bloom").get.columns.toSeq ===
      Seq("shard", "bloom", "inserted"))
  }
}
