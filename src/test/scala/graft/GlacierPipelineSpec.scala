package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Glacier

/** The two commit-protocol hardenings: (1) pipelined two-phase commits —
  * barrier tables durable + readable before the snapshot flips, bulk
  * writes/manifest on the background lane, failure poisoning instead of
  * history forks; (2) CURRENT compare-and-swap — two committers on one
  * root cannot silently fork history, the loser gets a retryable conflict.
  */
class GlacierPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private def tmpRoot(): String =
    SparkTestSession.scratchDir("glacier-pipe")

  private def causes(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toList

  test("pipelined commit: barrier tables readable before flip; bulk after await") {
    val g = new Glacier(tmpRoot())
    g.commit(spark, Seq(
      g.TableWrite("state", Seq(1, 2).toDF("v"), g.Append),
      g.TableWrite("bulk", Seq("a").toDF("s"), g.Append)))
    val h = g.commitPipelined(spark, Seq(
      g.TableWrite("state", Seq(3).toDF("v"), g.Append, barrier = true),
      g.TableWrite("fresh", Seq(9).toDF("v"), g.Replace, barrier = true),
      g.TableWrite("bulk", Seq("b").toDF("s"), g.Append)),
      note = "pipe")
    // BEFORE await: barrier tables serve parent dirs + staged delta
    assert(h.read(spark, "state").get.as[Int].collect().sorted
      === Array(1, 2, 3))
    assert(h.read(spark, "fresh").get.as[Int].collect() === Array(9))
    // a table touched by a background write is NOT readable from the handle
    assert(h.read(spark, "bulk").isEmpty)
    val id = h.await()
    assert(id === 2L)
    assert(g.currentSnapshotId === Some(2L))
    // committed manifest has everything, counts included
    assert(g.read(spark, "bulk").get.as[String].collect().sorted
      === Array("a", "b"))
    assert(g.rowCount("state") === 3L)
    assert(g.currentManifest.get.note === "pipe")
  }

  test("chained pipelined commits stay a serial snapshot chain") {
    val g = new Glacier(tmpRoot())
    g.commit(spark, Seq(g.TableWrite("t", Seq(0).toDF("v"), g.Append)))
    val h1 = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(1).toDF("v"), g.Append, barrier = true),
      g.TableWrite("out", Seq("x1").toDF("s"), g.Append)))
    // second pipelined commit issued while the first may still be in flight
    val h2 = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(2).toDF("v"), g.Append, barrier = true),
      g.TableWrite("out", Seq("x2").toDF("s"), g.Append)))
    assert(h2.snapshotId === h1.snapshotId + 1)
    // the second handle's view chains through the first's staged dirs
    assert(h2.read(spark, "t").get.as[Int].collect().sorted
      === Array(0, 1, 2))
    assert(h2.await() === 3L)
    val hist = g.history.map(m => (m.snapshotId, m.parentId))
    assert(hist === Seq((1L, None), (2L, Some(1L)), (3L, Some(2L))))
    assert(g.read(spark, "out").get.as[String].collect().sorted
      === Array("x1", "x2"))
  }

  test("sync commit drains the pipeline; rowCounts stay exact") {
    val g = new Glacier(tmpRoot())
    val h = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(1, 2, 3).toDF("v"), g.Append, barrier = true),
      g.TableWrite("log", Seq("r1").toDF("s"), g.Append)))
    // sync commit must join the in-flight background phase first
    val s = g.commit(spark, Seq(
      g.TableWrite("log", Seq("r2").toDF("s"), g.Append)))
    assert(h.isDone && !h.failed)
    assert(s === 2L)
    assert(g.rowCount("t") === 3L)
    assert(g.rowCount("log") === 2L)
  }

  test("background failure poisons the chain instead of forking history") {
    val g = new Glacier(tmpRoot())
    g.commit(spark, Seq(g.TableWrite("t", Seq(1).toDF("v"), g.Append)))
    val failing = spark.range(4).select(raise_error(lit("boom")).as("s"))
    val h = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(2).toDF("v"), g.Append, barrier = true),
      g.TableWrite("crash", failing, g.Append)))
    val ex = intercept[Throwable](h.await())
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(t => String.valueOf(t.getMessage).contains("boom")))
    assert(h.failed)
    // CURRENT never moved; the staged barrier dir is orphan garbage
    assert(g.currentSnapshotId === Some(1L))
    assert(g.rowCount("t") === 1L)
    // the next sync commit rethrows the poison instead of committing on top
    val ex2 = intercept[Throwable] {
      g.commit(spark, Seq(g.TableWrite("t", Seq(3).toDF("v"), g.Append)))
    }
    assert(causes(ex2).exists(t => String.valueOf(t.getMessage).contains("boom")))
    // a FRESH handle on the same root (rerun after a crash) recovers from
    // the last flipped snapshot
    val g2 = new Glacier(g.root)
    assert(g2.commit(spark,
      Seq(g2.TableWrite("t", Seq(3).toDF("v"), g2.Append))) === 2L)
    assert(g2.rowCount("t") === 2L)
  }

  test("unique staging: a CAS loser never touches the winner's data files") {
    val root = tmpRoot()
    val g0 = new Glacier(root)
    g0.commit(spark, Seq(g0.TableWrite("t", Seq(0).toDF("v"), g0.Append)))
    val gA = new Glacier(root)
    val gB = new Glacier(root)
    // A's staged write blocks inside its task until released — a
    // DETERMINISTIC interleave: A enters staging for snap-2, B commits the
    // SAME table on the same parent and wins, then A finishes and must
    // lose the CAS. Under shared staging both attempts write
    // data/snap-2/t (mode overwrite) — the exact collision unique tags
    // remove.
    val gated = spark.range(0, 2, 1, 1).as[Long].map { v =>
      StagingGate.entered.countDown()
      StagingGate.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      v.toInt
    }.toDF("v")
    @volatile var aResult: Either[Throwable, Long] = Left(new Exception("unset"))
    val tA = new Thread(() => {
      aResult =
        try Right(gA.commit(spark, Seq(gA.TableWrite("t", gated, gA.Append))))
        catch { case t: Throwable => Left(t) }
    })
    tA.start()
    assert(StagingGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val bId = gB.commit(spark, Seq(gB.TableWrite("t", Seq(1).toDF("v"), gB.Append)))
    assert(bId === 2L)
    // fingerprint the winner's published bytes while A is still staging
    def fileHashes(): Map[String, String] = {
      val dirs = gB.manifest(2L).tables("t").files
      dirs.flatMap { d =>
        val p = java.nio.file.Paths.get(d)
        scala.util.Using.resource(Files.list(p)) { s =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
            .asScala.filter(_.toString.endsWith(".parquet")).map { f =>
              val md = java.security.MessageDigest.getInstance("MD5")
              f.toString -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
            }.toList
        }
      }.toMap
    }
    val before = fileHashes()
    assert(before.nonEmpty)
    StagingGate.release.countDown()
    tA.join(120000)
    aResult match {
      case Left(t) =>
        assert(t.isInstanceOf[Glacier.CommitConflictException],
          s"loser must get a retryable conflict, got $t")
      case Right(id) => fail(s"A must lose the CAS, but committed $id")
    }
    // the loser retries successfully on the new parent (latches are spent
    // so the gated rows pass straight through)
    val retried = gA.commit(spark, Seq(gA.TableWrite("t", gated, gA.Append)))
    assert(retried === 3L)
    assert(gA.read(spark, "t").get.as[Int].collect().sorted
      === Array(0, 0, 1, 1))
    // winner's data files byte-for-byte untouched by the losing attempt
    assert(fileHashes() === before)
    // both attempts staged under their own tagged dirs for id 2
    val snap2Dirs = scala.util.Using.resource(
      Files.list(java.nio.file.Paths.get(root, "data"))) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.startsWith("snap-2-")).toList
    }
    assert(snap2Dirs.size === 2, s"expected winner + orphan loser dir: $snap2Dirs")
  }

  test("pipelined commit that loses CURRENT to another handle conflicts") {
    val root = tmpRoot()
    val g = new Glacier(root)
    g.commit(spark, Seq(g.TableWrite("t", Seq(0).toDF("v"), g.Append)))
    // the background (non-barrier) write blocks inside its task until
    // released: a second handle on the same root commits snap-2 while the
    // pipelined snap-2 is still staging, so its publish must lose the CAS
    val gated = spark.range(0, 2, 1, 1).as[Long].map { v =>
      LaneGate.entered.countDown()
      LaneGate.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      v.toInt
    }.toDF("v")
    val h = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(1).toDF("v"), g.Append, barrier = true),
      g.TableWrite("log", gated, g.Append)))
    assert(h.snapshotId === 2L)
    assert(LaneGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    // a second pipelined commit queued on the loser: its base is never
    // published, so it must fail too
    val queued = g.commitPipelined(spark, Seq(
      g.TableWrite("t", Seq(3).toDF("v"), g.Append, barrier = true)))
    val other = new Glacier(root)
    assert(other.commit(spark,
      Seq(other.TableWrite("t", Seq(2).toDF("v"), other.Append))) === 2L)
    LaneGate.release.countDown()
    val ex = intercept[Throwable](h.await())
    assert(ex.isInstanceOf[Glacier.CommitConflictException],
      s"the pipelined loser must get a retryable conflict, got $ex")
    assert(h.failed)
    val exQueued = intercept[Throwable](queued.await())
    assert(exQueued.isInstanceOf[Glacier.CommitConflictException],
      s"a commit queued on the loser must conflict too, got $exQueued")
    // CURRENT stays on the winner's snapshot, with the winner's rows
    val fresh = new Glacier(root)
    assert(fresh.currentSnapshotId === Some(2L))
    assert(fresh.currentManifest.get.parentId === Some(1L))
    assert(fresh.read(spark, "t").get.as[Int].collect().sorted
      === Array(0, 2))
    assert(fresh.read(spark, "log").isEmpty)
    // the conflict has been thrown: the same handle commits again, on the
    // winner's snapshot
    val retried = g.commit(spark,
      Seq(g.TableWrite("t", Seq(4).toDF("v"), g.Append)))
    assert(retried === 3L)
    assert(g.manifest(retried).parentId === Some(2L))
    assert(g.read(spark, "t").get.as[Int].collect().sorted === Array(0, 2, 4))
  }

  test("CURRENT compare-and-swap: racing committers, one wins, loser conflicts") {
    val root = tmpRoot()
    val g0 = new Glacier(root)
    g0.commit(spark, Seq(g0.TableWrite("t", Seq(0).toDF("v"), g0.Append)))
    // two INDEPENDENT Glacier instances (no shared object monitor): both
    // read parent snap-1, then race the flip. A writes slowly (big df), B
    // starts mid-A and flips first; A must lose with a retryable conflict.
    val gA = new Glacier(root)
    val gB = new Glacier(root)
    val slow = spark.range(3000000L).select(col("id"),
      sha2(concat_ws("-", col("id"), col("id") * 7), 256).as("h"))
    val started = new CountDownLatch(1)
    @volatile var aResult: Either[Throwable, Long] = Left(new Exception("unset"))
    val tA = new Thread(() => {
      started.countDown()
      aResult =
        try Right(gA.commit(spark, Seq(gA.TableWrite("big", slow, gA.Append))))
        catch { case t: Throwable => Left(t) }
    })
    tA.start()
    started.await()
    Thread.sleep(300) // let A enter its table write, before its flip
    // EITHER side may lose the flip race (under load A's "slow" write can
    // finish before B even starts); both loser paths must see the same
    // retryable conflict and succeed on retry.
    val bResult: Either[Throwable, Long] =
      try Right(gB.commit(spark, Seq(gB.TableWrite("small", Seq(1).toDF("v"),
        gB.Append))))
      catch { case t: Throwable => Left(t) }
    tA.join(120000)
    (aResult, bResult) match {
      case (Left(t), Right(2L)) =>
        assert(t.isInstanceOf[Glacier.CommitConflictException],
          s"loser must get a retryable conflict, got $t")
        // retry from the loser succeeds on the new parent
        val retried = gA.commit(spark,
          Seq(gA.TableWrite("big2", Seq(5).toDF("v"), gA.Append)))
        assert(retried === 3L)
      case (Right(2L), Left(t)) =>
        assert(t.isInstanceOf[Glacier.CommitConflictException],
          s"loser must get a retryable conflict, got $t")
        val retried = gB.commit(spark,
          Seq(gB.TableWrite("small", Seq(1).toDF("v"), gB.Append)))
        assert(retried === 3L)
      case (Right(aId), Right(bId)) =>
        // no overlap this run — history must still be strictly linear
        assert(Set(aId, bId) === Set(2L, 3L))
      case other => fail(s"unexpected outcome $other")
    }
    val g1 = new Glacier(root)
    val hist = g1.history
    assert(hist.map(_.snapshotId) === hist.indices.map(_ + 1L))
    hist.sliding(2).foreach {
      case Seq(p, c) => assert(c.parentId === Some(p.snapshotId))
      case _         =>
    }
  }
}

/** Static latches a gated write reaches from its task (local mode:
  * executors share the JVM); one object per test. One-shot — spent
  * latches pass through, which the retry in the unique-staging test
  * relies on. */
sealed class Gate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
object StagingGate extends Gate
object LaneGate extends Gate
