package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Glacier

/** Table-maintenance trio added in round 5: rollback-to-snapshot,
  * orphan-dir GC, and incremental (append-lineage) change reads.
  */
class GlacierMaintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get

  private def tmpRoot(): String =
    SparkTestSession.scratchDir("glacier-maint")

  test("rollbackTo restores the target's world as a new commit") {
    val g = new Glacier(tmpRoot())
    val df1 = spark.range(10).select(col("id"), (col("id") * 2).as("v"))
    val s1 = g.commit(spark, Seq(g.TableWrite("t", df1, g.Replace)))
    val df2 = spark.range(99).select(col("id"), col("id").as("v"))
    val s2 = g.commit(spark, Seq(
      g.TableWrite("t", df2, g.Replace),
      g.TableWrite("t_new", df2, g.Append), // born after s1 → tombstoned
    ))

    val s3 = g.rollbackTo(s1)
    assert(s3 === s2 + 1)
    // head reads = exactly the target's world
    assert(g.read(spark, "t").get.count() === 10L)
    assert(g.read(spark, "t_new").isEmpty)
    assert(g.rowCount("t") === 10L)
    // the rolled-back snapshot stays time-travelable (audit trail intact)
    assert(g.read(spark, "t", Some(s2)).get.count() === 99L)
    assert(g.read(spark, "t_new", Some(s2)).get.count() === 99L)
    // chain is linear through the rollback commit
    assert(g.history.map(_.snapshotId) === Seq(s1, s2, s3))
    assert(g.manifest(s3).metrics("rollback_to") === s1)

    // a further commit on top of the rollback behaves normally
    val s4 = g.commit(spark, Seq(g.TableWrite("t", df1, g.Append)))
    assert(g.read(spark, "t", Some(s4)).get.count() === 20L)

    // unknown target refuses
    intercept[IllegalArgumentException](g.rollbackTo(999L))
  }

  test("removeOrphans sweeps unreferenced staging dirs, keeps history") {
    val g = new Glacier(tmpRoot())
    val df = spark.range(5).toDF("id")
    g.commit(spark, Seq(g.TableWrite("t", df, g.Append)))
    g.commit(spark, Seq(g.TableWrite("t", df, g.Append)))

    // fake a CAS loser's staged leftovers: a tagged snap dir no manifest
    // references
    val orphan = Paths.get(g.root, "data", "snap-9-deadbeef", "t")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000.parquet"), "junk")

    // young orphans survive the grace window
    assert(g.removeOrphans(graceMs = 3600000L) === Nil)
    assert(Files.isDirectory(orphan))

    val deleted = g.removeOrphans(graceMs = 0L)
    assert(deleted === Seq(orphan.toString))
    assert(!Files.exists(orphan.getParent)) // empty snap dir swept too
    // every referenced dir is intact: both commits still read
    assert(g.read(spark, "t").get.count() === 10L)
    assert(g.read(spark, "t", Some(1L)).get.count() === 5L)
  }

  test("write-audit-publish: stage, audit, publish / conflict / abort") {
    val g = new Glacier(tmpRoot())
    val base = spark.range(10).toDF("id")
    g.commit(spark, Seq(g.TableWrite("t", base, g.Replace)))

    // stage: CURRENT unchanged, audit reads see the staged state
    val sc = g.stageCommit(spark,
      Seq(g.TableWrite("t", spark.range(50).toDF("id"), g.Replace)))
    assert(g.currentSnapshotId === Some(1L))
    assert(g.read(spark, "t").get.count() === 10L) // readers unaffected
    assert(g.readStaged(spark, sc, "t").get.count() === 50L) // the audit
    // staged dirs survive orphan GC while the audit is in flight
    assert(g.removeOrphans(graceMs = 0L) === Nil)

    // publish: CURRENT advances, staged manifest becomes the snapshot
    val id = g.publishStaged(sc)
    assert(g.currentSnapshotId === Some(id))
    assert(g.read(spark, "t").get.count() === 50L)
    assert(g.history.map(_.snapshotId) === Seq(1L, id))
    // double-publish refuses (manifest was promoted)
    intercept[IllegalArgumentException](g.publishStaged(sc))

    // conflict: a commit landing during the audit wins; publish loses CAS
    val stale = g.stageCommit(spark,
      Seq(g.TableWrite("t", spark.range(7).toDF("id"), g.Replace)))
    g.commit(spark, Seq(g.TableWrite("t", base, g.Append)))
    intercept[graft.tables.Glacier.CommitConflictException](
      g.publishStaged(stale))
    assert(g.read(spark, "t").get.count() === 60L) // winner intact

    // abort: staged manifest + its data dirs gone, carried history intact
    val doomed = g.stageCommit(spark,
      Seq(g.TableWrite("t2", spark.range(3).toDF("id"), g.Append)))
    g.abortStaged(doomed)
    intercept[IllegalArgumentException](g.readStaged(spark, doomed, "t2"))
    assert(g.read(spark, "t").get.count() === 60L)
    // the stale loser's dirs are sweepable orphans now (abort it first)
    g.abortStaged(stale)
    assert(g.removeOrphans(graceMs = 0L) === Nil) // aborts already swept
  }

  test("named refs: tag survives expiry, read-as-of-ref, drop frees it") {
    val g = new Glacier(tmpRoot())
    g.commit(spark, Seq(g.TableWrite("t", spark.range(10).toDF("id"), g.Replace)))
    val rel = g.setRef("release-1") // tags the current head (snap 1)
    assert(rel === 1L)
    g.commit(spark, Seq(g.TableWrite("t", spark.range(50).toDF("id"), g.Replace)))
    g.commit(spark, Seq(g.TableWrite("t", spark.range(70).toDF("id"), g.Replace)))
    assert(g.refs === Map("release-1" -> 1L))
    assert(g.readRef(spark, "t", "release-1").get.count() === 10L)

    // expiry keeps the ref'd snapshot even though keepLast=1 would sweep it
    val expired = g.expireSnapshots(keepLast = 1)
    assert(!expired.contains(1L) && expired.contains(2L))
    assert(g.readRef(spark, "t", "release-1").get.count() === 10L)
    assert(g.read(spark, "t").get.count() === 70L)

    // invalid names / missing snapshots refused; moving a ref is allowed
    intercept[IllegalArgumentException](g.setRef("bad/../name"))
    intercept[IllegalArgumentException](g.setRef("ghost", Some(99L)))
    g.setRef("release-1", Some(3L))
    assert(g.readRef(spark, "t", "release-1").get.count() === 70L)

    // drop: snapshot 1 becomes expirable; its manifest goes on next expiry
    g.setRef("tmp", Some(1L))
    g.dropRef("tmp")
    assert(g.refSnapshot("tmp").isEmpty)
    val expired2 = g.expireSnapshots(keepLast = 1)
    assert(expired2.contains(1L))
    assert(g.read(spark, "t", Some(1L)).isEmpty) // gone for real
  }

  test("readChanges returns exactly the appended delta, manifest-only") {
    val g = new Glacier(tmpRoot())
    val a = spark.range(10).toDF("id")
    val b = spark.range(10, 25).toDF("id")
    val s1 = g.commit(spark, Seq(g.TableWrite("t", a, g.Append)))
    val s2 = g.commit(spark, Seq(g.TableWrite("t", b, g.Append)))
    val s3 = g.commit(spark, Seq(g.TableWrite("other", a, g.Append)))

    val delta = g.readChanges(spark, "t", s1, s2).get
    assert(delta.count() === 15L)
    assert(delta.agg(min(col("id"))).head.getLong(0) === 10L)
    // untouched span → None
    assert(g.readChanges(spark, "t", s2, s3).isEmpty)
    // unknown snapshot refuses
    intercept[IllegalArgumentException](g.readChanges(spark, "t", 0L, s2))

    // Replace rewrite breaks append lineage → refused, not silently wrong
    val s4 = g.commit(spark, Seq(g.TableWrite("t", a, g.Replace)))
    intercept[IllegalArgumentException](g.readChanges(spark, "t", s2, s4))
  }
}
