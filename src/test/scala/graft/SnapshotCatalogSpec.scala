package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, VersionedTable}

/** H34: cross-table atomic snapshots — consistency, time travel,
  * torn-publish invisibility, orphan vacuum.
  */
class SnapshotCatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def root(): String =
    SparkTestSession.tempDir("snapcat").toString

  test("publish is all-or-nothing across tables; reads are consistent") {
    val r = root()
    val s1 = SnapshotCatalog.publish(r, Map(
      "cust" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      "ord" -> Seq((10L, 1L)).toDF("oid", "cust_id")))
    val s2 = SnapshotCatalog.publish(r, Map(
      "cust" -> Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      "ord" -> Seq((10L, 1L), (11L, 3L)).toDF("oid", "cust_id")))
    assert(Seq(s1, s2) == Seq(1L, 2L))
    // latest resolves the PAIR from snapshot 2 — the FK introduced
    // there (cust 3 / ord 11) is visible on both sides together
    assert(SnapshotCatalog.read(spark, r, "cust").count() == 3)
    assert(SnapshotCatalog.read(spark, r, "ord").count() == 2)
    // pinned cross-table time travel: snapshot 1 is the OLD pair
    assert(SnapshotCatalog.read(spark, r, "cust", Some(1L)).count() == 2)
    assert(SnapshotCatalog.read(spark, r, "ord", Some(1L)).count() == 1)
  }

  test("a torn publish (table versions without a manifest) is invisible") {
    val r = root()
    SnapshotCatalog.publish(r,
      Map("t" -> Seq((1L, "x")).toDF("id", "v")))
    // simulate a crash between the table write and the manifest
    // commit: the version lands, the manifest never does
    VersionedTable.write(Seq((9L, "torn")).toDF("id", "v"), s"$r/t")
    assert(VersionedTable.versions(spark, s"$r/t") == Seq(1L, 2L))
    // readers still resolve through the last manifest — v2 invisible
    val got = SnapshotCatalog.read(spark, r, "t")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
    // vacuum sweeps the orphan
    val (dropped, deleted) = SnapshotCatalog.vacuum(spark, r, keep = 1)
    assert(dropped.isEmpty && deleted == 1)
    assert(VersionedTable.versions(spark, s"$r/t") == Seq(1L))
  }

  test("vacuum retention drops old snapshots and their exclusive versions") {
    val r = root()
    (1 to 3).foreach { i =>
      SnapshotCatalog.publish(r,
        Map("t" -> (1 to i).map(j => (j.toLong, s"r$j")).toDF("id", "v")))
    }
    val (dropped, deleted) = SnapshotCatalog.vacuum(spark, r, keep = 1)
    assert(dropped == Seq(1L, 2L))
    assert(deleted == 2) // t versions 1 and 2 were only referenced by them
    // the surviving snapshot still reads fully
    assert(SnapshotCatalog.read(spark, r, "t").count() == 3)
    // pinned reads of dropped snapshots now fail loudly
    intercept[IllegalArgumentException] {
      SnapshotCatalog.read(spark, r, "t", Some(1L))
    }
  }

  test("two interleaved blind publishers both commit; ids distinct, " +
    "readers never see a torn set") {
    val r = root()
    SnapshotCatalog.publish(r,
      Map("t" -> Seq((0L, "base")).toDF("id", "v")))
    // race two committers from separate threads: the rename CAS gives
    // one of them s=2 first; the loser rebases onto s=3 and retries
    // (its staged table version needs no re-write — only the pointer
    // moves)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def committer(tag: String) = Future {
      val df = Seq((1L, tag), (2L, tag)).toDF("id", "v")
      gate.await()
      SnapshotCatalog.publish(r, Map("t" -> df))
    }
    val ids = Await.result(
      Future.sequence(Seq(committer("a"), committer("b"))), 120.seconds)
    assert(ids.toSet == Set(2L, 3L))
    // every snapshot resolves to a complete, internally-consistent set
    SnapshotCatalog.snapshots(spark, r).foreach { s =>
      val rows = SnapshotCatalog.read(spark, r, "t", Some(s))
        .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
      // one committer's rows wholesale — never a mix of both
      assert(rows == Set((0L, "base")) ||
        rows == Set((1L, "a"), (2L, "a")) ||
        rows == Set((1L, "b"), (2L, "b")))
    }
    // no temp debris left behind by the losing committer's retry
    // (checksum sidecars like .s=2.crc are fine — only __s_tmp_ dirs
    // would mean an unswept staged manifest)
    val snapNames = new java.io.File(s"$r/_snapshots").list().toSeq
    assert(!snapNames.exists(_.contains("__s_tmp_")))
  }

  test("compare-and-swap publish: stale expected parent aborts, " +
    "orphans stay invisible and vacuumable") {
    val r = root()
    val s1 = SnapshotCatalog.publish(r,
      Map("t" -> Seq((1L, "x")).toDF("id", "v")))
    // a sneaky concurrent writer advances the snapshot pointer
    val s2 = SnapshotCatalog.publish(r,
      Map("t" -> Seq((1L, "x"), (2L, "y")).toDF("id", "v")))
    assert((s1, s2) == (1L, 2L))
    // read-modify-write derived from s=1 must NOT clobber s=2
    intercept[java.util.ConcurrentModificationException] {
      SnapshotCatalog.publish(r,
        Map("t" -> Seq((1L, "stale")).toDF("id", "v")),
        expectedParent = Some(s1))
    }
    // the aborted publish left an orphan table version, never a
    // manifest: latest still reads s=2's rows
    assert(SnapshotCatalog.snapshots(spark, r) == Seq(1L, 2L))
    assert(SnapshotCatalog.read(spark, r, "t").count() == 2)
    assert(VersionedTable.versions(spark, s"$r/t").size == 3)
    // matching parent commits cleanly
    val s3 = SnapshotCatalog.publish(r,
      Map("t" -> Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")),
      expectedParent = Some(s2))
    assert(s3 == 3L)
    // vacuum sweeps the aborted attempt's orphan version
    val (_, deleted) = SnapshotCatalog.vacuum(spark, r, keep = 1)
    assert(deleted == 3) // v1 (s1), the orphan, and v... all but s3's
    assert(SnapshotCatalog.read(spark, r, "t").count() == 3)
  }

  test("vacuum temp-debris sweep is mtime-gated: an in-flight writer's " +
    "fresh staging dir survives, aged crash debris is reclaimed (r9 ADVICE)") {
    val r = root()
    SnapshotCatalog.publish(r, Map("t" -> Seq((1L, "x")).toDF("id", "v")))
    val live = new java.io.File(s"$r/t/__v_tmp_live"); live.mkdirs()
    val dead = new java.io.File(s"$r/t/__v_tmp_dead"); dead.mkdirs()
    val sLive = new java.io.File(s"$r/_snapshots/__s_tmp_live"); sLive.mkdirs()
    val sDead = new java.io.File(s"$r/_snapshots/__s_tmp_dead"); sDead.mkdirs()
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(dead.setLastModified(old) && sDead.setLastModified(old))
    SnapshotCatalog.vacuum(spark, r, keep = 1)
    // the live publisher's staged data is untouched; the 48h-old crash
    // debris is gone (default retention window: 24h)
    assert(live.exists() && sLive.exists())
    assert(!dead.exists() && !sDead.exists())
    // an explicit zero-window sweep (the quiesced-catalog maintenance
    // mode) still reclaims everything
    SnapshotCatalog.vacuum(spark, r, keep = 1, tmpRetentionMs = -1L)
    assert(!live.exists() && !sLive.exists())
  }

  test("VersionedTable CAS: stale parent aborts with temp cleaned; " +
    "blind append rebases past a racing commit") {
    val r = root()
    val dir = s"$r/t"
    val v1 = VersionedTable.write(Seq((1L, "a")).toDF("id", "v"), dir)
    val v2 = VersionedTable.write(Seq((2L, "b")).toDF("id", "v"), dir)
    assert((v1, v2) == (1L, 2L))
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.write(Seq((9L, "stale")).toDF("id", "v"), dir,
        expectedParent = Some(v1))
    }
    // aborted CAS leaves no version and no temp dir
    assert(VersionedTable.versions(spark, dir) == Seq(1L, 2L))
    assert(!new java.io.File(dir).list().exists(_.startsWith("__v_tmp_")))
    // matching parent commits
    assert(VersionedTable.write(Seq((3L, "c")).toDF("id", "v"), dir,
      expectedParent = Some(v2)) == 3L)
  }
}
