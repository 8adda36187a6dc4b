package graft

import org.apache.spark.sql.functions._

import graft.sources.{ArtifactIo, ConditionalPutMockFs, Snapshots}

/** Snapshots' log-is-the-pointer protocol on conditional-PUT object
  * stores (rename = copy+delete, no locks, but `create(overwrite =
  * false)` is an atomic If-None-Match PUT). Driven against `mock3c:`
  * ([[ConditionalPutMockFs]]) — the honesty tests pin that the mock
  * really lacks what the store class lacks and really has the one
  * primitive the protocol uses.
  */
class CasSnapshotsSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def hc = spark.sparkContext.hadoopConfiguration

  private def mock3cDir(tag: String): String = {
    hc.set("fs.mock3c.impl", classOf[ConditionalPutMockFs].getName)
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3c")
    ArtifactIo.addExtraScheme(hc, ArtifactIo.ConditionalPutExtraSchemesKey, "mock3c")
    "mock3c:" + tmpDir(tag)
  }

  private def mock3aDir(tag: String): String = {
    hc.set("fs.mock3a.impl", classOf[graft.sources.RenameByCopyMockFs].getName)
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
    "mock3a:" + tmpDir(tag)
  }

  private def rows(tableDir: String, version: Option[Int] = None): Seq[String] =
    Snapshots.read(spark, tableDir, version)
      .collect().map(_.toString).sorted.toSeq

  test("forSnapshotPath admission: conditional-PUT stores in, classic object " +
      "stores loudly out, rename/lock still unavailable on the admitted store") {
    // a rename-by-copy scheme WITHOUT declared conditional writes is a
    // silent-lost-commit hazard — rejected with the remediation key
    val ex = intercept[IllegalArgumentException](
      ArtifactIo.forSnapshotPath(mock3aDir("cas-adm") + "/t"))
    assert(ex.getMessage.contains(ArtifactIo.ConditionalPutExtraSchemesKey), ex.getMessage)
    assert(ex.getMessage.contains("graft.sources.Snapshots"), ex.getMessage)
    // the declared store is admitted — rename-by-copy semantics intact
    // (the object-store io: rename/lock throw), CAS available
    val io = ArtifactIo.forSnapshotPath(mock3cDir("cas-adm2") + "/t")
    assert(io.isInstanceOf[graft.sources.CasObjectStoreArtifactIo])
    intercept[UnsupportedOperationException](io.rename("mock3c:/a", "mock3c:/b"))
    intercept[UnsupportedOperationException](io.withLock("mock3c:/l", 1L, "spec", "h") { 1 })
    // the UNDECLARED object-store io (plan-cache resolution) refuses the
    // CAS primitive rather than running a non-atomic check-then-act
    val os = ArtifactIo.forCachePath("s3a://bucket/x")
    val ex2 = intercept[UnsupportedOperationException](
      os.tryPutIfAbsent("s3a://bucket/x/p", "b".getBytes("UTF-8")))
    assert(ex2.getMessage.contains(ArtifactIo.ConditionalPutExtraSchemesKey), ex2.getMessage)
    // non-object-store paths resolve identically under both entry points
    assert(ArtifactIo.forSnapshotPath("/tmp/x") eq ArtifactIo.forPath("/tmp/x"))
    // a HALF-declared scheme (conditional-put without rename-by-copy)
    // fails closed: falling through to forPath would run the rename/lock
    // protocol on an object store
    ArtifactIo.addExtraScheme(hc, ArtifactIo.ConditionalPutExtraSchemesKey, "mock3x")
    val ex3 = intercept[IllegalArgumentException](
      ArtifactIo.forSnapshotPath("mock3x:/tmp/x"))
    assert(ex3.getMessage.contains("declare both"), ex3.getMessage)
  }

  test("tryPutIfAbsent: winner's whole bytes land, loser leaves the object " +
      "untouched, no staging debris (local, file:, mock3c)") {
    val roots = Seq(
      tmpDir("cas-put-local"),
      "file:" + tmpDir("cas-put-file"),
      mock3cDir("cas-put-os"))
    roots.foreach { root =>
      val io = ArtifactIo.forSnapshotPath(root)
      val p = ArtifactIo.child(root, "_log", "1")
      assert(io.tryPutIfAbsent(p, "winner".getBytes("UTF-8")), root)
      assert(!io.tryPutIfAbsent(p, "loser".getBytes("UTF-8")), root)
      assert(io.readBytes(p).map(new String(_, "UTF-8")).contains("winner"), root)
      // no .cas/.inflight staging left behind either attempt
      val leftovers = io.listNames(ArtifactIo.child(root, "_log")).filter(_ != "1")
      assert(leftovers.isEmpty, s"$root left $leftovers")
    }
  }

  test("mock3c honesty: the CAS verdict is AT CLOSE and atomic — two in-flight " +
      "writers of one name, exactly one close wins; rename is still copy+delete") {
    val root = mock3cDir("cas-honest")
    val p = new org.apache.hadoop.fs.Path(root + "/obj")
    val fs = p.getFileSystem(hc)
    assert(fs.isInstanceOf[ConditionalPutMockFs])
    // both creates succeed (the name is free — no object exists yet);
    // the exclusivity race is decided at close, as on a real store
    val out1 = fs.create(p, false)
    val out2 = fs.create(p, false)
    out1.write("first".getBytes("UTF-8"))
    out2.write("second".getBytes("UTF-8"))
    out1.close()
    val lost = intercept[java.nio.file.FileAlreadyExistsException](out2.close())
    assert(lost != null)
    val got = new String(
      ArtifactIo.forSnapshotPath(root).readBytes(root + "/obj").get, "UTF-8")
    assert(got == "first", s"loser's bytes must never land, got '$got'")
    // rename still the copy+delete emulation (inherited from mock3a) —
    // conditional writes do NOT make rename atomic
    val q = new org.apache.hadoop.fs.Path(root + "/obj2")
    val o = fs.create(q, true); o.write("x".getBytes("UTF-8")); o.close()
    assert(fs.rename(q, new org.apache.hadoop.fs.Path(root + "/obj3")))
    assert(!fs.exists(q))
  }

  test("lifecycle on mock3c: commit, tagged append, replay idempotence, " +
      "CAS-guarded maintenance, pinned reads, both CDF feeds") {
    val table = mock3cDir("cas-life") + "/t"
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, s"doc-$i")).toDF("id", "text")
    val b1 = (101L to 110L).map(i => (i, s"b1-$i")).toDF("id", "text")
    val b2 = (201L to 205L).map(i => (i, s"b2-$i")).toDF("id", "text")
    val v1 = Snapshots.commit(base, table)
    assert(v1 == 1)
    val v2 = Snapshots.commitAppend(b1, table, tag = Some("batch-1"))
    assert(v2 == 2)
    // replay: same tag returns the committed version, writes nothing
    val filesBefore = ArtifactIo.forSnapshotPath(table).listNames(table).toSet
    assert(Snapshots.commitAppend(b1, table, tag = Some("batch-1")) == 2)
    assert(ArtifactIo.forSnapshotPath(table).listNames(table).toSet == filesBefore,
      "a replayed batch must not stage or commit anything")
    // CAS-guarded maintenance rewrite (compaction shape): stale base loses
    assert(Snapshots.commitIfLatest(Snapshots.read(spark, table), table,
      expectedBase = v1, dataChange = false).isEmpty)
    // an ABOVE-latest expectedBase fails closed (the CAS alone would
    // fail open — the future slot is free — and punch a hole in the log)
    val exAbove = intercept[IllegalArgumentException](
      Snapshots.commitIfLatest(Snapshots.read(spark, table), table,
        expectedBase = 99, dataChange = false))
    assert(exAbove.getMessage.contains("above the latest"), exAbove.getMessage)
    val vc = Snapshots.commitIfLatest(Snapshots.read(spark, table), table,
      expectedBase = v2, dataChange = false).get
    assert(vc == 3)
    val v4 = Snapshots.commitAppend(b2, table, tag = Some("batch-2"))
    assert(v4 == 4)
    // pinned reads: v1 = base; v2 = base+b1; latest (v4) = base+b1+b2;
    // the maintenance version holds the same rows as its base
    val baseRows = base.collect().map(_.toString).sorted.toSeq
    val b1Rows = b1.collect().map(_.toString).sorted.toSeq
    val b2Rows = b2.collect().map(_.toString).sorted.toSeq
    assert(rows(table, Some(1)) == baseRows)
    assert(rows(table, Some(2)) == (baseRows ++ b1Rows).sorted)
    assert(rows(table, Some(3)) == rows(table, Some(2)))
    assert(rows(table) == (baseRows ++ b1Rows ++ b2Rows).sorted)
    // CDF: since v1 = b1+b2 (maintenance contributes nothing); since vc = b2
    assert(Snapshots.readChanges(spark, table, 1)
      .collect().map(_.toString).sorted.toSeq == (b1Rows ++ b2Rows).sorted)
    assert(Snapshots.readChanges(spark, table, vc)
      .collect().map(_.toString).sorted.toSeq == b2Rows)
    // a replace inside the interval breaks the additions feed loudly
    val v5 = Snapshots.commit(base, table)
    val ex = intercept[IllegalStateException](
      Snapshots.readChanges(spark, table, 1, Some(v5)))
    assert(ex.getMessage.contains("replace"), ex.getMessage)
    // ...and a tag committed before the replace legitimately re-appends
    assert(Snapshots.commitAppend(b1, table, tag = Some("batch-1")) == 6)
  }

  test("4 racing committers: every CAS slot has exactly one winner, all four " +
      "batches land exactly once, the log is linear") {
    val table = mock3cDir("cas-race") + "/t"
    import spark.implicits._
    Snapshots.commit((1L to 20L).map(i => (i, "base")).toDF("id", "src"), table): Unit
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = Future.sequence((1 to 4).map { k =>
      Future {
        val s = spark.newSession()
        import s.implicits._
        val batch = (1L to 10L).map(i => (1000L * k + i, s"racer-$k")).toDF("id", "src")
        Snapshots.commitAppend(batch, table, tag = Some(s"racer-$k"))
      }
    })
    val versions = Await.result(racers, 120.seconds)
    assert(versions.sorted == Seq(2, 3, 4, 5),
      s"CAS slots must serialize the four commits, got $versions")
    // every batch exactly once, base exactly once
    val all = Snapshots.read(spark, table).groupBy(col("src"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("base" -> 20L, "racer-1" -> 10L, "racer-2" -> 10L,
      "racer-3" -> 10L, "racer-4" -> 10L), all.toString)
    // the chain is contiguous: each version's feed since v1 accumulates
    assert(Snapshots.readChanges(spark, table, 1).count() == 40L)
  }

  test("DETERMINISTIC scan-vs-commit interleave: a peer winning the slot " +
      "between the tag scan and the CAS must not duplicate the batch") {
    // the exact window the r19 review found: the committer's tag scan
    // sees no tag, then a PEER commits the same tag before our CAS. The
    // pinned-base ordering forces the peer onto OUR slot — our CAS
    // fails and the rescan finds its tag. (The pre-fix fresh-latest
    // ordering read the base AFTER the scan, CASed the next FREE slot,
    // and landed the batch twice — once carried from the peer's
    // version, once as own files.)
    val table = mock3cDir("cas-interleave") + "/t"
    import spark.implicits._
    Snapshots.commit((1L to 20L).map(i => (i, "base")).toDF("id", "src"), table): Unit
    def batch = (1L to 10L).map(i => (5000L + i, "dup")).toDF("id", "src")
    var fired = false
    val v = Snapshots.commitAppendHooked(batch, table, Some("the-batch"), () => {
      if (!fired) { // first iteration only — the peer redelivery
        fired = true
        Snapshots.commitAppend(batch, table, Some("the-batch")): Unit
      }
    })
    assert(fired, "the interleave hook must have run")
    assert(v == 2, s"the committer must adopt the peer's version, got $v")
    assert(Snapshots.latestVersion(table).contains(2),
      "no second version may exist — the loser must stand down, not take the next slot")
    val n = Snapshots.read(spark, table).filter(col("src") === "dup").count()
    assert(n == 10L, s"batch landed $n rows, want exactly 10 (no duplication)")
  }

  test("4 racers REPLAYING one tagged batch: one version, rows land once — " +
      "exactly-once under concurrent redelivery") {
    val table = mock3cDir("cas-replay") + "/t"
    import spark.implicits._
    Snapshots.commit((1L to 20L).map(i => (i, "base")).toDF("id", "src"), table): Unit
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = Future.sequence((1 to 4).map { _ =>
      Future {
        val s = spark.newSession()
        import s.implicits._
        val batch = (1L to 10L).map(i => (9000L + i, "dup")).toDF("id", "src")
        Snapshots.commitAppend(batch, table, tag = Some("the-batch"))
      }
    })
    val versions = Await.result(racers, 120.seconds).toSet
    assert(versions.size == 1, s"all replays must converge on one version, got $versions")
    val n = Snapshots.read(spark, table)
      .filter(col("src") === "dup").count()
    assert(n == 10L, s"redelivered batch landed $n rows, want exactly 10")
    assert(Snapshots.latestVersion(table).contains(versions.head))
  }

  test("rollbackTo: pure-metadata restore (one CAS, zero data movement), " +
      "history immutable, pre-rollback tags still replay, feed breaks loudly") {
    val table = mock3cDir("cas-rb") + "/t"
    import spark.implicits._
    val base = (1L to 30L).map(i => (i, "base")).toDF("id", "src")
    val bad = (1L to 5L).map(i => (i, "bad")).toDF("id", "src")
    val v1 = Snapshots.commit(base, table)
    val v2 = Snapshots.commitAppend(bad, table, tag = Some("bad-batch"))
    val dirsBefore = ArtifactIo.forSnapshotPath(table).listNames(table)
      .count(_.startsWith("d-"))
    val v3 = Snapshots.rollbackTo(table, v1)
    assert(v3 == 3)
    // zero data movement: no new data dir was created by the restore
    assert(ArtifactIo.forSnapshotPath(table).listNames(table)
      .count(_.startsWith("d-")) == dirsBefore)
    // latest = v1's content; intermediate history untouched
    assert(rows(table) == base.collect().map(_.toString).sorted.toSeq)
    assert(rows(table, Some(v2)).length == 35)
    // already-latest is a no-op
    assert(Snapshots.rollbackTo(table, v3) == v3)
    // the pre-rollback tag still resolves on replay (chain walk
    // continues through the rollback record — no duplicate append)
    assert(Snapshots.commitAppend(bad, table, tag = Some("bad-batch")) == v2)
    // the feed across the rollback is not expressible as additions
    val v4 = Snapshots.commitAppend(
      (101L to 103L).map(i => (i, "after")).toDF("id", "src"), table)
    assert(Snapshots.readChanges(spark, table, v3).count() == 3)
    val ex = intercept[IllegalStateException](
      Snapshots.readChanges(spark, table, v1, Some(v4)))
    assert(ex.getMessage.contains("rollback"), ex.getMessage)
  }

  test("compact: CAS-guarded maintenance re-base — same rows, self-contained " +
      "record, feed walks through, predecessors reclaimable") {
    val table = mock3cDir("cas-compact") + "/t"
    import spark.implicits._
    val v1 = Snapshots.commit(
      (1L to 30L).map(i => (i, "base")).toDF("id", "src"), table)
    (1 to 3).foreach { k =>
      Snapshots.commitAppend(
        (1L to 5L).map(i => (100L * k + i, s"b$k")).toDF("id", "src"), table): Unit
    }
    val before = rows(table)
    assert(Snapshots.carriedFileCount(table, 4) > 0, "appends must carry by name")
    val (vc, files) = Snapshots.compact(spark, table, targetBytes = 1L << 30)
    assert(vc == 5 && files >= 1)
    assert(Snapshots.carriedFileCount(table, vc) == 0, "compaction must re-base self-contained")
    assert(rows(table) == before, "compaction changed table content")
    // the feed from v1 walks THROUGH the maintenance version: still the
    // three appended batches, nothing doubled
    assert(Snapshots.readChanges(spark, table, v1).count() == 15L)
    // a second scheduled compaction on the already-compact table is a no-op
    assert(Snapshots.compact(spark, table, targetBytes = 1L << 30) == ((vc, files)))
    // post-compaction: retention + vacuum reclaim everything below the
    // re-base EXCEPT nothing — the compacted version owns its bytes
    Snapshots.retainLast(table, keep = 1): Unit
    val swept = Snapshots.vacuum(table, graceMs = 0L)
    assert(swept.length == 4, s"all four pre-compact dirs reclaim, got $swept")
    assert(rows(table) == before)
  }

  test("retention + vacuum: dropped records' bytes reclaimed ONLY when no " +
      "surviving record carries them; crashed stages reclaimed after grace") {
    val table = mock3cDir("cas-vac") + "/t"
    import spark.implicits._
    val io = ArtifactIo.forSnapshotPath(table)
    Snapshots.commit((1L to 30L).map(i => (i, "base")).toDF("id", "src"), table): Unit
    (1 to 3).foreach { k =>
      Snapshots.commitAppend(
        (1L to 5L).map(i => (100L * k + i, s"b$k")).toDF("id", "src"), table): Unit
    }
    // a crashed committer's orphan stage: a data dir no record references
    io.createDirs(ArtifactIo.child(table, "d-orphan-crashed"))
    io.writeFile(ArtifactIo.child(table, "d-orphan-crashed", "part-0.parquet"),
      "junk".getBytes("UTF-8"))
    // fresh orphan survives the grace window — an in-flight commit's
    // stage must never be swept from under it
    assert(Snapshots.vacuum(table).isEmpty)
    val latestRows = rows(table)
    assert(Snapshots.retainLast(table, keep = 2) == Seq(1, 2))
    // grace=0: the orphan goes; v1/v2's dirs STAY — v3/v4's carry lists
    // still reference their files (append-only chains share bytes)
    val swept = Snapshots.vacuum(table, graceMs = 0L)
    assert(swept == Seq("d-orphan-crashed"), swept.toString)
    assert(rows(table) == latestRows, "retention must not disturb surviving reads")
    assert(rows(table, Some(3)).nonEmpty)
    // the feed across the dropped floor fails loudly, never silently
    val ex = intercept[Exception](Snapshots.readChanges(spark, table, 1))
    assert(ex.getMessage.contains("retention") || ex.getMessage.contains("committed"),
      ex.getMessage)
    // a dropped version's pinned read fails loudly too
    intercept[IllegalArgumentException](Snapshots.read(spark, table, Some(1)))
  }
}
