package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Snapshots

class SnapshotsSpec extends SparkSuite {
  import spark.implicits._

  test("commit/read: versions are immutable and pinnable; latest follows commits") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"
    assert(Snapshots.latestVersion(table).isEmpty)
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    val v2 = Snapshots.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "s"), table)
    assert((v1, v2) == (1, 2))
    assert(Snapshots.latestVersion(table).contains(2))
    assert(Snapshots.read(spark, table, Some(1)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (3L, "c")))
  }

  test("concurrent commits: _latest always lands on the max committed version") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = java.nio.file.Files.createTempDirectory("graft-snap-race").toString + "/t"
    // 8 committers race on the `_log/N` CAS: every slot has exactly one
    // winner, so the latest version is the highest committed one — a
    // lost update (two committers on one slot) would land lower
    val vs = Await.result(
      Future.sequence((1 to 8).map(i => Future {
        Snapshots.commit(Seq(i.toLong).toDF("id"), table)
      })), 2.minutes)
    assert(vs.sorted == (1 to 8), s"claimed versions: $vs")
    assert(Snapshots.latestVersion(table).contains(8))
    // a fresh commit after the race takes the next slot cleanly
    assert(Snapshots.commit(Seq(0L).toDF("id"), table) == 9)
    assert(Snapshots.latestVersion(table).contains(9))
  }

  test("commitIfLatest publishes only when the base is unmoved (CAS for read-modify-write)") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-cas").toString + "/t"
    Snapshots.commit(Seq(1L).toDF("id"), table) // v=1
    // base unmoved: CAS succeeds
    assert(Snapshots.commitIfLatest(Seq(2L).toDF("id"), table, expectedBase = 1).contains(2))
    assert(Snapshots.latestVersion(table).contains(2))
    // base moved (now 2, expected 1): CAS refuses, no version claimed,
    // staged data discarded
    assert(Snapshots.commitIfLatest(Seq(99L).toDF("id"), table, expectedBase = 1).isEmpty)
    assert(Snapshots.latestVersion(table).contains(2))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table, "_log", "3")))
    assert(new java.io.File(table).list().count(_.startsWith("d-")) == 2)
    assert(Snapshots.read(spark, table).as[Long].collect().toSeq == Seq(2L))
  }

  test("commitAppend: versions are full prefixes; tagged replay is a no-op; pins survive") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-app").toString + "/t"
    val v1 = Snapshots.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table,
      Some("batch-0"))
    val v2 = Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "s"), table, Some("batch-1"))
    val v3 = Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "s"), table, Some("batch-2"))
    assert((v1, v2, v3) == (1, 2, 3))
    // each version is the FULL table as of its batch (files carried by name)
    def ids(v: Int) = Snapshots.read(spark, table, Some(v))
      .select("id").as[Long].collect().toSet
    assert(ids(1) == Set(1L, 2L))
    assert(ids(2) == Set(1L, 2L, 3L))
    assert(ids(3) == Set(1L, 2L, 3L, 4L))
    // a replayed batch id (foreachBatch crash-recovery) returns the
    // already-committed version and writes NOTHING — exactly-once
    val replay = Snapshots.commitAppend(Seq((99L, "X")).toDF("id", "s"), table,
      Some("batch-1"))
    assert(replay == v2)
    assert(Snapshots.latestVersion(table).contains(3))
    assert(ids(3) == Set(1L, 2L, 3L, 4L))
    // a pinned mid-stream version is untouched by later appends
    assert(ids(1) == Set(1L, 2L))
    // dropping an old version never corrupts newer ones (vacuum keeps
    // every data dir a surviving record still names)
    assert(Snapshots.retainLast(table, 2) == Seq(1))
    Snapshots.vacuum(table, graceMs = 0L): Unit
    assert(ids(3) == Set(1L, 2L, 3L, 4L))
  }

  test("commitAppend retries across a concurrent commit instead of shadowing it") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-app-race").toString + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), table) // v=1
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 4 appenders race from the same base; the CAS loop must serialize
    // them so the final version holds ALL appended rows (a lost append
    // would surface as a missing id)
    Await.result(Future.sequence((2 to 5).map(i => Future {
      Snapshots.commitAppend(Seq((i.toLong, s"r$i")).toDF("id", "s"), table,
        Some(s"app-$i"))
    })), 2.minutes)
    // the invariant is content, not numbering: every append lands once
    assert(Snapshots.latestVersion(table).exists(_ >= 5))
    assert(Snapshots.read(spark, table).select("id").as[Long].collect().toSet ==
      (1L to 5L).toSet)
  }

  test("concurrent same-tag committers append exactly once (publish-lock tag re-check)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = java.nio.file.Files.createTempDirectory("graft-snap-tagrace").toString + "/t"
    Snapshots.commitAppend(Seq(0L).toDF("id"), table, Some("batch-0")) // v=1
    // 6 committers race one batch id (a restarted streaming driver racing
    // its zombie original): the pinned-base tag scan plus the slot CAS
    // must collapse them to ONE committed version
    val vs = Await.result(
      Future.sequence((1 to 6).map(_ => Future {
        Snapshots.commitAppend(Seq(100L).toDF("id"), table, Some("batch-1"))
      })), 2.minutes)
    assert(vs.toSet.size == 1, s"same-tag committers split across versions: $vs")
    val ids = Snapshots.read(spark, table).as[Long].collect().toSeq
    assert(ids.count(_ == 100L) == 1, s"batch rows duplicated: $ids")
    assert(ids.count(_ == 0L) == 1, s"base rows lost or duplicated: $ids")
    // the tag resolves to exactly the version every caller returned
    assert(Snapshots.taggedVersion(table, "batch-1").contains(vs.head))
  }

  test("rollbackTo restores old content as a NEW version; history stays immutable") {
    val table = java.nio.file.Files.createTempDirectory("graft-snaprb").toString + "/t"
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    val v2 = Snapshots.commit(Seq((1L, "a2")).toDF("id", "s"), table)
    val v3 = Snapshots.rollbackTo(table, v1)
    assert((v1, v2, v3) == (1, 2, 3))
    assert(Snapshots.latestVersion(table).contains(3))
    // latest = v1's content, named by the rollback record (no data rewrite)
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the bad intermediate stays pinned-readable
    assert(Snapshots.read(spark, table, Some(2)).as[(Long, String)].collect().toSet ==
      Set((1L, "a2")))
    // rolling back to the published latest is a no-op
    assert(Snapshots.rollbackTo(table, 3) == 3)
    assert(Snapshots.latestVersion(table).contains(3))
    // unknown / unpublished versions fail loudly, never publish a claim
    intercept[IllegalArgumentException](Snapshots.rollbackTo(table, 9))
    // the restored chain keeps appending: base walking sees v3 as latest
    val v4 = Snapshots.commitAppend(Seq((5L, "e")).toDF("id", "s"), table)
    assert(v4 == 4)
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (5L, "e")))
  }

  test("readChanges: additions-only feed walks appends and dataChange=false rewrites") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-cdc").toString + "/t"
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "s"), table)
    // content-preserving compaction between the appends: the feed must
    // walk THROUGH it with an empty delta, not replay the whole table
    val (vc, _) = Snapshots.compact(spark, table, targetBytes = 1L << 30)
    assert(vc == 3)
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "s"), table)
    assert(Snapshots.readChanges(spark, table, v1).as[(Long, String)].collect().toSet ==
      Set((3L, "c"), (4L, "d")))
    // consuming from the maintenance version itself works
    assert(Snapshots.readChanges(spark, table, vc).as[(Long, String)].collect().toSet ==
      Set((4L, "d")))
    // from == to: an empty feed with the table's schema, not an error
    val empty = Snapshots.readChanges(spark, table, 4, toVersion = Some(4))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "s"))
    // a full commit REPLACES the table: the interval's change is not
    // expressible as additions — loud failure, never a silent full replay
    Snapshots.commit(Seq((9L, "z")).toDF("id", "s"), table)
    val e = intercept[IllegalStateException](Snapshots.readChanges(spark, table, v1))
    assert(e.getMessage.contains("no delta manifest"))
    // ... and a rollback (content reversal) breaks the feed the same way
    val t2 = java.nio.file.Files.createTempDirectory("graft-snap-cdc2").toString + "/t"
    val w1 = Snapshots.commit(Seq(1L).toDF("id"), t2)
    Snapshots.commitAppend(Seq(2L).toDF("id"), t2)
    Snapshots.rollbackTo(t2, w1)
    intercept[IllegalStateException](Snapshots.readChanges(spark, t2, w1))
  }

  test("retainLast keeps the newest k; shared link bytes survive; crossed feeds fail loudly") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-ret").toString + "/t"
    Snapshots.commit(Seq(1L).toDF("id"), table)
    (2 to 5).foreach(i => Snapshots.commitAppend(Seq(i.toLong).toDF("id"), table))
    assert(Snapshots.retainLast(table, 2) == Seq(1, 2, 3))
    assert(Snapshots.retainLast(table, 2).isEmpty) // idempotent
    // the kept versions still read in full: vacuum keeps the bytes a
    // surviving record carries after their origin version was dropped
    Snapshots.vacuum(table, graceMs = 0L): Unit
    assert(Snapshots.read(spark, table, Some(4)).as[Long].collect().toSet ==
      (1L to 4L).toSet)
    assert(Snapshots.read(spark, table).as[Long].collect().toSet == (1L to 5L).toSet)
    // a feed interval crossing a dropped version re-baselines loudly
    intercept[IllegalStateException](Snapshots.readChanges(spark, table, 2))
    // ... while an interval inside the retained window still serves
    assert(Snapshots.readChanges(spark, table, 4).as[Long].collect().toSeq == Seq(5L))
    intercept[IllegalArgumentException](Snapshots.retainLast(table, 0))
  }

  test("file:-scheme'd table runs the whole snapshot lifecycle through the Hadoop-backed io") {
    // the store contract: commit, tagged append + exactly-once replay,
    // rollback, CDF, retention — every primitive (staging, the `_log/N`
    // conditional PUT, record reads, vacuum) on the Hadoop io instead of
    // java.nio, exercised via the file: scheme
    val table = "file:" +
      java.nio.file.Files.createTempDirectory("graft-snap-fs").toString + "/t"
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    val v2 = Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "s"), table,
      tag = Some("b-1"))
    assert((v1, v2) == (1, 2))
    // tagged replay is a no-op (exactly-once off the tag record)
    assert(Snapshots.commitAppend(Seq((3L, "dup")).toDF("id", "s"), table,
      tag = Some("b-1")) == v2)
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // pinned read + CDF off the scheme'd store
    assert(Snapshots.read(spark, table, Some(v1)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(Snapshots.readChanges(spark, table, v1).as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    // rollback publishes a NEW version naming v1's files; v2 stays pinned
    val v3 = Snapshots.rollbackTo(table, v1)
    assert(v3 == 3)
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(Snapshots.read(spark, table, Some(v2)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // retention through the scheme'd io; the survivors read in full
    assert(Snapshots.retainLast(table, 2) == Seq(v1))
    Snapshots.vacuum(table, graceMs = 0L): Unit
    assert(Snapshots.read(spark, table, Some(v2)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the rollback record still names v1's files after v1's record went
    assert(Snapshots.read(spark, table).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("crash between staging and the _log/N PUT: reads see the previous version, " +
      "the replay commits once, vacuum reclaims the orphan stage") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-crash").toString + "/t"
    def dataDirs = new java.io.File(table).list().filter(_.startsWith("d-")).toSet
    def rows = Snapshots.read(spark, table).as[(Long, String)].collect().toSeq.sorted
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "s"), table, Some("batch-0")) // v=1
    val committedDirs = dataDirs
    val batch = Seq((2L, "b")).toDF("id", "s")
    // the seam runs after the batch is staged and before its CAS: a
    // throw there is a committer dying at the protocol's one crash point
    val crash = intercept[IllegalStateException](
      Snapshots.commitAppendHooked(batch, table, Some("batch-1"),
        () => throw new IllegalStateException("committer crashed before its CAS")))
    assert(crash.getMessage.contains("crashed"))
    val orphans = dataDirs -- committedDirs
    assert(orphans.size == 1, s"expected one orphan stage, got $orphans")
    // no record names the orphan: every read still sees v=1
    assert(Snapshots.latestVersion(table).contains(1))
    assert(rows == Seq((1L, "a")))
    assert(Snapshots.taggedVersion(table, "batch-1").isEmpty)
    // the redelivered batch commits exactly once; a second replay is a no-op
    assert(Snapshots.commitAppend(batch, table, Some("batch-1")) == 2)
    assert(Snapshots.commitAppend(batch, table, Some("batch-1")) == 2)
    assert(Snapshots.latestVersion(table).contains(2))
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // the orphan survives the grace window (it could be an in-flight
    // stage) and is reclaimed at grace 0 — nothing a record names goes
    assert(Snapshots.vacuum(table).isEmpty)
    assert(Snapshots.vacuum(table, graceMs = 0L).toSet == orphans)
    assert(rows == Seq((1L, "a"), (2L, "b")))
  }

  test("a legacy rename-protocol table (_latest over v=N, no log) is refused by name " +
      "at every entry point") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-legacy").toString + "/t"
    Seq(1L).toDF("id").write.parquet(s"$table/v=1")
    java.nio.file.Files.write(java.nio.file.Paths.get(table, "_latest"), "1".getBytes("UTF-8"))
    val layout = new java.io.File(table).list().toSet
    val df = Seq(2L).toDF("id")
    val calls: Seq[(String, () => Any)] = Seq(
      "latestVersion" -> (() => Snapshots.latestVersion(table)),
      "read" -> (() => Snapshots.read(spark, table)),
      "read pinned" -> (() => Snapshots.read(spark, table, Some(1))),
      "readChanges" -> (() => Snapshots.readChanges(spark, table, 1)),
      "commit" -> (() => Snapshots.commit(df, table)),
      "commitAppend" -> (() => Snapshots.commitAppend(df, table)),
      "tagged commitAppend" -> (() => Snapshots.commitAppend(df, table, Some("b-1"))),
      "commitIfLatest" -> (() => Snapshots.commitIfLatest(df, table, expectedBase = 1)),
      "rollbackTo" -> (() => Snapshots.rollbackTo(table, 1)),
      "taggedVersion" -> (() => Snapshots.taggedVersion(table, "b-1")),
      "compact" -> (() => Snapshots.compact(spark, table, 1L << 20)),
      "retainLast" -> (() => Snapshots.retainLast(table, 1)),
      "vacuum" -> (() => Snapshots.vacuum(table, graceMs = 0L)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(table) && e.getMessage.contains("legacy"),
        s"$name: ${e.getMessage}")
    }
    // refused before anything was written into the old layout
    assert(new java.io.File(table).list().toSet == layout)
  }

  test("commitAppend refuses a batch whose columns differ from the base version's, " +
      "by name, before staging") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-schema").toString + "/t"
    Snapshots.commitAppend(Seq((1L, "a")).toDF("id", "s"), table) // v=1
    def log = new java.io.File(table, "_log").list().toSet
    def dataDirs = new java.io.File(table).list().filter(_.startsWith("d-")).toSet
    val (log0, dirs0) = (log, dataDirs)
    val batches = Seq(
      "extra" -> Seq((2L, "b", 7)).toDF("id", "s", "x"),
      "missing" -> Seq(2L).toDF("id"),
      "retyped" -> Seq((2, "b")).toDF("id", "s"))
    batches.foreach { case (kind, df) =>
      val e = intercept[IllegalArgumentException](Snapshots.commitAppend(df, table))
      val named = kind match {
        case "extra" => "extra: [x: int]"
        case "missing" => "missing: [s: string]"
        case "retyped" => "retyped: [id: bigint -> int]"
      }
      assert(e.getMessage.contains(named), s"$kind: ${e.getMessage}")
      assert(log == log0 && dataDirs == dirs0, s"$kind: the refused append left state behind")
    }
    // nullability alone is no difference; a replace may change the schema
    assert(Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "s")
      .select(col("id"), coalesce(col("s"), lit("")).as("s")), table) == 2)
    assert(Snapshots.commit(Seq(3L).toDF("id"), table) == 3)
    assert(Snapshots.read(spark, table).as[Long].collect().toSeq == Seq(3L))
    // a replace that lands between the check and the CAS: the retry
    // re-checks against the new base and discards its stage
    val dirs3 = dataDirs
    var peer = false
    val e = intercept[IllegalArgumentException](
      Snapshots.commitAppendHooked(Seq(4L).toDF("id"), table, None, () =>
        if (!peer) { peer = true; Snapshots.commit(Seq((5L, "e")).toDF("id", "s"), table) }))
    assert(e.getMessage.contains("missing: [s: string]") && e.getMessage.contains("v=4"),
      e.getMessage)
    assert(log == log0 ++ Set("2", "3", "4"))
    assert((dataDirs -- dirs3).size == 1, "only the peer's replace may leave a data dir")
  }

  test("a plain parquet directory (top-level data files, no log) is refused by name; " +
      "commit and commitAppend write nothing") {
    val table = java.nio.file.Files.createTempDirectory("graft-snap-plain").toString + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(table)
    val layout = new java.io.File(table).list().toSet
    val df = Seq(3L).toDF("id")
    val calls: Seq[(String, () => Any)] = Seq(
      "commit" -> (() => Snapshots.commit(df, table)),
      "commitAppend" -> (() => Snapshots.commitAppend(df, table)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(table) && e.getMessage.contains("plain parquet"),
        s"$name: ${e.getMessage}")
      // no `_log`, no `d-*`: the old rows were not buried under a version
      assert(new java.io.File(table).list().toSet == layout, name)
    }
    // a crashed first commit leaves only a `d-*` dir — not foreign data
    val crashed = java.nio.file.Files.createTempDirectory("graft-snap-d").toString + "/t"
    Seq(9L).toDF("id").write.parquet(s"$crashed/d-crashed")
    assert(Snapshots.commitAppend(df, crashed) == 1)
    assert(Snapshots.read(spark, crashed).as[Long].collect().toSeq == Seq(3L))
  }
}
