package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.streaming.{LiveIngest, SnapshotSink}

/** Streaming sink into the versioned-table family (the durable half of
  * the reference paper §6.2 continuous loop): micro-batches land as
  * Snapshots versions, exactly-once by batch-id idempotence, with the
  * pinned-reader contract intact mid-stream.
  */
class SnapshotSinkSpec extends SparkSuite {
  import spark.implicits._

  private lazy val eventsBatch =
    Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
  private lazy val eventLines: Seq[String] =
    eventsBatch.orderBy(col("ts")).toJSON.collect().toSeq

  private def dropChunk(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Files.createTempFile("snap-sink-stage", ".json")
    Files.write(tmp, lines.mkString("\n").getBytes)
    Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("stream lands as snapshot versions: prefixes, pinned readers, restart without dupes") {
    val src = Files.createTempDirectory("snap-sink-src").toString
    val table = Files.createTempDirectory("snap-sink-tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("snap-sink-ckpt").toString
    val chunks = eventLines.grouped(math.max(1, eventLines.size / 3 + 1)).toSeq
    (0 until 3).foreach(i => dropChunk(src, f"chunk_$i%02d.json", chunks(i)))

    val q = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q.processAllAvailable() finally q.stop()

    // one version per micro-batch, each the FULL table as of its batch
    val vLatest = Snapshots.latestVersion(table).get
    assert(vLatest == 3, s"expected 3 versions, latest=$vLatest")
    def ids(v: Int): Set[Long] = Snapshots.read(spark, table, Some(v))
      .select("event_id").as[Long].collect().toSet
    val perVersion = (1 to vLatest).map(ids)
    perVersion.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later version lost earlier rows")
    }
    val allIds = eventsBatch.select("event_id").as[Long].collect().toSet
    assert(perVersion.last == allIds, "final version != full input")
    assert(perVersion.head.size < allIds.size, "first version should be a strict prefix")

    // a reader pinned mid-stream is untouched by later commits
    val pinnedV1 = perVersion.head

    // RESTART from the same checkpoint with one new file: batch ids
    // resume past the committed ones, the new data appends exactly once,
    // and no earlier batch is re-applied (idempotence tags + checkpoint)
    val extraIds = Seq(9000001L, 9000002L)
    val extraLines = extraIds.map(id =>
      s"""{"event_id":$id,"user_id":1,"event_type":"click","ts":"2024-01-01T00:00:00.000Z","value":1.0}""")
    dropChunk(src, "chunk_99.json", extraLines)
    val q2 = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val vAfter = Snapshots.latestVersion(table).get
    assert(vAfter == 4, s"restart must append exactly one version, latest=$vAfter")
    val finalIds = Snapshots.read(spark, table).select("event_id").as[Long].collect().toSeq
    assert(finalIds.length == finalIds.distinct.length, "restart re-applied a batch (dupes)")
    assert(finalIds.toSet == allIds ++ extraIds)
    assert(ids(1) == pinnedV1, "pinned version changed under a later commit")
  }

  test("manifest-carry sink on a file:-scheme'd table: O(batch) triggers, same prefixes, no restart dupes") {
    // the Hadoop-backed io (file:) end to end: each micro-batch stages
    // only its own files, its commit record names the inherited ones,
    // reads resolve the record, restart replays append nothing
    val src = Files.createTempDirectory("snap-sinkm-src").toString
    val table = "file:" + Files.createTempDirectory("snap-sinkm-tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("snap-sinkm-ckpt").toString
    val chunks = eventLines.grouped(math.max(1, eventLines.size / 3 + 1)).toSeq
    (0 until 3).foreach(i => dropChunk(src, f"chunk_$i%02d.json", chunks(i)))
    val q = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q.processAllAvailable() finally q.stop()
    val vLatest = Snapshots.latestVersion(table).get
    assert(vLatest == 3)
    def ids(v: Int): Set[Long] = Snapshots.read(spark, table, Some(v))
      .select("event_id").as[Long].collect().toSet
    val perVersion = (1 to vLatest).map(ids)
    perVersion.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later version lost earlier rows")
    }
    assert(perVersion.last == eventsBatch.select("event_id").as[Long].collect().toSet)
    // structural O(batch): every data file on disk is one the latest
    // version reads — no trigger re-materialized an inherited file
    val written = new java.io.File(table.stripPrefix("file:")).listFiles()
      .filter(_.getName.startsWith("d-"))
      .map(_.listFiles().count(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")))
      .sum
    val latestReads = Snapshots.read(spark, table).inputFiles.length
    assert(written == latestReads,
      s"sink must not re-materialize inherited files (on disk=$written, latest reads=$latestReads)")
    // restart with a redelivered batch id appends nothing
    val q2 = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(Snapshots.latestVersion(table).get == 3, "restart must re-commit nothing")
  }

  test("CAS sink on a conditional-PUT object store (mock3c): one conditional " +
      "PUT per trigger, same prefixes, restart without dupes") {
    // the sink end to end on a declared conditional-PUT store: every
    // micro-batch commits as one _log/N CAS, tags give the same
    // exactly-once replay contract, and the pinned-reader prefixes hold
    // mid-stream
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3c.impl", classOf[graft.sources.ConditionalPutMockFs].getName)
    graft.sources.ArtifactIo.addExtraScheme(hc,
      graft.sources.ArtifactIo.RenameByCopyExtraSchemesKey, "mock3c")
    graft.sources.ArtifactIo.addExtraScheme(hc,
      graft.sources.ArtifactIo.ConditionalPutExtraSchemesKey, "mock3c")
    val src = Files.createTempDirectory("snap-sinkc-src").toString
    val table = "mock3c:" + Files.createTempDirectory("snap-sinkc-tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("snap-sinkc-ckpt").toString
    val chunks = eventLines.grouped(math.max(1, eventLines.size / 3 + 1)).toSeq
    (0 until 3).foreach(i => dropChunk(src, f"chunk_$i%02d.json", chunks(i)))
    val q = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q.processAllAvailable() finally q.stop()
    val vLatest = Snapshots.latestVersion(table).get
    assert(vLatest == 3, s"expected 3 CAS versions, latest=$vLatest")
    def ids(v: Int): Set[Long] = Snapshots.read(spark, table, Some(v))
      .select("event_id").as[Long].collect().toSet
    val perVersion = (1 to vLatest).map(ids)
    perVersion.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "a later version lost earlier rows")
    }
    val allIds = eventsBatch.select("event_id").as[Long].collect().toSet
    assert(perVersion.last == allIds, "final version != full input")
    val pinnedV1 = perVersion.head
    // restart from the same checkpoint with one new file: redelivered
    // ids hit their tags in the chain (no dupes), the new batch lands
    // as exactly one new CAS version
    val extraIds = Seq(9100001L, 9100002L)
    val extraLines = extraIds.map(id =>
      s"""{"event_id":$id,"user_id":1,"event_type":"click","ts":"2024-01-01T00:00:00.000Z","value":1.0}""")
    dropChunk(src, "chunk_99.json", extraLines)
    val q2 = SnapshotSink.start(
      LiveIngest.fromDirectory(spark, src, maxFilesPerTrigger = 1), table, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(Snapshots.latestVersion(table).get == 4,
      "restart must append exactly one version")
    val finalIds = Snapshots.read(spark, table).select("event_id").as[Long].collect().toSeq
    assert(finalIds.length == finalIds.distinct.length, "restart re-applied a batch (dupes)")
    assert(finalIds.toSet == allIds ++ extraIds)
    assert(ids(1) == pinnedV1, "pinned version changed under a later commit")
  }
}
