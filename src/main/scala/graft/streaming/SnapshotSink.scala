package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{ArtifactIo, Snapshots}

/** Streaming sink into the versioned-table family — the durable half of
  * the reference's continuous telemetry loop (paper §6.2: live ingest →
  * aggregate → durable store; reference `DSet.import` feeds `saveToHDD`):
  * every micro-batch commits one [[Snapshots]] version, so the live
  * stream lands in the SAME table tier batch jobs, [[Snapshots.compact]]
  * compaction (cp2), and pinned readers already use.
  *
  * Exactly-once by batch-id idempotence: Structured Streaming's
  * foreachBatch re-delivers the in-flight batch after a failure/restart;
  * each commit is tagged `batch-<id>`, and a replayed id returns the
  * already-committed version instead of appending twice. Versions are
  * FULL table states (append = the batch's files plus the base's files
  * carried by name in the commit record — see
  * [[Snapshots.commitAppend]]), so a reader pinning any version
  * mid-stream sees one consistent prefix of the stream, and the log
  * advances one conditional PUT per batch.
  *
  * Scale shape: per-trigger cost is one parquet write of the batch plus
  * one O(file names) commit record, on every store; file counts are
  * compaction's job — periodically [[Snapshots.compact]] re-bases the
  * table onto few files, and [[Snapshots.retainLast]] +
  * [[Snapshots.vacuum]] reclaim the chain it replaced. State lives in
  * the stream's checkpoint; the sink itself is stateless.
  */
object SnapshotSink {

  /** Start appending `stream` (an append-mode streaming DataFrame) into
    * the snapshot table at `tableDir`. `checkpointDir` is the streaming
    * checkpoint (offsets + commit log) — reusing it across restarts is
    * what makes batch ids stable, which is what the idempotence tag keys
    * on. The table's store is resolved ONCE at submission
    * ([[ArtifactIo.forSnapshotPath]]), which preflights the path: an
    * undeclared object-store scheme fails loudly at `start()`, not
    * inside the first micro-batch.
    */
  def start(stream: DataFrame, tableDir: String, checkpointDir: String,
      queryName: String = "graft-snapshot-sink"): StreamingQuery = {
    ArtifactIo.forSnapshotPath(tableDir): Unit
    stream.writeStream
      .outputMode("append")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Snapshots.commitAppend(batch, tableDir, Some(s"batch-$batchId"))
        ()
      }
      .start()
  }
}
