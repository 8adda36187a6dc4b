package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming ingest with an INLINE near-dup screen and sketch
  * maintenance — the closed incremental loop as one continuous pipeline
  * (no reference counterpart; the streaming composition of the r15
  * maintenance ops): every micro-batch screens against the CURRENT
  * SimHash sketch, kept rows land in the corpus, and the accepted batch
  * enters the sketch, so batch N+1 screens against everything admitted
  * through batch N — never a stale snapshot.
  *
  * Batch semantics (the d10 contract per micro-batch): cross-side
  * near-dups drop, within-batch dups pass (chain a batch-local
  * [[Dedup.nearDedupKeep]] upstream if needed). Each batch is hashed
  * ONCE ([[Dedup.simhashSims]], checkpointed) and the frame feeds both
  * the screen and the sketch append. The self-sufficient sketch means
  * the screen reads no corpus text — per-batch cost is batch-sized
  * regardless of corpus size (plus the optional `idScreen` id read,
  * below), the property that lets this run as a CONTINUOUS query.
  *
  * Identity contract: `idCol` is each row's durable identity; rows with
  * a NULL id are EXCLUDED from ingest (no identity → no idempotence
  * story — count them upstream if loss matters). Rows with null TEXT
  * keep their identity, pass the screen unmatched (they cannot sketch),
  * and rely on `idScreen` for redelivery protection.
  *
  * Redelivery (foreachBatch is at-least-once): after BOTH writes
  * committed, a redelivered batch normally self-matches in the sketch
  * and appends nothing. Two leaks make that "normally": a doc whose
  * EVERY chunk bucket is hot (the `maxBucketSize` guard drops the
  * shared rows, so it never self-matches) and null-text rows (never in
  * the sketch at all). `idScreen = true` (the default) closes both with
  * an id anti-join against the corpus — a column-pruned id scan per
  * batch, the one non-batch-sized term; disable it only when upstream
  * guarantees globally-fresh ids AND redelivery routes through an
  * id-keyed sink ([[SnapshotSink]]'s batch-id tag, the st3 machinery,
  * or [[graft.operators.Upsert]]). A crash BETWEEN the two writes
  * redelivers into a window where the corpus holds rows the sketch
  * doesn't know: with `idScreen` those are dropped by id; without it
  * they re-keep and append twice. The write order (corpus first, then
  * sketch) is still deliberate — the reverse would turn that window
  * into silent data LOSS (sketch-knows-but-corpus-missing) instead of
  * collapsible duplicates.
  *
  * Day-zero bootstrap: a missing sketch artifact is seeded EMPTY at
  * [[start]] (first deployment needs no pre-built sketch); a missing
  * corpus directory simply skips the id screen until the first batch
  * lands.
  *
  * Maintenance: sketch compaction against a live `sketchPath` is safe —
  * each micro-batch's screen runs under
  * [[graft.operators.SketchArtifact.screenRetrying]], which absorbs the
  * one transient missing-file failure a concurrent [[compact]]'s rename
  * window can produce by rebuilding the read once (the compacted
  * directory is screen-equivalent); a second failure still propagates
  * loudly (a genuinely missing artifact is never silently skipped).
  */
object ScreenedIngest {

  def start(docs: DataFrame, idCol: String, textCol: String,
      sketchPath: String, corpusDir: String, checkpointDir: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      idScreen: Boolean = true): StreamingQuery = {
    // loud artifact-store contract + artifact probes: [[ArtifactPaths]]
    ArtifactPaths.requireStore("ScreenedIngest", "sketchPath", sketchPath)
    ArtifactPaths.requireStore("ScreenedIngest", "corpusDir", corpusDir)
    // day-zero bootstrap: seed an EMPTY sketch so the first micro-batch
    // reads a valid (vacuous) old side instead of failing on the path
    if (!ArtifactPaths.exists(sketchPath)) {
      val spark = docs.sparkSession
      import spark.implicits._
      Dedup.simhashSketch(
          Seq.empty[(Long, String)].toDF(idCol, textCol), idCol, textCol)
        .write.mode("overwrite").parquet(sketchPath)
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val admissible = batch.filter(col(idCol).isNotNull)
        // ONE hashing pass per batch, frozen: the screen and the sketch
        // append both read this frame, and the screen's plan must not
        // re-evaluate against the sketch directory the append mutates
        val sims = Dedup.simhashSims(admissible, idCol, textCol).localCheckpoint()
        try {
          // the whole read-build-and-execute runs inside the retry thunk
          // (a fresh parquet read each attempt — see screenRetrying's
          // contract); the corpus/sketch WRITES stay outside it
          val kept = graft.operators.SketchArtifact.screenRetrying() {
            val screened = Dedup.incrementalSimhashKeepFromSims(
              admissible, sims, graftbridge.readParquet(spark, sketchPath), idCol,
              maxHamming, maxBucketSize)
            (
              if (idScreen && ArtifactPaths.hasParquet(corpusDir))
                screened.join(graftbridge.readParquet(spark, corpusDir).select(col(idCol)),
                  Seq(idCol), "left_anti")
              else screened
            ).localCheckpoint()
          }
          try {
            kept.write.mode("append").parquet(corpusDir)
            Dedup.appendToSimhashSketchFromSims(
              sims.join(kept.select(col(idCol).cast("long").as("id")),
                Seq("id"), "left_semi"),
              sketchPath)
          } finally graftbridge.releaseCheckpoints(kept)
        } finally graftbridge.releaseCheckpoints(sims)
      }
      .start()
  }
}
