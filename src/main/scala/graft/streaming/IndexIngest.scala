package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, filter, length, size, split}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.InvertedIndex

/** Streaming maintenance of the SCORED (BM25) index — the continuous
  * closure of the ii family, [[ScreenedIngest]]'s twin on the retrieval
  * side (no reference counterpart): every micro-batch tokenizes ONLY
  * its own documents and folds them into the standing index artifact
  * via [[InvertedIndex.appendScored]], exact integer (N, avgdl) totals
  * included, so searches served off the artifact (attach, batched ii8
  * reads) stay CORRECT as the corpus streams in — never a stale-stats
  * mis-rank, never an O(index) rebuild per batch.
  *
  * Per-batch cost is batch-sized (tokenize + append + the sidecar fold)
  * plus, with `idScreen`, one column-pruned doc-id read of the index —
  * the one non-batch-sized term, same as [[ScreenedIngest]]'s screen.
  *
  * Identity contract (the ScreenedIngest convention): `idCol` is each
  * row's durable identity; NULL-id rows are excluded (no identity → no
  * idempotence story). Null/empty/untokenizable-TEXT rows are dropped
  * BEFORE the screen and the append: they would contribute no postings
  * and no totals anyway (a rebuild would not count them either), and
  * because they never enter the index their ids never enter the id
  * screen — kept in the batch, every redelivery would re-run a
  * pointless empty append (lock churn plus a sidecar-absent window
  * during which a concurrent attach pays a spurious O(index) heal).
  *
  * Redelivery (foreachBatch is at-least-once): `idScreen = true` (the
  * default) anti-joins each batch against the index's doc ids, so a
  * redelivered batch appends nothing. Disable it only when upstream
  * guarantees globally-fresh ids AND exactly-once delivery; without it
  * a redelivered batch double-appends its postings AND double-folds
  * its totals (both wrong, loudly visible against a rebuild — the ii5
  * oracle property).
  *
  * Crash contract: a crash BETWEEN batches redelivers a fully-committed
  * batch, which the id screen makes a no-op. A crash WITHIN an append
  * is the dangerous window: a subset of the dying batch's postings may
  * already be committed, so its doc ids are VISIBLE to the screen and a
  * redelivery would silently drop those docs with their remaining
  * postings missing forever (appendScored's marker machinery keeps the
  * TOTALS sidecar exact — absent until healed — but cannot un-commit
  * partial postings). [[start]]'s micro-batch therefore checks the
  * append-in-progress marker FIRST and fails the query LOUDLY when a
  * prior append died mid-flight: remediation is a rebuild of the
  * artifact ([[InvertedIndex.materializeScored]] over the corpus of
  * record) — the loud-over-silent-loss convention (the sidecar
  * invariant, applied to postings).
  *
  * Day-zero bootstrap: a missing index directory simply starts the
  * artifact from zero (appendScored's `(0, 0)` prior) and skips the id
  * screen until the first batch lands. Writers elsewhere: appends to
  * one index path SERIALIZE under appendScored's advisory lock, but do
  * not run a second ingest against the same path — each ingest's id
  * screen only sees ids committed before its batch started.
  */
object IndexIngest {

  def start(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpointDir: String,
      idScreen: Boolean = true): StreamingQuery = {
    ArtifactPaths.requireStore("IndexIngest", "indexPath", indexPath)
    // crashed-append preflight (the per-batch tripwire's start()-time
    // twin): a marker left by a crash is caught HERE, before the stream
    // wires up — not only at the next micro-batch, during whose wait the
    // attach/search path would happily read the partial index
    require(!InvertedIndex.appendInProgress(indexPath),
      s"IndexIngest: a previous append to '$indexPath' died mid-flight " +
        "(append marker present) — partial postings for its batch may be " +
        "committed. Rebuild the artifact (InvertedIndex.materializeScored " +
        "over the corpus of record), then restart the ingest.")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // crashed-append tripwire (see the crash contract above): the
        // marker can only be live here if a PRIOR append died mid-flight
        // (this query's batches are sequential; a concurrent writer on
        // the same path is out of contract) — partial postings may be
        // visible, and screening over them silently loses documents
        require(!InvertedIndex.appendInProgress(indexPath),
          s"IndexIngest: a previous append to '$indexPath' died mid-flight " +
            "(append marker present) — partial postings for its batch may be " +
            "committed, and continuing would silently drop those documents. " +
            "Rebuild the artifact (InvertedIndex.materializeScored over the " +
            "corpus of record), then restart the ingest.")
        // tokenizable rows only: an untokenizable row would never enter
        // the index, so its id would never enter the screen and every
        // redelivery would re-run an empty append (see the identity
        // contract)
        val admissible = batch.filter(col(idCol).isNotNull)
          .filter(size(filter(split(col(textCol), " "),
            t => length(t) > 0)) > 0)
        val fresh = (
          if (idScreen && ArtifactPaths.hasParquet(indexPath)) {
            val idx = graftbridge.readParquet(spark, indexPath)
            // loud layout check: a wrong path (or a membership/positional
            // artifact) must name the contract, not die in a generic
            // unresolved-column AnalysisException deep in the anti-join
            val missing = Seq(idCol, "token", "tf", "dl").filterNot(idx.columns.contains)
            require(missing.isEmpty,
              s"IndexIngest: '$indexPath' is not a scored index artifact " +
                s"(missing columns: ${missing.mkString(", ")}; expected " +
                s"($idCol, token, tf, dl)) — wrong path, or a different index layout")
            admissible.join(idx.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
          } else admissible
        // frozen: the anti-join's plan reads the directory the append
        // mutates — materialize the kept set BEFORE writing (the
        // ScreenedIngest convention)
        ).localCheckpoint()
        try {
          // an all-screened (redelivered) batch must be a true no-op:
          // an empty append would still add a parquet fragment and
          // rewrite the sidecar for nothing
          if (!fresh.isEmpty) {
            InvertedIndex.appendScored(fresh, idCol, textCol, indexPath): Unit
          }
        } finally graftbridge.releaseCheckpoints(fresh)
      }
      .start()
  }
}
