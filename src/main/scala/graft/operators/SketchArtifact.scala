package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.sources.ArtifactIo

/** Shared persistence plumbing for append-maintained screening artifacts:
  * the LSH sketches ([[Dedup.minhashSketch]], [[Similarity.srpSketch]])
  * and the SemDeDup assigned-corpus table. No reference counterpart —
  * the reference's caches are in-memory per-session (`cache.fs`); this is
  * the incremental-curation extension surface, where a saved artifact
  * outlives sessions and is maintained per accepted batch.
  *
  * Economics (the `InvertedIndex.appendScored` reasoning applied to
  * sketches): a steady-state pipeline must never pay O(corpus) to admit a
  * batch, so maintenance hashes ONLY the batch and appends its rows. An
  * appended bucket may then span MULTIPLE artifact rows (one per append
  * that touched it); the incremental screens union candidates across
  * fragments (their bucket joins emit one candidate row per fragment and
  * de-duplicate), so screen results equal a from-scratch rebuild — with
  * one documented softening: the per-bucket hot guard (`maxBucketSize`)
  * applies per FRAGMENT, so a bucket that crosses the cap only across
  * fragments yields MORE candidates than a rebuilt sketch would (more
  * recall, more verify cost — conservative in the correctness direction,
  * never silent loss). [[compact]] merges fragments and restores exact
  * guard semantics; run it on the rebuild cadence the fragment count
  * dictates, not the data volume.
  *
  * Crash + concurrency story: appends to one artifact SERIALIZE under an
  * OS advisory lock on a SIBLING lock file (outside the artifact dir —
  * compaction swaps the directory itself, and a lock inode inside it
  * would travel with the rename, silently splitting waiters across two
  * inodes). A crashed append leaves either no new rows or a committed
  * subset of the batch's fragment rows: screens stay CORRECT for
  * everything previously admitted and merely under-screen against the
  * partially-admitted batch — re-appending the same batch is
  * screen-idempotent (duplicate ids add candidates the verify step
  * de-duplicates), so the recovery is simply "append again".
  */
private[graft] object SketchArtifact {

  /** Appends are batch-sized jobs; minutes of lock contention means a
    * wedged holder — fail loudly (the appendScored bound).
    */
  private val LockTimeoutMs = 600 * 1000L

  /** Sibling lock file for `path` (see the class note on why it must
    * live OUTSIDE the artifact directory).
    */
  private[operators] def lockFile(path: String): String =
    path.stripSuffix("/") + "._graft_sketch.lock"

  /** Store-appropriate primitives for `path` — local `java.nio` for
    * scheme-less paths (historical behavior, byte-identical), Hadoop
    * `FileSystem` for rename-atomic scheme'd stores, loud rejection for
    * rename-by-copy ones ([[graft.sources.ArtifactIo.forPath]]).
    */
  private def io(path: String): ArtifactIo = ArtifactIo.forPath(path)

  private def withArtifactLock[A](path: String)(body: => A): A =
    io(path).withLock(lockFile(path), LockTimeoutMs, "sketch artifact",
      "another maintainer is wedged holding it (on a scheme-less path also check " +
        "that the filesystem honors advisory FileLocks — some NFS mounts do not; " +
        "serialize sketch maintenance upstream there)")(body)

  /** Append `rows` (already in the artifact's schema) under the lock. */
  def append(rows: DataFrame, path: String): Unit = withArtifactLock(path) {
    rows.write.mode("append").parquet(path)
  }

  /** Run `screen` tolerating ONE transient missing-file failure from a
    * concurrent [[compact]]'s rename window — the retry-once reader that
    * removes the "don't compact while a live screen reads" operational
    * constraint (the r16 documented workaround was a maintenance window).
    *
    * Caller contract: `screen` must BUILD AND EXECUTE its artifact read
    * inside the thunk (`graftbridge.readParquet(spark, path)` + the action), never
    * close over a pre-built DataFrame — a stale plan pins the OLD file
    * listing and would re-fail identically on retry; re-reading resolves
    * the freshly-compacted (screen-equivalent) directory. Side-effecting
    * writes stay OUTSIDE the thunk: a retry re-runs all of it.
    *
    * The window is two rename syscalls wide, so one retry after a short
    * sleep suffices; a SECOND failure propagates — a genuinely missing
    * artifact stays loud (never a silent skip), exactly as before.
    */
  def screenRetrying[A](retryDelayMs: Long = 100L)(screen: => A): A =
    try screen
    catch {
      case e: Exception if isTransientMissingFile(e) =>
        Thread.sleep(retryDelayMs)
        screen
    }

  /** Whether `t`'s cause chain is a missing-file/path failure — the only
    * shape a compact's rename window produces (Spark wraps the task-side
    * FileNotFoundException in SparkException layers; a read-time listing
    * miss surfaces as AnalysisException PATH_NOT_FOUND).
    */
  private def isTransientMissingFile(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      val missing = cur match {
        case _: java.io.FileNotFoundException => true
        case a: org.apache.spark.sql.AnalysisException =>
          val m = a.getMessage
          m != null && (m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist"))
        case _ => false
      }
      if (missing) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Merge fragment rows back to one row per bucket key: reads the
    * artifact (bucket keys + id lists only — never the corpus), groups on
    * `keyCols`, flattens the id-list fragments, and atomically swaps the
    * compacted directory in. O(artifact) — cheap next to the corpus
    * re-sketch it replaces, since no text/vectors are read or hashed.
    *
    * The swap is [[graft.sources.Compact.swapInPlace]] under the append
    * lock (live → `.old`, compacted → live). A crash BETWEEN the renames
    * leaves the artifact path missing and the `.old` directory intact:
    * every reader fails LOUDLY (no silent staleness — the sidecar
    * invariant, directory-shaped), and the next [[compact]] restores
    * `.old` before it sweeps debris.
    *
    * READER concurrency contract: the append lock serializes WRITERS
    * only — screens take no lock (a screen is a plain parquet read, and
    * locking every reader would serialize the whole screening fleet
    * behind maintenance). A screen whose plan resolves the path inside
    * the rename window of a normal, non-crashed compact can therefore
    * fail transiently with FileNotFoundException. That failure is safe
    * (loud, never a stale or torn read — the compacted directory that
    * appears moments later is screen-equivalent) and [[screenRetrying]]
    * is the blessed way to absorb it: wrap the screen's read+execute in
    * the thunk and the one retry rebuilds against the compacted
    * directory ([[graft.streaming.ScreenedIngest]] does this per
    * micro-batch, so compacting under a live ingest is supported).
    */
  def compact(spark: SparkSession, path: String, keyCols: Seq[String],
      idsCol: String = "ids"): Unit = withArtifactLock(path) {
    graft.sources.Compact.swapInPlace(path) { tmp =>
      graftbridge.readParquet(spark, path)
        .groupBy(keyCols.map(col): _*)
        .agg(flatten(collect_list(col(idsCol))).as(idsCol))
        .write.mode("overwrite").parquet(tmp)
    }
  }
}
