package graft.sources

import org.apache.spark.sql.{SparkSession, graftbridge}

/** Small-file compaction — the housekeeping a continuously-appended
  * dataset needs (incremental appends like `InvertedIndex.appendTo` or
  * streaming sinks leave micro-batch-sized files; thousands of tiny
  * files tax the scan planner and the namenode): rewrite a parquet
  * directory into ~`targetBytes` files.
  *
  * This is the quiesced-directory tool: it swaps IN PLACE via two
  * renames ([[swapInPlace]]: rollback on failure, crash recovery on the
  * next run), and a reader racing the swap can
  * observe a brief path-missing window (one rename wide) — use it only
  * on directories nothing is actively reading. Live tables compact
  * through [[Snapshots.compact]] instead: the rewrite lands as a NEW
  * version, so concurrent readers see the old version or the new one,
  * never a missing path, and pinned readers are untouched.
  *
  * Scale shape: one full read + one exchange-free write when shrinking
  * (coalesce — partitions merge map-side, no shuffle); the publish is
  * rename-only. At 100 TB this runs per-partition-directory (per day /
  * per shard), never over the whole dataset at once.
  */
object Compact {

  /** The store-appropriate primitives for `path` (scheme-less → local
    * `java.nio` verbatim; rename-atomic scheme'd stores → Hadoop io).
    */
  private def io(path: String): ArtifactIo = ArtifactIo.forPath(path)

  /** Bytes of data files under a parquet dir (bookkeeping excluded). */
  def dataBytes(path: String): Long = listDataFiles(path).map(_._2).sum

  /** Number of parquet data files under the dir. */
  def dataFileCount(path: String): Int = listDataFiles(path).length

  /** Rewrite `path` into ceil(bytes/targetBytes) files via coalesce (no
    * shuffle). Returns the new data-file count. Flat parquet directories
    * only: a `partitionBy` layout keeps its data files under `col=value/`
    * subdirectories that this rewrite would silently flatten (and the
    * byte accounting would miss entirely) — compact each partition
    * directory instead, which is also the right unit at 100 TB.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    swapInPlace(path) { tmp =>
      require(!hasPartitionDirs(path),
        s"$path has a partitioned (col=value) layout — compact each partition directory")
      val n = math.max(1, math.ceil(dataBytes(path).toDouble / targetBytes).toInt)
      graftbridge.readParquet(spark, path).coalesce(n).write.parquet(tmp)
    }
    dataFileCount(path)
  }

  /** Replace the directory `path` with what `rewrite` writes to the tmp
    * dir it is handed (`rewrite` may read `path`; its job finishes
    * before the swap). The swap is two renames: live → `._graft_compact_old`,
    * tmp → live, then the old copy is deleted. One swap per path at a
    * time: [[Compact.compact]] is the quiesced-directory tool and
    * [[graft.operators.SketchArtifact.compact]] calls this under its
    * append lock.
    *
    * Crash between the renames: the live path is missing and the
    * original sits intact under the fixed `._graft_compact_old` name, so
    * the next swap RESTORES it before sweeping debris — a blind sweep in
    * that state would delete the only surviving copies. A failure of the
    * second rename rolls the original back at once, so `path` never
    * stays missing (a failed rollback is suppressed onto the root cause,
    * never masks it).
    */
  private[graft] def swapInPlace(path: String)(rewrite: String => Unit): Unit = {
    val fs = io(path)
    val tmp = path.stripSuffix("/") + "._graft_compact_tmp"
    val old = path.stripSuffix("/") + "._graft_compact_old"
    // recovery before sweep, never the reverse
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    fs.deleteTree(tmp)
    fs.deleteTree(old)
    try rewrite(tmp)
    catch { case e: Throwable => fs.deleteTree(tmp); throw e }
    try fs.rename(path, old)
    catch { case e: Throwable => fs.deleteTree(tmp); throw e } // rewrite discarded, path untouched
    try fs.rename(tmp, path)
    catch {
      case e: Throwable =>
        try fs.rename(old, path)
        catch { case rb: Throwable => e.addSuppressed(rb) }
        fs.deleteTree(tmp)
        throw e
    }
    fs.deleteTree(old)
  }

  /** True if the directory uses a hive-style `col=value/` partition layout. */
  private def hasPartitionDirs(path: String): Boolean =
    io(path).listEntries(path).exists { case (fn, isDir, _) =>
      isDir && fn.contains("=") && !fn.startsWith(".")
    }

  /** (name, bytes) of the dir's data files (bookkeeping excluded). */
  private def listDataFiles(path: String): Seq[(String, Long)] =
    io(path).listEntries(path).collect {
      case (fn, false, size) if ArtifactIo.isDataFileName(fn) =>
        (fn, size)
    }
}
