package graft.sources

import java.nio.file.Path

/** Shared local-filesystem helpers for the artifact-managing sources
  * (plan cache, compaction, snapshots).
  */
private[graft] object FsUtil {

  /** Recursive delete; tolerates concurrent removals. */
  def deleteTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(p.toFile)
  }

  /** Newest modification time anywhere in the tree. The TOP directory's
    * mtime is NOT enough to decide liveness: Spark's committer creates
    * the staging dir once at job start and then writes task files deep
    * under `_temporary/...` — a long-running healthy write keeps its
    * leaves fresh while the top dir looks ancient.
    */
  def newestMtimeMs(p: Path): Long = {
    val f = p.toFile
    val own = f.lastModified()
    Option(f.listFiles())
      .map(_.foldLeft(own)((mx, c) => math.max(mx, newestMtimeMs(c.toPath))))
      .getOrElse(own)
  }

  /** Run `body` holding an exclusive OS advisory lock on `lockPath`.
    * The lock file is created if absent and NEVER deleted — delete-by-name
    * reclaim is a TOCTOU that can steal a live holder's lock; a crashed
    * holder's OS lock releases automatically, so no grace heuristics.
    * Bounded wait: a holder that outlives `timeoutMs` fails THIS caller
    * loudly (never the holder), naming the lock file and appending
    * `timeoutHint`. Shared by the scored-index append lock and the
    * sketch-artifact append lock — one copy so a contention-handling fix
    * cannot silently miss a site.
    */
  def withFileLock[A](lockPath: Path, timeoutMs: Long, what: String,
      timeoutHint: String)(body: => A): A = {
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var lock: java.nio.channels.FileLock = null
      while (lock == null) {
        // tryLock (not lock()): same-JVM contention surfaces as either a
        // null return or OverlappingFileLockException depending on timing
        try lock = ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => () }
        if (lock == null) {
          if (System.nanoTime() > deadline) throw new IllegalStateException(
            s"$what: could not acquire lock $lockPath within ${timeoutMs / 1000}s — " +
              timeoutHint)
          Thread.sleep(5)
        }
      }
      try body finally lock.release()
    } finally ch.close()
  }

  /** Non-blocking [[withFileLock]]: one `tryLock` attempt — `None` when
    * the lock is held elsewhere (the caller's slow path must be safe to
    * skip, e.g. a best-effort heal that a concurrent writer supersedes).
    */
  def tryWithFileLock[A](lockPath: Path)(body: => A): Option[A] = {
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock =
        try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => null }
      if (lock == null) None
      else try Some(body) finally lock.release()
    } finally ch.close()
  }

  /** Reclaim staging debris: delete direct children of `dir` matching
    * `glob` whose ENTIRE tree has been untouched for `graceMs` (see
    * [[newestMtimeMs]] — only a writer that truly died leaves a tree
    * this quiet). Missing `dir` is a no-op; per-entry races with
    * concurrent publish/delete are tolerated.
    */
  def sweepStale(dir: Path, glob: String, graceMs: Long): Unit = {
    if (!java.nio.file.Files.isDirectory(dir)) return
    val cutoff = System.currentTimeMillis() - graceMs
    val stream = java.nio.file.Files.newDirectoryStream(dir, glob)
    try {
      val it = stream.iterator()
      var more = true
      while (more) {
        // hasNext/next themselves throw DirectoryIteratorException (a
        // RuntimeException, not IOException) when a concurrent
        // publish/delete breaks the listing mid-iteration — the sweep is
        // best-effort, so stop quietly instead of aborting the caller's
        // commit/claim
        val next =
          try { if (it.hasNext) Some(it.next()) else None }
          catch { case _: java.nio.file.DirectoryIteratorException => None }
        next match {
          case Some(p) =>
            try {
              if (newestMtimeMs(p) < cutoff) deleteTree(p)
            } catch { case _: java.io.IOException => () }
          case None => more = false
        }
      }
    } finally stream.close()
  }

  /** Whether `dir` holds any DATA files (non-`_`/`.`-prefixed) — the
    * "does an artifact already live here" probe. ONE copy for every
    * artifact family (index appends, streaming ingest bootstrap /
    * id-screen probes), so the artifact-presence semantics (which
    * prefixes are bookkeeping) can never diverge between them.
    * Single-filesystem by contract, like the rest of this object.
    */
  def hasDataFiles(dir: String): Boolean = {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.isDirectory(d) && {
      val s = java.nio.file.Files.list(d)
      try s.anyMatch { p =>
        val n = p.getFileName.toString
        ArtifactIo.isDataFileName(n)
      }
      finally s.close()
    }
  }
}
