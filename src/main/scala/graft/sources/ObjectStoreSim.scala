package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FileUtil, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local-disk-backed Hadoop filesystem that SIMULATES a rename-by-copy
  * object store (`mock3a:` scheme) — the proof vehicle for admitting
  * s3a-class stores into the plan cache (gate pc1, PlanCacheSpec): every
  * `rename` really is copy-then-delete (file by file, observably
  * non-atomic, exactly the s3a client's emulation), and
  * `create(overwrite = false)` keeps RawLocalFileSystem's non-atomic
  * check-then-create (no create-exclusive — why lock files are
  * unavailable on this class of store). Running the full PlanCache
  * lifecycle against it proves the manifest-last publish protocol
  * ([[PlanCache]]) never depends on the primitives these stores lack.
  *
  * Registration (what the gate/spec does):
  * {{{
  *   hadoopConf.set("fs.mock3a.impl", classOf[RenameByCopyMockFs].getName)
  *   hadoopConf.set(ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
  * }}}
  * after which `mock3a:/some/local/dir` routes through
  * [[ObjectStoreArtifactIo]] in [[ArtifactIo.forCachePath]] and is
  * rejected by the strict [[ArtifactIo.forPath]] like any other
  * rename-by-copy scheme.
  */
class RenameByCopyMockFs extends RawLocalFileSystem {

  override def getScheme: String = "mock3a"

  override def getUri: URI = URI.create("mock3a:///")

  /** Whether `create(overwrite = false)` commits ATOMICALLY at close (the
    * conditional-PUT / If-None-Match capability) — false here: the
    * classic object-store class has only a non-atomic check-then-act,
    * which is exactly why lock files and CAS protocols are unavailable on
    * it. [[ConditionalPutMockFs]] flips it.
    */
  protected def conditionalPut: Boolean = false

  /** Visibility-at-close — the one atomicity object stores DO give (a
    * PUT appears whole at close or not at all; no torn or zero-byte
    * intermediate state), which the manifest-last publish protocol's
    * whole-object swap depends on. RawLocalFileSystem's create is an
    * in-place truncate-then-stream — a racer could read a torn
    * manifest, which a real s3a/gs/abfs reader never can — so writes go
    * to a hidden in-flight file and ATOMIC_MOVE into place at close.
    * The `overwrite = false` probe stays the non-atomic check-then-act
    * these stores actually have (no O_EXCL — why lock files are
    * unavailable on this class).
    */
  /** Funnel for BOTH create overloads RawLocalFileSystem implements
    * directly (the permissioned and the plain one — overriding only one
    * leaves the other writing in place, which bit the 4-racer spec with
    * a torn-manifest chmod race before this existed).
    */
  private def putAtClose(f: Path, overwrite: Boolean)(
      open: Path => FSDataOutputStream): FSDataOutputStream = {
    if (!overwrite && exists(f))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
    val tmp = new Path(f.getParent,
      s".inflight-${java.util.UUID.randomUUID().toString.take(8)}-${f.getName}")
    val out = open(tmp)
    new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        out.write(b, off, len)
      override def flush(): Unit = out.flush()
      override def close(): Unit = {
        out.close()
        if (!overwrite && conditionalPut) {
          // the If-None-Match PUT: the exclusivity check happens at the
          // COMMIT (close), atomically — a loser observes
          // FileAlreadyExistsException from close() with the destination
          // untouched, exactly the S3/GCS conditional-write contract.
          // link(2), NOT a no-replace ATOMIC_MOVE: POSIX rename silently
          // REPLACES a file destination, which would simulate
          // last-writer-wins — the opposite of the capability this mock
          // exists to model. The in-flight object is reclaimed either
          // way (a real store's failed PUT leaves nothing behind).
          try
            java.nio.file.Files.createLink(pathToFile(f).toPath, pathToFile(tmp).toPath): Unit
          finally
            java.nio.file.Files.deleteIfExists(pathToFile(tmp).toPath): Unit
        } else
          java.nio.file.Files.move(pathToFile(tmp).toPath, pathToFile(f).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }, null)
  }

  /** Honesty guards (r19 ADVICE): RawLocalFileSystem's createNonRecursive
    * writes IN PLACE, silently bypassing the visible-at-close funnel the
    * simulator's claims rest on — and real object stores have no append
    * at all. Both throw rather than simulate semantics the store class
    * does not have. (Spark's parquet writer and FileUtil.copy route
    * through `create`, which is funneled above.)
    */
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      s"$getScheme: createNonRecursive bypasses the mock's visible-at-close PUT " +
        "funnel — route writes through create()")

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      s"$getScheme: object stores have no append — objects are immutable " +
        "whole-PUT blobs")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    putAtClose(f, overwrite)(t =>
      super.create(t, permission, true, bufferSize, replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    putAtClose(f, overwrite)(t =>
      super.create(t, true, bufferSize, replication, blockSize, progress))

  /** Rename by copy+delete — the object-store emulation: a crash (or a
    * racing reader) mid-call observes BOTH names with partial content,
    * which is precisely why [[ArtifactIo.forPath]] keeps these stores
    * away from every rename-dependent commit protocol.
    */
  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src)) return false
    // POSIX-mv semantics the FileSystem contract expects: an existing
    // directory destination receives src as a CHILD; an existing file
    // destination refuses
    val effectiveDst =
      if (exists(dst)) {
        if (!getFileStatus(dst).isDirectory) return false
        new Path(dst, src.getName)
      } else dst
    if (exists(effectiveDst) && !getFileStatus(effectiveDst).isDirectory) return false
    FileUtil.copy(this, src, this, effectiveDst,
      /* deleteSource = */ true, /* overwrite = */ true, getConf)
  }
}

/** A rename-by-copy object store WITH conditional writes (`mock3c:`) —
  * the store class S3 joined in November 2024 (`If-None-Match: *` on
  * PUT/CompleteMultipartUpload), GCS has always been
  * (`x-goog-if-generation-match: 0`), and Azure Blob likewise
  * (`If-None-Match: *`): rename is STILL copy+delete and lock files are
  * STILL unavailable, but `create(overwrite = false)` commits atomically
  * at close — exactly one of N racing writers of a name wins, the losers
  * observe `FileAlreadyExistsException` from `close()` with the
  * destination untouched. That single primitive is a compare-and-swap on
  * object existence, and it is ALL [[Snapshots]]' log-is-the-pointer
  * commit protocol uses — proving the protocol never reaches for rename
  * atomicity or locks (gate tv6, CasSnapshotsSpec).
  *
  * Registration (what the gate/spec does):
  * {{{
  *   hadoopConf.set("fs.mock3c.impl", classOf[ConditionalPutMockFs].getName)
  *   hadoopConf.set(ArtifactIo.RenameByCopyExtraSchemesKey, "mock3c")
  *   hadoopConf.set(ArtifactIo.ConditionalPutExtraSchemesKey, "mock3c")
  * }}}
  * after which `mock3c:/some/local/dir` routes through
  * [[CasObjectStoreArtifactIo]] in [[ArtifactIo.forSnapshotPath]], stays
  * admissible to [[ArtifactIo.forCachePath]] (the plan cache's protocol
  * needs nothing this store lacks), and is still rejected by the strict
  * [[ArtifactIo.forPath]] — the rename/lock-dependent artifact families
  * remain off-limits.
  */
final class ConditionalPutMockFs extends RenameByCopyMockFs {

  override def getScheme: String = "mock3c"

  override def getUri: URI = URI.create("mock3c:///")

  override protected def conditionalPut: Boolean = true
}
