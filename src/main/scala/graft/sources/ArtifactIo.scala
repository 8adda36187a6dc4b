package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path => HPath}

/** Filesystem primitives for the artifact machinery (sketch fragments,
  * scored/positional index appends, totals sidecars, marker files, append
  * locks) behind ONE seam, so the artifact layer runs against either the
  * local filesystem (`java.nio`, the historical contract) or a Hadoop
  * `FileSystem` (`hdfs://`, `abfss://`, …) — the reference abstracts its
  * stores the same way (`storage.fs:37-51` keys HDD vs Azure behind
  * `StorageKind`).
  *
  * Resolution ([[ArtifactIo.forPath]]): a scheme-less path gets
  * [[LocalArtifactIo]] — byte-identical behavior to the pre-abstraction
  * code (OS advisory `FileLock`s, `ATOMIC_MOVE` renames). A scheme'd path
  * gets [[HadoopArtifactIo]] IF the scheme is on the rename-atomic
  * allowlist; anything else (s3a, gs, wasb, …) fails LOUDLY at entry —
  * the artifact commit protocol is temp-file + atomic rename and
  * create-exclusive lock files, and a store that renames by copy+delete
  * would turn every "atomic" sidecar swap into a torn-read window. The
  * remediation is to HOME the artifact on a rename-atomic store:
  * `hdfs://`, `abfss://` with a hierarchical namespace, or a scheme-less
  * local/NFS path. Two families have rename-free commit protocols: the
  * plan cache — [[ArtifactIo.forCachePath]] admits rename-by-copy
  * schemes there (manifest-last publish, no locks; see
  * [[ObjectStoreArtifactIo]]) — and [[Snapshots]], whose
  * [[ArtifactIo.forSnapshotPath]] admits object stores declared to have
  * conditional writes.
  *
  * ONE path string must mean ONE location and ONE protocol everywhere it
  * is read: `/data/x` (LocalIo, OS locks) and `file:/data/x` (HadoopIo,
  * lock FILES) are the same directory under two different lock protocols
  * — writers must agree on the path form, exactly as they must agree on
  * the path itself. The streaming loops' path guard enforces the same
  * doctrine.
  *
  * Lock-protocol difference, stated loudly: the local impl holds an OS
  * advisory lock on a persistent inode — a crashed holder's lock releases
  * AUTOMATICALLY. The Hadoop impl acquires by atomic CREATE-EXCLUSIVE of
  * the lock file and releases by deleting it — a crashed holder LEAVES
  * the file behind, and the next writer fails loudly after the bounded
  * wait with remediation in the message (verify no live writer, delete
  * the lock file). No silent mtime-based stealing: expiry heuristics can
  * steal a live slow holder's lock, which is worse than an operator page.
  */
private[graft] sealed trait ArtifactIo {

  def exists(path: String): Boolean

  def isDirectory(path: String): Boolean

  def createDirs(path: String): Unit

  /** Create-or-truncate an empty file (marker semantics). */
  def touch(path: String): Unit

  /** Delete a file if present; idempotent. */
  def delete(path: String): Unit

  /** Recursive delete; missing path is a no-op. */
  def deleteTree(path: String): Unit

  /** Full contents, or None when the file is absent. */
  def readBytes(path: String): Option[Array[Byte]]

  /** Publish `bytes` at `path` atomically (same-directory temp + atomic
    * rename-with-replace): a reader sees the old contents or the new,
    * never a torn write.
    */
  def writeAtomic(path: String, bytes: Array[Byte]): Unit

  /** Atomic move, destination must not exist (file or directory — the
    * compact swap's primitive).
    */
  def rename(src: String, dst: String): Unit

  /** Plain create-or-truncate write (NOT atomic — use [[writeAtomic]]
    * when a reader may race the write).
    */
  def writeFile(path: String, bytes: Array[Byte]): Unit

  /** One atomic conditional-PUT attempt: publish `bytes` whole at `path`
    * IFF nothing exists there; `false` when the name was already taken
    * (the caller's CAS lost — re-read and retry). The winner's bytes are
    * visible complete or not at all — never torn, never an empty
    * placeholder.
    *
    * Per store: the local impl is temp-write + `createLink` (link(2)
    * fails with EEXIST atomically — POSIX rename of a FILE destination
    * silently replaces, so a no-replace `ATOMIC_MOVE` is NOT a CAS
    * here); the Hadoop impl is temp-write + one no-replace namespace
    * rename (HDFS-family renames atomically reject an existing file
    * destination; `file:` drops to the local impl); rename-by-copy
    * object stores WITHOUT declared conditional-write support throw
    * ([[ObjectStoreArtifactIo]]); stores declared under
    * [[ArtifactIo.ConditionalPutExtraSchemesKey]] map it to
    * `create(overwrite = false)` — the If-None-Match PUT, verdict atomic
    * at close ([[CasObjectStoreArtifactIo]]). This is the ONE primitive
    * [[Snapshots]]' commit protocol builds on.
    */
  def tryPutIfAbsent(path: String, bytes: Array[Byte]): Boolean

  /** Child names of `dir` (not paths); empty when `dir` is missing or
    * not a directory.
    */
  def listNames(dir: String): Seq[String]

  /** (name, isDirectory, size) of each child of `dir`; empty when `dir`
    * is missing or not a directory (the compaction byte-accounting
    * primitive).
    */
  def listEntries(dir: String): Seq[(String, Boolean, Long)]

  /** Last-modified time of `path` in epoch ms; None when missing. */
  def mtimeMs(path: String): Option[Long]

  /** Move one FILE to a fresh name `dst` on the same store (an existing
    * `dst` is refused or replaced, per store). NOT atomic on every store
    * — one namespace rename locally and on HDFS-family stores, the
    * connector's copy+delete on object stores — so callers move only
    * files no reader can name yet (the plan cache's staged parts, before
    * its manifest names them).
    */
  def moveFile(src: String, dst: String): Unit

  /** Reclaim staging debris: delete direct children of `dir` whose name
    * starts with `prefix` and whose ENTIRE tree has been untouched for
    * `graceMs` (a live writer keeps its leaves fresh — top-dir mtime is
    * not enough). Missing `dir` is a no-op; best-effort under races.
    */
  def sweepStale(dir: String, prefix: String, graceMs: Long): Unit

  /** Whether `dir` holds any entry named as data
    * ([[ArtifactIo.isDataFileName]]) — the "does an artifact already
    * live here" probe, with one semantics on every store.
    */
  def hasDataFiles(dir: String): Boolean

  /** Run `body` holding this store's exclusive lock on `lockPath`
    * (bounded wait, loud timeout — see the trait note for the per-store
    * protocol).
    */
  def withLock[A](lockPath: String, timeoutMs: Long, what: String,
      timeoutHint: String)(body: => A): A

  /** Non-blocking [[withLock]]: one acquisition attempt, `None` when held
    * elsewhere (callers' slow path must be safe to skip).
    */
  def tryWithLock[A](lockPath: String)(body: => A): Option[A]
}

private[graft] object ArtifactIo {

  /** Matches [[graft.streaming.ArtifactPaths]]'s scheme test: 2+ chars so
    * a Windows drive letter stays a local path.
    */
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]+):/.*".r

  /** Stores whose rename is atomic (file: delegates to the OS rename;
    * HDFS-family renames are namespace metadata ops; ABFS atomic-renames
    * on hierarchical namespaces, Ozone likewise).
    */
  private val RenameAtomicSchemes =
    Set("file", "hdfs", "viewfs", "abfs", "abfss", "ofs", "o3fs")

  /** Object stores whose rename is client-side copy+delete and whose
    * `create(overwrite = false)` is not create-exclusive — admissible
    * ONLY through [[forCachePath]] (the plan cache's rename-free,
    * lock-free protocol). Extensible for tests/simulations via the
    * Hadoop conf key [[RenameByCopyExtraSchemesKey]] (comma-separated) —
    * the pc1 gate registers its local-disk-backed `mock3a` scheme there.
    */
  private val RenameByCopySchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cos", "obs", "swift")

  val RenameByCopyExtraSchemesKey = "graft.artifact.rename-by-copy.extra-schemes"

  private def renameByCopySchemes(conf: Configuration): Set[String] =
    RenameByCopySchemes ++ conf.getTrimmedStrings(RenameByCopyExtraSchemesKey)
      .map(_.toLowerCase)

  /** Rename-by-copy schemes whose deployment ALSO has atomic
    * conditional writes — `create(overwrite = false)` honored as an
    * If-None-Match PUT, verdict at close. DELIBERATELY empty by default
    * and opt-in per deployment (comma-separated Hadoop conf key): the
    * capability is store-AND-client dependent — S3 has offered
    * `If-None-Match: *` publicly since November 2024 and GCS/Azure Blob
    * always had generation-match/If-None-Match preconditions, but the
    * Hadoop connector in use must actually SEND the precondition (s3a
    * grew conditional-create support only in recent 3.4.x releases,
    * behind its own flag). Declaring a scheme here asserts that
    * end-to-end guarantee; [[forSnapshotPath]] then admits it through
    * [[CasObjectStoreArtifactIo]] for [[Snapshots]]' CAS log
    * protocol. A false declaration silently reverts the commit CAS to
    * check-then-act — exactly the lost-update the protocol exists to
    * prevent — so declare it only for verified endpoints. The tv6 gate
    * declares its honestly-simulated `mock3c`.
    */
  val ConditionalPutExtraSchemesKey = "graft.artifact.conditional-put.extra-schemes"

  private def conditionalPutSchemes(conf: Configuration): Set[String] =
    conf.getTrimmedStrings(ConditionalPutExtraSchemesKey).map(_.toLowerCase).toSet

  /** ADD `scheme` to a comma-separated scheme-list conf key without
    * clobbering earlier registrations — gates and specs registering
    * simulator schemes (`mock3a`, `mock3c`) share one SparkContext
    * hadoopConfiguration, and a plain `set` by whichever ran last would
    * silently deregister the other's store mid-session.
    */
  def addExtraScheme(conf: Configuration, key: String, scheme: String): Unit = {
    val cur = conf.getTrimmedStrings(key).toSet
    conf.set(key, (cur + scheme).mkString(","))
  }

  /** Whether `path` is a LOCAL path form — scheme-less (two-plus-char
    * scheme rule keeps Windows drive letters local) or `file:` — the
    * one copy of the scheme classification [[forPath]]'s dispatch and
    * BreakLock's empty-lock-file refusal share; a rule tweak lands here
    * once.
    */
  def isLocalForm(path: String): Boolean = path match {
    case SchemeRe(scheme) => scheme.equalsIgnoreCase("file")
    case _ => true
  }

  /** Whether a child NAME counts as artifact data (vs bookkeeping:
    * `_`-prefixed markers/manifests, dot-prefixed staging/locks) — the
    * ONE copy of the load-bearing predicate behind [[ArtifactIo
    * .hasDataFiles]], the plan cache's manifest contents, and the index
    * appends' clean-failure comparison; a future bookkeeping prefix
    * lands here once, never per-family.
    */
  def isDataFileName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Child-path join as a plain string suffix — valid for local paths
    * and scheme'd URIs alike (`java.nio.Paths.get` would mangle a
    * scheme). The ONE copy of the load-bearing join rule every artifact
    * family uses; a future change (e.g. a bare `scheme://host` dir)
    * lands once, never per-file.
    */
  def child(dir: String, names: String*): String =
    (dir.stripSuffix("/") +: names).mkString("/")

  def forPath(path: String): ArtifactIo = path match {
    case SchemeRe(scheme) =>
      require(RenameAtomicSchemes.contains(scheme.toLowerCase),
        s"artifact store: scheme '$scheme' ($path) is not on the rename-atomic " +
          s"allowlist ${RenameAtomicSchemes.toSeq.sorted.mkString("{", ", ", "}")} — " +
          "the artifact/snapshot commit protocol needs atomic rename + " +
          "create-exclusive lock files, which copy+delete stores (s3a, gs, " +
          "wasb, …) cannot provide; home this artifact or Snapshots table on a " +
          "rename-atomic store (hdfs://, abfss:// with hierarchical namespace, " +
          "or a scheme-less local/NFS path). The PLAN CACHE alone runs on " +
          "rename-by-copy object stores (its publish is manifest-last and " +
          "lock-free) — see graft.sources.PlanCache")
      new HadoopArtifactIo(hadoopConf())
    case _ => LocalArtifactIo
  }

  /** [[forPath]] for the plan cache ONLY: additionally admits
    * rename-by-copy object-store schemes via [[ObjectStoreArtifactIo]],
    * whose rename/lock primitives throw — the cache's publish protocol
    * ([[PlanCache.publish]]) is written rename-free and lock-free
    * (manifest-last commit, idempotent double publish), the one artifact
    * family where that is sound. Every other family must stay on
    * [[forPath]]'s strict allowlist.
    */
  def forCachePath(path: String): ArtifactIo = path match {
    case SchemeRe(scheme) =>
      val conf = hadoopConf()
      if (renameByCopySchemes(conf).contains(scheme.toLowerCase))
        new ObjectStoreArtifactIo(conf)
      else forPath(path)
    case _ => LocalArtifactIo
  }

  /** [[forPath]] for [[Snapshots]] tables ONLY: additionally admits
    * rename-by-copy object-store schemes IF the deployment declared
    * atomic conditional writes for them
    * ([[ConditionalPutExtraSchemesKey]]) — via
    * [[CasObjectStoreArtifactIo]], whose rename/lock primitives still
    * throw but whose [[ArtifactIo.tryPutIfAbsent]] is the store's
    * If-None-Match PUT. The CAS log protocol is written against that one
    * primitive plus whole-object PUTs and strong listing — nothing such
    * stores lack. A rename-by-copy scheme WITHOUT the declaration fails
    * loudly here: running the commit CAS over a non-atomic
    * check-then-create would silently lose commits.
    */
  def forSnapshotPath(path: String): ArtifactIo = path match {
    case SchemeRe(scheme) =>
      val conf = hadoopConf()
      // fail CLOSED on a half-declared scheme: conditional-put declared
      // but not rename-by-copy would fall through to forPath and run the
      // rename/lock protocol on an object store — the corruption class
      // this gate exists to reject. A custom object-store scheme must
      // declare BOTH keys (as the mock3c registrations do): the
      // rename-by-copy declaration is what keeps it out of every
      // rename-dependent family, the conditional-put one is what admits
      // it here.
      require(!conditionalPutSchemes(conf).contains(scheme.toLowerCase)
          || renameByCopySchemes(conf).contains(scheme.toLowerCase),
        s"snapshot store: scheme '$scheme' ($path) is declared under " +
          s"'$ConditionalPutExtraSchemesKey' but not under " +
          s"'$RenameByCopyExtraSchemesKey' — declare both (conditional writes " +
          "are a capability OF an object store; without the rename-by-copy " +
          "declaration the scheme would be treated as rename-atomic everywhere " +
          "else)")
      if (renameByCopySchemes(conf).contains(scheme.toLowerCase)) {
        require(conditionalPutSchemes(conf).contains(scheme.toLowerCase),
          s"snapshot store: scheme '$scheme' ($path) is a rename-by-copy object " +
            "store with NO declared conditional-write support — the CAS snapshot " +
            "log needs an atomic create-exclusive PUT (If-None-Match). If this " +
            "endpoint AND its Hadoop connector honor conditional creates (S3 " +
            "since Nov 2024, GCS/Azure Blob always, with a connector that sends " +
            s"the precondition), declare the scheme under " +
            s"'$ConditionalPutExtraSchemesKey'; otherwise home the " +
            "graft.sources.Snapshots table on an hdfs://, abfss:// or local path")
        new CasObjectStoreArtifactIo(conf)
      } else forPath(path)
    case _ => LocalArtifactIo
  }

  /** The session's Hadoop conf when one exists (fs.* overrides,
    * kerberos, the extra-schemes test hook); a bare default otherwise
    * (driver-side tools with no Spark). `getActiveSession` is
    * THREAD-LOCAL — a caller on a thread that never set one (scalatest
    * runners, thread pools) must still see the real SparkContext conf,
    * so fall back to the JVM-global default session before the bare
    * default.
    */
  private def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}

/** The historical local-filesystem behavior: `java.nio` probes,
  * `ATOMIC_MOVE` renames, OS advisory locks on persistent inodes
  * (crashed holders release automatically).
  */
private[graft] object LocalArtifactIo extends ArtifactIo {
  import java.nio.channels.{FileChannel, FileLock, OverlappingFileLockException}
  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

  def exists(path: String): Boolean = Files.exists(Paths.get(path))

  def isDirectory(path: String): Boolean = Files.isDirectory(Paths.get(path))

  def createDirs(path: String): Unit = { Files.createDirectories(Paths.get(path)): Unit }

  def touch(path: String): Unit = { Files.write(Paths.get(path), Array.emptyByteArray): Unit }

  def delete(path: String): Unit = { Files.deleteIfExists(Paths.get(path)): Unit }

  /** Recursive delete; tolerates concurrent removals. */
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  def readBytes(path: String): Option[Array[Byte]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None else Some(Files.readAllBytes(p))
  }

  def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val dst = Paths.get(path)
    val dir = dst.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "." + dst.getFileName.toString, ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dst,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  def rename(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def writeFile(path: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(path), bytes): Unit
  }

  def tryPutIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val dst = Paths.get(path)
    Files.createDirectories(dst.getParent)
    // temp-then-LINK, not createFile+write (a reader between create and
    // write would see an empty log record) and NOT ATOMIC_MOVE (on POSIX
    // a FILE-destination rename silently REPLACES — the no-replace
    // failure only holds for directory destinations). link(2) fails with
    // EEXIST atomically: the one POSIX primitive that is both
    // whole-content-at-publish and create-exclusive.
    val tmp = Files.createTempFile(dst.getParent, "." + dst.getFileName.toString, ".cas")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(dst, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally { Files.deleteIfExists(tmp): Unit }
  }

  def listNames(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val it = Files.list(d)
      try {
        val buf = scala.collection.mutable.ArrayBuffer[String]()
        it.iterator().forEachRemaining(p => buf += p.getFileName.toString)
        buf.toSeq
      } finally it.close()
    }
  }

  def listEntries(dir: String): Seq[(String, Boolean, Long)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val it = Files.list(d)
      try {
        val buf = scala.collection.mutable.ArrayBuffer[(String, Boolean, Long)]()
        it.iterator().forEachRemaining { p =>
          val isDir = Files.isDirectory(p)
          buf += ((p.getFileName.toString, isDir, if (isDir) 0L else Files.size(p)))
        }
        buf.toSeq
      } finally it.close()
    }
  }

  def mtimeMs(path: String): Option[Long] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None else Some(Files.getLastModifiedTime(p).toMillis)
  }

  def moveFile(src: String, dst: String): Unit = {
    Files.move(Paths.get(src), Paths.get(dst)): Unit
  }

  /** Liveness is the newest mtime anywhere in a candidate's tree, not the
    * top directory's: Spark's committer creates the staging dir once at
    * job start and then writes task files deep under `_temporary/...`,
    * so a long healthy write keeps its leaves fresh while the top dir
    * looks ancient.
    */
  def sweepStale(dir: String, prefix: String, graceMs: Long): Unit = {
    def newestMtimeMs(f: java.io.File): Long =
      Option(f.listFiles()).fold(Seq.empty[Long])(_.toSeq.map(newestMtimeMs))
        .foldLeft(f.lastModified())(math.max)
    val cutoff = System.currentTimeMillis() - graceMs
    // a listing broken by a concurrent publish/delete stops the sweep
    // quietly instead of failing the caller's commit or claim
    val names =
      try listNames(dir)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Seq.empty }
    names.filter(_.startsWith(prefix)).foreach { n =>
      val p = ArtifactIo.child(dir, n)
      if (newestMtimeMs(new java.io.File(p)) < cutoff) deleteTree(p)
    }
  }

  def hasDataFiles(dir: String): Boolean = listNames(dir).exists(ArtifactIo.isDataFileName)

  /** The lock file is created if absent and NEVER deleted — delete-by-name
    * reclaim is a TOCTOU that can steal a live holder's lock; a crashed
    * holder's OS lock releases automatically, so no grace heuristics. A
    * holder that outlives `timeoutMs` fails THIS caller loudly (never the
    * holder), naming the lock file and appending `timeoutHint`.
    */
  def withLock[A](lockPath: String, timeoutMs: Long, what: String,
      timeoutHint: String)(body: => A): A =
    withLockChannel(lockPath) { ch =>
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var lock = tryLock(ch)
      while (lock == null) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"$what: could not acquire lock $lockPath within ${timeoutMs / 1000}s — " +
            timeoutHint)
        Thread.sleep(5)
        lock = tryLock(ch)
      }
      try { requireNoForeignProtocol(lockPath); body } finally lock.release()
    }

  def tryWithLock[A](lockPath: String)(body: => A): Option[A] =
    withLockChannel(lockPath) { ch =>
      val lock = tryLock(ch)
      if (lock == null) None
      else try { requireNoForeignProtocol(lockPath); Some(body) } finally lock.release()
    }

  private def withLockChannel[A](lockPath: String)(use: FileChannel => A): A = {
    val ch = FileChannel.open(Paths.get(lockPath),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try use(ch) finally ch.close()
  }

  /** One attempt, null when held: same-JVM contention surfaces as either
    * a null return or OverlappingFileLockException depending on timing.
    */
  private def tryLock(ch: FileChannel): FileLock =
    try ch.tryLock() catch { case _: OverlappingFileLockException => null }

  /** Mixed-path-form tripwire (checked while HOLDING the OS advisory
    * lock, so it cannot race this protocol's own writers): the
    * scheme-less protocol's mutex inode is always EMPTY — non-empty
    * content is the `file:`-scheme'd lock-FILE protocol's holder
    * forensics, i.e. the same directory is concurrently operated under
    * `file:/dir` (create-exclusive lock files, which this OS lock does
    * NOT exclude against — proceeding would mean zero mutual exclusion:
    * lost sidecar updates, interleaved appends). Fail loudly at the
    * moment of the mix instead; the doctrine is one path form per store.
    * Best-effort by nature (the foreign holder writes its forensics an
    * instant after its create), but any steady mixed use trips it.
    */
  private def requireNoForeignProtocol(lockPath: String): Unit = {
    val p = Paths.get(lockPath)
    val size = try Files.size(p) catch { case _: java.io.IOException => 0L }
    if (size > 0L) {
      val holder = try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        catch { case _: java.io.IOException => "<unreadable>" }
      throw new IllegalStateException(
        s"artifact store: lock file $lockPath carries lock-FILE-protocol holder " +
          s"forensics ($holder) — this directory is also being written through a " +
          "file:-scheme'd path form, whose create-exclusive lock files do not " +
          "interoperate with the scheme-less OS-advisory protocol (writers mixing " +
          "path forms get ZERO mutual exclusion). Use ONE path form for every " +
          "writer of this store; if the file:-form writer crashed, delete the " +
          "lock file and keep all writers scheme-less.")
    }
  }
}

/** Hadoop `FileSystem`-backed primitives for scheme'd artifact paths.
  * Renames go through [[FileContext]] (the API with first-class atomic
  * OVERWRITE rename); the lock protocol is create-exclusive + delete (see
  * the trait note — a crashed holder needs operator cleanup, stated in
  * the timeout message rather than healed by a stealable heuristic).
  */
private[graft] class HadoopArtifactIo(conf: Configuration) extends ArtifactIo {

  private def fs(p: HPath) = p.getFileSystem(conf)

  private def fc(p: HPath) = FileContext.getFileContext(p.toUri, conf)

  /** One getFileStatus RPC, None when absent — the shared probe every
    * read primitive builds on (exists-then-stat would double the remote
    * round-trips of per-version loops AND open a delete race between
    * the two calls that the local twin doesn't have).
    */
  private def statOf(p: HPath): Option[org.apache.hadoop.fs.FileStatus] =
    try Some(fs(p).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  def exists(path: String): Boolean = statOf(new HPath(path)).isDefined

  def isDirectory(path: String): Boolean =
    statOf(new HPath(path)).exists(_.isDirectory)

  def createDirs(path: String): Unit = {
    val p = new HPath(path); fs(p).mkdirs(p): Unit
  }

  def touch(path: String): Unit = {
    val p = new HPath(path)
    fs(p).create(p, true).close()
  }

  def delete(path: String): Unit = {
    val p = new HPath(path); fs(p).delete(p, false): Unit
  }

  def deleteTree(path: String): Unit = {
    val p = new HPath(path); fs(p).delete(p, true): Unit
  }

  def readBytes(path: String): Option[Array[Byte]] = {
    val p = new HPath(path)
    statOf(p).map { st =>
      // whole-file-in-memory primitive: pointers, markers, manifests —
      // all small by design. A >=2GB file would truncate silently
      // through toInt; fail loudly instead of serving a short read.
      require(st.getLen < Int.MaxValue,
        s"artifact store: readBytes($path) is a small-metadata primitive, " +
          s"got a ${st.getLen}-byte file — not an artifact marker/manifest")
      val in = fs(p).open(p)
      try {
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(0, buf)
        buf
      } finally in.close()
    }
  }

  def writeAtomic(path: String, bytes: Array[Byte]): Unit = {
    val dst = new HPath(path)
    // file: drops to the local impl — FileContext's OVERWRITE rename on
    // local stores is delete-then-rename, a window in which the name is
    // missing; HDFS-family renames replace in one namespace op
    if (dst.toUri.getScheme == "file")
      return LocalArtifactIo.writeAtomic(dst.toUri.getPath, bytes)
    val dir = dst.getParent
    val f = fs(dst)
    f.mkdirs(dir): Unit
    val tmp = new HPath(dir,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    fc(dst).rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  def rename(src: String, dst: String): Unit = {
    val d = new HPath(dst)
    fc(d).rename(new HPath(src), d, Options.Rename.NONE)
  }

  def writeFile(path: String, bytes: Array[Byte]): Unit = {
    val p = new HPath(path)
    val out = fs(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  def tryPutIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val dst = new HPath(path)
    // file: drops to the local impl — FileContext's no-replace rename on
    // local stores is an exists-check THEN rename (a TOCTOU); on
    // HDFS-family stores a rename without OVERWRITE is one NameNode op
    // that atomically rejects an existing FILE destination, so
    // temp-write + no-replace rename is a true CAS there (verified
    // against the FileContext/ClientProtocol contract — a new scheme
    // class must re-verify before relying on it).
    if (dst.toUri.getScheme == "file")
      return LocalArtifactIo.tryPutIfAbsent(dst.toUri.getPath, bytes)
    val dir = dst.getParent
    fs(dst).mkdirs(dir): Unit
    val tmp = new HPath(dir,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.cas")
    writeFile(tmp.toString, bytes)
    val won =
      try { fc(dst).rename(tmp, dst, Options.Rename.NONE); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        // some stores report the collision as a generic failure; only a
        // taken name is a lost CAS
        case e: java.io.IOException if !fs(dst).exists(dst) =>
          delete(tmp.toString); throw e
        case _: java.io.IOException => false
      }
    if (!won) delete(tmp.toString)
    won
  }

  def listNames(dir: String): Seq[String] = listEntries(dir).map(_._1)

  def listEntries(dir: String): Seq[(String, Boolean, Long)] = {
    val p = new HPath(dir)
    if (!statOf(p).exists(_.isDirectory)) Seq.empty
    else try fs(p).listStatus(p).map(st =>
      (st.getPath.getName, st.isDirectory, if (st.isDirectory) 0L else st.getLen)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty } // deleted mid-call
  }

  def mtimeMs(path: String): Option[Long] =
    statOf(new HPath(path)).map(_.getModificationTime)

  def moveFile(src: String, dst: String): Unit = {
    val s = new HPath(src)
    if (!fs(s).rename(s, new HPath(dst)))
      throw new java.io.IOException(s"artifact store: could not move $src to $dst")
  }

  def sweepStale(dir: String, prefix: String, graceMs: Long): Unit = {
    val p = new HPath(dir)
    val f = fs(p)
    if (!statOf(p).exists(_.isDirectory)) return
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        (try f.listStatus(st.getPath).toSeq.map(newestMtime)
         catch { case _: java.io.IOException => Seq.empty })).max
    try {
      f.listStatus(p).foreach { st =>
        if (st.getPath.getName.startsWith(prefix)) {
          try { if (newestMtime(st) < cutoff) f.delete(st.getPath, true): Unit }
          catch { case _: java.io.IOException => () }
        }
      }
    } catch { case _: java.io.IOException => () }
  }

  def hasDataFiles(dir: String): Boolean =
    listEntries(dir).exists { case (n, _, _) => ArtifactIo.isDataFileName(n) }

  def withLock[A](lockPath: String, timeoutMs: Long, what: String,
      timeoutHint: String)(body: => A): A = {
    val p = new HPath(lockPath)
    val f = fs(p)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      acquired = tryAcquire(f, p)
      if (!acquired) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"$what: could not acquire lock $lockPath within ${timeoutMs / 1000}s — " +
            s"$timeoutHint. NOTE: on this store a CRASHED holder leaves the lock " +
            "file behind (no OS auto-release) — read the holder forensics in the " +
            "lock file (host pid=… epochMs=…; `graft.examples.BreakLock` prints " +
            "them), verify no live writer exists, then delete the lock file to " +
            s"recover.${mixedProtocolHint(f, p)}")
        Thread.sleep(50)
      }
    }
    releaseAfter(f, p)(body)
  }

  /** Diagnose a `file:`-scheme'd lock timeout whose lock file is EMPTY:
    * an empty persistent inode is the signature of the SCHEME-LESS
    * protocol's mutex file (LocalArtifactIo holds OS advisory locks on
    * an empty inode it never deletes) — the same directory is being
    * written under two path forms, and deleting that inode would break
    * the scheme-less writers' mutual exclusion. (An empty file can also
    * be a Hadoop-protocol holder that crashed in the create→forensics
    * window; the message names both.)
    */
  private def mixedProtocolHint(f: org.apache.hadoop.fs.FileSystem, p: HPath): String =
    if (p.toUri.getScheme == "file" &&
        statOf(p).exists(st => !st.isDirectory && st.getLen == 0))
      " CAUTION: the lock file is EMPTY — on file: that is usually the " +
        "SCHEME-LESS path form's persistent mutex inode (OS advisory lock " +
        "protocol), meaning writers are mixing `/dir` and `file:/dir` forms " +
        "for one location; do NOT delete it — make every writer use ONE path " +
        "form instead. (It can also be a holder that crashed before writing " +
        "its forensics.)"
    else ""

  /** Run `body`, then delete the lock file — without letting a release
    * failure mask `body`'s own exception (addSuppressed) or strand the
    * lock silently: the delete retries once, and a release that still
    * fails after a SUCCESSFUL body throws loudly (the next committer
    * would otherwise wedge against a lock nobody holds, with no log of
    * why).
    */
  private def releaseAfter[A](f: org.apache.hadoop.fs.FileSystem, p: HPath)(body: => A): A = {
    var bodyErr: Throwable = null
    try body
    catch { case e: Throwable => bodyErr = e; throw e }
    finally {
      try { f.delete(p, false): Unit }
      catch {
        case e1: java.io.IOException =>
          try { f.delete(p, false): Unit }
          catch {
            case e2: java.io.IOException =>
              e2.addSuppressed(e1)
              if (bodyErr != null) bodyErr.addSuppressed(e2)
              else throw new IllegalStateException(
                s"artifact store: released work under $p but could not delete the " +
                  "lock file (twice) — later committers will time out against it; " +
                  "delete it manually", e2)
          }
      }
    }
  }

  def tryWithLock[A](lockPath: String)(body: => A): Option[A] = {
    val p = new HPath(lockPath)
    val f = fs(p)
    if (!tryAcquire(f, p)) None
    else releaseAfter(f, p)(Some(body))
  }

  /** One atomic create-exclusive attempt. The holder string is for
    * operator forensics only (who/when), never for expiry decisions —
    * and it is BEST-EFFORT: once the create succeeded we own the lock,
    * and a failed info write must neither wedge the lock file behind a
    * false "contention" nor surrender an acquisition we hold.
    *
    * `file:` scheme special case: Hadoop's RawLocalFileSystem implements
    * `create(p, overwrite = false)` as a non-atomic exists-then-open (no
    * O_EXCL), so on the one local scheme the exclusive create goes
    * through `java.nio.Files.createFile` (true O_EXCL) on the local
    * path instead — real HDFS/ABFS creates are namespace-atomic and
    * take the FileSystem path.
    */
  private def tryAcquire(f: org.apache.hadoop.fs.FileSystem, p: HPath): Boolean = {
    val created =
      if (p.toUri.getScheme == "file") {
        val lp = java.nio.file.Paths.get(p.toUri.getPath)
        def createExcl(): Boolean =
          try { java.nio.file.Files.createFile(lp); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        // unlike Hadoop create(), java.nio createFile does not make
        // parent dirs — mirror that so both branches accept a
        // first-touch lock path
        try createExcl()
        catch {
          case _: java.nio.file.NoSuchFileException =>
            java.nio.file.Files.createDirectories(lp.getParent)
            createExcl()
        }
      } else
        try { f.create(p, false).close(); true }
        catch {
          case _: FileAlreadyExistsException => false
          // some stores signal the exists-race as a bare IOException; only
          // treat it as contention when the lock file is actually there
          case e: java.io.IOException => if (f.exists(p)) false else throw e
        }
    if (created) {
      try {
        val out = f.create(p, true)
        try out.write(
          (s"${java.net.InetAddress.getLocalHost.getHostName} pid=${ProcessHandle.current.pid} " +
            s"epochMs=${System.currentTimeMillis()}").getBytes(StandardCharsets.UTF_8))
        finally out.close()
      } catch { case _: java.io.IOException => () } // forensics only
    }
    created
  }
}

/** Rename-by-copy object-store primitives (s3a, gs, wasb, … — reached
  * ONLY via [[ArtifactIo.forCachePath]], i.e. the plan cache): the safe
  * subset of the Hadoop impl, with every primitive whose correctness
  * DEPENDS on atomic rename or create-exclusive throwing loudly instead
  * of running with silently-weaker semantics.
  *
  * What such stores DO give (the contract the plan cache's manifest-last
  * publish is built on): single-object PUTs are atomic at close — a
  * reader sees the whole object or none of it, never a torn write — and
  * listings/reads are strongly consistent after write (S3 since 2020,
  * GCS/ABFS always). So [[writeAtomic]] here is a plain direct write
  * (old-or-new whole-object semantics, exactly the primitive's contract,
  * WITHOUT the temp+rename dance that would be copy+delete underneath);
  * what they do NOT give is atomic rename (copy+delete: a mid-crash
  * leaves both names, a racing reader sees partial copies) or
  * create-exclusive lock files — hence [[rename]]/[[withLock]]/
  * [[tryWithLock]] throw. [[moveFile]] is the connector's copy+delete,
  * which the plan cache uses only on parts no manifest names yet.
  */
private[graft] class ObjectStoreArtifactIo(conf: Configuration)
    extends HadoopArtifactIo(conf) {

  private def unsupported(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"object store: $op is not available on rename-by-copy stores — only the " +
        "plan cache's and the snapshot log's rename-free, lock-free protocols run " +
        "here; the other artifact families need a rename-atomic store (hdfs://, " +
        "abfss://, or a scheme-less local/NFS path)")

  override def writeAtomic(path: String, bytes: Array[Byte]): Unit =
    writeFile(path, bytes) // whole-object PUT: atomic at close by store contract

  override def rename(src: String, dst: String): Unit = unsupported("rename")

  override def withLock[A](lockPath: String, timeoutMs: Long, what: String,
      timeoutHint: String)(body: => A): A = unsupported("withLock")

  override def tryWithLock[A](lockPath: String)(body: => A): Option[A] =
    unsupported("tryWithLock")

  /** This store class has NO atomic conditional write — its
    * `create(overwrite = false)` is a non-atomic check-then-act, and a
    * CAS built on it silently loses commits under race. Deployments whose
    * endpoint + connector DO honor If-None-Match declare the scheme under
    * [[ArtifactIo.ConditionalPutExtraSchemesKey]] and resolve through
    * [[CasObjectStoreArtifactIo]] instead.
    */
  override def tryPutIfAbsent(path: String, bytes: Array[Byte]): Boolean =
    throw new UnsupportedOperationException(
      "object store: tryPutIfAbsent (atomic conditional PUT) is not available " +
        "on this store — create(overwrite=false) here is a non-atomic " +
        "check-then-act. If the endpoint and its Hadoop connector honor " +
        "If-None-Match conditional creates, declare the scheme under '" +
        ArtifactIo.ConditionalPutExtraSchemesKey + "'")
}

/** [[ObjectStoreArtifactIo]] plus the one capability the deployment
  * declared ([[ArtifactIo.ConditionalPutExtraSchemesKey]]): atomic
  * conditional writes. [[tryPutIfAbsent]] maps to the store's
  * If-None-Match PUT — `create(overwrite = false)` with the verdict at
  * close: exactly one racing writer's whole object lands, losers get
  * `FileAlreadyExistsException` with the name untouched. Rename and
  * locks STILL throw (conditional writes do not make rename atomic) —
  * [[Snapshots]] is the protocol written for exactly this primitive
  * set; reached only via [[ArtifactIo.forSnapshotPath]].
  */
private[graft] final class CasObjectStoreArtifactIo(conf: Configuration)
    extends ObjectStoreArtifactIo(conf) {

  override def tryPutIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      // the conditional PUT: exclusivity is the STORE's verdict, delivered
      // at create() or at close() depending on the client (the simulator
      // delivers at close, as S3 does for If-None-Match); either way the
      // loser's bytes never land
      val out = p.getFileSystem(conf).create(p, /* overwrite = */ false)
      try out.write(bytes) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }
  }
}
