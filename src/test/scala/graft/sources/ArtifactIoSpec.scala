package graft

import graft.sources.{ArtifactIo, LocalArtifactIo}

/** ArtifactIo: the one seam between the artifact machinery and its
  * store — local `java.nio` for scheme-less paths, Hadoop `FileSystem`
  * for rename-atomic scheme'd stores (exercised here via `file:`), loud
  * rejection for rename-by-copy schemes.
  */
class ArtifactIoSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("forPath dispatch: scheme-less → local io, file: → hadoop io, s3a/gs/wasb → loud") {
    assert(ArtifactIo.forPath("/tmp/x") eq LocalArtifactIo)
    assert(ArtifactIo.forPath("C:/data/x") eq LocalArtifactIo,
      "a Windows drive letter is a local path, not a URI scheme")
    assert(!(ArtifactIo.forPath("file:/tmp/x") eq LocalArtifactIo))
    assert(!(ArtifactIo.forPath("hdfs://nn/x") eq LocalArtifactIo))
    for (bad <- Seq("s3a://b/x", "gs://b/x", "wasb://c@a/x", "s3://b/x")) {
      val ex = intercept[IllegalArgumentException](ArtifactIo.forPath(bad))
      assert(ex.getMessage.contains("rename-atomic allowlist"), ex.getMessage)
      assert(ex.getMessage.contains("Snapshots"), ex.getMessage)
    }
  }

  private def roundtrip(io: ArtifactIo, root: String): Unit = {
    val dir = root + "/artifact"
    assert(!io.exists(dir))
    io.createDirs(dir)
    assert(io.exists(dir) && io.isDirectory(dir))
    // empty dir: no data files; bookkeeping names are invisible
    assert(!io.hasDataFiles(dir))
    io.touch(dir + "/_SUCCESS")
    io.touch(dir + "/.marker")
    assert(!io.hasDataFiles(dir))
    io.touch(dir + "/part-0001")
    assert(io.hasDataFiles(dir))
    // atomic publish: readBytes sees old-or-new, replace works
    assert(io.readBytes(dir + "/totals").isEmpty)
    io.writeAtomic(dir + "/totals", "3 17".getBytes("UTF-8"))
    assert(io.readBytes(dir + "/totals").map(new String(_, "UTF-8")).contains("3 17"))
    io.writeAtomic(dir + "/totals", "4 21".getBytes("UTF-8"))
    assert(io.readBytes(dir + "/totals").map(new String(_, "UTF-8")).contains("4 21"))
    // no .tmp staging debris left behind the atomic writes (inspect the
    // directory via java.io — both stores here are ultimately local disk)
    assert(!new java.io.File(root.stripPrefix("file:") + "/artifact")
      .listFiles().exists(_.getName.endsWith(".tmp")))
    // moveFile: the file is under the new name only
    io.writeFile(dir + "/part-0002", "rows".getBytes("UTF-8"))
    io.moveFile(dir + "/part-0002", dir + "/part-0003")
    assert(!io.exists(dir + "/part-0002"))
    assert(io.readBytes(dir + "/part-0003").map(new String(_, "UTF-8")).contains("rows"))
    // marker delete is idempotent
    io.delete(dir + "/.marker")
    io.delete(dir + "/.marker")
    assert(!io.exists(dir + "/.marker"))
    // rename (no overwrite) moves directories — the compact-swap primitive
    io.rename(dir, root + "/swapped")
    assert(!io.exists(dir) && io.exists(root + "/swapped/part-0001"))
    io.deleteTree(root + "/swapped")
    assert(!io.exists(root + "/swapped"))
    io.deleteTree(root + "/swapped") // missing tree is a no-op
  }

  test("local io primitives roundtrip") {
    roundtrip(LocalArtifactIo, tmpDir("graft-aio-local"))
  }

  test("hadoop io primitives roundtrip on the file: scheme") {
    val root = tmpDir("graft-aio-hadoop")
    roundtrip(ArtifactIo.forPath("file:" + root), "file:" + root)
  }

  test("hadoop io lock: mutual exclusion, tryWithLock contention, loud bounded timeout") {
    val root = tmpDir("graft-aio-lock")
    val io = ArtifactIo.forPath("file:" + root)
    val lock = "file:" + root + "/art.lock"
    // mutual exclusion between two threads: the interleaving inside the
    // critical section must never overlap
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t = new Thread(() => io.withLock(lock, 10000L, "spec", "hint") {
      log.add("a-in"); Thread.sleep(150); log.add("a-out")
    })
    t.start()
    val spinDeadline = System.nanoTime() + 5000000000L
    while (!log.contains("a-in") && System.nanoTime() < spinDeadline) Thread.sleep(5)
    assert(log.contains("a-in"), "holder thread never acquired")
    assert(io.tryWithLock(lock) { "won" }.isEmpty,
      "tryWithLock must observe the held lock")
    io.withLock(lock, 10000L, "spec", "hint") { log.add("b-in"); log.add("b-out") }
    t.join()
    assert(log.toArray.toSeq == Seq("a-in", "a-out", "b-in", "b-out"), log.toString)
    // released: tryWithLock now wins, and nests its own release correctly
    assert(io.tryWithLock(lock) { "won" }.contains("won"))
    // a crashed holder (lock file left behind) times out LOUDLY with the
    // operator remediation in the message — no silent mtime-based steal
    val held = "file:" + root + "/crashed.lock"
    io.touch(held)
    val ex = intercept[IllegalStateException](
      io.withLock(held, 200L, "spec-crashed", "the hint") { fail("must not run") })
    assert(ex.getMessage.contains("spec-crashed"), ex.getMessage)
    assert(ex.getMessage.contains("delete the lock file"), ex.getMessage)
  }

  test("object-store io: supported primitives roundtrip on mock3a; rename/lock throw") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[graft.sources.RenameByCopyMockFs].getName)
    // additive — a plain set would deregister CasSnapshotsSpec's mock3c
    // from the shared session conf
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
    val root = "mock3a:" + tmpDir("graft-aio-os")
    val io = ArtifactIo.forCachePath(root)
    assert(io.isInstanceOf[graft.sources.ObjectStoreArtifactIo])
    val dir = root + "/entry"
    io.createDirs(dir)
    assert(io.exists(dir) && io.isDirectory(dir))
    io.touch(dir + "/_SUCCESS")
    assert(!io.hasDataFiles(dir))
    io.writeFile(dir + "/part-0001", "rows".getBytes("UTF-8"))
    assert(io.hasDataFiles(dir))
    // writeAtomic on this store class is a direct whole-object PUT
    io.writeAtomic(dir + "/_graft_files", "part-0001".getBytes("UTF-8"))
    assert(io.readBytes(dir + "/_graft_files")
      .map(new String(_, "UTF-8")).contains("part-0001"))
    // moveFile is the connector's copy+delete here: not atomic, which
    // the plan cache never needs (it moves parts no manifest names yet)
    io.moveFile(dir + "/part-0001", dir + "/part-0002")
    assert(io.readBytes(dir + "/part-0002").map(new String(_, "UTF-8")).contains("rows"))
    assert(io.listNames(dir).toSet == Set("_SUCCESS", "part-0002", "_graft_files"))
    assert(io.listEntries(dir).collect { case (n, false, sz) if n == "part-0002" => sz }
      == Seq(4L))
    assert(io.mtimeMs(dir + "/part-0002").isDefined)
    // the primitives whose correctness needs atomic rename / O_EXCL are
    // UNAVAILABLE, loudly — protocols on this store class must be
    // written without them
    intercept[UnsupportedOperationException](io.rename(dir, root + "/x"))
    intercept[UnsupportedOperationException](
      io.withLock(dir + "/.lock", 1L, "spec", "hint") { 1 })
    intercept[UnsupportedOperationException](io.tryWithLock(dir + "/.lock") { 1 })
    io.deleteTree(dir)
    assert(!io.exists(dir))
  }

  test("mixed path forms trip loudly instead of silently losing mutual exclusion") {
    val root = tmpDir("graft-aio-mixed")
    // direction 1: a file:-form writer HOLDS (lock file with holder
    // forensics in place) — a scheme-less writer on the same inode must
    // refuse, not proceed under an OS lock the holder never takes
    val lock = root + "/append.lock"
    java.nio.file.Files.write(java.nio.file.Paths.get(lock),
      "host pid=1234 epochMs=1".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException](
      LocalArtifactIo.withLock(lock, 1000L, "spec", "hint") { fail("must not run") })
    assert(ex.getMessage.contains("ONE path form"), ex.getMessage)
    val ex2 = intercept[IllegalStateException](
      LocalArtifactIo.tryWithLock(lock) { fail("must not run") })
    assert(ex2.getMessage.contains("ONE path form"), ex2.getMessage)
    // direction 2: a scheme-less writer's persistent EMPTY mutex inode
    // blocks the file:-form create-exclusive — the timeout must diagnose
    // the mix and warn against deleting the inode
    val lock2 = root + "/pointer.lock"
    LocalArtifactIo.withLock(lock2, 1000L, "spec", "hint") { () } // inode persists
    val hio = ArtifactIo.forPath("file:" + root)
    val ex3 = intercept[IllegalStateException](
      hio.withLock("file:" + lock2, 200L, "spec", "hint") { fail("must not run") })
    assert(ex3.getMessage.contains("EMPTY"), ex3.getMessage)
    assert(ex3.getMessage.contains("do NOT delete"), ex3.getMessage)
    // clean single-form use still works on both sides
    LocalArtifactIo.withLock(lock2, 1000L, "spec", "hint") { () }
    hio.withLock("file:" + root + "/h.lock", 1000L, "spec", "hint") { () }
  }

  test("file:-scheme'd tryPutIfAbsent is the java.nio link form: a taken name loses, " +
      "a free one wins") {
    val root = tmpDir("graft-aio-claim")
    val io = ArtifactIo.forPath("file:" + root)
    assert(io.tryPutIfAbsent("file:" + root + "/_log/1", "first".getBytes("UTF-8")))
    // a taken name loses and leaves the winner's bytes (a rename would
    // silently replace a FILE destination)
    assert(!io.tryPutIfAbsent("file:" + root + "/_log/1", "second".getBytes("UTF-8")))
    assert(io.readBytes("file:" + root + "/_log/1").map(new String(_, "UTF-8"))
      .contains("first"))
    assert(io.tryPutIfAbsent("file:" + root + "/_log/2", "second".getBytes("UTF-8")))
    // no staging debris next to the records
    assert(io.listNames("file:" + root + "/_log").toSet == Set("1", "2"))
  }

  test("a body failure releases the hadoop lock and stays the primary exception") {
    val root = tmpDir("graft-aio-rel")
    val io = ArtifactIo.forPath("file:" + root)
    val lock = "file:" + root + "/rel.lock"
    val ex = intercept[RuntimeException](
      io.withLock(lock, 1000L, "spec", "hint") { throw new RuntimeException("body") })
    assert(ex.getMessage == "body")
    // lock released despite the failure — the next writer acquires at once
    assert(io.tryWithLock(lock) { "won" }.contains("won"))
  }

  test("scored-index machinery end-to-end on a file:-scheme'd path equals the local-path build") {
    import spark.implicits._
    import graft.operators.InvertedIndex
    val localRoot = tmpDir("graft-aio-idx-local")
    val hadoopRoot = tmpDir("graft-aio-idx-hadoop")
    val localPath = localRoot + "/postings"
    val fsPath = "file:" + hadoopRoot + "/postings"
    val base = Seq((0L, "red fox jumps high"), (1L, "red red dog")).toDF("doc_id", "text")
    val batch = Seq((2L, "blue fox runs"), (3L, "green bird song")).toDF("doc_id", "text")
    for (p <- Seq(localPath, fsPath)) {
      InvertedIndex.materializeScored(base, "doc_id", "text", p): Unit
      InvertedIndex.appendScored(batch, "doc_id", "text", p): Unit
    }
    // identical postings, identical exact totals, identical attach stats
    def rows(p: String) = spark.read.parquet(p)
      .select("doc_id", "token", "tf", "dl")
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    assert(rows(fsPath) == rows(localPath))
    assert(InvertedIndex.readTotals(fsPath) == InvertedIndex.readTotals(localPath))
    val (_, statsFs) = InvertedIndex.attachScored(spark, fsPath, "doc_id")
    val (_, statsLocal) = InvertedIndex.attachScored(spark, localPath, "doc_id")
    assert(statsFs == statsLocal)
    // search served off the file:-scheme'd artifact matches too
    def top(p: String) = {
      val (scored, stats) = InvertedIndex.attachScored(spark, p, "doc_id")
      InvertedIndex.searchBm25(scored, "doc_id", Seq("red", "fox"), 3,
          stats = Some(stats))
        .as[(Long, Double)].collect().toSeq
    }
    assert(top(fsPath) == top(localPath))
  }
}
