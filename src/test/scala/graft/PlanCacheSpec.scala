package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArtifactIo, PlanCache}

/** Cross-session container cache (reference `DSetGenerics.fs:1185-1234`,
  * `cache.fs:294-477`; paper §4.9): plan-fingerprint-keyed parquet
  * materialization that survives the driver session.
  */
class PlanCacheSpec extends SparkSuite {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** An entry is published iff its `_graft_files` manifest exists. */
  private def published(cacheDir: String, key: String): Boolean =
    Files.exists(Paths.get(cacheDir, key, "_graft_files"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def ordersAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))

  test("miss then hit, identical results, stable fingerprint across sessions") {
    val cacheDir = tmpDir("pc")
    val df = ordersAgg(spark, sf0001)
    val cold = PlanCache.readThrough(df, cacheDir).collect().sortBy(_.getString(0))
    assert(PlanCache.lastOutcome == PlanCache.Miss)

    // a NEW session (fresh session state — the reference's new-driver
    // analog) re-declares the same plan: fingerprint must agree and the
    // attach must be a hit
    val s2 = spark.newSession()
    val df2 = ordersAgg(s2, sf0001)
    assert(PlanCache.fingerprint(df) == PlanCache.fingerprint(df2))
    val warm = PlanCache.readThrough(df2, cacheDir).collect().sortBy(_.getString(0))
    assert(PlanCache.lastOutcome == PlanCache.Hit)
    assert(cold.map(_.toString).toSeq == warm.map(_.toString).toSeq)
  }

  test("warm attach never recomputes: source deleted after publish (list tier)") {
    val cacheDir = tmpDir("pc")
    val staged = tmpDir("pc-src")
    Tables.load(spark, sf0001, "nation").write.mode("overwrite").parquet(s"$staged/nation")
    val df = spark.read.parquet(s"$staged/nation")
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
    // survive-source-deletion is the FILE-LIST tier's contract (reference
    // parity — the artifact outlives its inputs); post-flip that tier is
    // the explicit opt-out
    val cold = PlanCache.readThrough(df, cacheDir, contentKeys = false).collect()
    assert(PlanCache.lastOutcome == PlanCache.Miss)
    // remove the source — a recompute would now fail at scan time
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(Paths.get(staged).toFile)
    val warm = PlanCache.readThrough(df, cacheDir, contentKeys = false).collect()
    assert(PlanCache.lastOutcome == PlanCache.Hit)
    assert(warm.map(_.toString).sorted.toSeq == cold.map(_.toString).sorted.toSeq)
    // the DEFAULT (content) tier keys the vanished files as missing and
    // MISSES — the recompute then fails loudly at scan time rather than
    // serving bytes whose provenance it can no longer verify
    intercept[Throwable] { PlanCache.readThrough(df, cacheDir).collect() }
  }

  test("different plans and different inputs get different keys") {
    val a = ordersAgg(spark, sf0001)
    val b = ordersAgg(spark, sf001) // same shape, different input files
    val c = Tables.load(spark, sf0001, "orders")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(PlanCache.fingerprint(a) != PlanCache.fingerprint(b))
    assert(PlanCache.fingerprint(a) != PlanCache.fingerprint(c))
  }

  test("invalidate evicts: next attach recomputes") {
    val cacheDir = tmpDir("pc")
    val df = ordersAgg(spark, sf0001)
    PlanCache.readThrough(df, cacheDir).count()
    assert(PlanCache.invalidate(df, cacheDir))
    assert(!PlanCache.invalidate(df, cacheDir)) // already gone
    PlanCache.readThrough(df, cacheDir).count()
    assert(PlanCache.lastOutcome == PlanCache.Miss)
  }

  test("golden key: fingerprint of a fixed Column-only plan is stable") {
    // GOLDEN VALUE — committed on purpose. If this fails after a Spark
    // upgrade (or a fingerprint() refactor), every published cache entry
    // in every cacheDir silently misses under the new keys: a fleet-wide
    // performance cliff invisible to correctness gates. Migration: bump
    // the golden value AND document that existing caches must be warmed
    // anew (or re-keyed) at rollout.
    val df = localFixture(spark)
    // (rotated once within r10 — pre-release — when local-data hashing
    // gained per-field boundaries; no deployed caches existed under the
    // earlier keys)
    // local-data plans have no file inputs, so both key tiers hash the
    // same bytes — pinned at the list tier explicitly anyway so the
    // golden value survives any future default change
    assert(PlanCache.fingerprint(df, contentKeys = false) == "06ed7ed1a8436d5647bc61f55a79cf15",
      "fingerprint rotated — cross-version cache keys no longer match; " +
        "see migration note in this test")
  }

  test("same local data in a new session derives the same key; different data differs") {
    // two sessions, same literal rows → same key (cross-session reattach
    // holds for local data too)
    val s2 = spark.newSession()
    assert(PlanCache.fingerprint(localFixture(spark)) == PlanCache.fingerprint(localFixture(s2)))
    // same schema, same row count, different values → MUST differ (a
    // collision would serve one dataset's cached rows for the other)
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    val b = Seq((1L, "x"), (2L, "z")).toDF("k", "s")
    assert(PlanCache.fingerprint(a.select(col("k"), upper(col("s")).as("u"))) !=
      PlanCache.fingerprint(b.select(col("k"), upper(col("s")).as("u"))))
    // and the cached rows round-trip correctly per dataset
    val cacheDir = tmpDir("pc-local")
    val ra = PlanCache.readThrough(a, cacheDir).collect().map(_.toString).sorted.toSeq
    val rb = PlanCache.readThrough(b, cacheDir).collect().map(_.toString).sorted.toSeq
    assert(ra != rb)
    assert(rb.exists(_.contains("z")))
    // field boundaries are part of the key: ("ab","c") vs ("a","bc")
    // concatenate to the same bytes, and a SQL NULL is not the string
    // "null" — each must key separately
    val shiftA = Seq(("ab", "c")).toDF("x", "y")
    val shiftB = Seq(("a", "bc")).toDF("x", "y")
    assert(PlanCache.fingerprint(shiftA) != PlanCache.fingerprint(shiftB))
    val nullV = Seq((1L, null: String)).toDF("k", "s")
    val litV = Seq((1L, "null")).toDF("k", "s")
    assert(PlanCache.fingerprint(nullV) != PlanCache.fingerprint(litV))
  }

  test("default (content) keys catch an in-place overwrite; explicit list tier keeps the reference contract") {
    val cacheDir = tmpDir("pc-ck")
    val src = tmpDir("pc-ck-src")
    val file = Paths.get(src, "data.parquet")
    import spark.implicits._
    // stage parquet bytes under OUR filename (Spark's own overwrite mints
    // new part names, which the list-based key would see — the footgun is
    // precisely an overwrite that keeps the path identical)
    def stage(rows: Seq[(Long, String)]): Unit = {
      val t = tmpDir("pc-ck-stage")
      rows.toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(t)
      val part = new java.io.File(t).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    stage(Seq((1L, "old"), (2L, "old")))
    def q() = {
      spark.catalog.refreshByPath(file.toString) // drop any session-cached listing
      spark.read.parquet(file.toString).groupBy(col("s")).agg(count(lit(1)).as("n"))
    }
    val d1 = q()
    val listKey = PlanCache.fingerprint(d1, contentKeys = false)
    val contentKey = PlanCache.fingerprint(d1) // default tracks readThrough's (content)
    assert(listKey != contentKey) // stats are part of the content key
    // the DEFAULT attach publishes under the CONTENT key (the r15 flip)
    val oldRows = PlanCache.readThrough(d1, cacheDir).collect().map(_.toString).sorted.toSeq
    assert(published(cacheDir, contentKey))
    assert(!Files.exists(Paths.get(cacheDir, listKey)))
    // content mode on an UNCHANGED input hits (stable stats), and an
    // explicit contentKeys = true lands on the default's entry
    PlanCache.readThrough(q(), cacheDir, contentKeys = true).count()
    assert(PlanCache.lastOutcome == PlanCache.Hit)
    // the list tier is now the explicit OPT-OUT: its first use publishes
    // its own (plan + file list) entry
    PlanCache.readThrough(d1, cacheDir, contentKeys = false).count()
    assert(PlanCache.lastOutcome == PlanCache.Miss)

    // overwrite IN PLACE: same path, new bytes; mtime bumped
    // deterministically past any filesystem timestamp granularity
    val mtime0 = Files.getLastModifiedTime(file)
    stage(Seq((1L, "new"), (2L, "new"), (3L, "new")))
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(mtime0.toMillis + 2000))

    val d2 = q()
    // DEFAULT contract post-flip: new stats → new key → MISS, the
    // recompute sees the new rows (no silent staleness)
    assert(PlanCache.fingerprint(d2, contentKeys = true) != contentKey)
    val (fresh, o2) = PlanCache.readThroughWithOutcome(d2, cacheDir)
    assert(o2 == PlanCache.Miss)
    val freshRows = fresh.collect().map(_.toString).sorted.toSeq
    assert(freshRows.exists(_.contains("new")) && !freshRows.exists(_.contains("old")))
    // explicit list tier (reference parity, the documented opt-out):
    // same file list → same key → HIT, serving the stale pre-overwrite
    // rows until an explicit invalidate
    assert(PlanCache.fingerprint(d2, contentKeys = false) == listKey)
    val (stale, o1) = PlanCache.readThroughWithOutcome(d2, cacheDir, contentKeys = false)
    assert(o1 == PlanCache.Hit)
    assert(stale.collect().map(_.toString).sorted.toSeq == oldRows)
  }

  test("invalidate evicts both key tiers regardless of the flag") {
    val cacheDir = tmpDir("pc-inv2")
    val df = ordersAgg(spark, sf0001)
    // a content-keyed entry must fall to a flag-less invalidate — a
    // caller who forgets to repeat the publish flag must not leave the
    // entry silently alive
    PlanCache.readThrough(df, cacheDir, contentKeys = true).count()
    assert(PlanCache.invalidate(df, cacheDir))
    val (_, o) = PlanCache.readThroughWithOutcome(df, cacheDir, contentKeys = true)
    assert(o == PlanCache.Miss)
    // and the converse: list-tier entry (explicit opt-out), then a
    // content-flagged invalidate must still evict it
    PlanCache.readThrough(df, cacheDir, contentKeys = false).count()
    assert(PlanCache.invalidate(df, cacheDir, contentKeys = true))
    val (_, o2) = PlanCache.readThroughWithOutcome(df, cacheDir, contentKeys = false)
    assert(o2 == PlanCache.Miss)
  }

  test("invalidate evicts a stale-stat content entry via the plan-id marker") {
    val cacheDir = tmpDir("pc-stale")
    val file = Paths.get(tmpDir("pc-stale-data"), "data.parquet")
    import spark.implicits._
    def stage(rows: Seq[(Long, String)]): Unit = {
      val t = tmpDir("pc-stale-stage")
      rows.toDF("k", "s").coalesce(1).write.mode("overwrite").parquet(t)
      val part = new java.io.File(t).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    stage(Seq((1L, "old")))
    def q() = {
      spark.catalog.refreshByPath(file.toString)
      spark.read.parquet(file.toString).groupBy(col("s")).agg(count(lit(1)).as("n"))
    }
    val k1 = PlanCache.fingerprint(q(), contentKeys = true)
    PlanCache.readThrough(q(), cacheDir, contentKeys = true).count()
    assert(published(cacheDir, k1))
    // overwrite IN PLACE: the content key rotates, so k1 is no longer
    // derivable from current stats — only the plan-id marker finds it
    val mtime0 = Files.getLastModifiedTime(file)
    stage(Seq((1L, "new"), (2L, "new")))
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(mtime0.toMillis + 2000))
    assert(PlanCache.fingerprint(q(), contentKeys = true) != k1)
    assert(PlanCache.invalidate(q(), cacheDir), "stale content entry not found")
    assert(!Files.exists(Paths.get(cacheDir, k1)), "stale content entry survived invalidate")
  }

  test("session conf upgrades the tier; it can never downgrade (explicit false is the only opt-out)") {
    val cacheDir = tmpDir("pc-conf")
    val df = ordersAgg(spark, sf0001)
    val listKey = PlanCache.fingerprint(df, contentKeys = false)
    val contentKey = PlanCache.fingerprint(df) // default = content since r15
    assert(listKey != contentKey)
    // conf = true upgrades even an explicit contentKeys = false call —
    // the conf moves toward safety only
    spark.conf.set(PlanCache.ContentKeysConf, "true")
    try {
      PlanCache.readThrough(df, cacheDir, contentKeys = false).count()
      assert(published(cacheDir, contentKey))
      assert(!Files.exists(Paths.get(cacheDir, listKey)))
    } finally spark.conf.unset(PlanCache.ContentKeysConf)
    // conf = false is the same as unset: it cannot force the
    // stale-serving file-list tier onto anyone — a default attach still
    // lands on the content entry, and only an explicit per-call false
    // publishes the list-tier entry
    spark.conf.set(PlanCache.ContentKeysConf, "false")
    try {
      val (_, o) = PlanCache.readThroughWithOutcome(df, cacheDir)
      assert(o == PlanCache.Hit) // the content entry published above
      PlanCache.readThrough(df, cacheDir, contentKeys = false).count()
      assert(published(cacheDir, listKey))
    } finally spark.conf.unset(PlanCache.ContentKeysConf)
  }

  test("retention sweep evicts an expired entry and keeps a fresh one") {
    val cacheDir = tmpDir("pc-ret")
    val expired = ordersAgg(spark, sf0001)
    val fresh = Tables.load(spark, sf0001, "nation").select(col("n_nationkey"), col("n_name"))
    PlanCache.readThrough(expired, cacheDir).count()
    PlanCache.readThrough(fresh, cacheDir).count()
    // default attaches publish under the content tier post-flip
    val expKey = PlanCache.fingerprint(expired, contentKeys = true)
    val freshKey = PlanCache.fingerprint(fresh, contentKeys = true)
    // age the first entry past the retention: BOTH its last-use signals
    // (the atime marker and the publish-time manifest) into the past
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60 * 60 * 1000L)
    Seq("_graft_atime", "_graft_files").foreach { f =>
      val p = Paths.get(cacheDir, expKey, f)
      if (Files.exists(p)) Files.setLastModifiedTime(p, old)
    }
    spark.conf.set(PlanCache.RetentionConf, (10 * 60 * 1000L).toString)
    try {
      // attaching the FRESH entry triggers the sweep: the expired entry
      // goes, the fresh one (just touched by its own hit) survives
      val (_, o1) = PlanCache.readThroughWithOutcome(fresh, cacheDir)
      assert(o1 == PlanCache.Hit)
      assert(!Files.exists(Paths.get(cacheDir, expKey)), "expired entry must be swept")
      assert(published(cacheDir, freshKey))
      // the expired plan re-attaches as a MISS and re-publishes
      val (re, o2) = PlanCache.readThroughWithOutcome(expired, cacheDir)
      assert(o2 == PlanCache.Miss)
      assert(re.count() > 0)
      assert(published(cacheDir, expKey))
      // a hit refreshes the atime marker, resetting the entry's clock
      val before = Files.getLastModifiedTime(
        Paths.get(cacheDir, freshKey, "_graft_atime")).toMillis
      Thread.sleep(5)
      PlanCache.readThrough(fresh, cacheDir).count()
      val after = Files.getLastModifiedTime(
        Paths.get(cacheDir, freshKey, "_graft_atime")).toMillis
      assert(after > before, "hit must refresh the atime marker")
    } finally spark.conf.unset(PlanCache.RetentionConf)
    // conf unset → no sweep: an aged entry survives (the original
    // live-until-invalidate contract is unchanged by default)
    Seq("_graft_atime", "_graft_files").foreach { f =>
      val p = Paths.get(cacheDir, expKey, f)
      if (Files.exists(p)) Files.setLastModifiedTime(p, old)
    }
    PlanCache.readThrough(fresh, cacheDir).count()
    assert(published(cacheDir, expKey))
  }

  test("invalidate on a never-written cacheDir returns false (no sweep crash)") {
    val df = ordersAgg(spark, sf0001)
    assert(!PlanCache.invalidate(df, tmpDir("pc-empty") + "/never-created"))
  }

  test("field hashing is injection-proof and value-based") {
    import spark.implicits._
    // a 0x00 inside a value must not act as a field boundary
    val injA = Seq(("a\u0000b", "c")).toDF("x", "y")
    val injB = Seq(("a", "b\u0000c")).toDF("x", "y")
    assert(PlanCache.fingerprint(injA) != PlanCache.fingerprint(injB))
    // a "\u0001" value must not collide with SQL NULL
    val soh = Seq((1L, "\u0001")).toDF("k", "s")
    val nul = Seq((1L, null: String)).toDF("k", "s")
    assert(PlanCache.fingerprint(soh) != PlanCache.fingerprint(nul))
    // binary columns key by CONTENT: the same literal bytes built twice
    // derive the same key (a JVM identity toString would differ), and
    // different bytes differ
    def binDf(b: Array[Byte]) = Seq(Tuple1(b)).toDF("b")
    assert(PlanCache.fingerprint(binDf(Array[Byte](1, 2, 3))) ==
      PlanCache.fingerprint(binDf(Array[Byte](1, 2, 3))))
    assert(PlanCache.fingerprint(binDf(Array[Byte](1, 2, 3))) !=
      PlanCache.fingerprint(binDf(Array[Byte](1, 2, 4))))
    // array columns likewise
    def arrDf(a: Seq[Long]) = Seq(Tuple1(a)).toDF("a")
    assert(PlanCache.fingerprint(arrDf(Seq(1L, 2L))) == PlanCache.fingerprint(arrDf(Seq(1L, 2L))))
    assert(PlanCache.fingerprint(arrDf(Seq(1L, 2L))) != PlanCache.fingerprint(arrDf(Seq(1L, 3L))))
  }

  test("subquery data is part of the key") {
    import spark.implicits._
    Seq(1L, 10L).toDF("k").createOrReplaceTempView("pc_sub_main")
    Seq(5L).toDF("v").createOrReplaceTempView("pc_sub_lit")
    val q1 = spark.sql(
      "SELECT k FROM pc_sub_main WHERE k > (SELECT max(v) FROM pc_sub_lit)")
    val f1 = PlanCache.fingerprint(q1)
    // same main plan, different subquery literal rows → different key
    Seq(7L).toDF("v").createOrReplaceTempView("pc_sub_lit")
    val q2 = spark.sql(
      "SELECT k FROM pc_sub_main WHERE k > (SELECT max(v) FROM pc_sub_lit)")
    assert(f1 != PlanCache.fingerprint(q2))
  }

  test("a corpse target (no manifest) is reclaimed, not a permanent wedge") {
    val cacheDir = tmpDir("pc-corpse")
    val df = ordersAgg(spark, sf0001)
    val rows = sortedRows(PlanCache.readThrough(df, cacheDir))
    // simulate a crash mid-invalidate: eviction deletes the manifest
    // first, so the dir and its parts survive unpublished
    val key = PlanCache.fingerprint(df, contentKeys = true)
    Files.delete(Paths.get(cacheDir, key, "_graft_files"))
    val (again, outcome) = PlanCache.readThroughWithOutcome(df, cacheDir)
    assert(outcome == PlanCache.Miss) // recomputed and re-published in place
    // the old parts are still there, unnamed: serving them too would
    // double every row
    assert(sortedRows(again) == rows)
    assert(published(cacheDir, key), "key not re-published")
  }

  test("stale tmp staging dirs from crashed writers are swept on attach") {
    val cacheDir = tmpDir("pc-sweep")
    val stale = Paths.get(cacheDir, ".tmp-deadbeef-crashed")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "debris")
    // age the WHOLE tree past the grace period (liveness is judged by
    // the newest mtime anywhere in the tree, so a live writer's deep
    // task files protect it)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 8 * 60 * 60 * 1000L)
    Files.setLastModifiedTime(stale.resolve("part-00000.parquet"), old)
    Files.setLastModifiedTime(stale, old)
    // a fresh tmp-looking dir must survive (could be a live writer)
    val fresh = Paths.get(cacheDir, ".tmp-deadbeef-live")
    Files.createDirectories(fresh)
    PlanCache.readThrough(ordersAgg(spark, sf0001), cacheDir).count()
    assert(!Files.exists(stale), "stale tmp dir not reclaimed")
    assert(Files.exists(fresh), "live tmp dir must not be reclaimed")
  }

  private def localFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("k", "s")
      .select(col("k"), upper(col("s")).as("u"))
      .filter(col("k") > 0)
  }

  test("facade cacheAcrossSessions round-trips typed rows") {
    val cacheDir = tmpDir("pc")
    import spark.implicits._
    val ds = new graft.dset.DSet(Tables.load(spark, sf0001, "nation")
      .select(col("n_nationkey"), col("n_name")).as[(Long, String)])
    val out = ds.cacheAcrossSessions(cacheDir)
    assert(out.toSeq.toList.sorted == ds.toSeq.toList.sorted)
    assert(PlanCache.lastOutcome == PlanCache.Miss)
    val again = ds.cacheAcrossSessions(cacheDir)
    assert(PlanCache.lastOutcome == PlanCache.Hit)
    assert(again.toSeq.toList.sorted == ds.toSeq.toList.sorted)
  }

  test("rename-by-copy schemes: strict forPath rejects with executable remediation, " +
      "forCachePath routes to the reduced object-store io") {
    // the ARTIFACT-side rejection stands — and its remediation must name a
    // path that actually works (r17 verdict: the old message routed to
    // Snapshots, which threw the identical rejection)
    val ex = intercept[IllegalArgumentException](ArtifactIo.forPath("s3a://bucket/x"))
    assert(ex.getMessage.contains("rename-atomic allowlist"), ex.getMessage)
    assert(ex.getMessage.contains("home this artifact or Snapshots table"), ex.getMessage)
    assert(ex.getMessage.contains("PLAN CACHE"), ex.getMessage)
    // the plan cache's permissive resolution admits the scheme with the
    // reduced io: rename/lock primitives are unavailable THERE too — the
    // cache's protocol must never reach them
    val os = ArtifactIo.forCachePath("s3a://bucket/x")
    assert(os.isInstanceOf[graft.sources.ObjectStoreArtifactIo])
    intercept[UnsupportedOperationException](os.rename("s3a://b/a", "s3a://b/c"))
    intercept[UnsupportedOperationException](os.withLock("s3a://b/l", 1L, "spec", "h") { 1 })
    // non-object-store paths resolve identically under both entry points
    assert(ArtifactIo.forCachePath("/tmp/x") eq ArtifactIo.forPath("/tmp/x"))
  }

  private def mock3aDir(tag: String): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[graft.sources.RenameByCopyMockFs].getName)
    // additive — a plain set would deregister CasSnapshotsSpec's mock3c
    // from the shared SparkContext configuration mid-suite
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
    "mock3a:" + tmpDir(tag)
  }

  /** The stores the one publish protocol runs on: scheme-less local
    * (java.nio), `file:` (the Hadoop io) and `mock3a:` (a simulated
    * rename-by-copy object store).
    */
  private val stores: Seq[(String, String => String)] = Seq(
    "local" -> (tag => tmpDir(tag)),
    "file:" -> (tag => "file:" + tmpDir(tag)),
    "mock3a:" -> (tag => mock3aDir(tag)))

  private def localPath(cacheDir: String): java.nio.file.Path =
    Paths.get(cacheDir.stripPrefix("file:").stripPrefix("mock3a:"))

  private def stagingDirs(cacheDir: String): Seq[java.nio.file.Path] =
    Option(localPath(cacheDir).toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(".tmp-")).map(_.toPath)

  private def manifestNames(io: ArtifactIo, target: String): Seq[String] =
    new String(io.readBytes(ArtifactIo.child(target, "_graft_files")).get, "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)

  for ((store, mkDir) <- stores) {
    test(s"[$store] miss → hit → invalidate → miss; the manifest is the commit point and " +
        "orphan parts are never read") {
      val cacheDir = mkDir("pc-life")
      val io = ArtifactIo.forCachePath(cacheDir)
      val df = ordersAgg(spark, sf0001)
      val (cold, o1) = PlanCache.readThroughWithOutcome(df, cacheDir)
      assert(o1 == PlanCache.Miss)
      val coldRows = sortedRows(cold)
      // published = the manifest; no entry-level _SUCCESS
      val target = ArtifactIo.child(cacheDir, PlanCache.fingerprint(df))
      assert(manifestNames(io, target).nonEmpty)
      assert(!io.exists(ArtifactIo.child(target, "_SUCCESS")))
      // a losing double-publisher's orphan part must be INVISIBLE to
      // reads: plant a part-named file of garbage next to the committed
      // ones — a directory-listing read would pick it up and die
      io.writeFile(ArtifactIo.child(target, "part-99999-orphan.parquet"),
        "not parquet".getBytes("UTF-8"))
      // a new session re-declares the plan and hits
      val (warm, o2) =
        PlanCache.readThroughWithOutcome(ordersAgg(spark.newSession(), sf0001), cacheDir)
      assert(o2 == PlanCache.Hit)
      assert(sortedRows(warm) == coldRows)
      // three-sweep invalidate evicts the entry; the next attach recomputes
      assert(PlanCache.invalidate(df, cacheDir, contentKeys = true))
      assert(!io.exists(target))
      val (re, o3) = PlanCache.readThroughWithOutcome(df, cacheDir)
      assert(o3 == PlanCache.Miss)
      assert(sortedRows(re) == coldRows)
    }

    test(s"[$store] 4 concurrent miss racers converge on one coherent entry") {
      // every racer misses and publishes (moves its parts in, then
      // writes the manifest); the manifest names ONE writer's complete
      // set, so every reader — during and after the race — sees one
      // copy of the result, never a mix of two writers' parts (which a
      // directory-listing read would return as doubled rows)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val cacheDir = mkDir("pc-race")
      val expected = sortedRows(ordersAgg(spark, sf0001))
      val results = Await.result(Future.sequence((1 to 4).map { _ =>
        Future {
          val (df, outcome) =
            PlanCache.readThroughWithOutcome(ordersAgg(spark.newSession(), sf0001), cacheDir)
          (sortedRows(df), outcome)
        }
      }), 2.minutes)
      results.foreach { case (rows, _) => assert(rows == expected, "torn or doubled read") }
      assert(results.exists(_._2 == PlanCache.Miss), "somebody must have published")
      val (warm, outcome) = PlanCache.readThroughWithOutcome(ordersAgg(spark, sf0001), cacheDir)
      assert(outcome == PlanCache.Hit)
      assert(sortedRows(warm) == expected)
      // one entry, no stranded staging dirs, and the manifest names a
      // COMPLETE set that exists on the store
      val io = ArtifactIo.forCachePath(cacheDir)
      val names = io.listNames(cacheDir)
      assert(names.count(!_.startsWith(".")) == 1, s"entries: $names")
      assert(!names.exists(_.startsWith(".tmp-")), s"stranded staging dirs: $names")
      val target = ArtifactIo.child(cacheDir, PlanCache.fingerprint(ordersAgg(spark, sf0001)))
      manifestNames(io, target).foreach(fn => assert(io.exists(ArtifactIo.child(target, fn))))
    }
  }

  for ((store, mkDir) <- stores.filter(s => s._1 == "local" || s._1 == "mock3a:")) {
    test(s"[$store] a publish crashed after the staged write, after 1 of 3 moves or after the " +
        "manifest leaves the next attach oracle-equal; the grace sweep reclaims its staging dir") {
      final class Crash extends RuntimeException("crash")
      val df = Tables.load(spark, sf0001, "orders")
        .select(col("o_orderkey"), col("o_orderstatus")).repartition(3)
      val oracle = sortedRows(df)
      for ((step, next) <- Seq("staged" -> PlanCache.Miss, "moved-1" -> PlanCache.Miss,
          "manifest" -> PlanCache.Hit)) {
        val cacheDir = mkDir(s"pc-crash-$step")
        val io = ArtifactIo.forCachePath(cacheDir)
        val target = ArtifactIo.child(cacheDir, PlanCache.fingerprint(df))
        intercept[Crash](PlanCache.readThroughHooked(df, cacheDir, contentKeys = true,
          s => if (s == step) throw new Crash))
        val crashed = stagingDirs(cacheDir)
        assert(crashed.size == 1, s"$step: $crashed")
        val (again, outcome) = PlanCache.readThroughWithOutcome(df, cacheDir)
        assert(outcome == next, step)
        assert(sortedRows(again) == oracle, s"$step: rows differ from the oracle")
        val parts = io.listNames(target).filter(ArtifactIo.isDataFileName)
        // after 1 of 3 moves the crashed writer's part stays, unnamed
        assert(parts.size == manifestNames(io, target).size + (if (step == "moved-1") 1 else 0),
          s"$step: $parts")
        // age the crashed writer's whole staging tree past the grace: the
        // next attach reclaims it
        val old = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 8 * 60 * 60 * 1000L)
        val walk = Files.walk(crashed.head)
        try walk.iterator().forEachRemaining(p => Files.setLastModifiedTime(p, old))
        finally walk.close()
        PlanCache.readThrough(df, cacheDir): Unit
        assert(stagingDirs(cacheDir).isEmpty, s"$step: staging dir not reclaimed")
      }
    }
  }

  test("mock3a really renames by copy+delete (the simulation is honest)") {
    val root = mock3aDir("pc-mockfs")
    val io = ArtifactIo.forCachePath(root)
    // the reduced io refuses rename outright; drive the UNDERLYING fs to
    // pin the copy+delete semantics the scheme simulates
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(root + "/a.txt")
    val fs = p.getFileSystem(hc)
    assert(fs.isInstanceOf[graft.sources.RenameByCopyMockFs])
    io.writeFile(root + "/a.txt", "payload".getBytes("UTF-8"))
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(root + "/b.txt")))
    assert(io.readBytes(root + "/b.txt").map(new String(_, "UTF-8")).contains("payload"))
    assert(!io.exists(root + "/a.txt"))
    // file-onto-existing-file refuses (object-store emulations do not
    // silently replace through rename)
    io.writeFile(root + "/c.txt", "other".getBytes("UTF-8"))
    assert(!fs.rename(new org.apache.hadoop.fs.Path(root + "/b.txt"),
      new org.apache.hadoop.fs.Path(root + "/c.txt")))
  }
}
