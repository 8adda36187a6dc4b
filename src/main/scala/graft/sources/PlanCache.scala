package graft.sources

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, graftbridge}

/** Cross-session container cache — the Spark-native analog of the
  * reference's container-resident partition caches (reference
  * `src/CoreLib/DSetGenerics.fs:1185-1234` `cacheInMemory` attach,
  * `src/CoreLib/cache.fs:294-477` `PartitionCacheEnumerable`; paper §4.9):
  * there, cached partitions live in the remote container's `CacheTracker`
  * and SURVIVE the driver session, so a new client re-attaches to them
  * instead of recomputing. Spark's `persist()` dies with the
  * `SparkContext`, so the surviving layer here is a parquet
  * materialization keyed by a fingerprint of the ANALYZED CANONICALIZED
  * logical plan plus the input file set: any session that declares the
  * same computation over the same inputs derives the same key and
  * re-attaches to the published result with a plain columnar scan
  * (column-pruned, partition-parallel) instead of re-running the plan;
  * opening that scan runs no Spark job (the entry's schema is one
  * driver-side footer read, [[org.apache.spark.sql.graftbridge.readParquet]]).
  *
  * Publish protocol, one on every store: compute into a staging dir,
  * move its part files into the entry, then write the `_graft_files`
  * manifest naming them — the commit point. An entry is published iff
  * its manifest exists; a hit reads it once and serves exactly the
  * files it names, so parts nobody committed (a lost double-publisher's,
  * a crashed publish's) are never read. See [[publish]] for why no step
  * needs atomic rename or a lock: entries are KEYED BY CONTENT (same
  * key ⇒ same bytes), so racing publishes are harmless.
  *
  * Scale notes (100 TB): `cacheDir` would be a shared filesystem path
  * (HDFS/DBFS) or an object-store bucket; every filesystem primitive
  * routes through [[ArtifactIo.forCachePath]], which admits
  * rename-by-copy object stores (`s3a://`, `gs://`, `wasb://`, …) HERE —
  * and only here among the artifact families, whose other protocols need
  * atomic rename or create-exclusive (gate pc1 runs the lifecycle on a
  * simulated rename-by-copy store). The cached artifact is plain
  * parquet: readers get predicate pushdown and column pruning ON TOP of
  * the cache, which the reference's opaque serialized partition blobs
  * cannot offer.
  *
  * Staleness contract: since r15 the DEFAULT key tier is CONTENT keys —
  * per-file (size, mtime) keying, so an in-place overwrite of an input
  * file derives a NEW key and misses instead of serving stale bytes (the
  * safe mode; the staged migration recorded at [[ContentKeysConf]]).
  * `contentKeys = false` (or the session conf) restores the reference-
  * parity tier: the key covers the plan and the input FILE LIST only, an
  * in-place overwrite requires an explicit [[invalidate]], exactly as a
  * reference container cache survives until decached. Content stats come
  * from a fresh `FileSystem.getFileStatus` per input file — deliberately
  * NOT Spark's session file-status cache, because the overwrite this mode
  * exists to catch happens outside the session's knowledge — so content
  * mode costs one O(files) metadata pass per attach (bounded by
  * compaction; on HDFS this is namenode RPCs, cheap next to the scan it
  * saves).
  */
object PlanCache {

  sealed trait Outcome
  case object Hit extends Outcome
  case object Miss extends Outcome

  /** Session conf that UPGRADES the key tier to content keys:
    * `spark.graft.planCache.contentKeys = true` makes every attach
    * behave as if `contentKeys = true` was passed. Upgrade-only, both
    * before and after the default flip: a conf value of `false` is the
    * same as unset, because a session conf that could force the
    * stale-serving file-list tier onto a call site that explicitly
    * asked for content keys would silently remove requested safety — a
    * caller cannot distinguish "default true" from "explicit true", so
    * the only sound downgrade is the per-call `contentKeys = false`.
    *
    * Default-flip record (staged r13→r14, executed r15): content keys
    * are the SAFE mode — an in-place input overwrite misses instead of
    * serving stale bytes — and are now the code default for
    * [[fingerprint]]/[[readThrough]]/[[readThroughWithOutcome]] (and
    * `cacheAcrossSessions`). The migration cost is one fleet-wide cold
    * miss (every pre-flip entry was published under the file-list tier
    * and its key rotates); the retention sweep ([[RetentionConf]])
    * reclaims the orphaned list-tier entries. A deployment that cannot
    * pay the per-attach O(files) stat pass (or wants reference-parity
    * survive-until-decached semantics) opts out PER CALL SITE with
    * `contentKeys = false` — deliberately no fleet-wide downgrade knob.
    */
  val ContentKeysConf = "spark.graft.planCache.contentKeys"

  /** Session conf bounding published-entry lifetime:
    * `spark.graft.planCache.retentionMs = N` sweeps entries not ATTACHED
    * for N ms at every attach (last use = the `_graft_atime` marker each
    * hit refreshes, falling back to the publish-time manifest mtime).
    * Unset = entries live until [[invalidate]] (the original contract).
    *
    * This is the missing piece of the content-keys migration: under
    * content keys every input change strands the old entry under an
    * underivable key — [[invalidate]]'s marker scan reclaims stale-STAT
    * entries, but an input whose FILE LIST changed rotates the marker
    * value too and nothing can find the orphan by key. A fleet-shared
    * cache dir therefore grows without bound unless age-bounded; the
    * sweep is the backstop that reclaims every orphan class. The entry
    * just served by the current attach is touched BEFORE the sweep runs,
    * so it can never expire mid-read within its own attach; an eviction
    * racing another session's long read is the standard shared-cache
    * tradeoff — size the retention well above the longest consumer.
    */
  val RetentionConf = "spark.graft.planCache.retentionMs"

  /** The effective key tier: the caller's flag (default = the safe
    * content tier since r15) OR'd with the session conf (see
    * [[ContentKeysConf]] — the conf only upgrades, never downgrades).
    */
  private def effectiveContentKeys(df: DataFrame, contentKeys: Boolean): Boolean =
    contentKeys || df.sparkSession.conf.getOption(ContentKeysConf).exists(_.trim.toBoolean)

  /** Outcome of the most recent [[readThrough]] on this JVM. Convenience
    * for sequential callers — under concurrency use
    * [[readThroughWithOutcome]], which returns the outcome instead of
    * racing on this global.
    */
  @volatile private var last: Outcome = Miss
  def lastOutcome: Outcome = last

  private val JvmIdRx = "\"jvmId\":\"[0-9a-fA-F-]{36}\"".r

  /** Session-independent cache key: SHA-256 over the canonicalized
    * analyzed plan (expression IDs normalized, so two sessions building
    * the same query agree), the sorted input file list (two same-shaped
    * plans over different tables must not collide), the result schema,
    * and — for plans over literal in-memory data — the local rows
    * themselves.
    *
    * Key stability is guarded by PlanCacheSpec's golden-key case: a Spark
    * upgrade (or a refactor here) that rotates the canonicalized-plan
    * serialization turns a silent fleet-wide cache miss into a named
    * test failure with an explicit migration note.
    *
    * The default tier tracks [[readThrough]]'s (content keys since r15),
    * so `fingerprint(df)` names the entry a default attach creates.
    * Deliberately does NOT consult [[ContentKeysConf]] — the plan-id
    * marker hashes `contentKeys = false` and must stay list-tier under
    * any session conf; in a conf-upgraded session, mirror an
    * explicit-false attach by passing the tier explicitly.
    */
  def fingerprint(df: DataFrame, contentKeys: Boolean = true): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    // BOTH serializations are hashed, because each elides what the other
    // keeps: treeString truncates expression arguments past
    // spark.sql.debug.maxToStringFields (two plans differing only in a
    // long isin list would share a key), while toJSON keeps every field
    // but renders opaque objects (typed-op lambdas) as null (two
    // different lambdas would share a key). Together: complete fields +
    // lambda identity. Typed-lambda plans remain JVM-stable only, as
    // documented; Column-only plans are stable across sessions.
    val analyzed = df.queryExecution.analyzed
    // toJSON serializes ExprId with its per-JVM jvmId UUID even after
    // canonicalization normalizes the numeric ids — left in, every key
    // would rotate per driver JVM and cross-process reattach (the whole
    // point of this cache) would always miss. Normalize them out; the
    // numeric ids the canonicalizer assigned carry the identity.
    put(JvmIdRx.replaceAllIn(analyzed.canonicalized.toJSON, "\"jvmId\":\"0\""))
    put(analyzed.canonicalized.treeString)
    put(df.inputFiles.sorted.mkString("\n"))
    put(df.schema.json)
    // In-memory leaves are invisible to all three of the above: toJSON
    // renders LocalRelation rows as null, treeString truncates them, and
    // inputFiles is empty — two different literal datasets of the same
    // shape would otherwise silently share a key and serve each other's
    // rows. Hash LocalRelation row contents (driver-resident by
    // definition, so linear and local); RDD-backed leaves have opaque
    // contents, so their key is the JVM-unique rdd id — same-JVM reuse
    // stays valid, a new JVM misses and recomputes (safe, never stale).
    // Every value is hashed LENGTH-PREFIXED ("<len>:<bytes>"), never
    // delimiter-separated: with bare separators a 0x00 inside a string
    // value acts as a field boundary, letting ("a\u0000b","c") and
    // ("a","b\u0000c") — or a "\u0001" value and SQL NULL — share a key
    // and serve each other's cached rows. Binary/array/map/struct values
    // hash by CONTENT via the Catalyst→Scala converter (Array[Byte]
    // toString is a JVM identity string — per-process, which would
    // defeat the cross-session keys this cache exists for).
    def putField(v: Any): Unit = v match {
      case null => put("-1:")
      case b: Array[Byte] =>
        put(s"bin${b.length}:"); md.update(b); md.update(0.toByte)
      case seq: scala.collection.Seq[_] =>
        put(s"seq${seq.length}:"); seq.foreach(putField)
      case m: scala.collection.Map[_, _] =>
        put(s"map${m.size}:")
        m.toSeq.map { case (k, mv) => (String.valueOf(k), mv) }
          .sortBy(_._1).foreach { case (k, mv) => putField(k); putField(mv) }
      case row: org.apache.spark.sql.Row =>
        put(s"row${row.length}:"); row.toSeq.foreach(putField)
      case other =>
        val str = other.toString; put(s"${str.length}:$str")
    }
    // Subquery expressions hold their own plans, invisible to a plain
    // foreach (and their scans are absent from df.inputFiles) — two
    // queries differing only in subquery data must not share a key, so
    // the walk covers them, including their file-relation leaves.
    analyzed.foreachWithSubqueries {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        put(s"local-relation:${lr.data.length}")
        val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(lr.schema)
        lr.data.foreach { ir =>
          toScala(ir).asInstanceOf[org.apache.spark.sql.Row].toSeq.foreach(putField)
        }
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        put(s"logical-rdd:${l.rdd.id}")
      case e: org.apache.spark.sql.execution.ExternalRDD[_] =>
        put(s"external-rdd:${e.rdd.id}")
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            // ONE enumeration + sort feeds both key tiers (the listing
            // can be an O(files) namenode round; the first contentKeys
            // cut re-listed and re-sorted a second time). The BYTE LAYOUT
            // is part of the key contract — it is unchanged from the
            // original two-loop form, so neither key tier rotates.
            val sortedFiles = fs.location.inputFiles.sorted
            put("files:"); sortedFiles.foreach(f => put(s"${f.length}:$f"))
            // Opt-in content keys: fold each file's (size, mtime) into the
            // key, statted FRESH from the filesystem (never the session's
            // file-status cache — see the staleness contract above). A
            // file that vanished between listing and stat keys as missing:
            // the key changes, the attach misses, and the recompute (not
            // this fingerprint) is where a genuinely broken input fails
            // loudly.
            if (contentKeys) {
              put("content:")
              val conf = df.sparkSession.sessionState.newHadoopConf()
              sortedFiles.foreach { f =>
                val p = new org.apache.hadoop.fs.Path(f)
                val stat =
                  try {
                    val st = p.getFileSystem(conf).getFileStatus(p)
                    s"${st.getLen}:${st.getModificationTime}"
                  } catch { case _: java.io.FileNotFoundException => "missing" }
                put(s"${f.length}:$f=$stat")
              }
            }
          case _ => ()
        }
      case _ => ()
    }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  /** Attach to the cross-session cache: if a published result for this
    * plan exists under `cacheDir`, read it (no recompute — the reference's
    * warm re-attach); otherwise compute once, publish, and read the
    * published copy so every consumer sees identical bytes.
    */
  def readThrough(df: DataFrame, cacheDir: String, contentKeys: Boolean = true): DataFrame =
    readThroughWithOutcome(df, cacheDir, contentKeys)._1

  /** [[readThrough]] plus this call's outcome (race-free, unlike
    * [[lastOutcome]]).
    */
  def readThroughWithOutcome(df: DataFrame, cacheDir: String,
      contentKeys: Boolean = true): (DataFrame, Outcome) =
    readThroughHooked(df, cacheDir, contentKeys, _ => ())

  /** [[readThroughWithOutcome]] with a TEST SEAM: [[publish]] calls
    * `onStep` after each step of a miss ("staged", "moved-<k>" after the
    * k-th part move, "manifest"). PlanCacheSpec throws from it to crash a
    * publisher at each point; production callers pass a no-op.
    */
  private[graft] def readThroughHooked(df: DataFrame, cacheDir: String,
      contentKeys: Boolean, onStep: String => Unit): (DataFrame, Outcome) = {
    val spark = df.sparkSession
    val key = fingerprint(df, effectiveContentKeys(df, contentKeys))
    io(cacheDir).createDirs(cacheDir)
    sweepStaleTmp(cacheDir)
    val target = child(cacheDir, key)
    val (files, outcome) = readManifest(cacheDir, target) match {
      case Some(names) => touchAtime(cacheDir, target); (names, Hit)
      case None => (publish(df, cacheDir, key, onStep), Miss)
    }
    // retention sweep AFTER the hit-touch above: the entry this attach
    // serves was just refreshed, so it cannot expire under its own read.
    // Throttled per cache dir (at most once per retention/20, floor 30 s
    // — a fleet-shared dir with thousands of entries must not pay an
    // O(entries) listing+stat pass on every warm Hit; expiry precision
    // of a fraction of the retention is all the age bound needs)
    spark.conf.getOption(RetentionConf).map(_.trim.toLong).foreach { r =>
      require(r > 0, s"$RetentionConf must be positive, got $r")
      val now = System.currentTimeMillis()
      val minGap = math.max(30000L, r / 20)
      val due = lastSweepMs.compute(cacheDir, (_, prev) =>
        if (prev == null || now - prev.longValue() >= minGap) java.lang.Long.valueOf(now)
        else prev)
      if (due.longValue() == now) sweepExpired(cacheDir, r)
    }
    last = outcome
    (graftbridge.readParquet(spark, files.map(child(target, _)): _*), outcome)
  }

  /** The store-appropriate primitives for `cacheDir` — the plan cache's
    * PERMISSIVE resolution ([[ArtifactIo.forCachePath]]): rename-atomic
    * stores get the shared artifact contract, rename-by-copy object
    * stores get the reduced [[ObjectStoreArtifactIo]] whose rename/lock
    * primitives throw (this file never calls them).
    */
  private def io(dir: String): ArtifactIo = ArtifactIo.forCachePath(dir)

  /** Child-path join as a plain string suffix (scheme-safe) — the one
    * [[ArtifactIo.child]] copy.
    */
  private def child(dir: String, names: String*): String =
    ArtifactIo.child(dir, names: _*)

  /** Last-attach marker inside a published entry (`_`-prefixed — parquet
    * readers skip it); refreshed on every hit, read by the retention
    * sweep. Best-effort: a concurrent eviction mid-touch is tolerated.
    */
  private val AtimeFile = "_graft_atime"

  /** Per-cacheDir timestamp of the last retention sweep this JVM ran —
    * the sweep throttle's state (see the attach path).
    */
  private val lastSweepMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def touchAtime(cacheDir: String, target: String): Unit =
    try io(cacheDir).writeFile(child(target, AtimeFile),
      System.currentTimeMillis().toString.getBytes("UTF-8"))
    catch { case _: java.io.IOException => () }

  /** Evict entries not attached within `retentionMs` (see
    * [[RetentionConf]]). Last use = the atime marker's mtime when
    * present, else the manifest's (publish time), else the plan-id
    * marker's — so an entry whose publish died before its manifest, or
    * one an older release published without a manifest, still ages out.
    * Tmp staging dirs have their own crash-grace sweep and are skipped.
    */
  private def sweepExpired(cacheDir: String, retentionMs: Long): Unit = {
    val fs = io(cacheDir)
    val cutoff = System.currentTimeMillis() - retentionMs
    fs.listNames(cacheDir).filterNot(_.startsWith(".")).foreach { fn =>
      val p = child(cacheDir, fn)
      try {
        val lastUsed = Iterator(AtimeFile, FilesManifest, PlanIdFile)
          .flatMap(f => fs.mtimeMs(child(p, f))).nextOption()
        if (lastUsed.exists(_ < cutoff)) evict(cacheDir, p)
      } catch { case _: java.io.IOException => () } // racing evict/publish
    }
  }

  /** Explicit eviction (the reference's decache). Returns true if a
    * published entry existed under EITHER key tier.
    *
    * Eviction is tier-complete regardless of the `contentKeys` flag: an
    * entry published via `readThrough(..., contentKeys = true)` lives
    * under a different key than the file-list tier, and an invalidate
    * caller that forgot to repeat the flag would otherwise silently leave
    * it alive (returning false). Three sweeps cover it: the file-list
    * key, the content key AT CURRENT STATS, and — because a content key
    * embeds the stats at PUBLISH time and becomes underivable once the
    * input changes in place (exactly the scenario content keys exist
    * for) — a directory scan for the plan-id marker every publish
    * writes, which finds stale-stat content entries of this plan. The
    * content fingerprint costs one fresh O(files) stat pass and the scan
    * one listing — both cheap next to the recompute an eviction implies.
    * (Entries published before the marker existed are covered by the
    * first two sweeps only.)
    *
    * Known residual leak: a stale content-keyed entry whose input FILE
    * LIST changed (files added/removed, not overwritten in place) rotates
    * the plan-id marker value too — none of the three sweeps can find it
    * by key. Those orphans are reclaimed by the age-based retention sweep
    * ([[RetentionConf]]), which is why a fleet-shared content-keyed cache
    * dir should always set it.
    */
  def invalidate(df: DataFrame, cacheDir: String, contentKeys: Boolean = false): Boolean = {
    val fs = io(cacheDir)
    val listKey = fingerprint(df, contentKeys = false)
    val keys = Seq(listKey, fingerprint(df, contentKeys = true)).distinct
    var existed = false
    keys.foreach(k => existed |= evict(cacheDir, child(cacheDir, k)))
    // stale-stat content-keyed entries: match by the plan-id marker
    fs.listNames(cacheDir).foreach { fn =>
      val p = child(cacheDir, fn)
      // the marker read races concurrent invalidates: an entry that
      // vanishes between listing and read is ALREADY evicted — treat it
      // as such instead of aborting the sweep
      val markerMatches =
        try fs.readBytes(child(p, PlanIdFile)).exists(new String(_, "UTF-8") == listKey)
        catch { case _: java.io.IOException => false }
      if (!fn.startsWith(".") && markerMatches) existed |= evict(cacheDir, p)
    }
    sweepStaleTmp(cacheDir)
    existed
  }

  /** Un-publish `target`, then delete it; returns whether it was
    * published. The manifest goes first, so an eviction that dies midway
    * leaves an unpublished directory the next attach re-publishes — never
    * a manifest naming deleted parts.
    */
  private def evict(cacheDir: String, target: String): Boolean = {
    val fs = io(cacheDir)
    val published = fs.exists(child(target, FilesManifest))
    fs.delete(child(target, FilesManifest))
    fs.deleteTree(target)
    published
  }

  private val PlanIdFile = "_graft_plan"

  /** Age before a `.tmp-*` staging dir with NO recent writes anywhere in
    * its tree is considered the debris of a crashed writer and reclaimed
    * (a live long-running parquet write keeps refreshing task files deep
    * under `_temporary/...` even while the top dir's mtime stays at job
    * start — [[ArtifactIo.sweepStale]] checks the whole tree, so only a
    * truly dead writer's dir goes quiet for this long).
    */
  private val TmpGraceMs = 6 * 60 * 60 * 1000L

  /** Reclaim staging dirs stranded by crashed writers (a writer that dies
    * mid `df.write.parquet(tmp)` leaves `.tmp-<key>-<uuid>` forever;
    * repeated crashes would otherwise accumulate unbounded orphan data).
    * Runs on every attach/invalidate — one directory listing plus a walk
    * of any candidate older than the grace.
    */
  private def sweepStaleTmp(cacheDir: String, graceMs: Long = TmpGraceMs): Unit =
    io(cacheDir).sweepStale(cacheDir, ".tmp-", graceMs)

  /** The entry's commit point (`_`-prefixed — parquet readers skip it):
    * the newline-separated part names one publish moved in, written by
    * [[publish]], read once per hit.
    */
  private val FilesManifest = "_graft_files"

  /** The part names `target`'s manifest commits; None when the entry is
    * not published (no manifest, or an empty one — a parquet write always
    * commits at least one part).
    */
  private def readManifest(cacheDir: String, target: String): Option[Seq[String]] =
    io(cacheDir).readBytes(child(target, FilesManifest))
      .map(b => new String(b, "UTF-8").split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** [[readManifest]], only when every named part exists — the
    * publisher's check that no racing invalidate deleted parts before its
    * manifest landed.
    */
  private def intactManifest(cacheDir: String, target: String): Option[Seq[String]] =
    readManifest(cacheDir, target).filter { names =>
      val present = io(cacheDir).listNames(target).toSet
      names.forall(present.contains)
    }

  /** Best-effort staging reclaim: once an entry is served (or the
    * original failure is already propagating), a cleanup hiccup must not
    * fail the caller — the grace sweep reclaims what this misses.
    */
  private def discardTmp(cacheDir: String, tmp: String): Unit =
    try io(cacheDir).deleteTree(tmp)
    catch { case _: java.io.IOException => () }

  /** Compute `df` and publish it as entry `key`, manifest-last, on every
    * store. Returns the part names of the manifest it leaves current.
    *  1. Stage: `df.write.parquet` into `.tmp-<key>-<uuid>` (a crashed
    *     writer's is reclaimed by the grace sweep).
    *  2. Move each staged part into the entry. Part names are unique per
    *     writer and nothing reads a part before a manifest names it, so
    *     no move needs to be atomic: `Files.move` locally, one namespace
    *     rename on HDFS, the connector's copy+delete on object stores.
    *  3. Write the manifest with [[ArtifactIo.writeAtomic]] — a
    *     whole-object PUT on object stores, temp + atomic rename
    *     elsewhere — so a racing hit reads the old manifest or the new,
    *     never a torn one.
    * A double publish is safe because the key is a content fingerprint:
    * racing writers of one key move byte-identical results under
    * distinct part names, and the current manifest always names one
    * writer's COMPLETE set; the loser's parts are dead names, reclaimed
    * with the entry. A racing invalidate can delete parts before our
    * manifest lands: the intact check catches that corpse, un-publishes
    * it and re-runs the publish from the staged write (the moves emptied
    * the staging dir), at most three times.
    *
    * Only a store IOException reclaims the staging dir early; any other
    * failure leaves it, as a dead process would, to the grace sweep.
    */
  private def publish(df: DataFrame, cacheDir: String, key: String,
      onStep: String => Unit): Seq[String] = {
    val fs = io(cacheDir)
    val target = child(cacheDir, key)
    val manifest = child(target, FilesManifest)
    // Plan-id marker (`_`-prefixed — parquet readers skip it): the
    // FILE-LIST-tier fingerprint of the plan that produced this entry. A
    // content-keyed entry's key embeds the input stats AT PUBLISH TIME,
    // so after an in-place input change [[invalidate]] can no longer
    // re-derive that key — the marker lets it find and evict every entry
    // of this plan by one directory scan instead.
    val planId = fingerprint(df, contentKeys = false).getBytes("UTF-8")
    var attempts = 0
    while (attempts < 3) {
      val tmp = child(cacheDir, s".tmp-$key-${java.util.UUID.randomUUID()}")
      try {
        df.write.parquet(tmp)
        onStep("staged")
        val parts = fs.listNames(tmp).filter(ArtifactIo.isDataFileName).sorted
        fs.createDirs(target)
        fs.writeAtomic(child(target, PlanIdFile), planId)
        parts.zipWithIndex.foreach { case (fn, i) =>
          fs.moveFile(child(tmp, fn), child(target, fn))
          onStep(s"moved-${i + 1}")
        }
        fs.writeAtomic(manifest, parts.mkString("\n").getBytes("UTF-8"))
        onStep("manifest")
      } catch {
        case e: java.io.IOException => discardTmp(cacheDir, tmp); throw e
      }
      discardTmp(cacheDir, tmp)
      // the current manifest may be a concurrent winner's — complete by
      // ITS moves, identical bytes — in which case we serve it
      intactManifest(cacheDir, target) match {
        case Some(names) => return names
        case None =>
          // Transient un-publish window, acknowledged: a CONCURRENT winner
          // that published between the check above and this delete is
          // briefly un-published until this loop re-publishes — benign
          // for a cache (a reader in the window misses and recomputes
          // identical bytes) and bounded by the attempts cap.
          try fs.delete(manifest) catch { case _: java.io.IOException => () }
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"plan cache: could not publish $target after $attempts attempts — a " +
        "concurrent invalidate loop is gutting this key's entries as fast as they publish")
  }
}
