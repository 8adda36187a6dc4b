package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}

/** Versioned dataset snapshots — the reproducibility contract a
  * training pipeline needs: every corpus revision (daily upsert, dedup
  * pass, filter change) commits as an immutable version, and a training
  * run pins the exact version it read, so the run is replayable after
  * the corpus moves on. Immutable versions, pinned reads, exactly-once
  * tagged appends, rollback and a changed-data feed, built on ONE
  * store primitive: an atomic conditional PUT
  * ([[ArtifactIo.tryPutIfAbsent]]) plus whole-object writes and a
  * strongly-consistent listing. Every store class the table can live
  * on has it: local paths (temp write + `link(2)`, EEXIST-atomic),
  * HDFS-family stores (temp write + no-replace namespace rename) and
  * object stores declared under
  * [[ArtifactIo.ConditionalPutExtraSchemesKey]] (S3 `If-None-Match: *`
  * since November 2024, GCS `x-goog-if-generation-match: 0`, Azure Blob
  * `If-None-Match: *`) — resolved by [[ArtifactIo.forSnapshotPath]].
  *
  * == The log IS the pointer ==
  *
  * Version N is committed if and only if the commit RECORD `_log/N`
  * exists, and that record is created by a single conditional PUT —
  * the compare-and-swap. Claim and publish are the SAME atomic
  * operation, so the protocol has no in-between states:
  *
  *  - no claimed-but-unpublished orphan versions → no roll-forward /
  *    re-classify machinery, no publish markers;
  *  - no pointer lock → no crashed-holder runbook;
  *  - no tag-rescan watermark: the idempotence check and the commit CAS
  *    are linearized by the log slot itself (a replayed batch's loser
  *    CAS fails, and its next loop iteration finds the winner's tag in
  *    the chain).
  *
  * A committer stages data under a UNIQUELY-NAMED `d-<uuid>/` directory
  * (never renamed — the name is born final; Spark's committer renames
  * inside it are single-writer-private, the same argument as
  * [[PlanCache]]'s object-store staging), reads the current latest L
  * from one `_log` listing, then conditional-PUTs `_log/L+1` naming its
  * data. Exactly one racing committer wins slot L+1; losers re-read and
  * retry against the new base — livelock-free (every CAS loss implies
  * another commit's win). A crash at ANY point leaves either a fully
  * committed version or an unreferenced `d-*` directory that [[vacuum]]
  * reclaims after a grace period; there is no state in between.
  *
  * Commit records are immutable and carry the version's FULL file
  * listing: its own files plus a one-level-flattened carry list — every
  * append costs O(batch) data + O(file names) metadata, never a table
  * copy, on every store. Reads resolve the record to explicit leaf
  * files — a loser's orphan data directory is never touched by any
  * read.
  *
  * Scale shape at 100 TB: one conditional PUT + one listing per commit
  * (the listing is only a starting hint — a stale list costs a retry,
  * never correctness); reads open exactly the files one record names;
  * [[readChanges]] scans O(delta bytes). Version-count growth is
  * bounded by the compact-then-retain rhythm ([[compact]] is a
  * [[commitIfLatest]] with `dataChange = false`; [[retainLast]] +
  * [[vacuum]] reclaim records and bytes), explicit, never implicit.
  *
  * Legacy layout: a directory holding the retired rename protocol's
  * `_latest` pointer and `v=N/` directories, with no commit log, is
  * refused loudly by every entry point — committing there would start a
  * fresh `_log/1` and silently drop the old rows from every read. The
  * check is one `exists`, made only while the table's log is empty.
  *
  * Proven against [[ConditionalPutMockFs]] (`mock3c:` — rename REALLY
  * copy+delete, create-exclusive REALLY atomic-at-close): gate tv6 runs
  * the full lifecycle under the DuckDB hash; CasSnapshotsSpec races 4
  * committers on the CAS and replays tagged batches; tv1–tv5 and
  * SnapshotsSpec run the same protocol on local and `file:` tables.
  * Reference analog: the reference's cloud store was never shipped
  * (`storage.fs:83-86`, `#if LINK_TO_AZURE`).
  */
object Snapshots {

  private def io(tableDir: String): ArtifactIo = ArtifactIo.forSnapshotPath(tableDir)

  private def child(dir: String, names: String*): String =
    ArtifactIo.child(dir, names: _*)

  private val LogDir = "_log"

  /** What a version did to the table — the [[readChanges]] contract:
    * `append` contributes its own files as the delta; `maintenance`
    * (a `dataChange = false` rewrite, e.g. compaction) contributes
    * nothing; `replace` breaks the additions chain by design.
    */
  private final case class Record(kind: String, dir: String, base: Int,
      tag: Option[String], own: Seq[String], carry: Seq[String])

  private val Header = "graft-cas-snapshot-v1"

  /** One whole-object commit record. Text lines, not JSON: every field
    * is a name or an int, and newline-separated prefixed lines are the
    * house manifest idiom ([[PlanCache]]'s `_graft_files`).
    */
  private def renderRecord(r: Record): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("kind:").append(r.kind).append('\n')
    sb.append("dir:").append(r.dir).append('\n')
    sb.append("base:").append(r.base).append('\n')
    r.tag.foreach { t =>
      require(!t.contains('\n'), s"snapshot tag must be single-line, got: $t")
      sb.append("tag:").append(t).append('\n')
    }
    r.own.foreach(f => sb.append("own:").append(f).append('\n'))
    r.carry.foreach(f => sb.append("carry:").append(f).append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def parseRecord(bytes: Array[Byte], where: String): Record = {
    val lines = new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
    require(lines.headOption.contains(Header),
      s"snapshots: $where is not a commit record (bad header) — " +
        "foreign files under _log/ corrupt the version sequence")
    def field(p: String): Option[String] =
      lines.collectFirst { case l if l.startsWith(p) => l.stripPrefix(p) }
    def list(p: String): Seq[String] =
      lines.filter(_.startsWith(p)).map(_.stripPrefix(p))
    Record(
      kind = field("kind:").getOrElse(sys.error(s"$where: missing kind")),
      dir = field("dir:").getOrElse(sys.error(s"$where: missing dir")),
      base = field("base:").map(_.toInt).getOrElse(sys.error(s"$where: missing base")),
      tag = field("tag:"),
      own = list("own:"),
      carry = list("carry:"))
  }

  private def recordPath(tableDir: String, v: Int): String =
    child(tableDir, LogDir, v.toString)

  private def readRecord(tableDir: String, v: Int): Option[Record] =
    io(tableDir).readBytes(recordPath(tableDir, v))
      .map(parseRecord(_, s"_log/$v of $tableDir"))

  private def requireRecord(tableDir: String, v: Int): Record =
    readRecord(tableDir, v).getOrElse {
      requireNoForeignLayout(tableDir)
      throw new IllegalArgumentException(
        s"snapshots: no committed version $v under $tableDir " +
          "(never committed, or dropped by retention)")
    }

  /** The committed versions — one strongly-consistent `_log` listing.
    * An EMPTY log is the one moment a foreign layout can be in play (a
    * table's first commit or read), so only then does it pay the
    * [[requireNoForeignLayout]] probe.
    */
  private def logVersions(tableDir: String): Seq[Int] = {
    val vs = io(tableDir).listNames(child(tableDir, LogDir)).flatMap(_.toIntOption)
    if (vs.isEmpty) requireNoForeignLayout(tableDir)
    vs
  }

  /** Refuse a directory whose rows this protocol cannot see — read as an
    * empty table it would hide them, and a first commit would bury them
    * under a `_log/1` naming only the new batch:
    *  - the retired rename protocol's layout (`_latest` pointer + `v=N/`
    *    data, no log);
    *  - plain parquet: data FILES at the top level. `d-*` directories
    *    are not counted — a crashed first commit leaves those.
    * One listing of `tableDir`.
    */
  private def requireNoForeignLayout(tableDir: String): Unit = {
    val top = io(tableDir).listEntries(tableDir)
    if (top.exists(_._1 == "_latest"))
      throw new IllegalStateException(
        s"snapshots: $tableDir holds a legacy rename-protocol table (a `_latest` " +
          "pointer over `v=N/` directories) and no `_log/` commit log — this protocol " +
          "neither reads nor extends that layout, and committing here would silently " +
          "drop its rows from every read. Re-commit its latest `v=N/` directory " +
          "(plain parquet) into a new table path with Snapshots.commit.")
    top.collectFirst { case (n, false, _) if ArtifactIo.isDataFileName(n) => n }
      .foreach { n =>
        throw new IllegalStateException(
          s"snapshots: $tableDir holds plain parquet data files ($n, …) and no `_log/` " +
            "commit log — a commit here would create a version naming only the new " +
            "batch, and every read would silently hide the existing rows. Commit the " +
            "existing data into a new table path with Snapshots.commit, or use an " +
            "empty directory.")
      }
  }

  /** Highest committed version, if any. Correctness never leans on
    * freshness: a stale listing only makes a committer's CAS lose and
    * retry.
    */
  def latestVersion(tableDir: String): Option[Int] = {
    val vs = logVersions(tableDir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Version-relative leaf files of `v` (own + carried), table-relative. */
  private def resolvedFiles(rec: Record): Seq[String] =
    rec.own.map(f => s"${rec.dir}/$f") ++ rec.carry

  /** Stage `df` as parquet under a born-final uniquely-named data dir;
    * returns (dirName, ownDataFiles). The writer's internal renames are
    * private to this committer — nothing else knows the name until a
    * commit record references it.
    */
  private def stage(df: DataFrame, tableDir: String): (String, Seq[String]) = {
    val fs = io(tableDir)
    val logDir = child(tableDir, LogDir)
    // a table's first commit: refuse a foreign layout before writing into it
    if (!fs.isDirectory(logDir)) { requireNoForeignLayout(tableDir); fs.createDirs(logDir) }
    val dirName = s"d-${java.util.UUID.randomUUID()}"
    df.write.parquet(child(tableDir, dirName))
    val own = fs.listNames(child(tableDir, dirName))
      .filter(ArtifactIo.isDataFileName).sorted
    require(own.nonEmpty,
      s"snapshots: parquet write under $tableDir/$dirName committed no data files")
    (dirName, own)
  }

  /** Commit `df` as the next version — a logical REPLACE of the table
    * (the additions feed breaks here by design). Returns the version.
    */
  def commit(df: DataFrame, tableDir: String): Int = {
    val (dirName, own) = stage(df, tableDir)
    val fs = io(tableDir)
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      val base = latestVersion(tableDir).getOrElse(0)
      val rec = Record("replace", dirName, base, None, own, Seq.empty)
      if (fs.tryPutIfAbsent(recordPath(tableDir, base + 1), renderRecord(rec)))
        committed = Some(base + 1)
      // lost CAS: another commit took the slot — re-read and retry; the
      // staged data dir is reusable as-is (its name was never contested)
    }
    committed.get
  }

  /** Commit `df` as the next version ONLY IF the latest is still
    * `expectedBase` — the read-modify-write guard, and here the CAS is
    * LITERAL: one conditional PUT at slot `expectedBase + 1`; a taken
    * slot means a commit moved the table first, the staged data is
    * discarded and None returned (re-read the new base and retry).
    * `dataChange = false` is the maintenance-commit marker (compaction:
    * same rows, fewer files) — [[readChanges]] walks through it with an
    * empty delta.
    */
  def commitIfLatest(df: DataFrame, tableDir: String, expectedBase: Int,
      dataChange: Boolean = true): Option[Int] = {
    // fail CLOSED on an above-latest expectedBase: the CAS alone would
    // fail OPEN there — _log/expectedBase+1 is a FREE slot, so a stale
    // caller would publish into it and punch a hole in the version
    // sequence (requireRecord on every chain walk then throws, and
    // taggedVersionFrom reads the hole as retention — replays would
    // re-append). Below-latest stays the CAS's job (slot taken → None).
    require(latestVersion(tableDir).getOrElse(0) >= expectedBase,
      s"commitIfLatest: expectedBase=$expectedBase is above the latest version of " +
        s"$tableDir — no such base was ever committed")
    val (dirName, own) = stage(df, tableDir)
    val kind = if (dataChange) "replace" else "maintenance"
    val rec = Record(kind, dirName, expectedBase, None, own, Seq.empty)
    if (io(tableDir).tryPutIfAbsent(recordPath(tableDir, expectedBase + 1),
        renderRecord(rec)))
      Some(expectedBase + 1)
    else {
      io(tableDir).deleteTree(child(tableDir, dirName))
      None
    }
  }

  /** Append-commit: next version = latest's files (carried by NAME, one
    * flattened manifest level — O(batch) data, zero copies) + `df`'s
    * rows. `tag` is the exactly-once idempotence handle (a streaming
    * sink passes `batch-<id>`): a replay finds the tag in the published
    * chain and returns the committed version without writing. There is
    * NO orphan window to classify — a tagged version either won its CAS
    * (it is in the log, fully published) or left nothing but an
    * unreferenced data dir; the in-loop chain scan plus the slot CAS
    * linearize every replay-vs-commit race.
    */
  def commitAppend(df: DataFrame, tableDir: String, tag: Option[String] = None): Int =
    commitAppendHooked(df, tableDir, tag, () => ())

  /** [[commitAppend]] with a TEST SEAM: `afterTagScan` runs between each
    * iteration's tag chain scan and its slot CAS — after staging, before
    * the `_log/N` PUT. CasSnapshotsSpec drives a peer's same-tag commit
    * inside that window deterministically: the pinned-base ordering
    * makes the peer take OUR slot (failing our CAS into a rescan that
    * finds its tag), where a fresh-latest-scan ordering would have CASed
    * the next free slot and landed the batch twice. SnapshotsSpec throws
    * from it to crash a committer between staging and publish.
    * Production callers use [[commitAppend]]; the hook must not touch
    * the table through this same call.
    */
  private[graft] def commitAppendHooked(df: DataFrame, tableDir: String,
      tag: Option[String], afterTagScan: () => Unit): Int = {
    val fs = io(tableDir)
    // replay fast-path BEFORE staging: a redelivered batch that is
    // already in the chain must not pay a parquet write just to discard it
    val pre = tag.flatMap(taggedVersion(tableDir, _))
    if (pre.isDefined) return pre.get
    var checkedBase = latestVersion(tableDir).getOrElse(0)
    requireSameColumns(df, tableDir, checkedBase)
    val (dirName, own) = stage(df, tableDir)
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      // PIN the base FIRST, then re-scan the tag FROM that base, then
      // CAS base+1 — in that order, every iteration. The ordering is
      // what linearizes replay-vs-commit: every tag committed at or
      // below the pinned base is seen by this scan, and a peer
      // committing the same tag AFTER the base read must take slot
      // base+1 (slots are always latest+1), which makes OUR CAS at
      // base+1 fail and the next iteration's scan see it. Scanning from
      // a FRESH latest instead (the pre-fix shape) loses exactly that
      // race: peer wins base+1 with the tag between our scan and our
      // base read, we CAS the now-free base+2, and the batch's rows
      // land twice — once carried from the peer's version, once as our
      // own files.
      val base = latestVersion(tableDir).getOrElse(0)
      if (base != checkedBase) {
        // a commit moved the table since the check: its columns may differ
        try requireSameColumns(df, tableDir, base)
        catch { case e: IllegalArgumentException =>
          fs.deleteTree(child(tableDir, dirName)); throw e }
        checkedBase = base
      }
      val replayed = tag.flatMap(taggedVersionFrom(tableDir, _, base))
      afterTagScan()
      replayed match {
        case Some(v0) =>
          fs.deleteTree(child(tableDir, dirName))
          committed = Some(v0)
        case None =>
          val carry =
            if (base == 0) Seq.empty
            else {
              val b = requireRecord(tableDir, base)
              resolvedFiles(b)
            }
          val rec = Record("append", dirName, base, tag, own, carry)
          if (fs.tryPutIfAbsent(recordPath(tableDir, base + 1), renderRecord(rec)))
            committed = Some(base + 1)
      }
    }
    committed.get
  }

  /** Refuse an append whose columns differ from version `base`'s, by
    * (name, type) and ignoring nullability (parquet writes every column
    * nullable). The appended version carries `base`'s files next to the
    * batch's, and a read takes ONE file's schema — whichever record file
    * sorts first, so the random `d-<uuid>` names would decide it — so a
    * differing batch would silently lose its extra column, or read the
    * old rows' values (or its own) as nulls. A replace ([[commit]]) may
    * change the schema. The base schema is one footer read: no Spark
    * job, and no stat of the base's other files.
    */
  private def requireSameColumns(df: DataFrame, tableDir: String, base: Int): Unit =
    if (base > 0) {
      def cols(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => f.name -> f.dataType).toMap
      val want = cols(graftbridge.parquetSchema(df.sparkSession,
        recordPaths(tableDir, requireRecord(tableDir, base)): _*))
      val got = cols(df.schema)
      def show(names: Iterable[String], c: Map[String, org.apache.spark.sql.types.DataType]) =
        names.toSeq.sorted.map(n => s"$n: ${c(n).simpleString}").mkString(", ")
      val extra = got.keySet -- want.keySet
      val missing = want.keySet -- got.keySet
      val retyped = (got.keySet & want.keySet).toSeq.sorted
        .filterNot(n => graftbridge.sameTypeIgnoringNullability(got(n), want(n)))
      if (extra.nonEmpty || missing.nonEmpty || retyped.nonEmpty)
        throw new IllegalArgumentException(
          s"snapshots: commitAppend to $tableDir: the batch's columns differ from " +
            s"v=$base's (extra: [${show(extra, got)}]; missing: [${show(missing, want)}]; " +
            s"retyped: [${retyped.map(n => s"$n: ${want(n).simpleString} -> " +
              got(n).simpleString).mkString(", ")}]) — an append carries v=$base's " +
            "files, and a read takes one file's schema, so the batch would lose " +
            "columns or read as nulls; re-shape the batch, or commit a replace " +
            "(Snapshots.commit) to change the schema")
    }

  /** Roll the table back to `version`'s content by publishing a NEW
    * version — the lakehouse RESTORE verb, and on this protocol it is
    * pure metadata: the rollback record carries `version`'s resolved
    * file list by NAME (own = empty, carry = the restored set), so the
    * restore is ONE conditional PUT with zero data movement. History
    * stays immutable and the log only grows; CAS-looped like
    * [[commitAppend]], so a commit racing the rollback is never
    * shadowed. No-op (returns `version`) when already latest. There is
    * no unpublished-orphan guard to need: a version with a log record IS
    * published, by construction.
    *
    * [[readChanges]] across a rollback fails loudly (the interval's
    * change is not expressible as additions); a tagged batch committed
    * BEFORE the rollback still resolves on replay (the chain walk
    * continues through rollback records).
    */
  def rollbackTo(tableDir: String, version: Int): Int = {
    val restored = requireRecord(tableDir, version)
    val fs = io(tableDir)
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      val base = latestVersion(tableDir).getOrElse(0)
      require(base >= version,
        s"rollbackTo: v=$version is above the latest ($base) of $tableDir")
      if (base == version) return version
      val rec = Record("rollback", restored.dir, base, None,
        Seq.empty, resolvedFiles(restored))
      if (fs.tryPutIfAbsent(recordPath(tableDir, base + 1), renderRecord(rec)))
        committed = Some(base + 1)
    }
    committed.get
  }

  /** The chain version carrying idempotence tag `t`, if any: walk the
    * base edges down from latest (O(chain) record reads — the
    * compaction/retention-bounded class). Only CHAIN members count — a
    * full [[commit]] replaced the table, so a batch committed before it
    * is not part of the new state and legitimately re-appends (the walk
    * CONTINUES through rollback records, which restore content without
    * cutting history). The walk stops at a retention-dropped record:
    * below it, nothing can be current state either.
    */
  def taggedVersion(tableDir: String, t: String): Option[Int] =
    taggedVersionFrom(tableDir, t, latestVersion(tableDir).getOrElse(0))

  /** [[taggedVersion]] walking down from a CALLER-PINNED head version —
    * the commit loop's form: pinning the head before the scan (and
    * CASing head+1 after it) is what closes the scan-vs-commit race;
    * see the [[commitAppend]] loop comment.
    */
  private def taggedVersionFrom(tableDir: String, t: String, from: Int): Option[Int] = {
    var cur = Option(from).filter(_ > 0)
    while (cur.exists(_ > 0)) {
      readRecord(tableDir, cur.get) match {
        case None => return None // retention dropped the record — chain ends
        case Some(rec) =>
          if (rec.tag.contains(t)) return cur
          // a replace commits NEW table state: older tags are not in it
          if (rec.kind == "replace") return None
          cur = Some(rec.base).filter(_ > 0)
      }
    }
    None
  }

  /** Read a pinned version (or the latest) — always explicit leaf
    * files resolved from the immutable commit record; a lost
    * committer's orphan directory is unreachable by construction.
    * Opening it runs no Spark job: the schema is one driver-side footer
    * read of the record's first file ([[graftbridge.readParquet]]).
    */
  def read(spark: SparkSession, tableDir: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalArgumentException(s"no committed version under $tableDir"))
    graftbridge.readParquet(spark, recordPaths(tableDir, requireRecord(tableDir, v)): _*)
  }

  private def recordPaths(tableDir: String, rec: Record): Seq[String] =
    resolvedFiles(rec).map(child(tableDir, _))

  /** The rows ADDED in `(fromVersion, toVersion]` — the changed-data
    * feed, walking base edges and unioning each append's own files
    * (maintenance steps contribute nothing; a replace/rollback in the
    * interval fails loudly — the change is not expressible as
    * additions, re-baseline from a full read). A downstream incremental
    * pass (dedup sketch update, index append, drift check) scans
    * O(delta bytes), never the table.
    */
  def readChanges(spark: SparkSession, tableDir: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val latest = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $tableDir"))
    val to = toVersion.getOrElse(latest)
    require(to >= 1 && to <= latest,
      s"readChanges: toVersion must be a committed version in [1, $latest], got $to")
    require(fromVersion >= 1 && fromVersion <= to,
      s"readChanges: fromVersion must be in [1, $to], got $fromVersion")
    val delta = scala.collection.mutable.ArrayBuffer[String]()
    var cur = to
    while (cur > fromVersion) {
      val rec = readRecord(tableDir, cur).getOrElse(throw new IllegalStateException(
        s"readChanges: _log/$cur of $tableDir is gone (retention dropped it) while " +
          s"a feed still crossed it — re-baseline from a full version read"))
      rec.kind match {
        case "append" => rec.own.foreach(f => delta += child(tableDir, rec.dir, f))
        case "maintenance" => () // same rows as its base — empty delta
        case kind => throw new IllegalStateException(
          s"readChanges: v=$cur of $tableDir is a $kind commit, which carries no " +
            "delta manifest — the " +
            s"[$fromVersion, $to] change is not expressible as additions; " +
            "re-baseline by reading the full version instead")
      }
      cur = rec.base
      if (cur == 0) throw new IllegalStateException(
        s"readChanges: the base chain of $tableDir ended before v=$fromVersion — " +
          "changes since a non-ancestor are undefined")
    }
    if (cur != fromVersion) throw new IllegalStateException(
      s"readChanges: v=$fromVersion is not in v=$to's base chain of $tableDir " +
        s"(the walk reached v=$cur) — changes since a non-ancestor are undefined")
    if (delta.isEmpty) read(spark, tableDir, Some(to)).limit(0)
    else graftbridge.readParquet(spark, delta.toSeq: _*)
  }

  /** (data-file count, total bytes) of `v`'s RESOLVED file set — one
    * listing per distinct source data dir (compaction accounting; cp2
    * prices its before-state with it).
    */
  private[graft] def resolvedStats(tableDir: String, v: Int): (Int, Long) = {
    val rels = resolvedFiles(requireRecord(tableDir, v))
    val bytes = rels.groupBy(_.split('/').head).iterator.map { case (d, entries) =>
      val names = entries.map(_.split('/').last).toSet
      io(tableDir).listEntries(child(tableDir, d)).collect {
        case (fn, false, size) if names.contains(fn) => size
      }.sum
    }.sum
    (rels.length, bytes)
  }

  /** Carried-name count of version `v`'s record (0 = self-contained):
    * each append's record writes O(this count) names, the cost the
    * compact-every-K rhythm reclaims.
    */
  private[graft] def carriedFileCount(tableDir: String, v: Int): Int =
    requireRecord(tableDir, v).carry.length

  /** Compact the latest version toward `targetBytes`-sized files: read
    * the resolved set, rewrite self-contained, publish as a
    * `dataChange = false` maintenance version through the literal CAS
    * ([[commitIfLatest]] — a commit racing the rewrite wins and the
    * compaction re-reads and retries). [[readChanges]] walks through the
    * result with an empty delta; after it, [[retainLast]] + [[vacuum]]
    * can reclaim the chain it re-based. Returns (version, data-file count); the
    * already-compact fast path returns the current version untouched
    * UNLESS its record still carries inherited files (the rewrite then
    * IS the re-base that frees them for reclaim).
    */
  def compact(spark: SparkSession, tableDir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    var attempts = 0
    while (attempts < 5) {
      val v = latestVersion(tableDir).getOrElse(throw new IllegalArgumentException(
        s"no committed version under $tableDir"))
      val rec = requireRecord(tableDir, v)
      val (cnt, bytes) = resolvedStats(tableDir, v)
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (cnt <= n && rec.carry.isEmpty) return (v, cnt)
      commitIfLatest(read(spark, tableDir, Some(v)).coalesce(n), tableDir, v,
          dataChange = false) match {
        case Some(newV) => return (newV, requireRecord(tableDir, newV).own.length)
        case None => attempts += 1 // base moved — re-read and retry
      }
    }
    throw new IllegalStateException(
      s"compact: lost the publish race $attempts times under concurrent commits on $tableDir")
  }

  /** Retention: delete commit records strictly below `latest − keep + 1`
    * (returns the dropped versions, ascending). Records only — bytes are
    * reclaimed by [[vacuum]], which keeps every data dir a SURVIVING
    * record still references (its own dir or any dir its carry list
    * reaches into), so dropping an old record never breaks a surviving
    * version's reads. A pinned reader of a dropped version fails its
    * next read and a feed crossing the floor fails loudly — run
    * retention behind the slowest consumer, as any CDC deployment does.
    */
  def retainLast(tableDir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"retainLast: keep must be >= 1, got $keep")
    val vs = logVersions(tableDir)
    if (vs.isEmpty) Seq.empty
    else vs.filter(_ < vs.max - keep + 1).sorted
      .map { v => io(tableDir).delete(recordPath(tableDir, v)); v }
  }

  /** Reclaim data directories no surviving commit record references —
    * crashed committers' stages and retention-dropped versions' bytes.
    * `graceMs` protects in-flight commits (a committer stages BEFORE its
    * CAS; liveness is judged by the newest mtime in the tree, so a
    * long-running healthy write is never swept). Returns the deleted
    * directory names. Explicit, never implicit.
    */
  def vacuum(tableDir: String, graceMs: Long = 6 * 60 * 60 * 1000L): Seq[String] = {
    val fs = io(tableDir)
    val referenced: Set[String] =
      logVersions(tableDir).flatMap(v => readRecord(tableDir, v))
        .flatMap(rec => rec.dir +: rec.carry.map(_.split('/').head))
        .toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(dir: String): Long =
      (fs.mtimeMs(dir).getOrElse(0L) +:
        fs.listEntries(dir).map { case (n, isDir, _) =>
          val p = child(dir, n)
          if (isDir) newestMtime(p) else fs.mtimeMs(p).getOrElse(0L)
        }).max
    fs.listNames(tableDir)
      .filter(n => n.startsWith("d-") && !referenced.contains(n))
      .filter(n => newestMtime(child(tableDir, n)) < cutoff)
      .map { n => fs.deleteTree(child(tableDir, n)); n }
  }
}
