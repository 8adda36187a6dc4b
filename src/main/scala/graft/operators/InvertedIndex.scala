package graft.operators

import org.apache.spark.sql.{DataFrame, graftbridge}
import org.apache.spark.sql.functions._

/** Inverted token index over a document corpus — the retrieval side of
  * curation recon: keyword search, contamination lookups ("which training
  * docs contain this eval phrase's tokens"), boilerplate investigation —
  * served from a materialized postings table instead of a full corpus
  * scan per probe.
  *
  * Scale shape: build is one explode + distinct-per-doc pass, written
  * once; every subsequent search is a FILTER ON THE TOKEN COLUMN of the
  * postings table — parquet row-group stats (or a token-bucketed layout
  * via [[graft.sources.Bucketing]] for repeated heavy use) prune to the
  * probed tokens, so a k-token query reads O(df(token)) postings, not
  * O(corpus) text. The AND-semantics group count shuffles only the
  * matching postings.
  */
object InvertedIndex {

  /** (token, doc_id) postings, one row per DISTINCT token per doc. */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("token"))
      .filter(length(col("token")) > 0)

  /** Materialize postings to `path` (the cross-run artifact) and reopen. */
  def materialize(docs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    build(docs, idCol, textCol).write.mode("overwrite").parquet(path)
    graftbridge.readParquet(docs.sparkSession, path)
  }

  /** Incremental maintenance: tokenize ONLY the new batch and append its
    * postings to the existing artifact — the index twin of the d10/d13
    * incremental-dedup shape (the corpus is never re-tokenized). Caller
    * contract: batch doc ids are new (run the batch through
    * [[Upsert.upsertByKey]] / dedup first), matching every append-only
    * postings store.
    *
    * Same hardening as [[appendScored]] (minus the sidecar the membership
    * layout doesn't have): the append runs under the per-path advisory
    * lock (two concurrent appends serialize instead of interleaving
    * commits) with the in-progress marker set for its duration — a crash
    * mid-append leaves the marker, [[appendInProgress]] turns true, and
    * index-maintaining consumers refuse loudly instead of serving (and
    * screening against) a partial batch.
    */
  def appendTo(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    appendGuarded(path) {
      build(docs, idCol, textCol).write.mode("append").parquet(path)
    }

  /** Doc ids containing ALL of `tokens` (AND search): filter postings to
    * the probe set, count distinct probe tokens per doc, keep full
    * matches.
    */
  def searchAll(postings: DataFrame, idCol: String, tokens: Seq[String]): DataFrame = {
    require(tokens.nonEmpty, "searchAll needs at least one token")
    val probe = tokens.distinct // duplicate probes must not raise the match bar
    postings.filter(col("token").isin(probe: _*))
      .groupBy(col(idCol))
      .agg(count_distinct(col("token")).as("__nt"))
      .filter(col("__nt") === probe.length)
      .select(col(idCol))
  }

  /** Batched AND-search: N probe sets from ONE pruned postings read —
    * [[searchAll]]'s serving-tier twin (the ii8/ii9 pattern on the
    * membership index). Returns (query_ix, idCol) rows, per-query
    * identical to N independent [[searchAll]] calls (spec-pinned and
    * ii10-gated). Each query's bar is ITS OWN distinct-token count
    * (carried in the broadcast probe map — duplicate probes within a
    * query must not raise it, the searchAll convention); one pruned
    * read + one broadcast join + one groupBy for all N queries.
    */
  def searchAllBatch(postings: DataFrame, idCol: String,
      queries: Seq[Seq[String]]): DataFrame = {
    require(queries.nonEmpty, "searchAllBatch needs at least one query")
    queries.zipWithIndex.foreach { case (q, i) =>
      require(q.nonEmpty, s"searchAllBatch: query $i has no tokens")
    }
    val spark = postings.sparkSession
    import spark.implicits._
    val probePairs = queries.zipWithIndex.flatMap { case (q, ix) =>
      val distinctQ = q.distinct
      distinctQ.map(t => (ix, t, distinctQ.length.toLong))
    }
    val probeMap = probePairs.toDF("query_ix", "token", "__nq")
    val unionTokens = probePairs.map(_._2).distinct
    postings.filter(col("token").isin(unionTokens: _*))
      .join(broadcast(probeMap), "token")
      .groupBy(col("query_ix"), col(idCol), col("__nq"))
      .agg(count_distinct(col("token")).as("__nt"))
      .filter(col("__nt") === col("__nq"))
      .select(col("query_ix"), col(idCol))
  }

  /** Positional postings (token, doc_id, pos) over the empty-filtered
    * token sequence — the phrase-query form of [[build]]. `pos` is the
    * 0-based index in the filtered sequence, so adjacency (`pos + 1`)
    * means "next word".
    */
  def buildPositional(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      posexplode(filter(split(col(textCol), " "), t => length(t) > 0))
        .as(Seq("pos", "token")))

  /** Materialize positional postings to `path` and reopen. */
  def materializePositional(docs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    buildPositional(docs, idCol, textCol).write.mode("overwrite").parquet(path)
    graftbridge.readParquet(docs.sparkSession, path)
  }

  /** Incremental maintenance for the POSITIONAL index — [[appendTo]]'s
    * twin for the phrase layout: tokenize ONLY the batch and append its
    * (doc, pos, token) rows (positions are per-doc, and a doc lives
    * wholly inside one batch, so the appended rows are exactly what a
    * full [[buildPositional]] rebuild would produce for those docs).
    * Same caller contract as [[appendTo]]: batch doc ids are new — and
    * same lock + crash-marker hardening (a crashed positional append must
    * not leave silently-partial phrase postings; see [[appendTo]]).
    */
  def appendPositional(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    appendGuarded(path) {
      buildPositional(docs, idCol, textCol).write.mode("append").parquet(path)
    }

  /** Lock + in-progress-marker envelope shared by the membership and
    * positional appends ([[appendScored]] inlines the same shape around
    * its sidecar dance): serialize on the per-path append lock, keep the
    * marker up while parquet commits, clear it only on success — or on a
    * PROVEN-CLEAN failure: a transient job failure whose committer
    * aborted without publishing any data file (the common case — a lost
    * executor, a cancelled stage) must not escalate into the
    * marker-tripwire's full-rebuild recovery, so the failure path
    * re-lists the data files (still under the lock) and clears the
    * marker when the set is UNCHANGED. Any uncertainty — new files
    * present (a partial commit: the tripwire's real target) or the
    * listing itself failing — conservatively leaves the marker up.
    */
  private def appendGuarded(path: String)(append: => Unit): Unit = {
    val io = artifactIo(path)
    io.createDirs(path)
    withAppendLock(path) {
      // a marker ALREADY up records an EARLIER crash (partial postings
      // may be visible) — this call's clean-failure path must never
      // erase that tripwire; only a SUCCESSFUL append is its recovery
      val markerWasUp = appendInProgress(path)
      val before = dataFileNames(io, path)
      io.touch(markerPath(path))
      try {
        append
        io.delete(markerPath(path))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (!markerWasUp) clearMarkerIfUncommitted(io, path, before)
          throw e
      }
    }
  }

  /** Data-file name set under `path` (markers/dot-files excluded) — the
    * before/after comparison [[appendGuarded]]/[[appendScored]]'s
    * clean-failure paths use.
    */
  private def dataFileNames(io: graft.sources.ArtifactIo, path: String): Set[String] =
    io.listNames(path).filter(graft.sources.ArtifactIo.isDataFileName).toSet

  /** Clear the in-progress marker after a failed append IFF no data file
    * landed (see [[appendGuarded]]); best-effort — a failure here leaves
    * the marker, never masks the append's own exception.
    */
  private def clearMarkerIfUncommitted(io: graft.sources.ArtifactIo, path: String,
      before: Set[String]): Unit =
    try { if (dataFileNames(io, path) == before) io.delete(markerPath(path)) }
    catch { case scala.util.control.NonFatal(_) => () }

  /** Doc ids containing the exact phrase — `phrase` tokens adjacent in
    * order. Each probe filters the postings to ONE token (O(df) rows
    * read), then adjacency folds as equi-joins on (doc, pos offset):
    * candidate count shrinks with every join, and the corpus text is
    * never touched.
    */
  def searchPhrase(postings: DataFrame, idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "searchPhrase needs at least one token")
    val first = postings.filter(col("token") === phrase.head)
      .select(col(idCol), col("pos"))
    phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (w, i)) =>
      acc.join(
        postings.filter(col("token") === w)
          .select(col(idCol).as("__id2"), (col("pos") - i).as("__p2")),
        col(idCol) === col("__id2") && col("pos") === col("__p2"))
        .select(col(idCol), col("pos"))
    }.select(col(idCol)).distinct()
  }

  /** Batched phrase search: N phrases served from ONE pruned positional-
    * postings read — [[searchBm25Batch]]'s twin for [[searchPhrase]].
    * Returns (query_ix, idCol) rows, per-query identical to N
    * independent [[searchPhrase]] calls (spec-pinned and ii9-gated).
    *
    * Formulation: instead of per-phrase adjacency join chains (k−1
    * joins each re-filtering the postings), every phrase explodes into
    * broadcast (query_ix, token, offset, plen) rows; a posting matching
    * (token, offset) votes for the phrase STARTING at
    * `anchor = pos − offset`, and an anchor where all `plen` distinct
    * offsets voted is a match (repeated tokens inside a phrase vote at
    * each of their offsets, and count_distinct(offset) keeps the bar at
    * plen — "red red" needs BOTH adjacent positions). Scale shape: one
    * postings read pruned to the union of all phrase tokens (the filter
    * reaches the parquet scan), one broadcast join, ONE groupBy on
    * (query_ix, doc, anchor) over the matched rows — O(Σ df) shuffled
    * once, vs the fold form's shuffle per phrase token.
    */
  def searchPhraseBatch(postings: DataFrame, idCol: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty, "searchPhraseBatch needs at least one phrase")
    phrases.zipWithIndex.foreach { case (p, i) =>
      require(p.nonEmpty, s"searchPhraseBatch: phrase $i has no tokens")
    }
    val spark = postings.sparkSession
    import spark.implicits._
    val probePairs = phrases.zipWithIndex.flatMap { case (p, ix) =>
      p.zipWithIndex.map { case (t, off) => (ix, t, off, p.length.toLong) }
    }
    val probeMap = probePairs.toDF("query_ix", "token", "offset", "plen")
    val unionTokens = probePairs.map(_._2).distinct
    postings.filter(col("token").isin(unionTokens: _*))
      .join(broadcast(probeMap), "token")
      .select(col("query_ix"), col(idCol),
        (col("pos") - col("offset")).as("__anchor"), col("offset"), col("plen"))
      .groupBy(col("query_ix"), col(idCol), col("__anchor"), col("plen"))
      .agg(count_distinct(col("offset")).as("__no"))
      .filter(col("__no") === col("plen"))
      .select(col("query_ix"), col(idCol)).distinct()
  }

  /** Scored postings: one row per (doc, token) with its term frequency
    * and the doc's token count — the ranking-ready index layout
    * ([[build]] keeps only membership). One explode + count pass; `dl`
    * is the size of the doc's filtered token array, computed BEFORE the
    * explode and carried through the tf shuffle as a grouping column, so
    * the artifact is self-contained (no corpus join at query time) and
    * the build pays ONE exchange (r19: the former `dl` window cost a
    * second full exchange + sort of the postings).
    *
    * Input contract: ONE ROW PER DOC ID (every caller here holds it —
    * `documents` keys on doc_id, and the append paths require new ids).
    * A corpus that repeats an id across rows gets one posting set per
    * ROW (each with its own row's `dl`); the pre-r19 window form instead
    * merged such rows into one pseudo-doc — incidental behavior no gate
    * or caller relied on, and arguably wrong (concatenating distinct
    * rows' token counts). Dedup upstream if ids can repeat.
    */
  def buildScored(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // dl (the doc's token count) is knowable BEFORE the explode — it is
    // the size of the filtered token array — so it rides the tf shuffle
    // as a grouping column (functionally dependent on the doc id) instead
    // of being recomputed afterwards by a window, which cost a second
    // exchange + sort of the whole postings set (r19 optimization round:
    // 2 Exchanges → 1, Window+Sort → none; values bit-identical — both
    // forms count the same non-empty tokens)
    scoredFrom(docs.select(col(idCol), tokens(textCol)), idCol)

  /** `__toks`: the doc's non-empty tokens. */
  private def tokens(textCol: String): org.apache.spark.sql.Column =
    filter(split(col(textCol), " "), t => length(t) > 0).as("__toks")

  /** [[buildScored]] from (idCol, `__toks`) rows. */
  private def scoredFrom(toks: DataFrame, idCol: String): DataFrame =
    toks.select(col(idCol), explode(col("__toks")).as("token"),
        size(col("__toks")).cast("long").as("dl"))
      .groupBy(col(idCol), col("token"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("token"), col("tf"), col("dl"))

  /** A doc's token count over `__toks` rows, null for a zero-token doc
    * (or a null text): those emit no postings, so [[corpusStats]] over a
    * rebuild never counts them.
    */
  private def positiveDl = when(size(col("__toks")) > 0, size(col("__toks")).cast("long"))
  private def docsAgg = count(positiveDl).as("n")
  private def toksAgg = coalesce(sum(positiveDl), lit(0L)).as("toks")

  /** Materialize scored postings to `path` and reopen. Also persists the
    * exact corpus totals as a sidecar ([[writeTotals]]) so a NEW session
    * attaching the artifact serves correct BM25 stats without the
    * O(index) [[corpusTotals]] pass — the cross-session closure of the
    * in-session [[appendScored]]/[[mergeTotals]] loop. The totals pass
    * here reads only the (id, dl) columns of the just-written parquet.
    */
  def materializeScored(docs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame = {
    buildScored(docs, idCol, textCol).write.mode("overwrite").parquet(path)
    val reopened = graftbridge.readParquet(docs.sparkSession, path)
    writeTotals(path, corpusTotals(reopened, idCol))
    reopened
  }

  /** Incremental maintenance for the SCORED index: tokenize ONLY the
    * batch and append its (doc, token, tf, dl) rows — [[appendTo]]'s twin
    * for the BM25 layout. `dl` is each batch doc's own token count (a doc
    * lives wholly inside one batch), so the appended rows are exactly
    * what a full [[buildScored]] rebuild would produce for those docs.
    * Returns the batch's stats delta (docs, tokens) so the caller folds
    * it into precomputed corpus totals with [[mergeTotals]] — the (N,
    * avgdl) update is observed on the postings write itself (no extra
    * scan), NEVER the O(index) [[corpusStats]] pass, and the updated
    * stats serve CORRECT scores
    * (stale (N, avgdl) after a plain append silently mis-ranks). Caller
    * contract as [[appendTo]]: batch doc ids are new, and appends to one
    * index path are SINGLE-WRITER (serialize them upstream — two
    * concurrent appends each fold only their own delta into the sidecar
    * and the last rename wins, silently missing the other's; the
    * versioned-table route, [[graft.sources.Snapshots]] feeding ii6's
    * composition, is the multi-writer-safe ingest path).
    */
  def appendScored(docs: DataFrame, idCol: String, textCol: String,
      path: String, priorTotals: Option[(Long, Long)] = None): (Long, Long) = {
    val io = artifactIo(path)
    io.createDirs(path)
    // The whole append (prior read → postings append → totals rewrite)
    // runs under the store's append lock (scheme-less: an OS advisory
    // lock on a persistent inode, never deleted — delete-by-name reclaim
    // is a TOCTOU that can steal a live holder's lock, and a crashed
    // holder's OS lock auto-releases; scheme'd stores: a create-exclusive
    // lock FILE whose crashed holder needs the operator cleanup named in
    // the timeout message — see ArtifactIo). Two concurrent appends to
    // one index path SERIALIZE instead of each folding only its own
    // delta into the sidecar with the last rename silently winning (the
    // documented single-writer hazard, made safe). A wedged holder fails
    // THIS caller loudly after the bounded wait.
    // CAVEAT: a caller passing `priorTotals` asserts it knows the exact
    // prior — two such callers racing still serialize, but the loser's
    // captured prior is stale and its totals wrong; only the
    // sidecar-read path (priorTotals = None) is multi-writer exact.
    withAppendLock(path) {
      // prior totals BEFORE the append: the caller's exact value when
      // supplied (skips a read/heal a caller who just ran corpusTotals
      // would duplicate), else the sidecar, else an O(index) heal for an
      // artifact written before sidecars existed; the sidecar is removed
      // for the duration of the append so a crash between the postings
      // write and the totals rewrite leaves NO sidecar — the next attach
      // recomputes exactly instead of silently serving stale (N, avgdl)
      val prior = priorTotals.orElse(readTotals(path)).getOrElse {
        if (hasDataFiles(path)) corpusTotals(graftbridge.readParquet(docs.sparkSession, path), idCol)
        else (0L, 0L)
      }
      // in-progress marker for the append window: an attachScored racing
      // this append must not HEAL-PERSIST a sidecar computed from
      // partially committed postings — if this appender then crashed
      // before its writeTotals, that healed sidecar would violate the
      // "crash leaves NO sidecar" invariant and serve stale totals
      // forever. Dot-prefixed (parquet listings skip it); removed after
      // the totals rewrite; a crashed append leaves it behind, which
      // only suppresses heal-persists (attaches still compute exact
      // totals) until the next successful append clears it.
      // same proven-clean failure recovery as [[appendGuarded]], plus the
      // sidecar: a no-commit failure restores the prior totals it deleted
      // (the index content is unchanged, so the prior is still exact) —
      // a transient error must not cost the artifact its sidecar AND its
      // marker cleanliness when nothing actually changed. GUARDED on the
      // marker having been DOWN at entry: a pre-existing marker records
      // an earlier crash (this call's `prior` may be a heal computed
      // over that crash's partial postings — persisting it would violate
      // the crash-leaves-NO-sidecar invariant, and clearing the marker
      // would erase the tripwire IndexIngest refuses on); only a
      // successful append is that state's recovery.
      val markerWasUp = appendInProgress(path)
      val before = dataFileNames(io, path)
      io.touch(markerPath(path))
      io.delete(totalsPath(path))
      try {
        // the batch totals ride the postings write as an Observation on
        // the tokenized docs (no second job over the batch); an empty
        // batch can be optimized to no scan at all, which reports no
        // metrics row, and only then are the totals counted by a job
        val obs = org.apache.spark.sql.Observation()
        scoredFrom(docs.select(col(idCol), tokens(textCol)).observe(obs, docsAgg, toksAgg), idCol)
          .write.mode("append").parquet(path)
        val observed = obs.get
        val delta =
          if (observed.isEmpty) batchTotals(docs, textCol)
          else (observed("n").asInstanceOf[Long], observed("toks").asInstanceOf[Long])
        writeTotals(path, mergeTotals(prior, delta))
        io.delete(markerPath(path))
        delta
      } catch {
        case scala.util.control.NonFatal(e) =>
          try {
            if (!markerWasUp && dataFileNames(io, path) == before) {
              writeTotals(path, prior)
              io.delete(markerPath(path))
            }
          } catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    }
  }

  /** In-progress append marker, shared by all three index layouts (see
    * [[appendScored]]/[[appendGuarded]] — one marker so one
    * [[appendInProgress]] check covers whichever layout a consumer
    * maintains).
    */
  private[operators] val AppendMarkerFile = "._graft_bm25_appending"

  /** The store-appropriate I/O primitives for `path` — local `java.nio`
    * for scheme-less paths (the historical byte-identical behavior),
    * Hadoop `FileSystem` for rename-atomic scheme'd stores, loud
    * rejection otherwise ([[graft.sources.ArtifactIo.forPath]]).
    */
  private def artifactIo(path: String): graft.sources.ArtifactIo =
    graft.sources.ArtifactIo.forPath(path)

  /** Child-path join as a plain string suffix (scheme-safe) — the one
    * [[graft.sources.ArtifactIo.child]] copy.
    */
  private def childPath(dir: String, name: String): String =
    graft.sources.ArtifactIo.child(dir, name)

  private def markerPath(path: String): String = childPath(path, AppendMarkerFile)

  private def totalsPath(path: String): String = childPath(path, TotalsFile)

  /** Whether an append is (or died) in flight on `path` —
    * `private[graft]` so [[graft.streaming.IndexIngest]] can refuse
    * LOUDLY to ingest over a crashed append (partial postings for the
    * dying batch's docs may be visible; its id screen would otherwise
    * silently drop those docs forever — see IndexIngest's crash
    * contract).
    */
  private[graft] def appendInProgress(path: String): Boolean =
    artifactIo(path).exists(markerPath(path))

  /** Bounded wait for the append lock: appends are batch-sized jobs, so
    * minutes of contention means a wedged holder — fail loudly instead of
    * hanging every writer in the fleet behind it.
    */
  private val AppendLockTimeoutMs = 600 * 1000L

  /** The append lock's inode (see [[appendScored]]/[[withAppendLock]]). */
  private def appendLockPath(path: String): String =
    childPath(path, "._graft_totals.lock")

  /** Run `body` holding the index's append lock (see [[appendScored]]). */
  private def withAppendLock[A](path: String)(body: => A): A =
    artifactIo(path).withLock(
      appendLockPath(path), AppendLockTimeoutMs,
      "index append",
      "another appender is wedged holding it (on a scheme-less path also check " +
        "that the filesystem honors advisory FileLocks — some NFS mounts do not; " +
        "route multi-writer ingest through graft.sources.Snapshots instead)")(body)

  /** Reopen a scored index artifact AND its persisted exact stats — the
    * new-session entry point. Reads the totals sidecar when present; an
    * artifact missing it (older build, or a crash mid-append) is healed
    * with one exact [[corpusTotals]] pass whose result is persisted, so
    * only the first attach pays O(index). Healing is idempotent under
    * concurrent attaches (same exact value, atomic sidecar rename).
    */
  def attachScored(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): (DataFrame, (Long, Double)) = {
    val scored = graftbridge.readParquet(spark, path)
    val totals = readTotals(path).getOrElse {
      val t = corpusTotals(scored, idCol)
      // best-effort persist: a read-only mount (a consumer attaching a
      // shared artifact it cannot write — opening the lock file throws
      // there) must still get the computed stats; the next writable
      // attach heals the sidecar instead. The persist runs under a
      // NON-BLOCKING grab of the append lock with BOTH conditions
      // re-checked inside it: the unlocked marker check alone was a
      // TOCTOU — an append could run END TO END during this attach's
      // corpusTotals job, after which persisting `t` (computed from
      // pre-append postings) would overwrite the append's fresh sidecar
      // with stale totals forever; and an append STARTING mid-persist
      // could crash and orphan this sidecar, violating "crash leaves NO
      // sidecar". Under the lock no append is mid-flight, a leftover
      // marker means one crashed (skip — the next append heals), and a
      // present sidecar is FRESHER than t (skip). tryLock, not a wait:
      // a live appender supersedes this heal anyway.
      if (!appendInProgress(path)) {
        try artifactIo(path).tryWithLock(appendLockPath(path)) {
          if (!appendInProgress(path) && readTotals(path).isEmpty) writeTotals(path, t)
        }: Unit
        catch { case _: java.io.IOException | _: SecurityException => () }
      }
      t
    }
    (scored, statsOf(totals))
  }

  /** Sidecar filename for the persisted corpus totals — `_`-prefixed so
    * parquet directory listings skip it (the `_SUCCESS` convention).
    */
  private[operators] val TotalsFile = "_graft_bm25_totals"

  /** Persist exact integer (docs, tokens) totals as a sidecar inside the
    * index directory, atomically (temp + rename — a reader never sees a
    * torn write). Store-aware via [[graft.sources.ArtifactIo]]: local
    * paths keep the `java.nio` ATOMIC_MOVE behavior; rename-atomic
    * scheme'd stores (`hdfs://`, `abfss://`, …) go through Hadoop
    * `FileContext`; rename-by-copy stores are rejected loudly at entry.
    */
  def writeTotals(path: String, totals: (Long, Long)): Unit = {
    val io = artifactIo(path)
    io.createDirs(path)
    io.writeAtomic(totalsPath(path),
      s"${totals._1} ${totals._2}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read the persisted totals sidecar; None when absent OR unparseable
    * (pre-sidecar artifact, interrupted append, or a corrupt/truncated
    * file — callers heal via [[corpusTotals]]). A corrupt sidecar must
    * degrade exactly like a MISSING one: the old require/NumberFormat
    * throw made every attach/append on the index fail until the file was
    * deleted by hand, while a missing sidecar self-healed — same safe
    * outcome, so same behavior.
    */
  def readTotals(path: String): Option[(Long, Long)] =
    artifactIo(path).readBytes(totalsPath(path)).flatMap { bytes =>
      val parts =
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.split(" ")
      try {
        if (parts.length != 2) None else Some((parts(0).toLong, parts(1).toLong))
      } catch { case _: NumberFormatException => None }
    }

  /** Whether `path` holds any data files (non-`_`/`.`-prefixed) — the
    * "does an index already live here" probe [[appendScored]] uses to
    * decide between healing totals and starting from zero (through
    * [[graft.sources.ArtifactIo]], so the probe works on every supported
    * store).
    */
  private def hasDataFiles(path: String): Boolean =
    artifactIo(path).hasDataFiles(path)

  /** A batch's exact (docs, total tokens) — one batch-sized scan, the
    * delta [[mergeTotals]] folds into corpus totals ([[appendScored]]
    * observes the same aggregates on its postings write instead).
    */
  private def batchTotals(docs: DataFrame, textCol: String): (Long, Long) = {
    val row = docs.select(tokens(textCol)).agg(docsAgg, toksAgg).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Exact integer corpus totals (docs, tokens) from a scored postings
    * table — the form of [[corpusStats]] that stays EXACT under
    * incremental maintenance: compute once at build time, then fold each
    * [[appendScored]] delta in with [[mergeTotals]] (integer adds — no
    * accumulated float drift across appends) and derive (N, avgdl) via
    * [[statsOf]] at query time.
    */
  def corpusTotals(scored: DataFrame, idCol: String): (Long, Long) = {
    val row = scored.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("toks"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Fold an [[appendScored]] batch delta into corpus totals. */
  def mergeTotals(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (a._1 + b._1, a._2 + b._2)

  /** (N, avgdl) from exact totals — bit-identical to [[corpusStats]] on
    * the same table (integer-valued doubles sum exactly below 2^53, and
    * both forms perform the same final division), so append-then-merge
    * serves the same scores as rebuild-then-recompute.
    */
  def statsOf(totals: (Long, Long)): (Long, Double) = {
    require(totals._1 > 0, s"statsOf: empty corpus (docs=${totals._1})")
    (totals._1, totals._2.toDouble / totals._1)
  }

  /** Corpus-level BM25 statistics (doc count, average doc length) from a
    * scored postings table — compute ONCE per index build/append and
    * reuse across searches (it is the only full-postings pass in the
    * ranking path); the 1-row driver collect is the intended boundary.
    * Under incremental maintenance prefer [[corpusTotals]] +
    * [[mergeTotals]]: same numbers, no per-append postings pass.
    */
  def corpusStats(scored: DataFrame, idCol: String): (Long, Double) = {
    val row = scored.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      .head()
    (row.getLong(0), row.getDouble(1))
  }

  /** Top-k docs by BM25 for an OR-query over `tokens` — real ranked
    * retrieval off the scored postings ([[searchAll]] is the unranked
    * AND filter). Standard BM25 with the +1 idf floor (idf =
    * ln((N - df + 0.5)/(df + 0.5) + 1), always positive):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Scale shape: the probe filter prunes the postings read to
    * O(Σ df(token)) rows; df comes from a count over the token window of
    * that pruned set (postings are unique per (doc, token), so the row
    * count IS the document frequency); one groupBy on the doc key sums
    * the per-token contributions; corpus stats arrive precomputed (or
    * are computed here once when omitted). Scores are rounded to 6
    * decimals BEFORE ranking with a doc-id tiebreak, so the top-k cut is
    * deterministic and oracle-replayable (the t6/f3 ln-parity pattern).
    */
  def searchBm25(scored: DataFrame, idCol: String, tokens: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      stats: Option[(Long, Double)] = None): DataFrame = {
    require(tokens.nonEmpty, "searchBm25 needs at least one token")
    require(topK > 0, s"topK must be positive, got $topK")
    val (nDocs, avgDl) = stats.getOrElse(corpusStats(scored, idCol))
    val (matched, contrib) = bm25Contrib(scored, tokens.distinct, nDocs, avgDl, k1, b)
    matched.groupBy(col(idCol))
      .agg(round(sum(contrib), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** ONE copy of the BM25 scoring arithmetic — the pruned+df-windowed
    * postings frame and each matched row's idf·tf-saturation
    * contribution — shared by [[searchBm25]] and [[searchBm25Batch]] so
    * the batch form's "same arithmetic" contract is true by
    * construction, never by parallel maintenance of two expression
    * blocks. df comes from a count over the token window of the pruned
    * set (postings are unique per (doc, token), so per-token row count
    * IS document frequency regardless of which probe set pruned).
    */
  private def bm25Contrib(scored: DataFrame, probe: Seq[String],
      nDocs: Long, avgDl: Double, k1: Double, b: Double)
      : (DataFrame, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.expressions.Window
    val matched = scored.filter(col("token").isin(probe: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))).cast("double"))
    val idf = log((lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val tfNorm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgDl))
    (matched, idf * tfNorm)
  }

  /** Batched BM25: serve N probe sets from ONE pruned postings read —
    * the high-QPS serving tier over the standing scored index (a
    * per-query [[searchBm25]] loop pays N separate postings reads whose
    * fixed scan/filter cost dominates once queries arrive faster than
    * single-digit QPS; SCALING.md's batched-retrieval gap). Returns
    * (query_ix, idCol, score) — per-query rows identical to N
    * independent [[searchBm25]] calls (pinned by spec and by the ii8
    * oracle): same idf/tf-saturation arithmetic, same round-to-6-before-
    * rank, same (score desc, id asc) deterministic cut.
    *
    * Scale shape: the postings read is pruned to the UNION of all probe
    * tokens (cost ∝ Σ df over DISTINCT probed tokens — sub-linear vs N
    * separate reads whenever queries share tokens, and one scan's fixed
    * cost regardless); df per token comes from a count over the token
    * window of that union-pruned set BEFORE the query join (postings are
    * unique per (doc, token), so per-token row count = document
    * frequency no matter which queries probe it — joining first would
    * double-count tokens shared across queries); the (query_ix, token)
    * probe map is a broadcast join (N·tokens rows — driver-sized by
    * construction); per-query scoring is one groupBy over the matched
    * rows; the final top-k is a row_number window per query_ix — the
    * sort covers only CANDIDATE rows (Σ df, never corpus), partitioned
    * across queries.
    */
  def searchBm25Batch(scored: DataFrame, idCol: String, queries: Seq[Seq[String]],
      topK: Int, k1: Double = 1.2, b: Double = 0.75,
      stats: Option[(Long, Double)] = None): DataFrame = {
    require(queries.nonEmpty, "searchBm25Batch needs at least one query")
    queries.zipWithIndex.foreach { case (q, i) =>
      require(q.nonEmpty, s"searchBm25Batch: query $i has no tokens")
    }
    require(topK > 0, s"topK must be positive, got $topK")
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val (nDocs, avgDl) = stats.getOrElse(corpusStats(scored, idCol))
    // per-query distinct (duplicate probes must not raise a token's
    // contribution — the searchBm25 convention), union-distinct for the
    // one pruned read
    val probePairs = queries.zipWithIndex.flatMap { case (q, i) =>
      q.distinct.map(t => (i, t))
    }
    val probeMap = probePairs.toDF("query_ix", "token")
    // ONE shared arithmetic block with searchBm25 (bm25Contrib); df is
    // windowed over the union-pruned set BEFORE the query join — joining
    // first would double-count tokens shared across queries
    val (matched, contrib) = bm25Contrib(
      scored, probePairs.map(_._2).distinct, nDocs, avgDl, k1, b)
    matched.join(broadcast(probeMap), "token")
      .groupBy(col("query_ix"), col(idCol))
      .agg(round(sum(contrib), 6).as("score"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_ix"))
          .orderBy(col("score").desc, col(idCol).asc)))
      .filter(col("__rn") <= topK)
      .select(col("query_ix"), col(idCol), col("score"))
  }

  /** Top-k tokens by document frequency (tiebreak token asc) — the
    * deterministic probe-selection helper the ii1 gate uses. Driver
    * collect of k rows is the intended boundary.
    */
  def topTokensByDf(postings: DataFrame, k: Int): Seq[String] =
    postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(k)
      .collect()
      .map(_.getString(0))
      .toSeq

  /** The corpus's top document-frequency n-gram (ties broken gram asc),
    * split into its tokens — the deterministic phrase-probe selector
    * SHARED by the ii2 gate and the bench steady-state twin, so probe
    * selection cannot silently de-synchronize between the gate's
    * semantics and the steady-state measurement. Driver collect of one
    * row is the intended boundary; fails loudly on a corpus with no
    * n-token document instead of a bare ArrayIndexOutOfBounds.
    */
  def topGramByDf(docs: DataFrame, textCol: String, n: Int): Seq[String] =
    topGramsByDf(docs, textCol, n, 1).head

  /** The k-gram generalization of [[topGramByDf]] (ONE ranking shared by
    * the gates and the probe harness, so multi-phrase probe selection
    * cannot de-synchronize either): the corpus's top-k doc-frequency
    * n-grams in rank order, each split into its tokens. Driver collect
    * of k rows is the intended boundary.
    */
  def topGramsByDf(docs: DataFrame, textCol: String, n: Int, k: Int): Seq[Seq[String]] = {
    require(k > 0, s"topGramsByDf needs k > 0, got $k")
    val rows = docs
      .select(explode(graft.functions.TextFunctions.tokenGramCounts(col(textCol), n))
        .as(Seq("g", "cd")))
      .groupBy("g").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("g").asc)
      .limit(k).collect()
    require(rows.nonEmpty,
      s"topGramsByDf: no document holds an $n-token gram (empty or too-short corpus)")
    rows.map(_.getString(0).split(" ").toSeq).toSeq
  }

  /** Convenience: build-or-attach via the cross-session plan cache. */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      cacheDir: String): DataFrame =
    graft.sources.PlanCache.readThrough(build(docs, idCol, textCol), cacheDir)
}
