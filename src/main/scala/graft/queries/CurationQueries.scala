package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokenCount
import graft.operators.{Decontaminate, Dedup, Packing, QualityFilters, Redact, Sampling, Sharding, TfIdf, Upsert}

/** Corpus-curation queries: deterministic sampling, sequence packing,
  * boilerplate removal, TF-IDF — the data-prep stages between dedup and
  * training that the LLM-pipeline brief calls for.
  */
object CurationQueries {

  private val SampleSeed = 42L
  /** mix1: per-source character budget (sources at sf0.01 hold 6-9k chars). */
  private val MixBudget = 5000L
  /** f2 keep thresholds, centered on the corpus medians so the decision splits. */
  private val MaxDup = 0.55
  private val MaxTopWord = 0.11
  private val MaxTopBigram = 0.05
  /** Per-language resampling rates for s2 (rebalance toward the tail). */
  private val StratRates = Seq("en" -> 0.05, "de" -> 0.25, "es" -> 0.5, "fr" -> 0.75, "zh" -> 1.0)
  private val PackCapacity = 128L

  /** s5: temperature-sampling target size (~30% of the sf0.01 corpus). */
  private val TempTarget = 150L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic 10% sample: splitmix64(doc_id) bucket < 100k/1M.
    // Consistent sampling — the keep set is a pure function of
    // (id, seed, rate), replayed hash-exactly by the oracle.
    "s1_hash_sample" -> { (s, dir) =>
      Sampling.hashSample(Tables.load(s, dir, "documents"), "doc_id", 0.1, SampleSeed)
        .select(col("doc_id"), col("lang"), col("source"))
    },

    // Stratified resampling: per-language rates over the same hash
    // (downsample the dominant language, keep the tail) — the corpus
    // rebalancing step of a multilingual training mix.
    "s2_stratified_sample" -> { (s, dir) =>
      Sampling.stratifiedHashSample(Tables.load(s, dir, "documents"), "doc_id", "lang",
        StratRates, defaultRate = 0.0, seed = SampleSeed)
        .select(col("doc_id"), col("lang"))
    },

    // Dataset snapshot versioning — the reproducibility contract: the
    // corpus commits as v1, mg1's upsert commits as v2, and BOTH
    // versions are read back PINNED (not latest) and aggregated with a
    // version tag. Immutable versions, each published by one
    // conditional PUT of its `_log/N` record; a v2 commit that touched
    // v1's files, or a pinned read that resolved to the wrong version,
    // shifts a v1 row and fails the hash.
    "tv1_snapshot_versions" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = QueryTmp.dir("snap") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs, table)
      val revised = docs.filter(col("doc_id") % 10 === 7)
        .withColumn("text", concat(col("text"), lit(" v2")))
      val fresh = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val v2 = Snapshots.commit(
        Upsert.upsertByKey(docs, revised.unionByName(fresh), "doc_id"), table)
      def agg(df: DataFrame, v: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("version", lit(v))
      agg(Snapshots.read(s, table, Some(v1)), 1)
        .unionByName(agg(Snapshots.read(s, table, Some(v2)), 2))
        .select(col("version"), col("lang"), col("n"), col("chars"), col("id_sum"))
    },

    // Snapshot ROLLBACK (the lakehouse RESTORE verb): corpus commits v1,
    // a bad filter commits v2, rollbackTo(v1) publishes v3 whose record
    // names v1's files — zero data movement, history immutable. The gate
    // reads the LATEST (must be the restored v1 content, version-tagged
    // with the latest version read back — a rollback that failed to
    // publish tags 2 and fails the hash) and v2 PINNED (rollback must
    // not touch intermediate history).
    "tv2_snapshot_rollback" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = QueryTmp.dir("snaprb") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs, table)
      val v2 = Snapshots.commit(docs.filter(col("doc_id") % 3 =!= 0), table)
      Snapshots.rollbackTo(table, v1)
      def agg(df: DataFrame, v: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("version", lit(v))
      agg(Snapshots.read(s, table), Snapshots.latestVersion(table).get)
        .unionByName(agg(Snapshots.read(s, table, Some(v2)), v2))
        .select(col("version"), col("lang"), col("n"), col("chars"), col("id_sum"))
    },

    // Incremental changed-data feed (readChanges): corpus commits v1, two
    // batches APPEND, with a content-preserving compaction
    // (dataChange = false) between them. The feed walks the records'
    // base chain and reads ONLY each append's own files — O(delta
    // bytes) scanned, never the table. since=1 must be exactly batch2 + batch3:
    // the compaction step contributes an EMPTY delta (a maintenance
    // rewrite replayed into the feed would double every carried row and
    // fail the hash). since=2 consumes from the compaction version
    // itself — batch3 alone.
    "tv3_snapshot_changes" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = QueryTmp.dir("snapcdc") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs, table)
      Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L), table)
      val (vc, _) = Snapshots.compact(s, table, targetBytes = 1L << 30)
      Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 20000000L), table)
      def agg(df: DataFrame, since: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("since", lit(since))
      agg(Snapshots.readChanges(s, table, v1), 1)
        .unionByName(agg(Snapshots.readChanges(s, table, vc), 2))
        .select(col("since"), col("lang"), col("n"), col("chars"), col("id_sum"))
    },

    // Snapshots on the FileSystem-abstracted store (ii12's lakehouse
    // twin): the tv3 composition — commit, tagged-append, a
    // dataChange=false compaction between two appends, readChanges
    // from both baselines — with the tableDir on a file:-scheme'd path,
    // so every Snapshots primitive (staging, the `_log/N` conditional
    // PUT, record reads, the CDF chain walk, compaction byte
    // accounting) runs through HadoopArtifactIo instead of java.nio.
    // Same full-replay oracle as tv3: the store must be invisible.
    "tv4_fs_snapshots" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = "file:" + QueryTmp.dir("snapfs") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs, table)
      Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L), table, tag = Some("batch-1")): Unit
      val (vc, _) = Snapshots.compact(s, table, targetBytes = 1L << 30)
      Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 20000000L), table, tag = Some("batch-2")): Unit
      def agg(df: DataFrame, since: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("since", lit(since))
      agg(Snapshots.readChanges(s, table, v1), 1)
        .unionByName(agg(Snapshots.readChanges(s, table, vc), 2))
        .select(col("since"), col("lang"), col("n"), col("chars"), col("id_sum"))
    },

    // Carried-by-name appends (O(batch) on any store): the tv4
    // composition on a file:-scheme'd table — each append writes ONLY
    // its batch, and its commit record names the inherited files;
    // compaction resolves the record (re-basing the chain
    // self-contained) and the CDF feed walks through it with an empty
    // delta. Three oracle legs: the since-v1 feed, the since-compaction
    // feed, and a PINNED READ of the carrying version itself (read must
    // resolve own + carried files exactly — a dropped carried file, a
    // double-resolved fragment, or a record that missed the base's own
    // files all fail the hash).
    "tv5_manifest_appends" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = "file:" + QueryTmp.dir("snapman") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs, table)
      val v2 = Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L), table)
      val (vc, _) = Snapshots.compact(s, table, targetBytes = 1L << 30)
      Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 20000000L), table): Unit
      def agg(df: DataFrame, since: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("since", lit(since))
      agg(Snapshots.readChanges(s, table, v1), 1)
        .unionByName(agg(Snapshots.readChanges(s, table, vc), 2))
        .unionByName(agg(Snapshots.read(s, table, Some(v2)), 3))
        .select(col("since"), col("lang"), col("n"), col("chars"), col("id_sum"))
    },

    // SNAPSHOTS ON A CONDITIONAL-PUT OBJECT STORE (the CAS admission
    // proof, the pc1 playbook): the tv5 composition — replace commit,
    // tagged carried-by-name append, a dataChange=false maintenance
    // rewrite (compaction shape, CAS-guarded by commitIfLatest), a
    // second tagged append, both CDF feeds, and a pinned read of the
    // carrying version — run against `mock3c:` (graft.sources
    // .ConditionalPutMockFs), a store whose rename REALLY is copy+delete
    // and whose ONLY extra primitive over mock3a is an If-None-Match PUT
    // verdict-atomic at close. The log-is-the-pointer protocol (each
    // commit = ONE conditional PUT of _log/N; claim and publish the same
    // atomic op — no locks, no orphan roll-forward) must serve the
    // identical feed as on the local and file: stores. Two contract
    // booleans ride along: a REPLAYED tagged batch returns its committed
    // version without writing (exactly-once by CAS-linearized tag scan),
    // and the version sequence is contiguous 1..4 (the log slots ARE the
    // versions). Rename/lock-dependent families keep rejecting this
    // store — ArtifactIoSpec/CasSnapshotsSpec pin that side.
    "tv6_cas_object_store" -> { (s, dir) =>
      import graft.sources.{ArtifactIo, ConditionalPutMockFs, Snapshots}
      val hc = s.sparkContext.hadoopConfiguration
      hc.set("fs.mock3c.impl", classOf[ConditionalPutMockFs].getName)
      ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3c")
      ArtifactIo.addExtraScheme(hc, ArtifactIo.ConditionalPutExtraSchemesKey, "mock3c")
      val table = "mock3c:" + QueryTmp.dir("cassnap") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      def batch1 = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val v1 = Snapshots.commit(docs, table)
      val v2 = Snapshots.commitAppend(batch1, table, tag = Some("batch-1"))
      val replayV = Snapshots.commitAppend(batch1, table, tag = Some("batch-1"))
      val vc = Snapshots.commitIfLatest(Snapshots.read(s, table), table,
        expectedBase = v2, dataChange = false).get
      val v4 = Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 7)
        .withColumn("doc_id", col("doc_id") + 20000000L), table, tag = Some("batch-2"))
      def agg(df: DataFrame, since: Int) = df.groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
        .withColumn("since", lit(since))
      agg(Snapshots.readChanges(s, table, v1), 1)
        .unionByName(agg(Snapshots.readChanges(s, table, vc), 2))
        .unionByName(agg(Snapshots.read(s, table, Some(v2)), 3))
        .withColumn("replay_idempotent", lit(replayV == v2))
        .withColumn("contiguous", lit(v1 == 1 && v2 == 2 && vc == 3 && v4 == 4))
        .select(col("since"), col("lang"), col("n"), col("chars"), col("id_sum"),
          col("replay_idempotent"), col("contiguous"))
    },

    // Data-quality admission checks (the dbt-test / expectations niche):
    // key uniqueness, null bound, referential integrity, value range,
    // and row-count floor over the warehouse tables, one (check_name,
    // metric, ok) row each. Scan checks against the SAME table fuse into
    // ONE multi-aggregate pass (checkTable) — one scan per checked table,
    // not one per check; only the FK check genuinely joins two tables
    // (parent key set rides an AQE-broadcast left join). The oracle
    // replays each aggregate.
    "dq1_quality_checks" -> { (s, dir) =>
      import graft.operators.Expect
      val orders = Tables.load(s, dir, "orders")
      val lineitem = Tables.load(s, dir, "lineitem")
      val docs = Tables.load(s, dir, "documents")
      Expect.suite(Seq(
        Expect.checkTable(orders, Seq(Expect.UniqueKey("o_orderkey"))),
        Expect.checkTable(docs,
          Seq(Expect.NotNull("text"), Expect.RowCountAtLeast(1))),
        Expect.foreignKey(lineitem, "l_orderkey", orders, "o_orderkey"),
        Expect.checkTable(lineitem,
          Seq(Expect.InRange("l_quantity", 1.0, 50.0)))))
    },

    // Distribution-drift monitor: Jensen-Shannon divergence between
    // unigram token distributions of two slice pairs — the
    // deterministic train/eval split (expect near-zero: the splitmix
    // hash is language-blind) and en-vs-de (expect large: disjoint
    // vocabularies). Each side is the f3 vocab pass (narrow tokenCounts
    // map + vocab-sized agg); nothing corpus-sized shuffles. The oracle
    // replays the split, the vocab join, and the JS arithmetic in ln
    // parity (round-4, the f3 precedent).
    "dr1_corpus_drift" -> { (s, dir) =>
      import graft.operators.Drift
      val docs = Tables.load(s, dir, "documents")
      val (train, eval) = Sampling.trainEvalSplit(docs, "doc_id", 0.2, SampleSeed)
      val split = Drift.tokenJsDivergence(train, eval, "text")
        .withColumn("pair", lit("train_vs_eval"))
      val langs = Drift.tokenJsDivergence(
        docs.filter(col("lang") === "en"), docs.filter(col("lang") === "de"), "text")
        .withColumn("pair", lit("en_vs_de"))
      split.unionByName(langs)
        .select(col("pair"), col("n_tokens_a"), col("n_tokens_b"), col("js_nats"))
    },

    // Ingest-time drift off the CHANGED-DATA FEED: the corpus (minus de)
    // commits as the baseline, a de-only batch appends, and the monitor
    // compares the pinned baseline against `readChanges` — the
    // per-ingest-batch distribution check a continuously-fed corpus runs,
    // scanning only the delta on the feed side. The oracle replays both
    // slices from the source corpus, so the snapshot plumbing (pin +
    // the append record's delta) sits under the hash.
    "dr2_feed_drift" -> { (s, dir) =>
      import graft.operators.Drift
      import graft.sources.Snapshots
      val table = QueryTmp.dir("snapdrift") + "/docs"
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val v1 = Snapshots.commit(docs.filter(col("lang") =!= "de"), table)
      Snapshots.commitAppend(docs.filter(col("lang") === "de"), table)
      Drift.tokenJsDivergence(
        Snapshots.read(s, table, Some(v1)), Snapshots.readChanges(s, table, v1), "text")
        .withColumn("pair", lit("v1_vs_delta"))
        .select(col("pair"), col("n_tokens_a"), col("n_tokens_b"), col("js_nats"))
    },

    // EXACTLY-k deterministic sample per group (fixed-size eval slices /
    // per-domain quotas): k smallest splitmix64(doc_id) per language,
    // doc-id tiebreak — a hard size guarantee rate sampling can't give,
    // via the bounded CollectTopK heap (≤ k rows per (partition, group)
    // cross the shuffle; a window row_number would sort every row). The
    // oracle replays the hash chain and the (bucket, doc_id) order.
    "s4_reservoir_per_group" -> { (s, dir) =>
      Sampling.reservoirPerGroup(Tables.load(s, dir, "documents"),
        "doc_id", "lang", 5, SampleSeed)
    },

    // Keyed corpus upsert (MERGE): a batch of revisions (doc_id % 10 = 7,
    // text amended) plus inserts (shifted ids) merged into the snapshot —
    // replaced rows take the batch version, others survive, new keys
    // insert. Per-lang counts + char/id sums pin all three outcomes: a
    // doc kept twice shifts n, a missed replacement shifts chars, a lost
    // insert shifts id_sum.
    "mg1_corpus_upsert" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val revised = docs.filter(col("doc_id") % 10 === 7)
        .withColumn("text", concat(col("text"), lit(" v2")))
      val fresh = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val merged = Upsert.upsertByKey(docs, revised.unionByName(fresh), "doc_id")
      merged.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        sum(col("doc_id")).as("id_sum"))
    },

    // mg1's 100 TB tier: the same upsert through the Bloom-pruned path —
    // corpus rows that cannot match the batch (codegen might_contain
    // false) bypass the anti-join entirely; candidates are exactly
    // re-checked, so the result is identical to mg1 and lands under the
    // same oracle. A Bloom that wrongly excluded a replacement (false
    // negative — impossible by construction) or a pass-through that
    // leaked a replaced row shifts chars/n and fails the hash.
    "mg2_corpus_upsert_bloom" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val revised = docs.filter(col("doc_id") % 10 === 7)
        .withColumn("text", concat(col("text"), lit(" v2")))
      val fresh = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val merged = Upsert.upsertByKeyBloom(docs, revised.unionByName(fresh), "doc_id")
      merged.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        sum(col("doc_id")).as("id_sum"))
    },

    // Composite-key upsert: real corpora key on (source, doc_id), not a
    // single column. The batch carries BOTH a true revision (same
    // composite key, amended text — must replace) and a cross-source
    // probe (same doc_id, FLIPPED source — a single-column join would
    // wrongly replace; the composite key makes it an insert). Runs
    // through the Bloom tier so the composite xxhash64 probe is gated
    // too; per-(lang, source) counts + char/id sums pin every outcome.
    "mg3_composite_upsert" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("source",
          when(col("doc_id") % 2 === 0, lit("web")).otherwise(lit("book")))
      val revised = docs.filter(col("doc_id") % 10 === 7)
        .withColumn("text", concat(col("text"), lit(" v2")))
      val crossSrc = docs.filter(col("doc_id") % 10 === 3)
        .withColumn("source",
          when(col("source") === "web", lit("book")).otherwise(lit("web")))
        .withColumn("text", concat(col("text"), lit(" alt")))
      val merged = Upsert.upsertByKeyBloom(
        docs, revised.unionByName(crossSrc), Seq("source", "doc_id"))
      merged.groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        sum(col("doc_id")).as("id_sum"))
    },

    // Deterministic train/eval split: disjoint, complete, and stable
    // under corpus growth (a doc's side never changes as rows arrive) —
    // the hash property d9's decontamination assumes.
    "s3_train_eval_split" -> { (s, dir) =>
      val (train, eval) = Sampling.trainEvalSplit(
        Tables.load(s, dir, "documents"), "doc_id", 0.2, SampleSeed)
      train.select(col("doc_id"), lit("train").as("split"))
        .unionByName(eval.select(col("doc_id"), lit("eval").as("split")))
    },

    // Deterministic training-order shuffle + shard export: the corpus is
    // dealt into 4 shard directories in a replayable pseudorandom order
    // (shard and pos are pure functions of (doc_id, seed)), written
    // partitioned and read back — so the gate covers assignment, the
    // one-exchange order window, AND the shard=K/ layout roundtrip. The
    // oracle replays the splitmix64 chain, the mod-4 deal, and the
    // (bucket, doc_id) rank; a row in the wrong shard, out of order, or
    // lost in the write fails the hash.
    "sh1_shard_export" -> { (s, dir) =>
      val out = QueryTmp.dir("shards")
      Sharding.writeShards(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", 4, out, SampleSeed)
      graftbridge.readParquet(s, out).select(col("doc_id"), col("lang"),
        col("shard").cast("int").as("shard"), col("pos"))
    },

    // GLOBAL sequence packing: one corpus-wide stream (no shard key) via
    // the two-phase prefix sum — range partition, per-partition window,
    // P-row driver offset merge. The single-window formulation would put
    // the whole corpus in one task.
    "p2_pack_global" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      Packing.packChunksGlobal(docs, "doc_id", "n_tokens", PackCapacity)
    },

    // Concat-and-chunk sequence packing into 128-token context windows,
    // one packing stream per source shard: each doc tagged with the
    // chunk (bin) and token offset where it starts.
    "p1_pack_chunks" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
      Packing.packChunks(docs, "source", "doc_id", "n_tokens", PackCapacity)
    },

    // Cross-document boilerplate removal: tokens/lines present in more
    // than half the corpus stripped from every document (CCNet-style;
    // the test corpus is single-line so the "line" unit is the token —
    // multi-line behavior is spec'd in CurationSpec).
    "d8_boilerplate_removal" -> { (s, dir) =>
      Dedup.removeRepeatedLines(Tables.load(s, dir, "documents"), "doc_id", "text",
        delim = " ", maxDocFrac = 0.5)
    },

    // TF-IDF top-3 terms per document (keyword extraction).
    "t6_tfidf_topterms" -> { (s, dir) =>
      TfIdf.tfidfTopTerms(Tables.load(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // Eval-set decontamination report: training docs (lang <> 'zh')
    // sharing any word 8-gram with the held-out eval set (the zh slice
    // stands in for a benchmark), with distinct shared-gram counts.
    "d9_decontaminate" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.contaminationReport(
        docs.filter(col("lang") =!= "zh"), docs.filter(col("lang") === "zh"),
        "doc_id", "text", n = 8)
    },

    // EVAL-side contamination audit (d9's flip): per benchmark example,
    // the fraction of its distinct 8-grams found anywhere in training —
    // the published dirty-fraction metric. Every eval doc reports (short
    // docs as n_grams 0 / NULL fraction); the oracle replays grams,
    // dedup, probe join, and the rounded division.
    "d16_eval_contamination" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.evalContamination(
        docs.filter(col("lang") =!= "zh"), docs.filter(col("lang") === "zh"),
        "doc_id", "text", n = 8)
    },

    // PII redaction: emails → phones → IPv4 scrubbed in rule order, with
    // a per-row redaction count. The synthetic corpus has no natural PII,
    // so the query composes realistic contact strings from customer
    // columns (both engines build the identical string) — the operator
    // under test is the sequential regex scrub itself.
    "f1_pii_redact" -> { (s, dir) =>
      val contact = concat(
        lit("contact user"), col("c_custkey").cast("string"),
        lit("@"), lower(col("c_mktsegment")), lit(".org or +1-"),
        (col("c_nationkey") + 100).cast("string"), lit("-555-"),
        lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("c_nationkey") % 256).cast("string"),
        lit("."), (col("c_custkey") % 256).cast("string"), lit(".1 re "),
        col("c_mktsegment"))
      Redact.redact(
        Tables.load(s, dir, "customer").select(col("c_custkey"), contact.as("contact")),
        "contact")
        .select(col("c_custkey"), col("redacted"), col("n_redacted"))
    },

    // Gopher-style repetition quality: duplicate-word fraction, top-word
    // and top-bigram mass, mean word length, and the keep decision.
    "f2_repetition_quality" -> { (s, dir) =>
      QualityFilters.repetitionStats(Tables.load(s, dir, "documents"), "doc_id", "text")
        .withColumn("keep",
          QualityFilters.keepDecision(MaxDup, MaxTopWord, MaxTopBigram).cast("int"))
    },

    // Within-doc repeated-segment removal: each doc keeps the FIRST
    // occurrence of every segment, order preserved — single narrow pass
    // (the corpus is single-line, so the segment unit is the token, as
    // in d8; multi-segment behavior is spec'd in TextDedupSpec).
    "d11_withindoc_dedup" -> { (s, dir) =>
      val d = graft.functions.TextFunctions.dedupSegments(col("text"))
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        d.getField("clean").as("clean_text"),
        d.getField("n_dropped").as("n_dropped"))
    },

    // Cross-document shared SPANS (the exact-substring dedup granularity
    // of Lee et al. — boilerplate/template passages doc-level d1-d7 and
    // within-doc d11 both miss): 8-token sliding windows explode, equal
    // windows meet in one groupBy, spans in 2+ docs emerge with their
    // doc/occurrence counts. Exact (string-keyed) mode so the oracle
    // replays the window slicing verbatim; the hashed scale mode is
    // spec'd equivalent in TextDedupSpec.
    "d14_shared_spans" -> { (s, dir) =>
      graft.operators.Dedup.sharedSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text", window = 8, minDocs = 2)
    },

    // Perplexity-style quality: per-doc average unigram log-prob under a
    // corpus-trained LM — docs with unusual vocabulary score low.
    "f3_unigram_logprob" -> { (s, dir) =>
      QualityFilters.unigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    // Mixture sampling (data mixing): per-source rates computed FROM the
    // data (char budget / source total, floor'd in double), then the
    // deterministic splitmix64 keep — the source-rebalancing step of a
    // training mix where the rates themselves are data-dependent.
    "mix1_mixture_sample" -> { (s, dir) =>
      Sampling.mixtureSample(Tables.load(s, dir, "documents"), "doc_id", "source",
        "n_chars", MixBudget, SampleSeed)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },

    // Temperature-weighted mixture sampling (the multilingual-training
    // rebalancing rule q_g ∝ p_g^alpha at alpha = 0.5, the replay-exact
    // sqrt operating point): per-language rates computed FROM the corpus
    // shares via integer-quantized weights, then the deterministic
    // splitmix64 keep. The oracle replays the count → weight → threshold
    // arithmetic AND the hash, so the data-dependent rates themselves
    // sit under the driver hash (the mix1 pattern with a cross-stratum
    // weight sum, made order-free by the integer quantization).
    "s5_temperature_sample" -> { (s, dir) =>
      Sampling.temperatureSample(Tables.load(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, targetSize = TempTarget, seed = SampleSeed)
        .select(col("doc_id"), col("lang"))
    },

    // Cluster-balanced (diversity) sampling — the cluster-then-sample
    // curation recipe: embeddings route to their nearest k-means
    // centroid (the km0/km1 fit, shared via fitCached), then EXACTLY
    // 10 per cluster survive via the deterministic per-group reservoir
    // (s4's bounded heap). One oracle replays the whole composition:
    // nearest-centroid assignment off the km0_centroids export
    // (__OUT__), then the splitmix64 top-10 per cluster.
    "s6_cluster_sample" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding",
        k = 8, maxIters = 5)
      val assigned = graft.operators.KMeans.assign(e, "vec_id", "embedding", model)
      Sampling.reservoirPerGroup(assigned, "vec_id", "cluster", k = 10, seed = SampleSeed)
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
    },

    // Fractional EPOCH repetition — the mixture upsampling knob: de
    // repeats 2.3× (2 full copies + a 30 % hash-sampled third), fr
    // downsamples to 0.4×, everything else passes through once. Each
    // copy carries its epoch index, so the multiset is hash-exact. The
    // oracle replays the per-stratum millionth-quantized factor, the
    // splitmix64 fractional keep, and the epoch expansion via
    // generate_series.
    "s7_repeat_epochs" -> { (s, dir) =>
      Sampling.repeatUpsample(Tables.load(s, dir, "documents"), "doc_id", "lang",
        factors = Map("de" -> 2.3, "fr" -> 0.4), defaultFactor = 1.0, seed = SampleSeed)
        .select(col("doc_id"), col("lang"), col("epoch"))
    },

    // Deterministic k-FOLD assignment (cross-validation splits): fold =
    // splitmix64(doc_id) mod 5 — exclusive, exhaustive, stable under
    // corpus growth; the oracle replays hash and modulo.
    "s9_kfold_assign" -> { (s, dir) =>
      Sampling.kfoldAssign(Tables.load(s, dir, "documents"), "doc_id", 5, SampleSeed)
        .select(col("doc_id"), col("lang"), col("fold"))
    },

    // WEIGHTED exactly-k reservoir (Efraimidis–Spirakis): 5 docs per lang,
    // weight = length(text) + 1 — longer docs proportionally likelier,
    // the quality/length-weighted selection a mixture uses. The oracle
    // replays the splitmix draw, the ln(u)/w key (ln parity), and the
    // (key DESC, id ASC) top-5.
    "s8_weighted_reservoir" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .withColumn("__w", length(col("text")) + 1)
      Sampling.weightedReservoirPerGroup(docs, "doc_id", "__w", "lang", 5, SampleSeed)
        .select(col("doc_id"), col("lang"), round(col("es_key"), 8).as("es_key"))
    },

    // CCNet-style perplexity bucketing: per-lang head/middle/tail terciles
    // over the f3 corpus-LM quality score — integer boundary arithmetic
    // (rank·10^6 ≤ n·cut) on the 4-decimal-rounded score with doc-id
    // tiebreaks, so the cut is hash-exact. Tokenless docs land in 'tail'
    // without consuming a rank slot.
    "f4_perplexity_buckets" -> { (s, dir) =>
      QualityFilters.perplexityBuckets(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("bucket"), col("avg_logprob"))
    },

    // Fill-in-the-middle splits (the FIM pretraining transform): each
    // doc divides into (prefix, middle, suffix) with the middle start
    // drawn deterministically from splitmix64(doc_id) mod the valid
    // range — a pure function of (id, seed, len), so the oracle replays
    // the hash, the modulo, and all three list slices byte-exactly.
    "t11_fim_splits" -> { (s, dir) =>
      graft.operators.Chunking.fimSplit(Tables.load(s, dir, "documents"),
        "doc_id", "text", middleLen = 8, seed = SampleSeed)
        .select(col("doc_id"), col("n_tokens"), col("start"),
          col("prefix"), col("middle"), col("suffix"))
    },

    // Multinomial Naive Bayes admission classifier (the CCNet/fastText
    // quality-filter niche in closed form): train per-lang token
    // likelihoods on the 80 % split, score the held-out 20 %, argmax
    // with ties to the LARGEST label (one struct-max, no window), prior
    // fallback for fully-OOV docs. The oracle replays the split, the
    // Laplace-smoothed counts, the ln arithmetic (f3's parity class),
    // the argmax, and the fallback.
    "t9_nb_classify" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val (train, eval) = Sampling.trainEvalSplit(docs, "doc_id", 0.2, SampleSeed)
      graft.operators.TextClassify.naiveBayes(train, eval, "doc_id", "lang", "text")
        .select(col("doc_id"), col("label"), col("score"))
    },

    // FLAGSHIP: the full curation pipeline in one Spark plan — near-dedup
    // → boilerplate removal → emptiness filter → stratified resampling →
    // sequence packing. Hash-gated end-to-end: the oracle replays the
    // MinHash closure, the drop-line accounting, the splitmix64 sampling
    // hash AND the packing cumsum in one SQL statement.
    "c1_curation_pipeline" -> { (s, dir) =>
      // delim = " ": the synthetic documents table is single-line text,
      // so the boilerplate unit is the word (the operator's default "\n"
      // would find no repeated units in a corpus with no newlines)
      graft.operators.CurationPipeline.curate(
        Tables.load(s, dir, "documents"), "doc_id", "text", "lang", "source",
        StratRates, SampleSeed, maxDocFrac = 0.5, capacity = PackCapacity,
        delim = " ", bands = 16) // pinned: the oracle replays this banding
    }
  )

  // ---- oracle SQL ----

  private val M = "18446744073709551616" // 2^64

  /** `(a * b) mod 2^64` in HUGEINT SQL without int128 overflow: both
    * operands can reach 2^64, whose product exceeds int128, so split
    * `a` at 2^32 — each partial stays below 2^97.
    */
  private def mulMod(a: String, b: Long): String = {
    val bu = java.lang.Long.toUnsignedString(b)
    s"((($a) % 4294967296) * $bu + (((($a) // 4294967296) * $bu) % 4294967296) * 4294967296) % $M"
  }

  /** DuckDB replay of [[graft.functions.HashBucket]]: the splitmix64
    * finalizer chain in unsigned mod-2^64 arithmetic over `idExpr`,
    * exposing a `bucket` column on table `src`.
    */
  private def splitmixCte(src: String, idExpr: String, seed: Long): String = {
    val a = java.lang.Long.toUnsignedString(seed + 0x9E3779B97F4A7C15L)
    s"""h0 AS (SELECT *, (($idExpr)::HUGEINT + $a) % $M AS z0 FROM $src),
        h1 AS (SELECT *, ${mulMod("xor(z0, z0 >> 30)", 0xBF58476D1CE4E5B9L)} AS z1 FROM h0),
        h2 AS (SELECT *, ${mulMod("xor(z1, z1 >> 27)", 0x94D049BB133111EBL)} AS z2 FROM h1),
        h AS (SELECT *, xor(z2, z2 >> 31) AS fullhash,
                  xor(z2, z2 >> 31) % ${Sampling.Buckets} AS bucket FROM h2)"""
  }

  private def rateThr(rate: Double): Long = (rate * Sampling.Buckets).round

  /** DuckDB replay of [[graft.operators.Drift.tokenJsDivergence]]: token
    * distributions of two sources, full-outer-joined, JS divergence in
    * nats (ln parity) — CTE names prefixed by `tag` so several pairs
    * compose in one statement (dr1, dr2).
    */
  private def jsCte(aSrc: String, bSrc: String, tag: String) =
    s"""${tag}_ta AS (
         SELECT u.t AS token, count(*) AS ca FROM (
           SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM $aSrc),
           UNNEST(ts) AS u(t) GROUP BY u.t),
       ${tag}_tb AS (
         SELECT u.t AS token, count(*) AS cb FROM (
           SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM $bSrc),
           UNNEST(ts) AS u(t) GROUP BY u.t),
       ${tag}_j AS (
         SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         FROM ${tag}_ta FULL OUTER JOIN ${tag}_tb USING (token)),
       ${tag}_tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM ${tag}_j),
       ${tag}_terms AS (
         SELECT na, nb, ca::DOUBLE / na AS p, cb::DOUBLE / nb AS q,
           (ca::DOUBLE / na + cb::DOUBLE / nb) / 2 AS m
         FROM ${tag}_j, ${tag}_tot),
       ${tag}_agg AS (
         SELECT first(na)::BIGINT AS n_tokens_a, first(nb)::BIGINT AS n_tokens_b,
           round((sum(CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END)
                + sum(CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0 END)) / 2, 4) AS js_nats
         FROM ${tag}_terms)"""

  /** f1 oracle: the SAME pattern strings as [[Redact.PiiRules]] are
    * interpolated into the SQL, and the count-then-replace sequencing
    * mirrors [[Redact.redact]] rule by rule.
    */
  private def f1Oracle: String = {
    val Seq((pe, re), (pp, rp), (pi, ri)) = Redact.PiiRules
    s"""WITH t AS (
          SELECT c_custkey,
            'contact user' || c_custkey || '@' || lower(c_mktsegment) || '.org or +1-' ||
            (c_nationkey + 100) || '-555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0') ||
            ' from 10.' || (c_nationkey % 256) || '.' || (c_custkey % 256) || '.1 re ' ||
            c_mktsegment AS c0
          FROM customer),
        r1 AS (SELECT c_custkey, regexp_replace(c0, '$pe', '$re', 'g') AS c1,
                      len(regexp_extract_all(c0, '$pe')) AS n1 FROM t),
        r2 AS (SELECT c_custkey, regexp_replace(c1, '$pp', '$rp', 'g') AS c2,
                      n1 + len(regexp_extract_all(c1, '$pp')) AS n2 FROM r1),
        r3 AS (SELECT c_custkey, regexp_replace(c2, '$pi', '$ri', 'g') AS c3,
                      n2 + len(regexp_extract_all(c2, '$pi')) AS n3 FROM r2)
        SELECT c_custkey, c3 AS redacted, n3::BIGINT AS n_redacted FROM r3"""
  }

  val oracles: Map[String, String] = Map(
    "f1_pii_redact" -> f1Oracle,
    // (t,i) indexed lambda: keep a token iff its first occurrence index
    // is its own index — DuckDB's order-preserving distinct.
    "d11_withindoc_dedup" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents)
         SELECT doc_id,
           array_to_string(list_filter(ts, (t, i) -> list_position(ts, t) = i), ' ') AS clean_text,
           (len(ts) - len(list_distinct(ts)))::INTEGER AS n_dropped
         FROM tk""",
    "d14_shared_spans" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         sp AS (SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS span
                FROM tk, UNNEST(range(1, len(ts) - 8 + 2)) AS u(i)
                WHERE len(ts) >= 8)
         SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_occurrences, min(doc_id) AS first_doc
         FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2""",
    // Count-weighted mean (Σ cd·ln(c/N) / Σ cd) over per-doc token
    // counts — the same arithmetic the Spark side performs after its
    // single-explode restructure, so the round-4 values agree exactly.
    "f3_unigram_logprob" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         dt AS (SELECT doc_id, u.t AS t, count(*) AS cd
                FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         vocab AS (SELECT t, sum(cd) AS c FROM dt GROUP BY t),
         tot AS (SELECT sum(c) AS n FROM vocab),
         sc AS (SELECT doc_id, sum(cd) AS n_tokens,
                       round(sum(cd::DOUBLE * ln(c::DOUBLE / n)) / sum(cd)::DOUBLE, 4) AS avg_logprob
                FROM dt JOIN vocab USING (t), tot GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(n_tokens, 0)::BIGINT AS n_tokens,
                COALESCE(avg_logprob, 0.0) AS avg_logprob
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    "f2_repetition_quality" ->
      s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                      FROM documents),
          uc AS (SELECT doc_id, u.t AS w, count(*) AS c
                 FROM tk, UNNEST(ts) AS u(t) GROUP BY 1, 2),
          ua AS (SELECT doc_id, sum(c) AS n, count(*) AS nd, max(c) AS top,
                        sum(len(w) * c) AS sum_len
                 FROM uc GROUP BY 1),
          bg AS (SELECT doc_id, list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) AS gs
                 FROM tk WHERE len(ts) >= 2),
          bc AS (SELECT doc_id, u.g AS g, count(*) AS c
                 FROM bg, UNNEST(gs) AS u(g) GROUP BY 1, 2),
          ba AS (SELECT doc_id, sum(c) AS nb, max(c) AS topb FROM bc GROUP BY 1),
          st AS (
            SELECT d.doc_id,
                   COALESCE(n, 0)::BIGINT AS n_words,
                   round(1 - COALESCE(nd::DOUBLE / n, 1), 4) AS dup_word_frac,
                   round(COALESCE(top::DOUBLE / n, 0), 4) AS top_word_frac,
                   round(COALESCE(topb::DOUBLE / nb, 0), 4) AS top_bigram_frac,
                   round(COALESCE(sum_len::DOUBLE / n, 0), 4) AS mean_word_len
            FROM documents d LEFT JOIN ua USING (doc_id) LEFT JOIN ba USING (doc_id))
          SELECT *, (dup_word_frac <= $MaxDup AND top_word_frac <= $MaxTopWord
                     AND top_bigram_frac <= $MaxTopBigram)::INT AS keep
          FROM st""",
    "mix1_mixture_sample" ->
      s"""WITH tot AS (SELECT source, sum(n_chars) AS total FROM documents GROUP BY source),
          j AS (SELECT d.doc_id, d.source, d.n_chars,
                       least(${Sampling.Buckets},
                             floor((${MixBudget * Sampling.Buckets})::DOUBLE / total::DOUBLE)::BIGINT) AS thr
                FROM documents d JOIN tot USING (source)),
          ${splitmixCte("j", "doc_id", SampleSeed)}
          SELECT doc_id, source, n_chars FROM h WHERE bucket < thr""",
    "s1_hash_sample" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)}
          SELECT doc_id, lang, source FROM h WHERE bucket < ${rateThr(0.1)}""",
    "s6_cluster_sample" ->
      s"""WITH c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
                     FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
          ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          dist AS (
            SELECT e.vec_id, c.cluster,
              list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
                i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
            FROM ed e CROSS JOIN c),
          a AS (
            SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
            FROM dist),
          asg AS (SELECT vec_id, cluster::INTEGER AS cluster FROM a WHERE rn = 1),
          ${splitmixCte("asg", "vec_id", SampleSeed)},
          r AS (SELECT vec_id, cluster,
                  row_number() OVER (PARTITION BY cluster ORDER BY bucket, vec_id) AS rn2
                FROM h)
          SELECT vec_id, cluster FROM r WHERE rn2 <= 10""",
    "s5_temperature_sample" ->
      s"""WITH cnt AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
          wt AS (SELECT lang, n, round(sqrt(n::DOUBLE) * 1000)::BIGINT AS w FROM cnt),
          ws AS (SELECT sum(w)::BIGINT AS wsum FROM wt),
          th AS (SELECT lang,
                   least(${Sampling.Buckets},
                         floor((${TempTarget * Sampling.Buckets})::DOUBLE * w::DOUBLE
                               / (wsum::DOUBLE * n::DOUBLE))::BIGINT) AS thr
                 FROM wt CROSS JOIN ws),
          j AS (SELECT d.doc_id, d.lang, th.thr FROM documents d JOIN th USING (lang)),
          ${splitmixCte("j", "doc_id", SampleSeed)}
          SELECT doc_id, lang FROM h WHERE bucket < thr""",
    // Millionth-quantized factors: de 2.3 → 2300000 (2 full + 30 % frac),
    // fr 0.4 → 400000 (0 full + 40 % frac), default 1.0 → exactly one
    // copy. The epoch expansion replays via generate_series (empty when
    // copies = 0, dropping the row — the operator's filter).
    "s7_repeat_epochs" ->
      s"""WITH f AS (SELECT doc_id, lang,
             CASE lang WHEN 'de' THEN 2300000 WHEN 'fr' THEN 400000
                       ELSE 1000000 END AS fb
           FROM documents),
          ${splitmixCte("f", "doc_id", SampleSeed)},
          c AS (SELECT doc_id, lang,
                  (fb // ${Sampling.Buckets})::INT +
                    CASE WHEN bucket < fb % ${Sampling.Buckets} THEN 1 ELSE 0 END AS copies
                FROM h)
          SELECT doc_id, lang, u.e::INT AS epoch
          FROM c, UNNEST(generate_series(0, copies - 1)) AS u(e)""",
    "s9_kfold_assign" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)}
          SELECT doc_id, lang, (bucket % 5)::INT AS fold FROM h""",
    // The A-ES key in ln parity: u = (bucket+1)/10^6, key = ln(u)/w,
    // top-5 per lang by (key DESC, id ASC).
    "s8_weighted_reservoir" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
          kx AS (SELECT doc_id, lang,
                   ln((bucket + 1)::DOUBLE / 1000000.0)
                     / (len(text) + 1)::DOUBLE AS k
                 FROM h),
          r AS (SELECT doc_id, lang, k,
                  row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rn
                FROM kx)
          SELECT doc_id, lang, round(k, 8) AS es_key FROM r WHERE rn <= 5""",
    // f3's corpus-LM score feeding an integer tercile boundary: the rank
    // window orders by the ROUNDED score with doc-id tiebreaks, so both
    // engines resolve ties identically (no float-ordering exposure).
    "f4_perplexity_buckets" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         dt AS (SELECT doc_id, u.t AS t, count(*) AS cd
                FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         vocab AS (SELECT t, sum(cd) AS c FROM dt GROUP BY t),
         tot AS (SELECT sum(c) AS n FROM vocab),
         sc AS (SELECT doc_id, sum(cd) AS n_tokens,
                       round(sum(cd::DOUBLE * ln(c::DOUBLE / n)) / sum(cd)::DOUBLE, 4) AS alp
                FROM dt JOIN vocab USING (t), tot GROUP BY doc_id),
         scored AS (SELECT d.doc_id, d.lang, COALESCE(sc.n_tokens, 0) AS n_tokens,
                           COALESCE(sc.alp, 0.0) AS avg_logprob
                    FROM documents d LEFT JOIN sc USING (doc_id)),
         ne AS (SELECT doc_id, lang, avg_logprob,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY avg_logprob DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY lang) AS n
                FROM scored WHERE n_tokens > 0)
         SELECT doc_id, lang,
           CASE WHEN rn * 1000000 <= n * 333333 THEN 'head'
                WHEN rn * 1000000 <= n * 666667 THEN 'middle'
                ELSE 'tail' END AS bucket, avg_logprob
         FROM ne
         UNION ALL
         SELECT doc_id, lang, 'tail', avg_logprob FROM scored WHERE n_tokens = 0""",
    // The FIM arithmetic in list-slice SQL: start = bucket·(n − l + 1)
    // // 10^6 (the bucket SCALED onto the range — full-document coverage
    // at any length, vs a mod that caps starts below the bucket space);
    // ts[1:st] / ts[st+1:st+l] / ts[st+l+1:n] are the three spans
    // (DuckDB slices are 1-based inclusive; an empty range yields an
    // empty list → '', matching Spark's zero-length slice).
    "t11_fim_splits" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
          tk AS (SELECT doc_id, bucket,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ts
                 FROM h),
          c AS (SELECT doc_id, ts, len(ts) AS n, least(8, len(ts)) AS l, bucket
                FROM tk WHERE len(ts) > 0),
          s AS (SELECT doc_id, ts, n, l,
                  ((bucket * (n - l + 1)) // ${Sampling.Buckets})::INT AS st FROM c)
          SELECT doc_id, n::INT AS n_tokens, st AS start,
            COALESCE(array_to_string(ts[1 : st], ' '), '') AS prefix,
            COALESCE(array_to_string(ts[st + 1 : st + l], ' '), '') AS middle,
            COALESCE(array_to_string(ts[st + l + 1 : n], ' '), '') AS suffix
          FROM s""",
    // Laplace-smoothed multinomial NB replayed end to end: split, counts,
    // ln((c+1)/(ntok+|V|)), Σ cd·lp + ln(prior), argmax (score DESC,
    // label DESC = the struct-max tie contract), prior fallback.
    "t9_nb_classify" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
          tr AS (SELECT doc_id, lang, text FROM h WHERE bucket >= ${rateThr(0.2)}),
          ev AS (SELECT doc_id, text FROM h WHERE bucket < ${rateThr(0.2)}),
          cnt AS (SELECT lang AS lab, u.t AS t, count(*)::BIGINT AS c
                  FROM (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                        FROM tr), UNNEST(ts) AS u(t)
                  GROUP BY lang, u.t),
          ctot AS (SELECT lab, sum(c)::BIGINT AS ntok FROM cnt GROUP BY lab),
          voc AS (SELECT DISTINCT t FROM cnt),
          vs AS (SELECT count(*)::BIGINT AS v FROM voc),
          pri AS (SELECT lang AS lab, count(*)::BIGINT AS nd FROM tr GROUP BY lang),
          nda AS (SELECT sum(nd)::BIGINT AS ndall FROM pri),
          grid AS (SELECT voc.t, ctot.lab,
                     ln((COALESCE(cnt.c, 0)::DOUBLE + 1.0)
                        / (ctot.ntok::DOUBLE + vs.v::DOUBLE)) AS lp
                   FROM voc CROSS JOIN ctot CROSS JOIN vs
                   LEFT JOIN cnt ON cnt.t = voc.t AND cnt.lab = ctot.lab),
          prio AS (SELECT lab, ln(nd::DOUBLE / ndall::DOUBLE) AS lprior FROM pri, nda),
          dt AS (SELECT doc_id, u.t AS t, count(*)::BIGINT AS cd
                 FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                       FROM ev), UNNEST(ts) AS u(t)
                 GROUP BY doc_id, u.t),
          pl AS (SELECT dt.doc_id, grid.lab, sum(dt.cd::DOUBLE * grid.lp) AS ll
                 FROM dt JOIN grid ON dt.t = grid.t GROUP BY dt.doc_id, grid.lab),
          sc AS (SELECT pl.doc_id, pl.lab, pl.ll + prio.lprior AS score
                 FROM pl JOIN prio USING (lab)),
          win AS (SELECT doc_id, lab, score,
                    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lab DESC) AS rn
                  FROM sc),
          pp AS (SELECT lab AS plab, lprior AS pscore FROM prio
                 ORDER BY lprior DESC, lab DESC LIMIT 1)
          SELECT e.doc_id, COALESCE(w.lab, pp.plab) AS label,
                 round(COALESCE(w.score, pp.pscore), 4) AS score
          FROM ev e LEFT JOIN (SELECT * FROM win WHERE rn = 1) w USING (doc_id)
          CROSS JOIN pp""",
    "tv1_snapshot_versions" ->
      """WITH batch AS (
           SELECT doc_id, lang, text || ' v2' AS text FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id + 10000000, lang, text FROM documents WHERE doc_id % 10 = 3),
         merged AS (
           SELECT d.doc_id, d.lang, d.text FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
           UNION ALL SELECT doc_id, lang, text FROM batch)
         SELECT 1 AS version, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM documents GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM merged GROUP BY lang""",
    // Latest after rollback = the untouched corpus tagged version 3
    // (v1 → v2 → rollback publishes 3); v2 pinned = the filtered state.
    "tv2_snapshot_rollback" ->
      """SELECT 3 AS version, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM documents GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang""",
    // The two appended batches replayed from the source corpus; the
    // interleaved compaction must contribute nothing to either slice.
    "tv3_snapshot_changes" ->
      """WITH b2 AS (SELECT doc_id + 10000000 AS doc_id, lang, text
                     FROM documents WHERE doc_id % 10 = 3),
           b3 AS (SELECT doc_id + 20000000 AS doc_id, lang, text
                  FROM documents WHERE doc_id % 10 = 7),
           since1 AS (SELECT * FROM b2 UNION ALL SELECT * FROM b3)
         SELECT 1 AS since, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM since1 GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM b3 GROUP BY lang""",
    // the tv3 replay verbatim — the FileSystem-abstracted store must
    // serve the identical feed
    "tv4_fs_snapshots" ->
      """WITH b2 AS (SELECT doc_id + 10000000 AS doc_id, lang, text
                     FROM documents WHERE doc_id % 10 = 3),
           b3 AS (SELECT doc_id + 20000000 AS doc_id, lang, text
                  FROM documents WHERE doc_id % 10 = 7),
           since1 AS (SELECT * FROM b2 UNION ALL SELECT * FROM b3)
         SELECT 1 AS since, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM since1 GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM b3 GROUP BY lang""",
    // the tv3 replay plus a pinned read of the carrying version itself
    // (base ∪ batch-2 exactly — resolution must be complete and
    // duplicate-free)
    "tv5_manifest_appends" ->
      """WITH b2 AS (SELECT doc_id + 10000000 AS doc_id, lang, text
                     FROM documents WHERE doc_id % 10 = 3),
           b3 AS (SELECT doc_id + 20000000 AS doc_id, lang, text
                  FROM documents WHERE doc_id % 10 = 7),
           since1 AS (SELECT * FROM b2 UNION ALL SELECT * FROM b3),
           v2full AS (SELECT doc_id, lang, text FROM documents
                      UNION ALL SELECT * FROM b2)
         SELECT 1 AS since, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM since1 GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM b3 GROUP BY lang
         UNION ALL
         SELECT 3, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT
         FROM v2full GROUP BY lang""",
    // the tv5 replay on the conditional-PUT store, plus the two CAS
    // contract booleans (a broken replay or non-contiguous log fails
    // the hash on every row)
    "tv6_cas_object_store" ->
      """WITH b2 AS (SELECT doc_id + 10000000 AS doc_id, lang, text
                     FROM documents WHERE doc_id % 10 = 3),
           b3 AS (SELECT doc_id + 20000000 AS doc_id, lang, text
                  FROM documents WHERE doc_id % 10 = 7),
           since1 AS (SELECT * FROM b2 UNION ALL SELECT * FROM b3),
           v2full AS (SELECT doc_id, lang, text FROM documents
                      UNION ALL SELECT * FROM b2)
         SELECT 1 AS since, lang, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum,
           true AS replay_idempotent, true AS contiguous
         FROM since1 GROUP BY lang
         UNION ALL
         SELECT 2, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT,
           true, true
         FROM b3 GROUP BY lang
         UNION ALL
         SELECT 3, lang, count(*)::BIGINT, sum(len(text))::BIGINT, sum(doc_id)::BIGINT,
           true, true
         FROM v2full GROUP BY lang""",
    "dq1_quality_checks" ->
      """SELECT 'unique:o_orderkey' AS check_name,
           (count(*) - count(DISTINCT o_orderkey))::BIGINT AS metric,
           (count(*) - count(DISTINCT o_orderkey)) = 0 AS ok FROM orders
         UNION ALL
         SELECT 'not_null:text',
           (count(*) FILTER (WHERE text IS NULL))::BIGINT,
           count(*) FILTER (WHERE text IS NULL) <= count(*) * 0.0 FROM documents
         UNION ALL
         SELECT 'fk:l_orderkey->o_orderkey',
           (count(*) FILTER (WHERE o.o_orderkey IS NULL))::BIGINT,
           count(*) FILTER (WHERE o.o_orderkey IS NULL) = 0
         FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON l.l_orderkey = o.o_orderkey
         UNION ALL
         SELECT 'range:l_quantity[1.0,50.0]',
           (count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0))::BIGINT,
           count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0) = 0
         FROM lineitem
         UNION ALL
         SELECT 'rows>=1', count(*)::BIGINT, count(*) >= 1 FROM documents""",
    "dr1_corpus_drift" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
         tr AS (SELECT text FROM h WHERE bucket >= ${rateThr(0.2)}),
         ev AS (SELECT text FROM h WHERE bucket < ${rateThr(0.2)}),
         den AS (SELECT text FROM documents WHERE lang = 'en'),
         dde AS (SELECT text FROM documents WHERE lang = 'de'),
         ${jsCte("tr", "ev", "s")},
         ${jsCte("den", "dde", "l")}
         SELECT 'train_vs_eval' AS pair, n_tokens_a, n_tokens_b, js_nats FROM s_agg
         UNION ALL
         SELECT 'en_vs_de', n_tokens_a, n_tokens_b, js_nats FROM l_agg""",
    // The feed-vs-baseline drift replayed from the source corpus: the
    // snapshot plumbing must hand Drift exactly the non-de baseline and
    // the de-only delta.
    "dr2_feed_drift" ->
      s"""WITH base AS (SELECT text FROM documents WHERE lang <> 'de'),
         delta AS (SELECT text FROM documents WHERE lang = 'de'),
         ${jsCte("base", "delta", "f")}
         SELECT 'v1_vs_delta' AS pair, n_tokens_a, n_tokens_b, js_nats FROM f_agg""",
    "s4_reservoir_per_group" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
          r AS (SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn
                FROM h)
          SELECT doc_id, lang FROM r WHERE rn <= 5""",
    "mg1_corpus_upsert" ->
      """WITH batch AS (
           SELECT doc_id, lang, text || ' v2' AS text FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id + 10000000, lang, text FROM documents WHERE doc_id % 10 = 3),
         merged AS (
           SELECT d.doc_id, d.lang, d.text FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
           UNION ALL SELECT doc_id, lang, text FROM batch)
         SELECT lang, count(*)::BIGINT AS n, sum(len(text))::BIGINT AS chars,
           sum(doc_id)::BIGINT AS id_sum
         FROM merged GROUP BY lang""",
    "mg2_corpus_upsert_bloom" ->
      """WITH batch AS (
           SELECT doc_id, lang, text || ' v2' AS text FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id + 10000000, lang, text FROM documents WHERE doc_id % 10 = 3),
         merged AS (
           SELECT d.doc_id, d.lang, d.text FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
           UNION ALL SELECT doc_id, lang, text FROM batch)
         SELECT lang, count(*)::BIGINT AS n, sum(len(text))::BIGINT AS chars,
           sum(doc_id)::BIGINT AS id_sum
         FROM merged GROUP BY lang""",
    "mg3_composite_upsert" ->
      """WITH d AS (
           SELECT doc_id, lang, text,
             CASE WHEN doc_id % 2 = 0 THEN 'web' ELSE 'book' END AS source
           FROM documents),
         batch AS (
           SELECT doc_id, lang, text || ' v2' AS text, source FROM d WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id, lang, text || ' alt' AS text,
             CASE WHEN source = 'web' THEN 'book' ELSE 'web' END AS source
           FROM d WHERE doc_id % 10 = 3),
         merged AS (
           SELECT x.doc_id, x.lang, x.text, x.source FROM d x
           WHERE NOT EXISTS (
             SELECT 1 FROM batch b
             WHERE b.doc_id = x.doc_id AND b.source = x.source)
           UNION ALL SELECT doc_id, lang, text, source FROM batch)
         SELECT lang, source, count(*)::BIGINT AS n,
           sum(len(text))::BIGINT AS chars, sum(doc_id)::BIGINT AS id_sum
         FROM merged GROUP BY lang, source""",
    "s2_stratified_sample" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)}
          SELECT doc_id, lang FROM h
          WHERE bucket < CASE ${StratRates.map { case (l, r) => s"WHEN lang = '$l' THEN ${rateThr(r)}" }.mkString(" ")} ELSE 0 END""",
    "s3_train_eval_split" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)}
          SELECT doc_id, CASE WHEN bucket < ${rateThr(0.2)} THEN 'eval' ELSE 'train' END AS split
          FROM h""",
    "sh1_shard_export" ->
      s"""WITH ${splitmixCte("documents", "doc_id", SampleSeed)},
          t AS (SELECT doc_id, lang, fullhash, (bucket % 4)::INTEGER AS shard FROM h)
          SELECT doc_id, lang, shard,
            (row_number() OVER (PARTITION BY shard ORDER BY fullhash, doc_id) - 1)::BIGINT AS pos
          FROM t""",
    // Physical widths must match Spark exactly (the driver hashes dtypes):
    // TokenScan emits INTEGER n_tokens; the window sum() is HUGEINT in
    // DuckDB, so bin/offset are cast back to the BIGINT Packing emits.
    "p2_pack_global" ->
      s"""WITH tk AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))::INTEGER AS n_tokens
            FROM documents),
          c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
            FROM tk)
          SELECT doc_id, n_tokens,
                 (start // $PackCapacity)::BIGINT AS bin,
                 (start % $PackCapacity)::BIGINT AS offset
          FROM c""",
    "p1_pack_chunks" ->
      s"""WITH tk AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(text, ' '), t -> t <> ''))::INTEGER AS n_tokens
            FROM documents),
          c AS (
            SELECT doc_id, source, n_tokens,
                   COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
            FROM tk)
          SELECT doc_id, source, n_tokens,
                 (start // $PackCapacity)::BIGINT AS bin,
                 (start % $PackCapacity)::BIGINT AS offset
          FROM c""",
    "d8_boilerplate_removal" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          tok AS (
            SELECT doc_id, u.i AS pos, ts[u.i] AS line
            FROM tk, UNNEST(range(1, len(ts) + 1)) AS u(i)
            WHERE ts[u.i] <> ''),
          nd AS (SELECT count(*) AS n FROM documents),
          dfq AS (SELECT line, count(DISTINCT doc_id) AS dfd FROM tok GROUP BY line),
          keep AS (SELECT line FROM dfq, nd WHERE dfd <= n * 0.5),
          reb AS (
            SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM tok JOIN keep USING (line) GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
                 COALESCE(r.n_kept, 0) AS n_kept
          FROM documents d LEFT JOIN reb r USING (doc_id)""",
    "d9_decontaminate" ->
      """WITH tk AS (
            SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents),
          g AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(range(1, len(ts) - 6),
                     i -> array_to_string(ts[i:i+7], ' '))) AS gs
            FROM tk WHERE len(ts) >= 8),
          ev AS (SELECT DISTINCT u.g AS gram FROM g, UNNEST(gs) AS u(g) WHERE lang = 'zh'),
          tr AS (SELECT doc_id, u.g AS gram FROM g, UNNEST(gs) AS u(g) WHERE lang <> 'zh')
          SELECT doc_id, count(*) AS n_shared
          FROM tr JOIN ev USING (gram) GROUP BY doc_id""",
    "d16_eval_contamination" ->
      """WITH tk AS (
            SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS ts
            FROM documents),
          g AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(range(1, len(ts) - 6),
                     i -> array_to_string(ts[i:i+7], ' '))) AS gs
            FROM tk WHERE len(ts) >= 8),
          tr AS (SELECT DISTINCT u.g AS gram FROM g, UNNEST(gs) AS u(g) WHERE lang <> 'zh'),
          ev AS (SELECT doc_id, u.g AS gram FROM g, UNNEST(gs) AS u(g) WHERE lang = 'zh'),
          tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id),
          hit AS (SELECT ev.doc_id, count(*) AS n_hit
                  FROM ev JOIN tr USING (gram) GROUP BY ev.doc_id)
          SELECT d.doc_id,
            COALESCE(t.n_grams, 0) AS n_grams,
            COALESCE(h.n_hit, 0) AS n_hit,
            round(COALESCE(h.n_hit, 0) / t.n_grams, 6) AS dirty_frac
          FROM (SELECT doc_id FROM documents WHERE lang = 'zh') d
          LEFT JOIN tot t USING (doc_id)
          LEFT JOIN hit h USING (doc_id)""",
    "c1_curation_pipeline" ->
      s"""WITH RECURSIVE sh AS (
            SELECT doc_id, list_distinct(list_transform(
              range(1, len(string_split(text,' ')) - 1),
              i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                   || ' ' || string_split(text,' ')[i+2])) AS s
            FROM documents WHERE len(string_split(text,' ')) >= 3),
          pr AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
          eg AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
          reach(a, b) AS (
            SELECT DISTINCT a, a FROM eg
            UNION
            SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a),
          kept AS (
            SELECT * FROM documents
            WHERE doc_id NOT IN (SELECT a FROM reach GROUP BY a HAVING a != min(b))),
          ktk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM kept),
          ktok AS (
            SELECT doc_id, u.i AS pos, ts[u.i] AS line
            FROM ktk, UNNEST(range(1, len(ts) + 1)) AS u(i)
            WHERE ts[u.i] <> ''),
          knd AS (SELECT count(*) AS n FROM kept),
          kdfq AS (SELECT line, count(DISTINCT doc_id) AS dfd FROM ktok GROUP BY line),
          kdrop AS (SELECT line FROM kdfq, knd WHERE dfd > n * 0.5),
          reb AS (
            SELECT doc_id, count(*) AS n_kept
            FROM ktok WHERE line NOT IN (SELECT line FROM kdrop)
            GROUP BY doc_id),
          flt AS (
            SELECT k.doc_id, k.source, k.lang, r.n_kept
            FROM kept k JOIN reb r USING (doc_id)),
          ${splitmixCte("flt", "doc_id", SampleSeed)},
          samp AS (
            SELECT doc_id, source, lang, n_kept FROM h
            WHERE bucket < CASE ${StratRates.map { case (l, r) => s"WHEN lang = '$l' THEN ${rateThr(r)}" }.mkString(" ")} ELSE 0 END),
          pk AS (
            SELECT doc_id, source, lang, n_kept,
                   COALESCE(sum(n_kept) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
            FROM samp)
          SELECT doc_id, source, lang, n_kept,
                 (start // $PackCapacity)::BIGINT AS bin,
                 (start % $PackCapacity)::BIGINT AS offset
          FROM pk""",
    "t6_tfidf_topterms" ->
      """WITH tok AS (
            SELECT doc_id, u.t AS term
            FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
            WHERE u.t <> ''),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
          n AS (SELECT count(*) AS n FROM documents),
          sc AS (
            SELECT f.doc_id, f.term, f.tf, d.df_t,
                   round(f.tf * ln(n.n / d.df_t), 6) AS score
            FROM tf f JOIN dfq d USING (term), n),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
            FROM sc)
          SELECT doc_id, term, tf, df_t, rank::INTEGER AS rank, score FROM r WHERE rank <= 3"""
  )
}
