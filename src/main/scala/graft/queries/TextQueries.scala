package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** LLM-training-data pipeline queries: dedup (exact / MinHash-LSH /
  * char-ngram / SimHash) and text analysis (token stats, quality, langid,
  * fingerprint) over the `documents` table.
  *
  * Oracles: everything except SimHash is replayed exactly in DuckDB —
  * including the MinHash near-dup pairs, whose oracle is the full O(n²)
  * exact-Jaccard join (feasible at sf0.01; the Spark side never builds the
  * product). SimHash depends on an engine-side 64-bit hash and gets a
  * rows-only check plus ScalaTest coverage.
  */
object TextQueries {

  private val enStop = "('the','a','of','and','to','in','is','it','that','for')"
  private val deStop = "('der','die','das','und','ist','nicht','mit','ein','zu','den')"
  private val esStop = "('el','los','las','y','una','es','para','como','pero','sus')"
  private val frStop = "('le','les','et','est','pour','dans','que','qui','pas','vous')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Inverted-index retrieval: postings (token, doc_id) materialized to
    // parquet and REOPENED (the search must run off the artifact, not the
    // corpus), probe tokens chosen deterministically from the index
    // itself (top-2 doc-frequency, token-asc tiebreak — replayed by the
    // oracle, so the gate survives testdata regeneration), then an
    // AND-search: docs containing both probes. At scale every search is
    // a token-column filter over the postings table — O(df) postings
    // read, not O(corpus) text scanned.
    "ii1_inverted_search" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("invidx")
      val postings = InvertedIndex.materialize(docs, "doc_id", "text", s"$idxDir/postings")
      val probes = InvertedIndex.topTokensByDf(postings, 2)
      InvertedIndex.searchAll(postings, "doc_id", probes)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"))
    },

    // Incrementally-maintained index: the corpus index is built WITHOUT
    // the daily batch (doc_id % 10 = 7), then only the batch is
    // tokenized and appended — the index twin of the d10/d13
    // incremental shape. The same ii1 search runs off the appended
    // artifact against the FULL-corpus oracle, so a lost append, a
    // double append, or a stale probe selection all fail the hash.
    "ii3_index_append" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val path = s"${QueryTmp.dir("invidx3")}/postings"
      InvertedIndex.build(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text")
        .write.parquet(path)
      InvertedIndex.appendTo(docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path)
      val postings = graftbridge.readParquet(s, path)
      val probes = InvertedIndex.topTokensByDf(postings, 2)
      InvertedIndex.searchAll(postings, "doc_id", probes)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"))
    },

    // BM25-ranked retrieval off the SCORED index (tf + doc length in the
    // postings): the probe is the top-3 doc-frequency tokens (replayed by
    // the oracle), the search prunes postings to the probe set, derives
    // df from the pruned row counts, and ranks on the standard
    // idf·tf-saturation product — scores rounded to 6 BEFORE the top-10
    // cut (doc-id tiebreak), so the ranking arithmetic itself is under
    // the driver hash, ln parity included (the t6/f3 pattern).
    "ii4_bm25_rank" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("bm25idx")
      val scored = InvertedIndex.materializeScored(docs, "doc_id", "text", s"$idxDir/postings")
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10)
    },

    // Incrementally-maintained SCORED index: built WITHOUT the daily
    // batch (doc_id % 10 = 7), then the batch alone is tokenized and
    // appended, and the (N, avgdl) stats are updated from the batch's
    // returned delta — never a full-postings recompute. The ii4 search
    // runs off the appended artifact with the MERGED stats against the
    // FULL-corpus oracle, so a lost append, a double append, or stale
    // stats (the silent mis-rank a plain appendTo+precomputed-stats
    // combination served) all fail the hash.
    "ii5_bm25_append" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val path = s"${QueryTmp.dir("bm25idx5")}/postings"
      InvertedIndex.buildScored(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text")
        .write.parquet(path)
      val totals0 = InvertedIndex.corpusTotals(graftbridge.readParquet(s, path), "doc_id")
      val delta = InvertedIndex.appendScored(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path,
        priorTotals = Some(totals0))
      val scored = graftbridge.readParquet(s, path)
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10,
        stats = Some(InvertedIndex.statsOf(InvertedIndex.mergeTotals(totals0, delta))))
    },

    // Object-store-capable artifact maintenance (the r17 ArtifactIo
    // seam): the SAME incremental build → append → new-session attach →
    // search loop as ii5/ii7, with EVERY filesystem primitive the
    // machinery touches — sidecar temp+atomic-rename, crash marker,
    // append lock, artifact-presence probe — routed through the Hadoop
    // FileSystem-backed io instead of java.nio, exercised on the local
    // store via the `file:` scheme (the identical API a hdfs://-
    // or abfss://-homed deployment runs; rename-by-copy schemes are
    // rejected loudly at entry). Served from disk state on the scheme'd
    // path against the full-corpus oracle: a torn sidecar write, a lost
    // or doubled append, or a probe misreading the scheme'd path all
    // fail the hash.
    "ii12_fs_artifact" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val path = "file:" + QueryTmp.dir("bm25idx12") + "/postings"
      val docs = Tables.load(s, dir, "documents")
      InvertedIndex.materializeScored(
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", path): Unit
      InvertedIndex.appendScored(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path): Unit
      val s2 = s.newSession()
      val (scored, stats) = InvertedIndex.attachScored(s2, path, "doc_id")
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10,
        stats = Some(stats))
    },

    // CROSS-SESSION index attach (the fx16 contract for the BM25
    // artifact): build + append persist the exact integer totals as a
    // sidecar INSIDE the index directory, then a NEW SparkSession (fresh
    // session state — the "new driver" analog) attaches the artifact and
    // serves the ii4 search from DISK STATE ALONE — no in-memory totals
    // survive the boundary. The search must equal the full-corpus oracle,
    // so stale sidecar totals (a lost fold), a missing sidecar silently
    // defaulting wrong, or a torn write all fail the hash; the contract
    // boolean pins that the stats actually came from the sidecar (not
    // the O(index) healing recompute).
    "ii7_bm25_attach" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val path = s"${QueryTmp.dir("bm25idx7")}/postings"
      InvertedIndex.materializeScored(
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", path)
      InvertedIndex.appendScored(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path)
      val fromSidecar = InvertedIndex.readTotals(path).isDefined
      val s2 = s.newSession()
      val (scored, stats) = InvertedIndex.attachScored(s2, path, "doc_id")
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10,
          stats = Some(stats))
        .withColumn("from_sidecar", lit(fromSidecar))
    },

    // BATCHED ranked retrieval (the serving tier): THREE probe sets —
    // the top-9 df tokens split 3/3/3, replayed by the oracle — served
    // from ONE union-pruned postings read, per-query results identical
    // to three independent ii4 searches (same arithmetic, same
    // round-before-rank, same deterministic cut; the equivalence is also
    // spec-pinned). A df computed after the query join (double-counting
    // shared tokens), a leaked cross-query contribution, or a per-query
    // re-read all fail the hash.
    "ii8_bm25_batch" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("bm25idx8")
      val scored = InvertedIndex.materializeScored(docs, "doc_id", "text", s"$idxDir/postings")
      val probes = InvertedIndex.topTokensByDf(scored, 9)
      InvertedIndex.searchBm25Batch(scored, "doc_id", probes.grouped(3).toSeq, topK = 10)
    },

    // The INCREMENTAL PIPELINE end to end: the corpus lives in a
    // versioned snapshot table (commitAppend per ingest day), and the
    // index maintainer consumes the CHANGED-DATA FEED — readChanges
    // between the pinned versions serves exactly the day's batch
    // (O(delta bytes), never the table), which appendScored folds into
    // the scored index with exact merged stats. A feed that replayed
    // the whole table, a lost/doubled append, or stale stats all fail
    // the full-corpus oracle hash. This is tv3 ∘ ii5 — the composition
    // a daily training-data ingest actually runs.
    "ii6_feed_index_maintenance" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      import graft.sources.Snapshots
      val docs = Tables.load(s, dir, "documents")
      val table = s"${QueryTmp.dir("ii6tab")}/docs"
      val idx = s"${QueryTmp.dir("ii6idx")}/postings"
      // day 0: base corpus committed; index built from the pinned read
      val v1 = Snapshots.commitAppend(docs.filter(col("doc_id") % 10 =!= 7), table)
      InvertedIndex.buildScored(Snapshots.read(s, table, Some(v1)), "doc_id", "text")
        .write.parquet(idx)
      val totals0 = InvertedIndex.corpusTotals(graftbridge.readParquet(s, idx), "doc_id")
      // day 1: the batch commits; the maintainer reads ONLY the feed
      val v2 = Snapshots.commitAppend(docs.filter(col("doc_id") % 10 === 7), table)
      val feed = Snapshots.readChanges(s, table, fromVersion = v1, toVersion = Some(v2))
      val delta = InvertedIndex.appendScored(feed, "doc_id", "text", idx,
        priorTotals = Some(totals0))
      val scored = graftbridge.readParquet(s, idx)
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10,
        stats = Some(InvertedIndex.statsOf(InvertedIndex.mergeTotals(totals0, delta))))
    },

    // Phrase search over the POSITIONAL index: the probe phrase is the
    // corpus's top doc-frequency bigram (chosen via the narrow
    // tokenGramCounts map expression and replayed by the oracle, so the
    // gate survives testdata regeneration); the search filters postings
    // to each probe token (O(df) rows) and folds adjacency equi-joins —
    // the corpus text is never rescanned.
    "ii2_phrase_search" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("posidx")
      val postings = InvertedIndex.materializePositional(
        docs, "doc_id", "text", s"$idxDir/postings")
      val top = InvertedIndex.topGramByDf(docs, "text", 2)
      InvertedIndex.searchPhrase(postings, "doc_id", top)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"))
    },

    // BATCHED AND-search (ii1's serving-tier twin, completing the
    // batched tier across all four search forms: AND ii10, phrase ii9,
    // ranked ii8, hybrid x3): TWO 2-token probe sets — the top-4 df
    // tokens split in consecutive pairs, replayed by the oracle — from
    // ONE union-pruned postings read; each query's AND bar is its own
    // distinct-token count carried in the broadcast probe map.
    "ii10_and_batch" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("invidx10")
      val postings = InvertedIndex.materialize(docs, "doc_id", "text", s"$idxDir/postings")
      val queries = InvertedIndex.topTokensByDf(postings, 4).grouped(2).toSeq
      InvertedIndex.searchAllBatch(postings, "doc_id", queries)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("query_ix"), col("doc_id"), col("lang"))
    },

    // BATCHED phrase search (ii2's serving-tier twin, the ii8 pattern on
    // the positional index): TWO phrases of DIFFERENT lengths — the
    // corpus's top doc-frequency bigram and trigram, both replayed by
    // the oracle — served from ONE union-pruned postings read via the
    // anchor-vote formulation (a posting at (token, pos) votes for the
    // phrase starting at pos − offset; all plen distinct offsets voting
    // is a match). Per-phrase rows equal independent ii2 searches
    // (spec-pinned); a cross-phrase vote leak or an anchor arithmetic
    // slip fails the hash.
    "ii9_phrase_batch" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val idxDir = QueryTmp.dir("posidx9")
      val postings = InvertedIndex.materializePositional(
        docs, "doc_id", "text", s"$idxDir/postings")
      val phrases = Seq(
        InvertedIndex.topGramByDf(docs, "text", 2),
        InvertedIndex.topGramByDf(docs, "text", 3))
      InvertedIndex.searchPhraseBatch(postings, "doc_id", phrases)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("query_ix"), col("doc_id"), col("lang"))
    },

    // Incrementally-maintained POSITIONAL index (ii3's phrase-layout
    // twin): built WITHOUT the daily batch (doc_id % 10 = 7), then only
    // the batch is tokenized and appended — positions are per-doc, so
    // the appended rows equal a rebuild's. The ii2 phrase search runs
    // off the appended artifact against the FULL-corpus oracle: a lost
    // append, a double append, or stale probe selection all fail the
    // hash.
    "ii11_positional_append" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs = Tables.load(s, dir, "documents")
      val path = s"${QueryTmp.dir("posidx11")}/postings"
      InvertedIndex.buildPositional(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text")
        .write.parquet(path)
      InvertedIndex.appendPositional(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path)
      val postings = graftbridge.readParquet(s, path)
      val top = InvertedIndex.topGramByDf(docs, "text", 2)
      InvertedIndex.searchPhrase(postings, "doc_id", top)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"))
    },

    // Canonical text normalization (lowercase, punctuation → space,
    // whitespace collapse) — the scan-stage preprocessing ahead of
    // exact dedup / fingerprinting; pure codegen Column expressions,
    // char-class-only regexes so the oracle replays them exactly.
    "t8_normalize" -> { (s, dir) =>
      val n = normalizeText(col("text"))
      Tables.load(s, dir, "documents").select(
        col("doc_id"), n.as("norm_text"),
        length(col("text")).as("n_before"), length(n).as("n_after"))
    },

    // Strided token-window chunking (the RAG / fixed-context splitter):
    // 32-token chunks at stride 24 (8-token overlap), each tagged with
    // its index and token count; chunk text re-joins with single spaces
    // so the oracle's list-slice replay (the d14 contract) is byte-exact.
    "t10_chunk_windows" -> { (s, dir) =>
      graft.operators.Chunking.chunkDocuments(
        Tables.load(s, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 24)
        .select(col("doc_id"), col("chunk_ix"), col("n_tokens"), col("chunk"))
    },

    // Exact dedup on document text (all-distinct at test SFs — the
    // degenerate case — but the operator is the single-shuffle groupBy).
    "d1_exact_dedup_docs" -> { (s, dir) =>
      Dedup.exactDedup(Tables.load(s, dir, "documents"), "doc_id", Seq("text"))
        .select(col("doc_id"), col("n_copies"))
    },

    // Exact dedup with real duplicate groups: lineitems per (part, supp).
    "d2_exact_dedup_lineitem" -> { (s, dir) =>
      Dedup.exactDedup(Tables.load(s, dir, "lineitem"), "l_orderkey", Seq("l_partkey", "l_suppkey"))
    },

    // MinHash-LSH near-dup pairs, verified with exact Jaccard — the oracle
    // is the full pairwise join, so this checks end-to-end recall too.
    "d3_minhash_neardup" -> { (s, dir) =>
      Dedup.minhashNearDupPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        bands = 16) // pinned: gate oracles replay the banding; production default is AutoBands
    },

    // Character-5-gram MinHash variant.
    "d4_ngram_neardup" -> { (s, dir) =>
      Dedup.ngramJaccardNearDupPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        bands = 16)
    },

    // Near-dup GROUP resolution: connected components over the verified
    // MinHash pairs — every clustered doc mapped to its component's min
    // id (the keep/drop decision a dedup pipeline actually emits).
    // Oracle: DuckDB recursive-CTE transitive closure over the same
    // exact-Jaccard pair list.
    "d6_dedup_groups" -> { (s, dir) =>
      val pairs = Dedup.minhashNearDupPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        bands = 16)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp").as("keep_id"))
    },

    // Quality-aware CANONICAL selection over the d6 clusters: each
    // clustered doc maps to its cluster's argmax-length member (ties to
    // min id) — the retention policy real curation wants (keep the most
    // complete variant), vs d6/d7's blind min-id keep. The score join
    // touches clustered ids only; the per-cluster argmax is a
    // map-side-combined struct max, no window sort.
    "d15_canonical_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.canonicalKeep(docs, "doc_id", "text", length(col("text")), bands = 16)
    },

    // SimHash near-dup pairs, hash-gated: the oracle replays the exact
    // FNV-1a + bit-tally sketch in DuckDB (mod-2^64 HUGEINT arithmetic)
    // and enumerates all pairs at hamming <= 3 — chunk blocking is
    // exhaustive at that radius by pigeonhole, so blocked == all-pairs.
    "d5_simhash_neardup" -> { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },

    // Token statistics per document.
    "t1_token_stats" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        round(avgTokenLen(col("text")), 4).as("avg_len"))
    },

    // End-to-end near-dedup: the kept corpus after collapsing every
    // near-dup cluster to its min-id member (d3 pairs → d6 components →
    // anti-join). The deliverable a training pipeline ships.
    "d7_near_dedup_corpus" -> { (s, dir) =>
      Dedup.nearDedupKeep(Tables.load(s, dir, "documents"), "doc_id", "text", bands = 16)
        .select(col("doc_id"))
    },

    // BPE-style pre-tokenizer count (the "BPE-ish regex" half of the
    // token-counting mandate; whitespace counts are t1). The pattern is
    // char-class-only so Spark (Java regex) and the DuckDB oracle (RE2)
    // agree exactly.
    "t5_bpe_tokens" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"), bpeTokenCount(col("text")).as("n_bpe_tokens"))
    },

    // Quality scoring (stopword ratio + composite score).
    "t2_quality" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        round(stopwordRatio(col("text"), langProfiles.head._2), 4).as("stop_ratio"),
        qualityScore(col("text")).as("quality"))
    },

    // Language ID: per-profile scores + argmax with fixed tie-break.
    "t3_langid" -> { (s, dir) =>
      val scored = langScores(col("text"))
      Tables.load(s, dir, "documents").select(
        (col("doc_id") +: scored.map { case (l, c) => c.as(s"s_$l") }) :+
          langId(col("text")).as("lang_pred"): _*)
    },

    // Deterministic document fingerprint (polynomial rolling hash).
    "t4_fingerprint" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"), rollingHash(col("text")).as("fp"))
    },

    // Corpus-wide frequent n-grams: top-20 word bigrams by occurrence
    // with document frequency — boilerplate/contamination reconnaissance.
    // Narrow-first (r7): per-doc gram counts from the TokenCountsScan
    // map-explode make n a sum and n_docs a PLAIN count — the
    // count(DISTINCT doc_id) two-phase agg (the classic 100 TB distinct
    // bottleneck) is gone. One (gram) hash agg with map-side combine;
    // top-k is TakeOrderedAndProject, so only 20 rows reach the driver.
    "t7_common_ngrams" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(tokenGramCounts(col("text"), 2)).as(Seq("g", "cd")))
        .groupBy("g")
        .agg(sum(col("cd")).as("n"), count(lit(1)).as("n_docs"))
        .orderBy(col("n").desc, col("g"))
        .limit(20)
    },

    // Incremental near-dedup: a simulated daily batch (doc_id % 10 = 7)
    // screened against the rest of the corpus — kept rows are new docs
    // with no existing near-duplicate. Pairs expand only ACROSS sides
    // (the batch-ingest shape; within-batch dups are d7's concern).
    "d10_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDupKeep(
        docs.filter(col("doc_id") % 10 === 7), docs.filter(col("doc_id") % 10 =!= 7),
        "doc_id", "text")
        .select(col("doc_id"), col("lang"))
    },

    // d10's STEADY-STATE twin under the driver hash: the existing corpus's
    // LSH sketch is materialized to parquet and read back (the artifact a
    // real daily-batch pipeline persists), then the batch screens against
    // the saved sketch — existing docs are re-read only for candidate
    // verification. Same semantics as d10, so the oracle is shared. The
    // sketch write (a real job, like the cs1/js1 sink-roundtrip queries)
    // runs once per data dir and is memoized: bench warm-up + timed runs
    // re-read the SAME artifact instead of re-writing a temp dir per
    // invocation.
    "d12_sketch_incremental_dedup" -> { (s, dir) => sketchScreen(s, dir) },

    // Sketch MAINTENANCE (r15): an earlier accepted batch is appended to
    // the persisted sketch (batch-sized — appendToMinhashSketch), then
    // today's batch screens against the appended artifact. Closes the
    // staleness loop d12 left open: without the append, near-dups of the
    // % 10 = 8 batch would silently pass. Oracle = rebuild-then-screen.
    "d17_sketch_append_screen" -> { (s, dir) => appendSketchScreen(s, dir) },

    // Incremental SimHash screening (r15): the fourth near-dup signal
    // joins the incremental matrix (minhash d10-d13, SRP v10/v12,
    // SemDeDup v11/v13/v14). The saved sketch is SELF-SUFFICIENT — the
    // 64-bit sims ride in the artifact, so verification is bit_count(xor)
    // with ZERO corpus re-reads. Guard pinned to exact enumeration
    // (chunk blocking is exhaustive at hamming <= 3 by pigeonhole, so
    // the oracle enumerates all cross pairs with no guard replay).
    "d19_simhash_incremental" -> { (s, dir) => simhashScreen(s, dir, append = false) },

    // d19's MAINTENANCE twin (the d17 shape on the SimHash family): the
    // accepted % 10 = 8 batch enters the saved sketch via
    // appendToSimhashSketch, then today's batch screens against the
    // appended artifact. Oracle identical to d19 (screen-after-append ≡
    // rebuild-then-screen).
    "d20_simhash_append_screen" -> { (s, dir) => simhashScreen(s, dir, append = true) },

    // Bloom-pruned incremental EXACT dedup (d12's cheaper sibling: same
    // daily-batch split, equality instead of near-dup). The existing
    // corpus's Bloom is the persisted artifact (memoized per dir like
    // d12's sketch — bit-array OR merges commute, so the bits are
    // deterministic); the batch is screened by a map-only codegen probe
    // and only Bloom candidates reach the verification join, which makes
    // the result EXACT — the oracle is plain NOT EXISTS on text.
    "d13_bloom_incremental_exact" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 10 =!= 7)
      val bloom = bloomBytes.synchronized {
        bloomBytes.getOrElseUpdate(dir,
          Dedup.exactKeyBloom(existing, Seq("text")))
      }
      Dedup.incrementalExactKeep(
        docs.filter(col("doc_id") % 10 === 7), existing, Seq("text"), bloom)
        .select(col("doc_id"), col("lang"))
    }
  )

  /** Persisted-Bloom artifact per data dir (see d13). */
  private val bloomBytes = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]

  /** d12's body, also the bench-only `d12_screen_steady` entry: screen
    * the daily batch against the persisted sketch. The first call per
    * data dir pays the sketch write (the correctness gate deliberately
    * includes the parquet roundtrip); later calls measure pure
    * steady-state screening — the shape a daily 100 TB batch runs.
    */
  def sketchScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val existing = docs.filter(col("doc_id") % 10 =!= 7)
    // locked: getOrElseUpdate may run its default twice under
    // contention, which would write the sketch into two temp dirs
    val out = sketchDir.synchronized {
      sketchDir.getOrElseUpdate(dir, {
        // QueryTmp.dir (not a raw createTempDirectory): registers the
        // shutdown cleanup — otherwise every Bench/Verify run strands a
        // full-corpus sketch parquet in /tmp
        val d = QueryTmp.dir("sketch-q")
        Dedup.minhashSketch(existing, "doc_id", "text")
          .write.mode("overwrite").parquet(d)
        d
      })
    }
    Dedup.incrementalNearDupKeepWithSketch(
      docs.filter(col("doc_id") % 10 === 7), graftbridge.readParquet(s, out), existing,
      "doc_id", "text")
      .select(col("doc_id"), col("lang"))
  }

  /** Materialized-sketch path per data dir (see d12). */
  private val sketchDir = scala.collection.concurrent.TrieMap.empty[String, String]

  /** d17's body: the sketch-MAINTENANCE closure of d12's steady state.
    * The persisted sketch covers only part of the existing corpus
    * (doc_id % 10 ∉ {7, 8}); an earlier accepted batch (% 10 = 8) enters
    * it via [[Dedup.appendToMinhashSketch]] — batch-sized, fragment rows
    * appended under the artifact lock — and TODAY's batch (% 10 = 7)
    * screens against the appended artifact. Semantics must equal
    * rebuild-then-screen, so the oracle is d10's SQL verbatim (old side =
    * everything ∉ batch 7): the hash gate fails if the appended fragments
    * are mis-keyed, dropped, or double-screened. Fixture memoized per dir
    * like d12 (append-once; re-appends would be screen-idempotent anyway,
    * but the timed bench runs should measure the screen, not re-appends).
    */
  def appendSketchScreen(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val existingAll = docs.filter(col("doc_id") % 10 =!= 7)
    val out = appendSketchDir.synchronized {
      appendSketchDir.getOrElseUpdate(dir, {
        val d = QueryTmp.dir("sketch-append-q")
        Dedup.minhashSketch(
            docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8),
            "doc_id", "text")
          .write.mode("overwrite").parquet(d)
        Dedup.appendToMinhashSketch(
          docs.filter(col("doc_id") % 10 === 8), "doc_id", "text", d)
        d
      })
    }
    Dedup.incrementalNearDupKeepWithSketch(
      docs.filter(col("doc_id") % 10 === 7), graftbridge.readParquet(s, out), existingAll,
      "doc_id", "text")
      .select(col("doc_id"), col("lang"))
  }

  /** Appended-sketch path per data dir (see d17). */
  private val appendSketchDir = scala.collection.concurrent.TrieMap.empty[String, String]

  /** d19/d20's body: screen today's batch (doc_id % 10 = 7) against a
    * persisted SimHash sketch — built over the whole old side (d19), or
    * built over ∉ {7, 8} and MAINTAINED by appending the accepted
    * % 10 = 8 batch (d20). Both must hash-match the same oracle:
    * screen-after-append ≡ rebuild-then-screen. Fixtures memoized per
    * (dir, variant) like d12/d17.
    */
  def simhashScreen(s: SparkSession, dir: String, append: Boolean): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val out = simhashSketchDir.synchronized {
      simhashSketchDir.getOrElseUpdate((dir, append), {
        val d = QueryTmp.dir(if (append) "shsketch-append-q" else "shsketch-q")
        if (append) {
          Dedup.simhashSketch(
              docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8),
              "doc_id", "text")
            .write.mode("overwrite").parquet(d)
          Dedup.appendToSimhashSketch(
            docs.filter(col("doc_id") % 10 === 8), "doc_id", "text", d)
        } else {
          Dedup.simhashSketch(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text")
            .write.mode("overwrite").parquet(d)
        }
        d
      })
    }
    Dedup.incrementalSimhashKeep(
      docs.filter(col("doc_id") % 10 === 7), graftbridge.readParquet(s, out),
      "doc_id", "text", maxBucketSize = Int.MaxValue)
      .select(col("doc_id"), col("lang"))
  }

  /** Materialized SimHash-sketch path per (data dir, appended) (see d19/d20). */
  private val simhashSketchDir =
    scala.collection.concurrent.TrieMap.empty[(String, Boolean), String]

  /** ONE copy of the SimHash replay (FNV-1a token hash + bit tally in
    * mod-2^64 HUGEINT, signed conversion, per-doc `sim`) — shared by the
    * d5 pair oracle, the d19/d20 incremental oracles, and st4's
    * sequential closure (PipelineQueries), so a fix to the replay can
    * never desynchronize one gate from the others. `s2` carries only
    * docs with NON-NULL text, exactly the population `simhashFrame`
    * sketches — a null-text doc must be invisible to matching (the impl
    * keeps it on the batch side, unmatchable), not a phantom sim-0 row.
    * Empty-but-non-null text legitimately sketches to 0 (the COALESCE).
    */
  private[queries] val simhashReplayCtes: String =
    """tok AS (
         SELECT d.doc_id, u.t
         FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(t)
         WHERE u.t <> ''),
       th AS (
         SELECT doc_id,
           list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(string_split(t,''), c -> ascii(c)::HUGEINT)),
             (h, c) -> (xor(h, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
         FROM tok),
       bits AS (
         SELECT th.doc_id, i.i,
                sum(CASE WHEN (th.h >> i.i) % 2 = 1 THEN 1 ELSE -1 END) AS acc
         FROM th, (SELECT unnest(range(64)) AS i) i
         GROUP BY th.doc_id, i.i),
       sims AS (
         SELECT b.doc_id,
                sum(CASE WHEN b.acc > 0 THEN (1::HUGEINT << b.i) ELSE 0::HUGEINT END) AS usim
         FROM bits b GROUP BY b.doc_id),
       s2 AS MATERIALIZED (
         SELECT d.doc_id,
                COALESCE(CASE WHEN s.usim >= 9223372036854775808::HUGEINT
                     THEN (s.usim - 18446744073709551616::HUGEINT)::BIGINT
                     ELSE s.usim::BIGINT END, 0) AS sim
         FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
         LEFT JOIN sims s USING (doc_id))"""

  /** Shared d19/d20 replay (see the oracle-map comment). */
  private val simhashIncrementalOracle: String =
    s"""WITH $simhashReplayCtes,
       matched AS (
         SELECT DISTINCT n.doc_id
         FROM s2 n JOIN s2 o ON n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
         WHERE bit_count(xor(n.sim, o.sim)) <= 3)
       SELECT doc_id, lang FROM documents
       WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM matched)"""

  val oracles: Map[String, String] = Map(
    "t8_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS norm_text,
           len(text)::INTEGER AS n_before,
           len(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')))::INTEGER AS n_after
         FROM documents""",
    // Start grid 0, 24, 48, … while start < n; slices clip at the end on
    // both engines, so the tail chunk's n_tokens is n - start.
    "t10_chunk_windows" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         c AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) > 0),
         x AS (SELECT doc_id, u.i AS ix, ts, n
               FROM c, UNNEST(generate_series(0, (n - 1) // 24)) AS u(i))
         SELECT doc_id, ix::INT AS chunk_ix,
           least(32, n - ix * 24)::INT AS n_tokens,
           array_to_string(ts[ix * 24 + 1 : ix * 24 + 32], ' ') AS chunk
         FROM x""",
    "ii3_index_append" ->
      """WITH p AS (
           SELECT DISTINCT doc_id, u.t AS token FROM (
             SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
             FROM documents), UNNEST(ts) AS u(t)),
         top2 AS (
           SELECT token FROM (
             SELECT token, count(*) AS df FROM p GROUP BY token
             ORDER BY df DESC, token ASC LIMIT 2)),
         hits AS (
           SELECT doc_id FROM p JOIN top2 USING (token)
           GROUP BY doc_id HAVING count(DISTINCT token) = 2)
         SELECT h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    // append == rebuild for the positional layout: the incrementally-
    // appended index must serve exactly the full-corpus phrase search
    // (ii2's oracle verbatim — the appended artifact is a
    // materialization detail, the d12/d17 convention)
    "ii11_positional_append" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         gr AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS g
                FROM tk WHERE len(ts) >= 2),
         top1 AS (SELECT g FROM (
                    SELECT g, count(DISTINCT doc_id) AS n_docs FROM gr GROUP BY g
                    ORDER BY n_docs DESC, g ASC LIMIT 1)),
         w AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM top1),
         pos AS (SELECT doc_id, ts[i] AS token, i AS pos
                 FROM tk, UNNEST(range(1, len(ts) + 1)) AS u(i)),
         hits AS (SELECT DISTINCT p1.doc_id
                  FROM pos p1 JOIN pos p2
                    ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1, w
                  WHERE p1.token = w.w1 AND p2.token = w.w2)
         SELECT h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    "ii2_phrase_search" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         gr AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS g
                FROM tk WHERE len(ts) >= 2),
         top1 AS (SELECT g FROM (
                    SELECT g, count(DISTINCT doc_id) AS n_docs FROM gr GROUP BY g
                    ORDER BY n_docs DESC, g ASC LIMIT 1)),
         w AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM top1),
         pos AS (SELECT doc_id, ts[i] AS token, i AS pos
                 FROM tk, UNNEST(range(1, len(ts) + 1)) AS u(i)),
         hits AS (SELECT DISTINCT p1.doc_id
                  FROM pos p1 JOIN pos p2
                    ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1, w
                  WHERE p1.token = w.w1 AND p2.token = w.w2)
         SELECT h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    // batched == N independent AND searches: top-4 df tokens (df desc,
    // token asc) split in consecutive pairs; membership per query via
    // ii1's count-distinct bar, query_ix-tagged
    "ii10_and_batch" ->
      """WITH p AS (
           SELECT DISTINCT doc_id, u.t AS token FROM (
             SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
             FROM documents), UNNEST(ts) AS u(t)),
         top4 AS (
           SELECT token,
             ((row_number() OVER (ORDER BY df DESC, token ASC) - 1) // 2)::INT AS query_ix
           FROM (SELECT token, count(*) AS df FROM p GROUP BY token
                 ORDER BY df DESC, token ASC LIMIT 4)),
         hits AS (
           SELECT t.query_ix, p.doc_id FROM p JOIN top4 t USING (token)
           GROUP BY t.query_ix, p.doc_id HAVING count(DISTINCT p.token) = 2)
         SELECT h.query_ix, h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    // batched == N independent phrase searches: both probes replayed
    // (top df bigram AND trigram, tie toward the smallest gram), each
    // phrase's membership via the same adjacency semantics as ii2 —
    // the anchor-vote formulation is a plan detail under the hash
    "ii9_phrase_batch" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                     FROM documents),
         gr2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS g
                FROM tk WHERE len(ts) >= 2),
         top2 AS (SELECT g FROM (
                    SELECT g, count(DISTINCT doc_id) AS n_docs FROM gr2 GROUP BY g
                    ORDER BY n_docs DESC, g ASC LIMIT 1)),
         gr3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
                FROM tk WHERE len(ts) >= 3),
         top3 AS (SELECT g FROM (
                    SELECT g, count(DISTINCT doc_id) AS n_docs FROM gr3 GROUP BY g
                    ORDER BY n_docs DESC, g ASC LIMIT 1)),
         w2 AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM top2),
         w3 AS (SELECT string_split(g, ' ')[1] AS u1, string_split(g, ' ')[2] AS u2,
                       string_split(g, ' ')[3] AS u3 FROM top3),
         pos AS (SELECT doc_id, ts[i] AS token, i AS pos
                 FROM tk, UNNEST(range(1, len(ts) + 1)) AS u(i)),
         h0 AS (SELECT DISTINCT p1.doc_id
                FROM pos p1 JOIN pos p2
                  ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1, w2
                WHERE p1.token = w2.w1 AND p2.token = w2.w2),
         h1 AS (SELECT DISTINCT p1.doc_id
                FROM pos p1 JOIN pos p2
                  ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                JOIN pos p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2, w3
                WHERE p1.token = w3.u1 AND p2.token = w3.u2 AND p3.token = w3.u3),
         hits AS (SELECT 0::INT AS query_ix, doc_id FROM h0
                  UNION ALL SELECT 1::INT, doc_id FROM h1)
         SELECT h.query_ix, h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    "ii1_inverted_search" ->
      """WITH p AS (
           SELECT DISTINCT doc_id, u.t AS token FROM (
             SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
             FROM documents), UNNEST(ts) AS u(t)),
         top2 AS (
           SELECT token FROM (
             SELECT token, count(*) AS df FROM p GROUP BY token
             ORDER BY df DESC, token ASC LIMIT 2)),
         hits AS (
           SELECT doc_id FROM p JOIN top2 USING (token)
           GROUP BY doc_id HAVING count(DISTINCT token) = 2)
         SELECT h.doc_id, d.lang FROM hits h JOIN documents d USING (doc_id)""",
    "ii4_bm25_rank" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token FROM tf GROUP BY token
           ORDER BY count(*) DESC, token ASC LIMIT 3),
         m AS (SELECT tf.* FROM tf JOIN probe USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id)
         SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    // FileSystem-abstracted maintenance == local maintenance == rebuild:
    // the file:-scheme'd artifact must serve exactly the full-corpus
    // ranking (the ii5 replay — the store must be invisible)
    "ii12_fs_artifact" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token FROM tf GROUP BY token
           ORDER BY count(*) DESC, token ASC LIMIT 3),
         m AS (SELECT tf.* FROM tf JOIN probe USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id)
         SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    // append == rebuild: the incrementally-appended scored index with
    // MERGED stats must serve exactly the full-corpus ranking
    "ii5_bm25_append" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token FROM tf GROUP BY token
           ORDER BY count(*) DESC, token ASC LIMIT 3),
         m AS (SELECT tf.* FROM tf JOIN probe USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id)
         SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    // batched == N independent: each query's rows replay ii4's
    // arithmetic exactly — probe = top-9 df tokens (df desc, token asc)
    // split into consecutive triples; df per token over the union match
    // (probe tokens are distinct across queries, so the probe join
    // never multiplies rows); per-query top-10 via the same
    // (score desc, doc_id asc) deterministic cut
    "ii8_bm25_batch" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token,
             ((row_number() OVER (ORDER BY dfp DESC, token ASC) - 1) // 3)::INT AS query_ix
           FROM (SELECT token, count(*) AS dfp FROM tf GROUP BY token
                 ORDER BY dfp DESC, token ASC LIMIT 9)),
         m AS (SELECT tf.*, pr.query_ix FROM tf JOIN probe pr USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.query_ix, m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.query_ix, m.doc_id)
         SELECT query_ix, doc_id, score FROM sc
         QUALIFY row_number() OVER (PARTITION BY query_ix
           ORDER BY score DESC, doc_id ASC) <= 10""",
    // sidecar-attached == rebuild: a new session attaching the appended
    // artifact off disk state alone must serve the full-corpus ranking
    "ii7_bm25_attach" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token FROM tf GROUP BY token
           ORDER BY count(*) DESC, token ASC LIMIT 3),
         m AS (SELECT tf.* FROM tf JOIN probe USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id)
         SELECT doc_id, score, true AS from_sidecar
         FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    // feed-maintained == rebuild: the snapshot CDC feed drives the index
    // append, and the result must serve exactly the full-corpus ranking
    "ii6_feed_index_maintenance" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
           FROM documents),
         tf AS (
           SELECT doc_id, u.t AS token, count(*)::DOUBLE AS tf
           FROM tk, UNNEST(ts) AS u(t) GROUP BY doc_id, u.t),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         probe AS (
           SELECT token FROM tf GROUP BY token
           ORDER BY count(*) DESC, token ASC LIMIT 3),
         m AS (SELECT tf.* FROM tf JOIN probe USING (token)),
         df AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         sc AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id)
         SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    "d1_exact_dedup_docs" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text",
    "d2_exact_dedup_lineitem" ->
      """SELECT l_partkey, l_suppkey, min(l_orderkey) AS l_orderkey, count(*) AS n_copies
         FROM lineitem GROUP BY l_partkey, l_suppkey""",
    "d3_minhash_neardup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                  || ' ' || string_split(text,' ')[i+2])) AS s
           FROM documents WHERE len(string_split(text,' ')) >= 3)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""",
    "d4_ngram_neardup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(text) - 3),
             i -> substring(text, i, 5))) AS s
           FROM documents WHERE len(text) >= 5)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""",
    "d6_dedup_groups" ->
      """WITH RECURSIVE sh AS (
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
         ed AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM ed
           UNION
           SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a)
         SELECT a AS doc_id, min(b) AS keep_id FROM reach GROUP BY a""",
    // d6's closure relabeled per cluster, then the canonical member by
    // (len(text) DESC, doc_id ASC) — the same argmax canonicalKeep's
    // (score, −id) struct max computes.
    "d15_canonical_dedup" ->
      """WITH RECURSIVE sh AS (
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
         ed AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM ed
           UNION
           SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
         scored AS (
           SELECT c.doc_id, c.comp, len(d.text) AS score
           FROM comp c JOIN documents d USING (doc_id)),
         canon AS (
           SELECT comp, doc_id AS canonical_id,
             row_number() OVER (PARTITION BY comp ORDER BY score DESC, doc_id ASC) AS rn
           FROM scored)
         SELECT s.doc_id, c.canonical_id
         FROM scored s JOIN canon c ON s.comp = c.comp AND c.rn = 1""",
    "d7_near_dedup_corpus" ->
      """WITH RECURSIVE sh AS (
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
         ed AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM ed
           UNION
           SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (
           SELECT a FROM reach GROUP BY a HAVING a != min(b))""",
    "t5_bpe_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+')) AS n_bpe_tokens
         FROM documents""",
    "t1_token_stats" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
                     FROM documents)
         SELECT doc_id, len(ts)::INTEGER AS n_tokens, len(list_distinct(ts))::INTEGER AS n_distinct,
           round(list_sum(list_transform(ts, t -> len(t)))::DOUBLE / len(ts), 4) AS avg_len
         FROM tk""",
    "t2_quality" ->
      s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
                      FROM documents)
         SELECT doc_id,
           round(len(list_filter(ts, t -> t IN $enStop))::DOUBLE / len(ts), 4) AS stop_ratio,
           round(least(len(ts),100)::DOUBLE/100*0.7
                 + len(list_filter(ts, t -> t IN $enStop))::DOUBLE/len(ts)*0.3, 4) AS quality
         FROM tk""",
    "t3_langid" ->
      s"""WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
                      FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(ts, t -> t IN $enStop))::INTEGER AS s_en,
           len(list_filter(ts, t -> t IN $deStop))::INTEGER AS s_de,
           len(list_filter(ts, t -> t IN $esStop))::INTEGER AS s_es,
           len(list_filter(ts, t -> t IN $frStop))::INTEGER AS s_fr
           FROM tk)
         SELECT doc_id, s_en, s_de, s_es, s_fr,
           CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred
         FROM sc""",
    // Exact SimHash replay: FNV-1a64 per token (HUGEINT mod-2^64), per-bit
    // tally over token occurrences, sign -> bit, then all pairs at
    // hamming <= 3 (equivalent to the 4x16-bit chunk blocking at radius 3).
    "d5_simhash_neardup" ->
      s"""WITH $simhashReplayCtes
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.sim, b.sim))::INTEGER AS hamming
         FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sim, b.sim)) <= 3""",
    "t4_fingerprint" ->
      """SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM documents""",
    "t7_common_ngrams" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
                     FROM documents),
         gr AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                  i -> ts[i] || ' ' || ts[i+1])) AS g
                FROM tk WHERE len(ts) >= 2)
         SELECT g, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM gr GROUP BY g ORDER BY n DESC, g LIMIT 20""",
    "d10_incremental_dedup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                  || ' ' || string_split(text,' ')[i+2])) AS s
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         hit AS (
           SELECT n.doc_id
           FROM sh n JOIN sh o
             ON n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
           WHERE len(list_intersect(n.s, o.s))::DOUBLE
                 / len(list_distinct(list_concat(n.s, o.s))) >= 0.8)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM hit)""",
    // identical semantics to d10 — the sketch is a materialization detail
    "d12_sketch_incremental_dedup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                  || ' ' || string_split(text,' ')[i+2])) AS s
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         hit AS (
           SELECT n.doc_id
           FROM sh n JOIN sh o
             ON n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
           WHERE len(list_intersect(n.s, o.s))::DOUBLE
                 / len(list_distinct(list_concat(n.s, o.s))) >= 0.8)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM hit)""",
    // identical semantics to d10 again — screen-after-append must equal
    // rebuild-then-screen, so the appended artifact is a materialization
    // detail exactly like d12's sketch (old side = all docs ∉ batch 7,
    // which is base ∪ the appended % 10 = 8 batch)
    "d17_sketch_append_screen" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                  || ' ' || string_split(text,' ')[i+2])) AS s
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         hit AS (
           SELECT n.doc_id
           FROM sh n JOIN sh o
             ON n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
           WHERE len(list_intersect(n.s, o.s))::DOUBLE
                 / len(list_distinct(list_concat(n.s, o.s))) >= 0.8)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM hit)""",
    // d5's full SimHash replay (FNV-1a + bit tally in HUGEINT), split
    // into batch/existing sides: matched = batch docs with ANY old-side
    // doc at hamming <= 3 (blocking exhaustive at that radius by
    // pigeonhole, so the enumeration needs no bucket replay); the result
    // is the batch anti-joined against them. Shared by d19 (sketch built
    // whole) and d20 (sketch maintained by append) — the artifact's
    // construction must be a materialization detail.
    "d19_simhash_incremental" -> simhashIncrementalOracle,
    "d20_simhash_append_screen" -> simhashIncrementalOracle,
    // exact-equality screen: Bloom + verification join ≡ NOT EXISTS
    "d13_bloom_incremental_exact" ->
      """SELECT n.doc_id, n.lang FROM documents n
         WHERE n.doc_id % 10 = 7 AND NOT EXISTS (
           SELECT 1 FROM documents e
           WHERE e.doc_id % 10 <> 7 AND e.text = n.text)"""
  )
}
