package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Similarity-search queries over the `embeddings` table (64-dim float
  * vectors). The cosine formula shape (dot / (sqrt·sqrt), double
  * arithmetic, round 6) is mirrored exactly in the DuckDB oracles.
  */
object VectorQueries {

  private val DIM = 64

  /** pq family parameters: 4 subspaces × 16 dims, 8 centroids each,
    * 3 quantized-Lloyd's iterations (first-k init — oracle-replayable).
    */
  private val PqM = 4
  private val PqK = 8
  private val PqIters = 3

  /** One PQ fit per data dir, shared by pq0/pq1 (the sketchDir pattern —
    * the fit is the model artifact, re-deriving it per query would time
    * the fit thrice and cache-miss the oracle's read-back contract).
    */
  private val pqModels =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[graft.operators.KMeans.Model]]

  /** Fitted two-level router per data dir (see v14) — one fit per dir so
    * bench repeats time the screen, not the (deterministic) refits.
    */
  private val hierModels = scala.collection.concurrent.TrieMap
    .empty[String, (graft.operators.KMeans.Model, graft.operators.KMeans.Model)]
  private def pqFit(s: SparkSession, dir: String): Seq[graft.operators.KMeans.Model] =
    pqModels.synchronized {
      val emb = Tables.load(s, dir, "embeddings")
      // key includes the input fingerprint (KMeans.fitCached's contract):
      // keyed on dir alone, an in-place re-stage of the embeddings within
      // one JVM would serve stale codebooks against fresh oracles
      pqModels.getOrElseUpdate((dir, graft.operators.KMeans.inputFingerprint(emb)),
        graft.operators.Quantize.productQuantize(
          emb, "vec_id", "embedding", PqM, PqK, PqIters)._1)
    }

  /** (vec_id, sub_idx, code) assignments from the cached fit — pq1's
    * output and pq2's corpus side.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.pqEncode(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", pqFit(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Product-quantization codebooks (the PQ in IVF-PQ): per-subspace
    // k-means over contiguous 16-dim slices. The oracle replays all four
    // quantized Lloyd's fits (km0's arithmetic, sliced) — any divergence
    // in init, assignment ties, integer centroid updates, or empty-
    // cluster carry fails the hash.
    "pq0_codebooks" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Quantize.pqCodebook(s, pqFit(s, dir))
        .select(col("sub_idx"), col("cluster"), col("dim_idx"), col("value"))
    },

    // PQ codes: nearest codebook centroid per subspace per vector —
    // m·log2(k) = 12 bits per 64-dim vector. The oracle reads the pq0
    // export back (__OUT__, the km1 pattern) and replays assignment in
    // the same double arithmetic and tie order.
    "pq1_pq_codes" -> { (s, dir) => pqCodes(s, dir) },

    // ADC kNN over the PQ codes — the PQ search path: full-precision
    // query × codebook lookup tables (m·k doubles, broadcast), corpus
    // distance = m table lookups folded in fixed order; no corpus
    // vector is decoded. Oracle replays LUT + lookup-fold + rank from
    // the pq0/pq1 exports.
    "pq2_adc_knn" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      graft.operators.Quantize.pqAdcKnn(
        e.filter(col("vec_id") < 20), pqCodes(s, dir),
        graft.operators.Quantize.pqCodebook(s, pqFit(s, dir)),
        "vec_id", "embedding", PqM, PqK, topK = 5)
    },

    // Full IVF-PQ: the km0 coarse quantizer routes each query to 3
    // probe cells, and ONLY those cells' code arrays are ADC-scored —
    // ~nprobe/k of the codes table per query, vectors never decoded.
    // Oracle composes the km2 cell/probe replay (km0 export) with the
    // pq2 LUT/fold replay (pq0/pq1 exports).
    "pq3_ivfpq_knn" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val coarse = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding", 8, 5)
      graft.operators.Quantize.ivfPqKnn(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", coarse, nprobe = 3,
        pqCodes(s, dir), graft.operators.Quantize.pqCodebook(s, pqFit(s, dir)),
        PqM, PqK, topK = 5)
    },
    // Exact brute-force top-5 neighbors for the first 20 vectors.
    "v1_knn_bruteforce" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceKnn(
        e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    },

    // Exact all-pairs cosine >= 0.45 (embedding near-dup at this corpus's
    // similarity ceiling; data has no planted dup vectors). BOUNDED
    // verification gate (vec_id < 1000, same treatment as v5): the O(n²)
    // product exists to pin the cosine arithmetic against ground truth,
    // not to run at corpus scale — v3 gates the SRP-LSH scale path on
    // the full corpus.
    "v2_cosine_pairs" -> { (s, dir) =>
      Similarity.exactCosinePairs(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "vec_id", "embedding", 0.45)
    },

    // ANN (SRP-LSH) near-pairs — the scale path. Hash-gated: the SRP
    // hyperplanes are a deterministic xorshift64* stream from the seed,
    // so the oracle replays plane generation (recursive-CTE PRNG in
    // mod-2^64 HUGEINT), sign bits, bucket collisions, and the cosine
    // verification in DuckDB; recall vs exact is additionally spec'd in
    // VectorSpec.
    "v3_ann_srp_pairs" -> { (s, dir) =>
      // bits pinned (gates replay the exact hyperplane stream; the
      // production default is the corpus-sized AutoBits contract)
      Similarity.annCosinePairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", DIM, 0.45,
        bits = 6)
    },

    // The SCALE operating point of the same ANN pipeline: bits = 10
    // (the documented contract is bits ≈ log2(n/bucket), so larger
    // corpora run wider keys), tables = 12 — this gate replays the
    // bits=10 hyperplane stream in the oracle, putting the scale-bits
    // contract itself under the driver hash instead of only under
    // in-container probes. Fewer survivors than v3 by design (collision
    // probability falls as p^bits): candidate RECALL at a given bits is
    // spec'd in VectorSpec, this row pins exactness of the re-keyed path.
    "v3b_ann_srp_scalebits" -> { (s, dir) =>
      Similarity.annCosinePairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", DIM, 0.45,
        bits = 10, tables = 12)
    },

    // ANN kNN GRAPH over the full corpus: every vector's top-3
    // approximate cosine neighbors, candidates from SRP bucket
    // collisions only (never all-pairs) — the substrate of
    // embedding-space curation (SemDeDup-style pruning, diversity
    // scoring, graph ANN indexes). Ranking is a bounded top-k heap per
    // id (CollectTopK — partials trim to k before the shuffle, no window
    // sort); ties on exact cosine break by neighbor id, the v1
    // contract. The oracle replays the v3 hyperplane stream, symmetrizes
    // the collision pairs, and ranks with the same (cos DESC, id ASC)
    // window.
    "v7_ann_knn_graph" -> { (s, dir) =>
      Similarity.annKnnGraph(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", DIM, k = 3, bits = 6)
    },

    // PageRank centrality over the v7 kNN graph — representativeness
    // scoring (high rank = the vectors a semantic region points AT), the
    // complement of near-dup pruning. Fixed 3 iterations, damping 0.85,
    // dangling mass dropped by contract — every arithmetic choice
    // deterministic so the oracle replays the graph construction AND the
    // three propagation rounds; (1 − d) is COMPUTED on both sides (a
    // 0.15 literal would not be the same double).
    "v8_knn_pagerank" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val edges = Similarity.annKnnGraph(emb, "vec_id", "embedding", DIM, k = 3, bits = 6)
      graft.operators.Graph.pageRank(edges, "vec_id", "neighbor", emb, "vec_id",
        iters = 3, damping = 0.85)
        .select(col("vec_id"), round(col("pagerank"), 8).as("pagerank"))
    },

    // Similarity-WEIGHTED PageRank with dangling-mass redistribution
    // over the same v7 graph — the curation-relevant variant: mass flows
    // proportionally to each edge's cosine (v7's `sim`), and the rank of
    // no-out-edge vectors spreads uniformly each round instead of
    // leaking (the textbook stochastic completion). Same fixed-iteration
    // replay contract as v8: the oracle replays the graph construction,
    // the per-edge w/W(u) weighting, AND the per-round dangling sum.
    "v8b_knn_pagerank_weighted" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val edges = Similarity.annKnnGraph(emb, "vec_id", "embedding", DIM, k = 3, bits = 6)
      graft.operators.Graph.pageRank(edges, "vec_id", "neighbor", emb, "vec_id",
        iters = 3, damping = 0.85, weightCol = Some("sim"), redistributeDangling = true)
        .select(col("vec_id"), round(col("pagerank"), 8).as("pagerank"))
    },

    // Embedding near-dup GROUP resolution: connected components over the
    // exact cosine pairs — each near-dup vector mapped to its cluster's
    // min id (the keep decision). BOUNDED exact verification gate
    // (vec_id < 1000): v6 gates the identical composition on the ANN
    // scale path over the full corpus; this exact twin exists to pin the
    // CC semantics against a ground-truth pair list, so it runs at a
    // fixed small n — the O(n²) side must never be the bench's cost
    // center (r6: the unbounded form was 13.5 s of an 80-query suite).
    "v5_embed_dedup_groups" -> { (s, dir) =>
      val pairs = Similarity.exactCosinePairs(
        Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "vec_id", "embedding", 0.45)
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("comp").as("keep_id"))
    },

    // Hybrid lexical+semantic dedup groups: docs are near-dups if their
    // TEXTS match (MinHash-LSH-verified Jaccard >= 0.8) OR their
    // EMBEDDINGS match (SRP-LSH ANN-verified cosine >= 0.45) — the two
    // signals' pair lists union into one connected-components pass.
    // doc_id and vec_id align 1:1 in the testdata, standing in for a
    // corpus with per-doc embeddings. BOTH sides run their scale plan
    // (bucketed LSH, never all-pairs) — r6 shipped the exact-cosine side
    // here and it alone cost 85 s of the 118 s driver bench; the oracle
    // replays the SRP hyperplane stream (v3/v6's CTE) so the ANN side
    // stays hash-gated.
    // Hybrid SEARCH — RRF fusion of a lexical and a semantic candidate
    // list (the retrieval half of the hybrid story; x1 is the dedup
    // half): BM25 top-20 for the corpus's top-3-df probe (ii4's
    // pipeline) fused with cosine top-20 around the min-vec_id query
    // embedding (v1's pipeline) via reciprocal-rank fusion at the
    // published k=60. Ranks derive from 6dp-rounded scores with id
    // tiebreaks and the fused score rounds before the top-10 cut, so
    // the ENTIRE fusion arithmetic — both retrievals, both rank
    // assignments, the 1/(60+r) sum — replays under the driver hash.
    "x2_hybrid_search_rrf" -> { (s, dir) =>
      import graft.operators.{InvertedIndex, Retrieval}
      val docs = Tables.load(s, dir, "documents")
      // materialized, not just declared: probe selection, corpus stats
      // and the search each read the postings — un-materialized, the
      // explode+groupBy+window build plan would re-execute per reader
      // (3× the build cost, measured 56 s vs 20 s at the 100× probe)
      val scored = InvertedIndex.materializeScored(
        docs, "doc_id", "text", QueryTmp.dir("x2idx") + "/postings")
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      val lex = InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 20)
      val emb = Tables.load(s, dir, "embeddings")
      val qv = emb.orderBy(col("vec_id").asc).limit(1)
      // .limit(20) is a semantic no-op (one query × k = 20 ranks by
      // construction) that makes the cut-list bound STATICALLY provable,
      // so rrfFuse's contract preflight passes without a count job
      // re-executing the kNN lineage
      val sem = Similarity.bruteForceKnn(
          qv, emb, "vec_id", "embedding", "vec_id", "embedding", k = 20)
        .select(col("neighbor").as("doc_id"), col("sim").as("score"))
        .limit(20)
      Retrieval.rrfFuse(Seq(lex -> "score", sem -> "score"), "doc_id", k = 60, topK = 10)
    },

    // BATCHED hybrid search — the serving-tier composition end to end:
    // THREE hybrid queries (lexical probe triples from the top-9 df
    // tokens; semantic query vectors = the 3 smallest vec_ids, mapped to
    // query_ix by vec_id rank) served from ONE union-pruned postings
    // read (searchBm25Batch, top-20 per query) + ONE corpus scoring pass
    // (bruteForceKnn already broadcasts all queries, top-20 per query),
    // fused per query by rrfFuseBatch at the published k=60. Per-query
    // rows equal three independent x2-shaped stacks (spec-pinned); the
    // oracle replays both legs, both per-query rank derivations, and
    // the per-query fused cut.
    "x3_hybrid_search_batch" -> { (s, dir) =>
      import graft.operators.{InvertedIndex, Retrieval}
      val docs = Tables.load(s, dir, "documents")
      val scored = InvertedIndex.materializeScored(
        docs, "doc_id", "text", QueryTmp.dir("x3idx") + "/postings")
      val triples = InvertedIndex.topTokensByDf(scored, 9).grouped(3).toSeq
      val lex = InvertedIndex.searchBm25Batch(scored, "doc_id", triples, topK = 20)
      val emb = Tables.load(s, dir, "embeddings")
      // the 3 smallest vec_ids collected ONCE (3-row driver boundary,
      // the probe-selector convention) — feeding both the query-side
      // filter and the ix map from one pass, where a shared sort-limit
      // subtree would re-scan and re-sort the table in each consumer
      val qids = emb.select(col("vec_id")).orderBy(col("vec_id").asc).limit(3)
        .collect().map(_.getLong(0)).toSeq
      val qv = emb.filter(col("vec_id").isin(qids: _*))
      // query_ix = rank of the SELECTED vec_ids ascending (assigned
      // before the knn's zero-norm query filter, so a zero-norm query
      // would keep its slot and simply return no rows — replayable)
      import s.implicits._
      val ixMap = qids.sorted.zipWithIndex
        .map { case (id, ix) => (id, ix) }.toDF("qid", "query_ix")
      // .limit(60) on each leg is a semantic no-op (3 queries × top-20
      // per query by construction) that makes the cut-list bound
      // STATICALLY provable, so rrfFuseBatch's preflight passes without
      // count jobs re-executing the batched-search / knn lineage (the
      // x2 convention)
      val sem = Similarity.bruteForceKnn(
          qv, emb, "vec_id", "embedding", "vec_id", "embedding", k = 20)
        .join(ixMap, "qid")
        .select(col("query_ix"), col("neighbor").as("doc_id"), col("sim").as("score"))
        .limit(60)
      Retrieval.rrfFuseBatch(Seq(lex.limit(60) -> "score", sem -> "score"),
        "doc_id", "query_ix", k = 60, topK = 10)
    },

    "x1_hybrid_dedup_groups" -> { (s, dir) =>
      val txt = graft.operators.Dedup.minhashNearDupPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", bands = 16)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val emb = Similarity.annCosinePairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", DIM, 0.45, bits = 6)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.operators.Dedup.connectedComponents(txt.unionByName(emb), "a", "b")
        .select(col("id").as("doc_id"), col("comp").as("keep_id"))
    },

    // Embedding near-dup groups on the SCALE path: connected components
    // over the SRP-LSH ANN pairs (v3) instead of the O(n²) exact pairs
    // (v5) — the composition a 100 TB corpus actually runs. Hash-gated:
    // the oracle replays the hyperplane stream, bucket collisions,
    // cosine verification AND the transitive closure.
    "v6_ann_dedup_groups" -> { (s, dir) =>
      val pairs = Similarity.annCosinePairs(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", DIM, 0.45, bits = 6)
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("comp").as("keep_id"))
    },

    // SemDeDup-style semantic dedup groups: candidates restricted to
    // each vector's k-means CELL (the data-adaptive complement of v6's
    // random-hyperplane buckets — near-dups concentrate in cells by
    // construction), exact cosine inside the cell, then connected
    // components to the min-id keep. Hash-gated end to end: the oracle
    // replays the km0 centroid assignment (the km1/s6 CTE), the
    // within-cell pair scoring, AND the transitive closure.
    "v9_semdedup_groups" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding",
        k = 8, maxIters = 5)
      // carry the vector through assign's own projection — the former
      // re-attaching self-join on vec_id produced identical rows but
      // shuffled the corpus twice at scale (r19 optimization round)
      val assigned = graft.operators.KMeans.assign(e, "vec_id", "embedding", model,
        carry = Seq("embedding"))
      // maxCellSize pinned to exact enumeration: the oracle replays the
      // FULL within-cell join, so the guard (a floating default) must
      // never silently truncate the gate as the corpus grows
      val pairs = Similarity.clusterCosinePairs(
        assigned, "vec_id", "embedding", "cluster", 0.45,
        maxCellSize = Int.MaxValue)
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("vec_id"), col("comp").as("keep_id"))
    },

    // INCREMENTAL SemDeDup screening — the daily-batch shape on the
    // CELL-partitioned family: both sides assigned with the SAME cached
    // router model (the fixed-router pipeline convention — re-fitting
    // per batch would silently re-key every cell), candidates restricted
    // to new-vs-old within the shared cell, exact cosine verified,
    // matches anti-joined out of the batch. maxCellSize pinned to exact
    // enumeration (the v9 reasoning). Hash-gated end to end: the oracle
    // replays the km0 centroid assignment for BOTH sides, the
    // cell-restricted new-vs-old scoring, and the anti-join.
    "v11_incremental_semdedup" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding",
        k = 8, maxIters = 5)
      val old = e.filter(col("vec_id") % 10 =!= 7)
      val batch = e.filter(col("vec_id") % 10 === 7)
      def assigned(part: org.apache.spark.sql.DataFrame) =
        graft.operators.KMeans.assign(part, "vec_id", "embedding", model,
          carry = Seq("embedding", "label")) // rows ≡ the former self-join (r19)
      Similarity.incrementalSemDedupKeep(assigned(batch), assigned(old),
          "vec_id", "embedding", "cluster", 0.45, maxCellSize = Int.MaxValue)
        .select(col("vec_id"), col("label"))
    },

    // INCREMENTAL ANN screening — the d10/d12 daily-batch shape on the
    // EMBEDDING side: the existing corpus's SRP sketch is materialized
    // to parquet and read back (the artifact a real pipeline persists),
    // then ONLY the batch (vec_id % 10 = 7) is hashed and screened
    // against the saved buckets, with exact-cosine verification on
    // candidates and the per-side bucket guard. Output = the batch with
    // verified near-matches dropped. Hash-gated end to end: the oracle
    // replays the hyperplane stream for BOTH sides, the split-side
    // bucket guard, the cosine verification, and the anti-join.
    "v10_incremental_ann_keep" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val old = emb.filter(col("vec_id") % 10 =!= 7)
      val batch = emb.filter(col("vec_id") % 10 === 7)
      val sketchPath = s"${QueryTmp.dir("srpsketch")}/sketch"
      Similarity.srpSketch(old, "vec_id", "embedding", DIM, bits = 6)
        .write.mode("overwrite").parquet(sketchPath)
      Similarity.incrementalAnnKeep(
        batch, graftbridge.readParquet(s, sketchPath), old,
        "vec_id", "embedding", DIM, 0.45, bits = 6)
        .select(col("vec_id"), col("label"))
    },

    // Sketch MAINTENANCE on the vector side (r15, d17's twin): the saved
    // SRP sketch covers only vec_id % 10 ∉ {7, 8}; the earlier-accepted
    // % 10 = 8 batch enters it via appendToSrpSketch (batch-sized,
    // fragment rows under the artifact lock), then today's batch screens
    // against the appended artifact. Screen-after-append must equal
    // rebuild-then-screen, so the oracle replays the hyperplane stream
    // for the COMBINED old side. The bucket guard is pinned to exact
    // enumeration (the v9/v11 convention) because an appended bucket
    // spans fragment rows and the production guard is deliberately
    // per-fragment — a floating default must never decide the gate.
    "v12_sketch_append_screen" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val old = emb.filter(col("vec_id") % 10 =!= 7)
      val sketchPath = s"${QueryTmp.dir("srpsketch-append")}/sketch"
      Similarity.srpSketch(
          emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 8),
          "vec_id", "embedding", DIM, bits = 6)
        .write.mode("overwrite").parquet(sketchPath)
      Similarity.appendToSrpSketch(
        emb.filter(col("vec_id") % 10 === 8), "vec_id", "embedding", DIM,
        sketchPath, bits = 6)
      Similarity.incrementalAnnKeep(
        emb.filter(col("vec_id") % 10 === 7), graftbridge.readParquet(s, sketchPath), old,
        "vec_id", "embedding", DIM, 0.45, bits = 6, maxBucketSize = Int.MaxValue)
        .select(col("vec_id"), col("label"))
    },

    // Assigned-corpus MAINTENANCE (r15, the v11 analog of the sketch
    // appends): the persisted assigned table covers vec_id % 10 ∉ {7, 8};
    // the accepted % 10 = 8 batch — routed by the SAME cached km0 model,
    // the fixed-router contract — is folded in via appendAssigned, then
    // today's batch screens against the read-back table. Oracle = v11's
    // replay verbatim (old side = everything ∉ batch 7).
    "v13_assigned_append_screen" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding",
        k = 8, maxIters = 5)
      def assigned(part: org.apache.spark.sql.DataFrame) =
        graft.operators.KMeans.assign(part, "vec_id", "embedding", model,
          carry = Seq("embedding", "label")) // rows ≡ the former self-join (r19)
      val path = s"${QueryTmp.dir("assigned-append")}/assigned"
      assigned(e.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 8))
        .write.mode("overwrite").parquet(path)
      Similarity.appendAssigned(assigned(e.filter(col("vec_id") % 10 === 8)), path)
      Similarity.incrementalSemDedupKeep(
        assigned(e.filter(col("vec_id") % 10 === 7)), graftbridge.readParquet(s, path),
        "vec_id", "embedding", "cluster", 0.45, maxCellSize = Int.MaxValue)
        .select(col("vec_id"), col("label"))
    },

    // Hierarchical-router INCREMENTAL SemDeDup (r15, the composition the
    // r14 spec pinned, promoted to a declared oracle gate): both sides
    // routed by the SAME fixed TWO-LEVEL router (fitHierarchical on the
    // full corpus — coarse k=8 then fine k=4 on coarse residuals, both
    // the exact fixed-point Lloyd's the km0 oracle replays), composite
    // cell = coarse·k2 + fine via the fused native expression, then the
    // v11 screen on the cell key. The oracle is fully self-contained:
    // it replays BOTH Lloyd's fits (the fine one over replayed
    // residuals), the two-level routing for every vector, and the
    // cell-restricted new-vs-old cosine screen. maxCellSize pinned
    // exact (the v9/v11 convention).
    "v14_incremental_semdedup_hier" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val (coarse, fine) = hierModels.synchronized {
        hierModels.getOrElseUpdate(dir,
          Similarity.fitHierarchical(e, "vec_id", "embedding", k1 = 8, k2 = 4, maxIters = 5))
      }
      def assignedH(part: org.apache.spark.sql.DataFrame) =
        Similarity.hierarchicalCells(part, "vec_id", "embedding", coarse, fine,
          carry = Seq("embedding", "label")) // rows ≡ the former self-join (r19)
      Similarity.incrementalSemDedupKeep(
        assignedH(e.filter(col("vec_id") % 10 === 7)),
        assignedH(e.filter(col("vec_id") % 10 =!= 7)),
        "vec_id", "embedding", "cell", 0.45, maxCellSize = Int.MaxValue)
        .select(col("vec_id"), col("label"))
    },

    // Vector norms via the codegen'd VectorDot expression.
    "v4_vector_norms" -> { (s, dir) =>
      Tables.load(s, dir, "embeddings").select(
        col("vec_id"),
        round(VectorFunctions.vecNorm(col("embedding")), 6).as("norm"),
        size(col("embedding")).as("dim"))
    },

    // Fitted k-means model export — HASH-GATED (r6): KMeans.fit runs in
    // exact fixed-point arithmetic (quantized long sums, truncating
    // integer centroid divide, left-to-right double distance folds), so
    // the oracle replays the ENTIRE 5-iteration Lloyd's fit in DuckDB —
    // init, every assignment round, every centroid update — and the
    // centroids must agree bit-for-bit (see km0OracleSql). Exported as
    // scalar (cluster, dim_idx, value) rows; the km1/km2 oracles also
    // read them back via __OUT__ and replay ASSIGNMENT and SCORING.
    // Convergence quality is additionally spec'd in ScaleOpsSpec.
    "km0_centroids" -> { (s, dir) =>
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding", k = 8, maxIters = 5)
      model.centroids.toSeq.zipWithIndex
        .flatMap { case (c, ci) => c.toSeq.zipWithIndex.map { case (v, di) => (ci, di, v) } }
        .toDF("cluster", "dim_idx", "value")
    },

    // K-means clustering (iterative broadcast + partition-partial Lloyd's,
    // the reference's DistributedKMeans workload) — hash-gated: the oracle
    // replays nearest-centroid assignment from the km0_centroids export.
    "km1_kmeans_sizes" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding", k = 8, maxIters = 5)
      graft.operators.KMeans.assign(e, "vec_id", "embedding", model)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_points"))
    },

    // IVF ANN: corpus bucketed by nearest centroid, queries probe 3 cells
    // — hash-gated via the km0_centroids export (cells, probes, cosine
    // top-k all replayed in SQL); recall vs brute force in ScaleOpsSpec.
    "km2_ivf_knn" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = graft.operators.KMeans.fitCached(e, dir, "vec_id", "embedding", k = 8, maxIters = 5)
      graft.operators.KMeans.ivfKnn(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", model, nprobe = 3, topK = 5)
    },

    // Int8 scalar quantization (the SQ8-before-IVF compression step):
    // per-dimension min/max → codes, exploded to scalar rows for the
    // hash gate. floor-based double math replays bit-exactly in SQL.
    "vq1_quantize_int8" -> { (s, dir) =>
      graft.operators.Quantize.scalarQuantizeInt8(
        Tables.load(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim_idx", "code")))
    }
  )

  /** km0 oracle: replays the ENTIRE quantized Lloyd's fit
    * ([[graft.operators.KMeans.fit]]) in DuckDB SQL — init (first k
    * vectors by id), `iters` unrolled assignment+update rounds, final
    * centroids as (cluster, dim_idx, value). Bit-exact parity holds
    * because the fit's sums are integers (order-free: DuckDB's parallel
    * SUM and Spark's treeAggregate must agree), its centroid divide is
    * truncating integer division (DuckDB `//` == Scala Long `/`), and
    * its distances fold dequantized doubles dim-ascending — the exact
    * IEEE sequence `list_reduce` performs. Ties in the argmin go to the
    * lowest cluster id on both sides (strict `<` vs `row_number` ordered
    * by (d, cluster)); empty clusters carry the previous centroid.
    */
  /** pq0 oracle: km0's quantized-Lloyd's replay, once per subspace over
    * the 1-based slice `embedding[off+1 : off+d]`, CTEs tag-prefixed,
    * finals unioned with sub_idx. Same bit-exactness argument as km0
    * (integer sums, truncating centroid divide, dim-ascending IEEE
    * distance folds, (d, cluster) tie order, empty-cluster carry).
    */
  /** ONE shared quantized-Lloyd's CTE chain (tag-prefixed names, slice
    * `embedding[off+1 : off+d]`), instantiated by BOTH km0 (tag "", full
    * width) and pq0 (one chain per subspace): any future fix to the
    * replay arithmetic — tie order, empty-cluster carry, quantization
    * rounding — lands once instead of drifting between the two oracles.
    */
  /** `srcSelect` overrides the quantized-input CTE body (`SELECT vec_id,
    * ... AS qv FROM ...`) so the same fixed-point Lloyd's replay can run
    * over a DERIVED vector table (the v14 fine fit over residuals); the
    * default replays the raw embedding slice exactly as before.
    */
  private def lloydChain(tg: String, off: Int, d: Int, k: Int, iters: Int, S: String,
      srcSelect: Option[String] = None): String = {
    val dims = s"(SELECT unnest(range(1, ${d + 1})) AS r) t"
    def iterBlock(i: Int): String = {
      val prev = s"${tg}c${i - 1}"
      s"""${tg}dist$i AS (
           SELECT e.vec_id, c.cluster,
             list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
               j -> (e.qv[j]::DOUBLE / $S - c.cq[j]::DOUBLE / $S)
                  * (e.qv[j]::DOUBLE / $S - c.cq[j]::DOUBLE / $S))),
               (x, y) -> x + y) AS d
           FROM ${tg}ed e CROSS JOIN $prev c),
         ${tg}a$i AS (
           SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
             FROM ${tg}dist$i) WHERE rn = 1),
         ${tg}n$i AS (SELECT cluster, count(*) AS cnt FROM ${tg}a$i GROUP BY cluster),
         ${tg}s$i AS (
           SELECT a.cluster, q.dim_idx, sum(q.q) AS sq
           FROM ${tg}a$i a JOIN ${tg}eq q USING (vec_id) GROUP BY a.cluster, q.dim_idx),
         ${tg}c$i AS (
           SELECT g.cluster,
             list(CASE WHEN n.cnt IS NULL THEN p.cq[g.dim_idx]
                       ELSE (2 * s.sq + n.cnt) // (2 * n.cnt) END ORDER BY g.dim_idx) AS cq
           FROM ${tg}grid g
           JOIN $prev p ON p.cluster = g.cluster
           LEFT JOIN ${tg}s$i s ON s.cluster = g.cluster AND s.dim_idx = g.dim_idx
           LEFT JOIN ${tg}n$i n ON n.cluster = g.cluster
           GROUP BY g.cluster)"""
    }
    val src = srcSelect.getOrElse(
      s"""SELECT vec_id,
                list_transform(embedding[${off + 1}:${off + d}],
                  x -> CAST(floor(x::DOUBLE * $S + 0.5) AS BIGINT)) AS qv
         FROM embeddings""")
    s"""${tg}ed AS (
         $src),
       ${tg}eq AS (
         SELECT vec_id, t.r AS dim_idx, qv[t.r] AS q
         FROM ${tg}ed, $dims),
       ${tg}grid AS (
         SELECT c.cluster, t.r AS dim_idx
         FROM (SELECT unnest(range(0, $k)) AS cluster) c, $dims),
       ${tg}c0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster, qv AS cq
         FROM (SELECT vec_id, qv FROM ${tg}ed ORDER BY vec_id LIMIT $k)),
       ${(1 to iters).map(iterBlock).mkString(",\n")}"""
  }

  private def pqOracleSql(m: Int, k: Int, d: Int, iters: Int, scale: Long): String = {
    val S = s"$scale.0"
    val dims = s"(SELECT unnest(range(1, ${d + 1})) AS r) t"
    val chains = (0 until m).map(si => lloydChain(s"p$si", si * d, d, k, iters, S)).mkString(",\n")
    val finals = (0 until m).map { si =>
      s"""SELECT $si::INTEGER AS sub_idx, c.cluster::INTEGER AS cluster,
            (t.r - 1)::INTEGER AS dim_idx, c.cq[t.r]::DOUBLE / $S AS value
          FROM p${si}c$iters c, $dims"""
    }.mkString("\nUNION ALL\n")
    s"WITH $chains\n$finals"
  }

  /** v14's self-contained replay: coarse Lloyd's fit (the km0 chain) →
    * coarse routing of every vector → residuals → FINE Lloyd's fit over
    * the replayed residuals (the same chain, source overridden) → fine
    * routing → composite cell = coarse·k2 + fine → the v11 screen on the
    * cell key. Negative residual parity is exact: DuckDB `//` truncates
    * toward zero like the JVM's long division, and `floor(x·S + 0.5)`
    * quantizes negatives identically on both sides.
    */
  private def v14OracleSql(k1: Int, k2: Int, dim: Int, iters: Int, scale: Long): String = {
    val S = s"$scale.0"
    val fineSrc =
      s"""SELECT vec_id,
                list_transform(rv, x -> CAST(floor(x::DOUBLE * $S + 0.5) AS BIGINT)) AS qv
         FROM residv"""
    def sqdist(vexpr: String, cexpr: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}),
           j -> ($vexpr[j] - $cexpr[j]) * ($vexpr[j] - $cexpr[j]))), (x, y) -> x + y)"""
    s"""WITH ${lloydChain("", 0, dim, k1, iters, S)},
       cdc AS MATERIALIZED (SELECT cluster, list_transform(cq, x -> x::DOUBLE / $S) AS cd FROM c$iters),
       edd AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       cdist AS (
         SELECT e.vec_id, c.cluster, ${sqdist("e.v", "c.cd")} AS d
         FROM edd e CROSS JOIN cdc c),
       casg AS MATERIALIZED (
         SELECT vec_id, cluster FROM (
           SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM cdist) WHERE rn = 1),
       residv AS MATERIALIZED (
         SELECT e.vec_id,
                list_transform(range(1, ${dim + 1}), j -> e.v[j] - c.cd[j]) AS rv
         FROM edd e JOIN casg a USING (vec_id) JOIN cdc c ON c.cluster = a.cluster),
       ${lloydChain("f", 0, dim, k2, iters, S, Some(fineSrc))},
       fdc AS MATERIALIZED (SELECT cluster, list_transform(cq, x -> x::DOUBLE / $S) AS cd FROM fc$iters),
       rdist AS (
         SELECT r.vec_id, c.cluster, ${sqdist("r.rv", "c.cd")} AS d
         FROM residv r CROSS JOIN fdc c),
       fasg AS MATERIALIZED (
         SELECT vec_id, cluster FROM (
           SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM rdist) WHERE rn = 1),
       av AS MATERIALIZED (
         SELECT c.vec_id, c.cluster * $k2 + f.cluster AS cell, e.v
         FROM casg c JOIN fasg f USING (vec_id) JOIN edd e USING (vec_id)),
       matched AS (
         SELECT DISTINCT x.vec_id
         FROM av x JOIN av y ON x.cell = y.cell
         WHERE x.vec_id % 10 = 7 AND y.vec_id % 10 <> 7
           AND list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.45)
       SELECT e.vec_id, e.label FROM embeddings e
       WHERE e.vec_id % 10 = 7 AND e.vec_id NOT IN (SELECT vec_id FROM matched)"""
  }

  private def km0OracleSql(k: Int, dim: Int, iters: Int, scale: Long): String = {
    val S = s"$scale.0"
    val dims = s"(SELECT unnest(range(1, ${dim + 1})) AS r) t"
    // tag "" + full-width slice = the plain fit; the slice
    // `embedding[1:dim]` is the whole list, so the shared chain replays
    // identically to the previous unsliced form
    s"""WITH ${lloydChain("", 0, dim, k, iters, S)}
       SELECT c.cluster::INTEGER AS cluster, (t.r - 1)::INTEGER AS dim_idx,
              c.cq[t.r]::DOUBLE / $S AS value
       FROM c$iters c, $dims"""
  }

  /** CTE chain replaying [[graft.functions.SrpKeys]] at ANY
    * (bits, tables) operating point: hyperplane stream (xorshift64* in
    * HUGEINT, `tables*bits*dim` draws), sign-bit bucket keys (plane `p`
    * → table `p // bits`, bit `p % bits`), candidate collisions —
    * INCLUDING the `maxBucketSize = 1000` hot-bucket guard
    * (`bsz`/`WHERE s.n <= 1000`), so a fixture whose vectors cluster
    * into an oversized bucket drops it on BOTH sides instead of
    * silently diverging. Used by the v3/v3b (pairs), v6 (groups) and x1
    * (hybrid) oracles; v3b instantiates it at the SCALE parameterization
    * (bits = 10), putting the documented bits ≈ log2(n/bucket) contract
    * itself under the driver hash.
    */
  private def srpReplayCte(bits: Int, tables: Int, dim: Int = DIM): String = {
    val draws = tables * bits * dim
    s"""rng(n, s) AS (
           SELECT 0, 42::HUGEINT
           UNION ALL
           SELECT n + 1, xor(B, B >> 27) FROM (
             SELECT n, xor(A, (A * 33554432::HUGEINT) % 18446744073709551616::HUGEINT) AS B
             FROM (SELECT n, s, xor(s, s >> 12) AS A FROM rng WHERE n < $draws))),
         vals AS (
           SELECT n - 1 AS idx,
                  ((s * 2685821657736338717::HUGEINT) % 18446744073709551616::HUGEINT >> 11)::DOUBLE
                    / 9007199254740992.0 * 2.0 - 1.0 AS d
           FROM rng WHERE n >= 1),
         planes AS (
           SELECT idx // $dim AS p, list(d ORDER BY idx) AS pl
           FROM vals GROUP BY idx // $dim),
         ed AS (SELECT * FROM (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
           WHERE list_dot_product(v, v) > 0),
         sb AS (
           SELECT e.vec_id, pl.p // $bits AS t,
                  CASE WHEN list_dot_product(e.v, pl.pl) > 0 THEN (1::BIGINT << (pl.p % $bits)) ELSE 0 END AS bit
           FROM ed e, planes pl),
         keys AS (SELECT vec_id, t, sum(bit) AS k FROM sb GROUP BY vec_id, t),
         bsz AS (SELECT t, k, count(*) AS n FROM keys GROUP BY t, k),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keys a
           JOIN keys b ON a.t = b.t AND a.k = b.k AND a.vec_id < b.vec_id
           JOIN bsz s ON s.t = a.t AND s.k = a.k
           WHERE s.n <= 1000)"""
  }

  val oracles: Map[String, String] = Map(
    "km0_centroids" -> km0OracleSql(8, DIM, 5, graft.operators.KMeans.QuantScale),
    "v14_incremental_semdedup_hier" ->
      v14OracleSql(8, 4, DIM, 5, graft.operators.KMeans.QuantScale),
    "pq0_codebooks" -> pqOracleSql(PqM, PqK, DIM / PqM, PqIters, graft.operators.KMeans.QuantScale),
    // assignment replay from the pq0 export (km1's pattern, per
    // subspace): same double arithmetic (slice cast, dim-ascending
    // fold) and (d, cluster) tie order as Model.nearest.
    "pq1_pq_codes" ->
      s"""WITH cb AS (
            SELECT sub_idx, cluster, list(value ORDER BY dim_idx) AS centroid
            FROM read_parquet('__OUT__/pq0_codebooks/*.parquet') GROUP BY sub_idx, cluster),
          ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          sub AS (
            SELECT vec_id, s.si::INTEGER AS sub_idx,
                   v[s.si * ${DIM / PqM} + 1 : s.si * ${DIM / PqM} + ${DIM / PqM}] AS sv
            FROM ed, (SELECT unnest(range(0, $PqM)) AS si) s),
          dist AS (
            SELECT vec_id, sub_idx, cluster,
              list_reduce(list_prepend(0.0, list_transform(range(1, ${DIM / PqM + 1}),
                i -> (sv[i] - centroid[i]) * (sv[i] - centroid[i]))), (x, y) -> x + y) AS d
            FROM sub JOIN cb USING (sub_idx)),
          a AS (
            SELECT vec_id, sub_idx, cluster,
              row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY d ASC, cluster ASC) AS rn
            FROM dist)
          SELECT vec_id, sub_idx, cluster::INTEGER AS code FROM a WHERE rn = 1""",
    "pq2_adc_knn" -> {
      val d = DIM / PqM
      s"""WITH cb AS (
            SELECT sub_idx, cluster, list(value ORDER BY dim_idx) AS centroid
            FROM read_parquet('__OUT__/pq0_codebooks/*.parquet') GROUP BY sub_idx, cluster),
          q AS (SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv
                FROM embeddings WHERE vec_id < 20),
          lut AS (
            SELECT qid, sub_idx, cluster,
              list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
                i -> (qv[sub_idx * $d + i] - centroid[i]) * (qv[sub_idx * $d + i] - centroid[i]))),
                (x, y) -> x + y) AS ld
            FROM q CROSS JOIN cb),
          lutw AS (SELECT qid, list(ld ORDER BY sub_idx, cluster) AS lut FROM lut GROUP BY qid),
          cw AS (SELECT vec_id AS neighbor, list(code ORDER BY sub_idx) AS cds
                 FROM read_parquet('__OUT__/pq1_pq_codes/*.parquet') GROUP BY vec_id),
          sc AS (
            SELECT qid, neighbor,
              round(list_reduce(list_prepend(0.0, list_transform(range(0, $PqM),
                si -> lut[si * $PqK + cds[si + 1] + 1])), (x, y) -> x + y), 6) AS adc_dist
            FROM cw CROSS JOIN lutw WHERE neighbor <> qid),
          r AS (
            SELECT qid, neighbor, adc_dist,
              row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, neighbor ASC) AS rn
            FROM sc)
          SELECT qid, neighbor, adc_dist, rn::INTEGER AS rn FROM r WHERE rn <= 5"""
    },
    "pq3_ivfpq_knn" -> {
      val d = DIM / PqM
      s"""WITH c AS (
            SELECT cluster, list(value ORDER BY dim_idx) AS centroid
            FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
          ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          cdist AS (
            SELECT e.vec_id, e.v, c.cluster,
              list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
                i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
            FROM ed e CROSS JOIN c),
          ranked_cells AS (
            SELECT vec_id, v, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
            FROM cdist),
          cells AS (SELECT vec_id, cluster AS cell FROM ranked_cells WHERE rn = 1),
          probes AS (SELECT vec_id AS qid, cluster AS cell
                     FROM ranked_cells WHERE vec_id < 20 AND rn <= 3),
          cb AS (
            SELECT sub_idx, cluster, list(value ORDER BY dim_idx) AS centroid
            FROM read_parquet('__OUT__/pq0_codebooks/*.parquet') GROUP BY sub_idx, cluster),
          q AS (SELECT vec_id AS qid, v AS qv FROM ed WHERE vec_id < 20),
          lut AS (
            SELECT qid, sub_idx, cluster,
              list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
                i -> (qv[sub_idx * $d + i] - centroid[i]) * (qv[sub_idx * $d + i] - centroid[i]))),
                (x, y) -> x + y) AS ld
            FROM q CROSS JOIN cb),
          lutw AS (SELECT qid, list(ld ORDER BY sub_idx, cluster) AS lut FROM lut GROUP BY qid),
          cw AS (SELECT vec_id AS neighbor, list(code ORDER BY sub_idx) AS cds
                 FROM read_parquet('__OUT__/pq1_pq_codes/*.parquet') GROUP BY vec_id),
          cand AS (
            SELECT p.qid, cl.vec_id AS neighbor
            FROM probes p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.qid),
          sc AS (
            SELECT cand.qid, cand.neighbor,
              round(list_reduce(list_prepend(0.0, list_transform(range(0, $PqM),
                si -> lut[si * $PqK + cds[si + 1] + 1])), (x, y) -> x + y), 6) AS adc_dist
            FROM cand JOIN cw ON cw.neighbor = cand.neighbor JOIN lutw ON lutw.qid = cand.qid),
          r AS (
            SELECT qid, neighbor, adc_dist,
              row_number() OVER (PARTITION BY qid ORDER BY adc_dist ASC, neighbor ASC) AS rn
            FROM sc)
          SELECT qid, neighbor, adc_dist, rn::INTEGER AS rn FROM r WHERE rn <= 5"""
    },
    "vq1_quantize_int8" ->
      """WITH ex AS (SELECT vec_id, (u.i - 1)::INTEGER AS dim_idx, embedding[u.i]::DOUBLE AS v
                     FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         st AS (SELECT dim_idx, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim_idx)
         SELECT vec_id, dim_idx,
                (CASE WHEN mx = mn THEN 0
                      ELSE floor((v - mn) * 255.0 / (mx - mn))::BIGINT - 128 END)::INT AS code
         FROM ex JOIN st USING (dim_idx)""",
    // NB: embeddings are FLOAT lists; DuckDB's list_dot_product would
    // accumulate in float while Spark casts to double — cast to DOUBLE[]
    // first so both engines do the same double arithmetic.
    // The zero-norm exclusion (list_dot_product(v, v) > 0) mirrors the
    // Spark operators' guard on BOTH sides: without it one degenerate
    // all-zero embedding in the fixture would make DuckDB rank a
    // NaN-cosine row first (NaN sorts greatest) while Spark drops it —
    // a latent hash mismatch the moment the testdata carries one.
    "v1_knn_bruteforce" ->
      """WITH ed AS (SELECT * FROM (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
           WHERE list_dot_product(v, v) > 0),
         q AS (SELECT vec_id, v FROM ed WHERE vec_id < 20),
         pairs AS (
           SELECT q.vec_id AS qid, e.vec_id AS neighbor,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM q JOIN ed e ON e.vec_id <> q.vec_id),
         ranked AS (
           SELECT qid, neighbor, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rank
           FROM pairs)
         SELECT qid, neighbor, rank::INTEGER AS rank, round(cos, 6) AS sim FROM ranked WHERE rank <= 5""",
    "v2_cosine_pairs" ->
      """WITH ed AS (SELECT * FROM (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings WHERE vec_id < 1000)
           WHERE list_dot_product(v, v) > 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
         FROM ed a JOIN ed b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45""",
    "v5_embed_dedup_groups" ->
      """WITH RECURSIVE ed AS (
           SELECT * FROM (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings WHERE vec_id < 1000)
           WHERE list_dot_product(v, v) > 0),
         pr AS (
           SELECT a.vec_id AS da, b.vec_id AS db
           FROM ed a JOIN ed b ON a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
         eg AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM eg
           UNION
           SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a)
         SELECT a AS vec_id, min(b) AS keep_id FROM reach GROUP BY a""",
    // Text side: full-Jaccard ground truth (the MinHash gate d3 proves
    // LSH == this at the declared thresholds); embedding side: the SRP
    // hyperplane replay (v3/v6's CTE) — the oracle runs the SAME ANN
    // candidate set the Spark plan does, cosine-verified.
    // batched == N independent hybrid stacks: the ii8 lexical replay at
    // top-20 per query + the x2 cosine replay for the 3 smallest
    // vec_ids (query_ix by vec_id rank), per-query rank derivations and
    // the per-query fused cut — one desynchronized leg, a cross-query
    // contribution leak, or a global (not per-query) cut all fail the hash
    "x3_hybrid_search_batch" ->
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
         dfq AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         bm AS (
           SELECT m.query_ix, m.doc_id,
             round(sum(ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.query_ix, m.doc_id),
         lex AS (
           SELECT query_ix, doc_id, score FROM bm
           QUALIFY row_number() OVER (PARTITION BY query_ix
             ORDER BY score DESC, doc_id ASC) <= 20),
         ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         qs AS (
           SELECT vec_id, v,
             (row_number() OVER (ORDER BY vec_id ASC))::INT - 1 AS query_ix
           FROM ed ORDER BY vec_id ASC LIMIT 3),
         pairs AS (
           SELECT q.query_ix, e.vec_id AS doc_id,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM qs q JOIN ed e ON e.vec_id <> q.vec_id
           WHERE list_dot_product(q.v, q.v) > 0 AND list_dot_product(e.v, e.v) > 0),
         semr AS (
           SELECT query_ix, doc_id, round(cos, 6) AS score,
             row_number() OVER (PARTITION BY query_ix
               ORDER BY cos DESC, doc_id ASC) AS rk
           FROM pairs),
         sem AS (SELECT query_ix, doc_id, score FROM semr WHERE rk <= 20),
         lr AS (SELECT query_ix, doc_id,
             row_number() OVER (PARTITION BY query_ix
               ORDER BY score DESC, doc_id ASC) AS r FROM lex),
         sr AS (SELECT query_ix, doc_id,
             row_number() OVER (PARTITION BY query_ix
               ORDER BY score DESC, doc_id ASC) AS r FROM sem),
         u AS (
           SELECT query_ix, doc_id, 1.0::DOUBLE / (60 + r) AS c FROM lr
           UNION ALL
           SELECT query_ix, doc_id, 1.0::DOUBLE / (60 + r) AS c FROM sr),
         fin AS (
           SELECT query_ix, doc_id, round(sum(c), 6) AS rrf_score FROM u
           GROUP BY query_ix, doc_id)
         SELECT query_ix, doc_id, rrf_score FROM fin
         QUALIFY row_number() OVER (PARTITION BY query_ix
           ORDER BY rrf_score DESC, doc_id ASC) <= 10""",
    "x2_hybrid_search_rrf" ->
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
         dfq AS (SELECT token, count(*)::DOUBLE AS df FROM m GROUP BY token),
         bm AS (
           SELECT m.doc_id,
             round(sum(ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
               * m.tf * (1.2 + 1)
               / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / st.avgdl))), 6) AS score
           FROM m JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN st
           GROUP BY m.doc_id),
         lex AS (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id ASC LIMIT 20),
         ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         q AS (SELECT * FROM ed
           WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
             AND list_dot_product(v, v) > 0),
         pairs AS (
           SELECT e.vec_id AS doc_id,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM q JOIN ed e ON e.vec_id <> q.vec_id
           WHERE list_dot_product(e.v, e.v) > 0),
         semr AS (
           SELECT doc_id, round(cos, 6) AS score,
             row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rk
           FROM pairs),
         sem AS (SELECT doc_id, score FROM semr WHERE rk <= 20),
         lr AS (SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM lex),
         sr AS (SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM sem),
         u AS (
           SELECT doc_id, 1.0::DOUBLE / (60 + r) AS c FROM lr
           UNION ALL
           SELECT doc_id, 1.0::DOUBLE / (60 + r) AS c FROM sr)
         SELECT doc_id, round(sum(c), 6) AS rrf_score FROM u
         GROUP BY doc_id ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""",
    "x1_hybrid_dedup_groups" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split(text,' ')) - 1),
             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                  || ' ' || string_split(text,' ')[i+2])) AS s
           FROM documents WHERE len(string_split(text,' ')) >= 3),
         tp AS (
           SELECT a.doc_id AS da, b.doc_id AS db
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
         vp AS (
           SELECT c.id_a AS da, c.id_b AS db
           FROM cand c JOIN ed ea ON ea.vec_id = c.id_a JOIN ed eb ON eb.vec_id = c.id_b
           WHERE list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45),
         pr AS (SELECT da, db FROM tp UNION SELECT da, db FROM vp),
         eg AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM eg
           UNION
           SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a)
         SELECT a AS doc_id, min(b) AS keep_id FROM reach GROUP BY a""",
    "v4_vector_norms" ->
      """WITH ed AS (SELECT vec_id, embedding, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
         SELECT vec_id, round(sqrt(list_dot_product(v, v)), 6) AS norm,
           len(embedding)::INTEGER AS dim
         FROM ed""",
    // Full SRP-LSH replay: the xorshift64* hyperplane stream (12 tables ×
    // 6 bits × 64 dims = 4608 draws) is regenerated with mod-2^64 HUGEINT
    // arithmetic, sign bits and bucket keys recomputed, colliding pairs
    // cosine-verified — byte-identical to SrpKeys + annCosinePairs.
    "v3_ann_srp_pairs" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)}
         SELECT c.id_a, c.id_b,
                round(list_dot_product(ea.v, eb.v)
                  / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS sim
         FROM cand c JOIN ed ea ON ea.vec_id = c.id_a JOIN ed eb ON eb.vec_id = c.id_b
         WHERE list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45""",
    // v9's centroid-assignment replay split into batch and existing
    // sides: matched = batch ids with a same-cell old-side cosine >= t;
    // the result is the batch anti-joined against them.
    "v11_incremental_semdedup" ->
      """WITH
         c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
               FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
         ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         dist AS (
           SELECT e.vec_id, c.cluster,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
               i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
           FROM ed e CROSS JOIN c),
         asg0 AS (
           SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM dist),
         av AS MATERIALIZED (SELECT a0.vec_id, a0.cluster, ed.v
                FROM asg0 a0 JOIN ed USING (vec_id) WHERE a0.rn = 1),
         matched AS (
           SELECT DISTINCT x.vec_id
           FROM av x JOIN av y ON x.cluster = y.cluster
           WHERE x.vec_id % 10 = 7 AND y.vec_id % 10 <> 7
             AND list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.45)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id % 10 = 7 AND e.vec_id NOT IN (SELECT vec_id FROM matched)""",
    // v3's hyperplane replay, split into batch (vec_id % 10 = 7) and
    // existing sides with the incremental path's PER-SIDE bucket guard
    // (each side's bucket population <= 1000 — not the combined count),
    // cosine-verified new-vs-old candidates, then the anti-join: the
    // batch rows with no verified match. Zero-norm batch rows never
    // bucket and are KEPT.
    "v10_incremental_ann_keep" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         nk AS (SELECT * FROM keys WHERE vec_id % 10 = 7),
         ok AS (SELECT * FROM keys WHERE vec_id % 10 <> 7),
         nbz AS (SELECT t, k, count(*) AS n FROM nk GROUP BY t, k),
         obz AS (SELECT t, k, count(*) AS n FROM ok GROUP BY t, k),
         candn AS (
           SELECT DISTINCT a.vec_id AS nid, b.vec_id AS oid
           FROM nk a
           JOIN ok b ON a.t = b.t AND a.k = b.k
           JOIN nbz sn ON sn.t = a.t AND sn.k = a.k
           JOIN obz so ON so.t = a.t AND so.k = a.k
           WHERE sn.n <= 1000 AND so.n <= 1000),
         matched AS (
           SELECT DISTINCT c.nid
           FROM candn c JOIN ed ea ON ea.vec_id = c.nid JOIN ed eb ON eb.vec_id = c.oid
           WHERE list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id % 10 = 7 AND e.vec_id NOT IN (SELECT nid FROM matched)""",
    // v10's replay with the guard pinned off (the gate passes
    // maxBucketSize = Int.MaxValue — see the query comment): the
    // appended sketch must produce EXACTLY the candidates a rebuilt
    // combined-side sketch produces, so the old side here is simply
    // everything ∉ batch 7 (base ∪ the appended % 10 = 8 batch).
    "v12_sketch_append_screen" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         nk AS (SELECT * FROM keys WHERE vec_id % 10 = 7),
         ok AS (SELECT * FROM keys WHERE vec_id % 10 <> 7),
         candn AS (
           SELECT DISTINCT a.vec_id AS nid, b.vec_id AS oid
           FROM nk a JOIN ok b ON a.t = b.t AND a.k = b.k),
         matched AS (
           SELECT DISTINCT c.nid
           FROM candn c JOIN ed ea ON ea.vec_id = c.nid JOIN ed eb ON eb.vec_id = c.oid
           WHERE list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id % 10 = 7 AND e.vec_id NOT IN (SELECT nid FROM matched)""",
    // v11's replay verbatim — the appended assigned table is a
    // materialization detail; old side = everything ∉ batch 7.
    "v13_assigned_append_screen" ->
      """WITH
         c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
               FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
         ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         dist AS (
           SELECT e.vec_id, c.cluster,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
               i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
           FROM ed e CROSS JOIN c),
         asg0 AS (
           SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM dist),
         av AS MATERIALIZED (SELECT a0.vec_id, a0.cluster, ed.v
                FROM asg0 a0 JOIN ed USING (vec_id) WHERE a0.rn = 1),
         matched AS (
           SELECT DISTINCT x.vec_id
           FROM av x JOIN av y ON x.cluster = y.cluster
           WHERE x.vec_id % 10 = 7 AND y.vec_id % 10 <> 7
             AND list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.45)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id % 10 = 7 AND e.vec_id NOT IN (SELECT vec_id FROM matched)""",
    // v3's replay re-instantiated at the scale keying (bits=10): the
    // 7680-draw hyperplane stream, 10-bit bucket keys, and the surviving
    // collisions must all agree with SrpKeys at the re-sized parameters.
    "v3b_ann_srp_scalebits" ->
      s"""WITH RECURSIVE ${srpReplayCte(10, 12)}
         SELECT c.id_a, c.id_b,
                round(list_dot_product(ea.v, eb.v)
                  / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS sim
         FROM cand c JOIN ed ea ON ea.vec_id = c.id_a JOIN ed eb ON eb.vec_id = c.id_b
         WHERE list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45""",
    // v3's SRP replay, collision pairs symmetrized, cosine ranked per
    // source id with the v1 (cos DESC, neighbor ASC) window — byte-
    // identical to annKnnGraph's heap ranking (which compares unrounded
    // cosine and rounds only the emitted sim).
    "v7_ann_knn_graph" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         sym AS (SELECT id_a, id_b FROM cand UNION ALL SELECT id_b, id_a FROM cand),
         sc AS (
           SELECT s.id_a AS vec_id, s.id_b AS neighbor,
                  list_dot_product(ea.v, eb.v)
                    / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
           FROM sym s JOIN ed ea ON ea.vec_id = s.id_a JOIN ed eb ON eb.vec_id = s.id_b),
         ranked AS (
           SELECT vec_id, neighbor, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor ASC) AS rank
           FROM sc)
         SELECT vec_id, neighbor, rank::INTEGER AS rank, round(cos, 6) AS sim
         FROM ranked WHERE rank <= 3""",
    // v7's graph replay + three chained PageRank rounds: pr_{t+1} =
    // (1-d)/n + d·Σ pr_t(src)/deg(src) over in-edges; (1.0 - 0.85) is an
    // EXPRESSION on both sides so the base term is the identical double.
    "v8_knn_pagerank" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         sym AS (SELECT id_a, id_b FROM cand UNION ALL SELECT id_b, id_a FROM cand),
         sc AS (
           SELECT s.id_a AS vec_id, s.id_b AS neighbor,
                  list_dot_product(ea.v, eb.v)
                    / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
           FROM sym s JOIN ed ea ON ea.vec_id = s.id_a JOIN ed eb ON eb.vec_id = s.id_b),
         ranked AS (
           SELECT vec_id, neighbor, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor ASC) AS rank
           FROM sc),
         eg AS (SELECT vec_id AS src, neighbor AS dst FROM ranked WHERE rank <= 3),
         outd AS (SELECT src, count(*) AS deg FROM eg GROUP BY src),
         nn AS (SELECT count(*)::DOUBLE AS cnt FROM embeddings),
         p0 AS (SELECT vec_id, 1.0 / cnt AS pr FROM embeddings, nn),
         p1 AS (SELECT e2.vec_id, (1.0 - 0.85) / nn.cnt + 0.85 * COALESCE(s1.m, 0.0) AS pr
                FROM embeddings e2 CROSS JOIN nn
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr / o.deg) AS m
                           FROM eg g JOIN p0 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s1 USING (vec_id)),
         p2 AS (SELECT e2.vec_id, (1.0 - 0.85) / nn.cnt + 0.85 * COALESCE(s2.m, 0.0) AS pr
                FROM embeddings e2 CROSS JOIN nn
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr / o.deg) AS m
                           FROM eg g JOIN p1 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s2 USING (vec_id)),
         p3 AS (SELECT e2.vec_id, (1.0 - 0.85) / nn.cnt + 0.85 * COALESCE(s3.m, 0.0) AS pr
                FROM embeddings e2 CROSS JOIN nn
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr / o.deg) AS m
                           FROM eg g JOIN p2 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s3 USING (vec_id))
         SELECT vec_id, round(pr, 8) AS pagerank FROM p3""",
    // v8's replay with v7's rounded cosine as the edge weight (W(u) =
    // the source's summed weights) and the per-round dangling sum
    // spread uniformly: pr_{t+1} = (1-d)/n + d·(Σ pr·w/W + S_t/n).
    "v8b_knn_pagerank_weighted" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         sym AS (SELECT id_a, id_b FROM cand UNION ALL SELECT id_b, id_a FROM cand),
         sc AS (
           SELECT s.id_a AS vec_id, s.id_b AS neighbor,
                  list_dot_product(ea.v, eb.v)
                    / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
           FROM sym s JOIN ed ea ON ea.vec_id = s.id_a JOIN ed eb ON eb.vec_id = s.id_b),
         ranked AS (
           SELECT vec_id, neighbor, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor ASC) AS rank
           FROM sc),
         eg AS (SELECT vec_id AS src, neighbor AS dst, round(cos, 6) AS w
                FROM ranked WHERE rank <= 3),
         outd AS (SELECT src, sum(w) AS deg FROM eg GROUP BY src),
         srcs AS (SELECT DISTINCT src FROM eg),
         nn AS (SELECT count(*)::DOUBLE AS cnt FROM embeddings),
         p0 AS (SELECT vec_id, 1.0 / cnt AS pr FROM embeddings, nn),
         dm1 AS (SELECT COALESCE(sum(p.pr), 0.0) AS dm
                 FROM p0 p LEFT JOIN srcs s ON s.src = p.vec_id WHERE s.src IS NULL),
         p1 AS (SELECT e2.vec_id,
                  (1.0 - 0.85) / nn.cnt
                    + 0.85 * (COALESCE(s1.m, 0.0) + dm1.dm / nn.cnt) AS pr
                FROM embeddings e2 CROSS JOIN nn CROSS JOIN dm1
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr * g.w / o.deg) AS m
                           FROM eg g JOIN p0 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s1 USING (vec_id)),
         dm2 AS (SELECT COALESCE(sum(p.pr), 0.0) AS dm
                 FROM p1 p LEFT JOIN srcs s ON s.src = p.vec_id WHERE s.src IS NULL),
         p2 AS (SELECT e2.vec_id,
                  (1.0 - 0.85) / nn.cnt
                    + 0.85 * (COALESCE(s2.m, 0.0) + dm2.dm / nn.cnt) AS pr
                FROM embeddings e2 CROSS JOIN nn CROSS JOIN dm2
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr * g.w / o.deg) AS m
                           FROM eg g JOIN p1 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s2 USING (vec_id)),
         dm3 AS (SELECT COALESCE(sum(p.pr), 0.0) AS dm
                 FROM p2 p LEFT JOIN srcs s ON s.src = p.vec_id WHERE s.src IS NULL),
         p3 AS (SELECT e2.vec_id,
                  (1.0 - 0.85) / nn.cnt
                    + 0.85 * (COALESCE(s3.m, 0.0) + dm3.dm / nn.cnt) AS pr
                FROM embeddings e2 CROSS JOIN nn CROSS JOIN dm3
                LEFT JOIN (SELECT g.dst AS vec_id, sum(p.pr * g.w / o.deg) AS m
                           FROM eg g JOIN p2 p ON p.vec_id = g.src
                           JOIN outd o ON o.src = g.src GROUP BY g.dst) s3 USING (vec_id))
         SELECT vec_id, round(pr, 8) AS pagerank FROM p3""",
    // km0 centroid assignment (the km1/s6 CTE) + within-cell cosine
    // pairs + the recursive-CTE closure — SemDeDup's full pipeline in SQL.
    "v9_semdedup_groups" ->
      """WITH RECURSIVE
         c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
               FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
         ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         dist AS (
           SELECT e.vec_id, c.cluster,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
               i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
           FROM ed e CROSS JOIN c),
         asg0 AS (
           SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM dist),
         av AS MATERIALIZED (SELECT a0.vec_id, a0.cluster, ed.v
                FROM asg0 a0 JOIN ed USING (vec_id) WHERE a0.rn = 1),
         pr AS (
           SELECT x.vec_id AS da, y.vec_id AS db
           FROM av x JOIN av y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
           WHERE list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.45),
         eg AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM eg
           UNION
           SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a)
         SELECT a AS vec_id, min(b) AS keep_id FROM reach GROUP BY a""",
    // v3's SRP replay composed with the recursive-CTE transitive closure
    // (the v5 shape) — the full ANN dedup-group pipeline in SQL.
    "v6_ann_dedup_groups" ->
      s"""WITH RECURSIVE ${srpReplayCte(6, 12)},
         pr AS (
           SELECT c.id_a AS da, c.id_b AS db
           FROM cand c JOIN ed ea ON ea.vec_id = c.id_a JOIN ed eb ON eb.vec_id = c.id_b
           WHERE list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.45),
         eg AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db AS a, da AS b FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM eg
           UNION
           SELECT r.a, e.b FROM reach r JOIN eg e ON r.b = e.a)
         SELECT a AS vec_id, min(b) AS keep_id FROM reach GROUP BY a""",
    // Assignment replay over the exported model: per-vector nearest
    // centroid (squared euclid, ties to the lowest cluster id — the
    // strict-< argmin in Model.nearest), then the group sizes. Written
    // WITHOUT correlated subqueries: DuckDB's binder can't see outer
    // columns inside a lambda within a correlated subquery (r4 err), so
    // the argmin is CROSS JOIN + distance + row_number instead. The
    // left-to-right list_reduce fold matches KMeans' sequential loop, so
    // distances are bitwise identical and the argmin agrees exactly.
    "km1_kmeans_sizes" ->
      """WITH c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
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
           FROM dist)
         SELECT cluster, count(*) AS n_points FROM a WHERE rn = 1 GROUP BY cluster""",
    // IVF replay over the exported model: corpus cells by nearest
    // centroid (rn = 1), 3 probe cells per query (rn <= 3 on the same
    // ranking — distance then cluster-id order, matching Model.probes'
    // stable sort), cosine from per-row norms, rank <= 5 with the
    // neighbor-id tiebreak. Same uncorrelated CROSS JOIN + row_number
    // shape as km1.
    "km2_ivf_knn" ->
      """WITH c AS (SELECT cluster, list(value ORDER BY dim_idx) AS centroid
                    FROM read_parquet('__OUT__/km0_centroids/*.parquet') GROUP BY cluster),
         ed AS (SELECT * FROM (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
           WHERE list_dot_product(v, v) > 0),
         dist AS (
           SELECT e.vec_id, e.v, c.cluster,
             list_reduce(list_prepend(0.0, list_transform(range(1, len(c.centroid) + 1),
               i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))), (x, y) -> x + y) AS d
           FROM ed e CROSS JOIN c),
         ranked_cells AS (
           SELECT vec_id, v, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
           FROM dist),
         cells AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cluster AS cell
                   FROM ranked_cells WHERE rn = 1),
         probes AS (SELECT vec_id AS qid, v AS qv, sqrt(list_dot_product(v, v)) AS qn, cluster AS cell
                    FROM ranked_cells WHERE vec_id < 20 AND rn <= 3),
         scored AS (
           SELECT p.qid, cl.vec_id AS neighbor,
                  list_dot_product(p.qv, cl.v) / (p.qn * cl.nrm) AS cos
           FROM probes p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.qid),
         ranked AS (
           SELECT qid, neighbor, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rank
           FROM scored)
         SELECT qid, neighbor, rank::INTEGER AS rank, round(cos, 6) AS sim FROM ranked WHERE rank <= 5"""
  )
}
