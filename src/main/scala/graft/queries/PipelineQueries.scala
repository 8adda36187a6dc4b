package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, Tables}
import graft.operators.TemporalJoins
import graft.sources.Sources
import graft.streaming.Sessionize

/** Sessionization + source-format roundtrip queries. */
object PipelineQueries {

  private def tmpDir(tag: String): String = QueryTmp.dir(tag)

  /** Staged file-source directory for sj1, one per data dir (the file
    * source requires a directory; staged once, re-streamed per run).
    */
  private val streamStage = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Staged doubled-events directory for sd1 (two copies per data dir). */
  private val dedupStage = scala.collection.concurrent.TrieMap.empty[String, String]

  /** st2's JSON wire-form staging dir per data dir (same role as
    * [[dedupStage]]).
    */
  private val liveStage = scala.collection.concurrent.TrieMap.empty[String, String]

  /** st3's chunked JSON drop dir per data dir: 4 single-copy chunks so
    * maxFilesPerTrigger=1 yields 4 micro-batches = 4 snapshot versions.
    */
  private val snapStage = scala.collection.concurrent.TrieMap.empty[String, String]

  /** (drop dir, corpus dir, sketch dir) per data dir (see st4). */
  private val screenedStage =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, String)]

  /** st5's JSON drop dir per data dir (the st4 staging pattern on the
    * index-ingest fixture; the INDEX dir is deliberately NOT memoized —
    * each invocation streams into a fresh artifact, since a reused one
    * would turn every re-run into an all-screened no-op and the gate
    * would stop exercising the append path).
    */
  private val indexStage = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Bound ports of the rp1 fixture service, one entry per data dir
    * (daemon accept threads live for the session — one pair total
    * instead of one pair per invocation).
    */
  private val rpcFixture = scala.collection.concurrent.TrieMap.empty[String, Seq[Int]]

  /** The rp1/rp2 two-shard fixture service, memoized per data dir:
    * repeated invocations (verify + bench warm-ups, probe loops) re-dial
    * the SAME endpoints instead of binding fresh ServerSockets each call.
    * getOrElseUpdate may run its default twice under contention (the
    * NodeState gotcha) — ServerSocket binds must be once, so lock. The
    * served fixture is driver-collected ONLY because the test must stand
    * up the service itself — a real deployment dials endpoints that
    * already exist.
    */
  private def fixturePorts(s: SparkSession, dir: String): Seq[Int] =
    rpcFixture.synchronized {
      rpcFixture.getOrElseUpdate(dir, {
        val rows = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")).collect()
        val half = rows.length / 2
        Seq(rows.take(half), rows.drop(half)).map { shard =>
          graft.sources.RpcSource.serve(0, Map("docs" ->
            graft.sources.RpcSource.RpcContract(Seq("doc_id", "lang", "n_chars"),
              shard.toSeq.map(r =>
                Seq(r.getLong(0).toString, r.getString(1), r.getLong(2).toString))))).port
        }
      })
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gap-based sessionization (batch form; the streaming twin is
    // Sessionize.sessionsStream, spec-verified against this one).
    "sq1_sessions" -> { (s, dir) =>
      Sessionize.sessionsBatch(
        Tables.load(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        gapMinutes = 30)
    },

    // Small-file compaction: a fragmented copy (64 micro-files — the
    // layout incremental appends and streaming sinks leave) compacts to
    // ~1 MiB files via a shuffle-free coalesce rewrite with an atomic
    // directory swap. The aggregate off the compacted dataset must
    // equal the original table (content fidelity) and the contract
    // boolean pins file-count reduction — a lost or doubled row during
    // the rewrite fails the hash.
    "cp1_compact" -> { (s, dir) =>
      import graft.sources.Compact
      val stage = tmpDir("compact") + "/docs"
      Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(64).write.parquet(stage)
      val before = Compact.dataFileCount(stage)
      // target scaled to the data so the contract boolean holds at ANY
      // SF: ceil(bytes/target) ≤ 8 < the 64 staged fragments (a fixed
      // 1 MiB target flips `compacted` to false once the projection
      // exceeds 64 MiB — a data-size artifact, not a compaction bug)
      val after = Compact.compact(s, stage,
        targetBytes = math.max(1L << 20, Compact.dataBytes(stage) / 8))
      graftbridge.readParquet(s, stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("compacted", lit(after < before && after >= 1))
    },

    // cp1's live-table tier: the fragmented table is a Snapshots version
    // and compaction lands in a NEW version published by one
    // conditional PUT — no in-place swap, no path-missing window, pinned
    // readers untouched. Content fidelity under the hash; the contract
    // boolean pins version advance + file-count reduction.
    "cp2_compact_version" -> { (s, dir) =>
      import graft.sources.Snapshots
      val table = tmpDir("compactv") + "/docs"
      Snapshots.commit(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
          .repartition(64), table)
      val (before, bytes) = Snapshots.resolvedStats(table, 1)
      // data-scaled target: see cp1
      val (newV, after) = Snapshots.compact(s, table,
        targetBytes = math.max(1L << 20, bytes / 8))
      Snapshots.read(s, table)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .withColumn("compacted", lit(newV == 2 && after < before && after >= 1))
    },

    // Schema evolution: half the table written with the v1 schema
    // (doc_id, lang), the other half appended with v2 (+ n_chars);
    // mergeSchema reads both generations, v1 rows surface NULL for the
    // new column. The per-lang aggregate pins row fidelity, the null
    // count pins which generation each row came from.
    "se1_schema_evolution" -> { (s, dir) =>
      val stage = tmpDir("schevo") + "/docs"
      val docs = Tables.load(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.parquet(stage)
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("append").parquet(stage)
      s.read.option("mergeSchema", "true").parquet(stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars_v2"),
          count(when(col("n_chars").isNull, 1)).as("n_v1_rows"))
    },

    // CSV sink → source roundtrip; the aggregate must match the original
    // parquet data (proves schema + value fidelity through the format).
    "cs1_csv_roundtrip" -> { (s, dir) =>
      val out = tmpDir("csv")
      val src = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") >= 49)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      Sources.writeCsv(src, out)
      Sources.readCsv(s, out, src.schema)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },

    // JSON sink → source roundtrip.
    "js1_json_roundtrip" -> { (s, dir) =>
      val out = tmpDir("json")
      val src = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      Sources.writeJson(src, out)
      Sources.readJson(s, out, src.schema)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    },

    // ORC sink → source roundtrip (columnar format with embedded schema,
    // pushdown, splittable stripes — the third sink/source format).
    "or1_orc_roundtrip" -> { (s, dir) =>
      val out = tmpDir("orc")
      val src = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      Sources.writeOrc(src, out)
      Sources.readOrc(s, out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 2).as("sum_price"))
    },

    // Text (line-per-doc) sink → source roundtrip — the raw-corpus
    // interchange format; the aggregate (count/total length/lexicographic
    // extremes) must survive the roundtrip byte-exactly.
    "tx1_text_roundtrip" -> { (s, dir) =>
      val out = tmpDir("text")
      Sources.writeText(Tables.load(s, dir, "documents").select(col("text")), out)
      Sources.readText(s, out)
        .agg(count(lit(1)).as("n_lines"), sum(length(col("value"))).as("sum_len"),
          min(col("value")).as("min_text"), max(col("value")).as("max_text"))
    },

    // Hive-style partitioned layout: write orders partitioned by
    // o_orderpriority, read back filtered to ONE partition value — the
    // filter prunes at the directory level before any file is opened
    // (PartitionFilters in the scan; PartitionPruneSpec asserts it).
    // At 100 TB this is the date-partition pattern: a day's query reads
    // a day's files, not the table.
    "pp1_partition_prune" -> { (s, dir) =>
      val out = tmpDir("ppart")
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      graftbridge.readParquet(s, out)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    },

    // Bucketed co-located join — the "pay the shuffle once at write
    // time" pattern for a fact table that is joined on the same key
    // repeatedly (the brief's bucketing technique; reference co-located
    // binSortP joins, `DKV.fs:140-262`). Both sides are written
    // pre-bucketed (8 buckets, sorted) on the join key, so the join
    // reads co-located buckets and inserts NO exchange on either side —
    // at 100 TB the fact table never re-shuffles for this join again.
    // ScaleOpsSpec asserts the exchange-free plan; here the joined
    // aggregate lands under the driver hash (quantized: Long sums
    // commute).
    "bj1_bucketed_join" -> { (s, dir) =>
      val wh = tmpDir("bucketwh")
      s.sql("DROP TABLE IF EXISTS graft_bj_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_bj_orders")
      graft.sources.Bucketing.writeBucketed(
        Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        "graft_bj_lineitem", "l_orderkey", 8, Some(s"$wh/lineitem"))
      graft.sources.Bucketing.writeBucketed(
        Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bj_orders", "o_orderkey", 8, Some(s"$wh/orders"))
      s.table("graft_bj_lineitem")
        .join(s.table("graft_bj_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_c"))
    },

    // Z-order layout (the lakehouse OPTIMIZE ZORDER capability): the
    // corpus is rewritten z-clustered on two quantized coordinates —
    // ONE range shuffle on the Morton value, rows z-sorted per file so
    // file AND row-group min-max stats stay tight on BOTH columns (a
    // single-column sort gives the other column the full range in every
    // file; filters on it then skip nothing). Hash-gated end-to-end:
    // the artifact is read BACK and each row's z recomputed, so the
    // write path, the codegen'd interleave, and the round-trip all sit
    // under the driver hash; the oracle replays the bit interleave as
    // a list_sum of shifted bits. LayoutSpec asserts the envelope
    // tightness (the actual data-skipping property) and the loud
    // out-of-range contract.
    "zo1_zorder_layout" -> { (s, dir) =>
      val out = tmpDir("zorder") + "/docs"
      val coords = Tables.load(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(1024L)).as("a"),
          least(col("n_chars"), lit(1023L)).as("b"))
      graft.operators.Layout.zorderWrite(coords, "a", "b", bits = 10,
        numFiles = 4, path = out)
      graftbridge.readParquet(s, out)
        .select(col("doc_id"), col("a"), col("b"),
          graft.functions.ZOrderFunctions.zValue(col("a"), col("b"), 10).as("z"))
    },

    // N-column Z-order (the `OPTIMIZE ZORDER BY a, b, c` surface): same
    // end-to-end hash gate as zo1 but with a THREE-column round-robin
    // interleave (bit i of column j at curve position 3i+j, 8 bits each
    // — 24 curve bits, signed order = curve order). The artifact is
    // written via zorderWriteN, read BACK, and each row's z recomputed,
    // so the k-ary codegen'd interleave and the round-trip both sit
    // under the driver hash; the oracle replays the 3-way interleave as
    // a list_sum of shifted bits. LayoutSpec holds the k=3 envelope
    // comparison (all three columns tighter than a single-column sort).
    "zo2_zorder_ncol" -> { (s, dir) =>
      val out = tmpDir("zorder3") + "/docs"
      val coords = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(256L)).as("a"),
          least(col("n_chars"), lit(255L)).as("b"),
          pmod(floor(col("doc_id") / lit(256L)).cast("long"), lit(256L)).as("c"))
      graft.operators.Layout.zorderWriteN(coords, Seq("a", "b", "c"), bits = 8,
        numFiles = 4, path = out)
      graftbridge.readParquet(s, out)
        .select(col("doc_id"), col("a"), col("b"), col("c"),
          graft.functions.ZOrderFunctions.zValueN(
            Seq(col("a"), col("b"), col("c")), 8).as("z"))
    },

    // Stream-stream interval join UNDER THE DRIVER HASH (the sq1/st1
    // pattern): events stream from a staged file-source directory through
    // Telemetry.intervalJoinStream (watermark-bounded state) into a
    // memory sink; the emitted (error, click) pairs must equal the batch
    // range-join oracle exactly — proving the watermarked streaming
    // execution, not just the spec, matches batch semantics.
    "sj1_interval_join_stream" -> { (s, dir) =>
      val streamDir = streamStage.synchronized {
        streamStage.getOrElseUpdate(dir, {
          val d = tmpDir("sjoin-src")
          QueryTmp.stageParquet(s"$dir/events.parquet", d, "events.parquet")
          d
        })
      }
      // stream with the RAW parquet schema; normalize ts with the same
      // type-driven branch Tables.load uses (the on-disk encoding has
      // changed across driver regenerations — nanos-as-long, then µs NTZ)
      // A stream-stream join commits one state store per shuffle
      // partition per side per micro-batch; at 32 partitions that fixed
      // cost dwarfs the join itself at test scale (~5.5 s → ~2.9 s at 8,
      // flat from sf0.001 to sf0.1 — pure machinery, not data).
      // Partition count never changes join RESULTS, only state layout —
      // a production deployment sizes it to rate × horizon instead.
      // The sizing lives on a DEDICATED session (shared SparkContext,
      // private conf + catalog) so no concurrent query on the shared
      // session ever observes a temporarily mutated value.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val rawSchema = graftbridge.parquetSchema(ss, s"$dir/events.parquet")
      def evStream = Tables.normalizeTs(ss.readStream.schema(rawSchema).parquet(streamDir))
      val errors = evStream.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = evStream.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val q = graft.streaming.Telemetry
        .intervalJoinStream(errors, clicks, "user_id", "10 minutes", 300)
        .select(col("l.event_id").as("event_id"), col("click_id"))
        .writeStream.outputMode("append").format("memory").queryName("sj1_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      ss.table("sj1_out")
    },

    // Streaming exactly-once dedup UNDER THE DRIVER HASH: the staged
    // source dir holds TWO identical copies of events.parquet (the
    // at-least-once delivery scenario dedupStream exists for);
    // watermark-bounded dropDuplicates must collapse them to the
    // original table exactly — one surviving duplicate doubles a count
    // and fails the hash. Aggregated batch-side over the memory sink so
    // the gate result is small and order-free.
    "sd1_dedup_stream" -> { (s, dir) =>
      val stage = dedupStage.synchronized {
        dedupStage.getOrElseUpdate(dir, {
          val d = tmpDir("sdedup-src")
          Seq("a", "b").foreach { n =>
            QueryTmp.stageParquet(s"$dir/events.parquet", d, s"$n.parquet")
          }
          d
        })
      }
      // dedicated session for the 8-partition state-store sizing (see sj1)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val rawSchema = graftbridge.parquetSchema(ss, s"$dir/events.parquet")
      val ev = Tables.normalizeTs(ss.readStream.schema(rawSchema).parquet(stage))
      val q = graft.streaming.Telemetry.dedupStream(ev, "event_id", "10 minutes")
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.outputMode("append").format("memory").queryName("sd1_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      ss.table("sd1_out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    },

    // Live-ingest UNDER THE DRIVER HASH (reference `DSet.import` of a
    // running service, `DSetGenerics.fs:788-836`; paper §3.5/§6.2): the
    // events table goes to the WIRE — one JSON object per line,
    // LiveIngest's contract format — lands in a drop directory as TWO
    // copies (the at-least-once delivery live producers exhibit), streams
    // back in one-file micro-batches through the exactly-once dedup, and
    // the hourly telemetry rollup of the sink must equal the batch oracle
    // over the original table. One hash covers wire-schema parse (µs
    // timestamp roundtrip through JSON), incremental file listing,
    // duplicate collapse, and rollup parity. The live mid-query producer
    // interleaving is LiveIngestSpec's job; the gate stages the files up
    // front so the oracle compare is deterministic.
    "st2_live_ingest" -> { (s, dir) =>
      val stage = liveStage.synchronized {
        liveStage.getOrElseUpdate(dir, {
          // distributed staging: the executor writes the wire file (no
          // driver-side collect); the at-least-once twin is a
          // file-level copy of the staged artifact, as a re-delivering
          // producer would re-send the same file — row data never
          // transits the driver
          val d = tmpDir("live-ingest")
          val t = tmpDir("live-stage-out")
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
            .repartition(1)
            .write.mode("overwrite").json(t)
          val part = new java.io.File(t).listFiles()
            .filter(_.getName.endsWith(".json")).head.toPath
          Seq("a", "b").foreach { n =>
            val staged = java.nio.file.Files.createTempFile("live-stage", ".json")
            java.nio.file.Files.copy(part, staged,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            java.nio.file.Files.move(staged, java.nio.file.Paths.get(d, s"$n.json"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          d
        })
      }
      // dedicated session for the 8-partition streaming-state sizing (see sj1)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = graft.streaming.LiveIngest.fromDirectory(ss, stage, maxFilesPerTrigger = 1)
      val q = graft.streaming.Telemetry.dedupStream(stream, "event_id", "24 hours")
        .select(col("event_type"), col("ts"), col("value"))
        .writeStream.outputMode("append").format("memory").queryName("st2_out")
        .start()
      try q.processAllAvailable() finally q.stop()
      ss.table("st2_out")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    },

    // As-of join: each click matched to the user's most recent prior
    // purchase (operator the reference lacks; SURVEY §2.4).
    "qa1_asof_click_purchase" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      TemporalJoins.asofJoin(clicks, purchases, "user_id", "ts", Seq("purchase_id"))
        .select(col("click_id"), col("purchase_id"))
    },

    // Range join: clicks in the 5 minutes before each error, per user.
    "qr1_range_clicks_before_error" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      TemporalJoins.rangeJoin(errors, clicks, "user_id", "ts", 300)
        .groupBy(col("l.event_id").as("event_id"))
        .agg(count(col("click_id")).as("n_clicks"))
    },

    // Streaming sink into the versioned-table family (st2's durable
    // half — the reference paper §6.2 loop closed: live ingest →
    // snapshot versions → cp2 compaction → pinned readers). The staged
    // drop dir streams in 4 one-file micro-batches through SnapshotSink;
    // each batch commits one FULL-table Snapshots version (inherited
    // files carried by name, O(batch) bytes written), exactly-once by
    // batch-id tag. Gate: the final version's rollup equals the batch oracle
    // under the driver hash, plus contract booleans — one version per
    // micro-batch landed, and a replayed batch tag (the crash-recovery
    // path) committed NOTHING.
    "st3_snapshot_sink" -> { (s, dir) =>
      val stage = snapStage.synchronized {
        snapStage.getOrElseUpdate(dir, {
          // distributed staging: executors write the JSON drop files
          // directly (one part file per chunk; the job-commit rename is
          // the atomic drop a producer fleet would do) — no driver-side
          // collect, so the harness obeys the same anti-pattern rule as
          // the operators it gates
          val d = tmpDir("snap-sink-src")
          Tables.load(s, dir, "events")
            .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
            .repartition(4)
            .write.mode("overwrite").json(d)
          d
        })
      }
      // dedicated session for the 8-partition streaming-state sizing (see sj1)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val table = tmpDir("snap-sink-tbl") + "/events_tbl"
      val ckpt = tmpDir("snap-sink-ckpt")
      val q = graft.streaming.SnapshotSink.start(
        graft.streaming.LiveIngest.fromDirectory(ss, stage, maxFilesPerTrigger = 1),
        table, ckpt)
      try q.processAllAvailable() finally q.stop()
      val snaps = graft.sources.Snapshots
      val vLatest = snaps.latestVersion(table).getOrElse(0)
      // one version per micro-batch = one per staged chunk file — derive
      // the expectation from the staging dir, not a hard-coded count
      // that silently diverges if the fixture (and thus the chunking)
      // changes size
      val chunkList = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      val nChunks =
        try chunkList.filter(p => p.getFileName.toString.endsWith(".json")).count().toInt
        finally chunkList.close()
      // crash-recovery replay: re-delivering an already-committed batch
      // tag must return its version and move nothing
      val replayed = snaps.commitAppend(snaps.read(ss, table), table, Some("batch-0"))
      val replayNoop = replayed == snaps.taggedVersion(table, "batch-0").getOrElse(-1) &&
        snaps.latestVersion(table).contains(vLatest)
      snaps.read(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .withColumn("version_per_batch", lit(vLatest == nChunks))
        .withColumn("replay_noop", lit(replayNoop))
    },

    // Streaming ingest with the INLINE near-dup screen + sketch
    // maintenance (r15 — the closed incremental loop as one continuous
    // pipeline): three ordered one-file micro-batches stream through
    // ScreenedIngest; each screens against the CURRENT SimHash sketch,
    // kept rows land in the corpus, the accepted batch enters the
    // sketch — so batch 2 screens against base ∪ kept(batch 1), batch 3
    // against base ∪ kept(1) ∪ kept(2). The oracle replays that
    // SEQUENTIAL closure with chained CTEs over d5's SimHash replay: a
    // stale sketch (append skipped), a scrambled batch order, or a
    // double-applied batch all change the final corpus and fail the
    // hash. Re-running the stream over the same fixture is idempotent
    // BY CONSTRUCTION (admitted rows self-match in the sketch and
    // re-append nothing), so bench repeats measure the screens, not
    // fixture churn.
    "st4_screened_ingest" -> { (s, dir) =>
      val (stage, corpus, sketch) = screenedStage.synchronized {
        screenedStage.getOrElseUpdate(dir, {
          val docs = Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text"), col("lang"))
          val d = tmpDir("screened-src")
          val corpusDir = tmpDir("screened-corpus") + "/docs"
          val sketchDir = tmpDir("screened-sketch") + "/sketch"
          val base = docs.filter(col("doc_id") % 10 =!= 7 &&
            col("doc_id") % 10 =!= 8 && col("doc_id") % 10 =!= 9)
          base.write.mode("overwrite").parquet(corpusDir)
          graft.operators.Dedup.simhashSketch(base, "doc_id", "text")
            .write.mode("overwrite").parquet(sketchDir)
          // one drop file per daily batch, mtimes strictly increasing —
          // the file source processes oldest-first, and the sequential
          // closure is order-SENSITIVE, so the fixture pins the order
          // the oracle replays
          Seq(7, 8, 9).zipWithIndex.foreach { case (m, i) =>
            QueryTmp.stageJsonBatch(docs.filter(col("doc_id") % 10 === m),
              d, s"b$i.json", 1700000000000L + i * 60000L)
          }
          (d, corpusDir, sketchDir)
        })
      }
      // dedicated session for the 8-partition streaming-state sizing (see sj1)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang")).schema
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(stage)
      val q = graft.streaming.ScreenedIngest.start(stream, "doc_id", "text",
        sketch, corpus, tmpDir("screened-ckpt"), maxBucketSize = Int.MaxValue)
      try q.processAllAvailable() finally q.stop()
      graftbridge.readParquet(s, corpus).select(col("doc_id"), col("lang"))
    },

    // Continuously-maintained BM25 index (st4's retrieval twin): three
    // daily batches stream into a standing scored-index artifact via
    // IndexIngest — each micro-batch tokenizes only itself and folds
    // exact integer totals through appendScored — then the WHOLE stream
    // is re-delivered (second run, fresh checkpoint) and the id screen
    // must make it a no-op. The ii4 search served off the final
    // artifact from DISK STATE ALONE (attachScored) must equal the
    // full-corpus oracle: a lost/doubled append, a stale sidecar, or a
    // leaky redelivery screen all fail the hash.
    "st5_index_ingest" -> { (s, dir) =>
      import graft.operators.InvertedIndex
      val docs0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val stage = indexStage.synchronized {
        indexStage.getOrElseUpdate(dir, {
          val d = tmpDir("ixingest-src")
          Seq(7, 8, 9).zipWithIndex.foreach { case (m, i) =>
            QueryTmp.stageJsonBatch(docs0.filter(col("doc_id") % 10 === m),
              d, s"b$i.json", 1700000000000L + i * 60000L)
          }
          d
        })
      }
      // fresh artifact per invocation (see indexStage's note): day 0 =
      // the base corpus materialized with its exact-totals sidecar
      val index = tmpDir("ixingest-idx") + "/postings"
      InvertedIndex.materializeScored(
        docs0.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8 &&
          col("doc_id") % 10 =!= 9),
        "doc_id", "text", index)
      val schema = docs0.schema
      def run(): Unit = {
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        val stream = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").json(stage)
        val q = graft.streaming.IndexIngest.start(
          stream, "doc_id", "text", index, tmpDir("ixingest-ckpt"))
        try q.processAllAvailable() finally q.stop()
      }
      run()
      run() // full redelivery: the id screen must append nothing
      val (scored, stats) = InvertedIndex.attachScored(s, index, "doc_id")
      val probes = InvertedIndex.topTokensByDf(scored, 3)
      InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10, stats = Some(stats))
    },

    // Custom Catalyst expressions callable from plain SQL text (vec_dot
    // registered on the session) — the engine's SQL surface.
    "qsql_vec_norm" -> { (s, dir) =>
      GraftFunctions.register(s)
      Tables.load(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT vec_id, round(sqrt(vec_dot(embedding, embedding)), 6) AS norm
           FROM embeddings_v""")
    },

    // RPC contract-dial roundtrip (reference `DSet.import`,
    // `DSetGenerics.fs:788-836`): an in-process two-shard "running
    // service" answers the `docs` contract; the RpcDataSource dials both
    // endpoints (one input partition each, executors parse in parallel)
    // and the scanned frame must aggregate identically to the parquet
    // table it mirrors. The served fixture is driver-collected ONLY
    // because the test must stand up the service itself — a real
    // deployment dials endpoints that already exist.
    "rp1_rpc_roundtrip" -> { (s, dir) =>
      val Seq(p1, p2) = fixturePorts(s, dir)
      graft.sources.RpcSource.readRpc(s, Seq(s"localhost:$p1", s"localhost:$p2"),
        "doc_id BIGINT, lang STRING, n_chars BIGINT", "docs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },

    // Filtered RPC dial UNDER THE DRIVER HASH: the predicate pushes to
    // the service as a wire conjunct (rows the service drops never cross;
    // RpcSourceSpec asserts the payload), Spark re-applies it as residual
    // — so this row proves the pushed + re-evaluated path returns exactly
    // the rows the parquet oracle selects. Same memoized fixture as rp1.
    "rp2_rpc_filtered" -> { (s, dir) =>
      val Seq(p1, p2) = fixturePorts(s, dir)
      graft.sources.RpcSource.readRpc(s, Seq(s"localhost:$p1", s"localhost:$p2"),
        "doc_id BIGINT, lang STRING, n_chars BIGINT", "docs")
        .filter(col("lang") === "en" && col("n_chars") >= 200L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },

    // importN-parity dial (reference `DSetGenerics.fs:788-836`, the
    // N-delegate-calls-per-node variant): the same two endpoints are
    // each split into 3 input partitions via the slice protocol
    // (server-acked post-filter row slicing; RpcSourceSpec also proves
    // the client-side fallback against a legacy service). 6 tasks dial
    // in parallel; the slices must be disjoint and exhaustive — a row
    // duplicated across slices or lost between them shifts the counts.
    "rp3_rpc_importn" -> { (s, dir) =>
      val Seq(p1, p2) = fixturePorts(s, dir)
      graft.sources.RpcSource.readRpc(s, Seq(s"localhost:$p1", s"localhost:$p2"),
        "doc_id BIGINT, lang STRING, n_chars BIGINT", "docs", partitionsPerEndpoint = 3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },

    // Facade zip alignment under the driver hash (reference mix/map2,
    // `DSetGenerics.fs:1558-1643`): one cached parent forks into two
    // projections (split2) that zip back positionally (map2). Both ids
    // ride into the output — a single misaligned pair makes zip_id
    // diverge from doc_id and fails the hash, so the gate proves the
    // shared-scan fork preserves per-partition layout AND the zip pairs
    // corresponding rows.
    "fx1_split_mix_zip" -> { (s, dir) =>
      import s.implicits._
      val base = new graft.dset.DSet(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("source"))
        .as[(Long, Long, String)])
      val (ids, meta) = base.split2(u => (u._1, u._2), u => (u._1, u._3))
      ids.map2(meta)((a, b) => (a._1, b._1, a._2, b._2))
        .ds.toDF("doc_id", "zip_id", "n_chars", "source")
    },

    // Facade bypass (reference `DSetGenerics.fs:1728-1766`): two sibling
    // branches over ONE cached upstream evaluation, each running its own
    // mapReduceAssoc (map-side combine), re-joined on the group key. The
    // sums are integer-exact so the hash gate is order-independent.
    "fx2_bypass_branches" -> { (s, dir) =>
      import s.implicits._
      val base = new graft.dset.DSet(Tables.load(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"))
        .as[(String, Long)])
      val Seq(b1, b2) = base.bypass(2)
      val counts = b1.mapReduceAssoc(u => Seq((u._1, 1L)))(_ + _)
      val sums = b2.mapReduceAssoc(u => Seq((u._1, u._2)))(_ + _)
      counts.ds.toDF("o_orderstatus", "n")
        .join(sums.ds.toDF("o_orderstatus", "sum_key"), "o_orderstatus")
    },

    // Facade mapReducePWithPartitionFunction (reference
    // `DSetGenerics.fs:1396-1465`) with a CUSTOM partitioner: pairs route
    // to partition k % 8 via BinPartitioner, then each partition reduces
    // its keys LOCALLY — no global combine. The hash gate proves the
    // routing: a key split across two partitions would emit two rows for
    // that key and fail the row-count/hash compare.
    "fx3_partfunc_shuffle" -> { (s, dir) =>
      import s.implicits._
      val base = new graft.dset.DSet(Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .as[(Long, Long)])
      base.mapReducePWithPartitionFunction(8)((k: Long) => (k % 8).toInt)(
        u => Seq((u._1, u._2))) { (k, it) =>
          var n = 0L; var sm = 0L
          it.foreach { v => n += 1; sm += v }
          (k, n, sm)
        }
        .ds.toDF("l_suppkey", "n_items", "sum_okey")
    }
  )

  val oracles: Map[String, String] = Map(
    "cp1_compact" ->
      """SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars,
           true AS compacted
         FROM documents GROUP BY lang""",
    "cp2_compact_version" ->
      """SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars,
           true AS compacted
         FROM documents GROUP BY lang""",
    "se1_schema_evolution" ->
      """SELECT lang, count(*)::BIGINT AS n,
           sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)::BIGINT AS chars_v2,
           (count(*) FILTER (WHERE doc_id % 2 = 0))::BIGINT AS n_v1_rows
         FROM documents GROUP BY lang""",
    "st2_live_ingest" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    // the streamed-in snapshot table must equal the events table exactly;
    // the contract booleans (4 versions = 4 micro-batches, replay no-op)
    // are constants on the Spark side only if the sink behaved
    "st3_snapshot_sink" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
           round(sum(value), 2) AS sum_value,
           true AS version_per_batch, true AS replay_noop
         FROM events GROUP BY event_type""",
    // d5's SimHash replay + the SEQUENTIAL closure: kept(batch i) =
    // batch i minus docs at hamming <= 3 of base ∪ kept(earlier batches),
    // chained in fixture order (% 10 = 7, then 8, then 9); the final
    // corpus is base plus every kept set. Chunk blocking is exhaustive
    // at hamming <= 3 (pigeonhole), so no bucket replay is needed.
    // Batch membership comes FROM documents (s2 left-joined for sims,
    // the d19/d20 convention): a null-text batch doc is absent from s2
    // but must stay in the kept set — ScreenedIngest keeps it (it cannot
    // sketch, so it passes unmatched; idScreen covers redelivery), and
    // its NULL sim makes the NOT EXISTS probe vacuously keep it here.
    "st4_screened_ingest" ->
      s"""WITH ${TextQueries.simhashReplayCtes},
         a1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 NOT IN (7, 8, 9)),
         k1 AS MATERIALIZED (
           SELECT n.doc_id FROM documents n LEFT JOIN s2 ns USING (doc_id)
           WHERE n.doc_id % 10 = 7 AND NOT EXISTS (
             SELECT 1 FROM a1 a JOIN s2 o ON o.doc_id = a.doc_id
             WHERE bit_count(xor(ns.sim, o.sim)) <= 3)),
         a2 AS (SELECT doc_id FROM a1 UNION ALL SELECT doc_id FROM k1),
         k2 AS MATERIALIZED (
           SELECT n.doc_id FROM documents n LEFT JOIN s2 ns USING (doc_id)
           WHERE n.doc_id % 10 = 8 AND NOT EXISTS (
             SELECT 1 FROM a2 a JOIN s2 o ON o.doc_id = a.doc_id
             WHERE bit_count(xor(ns.sim, o.sim)) <= 3)),
         a3 AS (SELECT doc_id FROM a2 UNION ALL SELECT doc_id FROM k2),
         k3 AS (
           SELECT n.doc_id FROM documents n LEFT JOIN s2 ns USING (doc_id)
           WHERE n.doc_id % 10 = 9 AND NOT EXISTS (
             SELECT 1 FROM a3 a JOIN s2 o ON o.doc_id = a.doc_id
             WHERE bit_count(xor(ns.sim, o.sim)) <= 3)),
         fin AS (SELECT doc_id FROM a3 UNION ALL SELECT doc_id FROM k3)
         SELECT d.doc_id, d.lang FROM documents d JOIN fin USING (doc_id)""",
    // stream-maintained == rebuild: the index fed by three streamed
    // appends (+ a fully-redelivered second pass) must serve exactly
    // the full-corpus ranking — ii4's oracle verbatim
    "st5_index_ingest" ->
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
    "sq1_sessions" ->
      """WITH w AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                  THEN 1 ELSE 0 END AS is_break
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(is_break) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
           FROM w)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, session_id""",
    "cs1_csv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem WHERE l_quantity >= 49 GROUP BY l_returnflag""",
    "js1_json_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY o_orderpriority""",
    "or1_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS sum_price
         FROM part GROUP BY p_brand""",
    "tx1_text_roundtrip" ->
      """SELECT count(*) AS n_lines, sum(len(text))::BIGINT AS sum_len,
         min(text) AS min_text, max(text) AS max_text FROM documents""",
    "pp1_partition_prune" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus""",
    "bj1_bucketed_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
           sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty_c
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    // bit-interleave replay: z = Σ_i ((a>>i)&1)·2^(2i) + ((b>>i)&1)·2^(2i+1)
    "zo1_zorder_layout" ->
      """WITH d AS (SELECT doc_id, doc_id % 1024 AS a, least(n_chars, 1023) AS b
                    FROM documents)
         SELECT doc_id, a, b,
           list_sum(list_transform(range(0, 10),
             i -> (((a >> i) & 1) << (2*i)) + (((b >> i) & 1) << (2*i+1))))::BIGINT AS z
         FROM d""",
    // 3-way round-robin replay: bit i of col j lands at position 3i+j
    "zo2_zorder_ncol" ->
      """WITH d AS (SELECT doc_id, doc_id % 256 AS a, least(n_chars, 255) AS b,
                           (doc_id // 256) % 256 AS c
                    FROM documents)
         SELECT doc_id, a, b, c,
           list_sum(list_transform(range(0, 8),
             i -> (((a >> i) & 1) << (3*i)) + (((b >> i) & 1) << (3*i+1))
                + (((c >> i) & 1) << (3*i+2))))::BIGINT AS z
         FROM d""",
    // doubled input collapsed by (event_id, ts) dedup = the original
    // table, since event_id is unique in the fixture
    "sd1_dedup_stream" ->
      """SELECT event_type, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type""",
    "sj1_interval_join_stream" ->
      """SELECT e.event_id, c.event_id AS click_id
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e
         JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND c.ts >= e.ts - INTERVAL 300 SECONDS AND c.ts <= e.ts""",
    "qa1_asof_click_purchase" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "qr1_range_clicks_before_error" ->
      """SELECT e.event_id, count(c.event_id) AS n_clicks
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND c.ts >= e.ts - INTERVAL 300 SECONDS AND c.ts <= e.ts
         GROUP BY e.event_id""",
    "qsql_vec_norm" ->
      """WITH ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
         SELECT vec_id, round(sqrt(list_dot_product(v, v)), 6) AS norm FROM ed""",
    "rp1_rpc_roundtrip" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang""",
    "rp3_rpc_importn" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang""",
    "rp2_rpc_filtered" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars,
              min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
         FROM documents WHERE lang = 'en' AND n_chars >= 200 GROUP BY lang""",
    "fx1_split_mix_zip" ->
      """SELECT doc_id, doc_id AS zip_id, n_chars, source FROM documents""",
    "fx2_bypass_branches" ->
      """SELECT o_orderstatus, count(*) AS n, sum(o_orderkey)::BIGINT AS sum_key
         FROM orders GROUP BY o_orderstatus""",
    "fx3_partfunc_shuffle" ->
      """SELECT l_suppkey, count(*) AS n_items, sum(l_orderkey)::BIGINT AS sum_okey
         FROM lineitem GROUP BY l_suppkey"""
  )
}
