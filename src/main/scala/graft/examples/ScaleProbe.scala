package graft.examples

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Dedup, KMeans}

/** Scale-probe runner: times a set of declared queries (one warm-up, then
  * min of 3 noop-write runs) against an arbitrary data dir — used with
  * `tools/make_scale10.py` output to measure 1× vs 10× scaling of the
  * LLM-pipeline ops, recorded in BASELINE.md.
  *
  * `--hot-bucket` instead runs the planted-hot-bucket demonstration: a
  * corpus where one degenerate cluster (N identical docs) would create an
  * O(N²) bucket, showing the `maxBucketSize` guard dropping it and
  * `dropMetrics` accounting for the loss.
  */
object ScaleProbe {
  private def timed(run: => Unit): Double = {
    run // warm-up
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Shared `--flag=bits:tables` parser — one copy so a validation tweak
    * (e.g. a bits cap) cannot silently miss one of the probe families.
    */
  private def parseBitsTables(flag: String, a: String): (Int, Int) = {
    val usage = s"$flag expects positive bits:tables (e.g. $flag=14:12), got '$a'"
    a.stripPrefix(s"$flag=").split(":") match {
      case Array(bs, ts) =>
        (scala.util.Try(bs.toInt).toOption, scala.util.Try(ts.toInt).toOption) match {
          case (Some(x), Some(y)) if x > 0 && y > 0 => (x, y)
          case _ => sys.error(usage)
        }
      case _ => sys.error(usage)
    }
  }

  /** Shared `--flag=k[:threshold]` parser (the semdedup family). */
  private def parseKThr(flag: String, a: String): (Int, Double) = {
    val usage = s"$flag expects positive k[:threshold in (0,1]] (e.g. $flag=45:0.9), got '$a'"
    def pos(str: String) =
      scala.util.Try(str.toInt).toOption.filter(_ > 0).getOrElse(sys.error(usage))
    a.stripPrefix(s"$flag=").split(":") match {
      case Array(ks) => (pos(ks), 0.9)
      case Array(ks, ts) =>
        (pos(ks), scala.util.Try(ts.toDouble).toOption
          .filter(t => t > 0 && t <= 1).getOrElse(sys.error(usage)))
      case _ => sys.error(usage)
    }
  }

  def main(args: Array[String]): Unit = {
    // a leading flag must not be silently consumed as the data dir
    // (`--hot-bucket` as sfDir dies much later with a confusing
    // "Path does not exist: --hot-bucket/documents.parquet")
    val sfDir = args.headOption.filter(!_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")

    // --skew=N — the skew-family probe at N× (N ∈ {1, 10, 100}): a
    // planted-hot-key corpus (ONE key owns half the rows, the rest
    // uniform over 1024 keys — fx11's corpus makes every key heavy, this
    // isolates the single-straggler shape) generated at 600k·N pairs,
    // the 1× size of fx11's lineitem input. Three paths:
    //   salted_group — groupByKeySalted (reference full-list semantics;
    //     the hot key's list concatenates on one reducer BY CONTRACT);
    //   reduce — reduceByKey (map-side combine; skew-immune, the
    //     aggregation users should reach for at scale);
    //   join_aqe / join_noaqe — hot fact ⋈ key dim under sort-merge
    //     (broadcast disabled: a 1k-row dim always broadcasts, hiding
    //     the path 100 TB dims take), with AQE's skew split on vs off,
    //     plan-checked that the split actually engaged.
    if (args.exists(_.startsWith("--skew"))) {
      import spark.implicits._
      import graft.dset.DSet
      import graft.dset.DSet.KVOps
      val mult = args.find(_.startsWith("--skew="))
        .map(_.stripPrefix("--skew=").toInt).getOrElse(1)
      val n = 600000L * mult
      def pairs() = new DSet(spark.range(n).select(
        when(col("id") % 2 === 0, lit("HOT"))
          .otherwise(concat(lit("k"), (col("id") % 1024).cast("string"))).as("k"),
        (col("id") % 100).as("v")).as[(String, Long)])
      // salt spreads the hot key over this many reducers; sized to the
      // hot-key share the way a real corpus would size it (8 at 1×/10×
      // matches the recorded fx11 probes; 32 = one per core at 100×)
      val salt = if (mult >= 100) 32 else 8
      val tg = timed {
        pairs().groupByKeySalted(salt).mapByValue(vs => (vs.length.toLong, vs.sum))
          .map(t => (t._1, t._2._1, t._2._2))
          .ds.toDF("k", "cnt", "sum").write.format("noop").mode("overwrite").save()
      }
      println(f"[probe] ${s"skew_salted_group_${mult}x"}%-24s $tg%6.2f s (salt=$salt)")
      val tr = timed {
        pairs().reduceByKey(_ + _).ds.toDF("k", "sum")
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[probe] ${s"skew_reduce_${mult}x"}%-24s $tr%6.2f s")

      val dim = spark.range(1025).select(
        when(col("id") === 1024, lit("HOT"))
          .otherwise(concat(lit("k"), col("id").cast("string"))).as("k"),
        (col("id") * 7).as("w"))
      // the fact carries an incompressible payload (a real fact row's
      // width): with only the constant key + a cyclic value, lz4 shrinks
      // the hot partition's shuffle blocks ~20× and the BYTES-based skew
      // detection never sees the row skew that is plainly there
      val fact = spark.range(n).select(
        when(col("id") % 2 === 0, lit("HOT"))
          .otherwise(concat(lit("k"), (col("id") % 1024).cast("string"))).as("k"),
        (col("id") % 100).as("v"),
        md5(col("id").cast("string")).as("payload"))
      // capture each run's final adaptive plan so the probe can PROVE the
      // skew split engaged instead of inferring it from wall time
      @volatile var lastPlan = ""
      @volatile var planSeq = 0
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
          lastPlan = qe.executedPlan.toString; planSeq += 1
        }
        override def onFailure(name: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val skew0 = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // skew detection is THRESHOLD-relative (a partition is split when
        // it exceeds skewedPartitionThresholdInBytes AND 5× the median):
        // the defaults (256 MB / 64 MB advisory) are sized for the
        // multi-GB shuffle partitions of a real cluster, while this
        // probe's hot partition lands around 100-200 MB compressed (the
        // constant "HOT" key column compresses away). Scale the knobs to
        // the probe the way an operator scales them to a cluster —
        // detection at 64 MB, re-split advisory 16 MB.
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        for (aqeSkew <- Seq(true, false)) {
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
          val seq0 = planSeq
          val tj = timed {
            fact.join(dim, "k")
              .select(sum(col("v") + col("w") + length(col("payload"))).as("s"))
              .write.format("noop").mode("overwrite").save()
          }
          // the execution-end event rides the ASYNC listener bus: poll on
          // a RUN SEQUENCE, not plan emptiness — an emptiness poll that
          // timed out would let the late event satisfy the NEXT
          // iteration's poll and attribute run N's plan to run N+1
          val deadline = System.nanoTime() + 10000000000L
          while (planSeq == seq0 && System.nanoTime() < deadline) Thread.sleep(20)
          val tag = if (aqeSkew) "join_aqe" else "join_noaqe"
          val split = if (aqeSkew) s", skew-split=${lastPlan.contains("skew=true")}" else ""
          println(f"[probe] ${s"skew_${tag}_${mult}x"}%-24s $tj%6.2f s$split")
          if (args.contains("--skew-debug")) println(lastPlan)
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast0)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew0)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.listenerManager.unregister(listener)
      }
      spark.stop(); return
    }

    if (args.contains("--hot-bucket")) {
      val docs = Tables.load(spark, sfDir, "documents")
      // plant one degenerate cluster: 3000 copies of a single doc
      val hot = spark.range(3000).select(
        (col("id") + 900000000L).as("doc_id"),
        lit("the same short boilerplate paragraph repeated verbatim across the corpus").as("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(hot)
      // an Observation registers with one query execution only — fresh one
      // per run; warm-up separately, then one timed run
      Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 16)
        .write.format("noop").mode("overwrite").save()
      val obs = Observation("drops")
      val t0 = System.nanoTime()
      Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 16, dropMetrics = Some(obs))
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      println(s"[probe] hot_bucket guard: ${"%.2f".format(t)} s, metrics=${obs.get}")
    } else {
      // positional args are query names; the first is the data dir only
      // when it actually was consumed as such above
      val positional = args.filter(!_.startsWith("--")).toSeq
      val nameArgs =
        if (args.headOption.exists(!_.startsWith("--"))) positional.drop(1) else positional
      val names = nameArgs match {
        case more if more.nonEmpty => more.toSeq
        // bare `--only [--srp=..]` means: nothing but the explicit probes
        case _ if args.contains("--only") => Seq.empty
        case _ => Seq("d3_minhash_neardup", "d4_ngram_neardup", "d5_simhash_neardup",
          "v3_ann_srp_pairs", "km1_kmeans_sizes", "km2_ivf_knn", "sq1_sessions")
      }
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t = timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        println(f"[probe] $name%-24s ${t}%6.2f s")
      }
      // --auto — the PRODUCTION-DEFAULT path: no explicit keying, the
      // operators resolve bits/bands from the AutoBits/AutoBands
      // contracts themselves (what a caller who knows nothing about LSH
      // keying now gets). The probe exists to pin that the default path
      // tracks the explicitly-contract-keyed probe rows (--srp at
      // autoBits(n), --hybrid at autoBands) instead of the saturating
      // literal economics the defaults used to be.
      if (args.contains("--auto")) {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val tAnn = timed {
          graft.operators.Similarity.annCosinePairs(emb, "vec_id", "embedding", 64, 0.45)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"v3_auto_default"}%-24s ${tAnn}%6.2f s")
        val docs = Tables.load(spark, sfDir, "documents")
        val tMh = timed {
          Dedup.minhashNearDupPairs(docs, "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"d3_auto_default"}%-24s ${tMh}%6.2f s")
      }
      // --srp=bits:tables — probe the ANN contract path at explicit
      // parameters (bits must grow with the corpus: ≈ log2(n / bucket))
      args.filter(_.startsWith("--srp=")).foreach { a =>
        val (b, tb) = parseBitsTables("--srp", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ts = timed {
          graft.operators.Similarity.annCosinePairs(
            emb, "vec_id", "embedding", 64, 0.45, bits = b, tables = tb)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v3_srp_b${b}_t$tb"}%-24s ${ts}%6.2f s")
      }
      // --lshsat — the DECLARED-parameter saturation table (SCALING.md
      // "Honest gaps" closure, r19): the oracle-pinned gate
      // parameterizations (d3's bands=16 word-3-gram MinHash, v3's
      // bits=6 SRP) measured at THIS corpus size next to the
      // contract-keyed forms (autoBands, autoBits(n)) — the wall of the
      // full verified-pairs job plus the bucket-population shape that
      // drives it: colliding buckets, max/mean members, raw candidate
      // pairs Σ c(c−1)/2, the pairs the maxBucketSize=1000 guard keeps,
      // and the hot buckets it drops. Run at sf0.1, /tmp/sf10x and
      // /tmp/sf100x for the ladder: a FIXED key holds buckets ∝ n (raw
      // candidates ~n²/2^keys, then the guard turns saturation into
      // recall loss — hot buckets dropped whole), while the auto-keyed
      // forms re-size to hold bucket population roughly constant. All
      // counts printed are measured, never assumed.
      if (args.contains("--lshsat")) {
        val docs = Tables.load(spark, sfDir, "documents")
        val emb = Tables.load(spark, sfDir, "embeddings")
        val nDocs = docs.count()
        val nVec = emb.count() // raw count; autoBits label notes it
        def stats(buckets: org.apache.spark.sql.DataFrame, label: String,
            wallS: Double): Unit = {
          // coalesce the no-colliding-buckets case: max/avg/sum over an
          // empty set are NULL and a bare getLong would NPE — a
          // parameterization with zero collisions must print a zero row,
          // not kill the ladder
          val r = buckets.select(size(col("ids")).cast("long").as("c"))
            .filter(col("c") > 1)
            .agg(count(lit(1)).as("buckets"),
              coalesce(max(col("c")), lit(0L)).as("maxb"),
              coalesce(round(avg(col("c")), 1), lit(0.0)).as("meanb"),
              coalesce(sum(col("c") * (col("c") - 1) / 2).cast("long"), lit(0L)).as("cand_raw"),
              coalesce(sum(when(col("c") <= 1000, col("c") * (col("c") - 1) / 2)
                .otherwise(0L)).cast("long"), lit(0L)).as("cand_kept"),
              count(when(col("c") > 1000, 1)).as("hot_dropped"))
            .collect()(0)
          println(f"[probe] lshsat $label%-26s wall=$wallS%7.2f s  " +
            s"buckets>1=${r.getLong(0)} max=${r.getLong(1)} mean=${r.get(2)} " +
            s"cand_raw=${r.getLong(3)} cand_kept=${r.getLong(4)} hot_dropped=${r.getLong(5)}")
        }
        // d3's declared form vs the autoBands contract at this n
        val aBands = Dedup.autoBands(64, 0.8)
        for ((bands, tag) <- Seq((16, "declared_b16"), (aBands, s"auto_b$aBands"))) {
          val w = timed {
            Dedup.minhashNearDupPairs(docs, "doc_id", "text", bands = bands)
              .write.format("noop").mode("overwrite").save()
          }
          stats(Dedup.minhashSketch(docs, "doc_id", "text", bands = bands),
            s"d3_${tag}_n$nDocs", w)
        }
        // v3's declared form vs the autoBits contract at this n
        val aBits = graft.operators.Similarity.autoBits(math.max(1L, nVec))
        for ((bits, tag) <- Seq((6, "declared_bits6"), (aBits, s"auto_bits$aBits"))) {
          val w = timed {
            graft.operators.Similarity.annCosinePairs(
              emb, "vec_id", "embedding", 64, 0.45, bits = bits)
              .write.format("noop").mode("overwrite").save()
          }
          stats(graft.operators.Similarity.srpSketch(
            emb, "vec_id", "embedding", 64, bits = bits), s"v3_${tag}_n$nVec", w)
        }
      }
      // --annsketch=bits:tables — the INCREMENTAL ANN screen (v10's
      // shape) at scale: the existing corpus (vec_id % 10 != 7) is
      // sketched ONCE to parquet (timed separately — the artifact build
      // a pipeline amortizes), then the daily batch screens against the
      // saved sketch (timed — the steady per-batch cost, which re-reads
      // but never re-hashes the corpus).
      args.filter(_.startsWith("--annsketch=")).foreach { a =>
        val (b, tb) = parseBitsTables("--annsketch", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val old = emb.filter(col("vec_id") % 10 =!= 7)
        val batch = emb.filter(col("vec_id") % 10 === 7)
        val skDir = graft.queries.QueryTmp.dir("probe-srpsk") + "/sketch"
        val tBuild = timed {
          graft.operators.Similarity.srpSketch(old, "vec_id", "embedding", 64, b, tb)
            .write.mode("overwrite").parquet(skDir)
        }
        println(f"[probe] ${s"v10_sketch_build_b$b"}%-24s ${tBuild}%6.2f s")
        val sk = spark.read.parquet(skDir)
        val tScreen = timed {
          graft.operators.Similarity.incrementalAnnKeep(batch, sk, old,
            "vec_id", "embedding", 64, 0.45, bits = b, tables = tb)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v10_screen_b$b"}%-24s ${tScreen}%6.2f s")
      }
      // --annsketchappend=bits:tables — the r15 maintenance loop at
      // scale: the saved SRP sketch covers vec_id % 10 ∉ {7, 8}; the
      // accepted % 10 = 8 batch is appended (timed — must stay BATCH-
      // sized, flat across corpus decades: each timed append adds
      // identical fragment rows, so repeat-timing is sound, the ii3
      // reasoning); then today's batch screens against the appended
      // artifact (timed), and a compaction pass merges fragments
      // (timed — O(sketch), the rebuild-cadence maintenance cost).
      args.filter(_.startsWith("--annsketchappend=")).foreach { a =>
        val (b, tb) = parseBitsTables("--annsketchappend", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 8)
        val acc = emb.filter(col("vec_id") % 10 === 8)
        val old = emb.filter(col("vec_id") % 10 =!= 7)
        val batch = emb.filter(col("vec_id") % 10 === 7)
        val skDir = graft.queries.QueryTmp.dir("probe-srpapp") + "/sketch"
        graft.operators.Similarity.srpSketch(base, "vec_id", "embedding", 64, b, tb)
          .write.mode("overwrite").parquet(skDir)
        val tAppend = timed {
          graft.operators.Similarity.appendToSrpSketch(
            acc, "vec_id", "embedding", 64, skDir, b, tb)
        }
        println(f"[probe] ${s"v12_sketch_append_b$b"}%-24s ${tAppend}%6.2f s")
        val tScreen = timed {
          graft.operators.Similarity.incrementalAnnKeep(
            batch, spark.read.parquet(skDir), old,
            "vec_id", "embedding", 64, 0.45, bits = b, tables = tb)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v12_screen_after_b$b"}%-24s ${tScreen}%6.2f s")
        val tCompact = timed {
          graft.operators.Similarity.compactSrpSketch(spark, skDir)
        }
        println(f"[probe] ${s"v12_compact_b$b"}%-24s ${tCompact}%6.2f s")
      }
      // --mhappend — the text-side maintenance loop (d17's shape): append
      // the accepted doc_id % 10 = 8 batch to the saved minhash sketch
      // (timed, batch-sized), screen today's batch against it (timed),
      // compact (timed, O(sketch) — no text re-read).
      if (args.contains("--mhappend")) {
        val docs = Tables.load(spark, sfDir, "documents")
        val base = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8)
        val acc = docs.filter(col("doc_id") % 10 === 8)
        val old = docs.filter(col("doc_id") % 10 =!= 7)
        val batch = docs.filter(col("doc_id") % 10 === 7)
        val skDir = graft.queries.QueryTmp.dir("probe-mhapp") + "/sketch"
        Dedup.minhashSketch(base, "doc_id", "text").write.mode("overwrite").parquet(skDir)
        val tAppend = timed {
          Dedup.appendToMinhashSketch(acc, "doc_id", "text", skDir)
        }
        println(f"[probe] ${"d17_sketch_append"}%-24s ${tAppend}%6.2f s")
        val tScreen = timed {
          Dedup.incrementalNearDupKeepWithSketch(
            batch, spark.read.parquet(skDir), old, "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"d17_screen_after"}%-24s ${tScreen}%6.2f s")
        val tCompact = timed { Dedup.compactMinhashSketch(spark, skDir) }
        println(f"[probe] ${"d17_compact"}%-24s ${tCompact}%6.2f s")
      }
      // --shappend — the SimHash maintenance loop (d19/d20's shape): the
      // self-sufficient sketch means the screen reads NO corpus text —
      // append the accepted batch (timed, batch-sized), screen today's
      // batch against the appended artifact (timed), compact (timed).
      if (args.contains("--shappend")) {
        val docs = Tables.load(spark, sfDir, "documents")
        val base = docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8)
        val acc = docs.filter(col("doc_id") % 10 === 8)
        val batch = docs.filter(col("doc_id") % 10 === 7)
        val skDir = graft.queries.QueryTmp.dir("probe-shapp") + "/sketch"
        Dedup.simhashSketch(base, "doc_id", "text").write.mode("overwrite").parquet(skDir)
        val tAppend = timed {
          Dedup.appendToSimhashSketch(acc, "doc_id", "text", skDir)
        }
        println(f"[probe] ${"d20_sketch_append"}%-24s ${tAppend}%6.2f s")
        val tScreen = timed {
          Dedup.incrementalSimhashKeep(batch, spark.read.parquet(skDir), "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"d20_screen_after"}%-24s ${tScreen}%6.2f s")
        val tCompact = timed { Dedup.compactSimhashSketch(spark, skDir) }
        println(f"[probe] ${"d20_compact"}%-24s ${tCompact}%6.2f s")
      }
      // --assignedappend=k[:threshold] — the v13 maintenance loop: the
      // assigned corpus (vec_id % 10 ∉ {7, 8}, fixed router) is the saved
      // table; appendAssigned folds the accepted batch's assigned rows in
      // (timed — a locked parquet append of batch-assigned rows, so the
      // assignment job IS the cost); the screen then reads the appended
      // table (timed).
      args.filter(_.startsWith("--assignedappend=")).foreach { a =>
        val (k, thr) = parseKThr("--assignedappend", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val model = KMeans.fit(emb.limit(20000), "vec_id", "embedding", k, 5)
        def assigned(part: org.apache.spark.sql.DataFrame) =
          KMeans.assign(part, "vec_id", "embedding", model)
            .join(part.select(col("vec_id"), col("embedding")), "vec_id")
        val aDir = graft.queries.QueryTmp.dir("probe-asgapp") + "/assigned"
        assigned(emb.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 8))
          .write.mode("overwrite").parquet(aDir)
        val tAppend = timed {
          graft.operators.Similarity.appendAssigned(
            assigned(emb.filter(col("vec_id") % 10 === 8)), aDir)
        }
        println(f"[probe] ${s"v13_assigned_append_k$k"}%-24s ${tAppend}%6.2f s")
        val tScreen = timed {
          graft.operators.Similarity.incrementalSemDedupKeep(
            assigned(emb.filter(col("vec_id") % 10 === 7)), spark.read.parquet(aDir),
            "vec_id", "embedding", "cluster", thr, maxCellSize = Int.MaxValue)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v13_screen_after_k$k"}%-24s ${tScreen}%6.2f s")
      }
      // --ingest — the screened streaming ingest (st4's probe): three
      // ordered daily batches stream through ScreenedIngest against a
      // pre-seeded base corpus + sketch. Two numbers: the FIRST pass
      // (real ingest — screens, corpus appends, sketch appends) and the
      // rerun min-of-3 (the redelivery shape: every batch self-matches
      // and appends nothing — the steady floor of the loop's fixed
      // costs). Both must stay ~flat per batch as the corpus decade
      // grows or the continuous-query claim is wrong.
      if (args.contains("--ingest")) {
        val docs = Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val root = graft.queries.QueryTmp.dir("probe-ingest")
        val drop = s"$root/drop"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
        val corpus = s"$root/corpus"
        val sketch = s"$root/sketch"
        val base = docs.filter(col("doc_id") % 10 =!= 7 &&
          col("doc_id") % 10 =!= 8 && col("doc_id") % 10 =!= 9)
        base.write.mode("overwrite").parquet(corpus)
        graft.operators.Dedup.simhashSketch(base, "doc_id", "text")
          .write.mode("overwrite").parquet(sketch)
        Seq(7, 8, 9).zipWithIndex.foreach { case (m, i) =>
          graft.queries.QueryTmp.stageJsonBatch(
            docs.filter(col("doc_id") % 10 === m),
            drop, s"b$i.json", 1700000000000L + i * 60000L)
        }
        val schema = docs.schema
        def run(): Unit = {
          val ss = spark.newSession()
          ss.conf.set("spark.sql.shuffle.partitions", "32")
          val stream = ss.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").json(drop)
          val q = graft.streaming.ScreenedIngest.start(stream, "doc_id", "text",
            sketch, corpus, graft.queries.QueryTmp.dir("probe-ingest-ckpt"))
          try q.processAllAvailable() finally q.stop()
        }
        val t0 = System.nanoTime()
        run()
        val tFirst = (System.nanoTime() - t0) / 1e9
        println(f"[probe] ${"st4_ingest_first"}%-24s ${tFirst}%6.2f s")
        val tRerun = timed { run() }
        println(f"[probe] ${"st4_ingest_rerun"}%-24s ${tRerun}%6.2f s")
      }
      // --ivfbatch: the vector-side serving-tier economics (the
      // --bm25batch analog on IVF ANN): ivfKnn already takes N queries
      // per call — 8 queries (vec_id % 100 == 1, capped at 8) served
      // as 8 single-query calls (each re-routes and re-reads the
      // corpus cells) vs ONE 8-query call (one corpus routing pass,
      // probes broadcast). The per-call corpus routing pass is the
      // fixed cost the batch amortizes, exactly the postings-read
      // argument on the vector side.
      if (args.contains("--ivfbatch")) {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val model = KMeans.fit(emb.limit(20000), "vec_id", "embedding", 8, 5)
        val qs = emb.filter(col("vec_id") % 100 === 1).limit(8)
          .select(col("vec_id"), col("embedding"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        import spark.implicits._
        def qdf(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
        val tSep = timed {
          qs.foreach { q =>
            KMeans.ivfKnn(qdf(Seq(q)), emb, "vec_id", "embedding", model,
                nprobe = 2, topK = 10)
              .write.format("noop").mode("overwrite").save()
          }
        }
        println(f"[probe] ${s"ivf_separate_x${qs.length}"}%-24s ${tSep}%6.2f s")
        val tBatch = timed {
          KMeans.ivfKnn(qdf(qs.toSeq), emb, "vec_id", "embedding", model,
              nprobe = 2, topK = 10)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"ivf_batched_x${qs.length}"}%-24s ${tBatch}%6.2f s")
      }
      // --ixingest — the continuously-maintained BM25 index (st5's
      // probe, the --ingest pattern on the retrieval side): three daily
      // batches stream into a pre-seeded scored index. FIRST pass =
      // real maintenance (batch tokenize + locked append + totals
      // fold + the column-pruned id screen); rerun min-of-3 = the
      // redelivery floor (every batch screens to empty and appends
      // nothing). Both must stay ~flat per batch as the corpus decade
      // grows or the continuous-maintenance claim is wrong.
      if (args.contains("--ixingest")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        val root = graft.queries.QueryTmp.dir("probe-ixingest")
        val drop = s"$root/drop"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(drop))
        val index = s"$root/postings"
        InvertedIndex.materializeScored(
          docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 8 &&
            col("doc_id") % 10 =!= 9),
          "doc_id", "text", index)
        Seq(7, 8, 9).zipWithIndex.foreach { case (m, i) =>
          graft.queries.QueryTmp.stageJsonBatch(
            docs.filter(col("doc_id") % 10 === m),
            drop, s"b$i.json", 1700000000000L + i * 60000L)
        }
        val schema = docs.schema
        def run(): Unit = {
          val ss = spark.newSession()
          ss.conf.set("spark.sql.shuffle.partitions", "32")
          val stream = ss.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").json(drop)
          val q = graft.streaming.IndexIngest.start(stream, "doc_id", "text",
            index, graft.queries.QueryTmp.dir("probe-ixingest-ckpt"))
          try q.processAllAvailable() finally q.stop()
        }
        val t0 = System.nanoTime()
        run()
        val tFirst = (System.nanoTime() - t0) / 1e9
        println(f"[probe] ${"st5_ixingest_first"}%-24s ${tFirst}%6.2f s")
        val tRerun = timed { run() }
        println(f"[probe] ${"st5_ixingest_rerun"}%-24s ${tRerun}%6.2f s")
      }
      // --fsappend — the ArtifactIo seam's price (r17): the SAME
      // incremental scored-index maintenance loop (build base without
      // the doc_id%10==7 batch, append the batch, attach, one ii4-style
      // search) run twice — once on a scheme-less LOCAL path (java.nio
      // primitives, OS advisory lock) and once on the IDENTICAL
      // directory via the file: scheme (Hadoop FileSystem/FileContext
      // primitives, create-exclusive lock file). The parquet jobs are
      // byte-identical by construction; any delta is the io seam's own
      // cost (lock protocol + sidecar publish + probes), which must be
      // noise-level or the hdfs://-deployment claim carries a hidden tax.
      if (args.contains("--fsappend")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
        def loop(path: String): Double = timed {
          graft.sources.ArtifactIo.forPath(path)
            .deleteTree(path) // fresh artifact per timed run
          InvertedIndex.materializeScored(
            docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", path): Unit
          InvertedIndex.appendScored(
            docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", path): Unit
          val (scored, stats) = InvertedIndex.attachScored(spark, path, "doc_id")
          InvertedIndex.searchBm25(scored, "doc_id",
              InvertedIndex.topTokensByDf(scored, 3), 10, stats = Some(stats))
            .write.format("noop").mode("overwrite").save()
        }
        val root = graft.queries.QueryTmp.dir("probe-fsappend")
        val tLocal = loop(s"$root/local-postings")
        println(f"[probe] ${"fsappend_local"}%-24s ${tLocal}%6.2f s")
        val tHadoop = loop(s"file:$root/hadoop-postings")
        println(f"[probe] ${"fsappend_hadoop_file"}%-24s ${tHadoop}%6.2f s")
      }
      // --pccache — the plan cache's store-protocol price (r18): one
      // cold attach (compute + publish) and one warm attach (key derive
      // + read) of the SAME plan on each of the three store classes —
      // scheme-less local (rename publish via java.nio), file: (rename
      // publish via FileContext), and mock3a: (the simulated
      // rename-by-copy store: manifest-last publish through copy-rename
      // committers). The manifest protocol must price at parity: its
      // extra work is one manifest PUT + per-part copies that the other
      // stores pay inside their renames.
      if (args.contains("--pccache")) {
        import graft.sources.{ArtifactIo, PlanCache, RenameByCopyMockFs}
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("fs.mock3a.impl", classOf[RenameByCopyMockFs].getName)
        // additive — a plain set would deregister another registration
        // in the same session conf
        ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
        val root = graft.queries.QueryTmp.dir("probe-pccache")
        def plan() = Tables.load(spark, sfDir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
        for ((label, dir) <- Seq(
            ("local", s"$root/local"),
            ("hadoop_file", s"file:$root/hadoop"),
            ("objstore_mock3a", s"mock3a:$root/objstore"))) {
          val tCold = timed {
            PlanCache.readThrough(plan(), dir)
              .write.format("noop").mode("overwrite").save()
          }
          println(f"[probe] ${s"pccache_${label}_cold"}%-24s $tCold%6.2f s")
          val tWarm = timed {
            PlanCache.readThrough(plan(), dir)
              .write.format("noop").mode("overwrite").save()
          }
          println(f"[probe] ${s"pccache_${label}_warm"}%-24s $tWarm%6.2f s")
        }
      }
      // --prconv=bits:tables — convergence-driven PageRank (v8c's probe):
      // the per-round checkpoint + delta machinery at tol=1e-6 on the
      // kNN graph at the given keying; prints rounds so a cost change
      // decomposes into rounds × per-round price.
      args.filter(_.startsWith("--prconv=")).foreach { a =>
        val (b, tb) = parseBitsTables("--prconv", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val eDir = graft.queries.QueryTmp.dir("probe-prconv") + "/edges"
        graft.operators.Similarity.annKnnGraph(
            emb, "vec_id", "embedding", 64, k = 3, bits = b, tables = tb)
          .write.mode("overwrite").parquet(eDir)
        val edges = spark.read.parquet(eDir)
        var rounds = 0
        val ts = timed {
          val (pr, r) = graft.operators.Graph.pageRankConverged(
            edges, "vec_id", "neighbor", emb, "vec_id", tol = 1e-6, maxIters = 100)
          rounds = r
          try pr.write.format("noop").mode("overwrite").save()
          finally org.apache.spark.sql.graftbridge.releaseCheckpoints(pr)
        }
        println(f"[probe] ${s"v8c_prconv_b${b}_r$rounds"}%-24s ${ts}%6.2f s")
      }
      // --knn=bits:tables — annKnnGraph at the scale-contract keying
      // (the --srp twin for the kNN-graph path: v7's gate pins bits=6
      // for the oracle replay; the deployed operating point re-keys by
      // autoBits, and this measures that path)
      args.filter(_.startsWith("--knn=")).foreach { a =>
        val (b, tb) = parseBitsTables("--knn", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ts = timed {
          graft.operators.Similarity.annKnnGraph(
            emb, "vec_id", "embedding", 64, k = 3, bits = b, tables = tb)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v7_knn_b${b}_t$tb"}%-24s ${ts}%6.2f s")
      }
      // --pagerank=bits:tables — PageRank over the kNN graph at the
      // scale-contract keying (v8's gate pins bits=6 for the oracle; the
      // deployed point re-keys by autoBits — PR itself is edge-linear:
      // 3 shuffle joins over k·n edges regardless of keying)
      args.filter(_.startsWith("--pagerank=")).foreach { a =>
        val (b, tb) = parseBitsTables("--pagerank", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ts = timed {
          val edges = graft.operators.Similarity.annKnnGraph(
            emb, "vec_id", "embedding", 64, k = 3, bits = b, tables = tb)
          graft.operators.Graph.pageRank(edges, "vec_id", "neighbor", emb, "vec_id")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v8_pr_b${b}_t$tb"}%-24s ${ts}%6.2f s")
        // the weighted + dangling-redistribution variant (v8b) on the
        // same keyed graph: adds one per-round broadcast dangling sum
        // (anti-join against the pinned source-id set) over v8's shape
        val tw = timed {
          val edges = graft.operators.Similarity.annKnnGraph(
            emb, "vec_id", "embedding", 64, k = 3, bits = b, tables = tb)
          graft.operators.Graph.pageRank(edges, "vec_id", "neighbor", emb, "vec_id",
            weightCol = Some("sim"), redistributeDangling = true)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v8b_prw_b${b}_t$tb"}%-24s ${tw}%6.2f s")
      }
      // --hybrid=bits:tables — x1's full hybrid-dedup composition
      // (MinHash-LSH text pairs ∪ SRP-LSH ANN cosine pairs → connected
      // components) at the scale-contract SRP keying: the x1 gate pins
      // bits=6 for the oracle replay; the deployed point re-keys by
      // autoBits, and this measures that path end-to-end.
      args.filter(_.startsWith("--hybrid=")).foreach { a =>
        val (b, tb, bands) = a.stripPrefix("--hybrid=").split(":") match {
          case Array(bs, ts) =>
            (scala.util.Try(bs.toInt).toOption, scala.util.Try(ts.toInt).toOption) match {
              case (Some(x), Some(y)) if x > 0 && y > 0 => (x, y, 16)
              case _ => sys.error(s"--hybrid expects positive bits:tables[:bands], got '$a'")
            }
          case Array(bs, ts, bd) =>
            (scala.util.Try(bs.toInt).toOption, scala.util.Try(ts.toInt).toOption,
              scala.util.Try(bd.toInt).toOption) match {
              case (Some(x), Some(y), Some(z)) if x > 0 && y > 0 && z > 0 => (x, y, z)
              case _ => sys.error(s"--hybrid expects positive bits:tables[:bands], got '$a'")
            }
          case _ => sys.error(s"--hybrid expects bits:tables[:bands] (e.g. --hybrid=13:12:8), got '$a'")
        }
        val ts = timed {
          val txt = Dedup.minhashNearDupPairs(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text", bands = bands)
            .select(col("doc_a").as("a"), col("doc_b").as("b"))
          val emb = graft.operators.Similarity.annCosinePairs(
            Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding", 64, 0.45,
            bits = b, tables = tb)
            .select(col("id_a").as("a"), col("id_b").as("b"))
          Dedup.connectedComponents(txt.unionByName(emb), "a", "b")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"x1_hybrid_b${b}_t${tb}_bd$bands"}%-24s ${ts}%6.2f s")
      }
      // --semdedup=k[:threshold] — v9's composition at an explicit cell
      // count: k-means trained on a BOUNDED sample (the IVF convention —
      // centroid estimation needs density, not the corpus), full-corpus
      // assign, within-cell exact cosine pairs, connected components.
      // Size k per Similarity.semDedupCells (k = √n — the n·k + n²/k
      // cost-law minimum); the v9 gate pins k=8 / t=0.45 for the oracle
      // replay, the deployed dedup point is t ≈ 0.9.
      args.filter(_.startsWith("--semdedup=")).foreach { a =>
        val (k, thr) = parseKThr("--semdedup", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ts = timed {
          val sample = emb.limit(20000)
          val model = KMeans.fit(sample, "vec_id", "embedding", k, 5)
          val assigned = KMeans.assign(emb, "vec_id", "embedding", model)
            .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          val pairs = graft.operators.Similarity.clusterCosinePairs(
            assigned, "vec_id", "embedding", "cluster", thr,
            maxCellSize = Int.MaxValue) // exact: probe rows compare across rounds
          Dedup.connectedComponents(pairs, "id_a", "id_b")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v9_semdedup_k${k}_t$thr"}%-24s ${ts}%6.2f s")
      }
      // --semdedupinc=k[:threshold] — the INCREMENTAL screen (v11's
      // shape): fixed router fit on a bounded sample, both sides
      // assigned, batch (vec_id % 10 = 7) screened against the existing
      // corpus within shared cells. The steady per-batch cost of the
      // SemDeDup family — strictly below the full --semdedup closure
      // (new-vs-old pairs only, no within-corpus rescoring).
      args.filter(_.startsWith("--semdedupinc=")).foreach { a =>
        val (k, thr) = parseKThr("--semdedupinc", a)
        val emb = Tables.load(spark, sfDir, "embeddings")
        val old = emb.filter(col("vec_id") % 10 =!= 7)
        val batch = emb.filter(col("vec_id") % 10 === 7)
        val model = KMeans.fit(emb.limit(20000), "vec_id", "embedding", k, 5)
        def assigned(part: org.apache.spark.sql.DataFrame) =
          KMeans.assign(part, "vec_id", "embedding", model)
            .join(part.select(col("vec_id"), col("embedding")), "vec_id")
        val ts = timed {
          graft.operators.Similarity.incrementalSemDedupKeep(
            assigned(batch), assigned(old), "vec_id", "embedding", "cluster", thr,
            maxCellSize = Int.MaxValue)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v11_semdedupinc_k${k}_t$thr"}%-24s ${ts}%6.2f s")
      }
      // --semdedup2=k1:k2[:threshold] — the HIERARCHICAL tier: coarse
      // k-means + global residual-fine k-means (fitHierarchical, bounded
      // sample), one fused corpus routing pass (hierarchicalCells),
      // within-composite-cell pairs, connected components. Size per
      // Similarity.semDedupCellsHier (k1 = k2 = ∛n — the n(k1+k2) +
      // n²/(k1·k2) minimum, O(n^(4/3)) vs the flat tier's O(n^1.5)).
      args.filter(_.startsWith("--semdedup2=")).foreach { a =>
        val usage = s"--semdedup2 expects positive k1:k2[:threshold in (0,1]] (e.g. --semdedup2=13:13:0.9), got '$a'"
        def pos(s: String) = scala.util.Try(s.toInt).toOption.filter(_ > 0).getOrElse(sys.error(usage))
        val (k1, k2, thr) = a.stripPrefix("--semdedup2=").split(":") match {
          case Array(a1, a2) => (pos(a1), pos(a2), 0.9)
          case Array(a1, a2, ts) =>
            (pos(a1), pos(a2), scala.util.Try(ts.toDouble).toOption
              .filter(t => t > 0 && t <= 1).getOrElse(sys.error(usage)))
          case _ => sys.error(usage)
        }
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ts = timed {
          val sample = emb.limit(20000)
          val (coarse, fine) = graft.operators.Similarity.fitHierarchical(
            sample, "vec_id", "embedding", k1, k2, maxIters = 5)
          val assigned = graft.operators.Similarity.hierarchicalCells(
            emb, "vec_id", "embedding", coarse, fine)
            .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          val pairs = graft.operators.Similarity.clusterCosinePairs(
            assigned, "vec_id", "embedding", "cell", thr,
            maxCellSize = Int.MaxValue) // exact: probe rows compare across rounds
          Dedup.connectedComponents(pairs, "id_a", "id_b")
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v9h_semdedup2_k${k1}x${k2}_t$thr"}%-24s ${ts}%6.2f s")
      }
      // --kmpp: the k-means|| seeded-init fit (uncached), the init path a
      // real corpus runs (first-k is the oracle gate). Honored under
      // --only so it can probe at 100× without the 1×-sized extras.
      if (args.contains("--kmpp")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val t = timed {
          KMeans.fit(e, "vec_id", "embedding", 8, 5,
            init = KMeans.InitKMeansParallel(seed = 42L)): Unit
        }
        println(f"[probe] ${"km_fit_kmpp"}%-24s ${t}%6.2f s")
      }
      // --phrase: the steady-state phrase search — positional index
      // built ONCE (the ii2 gate pays the build + the t7-class probe
      // selection every run by design; this measures the per-query
      // price a repeatedly-probed index serves at)
      if (args.contains("--phrase")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
        // QueryTmp.dir: the create-plus-shutdown-cleanup helper Bench
        // already uses; probe selection via the SHARED topGramByDf so the
        // measured phrase cannot de-synchronize from the ii2 gate's
        val dir = graft.queries.QueryTmp.dir("probe-phrase")
        val postings = InvertedIndex.materializePositional(docs, "doc_id", "text", s"$dir/p")
        val top = InvertedIndex.topGramByDf(docs, "text", 2)
        val t = timed {
          InvertedIndex.searchPhrase(postings, "doc_id", top)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"phrase_search_steady"}%-24s ${t}%6.2f s")
      }
      // --bm25: steady-state RANKED search — scored index built + stats
      // computed ONCE (the ii4 gate pays both every run so the oracle
      // can replay them; this measures the per-query price of ranked
      // retrieval off the standing artifact, the ii2-phrase pattern)
      if (args.contains("--bm25")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
        val dir = graft.queries.QueryTmp.dir("probe-bm25")
        val scored = InvertedIndex.materializeScored(docs, "doc_id", "text", s"$dir/scored")
        val probes = InvertedIndex.topTokensByDf(scored, 3)
        val stats = InvertedIndex.corpusStats(scored, "doc_id")
        val t = timed {
          InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10, stats = Some(stats))
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"bm25_search_steady"}%-24s ${t}%6.2f s")
      }
      // --bm25batch: the SERVING-TIER economics of searchBm25Batch — N
      // probe sets (top-24 df tokens split into 8 triples) served as N
      // independent searchBm25 calls (N pruned postings reads) vs ONE
      // batched call (one union-pruned read). Index + stats are
      // pre-built (the ii4-steady convention); the separate/batched
      // ratio is the claimed sub-linearity, and it should WIDEN with
      // scale as each read's fixed scan cost grows.
      if (args.contains("--bm25batch")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
        val dir = graft.queries.QueryTmp.dir("probe-bm25b")
        val scored = InvertedIndex.materializeScored(docs, "doc_id", "text", s"$dir/scored")
        val stats = InvertedIndex.corpusStats(scored, "doc_id")
        val queries = InvertedIndex.topTokensByDf(scored, 24).grouped(3).toSeq
        val tSep = timed {
          queries.foreach { q =>
            InvertedIndex.searchBm25(scored, "doc_id", q, topK = 10, stats = Some(stats))
              .write.format("noop").mode("overwrite").save()
          }
        }
        println(f"[probe] ${"bm25_separate_x8"}%-24s ${tSep}%6.2f s")
        val tBatch = timed {
          InvertedIndex.searchBm25Batch(scored, "doc_id", queries, topK = 10,
              stats = Some(stats))
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${"bm25_batched_x8"}%-24s ${tBatch}%6.2f s")
      }
      // --phrasebatch: the phrase-search serving-tier economics (the
      // --bm25batch twin on the positional index): the corpus's top-4
      // df bigrams as 4 phrases — 4 independent searchPhrase fold-join
      // plans (each its own postings reads) vs ONE searchPhraseBatch
      // anchor-vote pass (one union-pruned read, one groupBy).
      if (args.contains("--phrasebatch")) {
        import graft.operators.InvertedIndex
        val docs = Tables.load(spark, sfDir, "documents")
        val dir = graft.queries.QueryTmp.dir("probe-phb")
        val postings = InvertedIndex.materializePositional(docs, "doc_id", "text", s"$dir/p")
        // deterministic multi-phrase probe via the SHARED gram ranking
        // (topGramsByDf — the same selection the ii2/ii9 gates replay)
        val phrases = InvertedIndex.topGramsByDf(docs, "text", 2, 4)
        val tSep = timed {
          phrases.foreach { ph =>
            InvertedIndex.searchPhrase(postings, "doc_id", ph)
              .write.format("noop").mode("overwrite").save()
          }
        }
        // labels carry the ACTUAL phrase count: topGramsByDf returns
        // fewer than requested on a gram-poor corpus, and a silently
        // mislabeled xN row would corrupt cross-round comparisons (the
        // no-silent-caps convention)
        println(f"[probe] ${s"phrase_separate_x${phrases.length}"}%-24s ${tSep}%6.2f s")
        val tBatch = timed {
          InvertedIndex.searchPhraseBatch(postings, "doc_id", phrases)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"phrase_batched_x${phrases.length}"}%-24s ${tBatch}%6.2f s")
      }
      // --mhsig: the MEASURE-FIRST probe for the proposed MinHash
      // signature middle tier (r15 residual #2): would carrying the
      // 64-hash signatures (fixed 512 B/doc) in the sketch pay, by
      // pre-filtering candidates on ESTIMATED Jaccard before the exact
      // text re-read? Reports, for the d17-shaped screen (batch = %10=7
      // vs old corpus): candidate pair count, distinct old ids whose
      // text the verify step re-reads (the cost the tier would cut), the
      // pairs/ids prunable at est-J cutoffs below the 0.8 threshold, and
      // — the correctness constraint — FALSE DROPS (est < cutoff but
      // exact >= 0.8), which must be zero for the gate to stay
      // rebuild-exact. Decision recorded in BASELINE.md.
      if (args.contains("--mhsig")) {
        import graft.operators.Dedup
        val docs = Tables.load(spark, sfDir, "documents")
        val old = docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("id"), col("text"))
        val batch = docs.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id").as("id"), col("text"))
        val sh = Dedup.wordShingleHashes(col("text"), 3)
        def sets(raw: org.apache.spark.sql.DataFrame) = raw
          .repartition(32)
          .select(col("id"), sh.as("shs")).filter(size(col("shs")) > 0)
          .select(col("id"), col("shs"),
            Dedup.minhashSignature(col("shs"), 64).as("sig"))
        def buckets(s: org.apache.spark.sql.DataFrame, ids: String) = s
          .select(col("id"), posexplode(Dedup.bandKeys(col("sig"), 64, 16)))
          .toDF("id", "band", "key")
          .groupBy("band", "key").agg(collect_list(col("id")).as(ids))
        val oldSets = sets(old).persist()
        val newSets = sets(batch).persist()
        val pairs = buckets(newSets, "new_ids").join(buckets(oldSets, "old_ids"),
            Seq("band", "key"))
          .filter(size(col("new_ids")) <= 1000 && size(col("old_ids")) <= 1000)
          .select(explode(col("new_ids")).as("nid"), col("old_ids"))
          .select(col("nid"), explode(col("old_ids")).as("oid"))
          .distinct()
        val est = expr("aggregate(zip_with(sig_n, sig_o, (a, b) -> " +
          "CASE WHEN a = b THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x) / 64.0")
        val scoredPairs = pairs
          .join(newSets.select(col("id").as("nid"), col("shs").as("sh_n"),
            col("sig").as("sig_n")), "nid")
          .join(oldSets.select(col("id").as("oid"), col("shs").as("sh_o"),
            col("sig").as("sig_o")), "oid")
          .select(col("nid"), col("oid"), est.as("est"),
            Dedup.jaccardSorted(col("sh_n"), col("sh_o")).as("exact"))
          .persist()
        val nPairs = scoredPairs.count()
        val nOids = scoredPairs.select("oid").distinct().count()
        val nReal = scoredPairs.filter(col("exact") >= 0.8).count()
        println(f"[probe] mhsig_candidates        pairs=$nPairs oids_reread=$nOids exact_ge_0.8=$nReal")
        for (cut <- Seq(0.5, 0.6, 0.65, 0.7)) {
          val pruned = scoredPairs.filter(col("est") < cut)
          val nPruned = pruned.count()
          val falseDrops = pruned.filter(col("exact") >= 0.8).count()
          // oids still needed after pruning — the residual re-read volume
          val oidsLeft = scoredPairs.filter(col("est") >= cut)
            .select("oid").distinct().count()
          println(f"[probe] mhsig_cut_$cut%-12s pruned=$nPruned%5d oids_left=$oidsLeft%5d false_drops=$falseDrops")
        }
        scoredPairs.unpersist(); oldSets.unpersist(); newSets.unpersist()
      }
      // --buckets: perplexity bucketing in BOTH boundary modes — exact
      // per-stratum rank window (the f4 oracle surface) vs the
      // percentile_approx sketch boundary (the 100 TB operating point:
      // no corpus-sized sort, thresholds broadcast)
      if (args.contains("--buckets")) {
        import graft.operators.QualityFilters
        val docs = Tables.load(spark, sfDir, "documents")
        for (approx <- Seq(false, true)) {
          val t = timed {
            (if (approx)
              QualityFilters.perplexityBucketsApprox(docs, "doc_id", "text", "lang")
            else
              QualityFilters.perplexityBuckets(docs, "doc_id", "text", "lang"))
              .write.format("noop").mode("overwrite").save()
          }
          val tag = if (approx) "buckets_approx" else "buckets_exact"
          println(f"[probe] $tag%-24s ${t}%6.2f s")
        }
        // boundary step ALONE over a materialized score artifact (the
        // score-reuse deployment shape): this is where the sort-vs-sketch
        // difference lives — end to end the LM pass dominates both
        val dir = graft.queries.QueryTmp.dir("probe-buckets")
        docs.select(col("doc_id"), col("lang"))
          .join(QualityFilters.unigramLogProb(docs, "doc_id", "text"), "doc_id")
          .select(col("doc_id"), col("lang"), col("avg_logprob"))
          .write.parquet(s"$dir/scored")
        val scored = spark.read.parquet(s"$dir/scored")
        val cuts = Seq(333333L, 666667L)
        val lbs = Seq("head", "middle", "tail")
        for (approx <- Seq(false, true)) {
          val t = timed {
            (if (approx)
              QualityFilters.bucketByScoreApprox(scored, "doc_id", "lang",
                "avg_logprob", cuts, lbs)
            else
              QualityFilters.bucketByScore(scored, "doc_id", "lang",
                "avg_logprob", cuts, lbs))
              .write.format("noop").mode("overwrite").save()
          }
          val tag = if (approx) "boundary_approx" else "boundary_exact"
          println(f"[probe] $tag%-24s ${t}%6.2f s")
        }
      }
      // --spans: cross-doc shared-span detection in BOTH keying modes —
      // exact span strings (the d14 oracle surface) vs native FNV window
      // hashes (the production path: no window string ever built, longs
      // on the exchange)
      if (args.contains("--spans")) {
        val docs = Tables.load(spark, sfDir, "documents")
        for ((hashed, bits) <- Seq((false, 64), (true, 64), (true, 128))) {
          val t = timed {
            Dedup.sharedSpans(docs, "doc_id", "text", window = 8, minDocs = 2,
              hashed = hashed, hashBits = bits)
              .write.format("noop").mode("overwrite").save()
          }
          val tag =
            if (!hashed) "spans_exact"
            else if (bits == 64) "spans_hashed" else "spans_hashed128"
          println(f"[probe] $tag%-24s ${t}%6.2f s")
        }
      }
      // --kmfirst: the plain first-k-init fit, --only-compatible (the
      // default-extras km_fit below doesn't run at 100×)
      if (args.contains("--kmfirst")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val t = timed { KMeans.fit(e, "vec_id", "embedding", 8, 5): Unit }
        println(f"[probe] ${"km_fit_firstk"}%-24s ${t}%6.2f s")
      }
      // --only: just the named/--srp/--kmpp probes, none of the default
      // extras below (whose fixed parameters are sized for 1×-10×, not 100×)
      if (args.contains("--only")) { spark.stop(); return }
      val e = Tables.load(spark, sfDir, "embeddings")
      val t = timed { KMeans.fit(e, "vec_id", "embedding", 8, 5): Unit }
      println(f"[probe] ${"km_fit"}%-24s ${t}%6.2f s")

      // v3 with scale-adjusted SRP parameters: the declared query pins
      // bits=6 (64 buckets/table) for the oracle replay, which saturates
      // as the corpus grows — bucket population ∝ n/2^bits, pair
      // expansion ∝ n²/2^bits. The operator's contract is
      // bits ≈ log2(n / target_bucket_size); this measures that path.
      for ((bits, tables) <- Seq((10, 12), (10, 24))) {
        val ts = timed {
          graft.operators.Similarity.annCosinePairs(
            e, "vec_id", "embedding", 64, 0.45, bits = bits, tables = tables)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"[probe] ${s"v3_srp_b${bits}_t$tables"}%-24s ${ts}%6.2f s")
      }

      // v6 on the scale-adjusted parameters (same contract): ANN pairs at
      // bits=10 + connected components — the dedup-group pipeline a 10×+
      // corpus would actually run (the declared v6 pins bits=6 for the
      // oracle replay, inheriting v3's documented key-space saturation).
      val tv6 = timed {
        val pairs = graft.operators.Similarity.annCosinePairs(
          e, "vec_id", "embedding", 64, 0.45, bits = 10, tables = 12)
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[probe] ${"v6_groups_b10_t12"}%-24s ${tv6}%6.2f s")

      // d9 with a FIXED-SIZE eval set (copy-0 zh docs only — constant
      // across probe scales): real decontamination runs against a
      // benchmark of fixed size that AQE broadcasts, so cost is one
      // narrow train-side pass; the declared query's eval grows with the
      // corpus (10% share), which is the unrealistic worst case.
      val docs = Tables.load(spark, sfDir, "documents")
      val td9 = timed {
        graft.operators.Decontaminate.contaminationReport(
          docs.filter(col("lang") =!= "zh"),
          docs.filter(col("lang") === "zh" && col("doc_id") < 10000000L),
          "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[probe] ${"d9_fixed_eval"}%-24s ${td9}%6.2f s")
    }
    spark.stop()
  }
}
