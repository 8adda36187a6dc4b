package graft

import org.apache.spark.sql.functions._

import graft.functions.Aggregators
import graft.operators.{KMeans, Similarity}
import graft.sources.Bucketing

class ScaleOpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf0001, "embeddings").cache()

  test("kmeans partitions the corpus into k non-empty-ish clusters") {
    val model = KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5)
    assert(model.centroids.length == 8)
    val assigned = KMeans.assign(emb, "vec_id", "embedding", model)
    assert(assigned.count() == 500)
    val sizes = assigned.groupBy("cluster").count().collect()
    assert(sizes.map(_.getAs[Long]("count")).sum == 500)
    assert(sizes.length >= 4, "degenerate clustering")
  }

  test("k-means|| init: deterministic under a seed, k centroids, cost not worse than first-k") {
    val kmpp = KMeans.InitKMeansParallel(seed = 42L)
    val m1 = KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5, init = kmpp)
    val m2 = KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5, init = kmpp)
    // all randomness is splitmix64(id, seed) → bit-identical refits
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    assert(m1.centroids.length == 8)
    // the oracle-gate init path must be untouched by the new flag
    val firstK = KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5)
    val cPar = KMeans.cost(emb, "embedding", m1)
    val cFirst = KMeans.cost(emb, "embedding", firstK)
    // k-means|| seeds spread by construction; allow a whisker of slack so
    // the assertion pins "not worse", not a lucky margin (deterministic:
    // both fits are seeded, so this cannot flake)
    assert(cPar <= cFirst * 1.05, s"k-means|| cost $cPar vs first-k $cFirst")
    val distinctSeeds = m1.centroids.map(_.toSeq).distinct.length
    assert(distinctSeeds == 8, s"duplicate centroids: $distinctSeeds of 8 distinct")
  }

  test("ivfKnn achieves decent recall vs brute-force top-5") {
    val model = KMeans.fit(emb, "vec_id", "embedding", k = 8, maxIters = 5)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("qid", "neighbor").as[(Long, Long)].collect().toSet
    val ivf = KMeans.ivfKnn(queries, emb, "vec_id", "embedding", model, nprobe = 3, topK = 5)
      .select("qid", "neighbor").as[(Long, Long)].collect().toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall") // 3/8 cells probed
  }

  test("VarianceAgg matches Spark's var_samp") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val builtin = li.groupBy("l_returnflag").agg(var_samp(col("l_quantity")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val custom = li.select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new Aggregators.VarianceAgg().toColumn)
      .collect().toMap
    builtin.foreach { case (k, v) =>
      assert(math.abs(custom(k) - v) < 1e-6, s"group $k: ${custom(k)} vs $v")
    }
  }

  test("TopKAgg equals window-function top-k per key") {
    val windowed = SparkEntry.queries("q7_top_orders_per_cust")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val agg = SparkEntry.queries("qtopk_per_cust_agg")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(agg == windowed)
    assert(agg.nonEmpty)
  }

  test("TopKAgg rejects non-positive k at construction") {
    intercept[IllegalArgumentException] {
      new Aggregators.TopKAgg[Int](0, Ordering.Int)
    }
  }

  test("collectTopK equals the typed TopKAgg heap: k smallest structs, ascending, id tiebreak") {
    // r20: the operators' bounded heaps moved from the typed TopKAgg
    // Aggregator to Catalyst's CollectTopK (graftbridge.collectTopK) —
    // this pins the replacement to the exact keying the typed heap used:
    // k smallest (key, id) pairs per group, emitted ascending, exact-key
    // ties broken by the ascending second field. 40 partitions force
    // partial-buffer merges; duplicated keys force the tiebreak.
    val rows = (1 to 400).map { i =>
      val g = s"g${i % 4}"
      (g, (i % 13).toDouble, i.toLong)
    }
    val df = rows.toDF("g", "key", "id").repartition(40)
    val native = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.graftbridge.collectTopK(
        struct(col("key").as("_1"), col("id").as("_2")), 5).as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(t => (t.getDouble(0), t.getLong(1)))).toMap
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(t => (t._2, t._3)).sorted(ord).take(5)
    }
    assert(native.keySet == expected.keySet)
    expected.foreach { case (g, exp) =>
      assert(native(g).toList == exp.toList, s"group $g: ${native(g)} vs $exp")
    }
  }

  test("collectTopK ranks -0.0 level with 0.0 (the next field decides) and NaN above " +
      "every number") {
    // Spark's SQL double ordering, NOT Scala's TotalOrdering: the signed
    // zeros compare equal (as in DuckDB's ORDER BY), so the id breaks
    // the tie; NaN sorts after every number. Keys come back unnormalized.
    val rows = Seq(
      ("z", Double.NaN, 1001L), ("z", 0.0, 1002L), ("z", -0.0, 1003L),
      ("z", 2.0, 1004L), ("z", Double.NaN, 1005L), ("z", -0.0, 1000L),
      ("n", Double.NaN, 1L), ("n", 7.0, 2L), ("n", Double.NegativeInfinity, 3L))
    val native = rows.toDF("g", "key", "id").repartition(8).groupBy(col("g"))
      .agg(org.apache.spark.sql.graftbridge.collectTopK(
        struct(col("key").as("_1"), col("id").as("_2")), 5).as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(t => (t.getDouble(0), t.getLong(1)))).toMap
    // compare key BITS: `==` would equate -0.0 with 0.0 and never NaN with NaN
    def bits(ts: Seq[(Double, Long)]) =
      ts.map { case (k, id) => (java.lang.Double.doubleToLongBits(k), id) }.toList
    assert(bits(native("z")) ==
      bits(Seq((-0.0, 1000L), (0.0, 1002L), (-0.0, 1003L), (2.0, 1004L), (Double.NaN, 1001L))),
      native("z").toString)
    assert(bits(native("n")) ==
      bits(Seq((Double.NegativeInfinity, 3L), (7.0, 2L), (Double.NaN, 1L))),
      native("n").toString)
  }

  test("collectTopK fails loudly on a null sort-key field, naming the field") {
    // the struct ordering ranks a null field FIRST: without the guard a
    // null key silently takes a top-k slot
    val rows = Seq(("g", Some(1.0), 1L), ("g", None, 2L), ("g", Some(3.0), 3L))
    val e = intercept[Exception] {
      rows.toDF("g", "key", "id").groupBy(col("g"))
        .agg(org.apache.spark.sql.graftbridge.collectTopK(
          struct(col("key").as("_1"), col("id").as("_2")), 2).as("top"))
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("null in sort-key field '_1'")), msgs.mkString("\n"))
  }

  test("MinHashUnionAgg merges signatures element-wise min") {
    val agg = new Aggregators.MinHashUnionAgg(4)
    val sigs = Seq(Seq(5L, 1L, 9L, 7L), Seq(3L, 2L, 8L, 9L)).toDS()
    val merged = sigs.groupByKey(_ => 1).agg(agg.toColumn).collect().head._2
    assert(merged == Seq(3L, 1L, 8L, 7L))
  }

  test("bucketed tables join without a shuffle") {
    // default warehouse dir (spark-warehouse/, gitignored) — warehouse.dir
    // is a static conf that cannot change on a live session
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    val li = Tables.load(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, sf0001, "orders").select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_bucketed", "l_orderkey", 8)
    // force the sort-merge path (tiny test tables would broadcast) to show
    // bucketing removes the shuffle a big-big join would otherwise pay.
    // Conf is set on a CHILD SESSION (shared SparkContext + catalog, own
    // SQLConf) so a concurrently-running suite asserting broadcast plan
    // shapes can never observe the -1 threshold.
    val s2 = spark.newSession()
    try {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readTable(s2, "li_bucketed")
        .join(Bucketing.readTable(s2, "o_bucketed"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(joined.count() > 0)
      // one data file per bucket: writeBucketed repartitions on the bucket
      // column first, so a multi-task input cannot fan out into
      // tasks×buckets small files (the fragment explosion that defeats
      // the co-located-join benefit at scale)
      val dataFiles = Option(new java.io.File("spark-warehouse/li_bucketed").listFiles())
        .toSeq.flatten.filter(f => f.getName.endsWith(".parquet"))
      assert(dataFiles.length <= 8,
        s"expected ≤8 bucket files, got ${dataFiles.length}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("CSV write/read round-trips embedded newlines and padded whitespace") {
    val out = java.nio.file.Files.createTempDirectory("graft_csv_rt").toString + "/t"
    val src = Seq(
      (1L, "line1\nline2", " padded "),
      (2L, "plain", "x,with,commas"),
      (3L, "quote\"inside", "\ttabbed")
    ).toDF("id", "text", "extra")
    graft.sources.Sources.writeCsv(src, out)
    val back = graft.sources.Sources.readCsv(spark, out, src.schema)
      .as[(Long, String, String)].collect().toSet
    assert(back == src.as[(Long, String, String)].collect().toSet,
      s"CSV round-trip mismatch: $back")
  }

  test("approx sketches track exact within tolerance (the 100 TB substitutes)") {
    // at 100 TB, countDistinct / exact percentile become the bottleneck
    // (full shuffle of distinct values / full sort per group); the HLL and
    // KLL-sketch forms are one narrow pass with mergeable partials —
    // prove they stay within advertised error so the swap is safe
    val li = Tables.load(spark, sf001, "lineitem")
    val exact = li.select(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    val approx = li.select(approx_count_distinct(col("l_orderkey"), 0.02)).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"HLL off by ${math.abs(approx - exact).toDouble / exact}: $approx vs $exact")

    val Array(exQ50, exQ95) = li.stat.approxQuantile("l_quantity", Array(0.5, 0.95), 0.0)
    val Array(apQ50, apQ95) = li.stat.approxQuantile("l_quantity", Array(0.5, 0.95), 0.01)
    // rank error 1% of n translates to small value error on this domain
    assert(math.abs(apQ50 - exQ50) <= 2.0, s"q50 $apQ50 vs $exQ50")
    assert(math.abs(apQ95 - exQ95) <= 2.0, s"q95 $apQ95 vs $exQ95")
  }

  test("AQE splits a planted skewed join partition at runtime (skew=true)") {
    // one hot key holding ~98% of the left side — the shape salting
    // (KVOps.groupByKeySalted) fixes at plan time; here AQE must fix it
    // at RUNTIME by splitting the oversized shuffle partition
    // child session: the -1 broadcast threshold and test-scale AQE
    // thresholds must not leak into other suites' plan-shape assertions
    val s2 = spark.newSession()
    try {
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // test-scale thresholds (defaults are 256 MB — cluster-sized)
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      val left = s2.range(100000)
        .select(when(col("id") % 50 === 0, col("id") % 100).otherwise(lit(7L)).as("k"),
          col("id").as("payload"))
      val right = s2.range(100).select(col("id").as("k"), (col("id") * 2).as("rv"))
      val joined = left.join(right, "k")
      // collect() executes THIS DataFrame's QueryExecution (count() would
      // plan a separate one whose final adaptive plan we couldn't inspect)
      assert(joined.collect().length == 100000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not flag/split the skewed partition:\n$plan")
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("pp1 partitioned layout: equality filter prunes to one directory") {
    val df = graft.queries.PipelineQueries.queries("pp1_partition_prune")(spark, sf0001)
    // collect() runs THIS DataFrame's memoized QueryExecution (count()
    // would plan a separate one whose metrics we couldn't inspect)
    assert(df.collect().nonEmpty)
    // descend through AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec
    // are leaves to collect(), hiding the scan they wrap)
    def findScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(q.plan)
      case other => other.children.flatMap(findScans)
    }
    val executed = df.queryExecution.executedPlan
    val scan = findScans(executed).headOption
      .getOrElse(fail(s"no FileSourceScanExec in plan:\n$executed"))
    assert(scan.partitionFilters.exists(_.toString.contains("o_orderpriority")),
      s"partition filter did not reach the scan: ${scan.partitionFilters}")
    // driver-side metric: directories actually listed after pruning
    scan.metrics.get("numPartitions").foreach { m =>
      assert(m.value == 1, s"expected 1 partition dir read, got ${m.value}")
    }
  }
}
