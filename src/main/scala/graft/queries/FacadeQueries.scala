package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dset.DSet

/** Driver-hash gates for the typed DSet facade operators that previously
  * had only ScalaTest coverage (r7 verdict #1): generation (`init`),
  * filter-map (`choose`), batch map (`mapByCollection`), the DKV
  * group/reduce pair, `crossJoinFold`, and `merge` + `binSortNByKey`.
  * Each query routes its data through the facade operator and lands on an
  * integer-exact (or round-6) result a DuckDB oracle can replay, so a
  * semantic slip in the operator — a dropped element, a misrouted key, a
  * wrong batch boundary, a misordered sort — fails the hash, not just a
  * spec.
  */
object FacadeQueries {

  /** Double dot product, summed left-to-right per element — the exact
    * arithmetic DuckDB's `list_dot_product` performs on
    * `list_transform(v, x -> x::DOUBLE)`, so fx6's fold is oracle-replayable.
    */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var s = 0.0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Facade generation chain (reference init/initN
    // `DSetGenerics.fs:623-705`, choose `DSetGenerics.fs:1015-1027`,
    // mapByCollection `DSetGenerics.fs:1127-1137`): 8 generated partitions
    // of deliberately uneven size, filtered+mapped by `choose`, then
    // batch-mapped so every row carries its partition's post-choose batch
    // size. The oracle replays generation with `range()` — a wrong
    // partition size, a row `choose` should have dropped, or a batch that
    // crossed a partition boundary all diverge.
    "fx4_init_choose_batch" -> { (s, _) =>
      import s.implicits._
      val gen = DSet.initN[(Int, Long)](s, 8)((_, pi) => 100 + pi * 10) {
        (pi, serial) => (pi, pi.toLong * 1000L + serial)
      }
      gen.choose[(Int, Long)](t => if (t._2 % 3 == 0) Some(t) else None)
        .mapByCollection(arr => arr.map(t => (t._1, t._2, arr.length)))
        .ds.toDF("part_id", "k", "batch_n")
    },

    // DKV group/reduce pair (reference `DKV.fs:99-138`; test pattern
    // `tests/CoreLib/DKV.fs:429-508`): the same token pairs flow through
    // BOTH `reduceByKey` (map-side combine) and `groupByKeyN` (explicit
    // reducer fan-in, full value lists) — the oracle asserts the two
    // independent paths agree with a plain GROUP BY count.
    "fx5_kv_group_reduce" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.KVOps
      val docs = new DSet(Tables.load(s, dir, "documents").select(col("text")).as[String])
      val pairs = docs.collectSeq(t => t.split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L)))
      val red = pairs.reduceByKey(_ + _)
      val grp = pairs.groupByKeyN(8).mapByValue(_.length.toLong)
      red.ds.toDF("word", "cnt").join(grp.ds.toDF("word", "n_grp"), "word")
    },

    // crossJoinFold k-NN shape (reference `DSetGenerics.fs:1695-1726`):
    // each query vector folds over the broadcast corpus keeping its
    // single nearest neighbour by cosine (ties broken toward the smaller
    // id). The oracle recomputes every pair and takes row_number()=1 —
    // a fold that skipped an element or mis-compared would pick a
    // different neighbour and fail the hash. Verification-scale gate
    // (50 query vectors); the corpus-scale ANN path is v3/km2.
    "fx6_crossfold_knn" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.CrossOps
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      val queriesSide = new DSet(emb.filter(col("vec_id") < 50).as[(Long, Array[Float])])
      val corpus = new DSet(emb)
      queriesSide.crossJoinFoldByElem(corpus)((-1L, -1L, -2.0)) { (st, q, c) =>
        // explicit zero-norm guard (same contract as Similarity's ops):
        // a degenerate vector yields cos = 0/0 = NaN, which would skip
        // only INCIDENTALLY (NaN > x is false) — make the exclusion a
        // stated rule so the oracle can replay it (zero-norm query keeps
        // the (-1, -2.0) sentinel; zero-norm corpus rows never selected)
        val qn = dotD(q._2, q._2); val cn = dotD(c._2, c._2)
        if (q._1 == c._1 || qn == 0.0 || cn == 0.0) (q._1, st._2, st._3)
        else {
          val cos = dotD(q._2, c._2) / (math.sqrt(qn) * math.sqrt(cn))
          if (cos > st._3 || (cos == st._3 && c._1 < st._2)) (q._1, c._1, cos)
          else (q._1, st._2, st._3)
        }
      }.ds.toDF("qid", "neighbor", "cos_raw")
        .select(col("qid"), col("neighbor"), round(col("cos_raw"), 6).as("sim"))
    },

    // Async element map + DKV filter/value-map + right-outer merge join
    // (reference asyncMap `DSetGenerics.fs:1055-1087`, filterByKey
    // `DKV.fs:172-176`, parallelMapByValue `DKV.fs:185-198`,
    // rightOuterJoinByMerge `DKV.fs:227-231`): order counts flow through
    // the bounded-window async path (≡ map for a pure f — a dropped or
    // duplicated element under the window fails the count), the customer
    // side is key-filtered and value-mapped concurrently, and the
    // right-outer join must emit EVERY even customer, 0-filled when no
    // orders matched.
    "fx8_async_kv_outer" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.KVOps
      val ordCnt = new DSet(Tables.load(s, dir, "orders").select(col("o_custkey")).as[Long])
        .asyncMap(8)(k => (k, 1L))
        .reduceByKey(_ + _)
      val evenCust = new DSet(Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")).as[(Long, String)])
        .filterByKey(_ % 2 == 0)
        .parallelMapByValue(4)(_.toLowerCase)
      ordCnt.rightOuterJoinByMerge(evenCust)((cnt, seg) => (cnt.getOrElse(0L), seg))
        .map(t => (t._1, t._2._1, t._2._2))
        .ds.toDF("c_custkey", "n_orders", "segment")
    },

    // multicast + broadcast-hash join (reference multicast
    // `DSetGenerics.fs:1315-1345`, innerJoinByHash declared at
    // `DKV.fs:236-258`): the nation table is multicast as a broadcast
    // variable and consulted per batch to label customer counts — an
    // incomplete broadcast (missing nation) would throw, a stale one
    // would mislabel and fail the hash; supplier counts reach the same
    // labels through innerJoinByHash, and the final equi-join must agree
    // with the oracle's two independent GROUP BYs.
    "fx9_multicast_hashjoin" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.KVOps
      val natKv = new DSet(Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")).as[(Long, String)])
      val bc = natKv.multicast()
      val custCnt = new DSet(Tables.load(s, dir, "customer").select(col("c_nationkey")).as[Long])
        .mapByCollection { arr => val m = bc.value.toMap; arr.map(k => (m(k), 1L)) }
        .reduceByKey(_ + _)
      val suppCnt = new DSet(Tables.load(s, dir, "supplier").select(col("s_nationkey")).as[Long])
        .map(k => (k, 1L))
        .reduceByKey(_ + _)
        .innerJoinByHash(natKv)((cnt, name) => (name, cnt))
        .map(_._2)
      custCnt.ds.toDF("n_name", "n_cust")
        .join(suppCnt.ds.toDF("n_name", "n_supp"), "n_name")
    },

    // Client pull → uneven scatter → position maps → store roundtrip
    // (reference toSeq/DSetEnumerator `DSetGenerics.fs:385-390`,
    // distributeUnevenN `DSetGenerics.fs:881-950`, mapi
    // `DSetGenerics.fs:1041-1053`, asyncMapi `DSetGenerics.fs:1069-1087`,
    // saveToHDD/loadSource `DSetGenerics.fs:367-378, 509-546`): the nation
    // table is pulled to the client through the lazy enumerator, scattered
    // back with caller-controlled uneven partition sizes (3, 7, 11,
    // remainder), and every element tagged with its (partition, serial)
    // position twice — once by mapi, once by the bounded-concurrency
    // parallelMapi, which must preserve order and indices exactly — then
    // roundtripped through the parquet store path. The oracle replays the
    // slice bounds arithmetic; a dropped/duplicated element in the pull, a
    // misplaced slice boundary, or an index reordered under concurrency
    // all fail the hash.
    "fx10_distribute_mapi_store" -> { (s, dir) =>
      import s.implicits._
      val nat = new DSet(Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey")).as[(Int, String)])
      val pulled = nat.toSeq.toSeq // client-side pull, order pinned above
      val tagged = DSet.distributeUnevenN(s, pulled, 4)(pi => 3 + pi * 4)
        .mapi((pi, ser, kv) => (kv._1, kv._2, pi, ser))
        .parallelMapi(4)((pi2, ser2, t) => (t._1, t._2, t._3, t._4, pi2, ser2))
      val tmp = QueryTmp.dir("fx10") + "/nations"
      tagged.saveToName(tmp)
      DSet.loadParquet[(Int, String, Int, Long, Int, Long)](s, tmp)
        .ds.toDF("n_nationkey", "n_name", "part_id", "serial", "part_id2", "serial2")
    },

    // Salted grouping under REAL skew (reference groupByKey `DKV.fs:99-126`;
    // salting is the brief's 100 TB skew mitigation): lineitem has ~3
    // distinct return flags, so every key is a heavy hitter that would
    // pin a single reducer. The two-phase salted path spreads each key
    // over 8 reducers and must still reconstruct the EXACT full value
    // list per key — count and quantized-quantity sum over the merged
    // lists both land under the driver hash, so a value lost or
    // duplicated between the salt phase and the merge phase fails.
    // repartitionNByKey runs first: a misrouted pair would surface as a
    // wrong group downstream.
    "fx11_salted_skew_group" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.KVOps
      val pairs = new DSet(Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)])
        .mapByValue(q => math.round(q * 100)) // quantize: Long sums commute
        .repartitionNByKey(8)
      pairs.groupByKeySalted(8)
        .mapByValue(vs => (vs.length.toLong, vs.sum))
        .map(t => (t._1, t._2._1, t._2._2))
        .ds.toDF("l_returnflag", "n", "qty_c")
    },

    // Generation + mini-catalog family (reference initN
    // `DSetGenerics.fs:674-705`, source/sourceN/sourceI
    // `DSetGenerics.fs:706-787`, distributeN `DSetGenerics.fs:881-950`,
    // tryFind `DSetGenerics.fs:1841-1857`): every generator the facade
    // offers produces its deterministic slice — initN's per-partition
    // sizes, sourceI's partition-indexed payloads, distributeN's content
    // roundtrip, and the store→tryFind catalog listing. source/sourceN
    // run one delegate per parallel slot, so their OUTPUT size depends on
    // the session's parallelism; the gate normalizes by asserting each
    // delegate ran exactly defaultParallelism times (ser=1 on success,
    // -count on failure) — a lost or doubled delegate invocation lands a
    // negative serial under the hash regardless of slot count.
    "fx12_generation_catalog" -> { (s, _) =>
      import s.implicits._
      val dp = s.sparkContext.defaultParallelism.toLong
      val gen1 = DSet.initN[(String, Int, Long)](s, 4)((_, pi) => (pi + 1) * 2)(
        (pi, ser) => ("init", pi, ser))
      val gen2 = DSet.sourceI[(String, Int, Long)](s, 5)(pi =>
        (0 until pi).map(k => ("src_i", 10 + pi, k.toLong)))
      val srcN = new DSet(DSet.sourceN(s, 3)(j => Seq(100 + j)).ds
        .groupByKey(identity).count()
        .map { case (k, c) => ("src_n", k, if (c == dp) 1L else -c) })
      val srcOne = new DSet(DSet.source(s)(() => Seq(400)).ds
        .groupByKey(identity).count()
        .map { case (k, c) => ("src", k, if (c == dp) 1L else -c) })
      val distN = DSet.distributeN(s, (0 until 7).map(i => ("dist_n", 200 + i, i.toLong)), 2)
      val wh = QueryTmp.dir("fx12")
      DSet.distribute(s, Seq(1, 2, 3), 2).saveToName(wh + "/nations_v1")
      DSet.distribute(s, Seq(4, 5), 1).saveToName(wh + "/nations_v2")
      DSet.distribute(s, Seq(9), 1).saveToName(wh + "/orders_v1")
      val found = DSet.distribute(s,
        DSet.tryFind(wh, "^nations_").zipWithIndex.map { case (n, i) => ("find:" + n, 300 + i, 0L) }, 1)
      gen1.merge(gen2, srcN, srcOne, distN, found).ds.toDF("tag", "k", "ser")
    },

    // Side-effecting action sinks (reference lazySaveToHDD
    // `DSetGenerics.fs:549-581`, saveToHDDWithMonitor
    // `DSetGenerics.fs:588-615`, execute/executeN
    // `DSetGenerics.fs:951-995`, iter `DSetGenerics.fs:458-468`, reduce
    // `DSetGenerics.fs:438-455`): each action's observable effect —
    // rows flushed by the deferred sink, the monitor's rows_written
    // metric, one marker file per (partition, call) from executeN, one
    // per partition from execute, the accumulator total folded by iter,
    // the reduce result — lands as a (action, value) row the oracle
    // recomputes from the nation table. A sink that dropped rows, a
    // monitor that missed the write, or an executeN that ran a partition
    // twice all shift a value.
    "fx13_action_sinks" -> { (s, dir) =>
      import s.implicits._
      val nat = new DSet(Tables.load(s, dir, "nation").select(col("n_nationkey")).as[Int])
      val tmp = QueryTmp.dir("fx13")
      val (cached, flush) = nat.lazySaveToName(tmp + "/lazy")
      val cnt = cached.count() // first action warms the cache the thunk reuses
      flush()
      cached.ds.unpersist()
      val lazyRows = DSet.loadParquet[Int](s, tmp + "/lazy").count()
      val monRows = nat.saveToNameWithMonitor(tmp + "/mon")
        .get("rows_written").map(_.toString.toLong).getOrElse(-1L)
      // UUID-suffixed markers: a (partition, call) that ran TWICE creates
      // an extra file and pushes the count past the oracle's 8/4 (an
      // idempotent fixed name would hide duplicate execution)
      val markers = new java.io.File(tmp, "markers"); markers.mkdirs()
      val part4 = nat.repartitionN(4)
      part4.executeN(2)((pi, i) => {
        new java.io.File(markers, s"m_${pi}_${i}_${java.util.UUID.randomUUID}").createNewFile(); ()
      })
      val execDir = new java.io.File(tmp, "exec"); execDir.mkdirs()
      part4.executeOnPartitions(pi => {
        new java.io.File(execDir, s"e_${pi}_${java.util.UUID.randomUUID}").createNewFile(); ()
      })
      val acc = s.sparkContext.longAccumulator("fx13_iter")
      nat.iter(k => acc.add(k.toLong))
      val redMax = nat.reduce(_ max _).toLong
      DSet.distribute(s, Seq(
        ("count", cnt),
        ("execute_partitions", execDir.listFiles().length.toLong),
        ("executeN_markers", markers.listFiles().length.toLong),
        ("iter_sum", acc.value.toLong),
        ("lazy_rows", lazyRows),
        ("monitor_rows", monRows),
        ("reduce_max", redMax)), 1).ds.toDF("action", "v")
    },

    // Residual facade operators under the driver hash (closing the last
    // spec-only §2 rows): initS's uniform partition sizes (reference
    // `DSetGenerics.fs:651-672`), identityOp pass-through
    // (`DSetGenerics.fs:996-1004`), repartitionP / repartitionPByKey with
    // EXACT user-partition-function semantics (`DSetGenerics.fs:1364-1388`,
    // `DKV.fs:54-70`) — mapi captures the RUNTIME partition index after the
    // shuffle, and the oracle recomputes `key mod n` arithmetically, so a
    // row routed anywhere but partFunc(key) fails the hash —
    // crossJoinChoose theta join (`DSetGenerics.fs:1670-1693`),
    // asyncMapByValue (`DKV.fs:185-189`), cacheInMemory reuse across two
    // sibling actions (`DSetGenerics.fs:1185-1234`), and the toArray
    // client materialize (reference `localIter`, `DSetGenerics.fs:485-507`)
    // re-distributed with client-side ranks.
    "fx14_facade_residuals" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.{CrossOps, KVOps}
      val sup = new DSet(Tables.load(s, dir, "supplier")
        .select(col("s_suppkey")).as[Long]).identityOp.cacheInMemory()
      // initS: 4 partitions × 25 rows each, positions deterministic
      val gInit = DSet.initS[(String, Long, Long)](s, 4, 25)(
        (pi, ser) => ("init_s", pi.toLong, ser))
      // repartitionP: route by k mod 5, then read back the runtime
      // partition index — must equal the partFunc value exactly
      val gRepP = sup.repartitionP(5)(k => (k % 5).toInt)
        .mapi((pi, _, k) => ("repart_p", k, pi.toLong))
      // repartitionPByKey on (k, 2k) pairs routed by k mod 7
      val gRepPK = sup.map(k => (k, k * 2))
        .repartitionPByKey(7)(k => (k % 7).toInt)
        .mapi((pi, _, kv) => ("repart_pk", kv._1, pi.toLong))
      // asyncMapByValue triples the value concurrently, keys untouched
      val gAsync = sup.map(k => (k, k * 2))
        .asyncMapByValue(4)(_ * 3)
        .map(kv => ("async_v", kv._1, kv._2))
      // crossJoinChoose: bounded theta join a < b over two small slices
      val loA = sup.filter(_ <= 10)
      val loB = sup.filter(_ <= 14)
      val gCross = loA.crossJoinChoose(loB)((a, b) =>
        if (a < b) Some(("cross_lt", a, b)) else None)
      // cacheInMemory reuse: two independent actions over the SAME cached
      // evaluation — count and fold-sum — both land under the hash
      val gCache = DSet.distribute(s, Seq(
        ("cache_n", 0L, sup.count()),
        ("cache_sum", 0L, sup.fold(0L)(_ + _, _ + _))), 1)
      // toArray (localIter): client-side materialize, rank assigned on the
      // client, re-distributed
      val arr = sup.toArray.sorted
      val gArr = DSet.distribute(s,
        arr.toSeq.zipWithIndex.map { case (k, i) => ("to_array", i.toLong, k) }, 2)
      gInit.merge(gRepP, gRepPK, gAsync, gCross, gCache, gArr)
        .ds.toDF("tag", "k", "v")
    },

    // foldWithCommonStatePerNode under the driver hash (reference
    // `DSetGenerics.fs:392-433` with the node-shared state of
    // `DSetGenerics.fs:410-411`): every task on a JVM folds into ONE
    // shared histogram (per-returnflag count + quantized-quantity sum —
    // Long adds, so the aggregate is order- and partitioning-insensitive),
    // node states merge on the driver, and the result must equal a plain
    // GROUP BY. An element folded twice (retry without the claim guard),
    // dropped (lost snapshot), or a torn snapshot all shift a count/sum.
    "fx15_node_state_fold" -> { (s, dir) =>
      import s.implicits._
      val li = new DSet(Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)])
      val agg = li.foldWithCommonStatePerNode(() => Map.empty[String, (Long, Long)])(
        (m, t) => {
          val cur = m.getOrElse(t._1, (0L, 0L))
          m.updated(t._1, (cur._1 + 1L, cur._2 + math.round(t._2 * 100)))
        },
        (a, b) => b.foldLeft(a) { case (acc, (k, v)) =>
          val cur = acc.getOrElse(k, (0L, 0L))
          acc.updated(k, (cur._1 + v._1, cur._2 + v._2))
        })
      DSet.distribute(s,
        agg.toSeq.map { case (k, (n, sum)) => (k, n, sum) }.sortBy(_._1), 1)
        .ds.toDF("l_returnflag", "n", "qty_c")
    },

    // Cross-session container cache (reference `DSetGenerics.fs:
    // 1185-1234`, `cache.fs:294-477`; paper §4.9): the reference's cached
    // partitions live in the container and SURVIVE the driver session —
    // a new client re-attaches instead of recomputing. Here the same
    // declarative plan is attached through `cacheAcrossSessions` twice:
    // cold from the building session (computes + publishes), then warm
    // from a NEW SparkSession (fresh session state — the "new driver"
    // analog) which must re-attach by the derived key alone — since the
    // r15 default flip that key is the CONTENT tier (canonicalized plan +
    // per-file stats), which stays stable across the two attaches because
    // nothing rewrites the input between them. The
    // aggregate is computed from the WARM attach, so the output only
    // matches the oracle if the published artifact holds the right rows;
    // the contract booleans pin the miss→hit transition (a cache that
    // recomputes every time, or one that hits on a never-written key,
    // flips a boolean and fails the hash). The plan is Column-only —
    // no typed lambdas — so its canonicalized fingerprint is identical
    // across sessions.
    "fx16_cross_session_cache" -> { (s, dir) =>
      import graft.sources.PlanCache
      val cacheDir = QueryTmp.dir("plancache")
      def plan(sess: SparkSession) =
        Tables.load(sess, dir, "orders")
          .select(col("o_orderstatus").as("status"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      // race-free outcome API — lastOutcome is JVM-global and another
      // concurrent PlanCache user would clobber it between attach and read
      val (_, first) = PlanCache.readThroughWithOutcome(plan(s), cacheDir)
      val coldMiss = first == PlanCache.Miss
      val s2 = s.newSession()
      val (warmDf, second) = PlanCache.readThroughWithOutcome(plan(s2), cacheDir)
      val warmHit = second == PlanCache.Hit
      warmDf.toDF("status", "cents")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("cold_miss", lit(coldMiss))
        .withColumn("warm_hit", lit(warmHit))
    },

    // PLAN CACHE ON A RENAME-BY-COPY OBJECT STORE (r18 — the s3a
    // admission proof): the full fx16 lifecycle plus an invalidate →
    // re-attach leg, run against `mock3a:` — a local-disk-backed Hadoop
    // filesystem whose rename REALLY is copy+delete and whose
    // create(noOverwrite) is non-exclusive (graft.sources
    // .RenameByCopyMockFs), i.e. exactly the primitives s3a/gs/wasb
    // lack. The publish is the one manifest-last protocol every store
    // runs (move parts in — copy+delete here — then the `_graft_files`
    // whole-object PUT as the commit point; no `_SUCCESS`), and the warm
    // attach serves the files the manifest names rather than listing the
    // directory. The aggregate is computed from the WARM attach, so
    // the hash only matches if the manifest-committed bytes are right;
    // the four contract booleans pin miss→hit→evict→miss. Every other
    // artifact family keeps rejecting these schemes — ArtifactIoSpec
    // pins that side.
    "pc1_object_store_plancache" -> { (s, dir) =>
      import graft.sources.{ArtifactIo, PlanCache, RenameByCopyMockFs}
      val hc = s.sparkContext.hadoopConfiguration
      hc.set("fs.mock3a.impl", classOf[RenameByCopyMockFs].getName)
      ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
      val cacheDir = "mock3a:" + QueryTmp.dir("plancache-os")
      def plan(sess: SparkSession) =
        Tables.load(sess, dir, "orders")
          .select(col("o_orderpriority").as("priority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val (_, first) = PlanCache.readThroughWithOutcome(plan(s), cacheDir)
      val s2 = s.newSession()
      val (warmDf, second) = PlanCache.readThroughWithOutcome(plan(s2), cacheDir)
      // force the warm read NOW: it resolves the entry's manifest to
      // explicit leaf files, and the invalidate below deletes them (a
      // readThrough result does not outlive an eviction — same contract
      // as any shared-cache read)
      val warmHit = second == PlanCache.Hit && warmDf.count() > 0
      val evicted = PlanCache.invalidate(plan(s), cacheDir, contentKeys = true)
      // the aggregate reads the RE-PUBLISHED entry, so the hash also
      // proves the second manifest commit's bytes (fresh part names,
      // fresh manifest) are right
      val (reDf, third) = PlanCache.readThroughWithOutcome(plan(s), cacheDir)
      reDf.toDF("priority", "cents")
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("cold_miss", lit(first == PlanCache.Miss))
        .withColumn("warm_hit", lit(warmHit))
        .withColumn("evicted", lit(evicted))
        .withColumn("reattach_miss", lit(third == PlanCache.Miss))
    },

    // rowsReorg(n) batch boundaries under the driver hash (reference
    // `DSetGenerics.fs:1161-1182` rowsReorg/rowsSplit/rowsMergeAll; test
    // pattern `tests/CoreLib/DSet.fs:489-533`; paper §4.2's
    // ≤SerializationLimit collections): four generated partitions of known
    // uneven sizes flow through mapByCollection under FOUR different
    // re-batching hints — n=9, n=25, rowsSplit (1), and rowsMergeAll
    // (whole partition) — and every row carries the length of the batch
    // it arrived in. The oracle recomputes each row's batch size
    // arithmetically from (serial, hint, partition size): batch b holds
    // min(n, size - b*n) rows, so a batch that crossed a partition
    // boundary, split at the wrong serial, or materialized the whole
    // partition despite the hint fails the hash.
    "fx17_rows_reorg_batches" -> { (s, _) =>
      import s.implicits._
      val gen = DSet.initN[(Int, Long)](s, 4)((_, pi) => 40 + pi * 7)((pi, ser) => (pi, ser))
      def tagged(tag: String, d: DSet[(Int, Long)]) =
        d.mapByCollection(arr => arr.map(t => (tag, t._1, t._2, arr.length)))
      tagged("n9", gen.rowsReorg(9))
        .merge(
          tagged("n25", gen.rowsReorg(25)),
          tagged("split", gen.rowsSplit),
          tagged("merge", gen.rowsMergeAll))
        .ds.toDF("tag", "part_id", "ser", "batch_n")
    },

    // rowsReorg hint carry-through ACROSS RDD bridges and shuffles
    // (reference `DSetGenerics.fs:1161-1182` rowsReorg; the hint is a
    // per-call memory bound, so `rowsReorg(n) |> shuffle |> mapByCollection`
    // must still batch at ≤ n — a silent hint reset reintroduces the
    // whole-partition OOM the bound exists to prevent). Four arms, one per
    // bridge class: `mapi` (plain RDD bridge), `mix` (multi-input zip —
    // must carry the TIGHTEST input hint, min(23,7)=7), `binSortP`
    // (user-partitioner shuffle + in-bin sort — rows land deterministic,
    // so the oracle replays batch boundaries row-exactly from the sort
    // rank), and `repartitionP` (user-partitioner shuffle with
    // nondeterministic in-partition arrival order — the oracle gates the
    // deterministic (dest, batch_len) → row-count profile instead: a
    // dropped hint yields one whole-partition batch and a profile
    // mismatch). Every row carries the length of the batch it arrived in.
    "fx18_hint_carry_shuffle" -> { (s, _) =>
      import s.implicits._
      def gen = DSet.initN[(Int, Long)](s, 4)((_, pi) => 40 + pi * 7)((pi, ser) => (pi, ser))
      val mapiArm = gen.rowsReorg(11)
        .mapi((_, _, u) => u)
        .mapByCollection(arr => arr.map(t => ("mapi", t._1, t._2, arr.length)))
      val mixArm = gen.rowsReorg(23).mix(gen.rowsReorg(7))
        .mapByCollection(arr => arr.map { case (a, _) => ("mix", a._1, a._2, arr.length) })
      def keys = gen.map(t => t._1 * 1000L + t._2)
      val bsArm = keys.rowsReorg(9).binSortP(5)(k => (k % 5).toInt)
        .mapByCollection(arr => arr.map(k => ("binsortp", (k % 5).toInt, k, arr.length)))
      val repDf = keys.rowsReorg(13).repartitionP(5)(k => (k % 5).toInt)
        .mapByCollection(arr => arr.map(k => ((k % 5).toInt, arr.length)))
        .ds.toDF("part_id", "batch_n")
        .groupBy(col("part_id"), col("batch_n"))
        .agg(count(lit(1)).as("k"))
        .select(lit("repart").as("tag"), col("part_id"), col("k"), col("batch_n"))
      mapiArm.merge(mixArm, bsArm).ds.toDF("tag", "part_id", "k", "batch_n")
        .unionByName(repDf)
    },

    // merge + binSortNByKey global sort (reference merge
    // `DSetGenerics.fs:1535-1556`, binSortNByKey `DKV.fs:140-169`; test
    // pattern `tests/CoreLib/DSet.fs:953-1116`): the table splits into
    // two halves that `merge` re-unions, the sampled range partitioner
    // sorts globally, and zipWithIndex materializes each row's GLOBAL
    // rank — the oracle's row_number() OVER (ORDER BY key) must match
    // rank-for-rank, so a single out-of-order row (mis-sampled boundary,
    // unsorted bin) fails the hash. Keys are unique, so rank is total.
    "fx7_merge_binsort" -> { (s, dir) =>
      import s.implicits._
      import graft.dset.DSet.KVOps
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)]
      val evens = new DSet(orders.filter(col("o_orderkey") % 2 === 0).as[(Long, Double)])
      val odds = new DSet(orders.filter(col("o_orderkey") % 2 =!= 0).as[(Long, Double)])
      val sorted = evens.merge(odds).binSortNByKey(8)
      DSet.fromRDD(s, sorted.ds.rdd.zipWithIndex().map { case ((k, v), i) => (i, k, v) })
        .ds.toDF("rank", "o_orderkey", "o_totalprice")
    }
  )

  val oracles: Map[String, String] = Map(
    "fx4_init_choose_batch" ->
      """WITH gen AS (
           SELECT p.pi::INTEGER AS part_id, (p.pi * 1000 + s.serial)::BIGINT AS k
           FROM range(8) p(pi) CROSS JOIN range(170) s(serial)
           WHERE s.serial < 100 + p.pi * 10),
         ch AS (SELECT part_id, k FROM gen WHERE k % 3 = 0)
         SELECT part_id, k,
           (count(*) OVER (PARTITION BY part_id))::INTEGER AS batch_n
         FROM ch""",
    "fx5_kv_group_reduce" ->
      """SELECT word, count(*)::BIGINT AS cnt, count(*)::BIGINT AS n_grp FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word""",
    // Replays the fold's zero-norm rule exactly: degenerate pairs are
    // excluded from scoring, and a query whose candidates ALL dropped
    // (or whose own norm is zero) keeps the fold's (-1, -2.0) sentinel
    // via the LEFT JOIN + coalesce.
    "fx6_crossfold_knn" ->
      """WITH ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM ed WHERE vec_id < 50),
         pairs AS (
           SELECT q.vec_id AS qid, e.vec_id AS neighbor,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM q JOIN ed e ON e.vec_id <> q.vec_id
             AND list_dot_product(q.v, q.v) > 0
             AND list_dot_product(e.v, e.v) > 0),
         ranked AS (
           SELECT qid, neighbor, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor ASC) AS rn
           FROM pairs),
         best AS (SELECT qid, neighbor, cos FROM ranked WHERE rn = 1)
         SELECT q.vec_id AS qid, coalesce(b.neighbor, -1) AS neighbor,
                round(coalesce(b.cos, -2.0), 6) AS sim
         FROM q LEFT JOIN best b ON b.qid = q.vec_id""",
    "fx7_merge_binsort" ->
      """SELECT (row_number() OVER (ORDER BY o_orderkey) - 1)::BIGINT AS rank,
           o_orderkey, o_totalprice
         FROM orders""",
    "fx10_distribute_mapi_store" ->
      """WITH ordered AS (
           SELECT n_nationkey, n_name,
             (row_number() OVER (ORDER BY n_nationkey) - 1) AS idx
           FROM nation),
         tagged AS (
           SELECT n_nationkey, n_name,
             CASE WHEN idx < 3 THEN 0 WHEN idx < 10 THEN 1
                  WHEN idx < 21 THEN 2 ELSE 3 END AS p,
             idx - CASE WHEN idx < 3 THEN 0 WHEN idx < 10 THEN 3
                        WHEN idx < 21 THEN 10 ELSE 21 END AS ser
           FROM ordered)
         SELECT n_nationkey, n_name, p::INTEGER AS part_id, ser::BIGINT AS serial,
           p::INTEGER AS part_id2, ser::BIGINT AS serial2
         FROM tagged""",
    "fx11_salted_skew_group" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
           sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty_c
         FROM lineitem GROUP BY l_returnflag""",
    "fx12_generation_catalog" ->
      """SELECT 'init' AS tag, p.pi::INTEGER AS k, s.ser::BIGINT AS ser
           FROM range(4) p(pi) CROSS JOIN range(8) s(ser)
           WHERE s.ser < (p.pi + 1) * 2
         UNION ALL
         SELECT 'src_i', (10 + p.pi)::INTEGER, s.ser::BIGINT
           FROM range(5) p(pi) CROSS JOIN range(5) s(ser)
           WHERE s.ser < p.pi
         UNION ALL
         SELECT 'src_n', (100 + j.d)::INTEGER, 1::BIGINT FROM range(3) j(d)
         UNION ALL SELECT 'src', 400::INTEGER, 1::BIGINT
         UNION ALL
         SELECT 'dist_n', (200 + i.i)::INTEGER, i.i::BIGINT FROM range(7) i(i)
         UNION ALL SELECT 'find:nations_v1', 300::INTEGER, 0::BIGINT
         UNION ALL SELECT 'find:nations_v2', 301::INTEGER, 0::BIGINT""",
    "fx13_action_sinks" ->
      """SELECT 'count' AS action, count(*)::BIGINT AS v FROM nation
         UNION ALL SELECT 'execute_partitions', 4::BIGINT
         UNION ALL SELECT 'executeN_markers', 8::BIGINT
         UNION ALL SELECT 'iter_sum', sum(n_nationkey)::BIGINT FROM nation
         UNION ALL SELECT 'lazy_rows', count(*)::BIGINT FROM nation
         UNION ALL SELECT 'monitor_rows', count(*)::BIGINT FROM nation
         UNION ALL SELECT 'reduce_max', max(n_nationkey)::BIGINT FROM nation""",
    "fx15_node_state_fold" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
           sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty_c
         FROM lineitem GROUP BY l_returnflag""",
    "fx14_facade_residuals" ->
      """SELECT 'init_s' AS tag, p.pi::BIGINT AS k, s.ser::BIGINT AS v
           FROM range(4) p(pi) CROSS JOIN range(25) s(ser)
         UNION ALL
         SELECT 'repart_p', s_suppkey, (s_suppkey % 5)::BIGINT FROM supplier
         UNION ALL
         SELECT 'repart_pk', s_suppkey, (s_suppkey % 7)::BIGINT FROM supplier
         UNION ALL
         SELECT 'async_v', s_suppkey, (s_suppkey * 6)::BIGINT FROM supplier
         UNION ALL
         SELECT 'cross_lt', a.s_suppkey, b.s_suppkey
           FROM supplier a CROSS JOIN supplier b
           WHERE a.s_suppkey <= 10 AND b.s_suppkey <= 14 AND a.s_suppkey < b.s_suppkey
         UNION ALL
         SELECT 'cache_n', 0::BIGINT, count(*)::BIGINT FROM supplier
         UNION ALL
         SELECT 'cache_sum', 0::BIGINT, sum(s_suppkey)::BIGINT FROM supplier
         UNION ALL
         SELECT 'to_array', (row_number() OVER (ORDER BY s_suppkey) - 1)::BIGINT, s_suppkey
           FROM supplier""",
    "fx16_cross_session_cache" ->
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
           true AS cold_miss, true AS warm_hit
         FROM orders GROUP BY o_orderstatus""",
    "pc1_object_store_plancache" ->
      """SELECT o_orderpriority AS priority, count(*)::BIGINT AS n,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
           true AS cold_miss, true AS warm_hit, true AS evicted,
           true AS reattach_miss
         FROM orders GROUP BY o_orderpriority""",
    "fx17_rows_reorg_batches" ->
      """WITH gen AS (
           SELECT p.pi::INTEGER AS part_id, s.ser::BIGINT AS ser,
                  (40 + p.pi * 7) AS psize
           FROM range(4) p(pi) CROSS JOIN range(61) s(ser)
           WHERE s.ser < 40 + p.pi * 7)
         SELECT 'n9' AS tag, part_id, ser,
                least(9, psize - (ser // 9) * 9)::INTEGER AS batch_n FROM gen
         UNION ALL SELECT 'n25', part_id, ser,
                least(25, psize - (ser // 25) * 25)::INTEGER FROM gen
         UNION ALL SELECT 'split', part_id, ser, 1::INTEGER FROM gen
         UNION ALL SELECT 'merge', part_id, ser, psize::INTEGER FROM gen""",
    "fx18_hint_carry_shuffle" ->
      """WITH gen AS (
           SELECT p.pi::INTEGER AS part_id, s.ser::BIGINT AS ser,
                  (40 + p.pi * 7) AS psize
           FROM range(4) p(pi) CROSS JOIN range(61) s(ser)
           WHERE s.ser < 40 + p.pi * 7),
         keys AS (SELECT part_id * 1000 + ser AS k FROM gen),
         sizes AS (SELECT (k % 5) AS dest, count(*) AS s FROM keys GROUP BY 1),
         bs AS (
           SELECT k, (k % 5) AS dest,
                  row_number() OVER (PARTITION BY k % 5 ORDER BY k) - 1 AS r,
                  count(*) OVER (PARTITION BY k % 5) AS s
           FROM keys)
         SELECT 'mapi' AS tag, part_id, ser AS k,
                least(11, psize - (ser // 11) * 11)::INTEGER AS batch_n FROM gen
         UNION ALL SELECT 'mix', part_id, ser,
                least(7, psize - (ser // 7) * 7)::INTEGER FROM gen
         UNION ALL SELECT 'binsortp', dest::INTEGER, k::BIGINT,
                least(9, s - (r // 9) * 9)::INTEGER FROM bs
         UNION ALL SELECT 'repart', dest::INTEGER, ((s // 13) * 13)::BIGINT,
                13::INTEGER FROM sizes WHERE s >= 13
         UNION ALL SELECT 'repart', dest::INTEGER, (s % 13)::BIGINT,
                (s % 13)::INTEGER FROM sizes WHERE s % 13 > 0""",
    "fx8_async_kv_outer" ->
      """SELECT c_custkey, coalesce(o.cnt, 0)::BIGINT AS n_orders,
              lower(c_mktsegment) AS segment
         FROM customer LEFT JOIN (
           SELECT o_custkey, count(*)::BIGINT AS cnt FROM orders GROUP BY o_custkey) o
           ON o.o_custkey = c_custkey
         WHERE c_custkey % 2 = 0""",
    "fx9_multicast_hashjoin" ->
      """WITH c AS (
           SELECT n_name, count(*)::BIGINT AS n_cust
           FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name),
         s AS (
           SELECT n_name, count(*)::BIGINT AS n_supp
           FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name)
         SELECT c.n_name, n_cust, n_supp FROM c JOIN s USING (n_name)"""
  )
}
