package graft.dset

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession, graftbridge}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** Partitioner that routes a pre-computed bin number (an `Int` key) to the
  * partition with that index — honours the reference's user-supplied
  * `partFunc : 'U -> int` semantics exactly (reference
  * `src/CoreLib/DKV.fs:54-70` `repartitionPByKey`,
  * `src/CoreLib/DSetGenerics.fs:1364-1388` `repartitionP`).
  */
final class BinPartitioner(n: Int) extends Partitioner {
  require(n > 0, s"numPartitions must be positive, got $n")
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = {
    val b = key match {
      case i: Int        => i
      case (i: Int, _)   => i
      case other         => other.hashCode()
    }
    val m = b % n
    if (m < 0) m + n else m
  }
}

/** `DSet[U]` — typed facade over `Dataset[U]` reproducing the operator
  * algebra of the reference's `DSet<'U>` (reference
  * `src/CoreLib/DSetGenerics.fs:56`, paper §4.1): an immutable, lazily
  * evaluated, partitioned distributed collection. Unlike the reference,
  * every transformation declares a Catalyst logical plan, so predicate
  * pushdown / column pruning / whole-stage codegen come for free; RDDs are
  * used only where exact user-partitioner or zip semantics demand them.
  *
  * Key-value (`DKV`) operators live in [[DSet.KVOps]]; import
  * `graft.dset.DSet._` to enable them on any `DSet[(K, V)]`.
  */
final class DSet[U](val ds: Dataset[U], val batchHint: Int = -1) {
  def spark: SparkSession = ds.sparkSession

  // ---- per-element narrow transformations (reference §2.2) ----

  /** No-op pass-through (reference `DSetGenerics.fs:996-1004`). */
  def identityOp: DSet[U] = this

  // EVERY transformation carries the rowsReorg batch hint through: the
  // hint is a MEMORY BOUND on what a downstream mapByCollection
  // materializes per call, and `rowsReorg(n).filter(f).mapByCollection`
  // silently reverting to whole-partition arrays would reintroduce the
  // per-task OOM the hint exists to prevent. (Post-transformation batches
  // are regrouped to ≤n from the surviving rows — the bound, not the
  // original batch gaps, is the carried contract; the reference's own
  // re-serialization re-batches collections between operators too,
  // `cache.fs:342-375`.) Shuffling and RDD-bridging ops (mapi, mix,
  // repartition*, binSort*) carry it too — the bound is per-call memory,
  // not partition layout, so a shuffle does not invalidate it; multi-input
  // ops (merge, mix*) carry the TIGHTEST of their inputs' hints.

  /** reference `DSetGenerics.fs:1006-1012` (`filter`). */
  def filter(f: U => Boolean): DSet[U] = new DSet(ds.filter(f), batchHint)

  /** reference `DSetGenerics.fs:1029-1039` (`map`). */
  def map[U1: Encoder](f: U => U1): DSet[U1] = new DSet(ds.map(f), batchHint)

  /** Filter + map in one pass (reference `DSetGenerics.fs:1015-1027`,
    * `choose`).
    */
  def choose[U1: Encoder](f: U => Option[U1]): DSet[U1] =
    new DSet(ds.flatMap(u => f(u)), batchHint)

  /** flatMap — the reference names it `collect` after F# `Seq.collect`
    * (reference `DSetGenerics.fs:1248-1256`).
    */
  def collectSeq[U1: Encoder](f: U => IterableOnce[U1]): DSet[U1] =
    new DSet(ds.flatMap(f), batchHint)

  /** Position-aware map: `f(partitionIndex, serialWithinPartition, elem)`
    * (reference `DSetGenerics.fs:1041-1053`, `mapi`).
    */
  def mapi[U1: Encoder: ClassTag](f: (Int, Long, U) => U1): DSet[U1] = {
    val rdd2 = ds.rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = -1L // Long serial: Iterator.zipWithIndex is an Int that wraps past 2^31 rows
      it.map { u => i += 1; f(pi, i, u) }
    }
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** Batch-at-a-time map (reference `DSetGenerics.fs:1127-1137`,
    * `mapByCollection`; batches are ≤ `SerializationLimit` arrays, paper
    * §4.2). Consumes the [[rowsReorg]] batch-size hint: with a hint of n
    * each call of `f` sees ≤ n consecutive rows (`it.grouped(n)` — bounded
    * per-task allocation, no whole-partition materialization); without a
    * hint the whole partition arrives as one array, matching the
    * reference's default of one collection per partition blob.
    */
  def mapByCollection[U1: Encoder](f: Array[U] => Array[U1])(implicit ct: ClassTag[U]): DSet[U1] = {
    val n = batchHint
    new DSet(ds.mapPartitions { it =>
      if (n <= 0) { if (it.isEmpty) Iterator.empty else f(it.toArray).iterator }
      else it.grouped(n).flatMap(g => f(g.toArray))
    }, batchHint)
  }

  /** Concurrent map with bounded intra-partition parallelism, preserving
    * element order — reproduces `asyncMap`/`parallelMap`
    * (reference `DSetGenerics.fs:1055-1125`, `function.fs:1626-1785`;
    * intra-partition parallelism is the reference's
    * `NumParallelExecution`, paper §4.9). Useful for IO-bound row work
    * (e.g. dialing an external service per element).
    */
  def parallelMap[U1: Encoder](parallelism: Int = 8)(f: U => U1): DSet[U1] =
    new DSet(ds.mapPartitions(it => DSet.windowedMap(it, parallelism)(f)), batchHint)

  /** Alias of [[parallelMap]] — the reference's async-workflow variant
    * (reference `DSetGenerics.fs:1055-1087`).
    */
  def asyncMap[U1: Encoder](parallelism: Int = 8)(f: U => U1): DSet[U1] =
    parallelMap(parallelism)(f)

  /** Position-aware concurrent map (reference `DSetGenerics.fs:1069-1087`,
    * `asyncMapi`/`parallelMapi`): `f(partition, serial, elem)` with bounded
    * intra-partition parallelism, order preserved.
    */
  def parallelMapi[U1: Encoder: ClassTag](parallelism: Int = 8)(f: (Int, Long, U) => U1): DSet[U1] = {
    val rdd2 = ds.rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = -1L // Long serial: Iterator.zipWithIndex is an Int that wraps past 2^31 rows
      DSet.windowedMap(it.map { u => i += 1; (u, i) }, parallelism) {
        case (u, serial) => f(pi, serial, u)
      }
    }
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** Re-batch the collections downstream batch consumers observe to ≤ n
    * rows (reference `DSetGenerics.fs:1161-1182`,
    * `rowsReorg`/`rowsSplit`/`rowsMergeAll`; paper §4.2's
    * ≤`SerializationLimit` collections). Spark's row flow is internal to
    * whole-stage codegen, so per-element operators are unaffected; the hint
    * is recorded on the DSet and consumed by [[mapByCollection]], the one
    * operator whose user function observes batch boundaries — exactly the
    * reference pattern `rowsReorg(n) |> mapByCollection f` (test pattern
    * reference `tests/CoreLib/DSet.fs:489-533`). `n <= 0` restores the
    * default whole-partition batch.
    */
  def rowsReorg(n: Int): DSet[U] = new DSet(ds, n)

  /** One row per collection (reference `DSetGenerics.fs:1161-1182`,
    * `rowsSplit`).
    */
  def rowsSplit: DSet[U] = rowsReorg(1)

  /** Merge all rows of a partition into one collection (reference
    * `DSetGenerics.fs:1161-1182`, `rowsMergeAll`) — the facade default.
    */
  def rowsMergeAll: DSet[U] = rowsReorg(-1)

  /** Set intra-partition parallel degree — superseded by executor-core
    * scheduling in Spark (reference `DSetGenerics.fs:1139-1158`,
    * `reorgWDegree`); kept for API parity, identity semantics.
    */
  def reorgWDegree(n: Int): DSet[U] = this

  // ---- DAG plumbing (reference §2.5) ----

  /** Union by partition concatenation (reference `DSetGenerics.fs:1535-1556`,
    * `merge`; Spark `union` is also a partition concat — no shuffle).
    */
  def merge(others: DSet[U]*): DSet[U] = {
    // the union keeps every input's partitions, so the carried memory
    // bound must be the TIGHTEST of the inputs' hints — taking only the
    // receiver's would let small.merge(huge.rowsReorg(n)) materialize
    // huge's partitions whole
    new DSet(others.foldLeft(ds)((acc, o) => acc.union(o.ds)),
      DSet.tightestHint(batchHint +: others.map(_.batchHint): _*))
  }

  /** Zip two same-shape DSets into tuple rows (reference
    * `DSetGenerics.fs:1594-1643`, `mix`; requires identical partition
    * structure, as the reference's `MixFunctionWrapper` does).
    */
  def mix[U1](other: DSet[U1])(implicit e: Encoder[(U, U1)], ct: ClassTag[U], ct1: ClassTag[U1]): DSet[(U, U1)] =
    DSet.fromRDD(spark, ds.rdd.zip(other.ds.rdd), DSet.tightestHint(batchHint, other.batchHint))

  /** mix + elementwise apply (reference `DSetGenerics.fs:1558-1592`, `map2`). */
  def map2[U1, U2: Encoder](other: DSet[U1])(f: (U, U1) => U2)(implicit ct: ClassTag[U], ct1: ClassTag[U1], ct2: ClassTag[U2]): DSet[U2] =
    DSet.fromRDD(spark, ds.rdd.zip(other.ds.rdd).map { case (a, b) => f(a, b) },
      DSet.tightestHint(batchHint, other.batchHint))

  /** 3-way zip (reference `DSetGenerics.fs:1594-1643`, `mix3`). */
  def mix3[U1, U2](o1: DSet[U1], o2: DSet[U2])(implicit e: Encoder[(U, U1, U2)], ct: ClassTag[U], ct1: ClassTag[U1], ct2: ClassTag[U2]): DSet[(U, U1, U2)] =
    DSet.fromRDD(spark, ds.rdd.zip(o1.ds.rdd).zip(o2.ds.rdd).map { case ((a, b), c) => (a, b, c) },
      DSet.tightestHint(batchHint, o1.batchHint, o2.batchHint))

  /** 3-way zip + apply (reference `DSetGenerics.fs:1558-1592`, `map3`). */
  def map3[U1, U2, U3: Encoder](o1: DSet[U1], o2: DSet[U2])(f: (U, U1, U2) => U3)(implicit
      ct: ClassTag[U], ct1: ClassTag[U1], ct2: ClassTag[U2], ct3: ClassTag[U3]): DSet[U3] =
    DSet.fromRDD(spark, ds.rdd.zip(o1.ds.rdd).zip(o2.ds.rdd).map { case ((a, b), c) => f(a, b, c) },
      DSet.tightestHint(batchHint, o1.batchHint, o2.batchHint))

  /** 4-way zip (reference `DSetGenerics.fs:1594-1643`, `mix4`). */
  def mix4[U1, U2, U3](o1: DSet[U1], o2: DSet[U2], o3: DSet[U3])(implicit
      e: Encoder[(U, U1, U2, U3)], ct: ClassTag[U], ct1: ClassTag[U1], ct2: ClassTag[U2], ct3: ClassTag[U3]): DSet[(U, U1, U2, U3)] =
    DSet.fromRDD(spark,
      ds.rdd.zip(o1.ds.rdd).zip(o2.ds.rdd).zip(o3.ds.rdd).map { case (((a, b), c), d) => (a, b, c, d) },
      DSet.tightestHint(batchHint, o1.batchHint, o2.batchHint, o3.batchHint))

  /** 4-way zip + apply (reference `DSetGenerics.fs:1558-1592`, `map4`). */
  def map4[U1, U2, U3, U4: Encoder](o1: DSet[U1], o2: DSet[U2], o3: DSet[U3])(f: (U, U1, U2, U3) => U4)(implicit
      ct: ClassTag[U], ct1: ClassTag[U1], ct2: ClassTag[U2], ct3: ClassTag[U3], ct4: ClassTag[U4]): DSet[U4] =
    DSet.fromRDD(spark,
      ds.rdd.zip(o1.ds.rdd).zip(o2.ds.rdd).zip(o3.ds.rdd).map { case (((a, b), c), d) => f(a, b, c, d) },
      DSet.tightestHint(batchHint, o1.batchHint, o2.batchHint, o3.batchHint))

  /** Fork into n sibling branches sharing one upstream evaluation
    * (reference `DSetGenerics.fs:1728-1766`, `bypass`/`bypassN`; the Spark
    * analog is a cached parent reused across the DAG).
    */
  def bypass(n: Int = 2): Seq[DSet[U]] = {
    val cached = new DSet(ds.persist(StorageLevel.MEMORY_AND_DISK), batchHint)
    Seq.fill(n)(cached)
  }

  /** Project one DSet into two column-subset branches over a shared cached
    * parent (reference `DSetGenerics.fs:1772-1835`, `split2`).
    */
  def split2[A: Encoder, B: Encoder](fa: U => A, fb: U => B): (DSet[A], DSet[B]) = {
    val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (new DSet(cached.map(fa), batchHint), new DSet(cached.map(fb), batchHint))
  }

  /** 3-way projection split (reference `DSetGenerics.fs:1772-1835`, `split3`). */
  def split3[A: Encoder, B: Encoder, C: Encoder](fa: U => A, fb: U => B, fc: U => C): (DSet[A], DSet[B], DSet[C]) = {
    val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (new DSet(cached.map(fa), batchHint), new DSet(cached.map(fb), batchHint), new DSet(cached.map(fc), batchHint))
  }

  /** 4-way projection split (reference `DSetGenerics.fs:1772-1835`, `split4`). */
  def split4[A: Encoder, B: Encoder, C: Encoder, D: Encoder](fa: U => A, fb: U => B, fc: U => C, fd: U => D): (DSet[A], DSet[B], DSet[C], DSet[D]) = {
    val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (new DSet(cached.map(fa), batchHint), new DSet(cached.map(fb), batchHint), new DSet(cached.map(fc), batchHint), new DSet(cached.map(fd), batchHint))
  }

  /** Replicate the whole DSet to every executor (reference
    * `DSetGenerics.fs:1315-1345`, `multicast` — `MulticastAcrossNetwork`;
    * Spark-first this is a broadcast variable).
    *
    * DRIVER-MEMORY CONTRACT (loud, the foldWithCommonStatePerNode
    * convention): this `collect()`s the ENTIRE DSet into the driver heap
    * before broadcasting — the right shape for the broadcast-join niche
    * it serves (a small dimension side, fx9), and a driver OOM for
    * anything corpus-sized. The reference streams partitions peer-to-peer
    * and has no such bound; at 100 TB the equivalents are `broadcast()`
    * hints on a DataFrame join (Spark ships blocks, never one driver
    * array) or a co-partitioned join for sides too big to replicate at
    * all. Rule of thumb: if the side wouldn't fit in
    * `spark.sql.autoBroadcastJoinThreshold` territory (MBs, not GBs),
    * don't multicast it.
    */
  def multicast()(implicit ct: ClassTag[U]): Broadcast[Array[U]] =
    spark.sparkContext.broadcast(ds.collect())

  /** Full shuffle by user partition function (reference
    * `DSetGenerics.fs:1364-1388`, `repartitionP`; exact `'U -> int`
    * semantics via [[BinPartitioner]]).
    */
  def repartitionP(numPartitions: Int)(partFunc: U => Int)(implicit e: Encoder[U], ct: ClassTag[U]): DSet[U] = {
    val rdd2 = ds.rdd.map(u => (partFunc(u), u))
      .partitionBy(new BinPartitioner(numPartitions)).values
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** Hash repartition to n partitions (reference `DSetGenerics.fs:1364`,
    * `repartitionN`) — declarative, AQE-aware.
    */
  def repartitionN(numPartitions: Int): DSet[U] = new DSet(ds.repartition(numPartitions), batchHint)

  /** Distributed bin sort: route each element to bin `partFunc(u)`, sort
    * within each bin partition — total order = bin order × in-bin order
    * (reference `DSetGenerics.fs:1467-1528`, `binSortP`). Spill-aware:
    * uses Spark's shuffle sorter (`repartitionAndSortWithinPartitions`)
    * rather than the reference's in-RAM `PartitionCacheSortedSet`
    * (`storage.fs:65`, no spill).
    */
  def binSortP(numPartitions: Int)(partFunc: U => Int)(implicit ord: Ordering[U], e: Encoder[U], ct: ClassTag[U]): DSet[U] = {
    implicit val kOrd: Ordering[(Int, U)] = Ordering.Tuple2(Ordering.Int, ord)
    val rdd2 = ds.rdd.map(u => ((partFunc(u), u), null: Null))
      .repartitionAndSortWithinPartitions(new BinPartitioner(numPartitions))
      .map(_._1._2)
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** Attach an in-memory cache (reference `DSetGenerics.fs:1185-1234`,
    * `cacheInMemory`; `PartitionCacheEnumerable`, `cache.fs:294-477`).
    */
  def cacheInMemory(): DSet[U] = new DSet(ds.persist(StorageLevel.MEMORY_ONLY), batchHint)

  /** Cross-session variant of [[cacheInMemory]] — the reference's caches
    * live in the CONTAINER and survive the driver session (reference
    * `DSetGenerics.fs:1185-1234`, `cache.fs:294-477`; paper §4.9), which
    * `persist()` cannot emulate. Attaches this DSet's plan to the
    * plan-fingerprint-keyed parquet cache under `cacheDir`: the first
    * session computes and publishes, any later session declaring the same
    * plan re-attaches without recomputing. Content-keyed by default
    * since r15 (the safe tier — see [[graft.sources.PlanCache]]); pass
    * `contentKeys = false` (or set the session conf) for the reference-
    * parity file-list tier.
    */
  def cacheAcrossSessions(cacheDir: String, contentKeys: Boolean = true)(
      implicit e: Encoder[U]): DSet[U] =
    new DSet(
      graft.sources.PlanCache.readThrough(ds.toDF(), cacheDir, contentKeys).as[U], batchHint)

  // ---- aggregations & actions (reference §2.6) ----

  /** Per-partition fold + cross-partition aggregation (reference
    * `DSetGenerics.fs:392-433`, `fold`; `DSetAction.fs:508-631`). The
    * init state seeds each partition EXACTLY ONCE — `treeAggregate`
    * would re-inject its zero per partial and once more on the driver,
    * silently inflating any non-neutral state (a pre-seeded map, an
    * offset counter) — so each partition emits `it.foldLeft(state)`
    * (empty partitions included: one seeded state each, the reference
    * contract) and the partials combine with a zero-free reduce.
    *
    * Executor-tier combine (paper §4.8 aggregates per node before the
    * client): above [[DSet.FoldTreeThreshold]] partitions the partials
    * reduce through an ORDER-PRESERVING tree — each level groups
    * CONTIGUOUS partition-id ranges (branch factor = the threshold) and
    * reduces every group in partition order, so the whole combine is a
    * parenthesization of the partition-ordered sequence: `aggr` needs
    * associativity ONLY (string/segment concatenation folds are safe),
    * and the result is bit-identical to the small-path ordered reduce at
    * any partition count — a plain `treeReduce` would silently flip
    * results for non-commutative `aggr` the moment the threshold is
    * crossed. Tree levels run IN TASKS; the driver receives at most
    * branch-factor states (at 100k partitions × MB-sized states that is
    * the difference between ≤64 states and a 100 GB driver payload).
    * Below the threshold the partials collect directly — a tree level
    * there would add a shuffle stage that costs more than it saves.
    */
  def fold[S: ClassTag](state: S)(folder: (S, U) => S, aggr: (S, S) => S): S = {
    val parts = ds.rdd.getNumPartitions
    val partials = ds.rdd.mapPartitions(it => Iterator.single(it.foldLeft(state)(folder)))
    if (parts == 0) state
    else if (parts <= DSet.FoldTreeThreshold) {
      val arr = partials.collect()
      if (arr.isEmpty) state else arr.reduce(aggr)
    } else {
      val width = DSet.FoldTreeThreshold
      var cur = partials.mapPartitionsWithIndex((pid, it) => it.map(s => (pid, s)))
      var n = parts
      while (n > width) {
        val groups = (n + width - 1) / width
        cur = cur.map { case (pid, s) => (pid / width, (pid, s)) }
          .groupByKey(groups)
          .map { case (g, it) =>
            (g, it.toSeq.sortBy(_._1).map(_._2).reduce(aggr))
          }
        n = groups
      }
      val arr = cur.collect().sortBy(_._1).map(_._2)
      if (arr.isEmpty) state else arr.reduce(aggr)
    }
  }

  /** Node-shared-state fold (reference `DSetGenerics.fs:410-411, 464`,
    * `foldWithCommonStatePerNode`): every partition running in the same
    * executor JVM folds into ONE shared state object (the reference's
    * per-node dictionary/buffer memory saving), then the per-node states
    * aggregate on the driver. `initState` runs once per JVM; `folder`
    * runs per element under the state's lock (element production stays
    * parallel — only the fold step serializes, which is what sharing
    * mutable state per node means); `aggr` merges node states.
    *
    * Completeness: each task emits a (jvmId, foldCount, state) snapshot
    * read under the same lock AFTER its own last fold; the driver keeps
    * the max-count snapshot per JVM. The count increments inside the
    * locked fold, so a snapshot's count equals the folds that
    * happened-before it — the max-count snapshot on a JVM is therefore
    * taken at-or-after that JVM's final fold and holds the complete
    * node state (every task's snapshot ships; the cost of not being
    * able to know which task finishes last).
    *
    * Retries/speculation (shared mutable state is inherently
    * at-least-once; this op makes it exactly-once-or-loud): a retried
    * task whose earlier attempt COMPLETED on the same JVM skips
    * re-folding (per-partition claim in the holder); an attempt that
    * died mid-fold poisons its JVM's state and the retry throws with a
    * clear message; a partition that completed on TWO JVMs (speculative
    * twin) or left a dead partial on one is detected on the driver via
    * the per-snapshot started/completed sets and throws rather than
    * returning a silently-inflated aggregate.
    *
    * The per-invocation state entry is freed on the driver JVM
    * (covers local mode); on a cluster an executor retains its entry
    * until a LATER invocation's tasks land on it — each call ships the
    * driver's released-id ring in its closure and tasks evict those
    * holders first, so a long-lived session calling this repeatedly
    * holds at most the in-flight invocation's state per executor (plus
    * any ids released after the last call, bounded by the ring).
    */
  def foldWithCommonStatePerNode[S](initState: () => S)(folder: (S, U) => S, aggr: (S, S) => S): S = {
    // Fail BEFORE running the job when speculation is on: a speculative
    // twin folding the same partition into a second JVM's shared state is
    // detected only after the fold (the completed-twice check below), so
    // the whole job's work would be spent to reach a guaranteed throw —
    // and an unlucky twin landing on the SAME JVM is undetectable there.
    // Refuse up front instead (spark.speculation is a static core conf,
    // fixed at context launch — the context conf IS the live value).
    DSet.requireNoSpeculation(ds.sparkSession.sparkContext.getConf)
    val invocation = java.util.UUID.randomUUID().toString
    val releasedIds = NodeState.releasedSnapshot()
    try {
      val snapshots = ds.rdd.mapPartitions { it =>
        NodeState.evict(releasedIds)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val holder = NodeState.holder(invocation, initState)
        if (holder.begin(pid)) {
          it.foreach(u => holder.fold(u)(folder))
          holder.complete(pid)
        }
        val (bytes, count, started, completed) = holder.snapshot
        Iterator.single((NodeState.jvmId, count, bytes, started, completed))
      }.collect()
      if (snapshots.isEmpty) initState()
      else {
        // ties on count happen when a task folds zero elements (empty
        // partition, or a begin=false retry) — break toward the LATEST
        // snapshot (largest completed set), not array order, or a stale
        // tied snapshot spuriously reports its sibling as a dead partial
        val chosen = snapshots.groupBy(_._1).values
          .map(_.maxBy(sn => (sn._2, sn._5.size))).toSeq
        // the max-count snapshot is taken after its JVM's last fold, so
        // any started-but-not-completed partition there is a DEAD partial
        // attempt baked into the state — and a partition completed on two
        // JVMs would aggregate twice
        chosen.foreach { case (jvm, _, _, started, completed) =>
          val dead = started.diff(completed)
          if (dead.nonEmpty) throw new IllegalStateException(
            s"foldWithCommonStatePerNode: partitions $dead were partially folded by failed " +
              s"attempts on executor JVM $jvm — shared state corrupted; rerun the action.")
        }
        val all = chosen.flatMap(_._5)
        if (all.size != all.distinct.size) throw new IllegalStateException(
          "foldWithCommonStatePerNode: a partition completed on more than one executor " +
            "(speculative execution) — its elements would aggregate twice. Disable " +
            "spark.speculation for jobs using this operator.")
        chosen.map(c => NodeState.deserialize[S](c._3)).reduce(aggr)
      }
    } finally NodeState.release(invocation)
  }

  /** reference `DSetGenerics.fs:438-455` (`reduce`). */
  def reduce(f: (U, U) => U): U = ds.reduce(f)

  /** reference `DSetGenerics.fs:473-480` (`count` — a fold of `+1L`). */
  def count(): Long = ds.count()

  /** foreach (reference `DSetGenerics.fs:458-468`, `iter`). */
  def iter(f: U => Unit): Unit = ds.foreach(f)

  /** Lazy pull of the whole DSet to the client (reference
    * `DSetGenerics.fs:385-390`, `toSeq` via `DSetEnumerator`).
    */
  def toSeq: Iterator[U] = {
    import scala.jdk.CollectionConverters._
    ds.toLocalIterator().asScala
  }

  /** Client-side materialize (used by tests; reference `localIter`,
    * `DSetGenerics.fs:485-507`).
    */
  def toArray(implicit ct: ClassTag[U]): Array[U] = ds.collect()

  /** Composite map → shuffle-by-key → per-key reduce (reference
    * `DSetGenerics.fs:1396-1465`, `mapReduce`). NOTE: with an opaque
    * `reduceFunc`, `groupByKey.mapGroups` shuffles every mapped pair —
    * Catalyst cannot insert partial aggregation through an arbitrary
    * iterator-consuming closure. When the reduction is an associative
    * merge of values, use [[mapReduceAssoc]], which does map-side combine
    * (matching the reference's local pre-group, `DG:1399-1423`).
    */
  def mapReduce[K1, V1, U2](mapFunc: U => IterableOnce[(K1, V1)])(reduceFunc: (K1, Iterator[V1]) => U2)(implicit
      e1: Encoder[(K1, V1)], ek: Encoder[K1], e2: Encoder[U2]): DSet[U2] =
    new DSet(
      ds.flatMap(mapFunc)
        .groupByKey(_._1)
        .mapGroups((k, vs) => reduceFunc(k, vs.map(_._2))), batchHint)

  /** Combiner-capable mapReduce: when the per-key reduction is an
    * associative binary merge, route through an RDD `reduceByKey`, which
    * pre-aggregates on the map side before the shuffle — only one partial
    * value per (partition, key) crosses the network, reproducing the
    * reference's local pre-group per collection
    * (reference `DSetGenerics.fs:1399-1423`).
    */
  def mapReduceAssoc[K1, V1](mapFunc: U => IterableOnce[(K1, V1)])(combine: (V1, V1) => V1)(implicit
      e: Encoder[(K1, V1)], ctk: ClassTag[K1], ctv: ClassTag[V1]): DSet[(K1, V1)] = {
    val rdd2 = ds.rdd.flatMap(u => mapFunc(u).iterator).reduceByKey(combine)
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** mapReduce with a pinned shuffle partition count (reference
    * `DSetGenerics.fs:1396-1465`, `mapReduceP` — the `Param` overloads let
    * the caller fix the reducer fan-in).
    */
  def mapReduceP[K1, V1, U2: Encoder](numPartitions: Int)(mapFunc: U => IterableOnce[(K1, V1)])(
      reduceFunc: (K1, Iterator[V1]) => U2)(implicit ctk: ClassTag[K1], ctv: ClassTag[V1], ctu: ClassTag[U2]): DSet[U2] = {
    val rdd2 = ds.rdd.flatMap(u => mapFunc(u).iterator)
      .groupByKey(numPartitions)
      .map { case (k, vs) => reduceFunc(k, vs.iterator) }
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** mapReduce with a caller-supplied shuffle partitioner `'K -> int`
    * (reference `DSetGenerics.fs:1396-1465`,
    * `mapReducePWithPartitionFunction`): mapped pairs route to partition
    * `partFunc(k)`, then each partition reduces its keys locally — the
    * reference's exact shuffle contract, via [[BinPartitioner]].
    *
    * Memory bound: the local reduce buffers every (key, value) of a
    * partition in heap (no spill) — matching the reference's in-memory
    * per-node group (`DSetGenerics.fs:1399-1423`). Size `numPartitions`
    * so a partition's pairs fit in executor memory; for unbounded inputs
    * with an associative reduction use [[mapReduceAssoc]] (spill-aware
    * map-side combine), or [[mapReduceP]] whose `groupByKey` spills.
    */
  def mapReducePWithPartitionFunction[K1, V1, U2: Encoder](numPartitions: Int)(partFunc: K1 => Int)(
      mapFunc: U => IterableOnce[(K1, V1)])(reduceFunc: (K1, Iterator[V1]) => U2)(implicit
      ctk: ClassTag[K1], ctv: ClassTag[V1], ctu: ClassTag[U2]): DSet[U2] = {
    val rdd2 = ds.rdd.flatMap(u => mapFunc(u).iterator)
      .map(kv => (partFunc(kv._1), kv))
      .partitionBy(new BinPartitioner(numPartitions))
      .mapPartitions { it =>
        val acc = mutable.LinkedHashMap.empty[K1, mutable.ArrayBuffer[V1]]
        it.foreach { case (_, (k, v)) => acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty[V1]) += v }
        acc.iterator.map { case (k, vs) => reduceFunc(k, vs.iterator) }
      }
    DSet.fromRDD(spark, rdd2, batchHint)
  }

  /** Run a side-effecting closure once per partition slot (reference
    * `DSetGenerics.fs:951-995`, `execute` — ops tooling, not data-bound).
    */
  def executeOnPartitions(f: Int => Unit): Unit =
    ds.rdd.mapPartitionsWithIndex { (pi, _) => f(pi); Iterator.empty }.count(): Unit

  /** Run a side-effecting closure N times per partition slot (reference
    * `DSetGenerics.fs:951-995`, `executeN` — N calls per node; the call
    * index is passed so each invocation can differentiate itself).
    */
  def executeN(n: Int)(f: (Int, Int) => Unit): Unit =
    ds.rdd.mapPartitionsWithIndex { (pi, _) =>
      var i = 0; while (i < n) { f(pi, i); i += 1 }; Iterator.empty
    }.count(): Unit

  // ---- persistence (reference §2.6 save/load) ----

  /** Eager parquet save (reference `DSetGenerics.fs:509-546`,
    * `saveToHDDByName`; write path `DSet.fs:1094-1451`). Replication is
    * delegated to the file system, as SURVEY §4 prescribes.
    */
  def saveToName(path: String): Unit =
    ds.write.mode("overwrite").parquet(path)

  /** Deferred save (reference `DSetGenerics.fs:549-581`, `lazySaveToHDD`):
    * Spark actions are single-sink, so the lazy sink is a thunk over a
    * cached parent — invoke it when another action has warmed the cache
    * (SURVEY §7 "hard parts": multi-output emulated with cached parent +
    * two writes).
    */
  def lazySaveToName(path: String): (DSet[U], () => Unit) = {
    val cached = new DSet(ds.persist(StorageLevel.MEMORY_AND_DISK), batchHint)
    (cached, () => cached.saveToName(path))
  }

  /** Save with progress monitoring (reference `DSetGenerics.fs:588-615`,
    * `saveToHDDWithMonitor`): the bypass-branch progress stream maps to
    * `observe()` metrics. The write triggers its own query execution, so
    * metrics are captured via a `QueryExecutionListener` (the listener bus
    * is async — polled briefly after the write).
    */
  def saveToNameWithMonitor(path: String)(implicit e: Encoder[U]): Map[String, Any] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var captured: Map[String, Any] = Map.empty
    // observation name unique per call: the listener bus is shared and
    // async, so concurrent saves on one session would cross-capture each
    // other's metrics under a fixed name
    val obsName = s"graft_save_${java.util.UUID.randomUUID().toString.take(8)}"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(obsName).foreach { r =>
          captured = r.schema.fieldNames.zip(r.toSeq).toMap
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val observed = ds.observe(obsName,
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("rows_written"))
      observed.write.mode("overwrite").parquet(path)
      val deadline = System.nanoTime() + 10000000000L // 10 s
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      captured
    } finally spark.listenerManager.unregister(listener)
  }
}

object DSet {

  /** Preflight for [[DSet.foldWithCommonStatePerNode]]: refuse when
    * speculation is on, BEFORE any job runs — the post-job twin check
    * can only throw after all the work is spent, and a twin landing on
    * the same JVM is undetectable there at all. Takes the conf as an
    * argument (the operator passes the live context conf) so the refusal
    * message is unit-testable without launching a speculating context.
    */
  private[graft] def requireNoSpeculation(conf: org.apache.spark.SparkConf): Unit =
    if (conf.getBoolean("spark.speculation", defaultValue = false))
      throw new IllegalStateException(
        "foldWithCommonStatePerNode: spark.speculation is enabled — speculative task twins " +
          "fold the same partition into shared per-JVM state twice (a silently-inflated " +
          "aggregate at best, detected-and-thrown after the job at worst). Disable " +
          "spark.speculation for jobs using this operator.")

  /** Partition count above which [[DSet.fold]] reduces partials through
    * an executor-tier tree instead of collecting one state per partition
    * to the driver. 64 ≈ the point where a 32-core local session's fold
    * fan-in is still trivially driver-sized but a cluster-scale fan-in
    * is not.
    */
  val FoldTreeThreshold: Int = 64

  /** Salt for two-phase skew grouping: always in [0, parts) —
    * `hashCode % parts` would yield (-parts, parts) and silently double
    * the declared fan-out for negative hashes.
    */
  def salt(v: Any, parts: Int): Int = math.floorMod(v.hashCode(), parts)

  /** Bounded-window concurrent map preserving element order — the one
    * implementation behind parallelMap/parallelMapi (and their KV
    * aliases). `blocking` marks each call for the global pool so
    * IO-bound user functions get compensation threads instead of
    * starving at the core count.
    */
  private[dset] def windowedMap[A, B](it: Iterator[A], parallelism: Int)(g: A => B): Iterator[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val window = math.max(parallelism, 1)
    val queue = mutable.Queue.empty[Future[B]]
    new Iterator[B] {
      private def fill(): Unit =
        while (queue.size < window && it.hasNext) {
          val a = it.next()
          queue.enqueue(Future(scala.concurrent.blocking(g(a))))
        }
      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): B = { fill(); Await.result(queue.dequeue(), Duration.Inf) }
    }
  }

  def fromDataset[U](ds: Dataset[U]): DSet[U] = new DSet(ds)

  /** RDD bridge; `hint` carries the caller's rowsReorg batch bound so the
    * bridge is not a silent hint reset (the bound is per-call memory,
    * independent of the RDD's partitioning).
    */
  def fromRDD[U: Encoder](spark: SparkSession, rdd: RDD[U], hint: Int = -1): DSet[U] =
    new DSet(spark.createDataset(rdd), hint)

  /** Tightest (smallest positive) of several batch hints — the carried
    * bound for multi-input ops; -1 when none is set.
    */
  private[dset] def tightestHint(hints: Int*): Int = {
    val pos = hints.filter(_ > 0)
    if (pos.isEmpty) -1 else pos.min
  }

  /** Client seq scattered across the cluster (reference
    * `DSetGenerics.fs:881-950`, `distribute`/`distributeN`).
    */
  def distribute[U: Encoder](spark: SparkSession, seq: Seq[U], numPartitions: Int = 0): DSet[U] = {
    val base = spark.createDataset(seq)
    new DSet(if (numPartitions > 0) base.repartition(numPartitions) else base)
  }

  /** Generate: per-partition `(partitionIdx, serial) -> 'U` with a size
    * function (reference `DSetGenerics.fs:623-705`, `init`/`initS`/`initN`).
    */
  def init[U: Encoder: ClassTag](spark: SparkSession, numPartitions: Int, sizeFunc: Int => Int)(
      f: (Int, Long) => U): DSet[U] = {
    val rdd = spark.sparkContext
      .parallelize(0 until numPartitions, numPartitions)
      .mapPartitionsWithIndex { (pi, _) =>
        Iterator.range(0, sizeFunc(pi)).map(i => f(pi, i.toLong))
      }
    fromRDD(spark, rdd)
  }

  /** init with uniform partition size (reference `DSetGenerics.fs:651-672`). */
  def initS[U: Encoder: ClassTag](spark: SparkSession, numPartitions: Int, partitionSize: Int)(
      f: (Int, Long) => U): DSet[U] =
    init(spark, numPartitions, _ => partitionSize)(f)

  /** init whose size function receives (numPartitions, partitionIdx)
    * (reference `DSetGenerics.fs:674-705`, `initN`).
    */
  def initN[U: Encoder: ClassTag](spark: SparkSession, numPartitions: Int)(
      sizeFunc: (Int, Int) => Int)(f: (Int, Long) => U): DSet[U] =
    init(spark, numPartitions, pi => sizeFunc(numPartitions, pi))(f)

  /** One generator delegate per parallel slot — the reference runs one
    * `unit -> seq` delegate per cluster node (reference
    * `DSetGenerics.fs:706-733`, `source`); the Spark analog of "node" is a
    * default-parallelism slot.
    */
  def source[U: Encoder: ClassTag](spark: SparkSession)(f: () => IterableOnce[U]): DSet[U] =
    sourceI(spark, spark.sparkContext.defaultParallelism)(_ => f())

  /** num delegate calls per slot (reference `DSetGenerics.fs:734-760`,
    * `sourceN`): partition i runs delegate `i % num` of slot `i / num`.
    */
  def sourceN[U: Encoder: ClassTag](spark: SparkSession, num: Int)(f: Int => IterableOnce[U]): DSet[U] =
    sourceI(spark, spark.sparkContext.defaultParallelism * num)(pi => f(pi % num))

  /** distribute with n partitions per slot (reference
    * `DSetGenerics.fs:881-950`, `distributeN`).
    */
  def distributeN[U: Encoder](spark: SparkSession, seq: Seq[U], perSlot: Int): DSet[U] =
    distribute(spark, seq, spark.sparkContext.defaultParallelism * perSlot)

  /** distribute with caller-controlled uneven partition sizes (reference
    * `DSetGenerics.fs:881-950`, `distributeUnevenN`): partition i receives
    * the next `sizeFunc(i)` consecutive elements of the client seq; the
    * final partition absorbs any remainder so no element is dropped.
    */
  def distributeUnevenN[U: Encoder: ClassTag](spark: SparkSession, seq: Seq[U], numPartitions: Int)(
      sizeFunc: Int => Int): DSet[U] = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    val elems = seq.toIndexedSeq
    val bounds = new Array[(Int, Int)](numPartitions) // (start, endExclusive) per partition
    var start = 0
    var i = 0
    while (i < numPartitions) {
      val end =
        if (i == numPartitions - 1) elems.length
        else math.min(start + math.max(sizeFunc(i), 0), elems.length)
      bounds(i) = (start, end)
      start = end
      i += 1
    }
    sourceI(spark, numPartitions) { pi =>
      val (s, e) = bounds(pi)
      elems.slice(s, e)
    }
  }

  /** Enumerate stored datasets matching a name pattern under a warehouse
    * directory — the reference's mini catalog (reference
    * `DSetGenerics.fs:1841-1857`, `tryFind`; parquet dirs replace
    * name+version metadata).
    */
  def tryFind(warehouseDir: String, pattern: String): Seq[String] = {
    val dir = new java.io.File(warehouseDir)
    val rx = java.util.regex.Pattern.compile(pattern)
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && rx.matcher(f.getName).find())
      .map(_.getName).sorted.toSeq
  }

  /** Partition i ← delegate(i), fixed total (reference
    * `DSetGenerics.fs:761-787`, `sourceI`).
    */
  def sourceI[U: Encoder: ClassTag](spark: SparkSession, numPartitions: Int)(f: Int => IterableOnce[U]): DSet[U] = {
    val rdd = spark.sparkContext
      .parallelize(0 until numPartitions, numPartitions)
      .mapPartitionsWithIndex { (pi, _) => f(pi).iterator }
    fromRDD(spark, rdd)
  }

  /** Bind to previously saved data by name (reference
    * `DSetGenerics.fs:367-378`, `loadSource`; parquet schema replaces the
    * reference's name+version metadata files).
    */
  def loadParquet[U: Encoder](spark: SparkSession, path: String): DSet[U] =
    new DSet(graftbridge.readParquet(spark, path).as[U])

  /** Untyped load for the relational path. */
  def loadParquetDF(spark: SparkSession, path: String): DSet[org.apache.spark.sql.Row] = {
    val df = graftbridge.readParquet(spark, path)
    new DSet(df)
  }

  // ---- key-value operators (reference §2.3/2.4, `DKV.fs`) ----

  /** `DKV<'K,'V>` is just `DSet<'K*'V>` with key-aware operators
    * (reference `src/CoreLib/DKV.fs:49-262`); same stance here via an
    * implicit extension over `DSet[(K, V)]`.
    */
  implicit final class KVOps[K, V](private val dset: DSet[(K, V)]) {
    private def ds: Dataset[(K, V)] = dset.ds
    private def spark: SparkSession = dset.spark

    /** The joins and key-addressed shuffles reference the pair columns as
      * `_1`/`_2`; a Dataset decoded from NAMED source columns (e.g.
      * `select(a, b).as[(K, V)]`) keeps those names, so normalize to the
      * canonical tuple schema first (no-op when already canonical).
      */
    private def tup[A, B](d: Dataset[(A, B)]): Dataset[(A, B)] = {
      val c = d.columns
      if (c.length == 2 && c(0) == "_1" && c(1) == "_2") d
      else d.toDF("_1", "_2").as(d.encoder)
    }

    /** reference `DKV.fs:172-176` (`filterByKey`). */
    def filterByKey(f: K => Boolean): DSet[(K, V)] =
      new DSet(ds.filter(kv => f(kv._1)), dset.batchHint)

    /** reference `DKV.fs:179-182` (`mapByValue`). */
    def mapByValue[V1](f: V => V1)(implicit e: Encoder[(K, V1)]): DSet[(K, V1)] =
      new DSet(ds.map(kv => (kv._1, f(kv._2))), dset.batchHint)

    /** Concurrent value map, keys untouched (reference `DKV.fs:185-198`,
      * `asyncMapByValue`/`parallelMapByValue`).
      */
    def parallelMapByValue[V1](parallelism: Int = 8)(f: V => V1)(implicit e: Encoder[(K, V1)]): DSet[(K, V1)] =
      dset.parallelMap(parallelism)(kv => (kv._1, f(kv._2)))

    /** Async-workflow alias of [[parallelMapByValue]] (reference
      * `DKV.fs:185-189`, `asyncMapByValue`).
      */
    def asyncMapByValue[V1](parallelism: Int = 8)(f: V => V1)(implicit e: Encoder[(K, V1)]): DSet[(K, V1)] =
      parallelMapByValue(parallelism)(f)

    /** 3-stage group-by-key — in Spark a declarative `groupByKey` whose
      * partial aggregation Catalyst handles (reference `DKV.fs:99-126`;
      * the reference shuffles full value lists, we get map-side combine
      * where the downstream agg permits).
      */
    def groupByKey(implicit ek: Encoder[K], ev: Encoder[(K, Seq[V])]): DSet[(K, Seq[V])] =
      new DSet(ds.groupByKey(_._1).mapGroups((k, vs) => (k, vs.map(_._2).toSeq)), dset.batchHint)

    /** [[groupByKey]] with an explicit reducer count (reference
      * `DKV.fs:99-126` exposes the partition-count variant). One shuffle
      * of the pairs to exactly `numPartitions` reducers, then grouping —
      * the partition count genuinely sizes the shuffle (a Dataset-level
      * repartition + groupByKey would re-shuffle to the session default),
      * matching the reference's contract where `numPartitions` controls
      * reducer fan-in.
      */
    def groupByKeyN(numPartitions: Int)(implicit e: Encoder[(K, Seq[V])],
        ctk: ClassTag[K], ctv: ClassTag[V]): DSet[(K, Seq[V])] =
      DSet.fromRDD(spark,
        ds.rdd.groupByKey(numPartitions).map { case (k, vs) => (k, vs.toSeq) }, dset.batchHint)

    /** Two-phase salted grouping for skewed keys: values first group under
      * (key, salt) — spreading a heavy-hitter key over `saltParts`
      * reducers — then partial groups merge per key. The standard skew
      * mitigation at 100 TB when one key would overwhelm a single reducer
      * (brief: "salting for skew"). For reduceByKey-style aggregates
      * Catalyst's partial aggregation already does this; the salted path
      * matters for full value-list grouping.
      */
    def groupByKeySalted(saltParts: Int)(implicit ek: Encoder[((K, Int), V)], eks: Encoder[(K, Int)],
        ekv: Encoder[((K, Int), Seq[V])], ek2: Encoder[K], ev: Encoder[(K, Seq[V])]): DSet[(K, Seq[V])] =
      new DSet(
        // per-ROW round-robin salt: deriving the salt from the value's
        // hash gives a constant-valued heavy hitter (millions of (k, 1)
        // counting pairs) ONE salt bucket — no spreading at all in the
        // exact scenario salting exists for
        ds.mapPartitions { it =>
          var i = 0
          it.map { kv => i += 1; ((kv._1, math.floorMod(i, saltParts)), kv._2) }
        }
          .groupByKey(_._1)
          .mapGroups((ks, vs) => (ks, vs.map(_._2).toSeq))
          .groupByKey(_._1._1)
          .mapGroups((k, groups) => (k, groups.flatMap(_._2).toSeq)), dset.batchHint)

    /** reference `DKV.fs:128-138` (`reduceByKey` via mapReduce); Spark's
      * `reduceGroups` does partial (map-side) aggregation — strictly
      * better than the reference, which groups full lists first
      * (SURVEY §2.3).
      */
    def reduceByKey(f: (V, V) => V)(implicit ek: Encoder[K], ev: Encoder[V], ekv: Encoder[(K, V)]): DSet[(K, V)] =
      new DSet(
        ds.groupByKey(_._1).mapValues(_._2).reduceGroups(f)
          .map(identity[(K, V)] _), // re-encode ReduceAggregator output as a plain pair
        dset.batchHint)

    /** Exact user-partition-function shuffle (reference `DKV.fs:54-70`,
      * `repartitionPByKey`).
      */
    def repartitionPByKey(numPartitions: Int)(partFunc: K => Int)(implicit e: Encoder[(K, V)], ct: ClassTag[(K, V)]): DSet[(K, V)] = {
      val rdd2 = ds.rdd.map(kv => (partFunc(kv._1), kv))
        .partitionBy(new BinPartitioner(numPartitions)).values
      DSet.fromRDD(spark, rdd2, dset.batchHint)
    }

    /** Hash repartition by key to n partitions (reference `DKV.fs:54-70`,
      * `repartitionNByKey`) — declarative, AQE-aware.
      */
    def repartitionNByKey(numPartitions: Int): DSet[(K, V)] =
      new DSet(tup(ds).repartition(numPartitions, org.apache.spark.sql.functions.col("_1")),
        dset.batchHint)

    /** Range-partitioned key sort — reference `binSortNByKey` with Spark's
      * sampled range partitioner supplying the bin function the reference
      * made the user write (`DKV.fs:140-169`; SortBenchmark ReadMe: "I
      * don't have code to determine partition boundary yet").
      *
      * The keyed input is bound once and persisted around partitioner
      * construction, so the range-sampling pass materializes the cache and
      * the shuffle's map stage reads it back — ONE upstream evaluation
      * instead of the two full input scans a naive `sortByKey`-style
      * formulation pays. MEMORY_AND_DISK makes the cache spill-safe at
      * scale; once the sorted output is computed the shuffle files carry
      * any re-reads, and the ContextCleaner unpersists the cache when the
      * sorted DSet is released. When the key distribution is known a
      * priori, [[binSortPByKey]] skips the sampling pass entirely.
      */
    def binSortNByKey(numPartitions: Int)(implicit ord: Ordering[K], e: Encoder[(K, V)],
        ctk: ClassTag[K], ctv: ClassTag[V]): DSet[(K, V)] = {
      val keyed = ds.rdd.map(kv => (kv._1, kv._2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val partitioner = new org.apache.spark.RangePartitioner(numPartitions, keyed)
      DSet.fromRDD(spark, keyed.repartitionAndSortWithinPartitions(partitioner), dset.batchHint)
    }

    /** Bin-partition + in-partition key sort (reference `DKV.fs:140-169`,
      * `binSortPByKey`) via Spark's spill-aware shuffle sorter.
      */
    def binSortPByKey(numPartitions: Int)(partFunc: K => Int)(implicit ord: Ordering[K], e: Encoder[(K, V)],
        ctk: ClassTag[K], ctv: ClassTag[V]): DSet[(K, V)] = {
      implicit val kOrd: Ordering[(Int, K)] = Ordering.Tuple2(Ordering.Int, ord)
      val rdd2 = ds.rdd.map(kv => ((partFunc(kv._1), kv._1), kv._2))
        .repartitionAndSortWithinPartitions(new BinPartitioner(numPartitions))
        .map { case ((_, k), v) => (k, v) }
      DSet.fromRDD(spark, rdd2, dset.batchHint)
    }

    /** Sort-merge inner equi-join (reference `DKV.fs:200-209`,
      * `innerJoinByMergeAfterBinSortByKey`). Spark-first: declared as a
      * `joinWith` so Catalyst picks SMJ (or BHJ when one side is small) —
      * the reference makes the *user* pre-binSort both sides with aligned
      * partitions; Catalyst aligns them itself.
      */
    def innerJoinByMerge[V1, V2](other: DSet[(K, V1)])(f: (V, V1) => V2)(implicit e: Encoder[(K, V2)]): DSet[(K, V2)] = {
      val l = tup(ds); val r = tup(other.ds)
      new DSet(
        l.joinWith(r, l("_1") === r("_1"), "inner")
          .map { case (a, b) => (a._1, f(a._2, b._2)) },
        DSet.tightestHint(dset.batchHint, other.batchHint))
    }

    /** reference `DKV.fs:211-220` (`leftOuterJoinByMergeAfterBinSortByKey`). */
    def leftOuterJoinByMerge[V1, V2](other: DSet[(K, V1)])(f: (V, Option[V1]) => V2)(implicit e: Encoder[(K, V2)]): DSet[(K, V2)] = {
      val l = tup(ds); val r = tup(other.ds)
      new DSet(
        l.joinWith(r, l("_1") === r("_1"), "left_outer")
          .map { case (a, b) => (a._1, f(a._2, Option(b).map(_._2))) },
        DSet.tightestHint(dset.batchHint, other.batchHint))
    }

    /** reference `DKV.fs:227-231` (`rightOuterJoinByMergeAfterBinSortByKey`). */
    def rightOuterJoinByMerge[V1, V2](other: DSet[(K, V1)])(f: (Option[V], V1) => V2)(implicit e: Encoder[(K, V2)]): DSet[(K, V2)] = {
      val l = tup(ds); val r = tup(other.ds)
      new DSet(
        l.joinWith(r, l("_1") === r("_1"), "right_outer")
          .map { case (a, b) => (b._1, f(Option(a).map(_._2), b._2)) },
        DSet.tightestHint(dset.batchHint, other.batchHint))
    }

    /** Broadcast-hash inner join — ships what the reference declared but
      * never implemented (`DKV.fs:236-258` raises
      * `NotImplementedException`; engine scaffolding at
      * `DSet.fs:2463-2519`). Catalyst's BHJ replaces the reference's
      * `ConcurrentDictionary` build side.
      */
    def innerJoinByHash[V1, V2](other: DSet[(K, V1)])(f: (V, V1) => V2)(implicit e: Encoder[(K, V2)]): DSet[(K, V2)] = {
      val l = tup(ds); val r = org.apache.spark.sql.functions.broadcast(tup(other.ds))
      new DSet(
        l.joinWith(r, l("_1") === r("_1"), "inner")
          .map { case (a, b) => (a._1, f(a._2, b._2)) },
        DSet.tightestHint(dset.batchHint, other.batchHint))
    }

    /** Semi join: keep pairs whose key appears in `other` — absent in the
      * reference, free in Spark (SURVEY §2.4 "no semi/anti joins").
      */
    def semiJoinByKey[V1](other: DSet[(K, V1)])(implicit e: Encoder[(K, V)]): DSet[(K, V)] = {
      val l = tup(ds); val r = tup(other.ds)
      // semi/anti emit only left rows — the left's hint is the bound
      new DSet(l.join(r.select(r("_1")), l("_1") === r("_1"), "left_semi").as[(K, V)],
        dset.batchHint)
    }

    /** Anti join: keep pairs whose key does NOT appear in `other`. */
    def antiJoinByKey[V1](other: DSet[(K, V1)])(implicit e: Encoder[(K, V)]): DSet[(K, V)] = {
      val l = tup(ds); val r = tup(other.ds)
      new DSet(l.join(r.select(r("_1")), l("_1") === r("_1"), "left_anti").as[(K, V)],
        dset.batchHint)
    }
  }

  // ---- cross joins (reference §2.4, non-KV) ----

  implicit final class CrossOps[U](private val dset: DSet[U]) {

    /** Cartesian product + map (reference `DSetGenerics.fs:1646-1668`,
      * `crossJoin`).
      */
    def crossJoin[U1, U2: Encoder](other: DSet[U1])(f: (U, U1) => U2)(implicit e: Encoder[(U, U1)]): DSet[U2] =
      new DSet(dset.ds.joinWith(other.ds, lit(true), "cross").map { case (a, b) => f(a, b) },
        DSet.tightestHint(dset.batchHint, other.batchHint))

    /** Cross join + option filter — theta join via arbitrary predicate
      * (reference `DSetGenerics.fs:1670-1693`, `crossJoinChoose`).
      */
    def crossJoinChoose[U1, U2: Encoder](other: DSet[U1])(f: (U, U1) => Option[U2])(implicit e: Encoder[(U, U1)]): DSet[U2] =
      new DSet(dset.ds.joinWith(other.ds, lit(true), "cross").flatMap { case (a, b) => f(a, b) },
        DSet.tightestHint(dset.batchHint, other.batchHint))

    /** Cross join + per-partition fold of the products — computes e.g.
      * k-NN against a broadcast set without materializing the product
      * (reference `DSetGenerics.fs:1695-1726`, `crossJoinFold`). The right
      * side is broadcast (the reference's `CrossJoinFrom` iterates parent1
      * against each parent0 collection).
      */
    def crossJoinFold[U1, S: Encoder](other: DSet[U1])(init: S)(folder: (S, U, U1) => S)(implicit ct1: ClassTag[U1]): DSet[S] = {
      val bc = dset.spark.sparkContext.broadcast(other.ds.collect())
      new DSet(dset.ds.mapPartitions { it =>
        val right = bc.value
        if (it.isEmpty) Iterator.empty
        else Iterator.single(it.foldLeft(init)((s, u) => right.foldLeft(s)((s2, u1) => folder(s2, u, u1))))
      }, dset.batchHint)
    }

    /** Per-left-element fold over the other side — the k-NN shape
      * (reference `crossJoinFold` applied elementwise).
      */
    def crossJoinFoldByElem[U1, S: Encoder](other: DSet[U1])(init: S)(folder: (S, U, U1) => S)(implicit ct1: ClassTag[U1]): DSet[S] = {
      val bc = dset.spark.sparkContext.broadcast(other.ds.collect())
      new DSet(dset.ds.map { u =>
        bc.value.foldLeft(init)((s, u1) => folder(s, u, u1))
      }, dset.batchHint)
    }
  }
}
