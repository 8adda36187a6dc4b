package perfbench

import scala.collection.mutable

/** The per-layer ledger of the traced passes. Each op is a span whose
  * layer is the module the benchmark called into; construction and the
  * action are its children, and the Spark jobs and Catalyst phases the
  * listeners saw inside it are the `spark` layer. A layer's self time is
  * its spans' wall time minus the part covered by Spark work. Values
  * are per traced pass.
  */
final class Ledger(cores: Int, passesRepeat: Boolean) {
  private val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val counts = mutable.LinkedHashMap[String, mutable.Set[(Int, Int, Int)]]()
  private var passes = 0
  private var operatorCalls = 0
  val spans = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()

  private def span(name: String, start: Long, end: Long, parent: String, opId: String): Unit =
    spans += mutable.LinkedHashMap("name" -> name, "start_ms" -> start, "end_ms" -> end,
      "parent" -> parent, "op_id" -> opId)

  def addPass(recs: Seq[Rec], trace: Trace, gcMs: Long): Unit = {
    passes += 1
    if (recs.nonEmpty) span(s"pass-${recs.head.pass}", recs.head.start, recs.last.end, null, null)
    recs.foreach { r =>
      val id = s"${r.pass}/${r.op.name}"
      span(r.op.name, r.start, r.end, s"pass-${r.pass}", id)
      val w = trace.window(r.start, r.end)
      val sparkS = w.sparkMs / 1e3
      if (r.query) {
        span("construct", r.start, r.constructEnd, r.op.name, id)
        span("action", r.constructEnd, r.end, r.op.name, id)
        sums("queries.construct_s") += r.constructS
        sums("queries.construct_jobs") += trace.window(r.start, r.constructEnd).jobs
      }
      sums("pass.wall_s") += r.wallS
      sums("spark.plan_s") += w.planMs / 1e3
      sums("spark.jobs") += w.jobs
      sums("spark.stages") += w.stages
      sums("spark.tasks") += w.tasks
      sums("spark.in_job_s") += w.inJobMs / 1e3
      sums("spark.driver_gap_s") += r.wallS - w.inJobMs / 1e3
      sums("spark.task_run_s") += w.taskRunMs / 1e3
      sums("spark.task_cpu_s") += w.taskCpuNs / 1e9
      sums("spark.task_gc_s") += w.taskGcMs / 1e3
      sums("spark.input_bytes") += w.inputBytes
      sums("spark.shuffle_write_bytes") += w.shuffleWriteBytes
      sums("spark.shuffle_read_bytes") += w.shuffleReadBytes
      sums("spark.spill_bytes") += w.spillBytes
      sums("spark.task_failures") += w.taskFailures
      sums(s"self.${r.op.layer}_s") += math.max(0.0, r.wallS - sparkS)
      sums("self.spark_s") += math.min(r.wallS, sparkS)
      r.op.layer match {
        case "dset" => sums("dset.call_s") += r.wallS
        case "functions" => sums("functions.kernel_s") += r.wallS
        case "operators" =>
          sums(s"operators.${r.op.family}_s") += r.wallS
          sums("operators.jobs") += w.jobs
          operatorCalls += 1
        case "sources" => sums(s"sources.${r.op.family}_s") += r.wallS
        case _ =>
      }
      if (r.op.phase != "op") sums(s"phase.${r.op.phase}_s") += r.wallS
      sums("streaming.triggers") += w.triggers
      Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
        "walCommit" -> "wal_commit_s", "queryPlanning" -> "query_planning_s",
        "latestOffset" -> "latest_offset_s").foreach { case (k, m) =>
        sums(s"streaming.$m") += w.streamMs.getOrElse(k, 0L) / 1e3
      }
      sums("sources.files_written") += r.written.size
      sums("sources.bytes_written") += r.written.sum
      counts.getOrElseUpdate(r.op.name, mutable.Set()) += ((w.jobs, w.tasks, r.written.size))
    }
    sums("jvm.driver_gc_s") += gcMs / 1e3
  }

  /** Ops whose counts differed between traced passes, with the distinct
    * (jobs, tasks, files written) seen. When every pass reads the same
    * input all three must repeat exactly; when each pass reads new input
    * (a daily batch) the task and file counts follow its content, and
    * only the job count must repeat.
    */
  def countMismatches: Map[String, String] = counts.collect {
    case (op, seen) if (if (passesRepeat) seen.size else seen.map(_._1).size) > 1 =>
      op -> seen.toSeq.sorted.mkString(" ")
  }.toMap

  /** Per-pass means, the derived ratios, and the tracing overhead: the
    * median op wall of traced passes over that of untraced passes.
    */
  def metrics(recs: Seq[Rec]): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    Ledger.names.foreach(k => m(k) = sums(k) / n)
    m("spark.core_use") = sums("spark.task_run_s") / math.max(1e-9, sums("pass.wall_s") * cores)
    m("spark.cpu_per_run") = sums("spark.task_cpu_s") / math.max(1e-9, sums("spark.task_run_s"))
    m("operators.jobs_per_call") = sums("operators.jobs") / math.max(1, operatorCalls)
    m("trace.passes") = passes
    m("trace.count_mismatches") = countMismatches.size
    val ratios = recs.groupBy(_.op.name).values.flatMap { rs =>
      val (t, u) = rs.filter(_.error == null).partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(Ledger.median(t.map(_.wallS)) / Ledger.median(u.map(_.wallS)))
    }.toSeq
    m("trace.overhead_frac") = if (ratios.isEmpty) 0.0 else Ledger.median(ratios) - 1
    m.toMap
  }
}

object Ledger {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Every summed per-layer metric, reported on every workload. */
  val names: Seq[String] = Seq(
    "pass.wall_s", "queries.construct_s", "queries.construct_jobs", "spark.plan_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.in_job_s", "spark.driver_gap_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.task_failures", "dset.call_s", "functions.kernel_s", "operators.dedup_s",
    "operators.similarity_s", "operators.index_s", "operators.graph_s", "operators.kmeans_s",
    "operators.quality_s", "sources.snapshots_append_s", "sources.cas_append_s",
    "sources.compact_s", "sources.files_written", "sources.bytes_written",
    "streaming.triggers", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.query_planning_s", "streaming.latest_offset_s",
    "jvm.driver_gc_s", "phase.ingest_s", "phase.query_s", "phase.compact_s", "self.queries_s", "self.dset_s",
    "self.functions_s", "self.operators_s", "self.sources_s", "self.streaming_s",
    "self.spark_s")
}
