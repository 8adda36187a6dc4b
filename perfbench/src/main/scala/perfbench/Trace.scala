package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports about the work inside one time window. */
final case class Window(jobs: Int, stages: Int, tasks: Int, inJobMs: Long, sparkMs: Long,
    planMs: Long, taskRunMs: Long, taskCpuNs: Long, taskGcMs: Long, inputBytes: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long, taskFailures: Int,
    triggers: Int, streamMs: Map[String, Long])

/** The traced run's listeners: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (Catalyst phase times from
  * `QueryExecution.tracker`) and a StreamingQueryListener (per-trigger
  * `durationMs`). Events are kept in memory with their wall-clock
  * times and attributed to the benchmark's spans by time window.
  * Listeners are attached only for traced passes.
  */
final class Trace(spark: SparkSession) {
  private final case class Task(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shw: Long, shr: Long, spill: Long, failed: Boolean)
  private final case class Progress(ts: Long, durations: Map[String, Long])

  private val jobs = new ConcurrentHashMap[Int, Array[Long]]() // id -> [start, end]
  private val stageEnds = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Array(e.time, Long.MaxValue))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageEnds.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = !e.taskInfo.successful
      if (m == null) tasks.add(Task(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, 0, failed))
      else tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled, failed))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => plans.add((p.startTimeMs, p.endTimeMs)))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Progress(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Length of the union of `spans` clipped to [a, b]. */
  private def unionMs(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var covered = 0L
    var reach = a
    spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }

  def window(a: Long, b: Long): Window = {
    val js = jobs.values.asScala.toSeq.filter(j => j(0) >= a && j(0) <= b).map(j => (j(0), j(1)))
    val ps = plans.asScala.toSeq.filter(p => p._1 >= a && p._1 <= b)
    val ts = tasks.asScala.toSeq.filter(t => t.finish >= a && t.finish <= b)
    val pr = progress.asScala.toSeq.filter(p => p.ts >= a && p.ts <= b)
    Window(
      jobs = js.size,
      stages = stageEnds.asScala.count(t => t >= a && t <= b),
      tasks = ts.size,
      inJobMs = unionMs(js, a, b),
      sparkMs = unionMs(js ++ ps, a, b),
      planMs = ps.map(p => p._2 - p._1).sum,
      taskRunMs = ts.map(_.runMs).sum,
      taskCpuNs = ts.map(_.cpuNs).sum,
      taskGcMs = ts.map(_.gcMs).sum,
      inputBytes = ts.map(_.inBytes).sum,
      shuffleWriteBytes = ts.map(_.shw).sum,
      shuffleReadBytes = ts.map(_.shr).sum,
      spillBytes = ts.map(_.spill).sum,
      taskFailures = ts.count(_.failed),
      triggers = pr.size,
      streamMs = pr.flatMap(_.durations).groupMapReduce(_._1)(_._2)(_ + _))
  }
}
