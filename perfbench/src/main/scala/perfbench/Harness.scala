package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `build` is the call into the engine: for a
  * declared query it is the query factory (timed as construction) and
  * returns the DataFrame the loop then runs through a sink; an op whose
  * call is the whole work returns null.
  */
final case class Op(name: String, phase: String, layer: String, family: String,
    build: () => DataFrame)

/** One execution of an op, with wall-clock bounds for the trace and,
  * in traced passes, the sizes of the artifact files it wrote.
  */
final case class Rec(op: Op, pass: Int, traced: Boolean, start: Long, end: Long,
    constructEnd: Long, wallS: Double, constructS: Double, query: Boolean, error: String,
    written: Seq[Long] = Nil)

/** A workload: `prepare` is its timed set-up, `pass(p)` the ops of pass
  * p (None once the workload has no more input), `verifySink` the sink
  * of the first warm-up pass, `artifactRoot` the directory its ops write
  * to (for `sources.files_written`), `passesRepeat` whether every pass
  * reads the same input, and `finish` writes what the correctness checks
  * read.
  */
trait Workload {
  def prepare(): Unit
  def pass(p: Int): Option[Seq[Op]]
  def afterPass(p: Int): Unit = ()
  def verifySink(op: Op): DataFrame => Unit = Harness.noop
  def artifactRoot: Option[Path] = None
  def passesRepeat: Boolean = true
  def finish(out: mutable.Map[String, Any]): Unit = ()
}

/** The benchmark harness: sets up one workload, runs it closed
  * loop with one client for the requested seconds and writes the raw
  * records as JSON for `run.py`.
  *
  * Usage: Harness workload data work seconds trace out
  */
object Harness {
  /** Untimed passes before the timed ones: one, the verifying pass.
    * After it the JIT is still compiling (on a 4-core host pass 2 ran
    * 20% faster than pass 1, pass 3 another 15%), but a second warm-up
    * pass does not fit the run budget, so the timed passes carry some of
    * that drift; every run times at least the same first three.
    */
  private val Warmups = 1

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    calibrate(cores)
    val calibFirst = calibrate(cores)
    val result = mutable.LinkedHashMap[String, Any]("cores" -> cores, "session_s" -> sessionS,
      "calib_first_s" -> calibFirst)

    val w: Workload = workload match {
      case "batch" => new Entries(spark, data, s"$work/verify", Entries.batch)
      case "maintain" => new Maintain(spark, data, s"$work/maintain", s"$work/verify")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result("prepare_s") = timed(w.prepare())

    // warm-up: pass 0 runs every op once through the verifying sink
    val recs = mutable.ArrayBuffer[Rec]()
    result("warmup_s") = timed {
      w.pass(0).getOrElse(Nil).foreach(op => recs += run(op, 0, traced = false, w.verifySink(op)))
      w.afterPass(0)
    }

    val traceOn = traceArg == "1"
    val trace = if (traceOn) Some(new Trace(spark)) else None
    val ledger = new Ledger(cores, w.passesRepeat)
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    var p = Warmups
    var more = true
    // at least three timed passes: a `batch` run then has 36 ops, enough
    // for a tail above the median, and a traced run has two traced passes
    // to compare counts and an untraced one to measure the overhead
    val minPasses = 3
    while (more && (System.nanoTime() < deadline || p < Warmups + minPasses)) {
      w.pass(p) match {
        case None => more = false
        case Some(ops) =>
          // in the traced run every other pass is traced; the passes
          // between them measure the tracing overhead
          val traced = traceOn && (p - Warmups) % 2 == 0
          if (traced) trace.get.attach()
          val gc0 = gcMs()
          val passRecs = ops.map { op =>
            if (!traced) run(op, p, traced, noop)
            else {
              val files0 = Artifacts.files(w.artifactRoot)
              val r = run(op, p, traced, noop)
              val files1 = Artifacts.files(w.artifactRoot)
              r.copy(written = files1.collect { case (f, n) if !files0.contains(f) => n }.toSeq)
            }
          }
          val gc = gcMs() - gc0
          if (traced) {
            trace.get.detach()
            ledger.addPass(passRecs, trace.get, gc)
          }
          w.afterPass(p)
          recs ++= passRecs
          p += 1
      }
    }
    result("calib_last_s") = calibrate(cores)
    result("ops") = recs.toSeq.map { r =>
      mutable.LinkedHashMap[String, Any]("op" -> r.op.name, "phase" -> r.op.phase,
        "layer" -> r.op.layer, "family" -> r.op.family, "pass" -> r.pass,
        "timed" -> (r.pass >= Warmups), "traced" -> r.traced, "wall_s" -> r.wallS, "construct_s" -> r.constructS,
        "error" -> r.error)
    }
    if (traceOn) {
      result("layers") = ledger.metrics(recs.toSeq.filter(_.pass >= Warmups))
      result("spans") = ledger.spans.toSeq
      result("count_mismatches") = ledger.countMismatches
    }
    result("peak_rss_mb") = peakRssMb() // before the checks in `finish`
    w.finish(result)
    Files.writeString(Paths.get(out), Json.write(result))
    spark.stop()
  }

  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(op: Op, pass: Int, traced: Boolean, sink: DataFrame => Unit): Rec = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var constructS = 0.0
    var constructEnd = start
    var error: String = null
    var query = false
    try {
      val df = op.build()
      constructS = (System.nanoTime() - t0) / 1e9
      constructEnd = System.currentTimeMillis()
      query = df != null
      if (query) sink(df)
    } catch {
      case scala.util.control.NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}"
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Rec(op, pass, traced, start, System.currentTimeMillis(), constructEnd, wall, constructS,
      query, error)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Load sentinel (the `graft.Bench` calibration): one fixed in-memory
    * sort per core, all cores in parallel. Timed before and after the
    * run, so a loaded machine shows in the result.
    */
  def calibrate(cores: Int): Double = timed {
    val workers = (1 to cores).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        val a = new Array[Long](1000000)
        var i = 0
        while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
        java.util.Arrays.sort(a)
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
  }
}

/** Files under the artifact directory of a workload, for the
  * `sources.files_written` / `sources.bytes_written` counts.
  */
object Artifacts {
  def files(root: Option[Path]): Map[String, Long] = root.filter(Files.exists(_)) match {
    case None => Map.empty
    case Some(r) =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
  }

  /** Bytes on disk under `root`, counting each hard-linked inode once. */
  def diskBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p)).toMap.values.sum
    finally s.close()
  }
}

/** Minimal JSON writer for the harness result (ASCII only). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' || c > '~' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
