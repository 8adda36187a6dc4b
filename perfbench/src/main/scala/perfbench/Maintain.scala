package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.{InvertedIndex, Similarity}
import graft.sources.{CasSnapshots, PlanCache, Snapshots}

/** The daily-batch maintenance loop over artifacts persisted in set-up.
  * The generator stages the day-zero corpus (`batches/base_*.parquet`)
  * and one file per later daily batch (`batches/<kind>/b<k>.parquet`,
  * k its seeded slot); the staged files decide the batches. A pass is
  * one batch:
  *  - ingest: append through both snapshot protocols, append to the
  *    SRP sketch, and one trigger of the long-running `IndexIngest`
  *    stream, whose micro-batch screens the batch and appends it to the
  *    scored index (`InvertedIndex.appendScored`);
  *  - query: BM25 search, the change feed of both protocols, and a
  *    plan-cache report refreshed then served;
  *  - compact: compaction and retention, every batch (K = 1), so every
  *    batch does the same work.
  */
final class Maintain(spark: SparkSession, data: String, dir: String, verifyDir: String)
    extends Workload {
  private val Dim = 64
  private val Bits = 6
  private val BatchFile = "b(\\d+)\\.parquet".r

  /** Slots of the staged daily batches, in ingest order. */
  private val slots: Seq[Int] = {
    val s = Files.list(Paths.get(data, "batches", "docs"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case BatchFile(k) => k.toInt }.toSeq.sorted
    finally s.close()
  }

  private var stream: StreamingQuery = _
  private var probes: Seq[String] = Nil
  private var docCols: Seq[String] = Nil
  /** Change-feed rows read in pass p, per protocol. */
  private val changes = mutable.Map[(String, Int), Seq[Row]]()
  private val versions = mutable.Map[(String, Int), (Int, Int)]()
  private var hits = 0
  private var misses = 0
  private var ingested = 0 // batches appended so far
  private var artifactBytes = 0L // after the last pass's compaction

  override def artifactRoot: Option[Path] = Some(Paths.get(dir, "artifacts"))
  override def passesRepeat: Boolean = false
  private def art(name: String) = s"$dir/artifacts/$name"
  private def batch(kind: String, k: Int) = s"$data/batches/$kind/b$k.parquet"
  private def staged(kind: String, k: Int) = spark.read.parquet(batch(kind, k))
  /** The day-zero corpus plus the first `n` batches. */
  private def upTo(kind: String, n: Int) = spark.read.parquet(
    s"$data/batches/base_$kind.parquet" +: slots.take(n).map(batch(kind, _)): _*)

  /** Build every artifact from the day-zero corpus and start the ingest
    * stream.
    */
  def prepare(): Unit = {
    val base = upTo("docs", 0)
    docCols = base.columns.toSeq
    Snapshots.commit(base, art("snapshots"))
    CasSnapshots.commit(base, art("cas"))
    InvertedIndex.materializeScored(base, "doc_id", "text", art("index"))
    Similarity.srpSketch(upTo("vecs", 0), "vec_id", "embedding", Dim, bits = Bits)
      .write.parquet(art("sketch"))
    probes = InvertedIndex.topTokensByDf(spark.read.parquet(art("index")), 3)

    Files.createDirectories(Paths.get(dir, "stream_src"))
    val schema = new StructType().add("doc_id", "long").add("text", "string").add("lang", "string")
    stream = graft.streaming.IndexIngest.start(
      spark.readStream.schema(schema).json(s"$dir/stream_src"),
      "doc_id", "text", art("index"), art("stream_checkpoint"))
    stream.processAllAvailable()
  }

  private def call(name: String, phase: String, layer: String, family: String)(
      body: => Unit): Op = Op(name, phase, layer, family, () => { body; null })

  def pass(p: Int): Option[Seq[Op]] = {
    if (p >= slots.size) return None
    val k = slots(p)
    def append(proto: String, latest: String => Option[Int],
        commit: (DataFrame, String) => Int): Op =
      call(s"${proto}_append", "ingest", "sources", s"${proto}_append") {
        val before = latest(art(proto)).get
        versions((proto, p)) = (before, commit(staged("docs", k), art(proto)))
      }
    def feed(proto: String, read: (Int, Int) => DataFrame): Op =
      call(s"${proto}_changes", "query", "sources", "changes") {
        val (from, to) = versions((proto, p))
        changes((proto, p)) = read(from, to).select(docCols.map(col): _*).collect().toSeq
      }
    def report(name: String): Op = Op(name, "query", "sources", "plancache", () => {
      val (df, outcome) = PlanCache.readThroughWithOutcome(
        CasSnapshots.read(spark, art("cas")).groupBy("lang").agg(count(lit(1)).as("n")),
        art("plancache"))
      if (outcome == PlanCache.Hit) hits += 1 else misses += 1
      df
    })
    val ingest = Seq(
      append("snapshots", Snapshots.latestVersion, (df, d) =>
        Snapshots.commitAppend(df, d, Some(s"b$k"))),
      append("cas", CasSnapshots.latestVersion, (df, d) =>
        CasSnapshots.commitAppend(df, d, Some(s"b$k"))),
      call("sketch_append", "ingest", "operators", "similarity") {
        Similarity.appendToSrpSketch(staged("vecs", k), "vec_id", "embedding", Dim,
          art("sketch"), bits = Bits)
      },
      call("stream_trigger", "ingest", "streaming", "") {
        Files.copy(Paths.get(data, "batches", "json", s"b$k.json"),
          Paths.get(dir, "stream_src", s"b$k.json"))
        stream.processAllAvailable()
      })
    val query = Seq(
      Op("bm25_search", "query", "operators", "index", () => {
        val (scored, stats) = InvertedIndex.attachScored(spark, art("index"), "doc_id")
        InvertedIndex.searchBm25(scored, "doc_id", probes, topK = 10, stats = Some(stats))
      }),
      feed("snapshots", (a, b) => Snapshots.readChanges(spark, art("snapshots"), a, Some(b))),
      feed("cas", (a, b) => CasSnapshots.readChanges(spark, art("cas"), a, Some(b))),
      report("report_refresh"),
      report("report_serve"))
    val compact = Seq(
      call("cas_compact", "compact", "sources", "compact") {
        CasSnapshots.compact(spark, art("cas"), 64L << 20)
        CasSnapshots.retainLast(art("cas"), 2)
        CasSnapshots.vacuum(art("cas"), graceMs = 0L): Unit
      },
      call("sketch_compact", "compact", "sources", "compact") {
        Similarity.compactSrpSketch(spark, art("sketch"))
      })
    Some(ingest ++ query ++ compact)
  }

  override def afterPass(p: Int): Unit = {
    ingested = p + 1
    artifactBytes = Artifacts.diskBytes(artifactRoot.get)
  }

  /** Each pass's change feeds against its batch file (rows as
    * multisets), the stream-maintained index and the sketch against
    * full rebuilds over the same rows; the final snapshots are written
    * out for the DuckDB comparison with the union of the ingested
    * batches.
    */
  override def finish(out: mutable.Map[String, Any]): Unit = {
    stream.stop()
    def counts(rows: Seq[Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    val feedFailures = (0 until ingested).flatMap { p =>
      val exp = counts(staged("docs", slots(p)).select(docCols.map(col): _*).collect().toSeq)
      Seq("snapshots", "cas").flatMap { proto =>
        val got = changes.get((proto, p)).map(counts)
        if (got.contains(exp)) None
        else Some(mutable.LinkedHashMap[String, Any]("pass" -> p, "op" -> s"${proto}_changes",
          "msg" -> (s"feed of batch ${slots(p)} differs from its batch file " +
            s"(${got.map(_.values.sum).getOrElse(0)} rows read, ${exp.values.sum} appended)")))
      }
    }
    val docs = upTo("docs", ingested)
    val vecs = upTo("vecs", ingested)
    def diff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count() + b.exceptAll(a).count()
    val rebuilt = InvertedIndex.buildScored(docs, "doc_id", "text")
    def pairs(sk: DataFrame) = sk.select(col("bucket"), explode(col("ids")).as("id"))
    Snapshots.read(spark, art("snapshots")).write.parquet(s"$verifyDir/snapshots_final")
    CasSnapshots.read(spark, art("cas")).write.parquet(s"$verifyDir/cas_final")
    out("maintain") = mutable.LinkedHashMap[String, Any](
      "last_slot" -> slots(ingested - 1),
      "ingested_docs" -> docs.count(),
      "ingested_vecs" -> vecs.count(),
      "artifact_bytes" -> artifactBytes,
      "feed_failures" -> feedFailures,
      "index_mismatch_rows" ->
        diff(rebuilt, spark.read.parquet(art("index")).select(rebuilt.columns.map(col): _*)),
      "sketch_mismatch_rows" -> diff(
        pairs(Similarity.srpSketch(vecs, "vec_id", "embedding", Dim, bits = Bits)),
        pairs(spark.read.parquet(art("sketch")))),
      "plancache_hits" -> hits,
      "plancache_misses" -> misses)
  }
}
