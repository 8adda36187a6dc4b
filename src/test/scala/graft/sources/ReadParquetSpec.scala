package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, graftbridge}
import org.apache.spark.sql.execution.datasources.parquet.graftparquet
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.operators.{InvertedIndex, Sharding, Similarity, SketchArtifact}

/** `graftbridge.readParquet` opens parquet with the schema of the one
  * footer Spark's inference would read, on the driver: same schema and
  * rows as `spark.read.parquet`, no Spark job; Spark's own inference
  * (and its errors) wherever only inference gives them.
  */
class ReadParquetSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(tag: String): String = Files.createTempDirectory(s"graft-$tag").toString

  /** `df` equals the plain inferred read of the files it scans. */
  private def assertSameAsSpark(df: DataFrame): Unit = {
    val plain = spark.read.parquet(df.inputFiles: _*)
    assert(df.schema == plain.schema)
    assert(df.count() == plain.count())
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  /** The helper takes the footer path for `paths`, and matches Spark. */
  private def assertFooterRead(paths: String*): Unit = {
    assert(graftparquet.footerSchema(spark, paths).isDefined, s"fell back on $paths")
    val ours = graftbridge.readParquet(spark, paths: _*)
    val plain = spark.read.parquet(paths: _*)
    assert(ours.schema == plain.schema)
    assert(graftbridge.parquetSchema(spark, paths: _*) == plain.schema)
    assert(ours.count() == plain.count())
    assert(ours.exceptAll(plain).isEmpty && plain.exceptAll(ours).isEmpty)
  }

  /** Spark jobs started while `body` runs (listener-bus order: every job
    * of `body` is delivered before the fence job's end).
    */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val fenceId = new AtomicInteger(-1)
    val fenceDone = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("rp-probe") => started.incrementAndGet()
          case Some("rp-fence") => fenceId.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId.get) fenceDone.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("rp-probe", "probe")
      body
      sc.setJobGroup("rp-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenceDone.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def mock3aDir(tag: String): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[RenameByCopyMockFs].getName)
    ArtifactIo.addExtraScheme(hc, ArtifactIo.RenameByCopyExtraSchemesKey, "mock3a")
    "mock3a:" + tmpDir(tag)
  }

  test("the sf0.01 fixture tables read with Spark's schema and rows; TIMESTAMP(NANOS) " +
      "reads as long under nanosAsLong") {
    Tables.names.foreach(n => assertFooterRead(s"$sf001/$n.parquet"))
    // the fixtures' events.ts is µs; a TIMESTAMP(NANOS) column (earlier
    // fixture generations shipped one) reads only under nanosAsLong
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val file = tmpDir("rp-nanos") + "/events.parquet"
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assertFooterRead(file)
    assert(graftbridge.readParquet(spark, file).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("snapshot versions, change feeds, plan-cache entries, the scored index and an SRP " +
      "sketch read as Spark reads them") {
    val table = tmpDir("rp-snap") + "/t"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "s"), table)
    Snapshots.commitAppend(Seq((4L, "d"), (5L, "e")).toDF("id", "s"), table)
    assertSameAsSpark(Snapshots.read(spark, table))
    assertSameAsSpark(Snapshots.read(spark, table, Some(2)))
    assert(Snapshots.readChanges(spark, table, 1).as[(Long, String)].collect().toSet ==
      Set((3L, "c"), (4L, "d"), (5L, "e")))
    assertSameAsSpark(Snapshots.readChanges(spark, table, 1))

    val agg = Tables.load(spark, sf0001, "orders").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    for (cacheDir <- Seq(tmpDir("rp-pc"), mock3aDir("rp-pc-os"))) {
      PlanCache.readThrough(agg, cacheDir): Unit
      val (hit, outcome) = PlanCache.readThroughWithOutcome(agg, cacheDir)
      assert(outcome == PlanCache.Hit)
      assertSameAsSpark(hit)
    }
    // the reader's explicit schema leaves the plan key alone: entries
    // published before this reader still hit
    val plainAgg = spark.read.parquet(s"$sf0001/orders.parquet").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    assert(PlanCache.fingerprint(agg) == PlanCache.fingerprint(plainAgg))

    val docs = Tables.load(spark, sf0001, "documents")
    val idx = tmpDir("rp-idx") + "/scored"
    InvertedIndex.materializeScored(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    InvertedIndex.appendScored(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
    assertFooterRead(idx)
    assertSameAsSpark(InvertedIndex.attachScored(spark, idx, "doc_id")._1)

    val emb = Tables.load(spark, sf0001, "embeddings")
    val sketch = tmpDir("rp-srp") + "/srp"
    Similarity.srpSketch(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 64, 4)
      .write.parquet(sketch)
    Similarity.appendToSrpSketch(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
      64, sketch, 4)
    assertFooterRead(sketch)
  }

  test("fallbacks raise Spark's own errors: a missing path, an empty directory") {
    val missing = tmpDir("rp-missing") + "/never-written"
    assert(graftparquet.footerSchema(spark, Seq(missing)).isEmpty)
    val e = intercept[AnalysisException](graftbridge.readParquet(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND")
    // a missing LATER path of an explicit list: the footer comes from the
    // first, and Spark's existence check still names the missing one
    val file = graftbridge.readParquet(spark, s"$sf0001/region.parquet").inputFiles.head
    val e2 = intercept[AnalysisException](graftbridge.readParquet(spark, file, missing))
    assert(e2.getCondition == "PATH_NOT_FOUND")
    var attempts = 0
    intercept[AnalysisException] {
      SketchArtifact.screenRetrying(retryDelayMs = 1L) {
        attempts += 1
        graftbridge.readParquet(spark, missing).count()
      }
    }
    assert(attempts == 2, "screenRetrying must still read PATH_NOT_FOUND as transient")

    val empty = tmpDir("rp-empty")
    assert(graftparquet.footerSchema(spark, Seq(empty)).isEmpty)
    val plain = intercept[AnalysisException](spark.read.parquet(empty))
    val ours = intercept[AnalysisException](graftbridge.readParquet(spark, empty))
    assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getCondition == plain.getCondition)
  }

  test("a partitioned directory keeps its partition column; mergeSchema still merges") {
    val sharded = tmpDir("rp-shard") + "/s"
    Sharding.writeShards(Tables.load(spark, sf0001, "documents").select("doc_id", "lang"),
      "doc_id", 3, sharded)
    assert(graftparquet.footerSchema(spark, Seq(sharded)).isEmpty)
    val ours = graftbridge.readParquet(spark, sharded)
    val plain = spark.read.parquet(sharded)
    assert(ours.columns.contains("shard") && ours.schema == plain.schema)
    assert(ours.exceptAll(plain).isEmpty && plain.exceptAll(ours).isEmpty)

    val dir = tmpDir("rp-merge")
    Seq(1L).toDF("x").write.parquet(s"$dir/a")
    Seq((2L, "y")).toDF("x", "y").write.parquet(s"$dir/b")
    val files = Seq(s"$dir/a", s"$dir/b").flatMap(d =>
      new java.io.File(d).list().filter(_.endsWith(".parquet")).map(f => s"$d/$f"))
    assert(graftbridge.readParquet(spark, files: _*).columns.toSeq == Seq("x"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(graftparquet.footerSchema(spark, files).isEmpty)
      assert(graftbridge.readParquet(spark, files: _*).columns.toSet == Set("x", "y"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(graftparquet.footerSchema(spark, files).isEmpty)
    finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }

  test("opening a snapshot, a change feed, a plan-cache hit, a scored index and a fixture " +
      "table runs no Spark job") {
    val table = tmpDir("rp-jobs") + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), table)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "s"), table)
    assert(jobsDuring(Snapshots.read(spark, table)) == 0)
    assert(jobsDuring(Snapshots.readChanges(spark, table, 1)) == 0)

    val cacheDir = tmpDir("rp-jobs-pc")
    val agg = Tables.load(spark, sf0001, "orders").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    PlanCache.readThrough(agg, cacheDir): Unit
    assert(jobsDuring(assert(PlanCache.readThroughWithOutcome(agg, cacheDir)._2 ==
      PlanCache.Hit)) == 0)

    val idx = tmpDir("rp-jobs-idx") + "/scored"
    InvertedIndex.materializeScored(Tables.load(spark, sf0001, "documents"), "doc_id", "text",
      idx): Unit
    assert(jobsDuring(InvertedIndex.attachScored(spark, idx, "doc_id")) == 0)
    assert(jobsDuring(Tables.load(spark, sf001, "lineitem")) == 0)
    // the probe counts: the plain inferred read is one job
    assert(jobsDuring(spark.read.parquet(s"$sf001/lineitem.parquet")) == 1)
  }

  test("src/main opens parquet only through graftbridge.readParquet") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val readSite = """read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r
    val stream = Files.walk(root)
    val offenders =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "graftbridge.scala")
          .filter(p => readSite.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
          .map(root.relativize(_).toString).toSeq.sorted
      } finally stream.close()
    assert(offenders.isEmpty, s"plain parquet reads (each pays a schema-inference job; use " +
      s"graftbridge.readParquet): ${offenders.mkString(", ")}")
  }
}
