package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge

import graft.{GraftSession, Tables}
import graft.streaming.Telemetry

/** Usage example: exactly-once event dedup over a file stream.
  * Stages the events table duplicated 2× (plus a 3rd partial copy) into a
  * streaming source dir, runs `Telemetry.dedupStream`, and reports
  * input vs emitted unique counts.
  */
object StreamingDedupExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(8)

    // QueryTmp.dir registers the shutdown cleanup — a raw
    // createTempDirectory would strand ~3x the events table per run
    val dir = graft.queries.QueryTmp.dir("dedup-example")
    val raw = graftbridge.readParquet(spark, s"$sfDir/events.parquet")
    raw.write.mode("overwrite").parquet(s"$dir/in")
    raw.write.mode("append").parquet(s"$dir/in")           // full duplicate
    raw.limit(100).write.mode("append").parquet(s"$dir/in") // partial triplicate

    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw.schema).parquet(s"$dir/in"))
    val q = Telemetry.dedupStream(stream, "event_id", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("deduped")
      .start()
    try q.processAllAvailable() finally q.stop()

    val inRows = graftbridge.readParquet(spark, s"$dir/in").count()
    val outRows = spark.table("deduped").count()
    val outDistinct = spark.table("deduped").select("event_id").distinct().count()
    val srcDistinct = raw.select("event_id").distinct().count()
    println(s"[dedup-example] input=$inRows emitted=$outRows distinct_emitted=$outDistinct source_distinct=$srcDistinct")
    spark.stop()
  }
}
