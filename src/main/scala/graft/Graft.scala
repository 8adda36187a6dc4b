package graft

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}

/** Session bootstrap for the graft engine.
  *
  * Mirrors the reference's cluster bootstrap (`Cluster("local[2]")`,
  * reference `src/CoreLib/cluster.fs:843-888`) as a `SparkSession` builder
  * with scale-appropriate defaults: AQE on (runtime re-planning, skew-join
  * handling), shuffle partitions sized for the local core count rather than
  * the 200 default, UTC session time zone for oracle parity.
  */
object GraftSession {
  def builder(master: String = "local[32]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as long and convert in Tables.load (micros, floored —
      // matching DuckDB's ns→µs truncation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 32): SparkSession = {
    val spark = builder(s"local[$cores]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Stands in for the reference's dataset catalog — `(name, version)`
  * metadata binding via `DSet.loadSource()` (reference
  * `src/CoreLib/DSetGenerics.fs:367-378`) — with parquet's self-describing
  * schema replacing the metadata files. Like `loadSource`, binding the
  * shape is metadata only: [[load]] reads the file's footer on the
  * driver ([[org.apache.spark.sql.graftbridge.readParquet]]) and runs no
  * Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(graftbridge.readParquet(spark, s"$dir/$name.parquet"))

  /** Normalize the `ts` column to a session-zoned TIMESTAMP regardless of
    * how the driver encoded it on disk. Type-driven, so it works on every
    * encoding the testdata has shipped with (and on streaming frames):
    *  - TIMESTAMP(NANOS) arrives as long under nanosAsLong → integer-divide
    *    to µs (a double would lose precision beyond 2^53 ns) and convert;
    *  - timestamp[us] without a zone arrives as TIMESTAMP_NTZ → cast under
    *    the UTC session, matching the DuckDB oracle's reading;
    *  - already-zoned TIMESTAMP passes through untouched.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == LongType =>
        acc.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (acc, f) if f.name == "ts" && f.dataType == TimestampNTZType =>
        acc.withColumn("ts", col("ts").cast(TimestampType))
      case (acc, _) => acc
    }
  }

  /** Register every table as a temp view so `spark.sql` matches the
    * DuckDB oracle's table naming.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
