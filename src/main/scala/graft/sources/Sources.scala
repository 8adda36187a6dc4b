package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond parquet. The reference's storage layer is a
  * custom replicated byte-stream (`HDDStream`, reference
  * `src/CoreLib/storage.fs:75-89`, write path `DSet.fs:1094-1451`); here
  * every format is a Spark DataSource — splittable, predicate/projection
  * aware where the format allows, schema-carrying where it doesn't.
  */
object Sources {

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    graftbridge.readParquet(spark, path)

  /** CSV keeps a header; schema must be supplied on read (or inferred) —
    * prefer explicit schema at scale to avoid an inference pass.
    *
    * The write/read pair round-trips string data: the writer keeps
    * leading/trailing whitespace (Spark's CSV writer trims by default)
    * and the reader parses quoted embedded newlines (`multiLine`;
    * without it a quoted "line1\nline2" value splits the record and
    * PERMISSIVE mode silently yields corrupt rows). Caveat inherent to
    * CSV: an empty string comes back as null (the format cannot
    * distinguish them under a null-capable schema).
    *
    * `multiLine` makes a file non-splittable — one task per file — so
    * for newline-free corpora at scale prefer [[readCsvSplittable]].
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .schema(schema).csv(path)

  /** Splittable CSV read for values known to be newline-free: each file
    * splits into multiple tasks (the scale default when the data allows).
    */
  def readCsvSplittable(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Line-oriented text: one string column in, one line per row out —
    * the raw-corpus interchange format (requires newline-free values).
    */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** Reads lines as a single `value: string` column. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** ORC: columnar + self-describing like parquet (schema embedded,
    * predicate/projection pushdown, splittable stripes).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
