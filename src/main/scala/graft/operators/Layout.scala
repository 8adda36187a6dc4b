package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.functions._

import graft.functions.ZOrderFunctions.zValueN

/** Multi-column data-skipping layout: Z-order the corpus before writing
  * so per-file AND per-row-group min-max statistics stay tight on BOTH
  * clustering columns (the lakehouse "OPTIMIZE ZORDER" capability,
  * re-expressed Spark-first).
  *
  * Why this matters at 100 TB: a reader filtering `WHERE a BETWEEN ...`
  * skips parquet row groups via their stats even in plain Spark
  * (predicate pushdown consults row-group min/max), and stats-aware
  * table formats skip whole FILES the same way. Sorting by `a` alone
  * makes every file carry `b`'s full range — filters on `b` skip
  * nothing. The Z-curve bounds both envelopes at once.
  *
  * Scale shape: one narrow scan computes the z value (codegen'd
  * [[graft.functions.ZValue]]), ONE range shuffle on z (sampled
  * boundaries — the same machinery as binSortNByKey) both sizes the
  * output files and clusters the curve, and the per-partition sort rides
  * the shuffle's spill-aware sorter. No driver collects; file count =
  * `numFiles` regardless of input task count.
  */
object Layout {

  /** Z-ordered copy of `df` under `path`: `numFiles` parquet files, each
    * covering a contiguous z-range, rows z-sorted inside each file (so
    * row-group stats are tight too). Coordinates must already sit in
    * `[0, 2^bits)` — quantize wider domains first (see [[zorderedBy]]).
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, bits: Int,
      numFiles: Int, path: String): Unit =
    zorderWriteN(df, Seq(colA, colB), bits, numFiles, path)

  /** k-column form — the `OPTIMIZE ZORDER BY a, b, c` surface. Bit i of
    * column j lands at curve position i*k + j; `k * bits <= 63`.
    */
  def zorderWriteN(df: DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int, path: String): Unit = {
    require(numFiles > 0, s"zorderWrite: numFiles must be positive, got $numFiles")
    zorderedByN(df, cols.map(col), bits, numFiles)
      .write.mode("overwrite").parquet(path)
  }

  /** The clustering plan itself (exposed for layouts beyond parquet):
    * z value → range-repartition on z → in-partition z sort → z dropped.
    * Pass quantized coordinate Columns for wider domains, e.g.
    * `zorderedBy(df, hashBucket(col("id"), 1 << 20), col("n_chars"), 20, n)`.
    */
  def zorderedBy(df: DataFrame, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int, numFiles: Int): DataFrame =
    zorderedByN(df, Seq(a, b), bits, numFiles)

  /** k-column clustering plan — see [[zorderedBy]]. */
  def zorderedByN(df: DataFrame, coords: Seq[org.apache.spark.sql.Column],
      bits: Int, numFiles: Int): DataFrame =
    df.withColumn("__z", zValueN(coords, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  /** Per-file min-max envelope of `cols` under `path` — the data-skipping
    * audit: `sum(max - min)` per column across files is the stats
    * tightness a skipping reader exploits (LayoutSpec compares the
    * z-ordered envelope against a single-column sort's).
    */
  def fileEnvelopes(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val withFile = graftbridge.readParquet(spark, path)
      .withColumn("__file", input_file_name())
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    withFile.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
  }
}
