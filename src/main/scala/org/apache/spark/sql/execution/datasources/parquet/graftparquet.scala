package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the `private[parquet]` footer readers, the same pattern
  * as [[org.apache.spark.sql.graftbridge]] for `private[sql]`.
  */
object graftparquet {

  /** The schema Spark's NON-merging parquet inference derives for
    * `paths`, resolved on the driver from the one footer that inference
    * would read, or None where only Spark's own inference gives Spark's
    * own answer (or error).
    *
    * Spark's inference (`ParquetUtils.inferSchema` with `mergeSchema`
    * off) sorts the leaf files by path and reads ONE footer: a
    * `_common_metadata` summary, else `_metadata`, else the first data
    * file; it does so in a one-task job. Here the same file is chosen
    * and read through the same `readParquetFootersInParallel` +
    * `readSchema` pair, which apply the same five session-conf converter
    * flags and prefer Spark's row metadata the same way.
    *
    * Metadata cost: a single directory path is one non-recursive
    * listing; a single file, or an explicit list of paths, is one stat
    * of the lexicographically first path (a listed path's leaves sort
    * after the path itself, so the first root, when a file, is the first
    * leaf). None, so the caller falls back to inference, when:
    *  - `spark.sql.parquet.mergeSchema` or `ignoreCorruptFiles` is set;
    *  - a path is a glob, or a listed name is hidden or a summary file;
    *  - the first root of several is a directory;
    *  - a directory holds a visible subdirectory (Hive partitions) or no
    *    visible file (empty);
    *  - the stat, listing or footer read throws (a missing path, a
    *    corrupt footer).
    * A summary file inside a directory that is a LATER root of an
    * explicit list is not seen; graft's writers emit no summary files.
    */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (paths.isEmpty || state.conf.isParquetSchemaMergingEnabled ||
        state.conf.ignoreCorruptFiles || paths.exists(hasGlob)) None
    else {
      val conf = state.newHadoopConf()
      try footerFile(paths, conf).flatMap { st =>
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(st), ignoreCorruptFiles = false),
          spark)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  private def hasGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE

  private def isData(name: String): Boolean =
    !HadoopFSUtils.shouldFilterOutPathName(name) && !isSummary(name)

  /** The one file inference would read a footer from (see [[footerSchema]]). */
  private def footerFile(paths: Seq[String], conf: Configuration): Option[FileStatus] = {
    val roots = paths.map(new Path(_))
    if (roots.exists(r => !isData(r.getName))) return None
    val (fs, first) = roots.map { r =>
      val fs = r.getFileSystem(conf)
      (fs, fs.makeQualified(r))
    }.minBy(_._2.toString)
    val st = fs.getFileStatus(first)
    if (st.isFile) Some(st)
    else if (roots.length > 1) None
    else {
      val visible = fs.listStatus(first).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      if (visible.exists(_.isDirectory)) None
      else {
        def named(n: String) = visible.find(_.getPath.getName == n)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(visible.filter(c => isData(c.getPath.getName)).minByOption(_.getPath.toString))
      }
    }
  }
}
