package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A workload of declared `SparkEntry` queries. Each op is one entry:
  * the factory call, then a `noop` write that pulls every output column
  * through the plan (the `graft.Bench` action). The warm-up pass writes
  * each entry's output as parquet instead, for the DuckDB comparison.
  */
final class Entries(spark: SparkSession, data: String, verifyDir: String,
    entries: Seq[(String, String, String)]) extends Workload {

  private val ops = entries.map { case (name, layer, family) =>
    val factory = SparkEntry.queries(name)
    Op(name, "op", layer, family, () => factory(spark, data))
  }

  /** Entries need no artifacts: their set-up is the warm-up. */
  def prepare(): Unit = ()

  def pass(p: Int): Option[Seq[Op]] = Some(ops)

  private val inputs = mutable.LinkedHashMap[String, Seq[String]]()

  /** Writes the entry's output and records which generated tables it
    * reads (their rows are the op's input size).
    */
  override def verifySink(op: Op): DataFrame => Unit = { df =>
    inputs(op.name) = df.inputFiles.toSeq.flatMap(f => Entries.Generated.findFirstMatchIn(f))
      .map(_.group(1)).distinct.sorted
    df.write.mode("overwrite").parquet(s"$verifyDir/${op.name}")
  }

  /** Writes the oracle SQL of every op next to the verified outputs. */
  override def finish(out: mutable.Map[String, Any]): Unit = {
    val sql = ops.flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.name -> _))
    Files.createDirectories(Paths.get(verifyDir))
    Files.writeString(Paths.get(verifyDir, "oracle_sql.json"), Json.write(sql.toMap))
    out("verified") = ops.map(_.name)
    out("inputs") = inputs
  }
}

object Entries {
  /** A file of a generated input table (see gen.py's layout). */
  val Generated = "/([a-z_]+)\\.parquet/part-\\d{5}\\.parquet$".r

  /** (entry, layer, operator family) of the `batch` workload: relational
    * and DSet/DKV facade entries on the relational set, where joins,
    * aggregations and shuffle do the work, and LLM-pipeline entries on
    * the corpus, where `operators` and `functions` kernels do it.
    */
  val batch: Seq[(String, String, String)] = Seq(
    ("q3_revenue_by_segment", "queries", ""),
    ("q13_orders_per_customer", "queries", ""),
    ("qtopk_per_cust_agg", "queries", ""),
    ("fx11_salted_skew_group", "dset", ""),
    ("fx5_kv_group_reduce", "dset", ""),
    ("d14_shared_spans", "operators", "dedup"),
    ("d8_boilerplate_removal", "operators", "dedup"),
    ("ii1_inverted_search", "operators", "index"),
    ("f3_unigram_logprob", "operators", "quality"),
    ("t5_bpe_tokens", "functions", ""),
    ("t7_common_ngrams", "functions", ""),
    ("f1_pii_redact", "functions", ""))
}
