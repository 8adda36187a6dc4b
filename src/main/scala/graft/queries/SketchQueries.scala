package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Aggregators

/** Sketch/approximation operators — the reference-absent capabilities a
  * 100 TB pipeline reaches for when exact distinct/full sorts are too
  * expensive (SURVEY §2.7 extension class, alongside windows/rollup/JSON).
  *
  * Gating pattern (the v3b precedent): approximate results cannot
  * hash-match a DuckDB oracle directly, so each query emits the EXACT
  * answer (oracle-replayable) plus a boolean contract column computed
  * Spark-side asserting the sketch landed within its error bound — a
  * sketch drifting out of bound flips the boolean and fails the hash.
  */
object SketchQueries {

  /** 4-file staging copy per data dir for the sk4 stream (sd1 pattern). */
  private val sk4Stage = scala.collection.concurrent.TrieMap.empty[String, String]

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cardinality estimation: HLL++ (`approx_count_distinct`) vs exact.
    // At scale the approx path is one narrow scan with tiny mergeable
    // sketches — no expanded (key, value) shuffle like count(DISTINCT).
    // rsd=0.02; the gate asserts the estimate within 5× rsd of exact.
    "sk1_approx_distinct" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("text")).as("exact_n"),
          approx_count_distinct(col("text"), 0.02).as("approx_n"))
        .select(col("lang"), col("exact_n"),
          (abs(col("approx_n") - col("exact_n")) <= col("exact_n") * 0.1)
            .as("approx_ok"))
    },

    // Quantile estimation: `percentile_approx` (mergeable t-digest-style
    // summary, bounded memory) vs exact interpolated `percentile` —
    // the exact quantiles are the oracle-gated answer (DuckDB
    // quantile_cont uses the same linear interpolation), the boolean
    // asserts the approximation within 2% relative error.
    "sk2_approx_quantiles" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("ex50"),
          expr("percentile(l_quantity, 0.9)").as("ex90"),
          expr("percentile(l_quantity, 0.99)").as("ex99"),
          expr("percentile_approx(l_quantity, 0.5, 10000)").as("ap50"),
          expr("percentile_approx(l_quantity, 0.9, 10000)").as("ap90"),
          expr("percentile_approx(l_quantity, 0.99, 10000)").as("ap99"))
        .select(col("l_returnflag"),
          round(col("ex50"), 4).as("q50"),
          round(col("ex90"), 4).as("q90"),
          round(col("ex99"), 4).as("q99"),
          (abs(col("ap50") - col("ex50")) <= abs(col("ex50")) * 0.02 &&
            abs(col("ap90") - col("ex90")) <= abs(col("ex90")) * 0.02 &&
            abs(col("ap99") - col("ex99")) <= abs(col("ex99")) * 0.02)
            .as("approx_ok"))
    },

    // Streaming twin of sk3: the corpus arrives as 4 micro-batches
    // (maxFilesPerTrigger=1 over a 4-file staging copy) and the
    // Misra-Gries sketches MERGE INCREMENTALLY in streaming state
    // (complete-mode agg) — the mergeable-summary property under real
    // micro-batch order. Final candidates are exactly recounted on the
    // batch corpus and the exact top-3 per lang lands under the same
    // oracle as sk3: a sketch state that dropped a true heavy hitter
    // across batch boundaries would lose a top-3 row and fail the hash.
    "sk4_heavy_hitters_stream" -> { (s, dir) =>
      val stage = sk4Stage.synchronized {
        sk4Stage.getOrElseUpdate(dir, {
          val d = QueryTmp.dir("sk4stage")
          Tables.load(s, dir, "documents").select(col("lang"), col("text"))
            .repartition(4).write.mode("overwrite").parquet(d)
          d
        })
      }
      // dedicated session for the 8-partition streaming-state sizing —
      // never mutate the shared session conf (sessions share the
      // SparkContext; conf + memory-sink catalog entry stay private)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = graftbridge.parquetSchema(ss, stage)
      val mg = udaf(new Aggregators.MisraGriesAgg(256),
        org.apache.spark.sql.Encoders.STRING)
      val toksStream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val q = toksStream.groupBy(col("lang")).agg(mg(col("token")).as("cands"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("sk4_out").start()
      try q.processAllAvailable() finally q.stop()
      val cands = ss.table("sk4_out")
        .select(col("lang"), explode(col("cands")).as("token"))
      val toks = Tables.load(ss, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val exact = toks.join(broadcast(cands), Seq("lang", "token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token").asc)
      exact.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("token"), col("n"))
    },

    // Heavy hitters, candidate-then-verify: a Misra-Gries sketch (≤ k
    // counters per group, map-side combined — the shuffle carries
    // sketches, never (lang, token) pairs) proposes candidates; only
    // candidates are exactly recounted (broadcast semi-filter), and the
    // exact top-3 per lang lands under the driver hash. MG guarantees
    // every token with frequency > N/(k+1) is a candidate, so the true
    // top-3 cannot be missed at k=256 on this corpus. At 100 TB this
    // replaces the full (group, token) aggregation a naive top-k pays
    // with a bounded sketch pass + a recount of ≤ k·groups tokens.
    "sk3_heavy_hitters" -> { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val mg = udaf(new Aggregators.MisraGriesAgg(256),
        org.apache.spark.sql.Encoders.STRING)
      val cands = toks.groupBy(col("lang")).agg(mg(col("token")).as("cands"))
        .select(col("lang"), explode(col("cands")).as("token"))
      val exact = toks.join(broadcast(cands), Seq("lang", "token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token").asc)
      exact.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("token"), col("n"))
    }
  )

  val oracles: Map[String, String] = Map(
    "sk4_heavy_hitters_stream" ->
      """WITH toks AS (
           SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
         counts AS (
           SELECT lang, token, count(*)::BIGINT AS n FROM toks
           WHERE token <> '' GROUP BY lang, token),
         ranked AS (
           SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rn
           FROM counts)
         SELECT lang, token, n FROM ranked WHERE rn <= 3""",
    "sk1_approx_distinct" ->
      """SELECT lang, count(DISTINCT text)::BIGINT AS exact_n, true AS approx_ok
         FROM documents GROUP BY lang""",
    "sk2_approx_quantiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS q50,
           round(quantile_cont(l_quantity, 0.9), 4) AS q90,
           round(quantile_cont(l_quantity, 0.99), 4) AS q99,
           true AS approx_ok
         FROM lineitem GROUP BY l_returnflag""",
    "sk3_heavy_hitters" ->
      """WITH toks AS (
           SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
         counts AS (
           SELECT lang, token, count(*)::BIGINT AS n FROM toks
           WHERE token <> '' GROUP BY lang, token),
         ranked AS (
           SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rn
           FROM counts)
         SELECT lang, token, n FROM ranked WHERE rn <= 3"""
  )
}
