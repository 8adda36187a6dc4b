package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression converters — the standard
  * pattern for Spark extension libraries shipping custom Catalyst
  * expressions (Spark 4 wraps Column around ColumnNode, so `new
  * Column(expr)` / `col.expr` are no longer public).
  */
object graftbridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `spark.read.parquet(paths: _*)` without its schema-inference job:
    * the schema comes from the one footer that inference would read,
    * read on the driver ([[execution.datasources.parquet.graftparquet.footerSchema]]),
    * and is handed to the reader, so opening the files runs no Spark job.
    * Schema, rows and partition columns equal the plain read's. Where
    * only inference gives Spark's own result (merged schemas, a missing
    * path, an empty or partitioned directory, …) this IS the plain read.
    * Every parquet read of the engine goes through here.
    */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    execution.datasources.parquet.graftparquet.footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** `readParquet(spark, paths: _*).schema` without building the reader:
    * the footer read alone, which never lists or stats the other paths.
    */
  def parquetSchema(spark: SparkSession, paths: String*): types.StructType =
    execution.datasources.parquet.graftparquet.footerSchema(spark, paths)
      .map(_.asNullable) // as the reader does with any data schema
      .getOrElse(spark.read.parquet(paths: _*).schema)

  /** `a` and `b` are the same type up to nullability, at any depth. */
  def sameTypeIgnoringNullability(a: types.DataType, b: types.DataType): Boolean =
    types.DataType.equalsIgnoreNullability(a, b)

  /** Register a custom expression as a SQL-callable temp function on an
    * existing session (`sessionState` is private[sql]).
    */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Unpersist every persisted RDD reachable from `df`'s analyzed plan —
    * the `LogicalRDD` leaves that `localCheckpoint()` produces, plus any
    * persisted ancestor in their lineage (a checkpoint wrapped by a later
    * `mapPartitions` is a plan-invisible parent). Returns the number
    * released. After release the DataFrame can no longer be recomputed —
    * its lineage was truncated at the checkpoint — so call this only once
    * the result has been fully consumed (written out or collected).
    * Long-lived sessions use this to stop repeated pipeline invocations
    * from accumulating executor storage.
    */
  def releaseCheckpoints(df: Dataset[_]): Int = {
    val roots = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collect {
      case l: execution.LogicalRDD => l.rdd
    }
    val seen = scala.collection.mutable.Set.empty[Int]
    var released = 0
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) {
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
          r.unpersist(blocking = false)
          released += 1
        }
        r.dependencies.foreach(d => walk(d.rdd))
      }
    roots.foreach(walk)
    released
  }

  /** Bounded top-k collect as a Catalyst-native aggregate: keeps the
    * `num` SMALLEST values of `sortKey` (struct keys compare field by
    * field) and evaluates to an array sorted ascending — Spark's own
    * `CollectTopK` (the pandas-on-Spark `nsmallest` machinery, a
    * `TypedImperativeAggregate` over a bounded priority queue, so
    * partial aggregation trims to k BEFORE the shuffle exactly like the
    * typed `TopKAgg` it replaces). Unlike a typed
    * `groupByKey.mapValues.agg(Aggregator)` pipeline there is no
    * object-serialization boundary on the input rows: no
    * DeserializeToObject/AppendColumns/SerializeFromObject plan nodes,
    * no per-row encoder round trip — input rows stay Tungsten rows and
    * only the ≤ k buffer entries are copied (guide: eliminate
    * non-codegen closures on the hot path).
    *
    * Ordering note: doubles compare by Spark's SQL ordering — NaN
    * greatest, but -0.0 and 0.0 compare EQUAL (`SQLOrderingUtil
    * .compareDoubles`), so the next struct field breaks their tie. That
    * matches DuckDB's ORDER BY and differs from the Scala
    * `Ordering.Double.TotalOrdering` of the typed `TopKAgg` (-0.0 < 0.0)
    * only on signed-zero ties; ScaleOpsSpec pins the signed-zero and
    * NaN cases.
    *
    * Null keys fail the job loudly, naming the field: the struct
    * ordering would rank a null field FIRST, so a null key would
    * silently take a top-k slot (the typed `TopKAgg` threw instead).
    */
  def collectTopK(sortKey: Column, num: Int): Column =
    column(new catalyst.expressions.aggregate.CollectTopK(
      NonNullSortKey(expression(sortKey), sortKey.toString), num, true, 0, 0)
      .toAggregateExpression())

  /** Passes `child` through, throwing on a null key or a null top-level
    * struct field. Interpreted only: `CollectTopK.update` evaluates its
    * child interpreted anyway, so there is no codegen to lose.
    */
  private case class NonNullSortKey(child: catalyst.expressions.Expression, keyDesc: String)
      extends catalyst.expressions.UnaryExpression
      with catalyst.expressions.codegen.CodegenFallback {
    override def dataType: types.DataType = child.dataType
    override def nullable: Boolean = false

    override def eval(input: catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) throw new IllegalArgumentException(s"collectTopK: null sort key $keyDesc")
      child.dataType match {
        case st: types.StructType =>
          val row = v.asInstanceOf[catalyst.InternalRow]
          var i = 0
          while (i < st.length) {
            if (row.isNullAt(i)) throw new IllegalArgumentException(
              s"collectTopK: null in sort-key field '${st(i).name}' of $keyDesc " +
                "(a null would silently rank first and take a top-k slot)")
            i += 1
          }
        case _ =>
      }
      v
    }

    override protected def withNewChildInternal(
        newChild: catalyst.expressions.Expression): NonNullSortKey = copy(child = newChild)
  }
}
