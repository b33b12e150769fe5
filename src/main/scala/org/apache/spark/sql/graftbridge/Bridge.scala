package org.apache.spark.sql.graftbridge
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard mechanism Spark extension libraries use to lift a custom
  * Catalyst Expression into the public Column API without a function
  * registry. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bloom-filter membership as a codegen'd Catalyst expression: true when
    * `value` (LongType) might be in the serialized
    * `org.apache.spark.util.sketch.BloomFilter`. This is the expression
    * Spark's own runtime row-level filtering injects; it has no public
    * Column wrapper, hence the bridge. The sketch bytes ride as a foldable
    * Literal, so the filter prunes inside whole-stage codegen with the
    * deserialized bloom shared per-task. */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    column(expressions.BloomFilterMightContain(
      expressions.Literal.create(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      expression(value)))

  /** Unpersist the checkpointed/materialized RDDs a frame scans (the
    * `LogicalRDD` leaves a `checkpoint`/`localCheckpoint` produces). Iterative
    * loops call this on round frames once nothing depends on them — waiting
    * for the ContextCleaner to GC executor-local blocks lets dead rounds
    * accumulate storage pressure for the rest of the job. Only safe when
    * every consumer of the frame has already materialized. */
  def unpersistRdds(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** A frame that scans `rdd`, the internal rows of `origin`'s plan: the
    * frame `checkpoint` builds over its checkpointed RDD, without the
    * checkpoint. */
  def overRdd(origin: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    val ds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds,
        origin.isStreaming))
  }

  /** A frame over rows already in Catalyst's internal form, as one
    * `LocalRelation` — what `createDataFrame(java.util.List[Row], schema)`
    * builds after converting every external `Row`, without that
    * conversion. */
  def localFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows))

  /** Register a function on an EXISTING session's registry (the
    * `SparkSessionExtensions` route only applies at session build time,
    * and the Verify/Bench harness does not own session construction). */
  def registerFunction(spark: SparkSession, name: String,
      info: expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
