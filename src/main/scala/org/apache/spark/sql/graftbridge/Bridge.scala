package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.{AbstractDataType, DataType, StructType}

/** Column <-> Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 `Column` wraps a ColumnNode rather than an Expression and the
  * conversion utilities are `private[sql]`; this object lives inside the
  * sql namespace to expose exactly the two conversions a third-party
  * expression library needs (the standard extension-library pattern).
  *
  * VERSION PIN: every entry here touches `private[sql]` / `private[spark]`
  * API that Spark may change without deprecation. Developed and tested
  * against Spark 4.1.x only (see [[TestedSparkVersion]]); on any other
  * minor line the first use fails loudly with the version mismatch
  * instead of surfacing as a subtle `MethodNotFoundError` mid-query.
  * BridgeSpec exercises every entry, so a jar upgrade breaks in `sbt
  * test`, not in production. When bumping Spark: re-run BridgeSpec,
  * re-check `ExpressionUtils.{expression,column}`, `classic.Dataset.ofRows`,
  * `classic.SparkSession#internalCreateDataFrame`,
  * `classic.Dataset#queryExecution`, `LogicalRDD.fromDataset`,
  * `SQLExecution.withNewExecutionId`, and `Observation.getOrEmpty` still
  * exist with these signatures, then update [[TestedSparkVersion]].
  */
object Bridge {

  /** The Spark minor line this bridge's private-API surface was
    * verified against. */
  val TestedSparkVersion = "4.1"

  private lazy val versionChecked: Unit = {
    val v = org.apache.spark.SPARK_VERSION
    require(v.startsWith(TestedSparkVersion + ".") || v == TestedSparkVersion,
      s"graftbridge.Bridge was verified against Spark $TestedSparkVersion.x " +
        s"but this is Spark $v — the private[sql] API it touches may have " +
        "moved. Re-run BridgeSpec against the new jars and update " +
        "Bridge.TestedSparkVersion before using native graft expressions.")
  }

  private def checked[A](a: => A): A = { versionChecked; a }
  def toExpression(c: Column): Expression = checked(ExpressionUtils.expression(c))
  def toColumn(e: Expression): Column = checked(ExpressionUtils.column(e))

  /** AbstractDataType is private[sql]; expose an input-type spec helper
    * so graft expressions can declare ExpectsInputTypes. A pure upcast
    * (DataType <: AbstractDataType), source-compatible by construction —
    * deliberately NOT routed through the version gate so it stays safe
    * to call from expression-class initializers. */
  def abstractType(dt: DataType): AbstractDataType = dt

  /** `AbstractDataType.acceptsType` is private[sql]; exposed so specs
    * outside the sql namespace can probe an input-type spec. */
  def accepts(at: AbstractDataType, dt: DataType): Boolean =
    checked(at.acceptsType(dt))

  /** Analyzed logical plan of a DataFrame (for building custom logical
    * nodes over resolved children — `queryExecution` lives on the
    * classic Dataset in Spark 4). */
  def analyzed(df: DataFrame): LogicalPlan = checked(
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed)

  /** DataFrame over a custom logical plan (`Dataset.ofRows` is
    * private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = checked(
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan))

  /** DataFrame over an RDD of Catalyst rows laid out as `schema`
    * (`SparkSession.internalCreateDataFrame` is private[sql]): a source
    * that decodes straight into internal rows skips the external-`Row`
    * encoder round trip. */
  def internalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame = checked(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema))

  /** A DataFrame over the RDD `keep` makes of `df`'s executed rows
    * (copied, so they may be kept), run as one SQL execution named
    * `name` that listeners see: 4.1's `Dataset.checkpoint` (`withAction`,
    * `LogicalRDD.fromDataset`) with `localCheckpoint()` left to `keep`. */
  def keptRows(df: DataFrame, name: String)(
      keep: RDD[InternalRow] => RDD[InternalRow]): DataFrame = checked {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      val rdd = keep(qe.toRdd.map(_.copy()))
      org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
  }

  /** Blocks until every listener event posted so far has reached its
    * listeners (`LiveListenerBus.waitUntilEmpty` is private[spark]), so
    * a tool can read what its listener saw of the actions it just ran. */
  def drainListeners(spark: SparkSession): Unit =
    checked(spark.sparkContext.listenerBus.waitUntilEmpty())

  /** Non-blocking observation read: empty map until the metrics event
    * arrives. Reads `Observation.future` (private[sql]) directly —
    * 4.1.2's own `getOrEmpty` substitutes `Row.empty` before completion
    * and then dereferences its null schema, NPEing on every
    * pre-completion read; and `getRowOrEmpty` blocks up to 100 ms. */
  def observedMetrics(obs: Observation): Map[String, Any] = checked {
    obs.future.value match {
      case Some(scala.util.Success(row)) if row.schema != null =>
        row.schema.fieldNames.zip(row.toSeq).toMap
      case _ => Map.empty
    }
  }
}
