package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]` in Spark 4's ColumnNode API, so the (two-line) bridge lives
  * in an `org.apache.spark.sql` subpackage — the standard extension-library
  * technique for exposing custom codegen'd expressions as `Column`s.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`).
    */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `AbstractDataType` is `private[sql]`; alias it so the engine's
    * expressions can declare `inputTypes` (ExpectsInputTypes) — analysis
    * then coerces/validates SQL-surface arguments instead of CCE-ing.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** DataFrame from a hand-built logical plan (for custom operators). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Clean analysis-time failure for SQL function builders (the string
    * constructor of AnalysisException is `private[sql]` in Spark 4).
    */
  def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg))

  /** (key, default) of SQLConf entries (`ConfigEntry` is `private[spark]`)
    * — lets the parquet-backed storage plane seed executor-side hadoop
    * configurations with Spark's own defaults instead of hardcoding key
    * strings that silently drift across upgrades.
    */
  def confDefault(e: Any): (String, String) = {
    val entry = e.asInstanceOf[org.apache.spark.internal.config.ConfigEntry[_]]
    (entry.key, entry.defaultValueString)
  }

  import org.apache.spark.sql.internal.SQLConf
  val parquetWriteEntries: Seq[(String, String)] = Seq(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).map(confDefault)
  val parquetRebaseWriteKeys: (String, String) = (
    SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key)
  val parquetTimestampTypeKey: String = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key

  /** Nullability-insensitive type equality (`DataType.equalsIgnoreNullability`
    * is `private[sql]`): nested write-schema types differ from the table
    * binding only by element/field nullability, which the decoded
    * parquet vectors don't care about.
    */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.types.DataType.equalsIgnoreNullability(a, b)

  /** Parquet-hadoop `FilterPredicate` for a conjunction of V2 source
    * filters against one FILE's actual parquet schema — Spark's own
    * `ParquetFilters` translator (`private[sql]`, hence bridged), which
    * validates every reference against the file schema and declines
    * anything unpushable, so the result is exactly the row-group/page
    * pruning predicate Spark's native parquet scans would build. Rebase
    * spec is CORRECTED: the engine writes TIMESTAMP_MICROS CORRECTED
    * everywhere ([[graft.sources.ParquetRows]]).
    */
  def parquetFilter(
      fileSchema: org.apache.parquet.schema.MessageType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val pf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFilters(
      fileSchema,
      /* pushDownDate = */ true, /* pushDownTimestamp = */ true,
      /* pushDownDecimal = */ true, /* pushDownStringPredicate = */ true,
      /* pushDownInFilterThreshold = */ 10, /* caseSensitive = */ false,
      org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
        org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
    filters.flatMap(f => pf.createFilter(f))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
  }
}
