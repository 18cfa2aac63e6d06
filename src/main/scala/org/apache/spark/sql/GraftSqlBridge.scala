package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` access bridge for out-of-tree plan nodes (the
  * standard pattern for Spark extensions that materialize a DataFrame from a
  * custom `LogicalPlan`): `Dataset.ofRows` is package-private, so the one
  * call lives in this package. Nothing else from the internal surface leaks.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` (`private[spark]`): every field, nested
    * ones included, made nullable — the schema Spark gives every
    * file-source relation. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Re-tag a batch DataFrame as STREAMING — what a V1
    * `execution.streaming.Source.getBatch` must return (the engine
    * asserts `isStreaming`). The relation nodes flip their flag exactly
    * the way FileStreamSource builds its own batches
    * (`LogicalRelation(..., isStreaming = true)`); empty batches become
    * an empty streaming LogicalRDD. */
  def asStreaming(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(spark, plan)
  }

  /** Rebind a micro-batch's rows as a PLAIN BATCH DataFrame — what a V1
    * `Sink.addBatch` must do before handing the data to a batch writer:
    * the incoming DataFrame's plan is streaming-tagged, so a direct
    * `.write` would be refused ("streaming sources must be executed with
    * writeStream"). Binding `queryExecution.toRdd` into a fresh batch
    * LogicalRDD reuses the already-planned physical query without
    * re-planning it (the DeltaSink/FileStreamSink pattern). */
  def asBatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Inverse of [[asStreaming]] — flips relation nodes back to batch so
    * a TEST driving a V1 `Source.getBatch` directly can collect the
    * result (outside the engine, a fresh QueryExecution runs the batch
    * UnsupportedOperationChecker, which refuses streaming-tagged
    * relations). Production code never needs this: inside `addBatch` the
    * engine hands an IncrementalExecution-planned frame. */
  def unStream(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = false)
    }
    classic.Dataset.ofRows(cs, plan)
  }

  /** A zero-row streaming DataFrame of `schema` — the empty micro-batch
    * a V1 source returns when a version carries no adds. */
  def emptyStreaming(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val cs = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(cs, LogicalRDD(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      isStreaming = true)(cs))
  }

  /** V2-expression constructors for TESTS of the DELETE translator
    * (`graft.sources.v2.V2PredicateSql`): `FieldReference`/`LiteralValue`
    * companions are `private[sql]` in this build, so the two factory
    * calls live here. The engine constructs the real ones. */
  def v2Column(name: String): connector.expressions.NamedReference =
    connector.expressions.FieldReference.column(name)
  def v2NestedColumn(parts: Seq[String]): connector.expressions.NamedReference =
    connector.expressions.FieldReference(parts)
  def v2Literal(value: Any, dt: org.apache.spark.sql.types.DataType)
      : connector.expressions.Literal[_] =
    connector.expressions.LiteralValue(value, dt)

  /** A cloned session — same SparkContext, COPIED session state — with
    * one conf key overridden. Scopes a conf-gated reader behavior (e.g.
    * `spark.sql.parquet.fieldId.read.enabled`, which the parquet scan
    * consults from the RELATION's own session at execution) to exactly
    * the DataFrames built through the clone: the caller's session conf
    * is never mutated, so unrelated later reads cannot silently change
    * resolution mode (ADVICE r13). `cloneSession` is `private[sql]`,
    * hence the bridge placement. */
  def sessionWithConf(spark: SparkSession, key: String,
                      value: String): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    c.conf.set(key, value)
    c
  }

  /** Catalyst→V2 predicate translation — Spark's OWN translator (the one
    * DSv2 pushdown trusts), `private[sql]` in this build, re-exported for
    * the closed-world UPDATE/MERGE condition path. */
  def translateFilterV2(e: catalyst.expressions.Expression)
      : Option[connector.expressions.filter.Predicate] =
    execution.datasources.v2.DataSourceV2Strategy.translateFilterV2(e)

  /** Catalyst→V2 SCALAR translation (the same `V2ExpressionBuilder` the
    * pushdown machinery uses), re-exported for the UPDATE SET renderer —
    * one translator for predicates and values, not two drifting ones. */
  def translateExpressionV2(e: catalyst.expressions.Expression)
      : Option[connector.expressions.Expression] =
    new catalyst.util.V2ExpressionBuilder(e).build()
}
