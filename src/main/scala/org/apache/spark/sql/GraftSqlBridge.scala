package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into the `private[sql]` Column <-> Expression
  * conversions, so graft's native Catalyst expressions (e.g.
  * `graft.expressions.CosineSimilarity`) can be exposed as plain
  * `Column`s without registering SQL functions. Same technique Spark's
  * own connector modules use (they live under `org.apache.spark.sql.*`
  * for exactly this reason).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a custom (already-resolved) logical plan — the
    * `private[sql]` Dataset.ofRows, used to surface graft's native plan
    * nodes (e.g. [[graft.plans.AsOfJoin]]) through the Dataset API. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of InternalRows — the `private[sql]`
    * LogicalRDD path `internalCreateDataFrame` wraps. Lets operators
    * that compute rows at the RDD layer (e.g.
    * [[graft.operators.DenseIds]]'s zipWithIndex id assignment) stay in
    * Tungsten format instead of round-tripping every row through the
    * external `Row` codec. The rows must follow the usual InternalRow
    * RDD contract (objects may be reused per partition; consumers that
    * buffer must copy — every built-in operator does). */
  def internalDataFrame(spark: SparkSession,
                        schema: org.apache.spark.sql.types.StructType,
                        rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(rdd, schema)
  }

  /** A user-facing analysis error (the public AnalysisException
    * constructors are error-class-keyed; INTERNAL_ERROR carries a plain
    * message through). */
  def analysisException(msg: String): AnalysisException =
    new AnalysisException("INTERNAL_ERROR", Map("message" -> msg))

  /** True when `df`'s persist entry has MATERIALIZED column buffers —
    * not merely a registered-but-lazy InMemoryRelation. The
    * StageCacheSpec seam for asserting the cache hit path fills the
    * persist level EAGERLY (VERDICT r17 item 1) without racing the
    * context-wide RDD storage listing against concurrent suites. */
  def isCacheMaterialized(df: Dataset[_]): Boolean = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
  }

  /** `block` with `spark` as the thread's active session — the
    * `private[sql]` `withActive` QueryExecution wraps its phases in, so a
    * plan node built at execution time gets the session the planner's
    * nodes got. */
  def withActive[T](spark: SparkSession)(block: => T): T = spark.withActive(block)

  /** Register graft's SQL functions on an ALREADY-RUNNING session (the
    * `spark.sql.extensions=graft.GraftExtensions` conf only applies to
    * sessions built with it). */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "cosine_sim",
      (children: Seq[Expression]) => graft.expressions.CosineSimilarity(children.head, children(1)),
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "jaccard_sorted",
      (children: Seq[Expression]) => graft.expressions.JaccardSorted(children.head, children(1)),
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "confluent_schema_id",
      (children: Seq[Expression]) => graft.expressions.ConfluentSchemaId(children.head),
      "scala_udf")
  }
}
