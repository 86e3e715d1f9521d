package graft

import graft.expressions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions registering graft's native expressions for SQL
  * use, the as-of join's parser, rules and strategy, and the
  * [[graft.plans.CollectSortStrategy]] that sorts a small collected
  * ORDER BY on the driver, within `spark.sql.autoBroadcastJoinThreshold`
  * ([[GraftSession]] registers them for every graft main):
  *
  * {{{
  *   builder.config("spark.sql.extensions", "graft.GraftExtensions")
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * DataFrame callers don't need the registration —
  * [[graft.similarity.VectorOps.cosineNative]] builds the expression
  * directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[graft.expressions.DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "dot_product expects exactly 2 arguments")
        graft.expressions.DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[graft.expressions.JaccardSorted].getName, "jaccard_sorted"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "jaccard_sorted expects exactly 2 arguments")
        graft.expressions.JaccardSorted(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("intersect_size_sorted"),
      new ExpressionInfo(classOf[graft.expressions.IntersectSizeSorted].getName, "intersect_size_sorted"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2, "intersect_size_sorted expects exactly 2 arguments")
        graft.expressions.IntersectSizeSorted(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("confluent_schema_id"),
      new ExpressionInfo(classOf[graft.expressions.ConfluentSchemaId].getName, "confluent_schema_id"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 1, "confluent_schema_id expects exactly 1 argument")
        graft.expressions.ConfluentSchemaId(children.head)
      }))
    // plans graft.plans.AsOfJoin logical nodes (built by graft.plans.AsOf)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // a collected global ORDER BY whose child is within
    // spark.sql.autoBroadcastJoinThreshold sorts on the driver
    // (graft.plans.CollectSortExec); -1 keeps Spark's range sort
    ext.injectPlannerStrategy(_ => graft.plans.CollectSortStrategy)
    // pushes left-only filters below AsOfJoin (Catalyst's own pushdown
    // rules don't know the custom node)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // ASOF JOIN SQL syntax: parser rewrite tags the join with an
    // unevaluable marker function; the resolution rule lifts tagged
    // joins into the native AsOfJoin node
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectFunction((
      FunctionIdentifier("graft_asof_marker"),
      new ExpressionInfo(classOf[graft.plans.AsOfMarker].getName, "graft_asof_marker"),
      (_: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.plans.AsOfMarker()))
    ext.injectResolutionRule(_ => graft.plans.ResolveAsOfJoin)
  }
}
