package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.expr
import graft.plans.{FloatVecOps, LongSetOps, MinHashSignature, PairMoments, SegEntropyAgg, VecAggs}

/**
 * Library packaging entry point: installs every graft custom Catalyst
 * expression into a session at construction time via
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 * (or `SparkSession.builder().withExtensions(new GraftExtensions)`), so
 * a cluster user gets the `graft_*` SQL surface on every session —
 * including pure-SQL clients. The engine's own Column APIs go through
 * [[GraftExtensions.call]], which installs from the same table, so the
 * two paths cannot drift apart.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, usage: String, builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      builder)

  /** Every `graft_*` function, once: (identifier, usage info, builder). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn(LongSetOps.FunctionName,
      "_FUNC_(a, b) - intersection size of two sorted bigint arrays", LongSetOps.builder),
    fn(FloatVecOps.FunctionName,
      "_FUNC_(a, b) - dot product of two float arrays", FloatVecOps.builder),
    fn(MinHashSignature.FunctionName,
      "_FUNC_(hashes, k) - k-permutation MinHash signature", MinHashSignature.builder),
    fn(SegEntropyAgg.FunctionName,
      "_FUNC_(value, class, worstCase) - segmentation entropy aggregate", SegEntropyAgg.builder),
    fn(VecAggs.OuterProductFunctionName,
      "_FUNC_(vec) - flattened sum of vec * vec^T over bigint arrays", VecAggs.builder),
    fn(VecAggs.BucketSumsFunctionName,
      "_FUNC_(vec, flag) - elementwise bigint array sums over all rows, then over flagged rows",
      VecAggs.bucketSumsBuilder),
    fn(PairMoments.FunctionName,
      "_FUNC_(vec) - per pair (i, j < i) of a double array: (n, sum x_i, sum x_j, " +
        "sum x_i^2, sum x_j^2, sum x_i*x_j) over rows where both cells are non-null",
      PairMoments.builder))

  /** Column API: `name(args)` with SQL-text arguments resolved in the
    * calling plan. The function is installed into the session from
    * [[functions]] only when it is missing (an extension-built session
    * already has it) — Column construction from a catalyst Expression is
    * session-internal in Spark 4, so the registry is the public bridge. */
  def call(spark: SparkSession, name: String, args: String*): Column = {
    val registry = spark.sessionState.functionRegistry
    functions.find(_._1.funcName == name).foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    expr(s"$name(${args.mkString(", ")})")
  }
}
