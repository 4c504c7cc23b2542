package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{FloatVecOps, LongSetOps, MinHashSignature, SegEntropyAgg}

/**
 * Library packaging entry point: installs every graft custom Catalyst
 * expression into a session at construction time via
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 * (or `SparkSession.builder().withExtensions(new GraftExtensions)`), so
 * a cluster user gets the `graft_*` SQL surface on every session —
 * including pure-SQL clients — without calling the per-object
 * `register(spark)` helpers the engine's own operators use. Both paths
 * share the same [[graft.plans]] builders, so an expression fix lands in
 * both automatically.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (LongSetOps.FunctionName,
      "_FUNC_(a, b) - intersection size of two sorted bigint arrays", LongSetOps.builder),
    (FloatVecOps.FunctionName,
      "_FUNC_(a, b) - dot product of two float arrays", FloatVecOps.builder),
    (MinHashSignature.FunctionName,
      "_FUNC_(hashes, k) - k-permutation MinHash signature", MinHashSignature.builder),
    (SegEntropyAgg.FunctionName,
      "_FUNC_(value, class, worstCase) - segmentation entropy aggregate", SegEntropyAgg.builder))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
}

object GraftExtensions {

  /** The per-object `register(spark)` helpers' one body: registers `name`
    * only when the session lacks it (injected by [[GraftExtensions]] or
    * registered by an earlier call), the idempotent-setup pattern —
    * replacing a registered function logs a WARN on every query call. */
  private[graft] def registerOnce(
      spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
