package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * W2/W3/W4 (SURVEY.md §2.6): reward ranking + maximum-leap cutoff —
 * `maximum_leap` / `reward_leap_filter`
 * (`/root/reference/exstream/entropy_based_single_reward_feature.py:249-314`)
 * as pure window functions, fully parallel across windows and inside
 * whole-stage codegen (no UDF).
 *
 * Reproduced semantics (golden-tested in EntropyCoreSpec via the pure
 * kernel, and cross-checked against this plan in LeapFilterSpec):
 *  - ranking: reward DESC, ties by feature insertion (column) order —
 *    Python's stable `sorted` over an insertion-ordered dict
 *    (`entropy_...py:239-241`);
 *  - threshold = max consecutive leap over the FULL ranking (`:266-273`);
 *  - cut at the FIRST row whose leap from its predecessor equals the
 *    threshold (exact float equality), unless the predecessor's reward is
 *    exactly 0.0 (`last_distance != 0` guard, `:299-303`);
 *  - rankings of size 1 are kept unfiltered (`script_1.py:22-26`).
 *
 * It runs under Spark's NaN rules, which differ from the reference's
 * Python comparisons ([[graft.functions.EntropyCore.rewardLeapFilter]])
 * on non-finite input: `inf - inf` is NaN, NaN is the largest value and
 * NaN = NaN, so rewards `[inf, inf, 3, 1]` keep `[f0]` here and `[f0, f1]`
 * there; a NULL reward (a one-class window) never breaks, so null rewards
 * keep every feature where the pipeline keeps none. The explanation
 * pipeline and the online operator therefore cut through
 * `rewardLeapFilter` ([[graft.functions.ExplainKernel]]); this window form
 * stays, unchanged, for the oracle-pinned events-table queries.
 */
object LeapFilter {

  /**
   * @param rewards `(window_key, feature, reward, feat_idx)` — feat_idx is
   *                the feature's original column position
   * @return kept rows `(window_key, feature, reward, feat_idx, rank)`
   */
  def keptFeatures(rewards: DataFrame): DataFrame = {
    val w = Window.partitionBy("window_key").orderBy(col("reward").desc, col("feat_idx").asc)
    val wAll = Window.partitionBy("window_key")
    rewards
      .withColumn("rank", row_number().over(w))
      .withColumn("prev_reward", lag("reward", 1).over(w))
      .withColumn("leap", col("prev_reward") - col("reward"))
      .withColumn("max_leap", max("leap").over(wAll))
      .withColumn("n_feat", count(lit(1)).over(wAll))
      .withColumn("break_here",
        col("prev_reward").isNotNull &&
          col("prev_reward") =!= 0.0 &&
          col("leap") === col("max_leap"))
      .withColumn("cut_rank", min(when(col("break_here"), col("rank"))).over(wAll))
      .where(col("n_feat") <= 1 || col("cut_rank").isNull || col("rank") < col("cut_rank"))
      .select("window_key", "feature", "reward", "feat_idx", "rank")
  }

  /** Collapse kept rows to one explanation array per window, in ranking
    * order (the order `reward_leap_filter` returns features in). */
  def explanations(rewards: DataFrame): DataFrame =
    keptFeatures(rewards)
      .groupBy("window_key")
      .agg(
        transform(
          array_sort(collect_list(struct(col("rank"), col("feature")))),
          x => x.getField("feature")
        ).as("features"))
}
