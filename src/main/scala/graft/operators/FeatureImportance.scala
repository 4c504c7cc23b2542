package graft.operators

import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * M5 (SURVEY.md §2.8): RandomForest feature-importance baseline — the
 * reference notebook's sanity check for the entropy-based feature
 * selection (`testing.ipynb` cells 53-56:
 * `RandomForestClassifier(n_estimators=100, max_depth=2, random_state=0)`
 * over the classed windows, then `feature_importances_`).
 *
 * MLlib's distributed forest replaces scikit-learn; hyperparameters and
 * the seeded determinism mirror the notebook.
 */
object FeatureImportance {

  /**
   * @param wide one row per observation with `featureCols` and a 0/1
   *             `labelCol` (the type_data class): the labeled wide rows
   *             `constructExplanations` reads,
   *             `IntervalLabeler.labelObservations(Sources.unionWide(traces), labels)`;
   *             a row with an empty cell is skipped
   * @return (feature, importance) sorted descending — the notebook's
   *         ranking view of `feature_importances_`
   */
  def randomForestImportances(
      wide: DataFrame,
      featureCols: Seq[String],
      labelCol: String = "type_data",
      numTrees: Int = 100,
      maxDepth: Int = 2,
      seed: Long = 0L): DataFrame = {
    val spark = wide.sparkSession
    import spark.implicits._
    val assembled = new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(wide.withColumn("label", col(labelCol).cast("double")))
    val model = new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setMaxDepth(maxDepth)
      .setSeed(seed)
      .fit(assembled)
    val imps = model.featureImportances.toArray
    featureCols.zip(imps).toDF("feature", "importance")
      .orderBy(desc("importance"), asc("feature"))
  }
}
