package graft.operators

import org.apache.spark.sql.DataFrame

import graft.functions.PairMoments
import graft.plans.PairMomentsAgg

/**
 * A1/M2/M3/M4 (SURVEY.md §2.5, §2.8): correlation-clustering feature dedup
 * — `correlated_features_filter`
 * (`/root/reference/exstream/correlation_filtering.py:7-67`).
 *
 * All pairwise Pearson correlations come from [[PairMoments]] sums: one
 * per-row update feeds the moment sums of all k(k-1)/2 feature pairs — k
 * is the feature count, dozens at most, so the moment array is tiny. Null
 * cells are absent (pandas' pairwise deletion); a zero denominator is just
 * "no edge" (pandas' NaN), and moment-form cancellation costs a couple of
 * the 16 digits — irrelevant for an |corr| > threshold decision. Graph
 * building and connected components ([[selectByCorr]]) run on the k x k
 * result.
 *
 * Three callers sum the moments: `ExstreamPipeline` inside each resample
 * group's kernel task (`ExplainKernel.explainGroup`, no aggregate and no
 * collect), the streaming at-close path over one window
 * ([[selectFeaturesLocal]]), and the public DataFrame operator
 * [[selectFeaturesBy]], one distributed aggregation pass
 * (`graft_pair_moments`, [[PairMomentsAgg]]) collected to the driver —
 * kept for perfbench's traced layer composition and PipelineSpec's
 * kernel-vs-operators differential, off the pipeline path.
 *
 * Deliberate divergences (SURVEY §4a quirks 4/5/7):
 *  - correlations are computed over feature columns only (the reference
 *    feeds metadata columns into `df.corr()` but never reads those entries);
 *  - the cluster representative is the member with the smallest original
 *    column index — the reference uses `set.pop()`, which is
 *    nondeterministic across processes;
 *  - the returned list is feature names only (the reference appends a
 *    nested `["type_data"]` that would crash downstream pandas).
 */
object CorrelationFilter {

  /** The pure graph core: union-find clustering with an edge iff
    * |corr(i,j)| > threshold (NaN = undefined = no edge) over one
    * [[PairMoments]] array; each cluster's representative is its smallest
    * original column index. Shared by the per-group pipeline kernel, the
    * distributed aggregate and the streaming window-local path. */
  private[graft] def selectByCorr(
      featureOrder: Seq[String],
      correlationThreshold: Double,
      moments: Array[Double]): Seq[String] = {
    val parent = Array.tabulate(featureOrder.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    PairMoments.pairs(featureOrder.size).zipWithIndex.foreach { case ((i, j), p) =>
      val c = PairMoments.corr(moments, p)
      if (!c.isNaN && math.abs(c) > correlationThreshold) union(i, j)
    }
    featureOrder.indices.filter(i => find(i) == i).map(featureOrder)
  }

  /**
   * Window-local pure variant for the streaming at-close path: the same
   * moment accumulation and union-find over ONE closed window's buffered
   * observations (the only data an online operator has at close). Batch
   * sums the moments over every window of a resample group in that
   * group's kernel task; on a single-window input the two are identical,
   * which is what the streaming/batch parity test pins.
   *
   * @param rows (timestamp, type_data, feature, value) — one value per
   *             (timestamp, type_data, feature), the wide-pivot contract;
   *             a NaN value is absent
   */
  def selectFeaturesLocal(
      rows: Iterable[(Long, Int, String, Double)],
      featureOrder: Seq[String],
      correlationThreshold: Double): Seq[String] = {
    if (featureOrder.size <= 1) return featureOrder
    val idx = featureOrder.zipWithIndex.toMap
    val m = PairMoments.empty(featureOrder.size)
    // wide pivot: (ts, class) -> dense feature-value row (NaN = absent)
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      val arr = Array.fill(featureOrder.size)(Double.NaN)
      g.foreach(r => idx.get(r._3).foreach(i => arr(i) = r._4))
      PairMoments.accumulate(m, arr, arr.map(!_.isNaN))
    }
    selectByCorr(featureOrder, correlationThreshold, m)
  }

  /**
   * One moment array PER group value (e.g. one per instability resample),
   * all from a single aggregation pass — rather than one aggregation per
   * resample. The group count is tiny (1 + resample rounds), so the
   * collected result is a handful of rows regardless of data volume.
   *
   * @param wide     one row per observation, one nullable column per
   *                 feature (null = absent)
   * @param featureOrder feature columns in original (insertion) order
   * @param groupCol integer grouping column present in `wide`
   * @return group value -> selected feature names, in original column order
   */
  def selectFeaturesBy(
      wide: DataFrame,
      featureOrder: Seq[String],
      correlationThreshold: Double,
      groupCol: String): Map[Int, Seq[String]] = {
    if (featureOrder.size <= 1) {
      return wide.select(groupCol).distinct().collect()
        .map(r => r.getInt(0) -> featureOrder).toMap
    }
    wide.groupBy(groupCol)
      .agg(PairMomentsAgg.pairMoments(wide.sparkSession, featureOrder))
      .collect()
      .map { row =>
        row.getInt(0) -> selectByCorr(featureOrder, correlationThreshold,
          row.getSeq[Double](1).toArray)
      }.toMap
  }
}
