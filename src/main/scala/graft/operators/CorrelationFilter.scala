package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * A1/M2/M3/M4 (SURVEY.md §2.5, §2.8): correlation-clustering feature dedup
 * — `correlated_features_filter`
 * (`/root/reference/exstream/correlation_filtering.py:7-67`).
 *
 * All pairwise Pearson correlations are computed in ONE distributed
 * aggregation pass (k(k-1)/2 `corr` aggregates — k is the feature count,
 * dozens at most, so the aggregate row is tiny); graph building and
 * connected components run driver-side on the k x k result, which is the
 * right placement: the data-sized work is the scan, the graph is O(k²).
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

  // every pairwise correlation from moment sums in ONE aggregation pass
  // — the built-in `corr` needed a separate zero-variance prescan (its
  // internal division throws under ANSI on constant columns), which
  // meant two actions and two executions of the upstream pivot shuffle
  // per call (and the pipeline calls this once per instability
  // resample). Conditional sums keep pandas' pairwise null deletion;
  // the division happens driver-side in plain Scala, where a zero
  // denominator is just "no edge" (pandas' NaN semantics). Moment-form
  // cancellation costs a couple of the 16 digits — irrelevant for an
  // |corr| > threshold decision.
  private def momentAggs(featureOrder: Seq[String]) = {
    val pairs = for { i <- featureOrder.indices; j <- 0 until i } yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val (x, y) = (col(featureOrder(i)), col(featureOrder(j)))
      val both = x.isNotNull && y.isNotNull
      def s(e: org.apache.spark.sql.Column, tag: String) =
        sum(when(both, e)).as(s"${tag}_${i}_$j")
      Seq(count(when(both, 1)).as(s"n_${i}_$j"),
        s(x, "sx"), s(y, "sy"), s(x * x, "sxx"), s(y * y, "syy"), s(x * y, "sxy"))
    }
    (pairs, aggs)
  }

  /** The pure graph core: union-find clustering with an edge iff
    * |corr(i,j)| > threshold (NaN = undefined = no edge); each cluster's
    * representative is its smallest original column index. Shared by the
    * distributed moment-row path and the streaming window-local path. */
  private[graft] def selectByCorr(
      featureOrder: Seq[String],
      correlationThreshold: Double,
      pairs: IndexedSeq[(Int, Int)],
      corr: Int => Double): Seq[String] = {
    val parent = Array.tabulate(featureOrder.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    def union(a: Int, b: Int): Unit = { val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    pairs.zipWithIndex.foreach { case ((i, j), k) =>
      val c = corr(k)
      if (!c.isNaN && math.abs(c) > correlationThreshold) union(i, j)
    }
    featureOrder.indices.filter(i => find(i) == i).map(featureOrder)
  }

  /** Pearson correlation from pairwise-deleted moment sums; NaN when
    * undefined (zero variance or no overlap) — pandas' semantics. */
  private def corrFromMoments(n: Double, sx: Double, sy: Double,
                              sxx: Double, syy: Double, sxy: Double): Double = {
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    if (den > 0.0) (n * sxy - sx * sy) / math.sqrt(den) else Double.NaN
  }

  /** Union-find over one moment row; `offset` = leading non-moment columns. */
  private def selectFromMomentRow(
      row: org.apache.spark.sql.Row,
      offset: Int,
      pairs: IndexedSeq[(Int, Int)],
      featureOrder: Seq[String],
      correlationThreshold: Double): Seq[String] =
    selectByCorr(featureOrder, correlationThreshold, pairs, { k =>
      val base = offset + k * 6
      if (row.isNullAt(base + 1)) Double.NaN // null sums = no overlapping rows
      else corrFromMoments(row.getLong(base).toDouble,
        row.getDouble(base + 1), row.getDouble(base + 2),
        row.getDouble(base + 3), row.getDouble(base + 4), row.getDouble(base + 5))
    })

  /**
   * Window-local pure variant for the streaming at-close path: the same
   * moment math and union-find over ONE closed window's buffered
   * observations (the only data an online operator has at close). Batch
   * computes the moments over every window in one distributed pass; on a
   * single-window input the two are identical, which is what the
   * streaming/batch parity test pins.
   *
   * @param rows (timestamp, type_data, feature, value) — one value per
   *             (timestamp, type_data, feature), the wide-pivot contract
   */
  def selectFeaturesLocal(
      rows: Iterable[(Long, Int, String, Double)],
      featureOrder: Seq[String],
      correlationThreshold: Double): Seq[String] = {
    if (featureOrder.size <= 1) return featureOrder
    val idx = featureOrder.zipWithIndex.toMap
    // wide pivot: (ts, class) -> dense feature-value row (NaN = absent)
    val wide = rows.groupBy(r => (r._1, r._2)).map { case (_, g) =>
      val arr = Array.fill(featureOrder.size)(Double.NaN)
      g.foreach(r => idx.get(r._3).foreach(i => arr(i) = r._4))
      arr
    }
    val pairs = for { i <- featureOrder.indices; j <- 0 until i } yield (i, j)
    selectByCorr(featureOrder, correlationThreshold, pairs.toIndexedSeq, { k =>
      val (i, j) = pairs(k)
      var n = 0L; var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
      wide.foreach { arr =>
        val x = arr(i); val y = arr(j)
        if (!x.isNaN && !y.isNaN) { // pairwise null deletion
          n += 1; sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
        }
      }
      if (n == 0) Double.NaN
      else corrFromMoments(n.toDouble, sx, sy, sxx, syy, sxy)
    })
  }

  /**
   * One moment row PER group value (e.g. one per instability resample),
   * all from a single aggregation pass — rather than one aggregation per
   * resample, each re-executing the upstream pivot shuffle. The group
   * count is tiny (1 + resample rounds), so the collected result is a
   * handful of rows regardless of data volume.
   *
   * @param wide     one row per observation, feature columns present
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
    val (pairs, aggs) = momentAggs(featureOrder)
    wide.groupBy(groupCol).agg(aggs.head, aggs.tail: _*).collect()
      .map { row =>
        row.getInt(0) -> selectFromMomentRow(row, 1, pairs, featureOrder, correlationThreshold)
      }.toMap
  }
}
