package graft.functions

import scala.collection.mutable

import graft.ExstreamConfig
import graft.operators.CorrelationFilter

/**
 * The EXstream explanation — correlation selection, false-positive
 * filter, entropy reward and leap cut (`exstream.pdf` §3–4; reference
 * `correlation_filtering.py`, `false_positive_filtering.py`,
 * `entropy_based_single_reward_feature.py`) — as pure code over primitive
 * arrays. [[explainGroup]] runs step 1 over a group of wide rows, then
 * steps 2–3 per window. `constructExplanations` calls it once per
 * resample group, in that group's own task. [[explainLong]] is the one
 * long-row entry: it pivots long rows into one group and calls
 * [[explainGroup]]. `explanatoryFeatures` calls it once over all of its
 * rows, and the online operator (`StreamingOps.explainBuffered`) once per
 * closed window.
 *
 * Rules of steps 2–3, for one window:
 *  - FP filter: a feature enters only with a non-empty pattern and at
 *    least one non-empty reference series; its match count is summed over
 *    all of its series (batch: one per trace of the group). Kept iff the
 *    count is <= `matchCountKeep`; if nothing passes, the feature with the
 *    fewest matches is kept (ties by column order).
 *  - reward: D(f) = H_class / H_segmentation over the feature's values; a
 *    feature of a window with one class only has no reward.
 *  - leap: [[EntropyCore.rewardLeapFilter]] over
 *    [[EntropyCore.rankRewards]]' ranking (reward descending, ties by
 *    column order), the reference's own comparisons, infinite rewards
 *    included.
 *  - a window where nothing survives has the empty explanation.
 */
object ExplainKernel {

  /** One feature of one window.
    *
    * @param values  the non-empty cells, any order, aligned with `classes`
    * @param nAno    anomaly rows, empty cells included
    * @param nRef    reference rows, empty cells included
    * @param pattern the FP match pattern in match order (empty when the FP
    *                filter is off) */
  private final case class WindowFeature(
      feature: String,
      values: Array[Double],
      classes: Array[Int],
      nAno: Long,
      nRef: Long,
      pattern: Array[Double])

  /**
   * Steps 2–3 for one window.
   *
   * @param features the window's candidate features (after correlation
   *                 selection), in original column order: the order
   *                 breaks ranking and fallback ties
   * @param series   a feature's reference series for the FP filter
   * @return the explanation, in ranking order
   */
  private def explainWindow(
      features: Seq[WindowFeature],
      series: String => Seq[Array[Double]],
      cfg: ExstreamConfig): Seq[String] = {
    val kept =
      if (!cfg.falsePositiveFiltering) features
      else {
        val counts = features.flatMap { wf =>
          val ss = series(wf.feature).filter(_.nonEmpty)
          if (wf.pattern.isEmpty || ss.isEmpty) None
          else Some(wf -> ss.map(MatchKernel.matchCount(wf.pattern, _, cfg.maxDistance)).sum)
        }
        val passing = counts.collect { case (wf, n) if n <= cfg.matchCountKeep => wf }
        if (passing.nonEmpty || counts.isEmpty) passing
        else Seq(counts.minBy(_._2)._1)
      }
    val rewards = kept.collect {
      case wf if wf.nAno > 0 && wf.nRef > 0 =>
        wf.feature -> EntropyCore.reward(EntropyCore.classEntropy(wf.nAno, wf.nRef),
          wf.values, wf.classes, cfg.applyWorstCase)
    }
    EntropyCore.rewardLeapFilter(EntropyCore.rankRewards(rewards.toMap, features.map(_.feature)))
  }

  /** Columnar rows of one resample group: per row its window, trace,
    * timestamp and class, and per feature column its value and whether
    * the cell is empty. */
  final class WideRows(k: Int) {
    var n = 0
    var windowKey = new Array[String](64)
    var traceId = new Array[String](64)
    var timestamp = new Array[Long](64)
    var cls = new Array[Int](64)
    val values: Array[Array[Double]] = Array.fill(k)(new Array[Double](64))
    val empty: Array[Array[Boolean]] = Array.fill(k)(new Array[Boolean](64))

    /** Append a row; `v`/`isEmpty` are copied, so callers may reuse them. */
    def add(wk: String, trace: String, ts: Long, c: Int,
            v: Array[Double], isEmpty: Array[Boolean]): Unit = {
      if (n == windowKey.length) grow()
      windowKey(n) = wk; traceId(n) = trace; timestamp(n) = ts; cls(n) = c
      var j = 0
      while (j < k) { values(j)(n) = v(j); empty(j)(n) = isEmpty(j); j += 1 }
      n += 1
    }

    private def grow(): Unit = {
      val cap = n * 2
      windowKey = java.util.Arrays.copyOf(windowKey, cap)
      traceId = java.util.Arrays.copyOf(traceId, cap)
      timestamp = java.util.Arrays.copyOf(timestamp, cap)
      cls = java.util.Arrays.copyOf(cls, cap)
      var j = 0
      while (j < k) {
        values(j) = java.util.Arrays.copyOf(values(j), cap)
        empty(j) = java.util.Arrays.copyOf(empty(j), cap)
        j += 1
      }
    }
  }

  /** A long row: one cell of one tick. A null `value` is an empty cell;
    * NaN is a present value. */
  private[graft] final case class LongRow(windowKey: String, traceId: String, timestamp: Long, cls: Int,
                           feature: String, value: java.lang.Double)

  /** The wide value slots: `featureOrder`, then every other column by name. */
  private[graft] def allFeatures(featureOrder: Seq[String], columns: Iterable[String]): IndexedSeq[String] =
    (featureOrder ++ columns.toSeq.distinct.filterNot(featureOrder.toSet).sorted).toIndexedSeq

  /**
   * Steps 1–3 over long rows: the rows pivoted into one group of
   * [[WideRows]] and one [[explainGroup]] call.
   *
   * The pivot: the rows of one (window_key, trace_id, timestamp, class)
   * are one tick and make one wide row; a tick that repeats a feature
   * starts a further row. A repeated feature's values fill the tick's rows
   * in total order, its empty cells last, so the cells of a duplicated tick
   * pair up by value order. A feature missing at a tick is an empty cell.
   * Each trace's columns are the features its rows carry, and the value
   * slots are [[allFeatures]]. Ticks are pivoted in key order, so the
   * order of `rows` cannot change the answer.
   *
   * @return per window, its explanation
   */
  private[graft] def explainLong(
      rows: Iterator[LongRow],
      featureOrder: Seq[String],
      cfg: ExstreamConfig,
      refSeries: Map[String, Seq[Array[Double]]] = Map.empty): Seq[(String, Seq[String])] = {
    val ticks = mutable.HashMap.empty[(String, String, Long, Int),
      mutable.HashMap[String, mutable.ArrayBuffer[java.lang.Double]]]
    rows.foreach { r =>
      ticks.getOrElseUpdate((r.windowKey, r.traceId, r.timestamp, r.cls), mutable.HashMap.empty)
        .getOrElseUpdate(r.feature, mutable.ArrayBuffer.empty) += r.value
    }
    val traceHas = ticks.toSeq.groupMapReduce(_._1._2)(_._2.keySet.toSet)(_ ++ _)
    val features = allFeatures(featureOrder, traceHas.values.flatten)
    val slot = features.zipWithIndex.toMap
    val wide = new WideRows(features.size)
    val v = new Array[Double](features.size)
    val empty = new Array[Boolean](features.size)
    ticks.toSeq.sortBy(_._1).foreach { case ((wk, trace, ts, cls), cells) =>
      val present = cells.toSeq.map { case (f, vs) =>
        slot(f) -> vs.iterator.filter(_ != null).map(_.doubleValue).toArray.sorted(Ordering.Double.TotalOrdering)
      }
      (0 until cells.values.map(_.size).max).foreach { d =>
        java.util.Arrays.fill(empty, true)
        present.foreach { case (j, vs) => if (d < vs.length) { v(j) = vs(d); empty(j) = false } }
        wide.add(wk, trace, ts, cls, v, empty)
      }
    }
    explainGroup(wide, features, featureOrder, traceHas, cfg, refSeries)
  }

  /**
   * Steps 1–3 for every window of one group: a resample group of
   * `constructExplanations`, or the rows [[explainLong]] pivots.
   *
   * Step 1, correlation selection (`cfg.cluster`, at least two candidates):
   * the group sums its own pairwise-deletion moments over the
   * `featureOrder` columns of every row ([[PairMoments.accumulate]]; an
   * empty cell or a column the row's trace lacks is absent) and keeps the
   * representative of each correlation cluster
   * (`CorrelationFilter.selectByCorr`). Without it every column is a
   * candidate.
   *
   * Steps 2–3: a feature column a trace lacks gives that trace no rows for
   * the feature; an empty cell is absent from series and pattern but counts
   * toward the class sizes. Each (trace, feature) reference series is
   * built once, from the trace's reference rows in (window_key, timestamp,
   * value) order, and every window's pattern is matched against the
   * series of every trace. A pattern is ordered by (trace_id, timestamp,
   * value), so a window may span several traces.
   *
   * @param features     the column of each `rows` value slot, in original
   *                     column order
   * @param featureOrder the correlation candidates: the leading slots of
   *                     `features`
   * @param traceHas     the feature columns each trace has
   * @param refSeries    reference series that replace the group's own
   *                     series of the features they cover (the online
   *                     operator's registry; batch passes none)
   * @return per window of the group, its explanation
   */
  private[graft] def explainGroup(
      rows: WideRows,
      features: IndexedSeq[String],
      featureOrder: Seq[String],
      traceHas: Map[String, Set[String]],
      cfg: ExstreamConfig,
      refSeries: Map[String, Seq[Array[Double]]] = Map.empty): Seq[(String, Seq[String])] = {
    val has = rows.traceId.iterator.take(rows.n).distinct.map { t =>
      val cols = traceHas.getOrElse(t, Set.empty[String])
      t -> features.map(cols).toArray
    }.toMap
    val sel =
      if (!cfg.cluster || featureOrder.size <= 1) features.indices
      else {
        val keep = CorrelationFilter.selectByCorr(featureOrder, cfg.correlationThreshold,
          moments(rows, featureOrder.size, has)).toSet
        features.indices.filter(j => keep(features(j)))
      }
    val fp = cfg.falsePositiveFiltering
    val patternClass = if (cfg.patternFromRefWindow) 0 else 1

    def cellValues(idx: Array[Int], j: Int): Array[Double] = idx.map(rows.values(j)(_))
    def byKeyThenValue(j: Int, key: Int => String)(a: Int, b: Int): Boolean = {
      val c1 = key(a).compareTo(key(b))
      if (c1 != 0) c1 < 0
      else {
        val c2 = java.lang.Long.compare(rows.timestamp(a), rows.timestamp(b))
        if (c2 != 0) c2 < 0
        else java.lang.Double.compare(rows.values(j)(a), rows.values(j)(b)) < 0
      }
    }

    val series: Map[String, Seq[Array[Double]]] =
      if (!fp) Map.empty
      else {
        val refByTrace = (0 until rows.n).filter(rows.cls(_) == 0)
          .groupBy(rows.traceId(_)).toSeq.sortBy(_._1)
        sel.filterNot(j => refSeries.contains(features(j))).map { j =>
          features(j) -> refByTrace.collect { case (t, idx) if has(t)(j) =>
            cellValues(idx.filterNot(rows.empty(j)(_)).toArray
              .sortWith(byKeyThenValue(j, rows.windowKey(_))), j)
          }
        }.toMap ++ refSeries
      }

    (0 until rows.n).groupBy(rows.windowKey(_)).toSeq.map { case (wk, idx) =>
      val feats = sel.flatMap { j =>
        val fRows = idx.filter(r => has(rows.traceId(r))(j))
        if (fRows.isEmpty) None
        else {
          val nAno = fRows.count(rows.cls(_) == 1).toLong
          val cells = fRows.filterNot(rows.empty(j)(_)).toArray
          val pattern =
            if (!fp) Array.emptyDoubleArray
            else cellValues(cells.filter(rows.cls(_) == patternClass)
              .sortWith(byKeyThenValue(j, rows.traceId(_))), j)
          Some(WindowFeature(features(j), cellValues(cells, j),
            cells.map(rows.cls(_)), nAno, fRows.count(rows.cls(_) == 0).toLong, pattern))
        }
      }
      wk -> explainWindow(feats, series.getOrElse(_, Nil), cfg)
    }
  }

  /** The [[PairMoments]] array of the first `kc` value slots over every
    * row of `rows`; a cell is present iff it is non-empty and its trace
    * has the column (`has`). */
  private def moments(rows: WideRows, kc: Int, has: Map[String, Array[Boolean]]): Array[Double] = {
    val m = PairMoments.empty(kc)
    val x = new Array[Double](kc)
    val present = new Array[Boolean](kc)
    var r = 0
    while (r < rows.n) {
      val h = has(rows.traceId(r))
      var j = 0
      while (j < kc) {
        present(j) = h(j) && !rows.empty(j)(r)
        x(j) = rows.values(j)(r)
        j += 1
      }
      PairMoments.accumulate(m, x, present)
      r += 1
    }
    m
  }
}
