package graft.functions

/**
 * Z-normalized subsequence matching — the capability the reference gets
 * from `stumpy.match` (`/root/reference/exstream/false_positive_filtering.py:40`).
 * Re-implemented from the published MASS / matrix-profile definitions
 * (z-normalized Euclidean distance profile + greedy exclusion-zone
 * suppression, stumpy's documented default exclusion zone ceil(m/4)).
 *
 * Scale notes: the per-call cost is O(n*m) with O(1)-per-window mean/std
 * via prefix sums. In the engine, calls are parallelized across
 * (window x feature) groups by Spark, so single-call FFT acceleration is
 * not the bottleneck at cluster scale; n and m are bounded by label-span
 * lengths (~1e3..1e5 points).
 */
object MatchKernel {

  /**
   * Z-normalized Euclidean distance profile of pattern `q` against every
   * length-m window of series `t`.
   *
   * Degenerate windows follow the matrix-profile convention:
   * constant query vs constant window -> 0.0; exactly one side constant ->
   * sqrt(m).
   */
  def distanceProfile(q: Array[Double], t: Array[Double]): Array[Double] = {
    val m = q.length
    val n = t.length
    if (m == 0 || n < m) return Array.emptyDoubleArray
    // query stats + z-normalized query
    var qSum = 0.0
    var qSumSq = 0.0
    var i = 0
    while (i < m) { qSum += q(i); qSumSq += q(i) * q(i); i += 1 }
    val qMean = qSum / m
    val qVar = math.max(qSumSq / m - qMean * qMean, 0.0)
    val qStd = math.sqrt(qVar)
    val qConst = qStd == 0.0

    // prefix sums for window stats of t
    val nWin = n - m + 1
    val out = new Array[Double](nWin)
    val pre = new Array[Double](n + 1)
    val preSq = new Array[Double](n + 1)
    i = 0
    while (i < n) {
      pre(i + 1) = pre(i) + t(i)
      preSq(i + 1) = preSq(i) + t(i) * t(i)
      i += 1
    }
    // MASS switch-over: above ~2M multiply-adds the naive per-window dot
    // loop loses to three FFTs (O(n*m) vs O(L log L) — measured 361 ms vs
    // ~10 ms at m=1900, n=9500). Below it, the naive loop is faster AND
    // bit-identical to the SQL oracle's sum — small/verification paths
    // keep exact parity, the big FP-filter calls get the MASS path (FFT
    // rounding differs from the naive sum only at ~1e-9 relative, far
    // inside any match-threshold margin).
    val dots: Array[Double] =
      if (nWin.toLong * m > 2000000L) FFT.slidingDots(q, t) else null
    var s = 0
    while (s < nWin) {
      val wSum = pre(s + m) - pre(s)
      val wSumSq = preSq(s + m) - preSq(s)
      val wMean = wSum / m
      val wVar = math.max(wSumSq / m - wMean * wMean, 0.0)
      val wStd = math.sqrt(wVar)
      val wConst = wStd == 0.0
      out(s) =
        if (qConst && wConst) 0.0
        else if (qConst || wConst) math.sqrt(m.toDouble)
        else {
          var dot = 0.0
          if (dots != null) dot = dots(s)
          else {
            var k = 0
            while (k < m) { dot += q(k) * t(s + k); k += 1 }
          }
          val r = (dot - m * qMean * wMean) / (m * qStd * wStd)
          val d2 = 2.0 * m * (1.0 - r)
          math.sqrt(math.max(d2, 0.0))
        }
      s += 1
    }
    out
  }

  /**
   * Greedy best-first match selection with exclusion-zone suppression:
   * accept candidates in ascending (distance, offset) order while
   * dist <= maxDistance,
   * suppressing any candidate within +/- ceil(m/4) of an accepted match —
   * stumpy.match's documented behavior with its default exclusion zone.
   *
   * @return accepted (distance, startIndex) pairs in ascending distance order
   */
  def matches(q: Array[Double], t: Array[Double], maxDistance: Double): Seq[(Double, Int)] = {
    val d = distanceProfile(q, t)
    if (d.isEmpty) return Seq.empty
    val m = q.length
    val excl = math.ceil(m / 4.0).toInt
    // only offsets with d <= maxDistance can be accepted: sort just those
    // by (distance, offset). The scan stops at the first distance above
    // the threshold, so a NaN distance (sorted last) is reached only when
    // no distance is above it.
    var above = false
    var i = 0
    while (i < d.length) { if (d(i) > maxDistance) above = true; i += 1 }
    val order = Array.range(0, d.length)
      .filter(i => d(i) <= maxDistance || (!above && d(i).isNaN))
      .sortBy(i => (d(i), i))
    val suppressed = new Array[Boolean](d.length)
    val acc = Seq.newBuilder[(Double, Int)]
    var oi = 0
    while (oi < order.length) {
      val idx = order(oi)
      if (!suppressed(idx)) {
        acc += ((d(idx), idx))
        var k = math.max(0, idx - excl)
        val hi = math.min(d.length - 1, idx + excl)
        while (k <= hi) { suppressed(k) = true; k += 1 }
      }
      oi += 1
    }
    acc.result()
  }

  /** Number of accepted matches (the quantity the false-positive filter uses). */
  def matchCount(q: Array[Double], t: Array[Double], maxDistance: Double): Int =
    matches(q, t, maxDistance).size

  /**
   * Count of sub-threshold offsets in the raw distance profile, WITHOUT
   * exclusion-zone suppression. SQL-expressible (pure aggregation over
   * offsets), used for the DuckDB-oracle variant of this operator.
   */
  def subThresholdCount(q: Array[Double], t: Array[Double], maxDistance: Double): Int = {
    val d = distanceProfile(q, t)
    var c = 0
    var i = 0
    while (i < d.length) { if (d(i) <= maxDistance) c += 1; i += 1 }
    c
  }
}
