package graft.functions

/**
 * Pairwise-deletion moment sums for every feature pair at once — the
 * accumulation behind pandas' `df.corr()` in the reference's correlation
 * step (`exstream/correlation_filtering.py`).
 *
 * Pairs are `(i, j)` with `j < i`, in the order `(1,0), (2,0), (2,1),
 * (3,0), …`; pair `p` owns the six slots `6p .. 6p+5` of the moment array:
 * `(n, Σx, Σy, Σx², Σy², Σxy)` over the rows where both features are
 * present. One per-row update feeds all k(k−1)/2 pairs, and the moment
 * array is the whole state, so partial arrays merge by elementwise sum.
 * [[ExplainKernel.explainGroup]] (batch resample groups and the online
 * operator's closed window) and the `CorrelationFilter` operators call
 * [[accumulate]].
 */
object PairMoments {

  /** Number of feature pairs for `k` features. */
  def pairCount(k: Int): Int = k * (k - 1) / 2

  /** The pairs `(i, j)`, `j < i`, in slot order. */
  def pairs(k: Int): IndexedSeq[(Int, Int)] =
    for { i <- 0 until k; j <- 0 until i } yield (i, j)

  /** A zeroed moment array for `k` features. */
  def empty(k: Int): Array[Double] = new Array[Double](6 * pairCount(k))

  /** Add one row: feature `i` has value `x(i)` iff `present(i)`; a pair
    * contributes only when both of its features are present. */
  def accumulate(m: Array[Double], x: Array[Double], present: Array[Boolean]): Unit = {
    var b = 0
    var i = 1
    while (i < x.length) {
      if (present(i)) {
        val xi = x(i)
        var j = 0
        while (j < i) {
          if (present(j)) {
            val xj = x(j)
            m(b) += 1.0; m(b + 1) += xi; m(b + 2) += xj
            m(b + 3) += xi * xi; m(b + 4) += xj * xj; m(b + 5) += xi * xj
          }
          b += 6
          j += 1
        }
      } else b += 6 * i
      i += 1
    }
  }

  /** Pearson correlation of pair `p`; NaN when undefined (no overlapping
    * rows or zero variance) — pandas' semantics. */
  def corr(m: Array[Double], p: Int): Double = {
    val b = 6 * p
    val (n, sx, sy) = (m(b), m(b + 1), m(b + 2))
    val den = (n * m(b + 3) - sx * sx) * (n * m(b + 4) - sy * sy)
    if (den > 0.0) (n * m(b + 5) - sx * sy) / math.sqrt(den) else Double.NaN
  }
}
