package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.MatchKernel

/**
 * T1/A9 (SURVEY.md §2.7): subsequence-match false-positive filter —
 * `false_positive_filter`
 * (`/root/reference/exstream/false_positive_filtering.py:8-52`).
 *
 * A feature explains an anomaly only if its window pattern is RARE inside
 * the full reference series: kept iff the z-normalized match count is
 * <= matchCountKeep; if nothing survives in a window, the feature with the
 * fewest matches is kept as fallback (argmin with first-occurrence
 * tie-break in column order, `:46`).
 *
 * Distribution shape: the reference series is collected PER (feature,
 * trace) — each row bounded by one trace's ref span, never by corpus
 * size — and joined to the per-(window, feature) patterns on feature
 * (AQE picks broadcast when the series side is small, skew-split
 * sort-merge otherwise). A window's match count is the SUM of its
 * per-trace match counts; each per-trace kernel call is an independent
 * task, so the O(n*m) work fans out across the cluster. vs the
 * reference (`script_1.py:66` matches against ALL ref windows
 * concatenated into one series): identical on a single trace, and at
 * multi-trace scale differs only in (a) phantom subsequences spanning
 * two concatenated traces and (b) exclusion zones crossing a trace
 * boundary — both artifacts of concatenation, not of the data. Series
 * order inside a trace is canonicalized to (label_row, timestamp); the
 * reference's cross-trace order depends on os.listdir and is not even
 * deterministic (SURVEY §4a quirk 7).
 *
 * `patternFromRefWindow = true` reproduces the committed script, which
 * passes `ano_ref` — the anomaly's REFERENCE window — as the pattern
 * (`script_1.py:65-66`); `false` uses the anomaly window, the documented
 * intent. Both are supported; the default is script-faithful.
 *
 * Off the pipeline path: `ExstreamPipeline` runs the same rule (per-trace
 * series, a window's count summed over every trace's series of its
 * resample, the same keep rule and argmin fallback) inside
 * [[graft.functions.ExplainKernel]], one task per resample group, with no
 * collect_list, join or repartition. This DataFrame form stays for the
 * `concat` parity mode (FpConcatGoldenSpec), perfbench's traced layer
 * composition and PipelineSpec's kernel-vs-operators differential. It
 * expects non-null values: drop empty cells first (the kernel leaves
 * them out of series and patterns).
 */
object FalsePositiveFilter {

  private val matchCountUdf = udf {
    // series as Array[Double] (r14: the Seq signature boxes every
    // element read; the Array signature is one primitive bulk copy)
    (pattern: Seq[Row], series: Array[Double], maxDistance: Double) =>
      // value is the FINAL tie-break (ADVICE r4): without it, rows sharing
      // (trace, ts, class) would sort by collect_list arrival order —
      // nondeterministic across runs and silently divergent from
      // streaming, which sorts its window buffer by (timestamp, value).
      // Within one window's pattern trace and class are constant, so the
      // effective order IS streaming's (ts, value).
      val q = pattern.sortBy(r =>
          (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .map(_.getDouble(3)).toArray
      MatchKernel.matchCount(q, series, maxDistance)
  }

  /**
   * @param obs observation table `(window_key, trace_id, ano_id, ano_type,
   *            timestamp, type_data, feature, value)` — refs AND anos
   * @param featIdx mapping feature -> original column position (tie-break)
   * @param seriesAlignKeys extra obs columns the reference series must
   *            align on besides `feature` — e.g. a resample id, so a
   *            window sampled under resample i only ever matches against
   *            series built from resample i's rows (fused-pipeline mode)
   * @param refSeriesMode `"perTrace"` (default, the scale path: one
   *            series per (feature, trace), counts summed — each row
   *            bounded by one trace's ref span) or `"concat"` (the
   *            REFERENCE-FIDELITY mode, r13 verdict #5: ONE series per
   *            feature, every trace's ref windows concatenated in
   *            (traceOrder, ano_id, timestamp) order exactly as the
   *            reference's `refs.loc[:, col]` is built —
   *            `/root/reference/utils/get_data.py:95-103` concatenates
   *            per (listdir file order, label-row order) and
   *            `script_1.py:66` matches against the whole column.
   *            Reproduces the reference bit-for-bit INCLUDING the
   *            boundary-straddling phantom subsequences and cross-trace
   *            exclusion zones that per-trace mode documents away; the
   *            series row is corpus-ref-sized, so this mode is for
   *            parity runs, not the 100 TB path)
   * @param traceOrder `concat` mode's cross-trace order (the
   *            reference's os.listdir order, which is machine-specific
   *            — pass the observed order for bit parity); empty =
   *            lexicographic trace_id, the deterministic canonicalization
   * @return `(window_key, feature, n_matches, kept)`
   */
  def matchCounts(
      obs: DataFrame,
      featIdx: Map[String, Int],
      maxDistance: Double,
      matchCountKeep: Int,
      patternFromRefWindow: Boolean,
      seriesAlignKeys: Seq[String] = Nil,
      refSeriesMode: String = "perTrace",
      traceOrder: Seq[String] = Nil): DataFrame = {
    require(refSeriesMode == "perTrace" || refSeriesMode == "concat",
      s"unknown refSeriesMode $refSeriesMode")
    val spark = obs.sparkSession
    import spark.implicits._

    // reference series per (feature, [align keys], trace), canonical order
    // inside the trace — row size bounded by one trace's ref span.
    // concat mode: per (feature, [align keys]) only, traces glued in
    // (traceOrder rank, ano_id, timestamp) order — ano_id stands in for
    // the reference's label-row order (label files list anomalies in
    // ano_id order, so the two coincide on reference-shaped data).
    val series = if (refSeriesMode == "concat") {
      val tRank: org.apache.spark.sql.Column =
        if (traceOrder.isEmpty) $"trace_id".cast("string")
        else coalesce(
          // try_element_at, not element_at: under Spark 4's default ANSI
          // mode a trace_id absent from traceOrder would THROW
          // MAP_KEY_DOES_NOT_EXIST out of element_at, making the 'z_'
          // fallback unreachable for library callers with default
          // sessions (the EntropyReward.featIdxCol hazard, r14 ADVICE).
          lpad(try_element_at(
            map(traceOrder.zipWithIndex.flatMap { case (t, i) =>
              Seq(lit(t), lit(i)) }: _*), $"trace_id").cast("string"), 9, "0"),
          concat(lit("z_"), $"trace_id")) // unlisted traces: after, by id
      obs
        .where($"type_data" === 0)
        .groupBy("feature", seriesAlignKeys: _*)
        .agg(
          transform(
            array_sort(collect_list(struct(
              tRank.as("t_rank"), $"ano_id".cast("long").as("ano_id"),
              $"timestamp", $"value".cast("double").as("value")))),
            x => x.getField("value")
          ).as("series"))
    } else obs
      .where($"type_data" === 0)
      .groupBy("feature", seriesAlignKeys :+ "trace_id": _*)
      .agg(
        transform(
          array_sort(collect_list(struct(
            $"window_key", $"timestamp", $"value".cast("double").as("value")))),
          x => x.getField("value")
        ).as("series"))
      .drop("trace_id")

    // pattern = this window's ref rows (script-faithful) or ano rows
    val patternClass = if (patternFromRefWindow) 0 else 1
    val patterns = obs
      .where($"type_data" === patternClass)
      .groupBy("window_key", "feature" +: seriesAlignKeys: _*)
      .agg(collect_list(struct(
        $"trace_id".as("t"), $"timestamp".cast("long").as("ts"),
        $"type_data".cast("int").as("c"),
        $"value".cast("double").as("v"))).as("pattern"))

    val counted = patterns
      .join(series, "feature" +: seriesAlignKeys) // AQE: broadcast while small, SMJ at scale
      // explicit-N repartition (AQE honors user-specified counts): the
      // joined rows are byte-light but each carries an O(n*m) match
      // kernel — without the pin, AQE's coalescing packs them onto ONE
      // partition and the kernels run serially (measured 613 s for one
      // folder_1-scale config; ~30x less with the spread)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("trace_matches",
        matchCountUdf(col("pattern"), col("series"), lit(maxDistance)))
      .groupBy("window_key", "feature")
      .agg(sum("trace_matches").cast("int").as("n_matches"))
      .withColumn("feat_idx", EntropyReward.featIdxCol(featIdx, col("feature")))
      .select("window_key", "feature", "feat_idx", "n_matches")

    // kept iff n <= threshold; argmin-fallback if a window keeps nothing
    val wWin = Window.partitionBy("window_key")
    val wMin = Window.partitionBy("window_key").orderBy(col("n_matches").asc, col("feat_idx").asc)
    counted
      .withColumn("passes", col("n_matches") <= matchCountKeep)
      .withColumn("any_pass", max(when(col("passes"), 1).otherwise(0)).over(wWin) === 1)
      .withColumn("min_rank", row_number().over(wMin))
      .withColumn("kept", col("passes") || (!col("any_pass") && col("min_rank") === 1))
      .select("window_key", "feature", "n_matches", "kept")
  }

  /** Restrict an observation table to the features kept per window. */
  def filterObservations(obs: DataFrame, kept: DataFrame): DataFrame =
    obs.join(
      kept.where(col("kept")).select("window_key", "feature"),
      Seq("window_key", "feature"),
      "left_semi")
}
