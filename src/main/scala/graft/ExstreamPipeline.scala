package graft

import graft.Ckpt._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Sources

/**
 * The full EXstream explanation pipeline (SURVEY.md §3):
 * `construct_explanations` / `get_explanatory_features`
 * (`/root/reference/script_1.py:34-95,118-184`) re-expressed as lazy Spark
 * plans over the trace rows.
 *
 * Stage shape (§3.4) of [[constructExplanations]]: wide scan (schema from
 * each file's header, no inference job) -> broadcast interval join of the
 * WIDE rows (no shuffle) -> checkpoint -> resample explode + md5 sample
 * per wide row -> wide moments: one array aggregate per resample, the
 * k x k correlation step's only job -> melt to long rows with each
 * trace's own columns -> groupBy(window, feature) shuffle for match
 * counts + rewards -> window-function leap cutoff -> collect_list per
 * window. All heavy work is executor-side and embarrassingly parallel
 * across (window x feature); the only driver-side data are the per-resample
 * moment arrays and the final explanation rows.
 *
 * Steps 1-3 (correlation dedup -> FP filter -> reward + leap cutoff) are
 * composed once, in `explainByRs`, which takes the wide rows for step 1
 * and the long rows for steps 2-3: [[explanatoryFeatures]] runs it on the
 * full data alone (wide rows from [[pivotWide]]), [[constructExplanations]]
 * on the full data plus every instability resample in one plan.
 */
object ExstreamPipeline {

  /**
   * The core explanation query (§3.2): given labeled observations, return
   * per window the ranked-and-filtered explanatory feature list — the
   * single-instance run of [[explainByRs]].
   *
   * Re-keying is the whole group-level variant (SURVEY §3.3): the notebook
   * computes rewards per ANOMALY TYPE (`testing.ipynb` cells 21-26), which
   * is this query over `obs.withColumn("window_key", col("ano_type"))`.
   *
   * @param obs          long observation table (IntervalLabeler output)
   * @param featureOrder original feature column order (ranking tie-break)
   * @return `(window_key, features: array<string>)`
   */
  def explanatoryFeatures(
      obs: DataFrame,
      featureOrder: Seq[String],
      cfg: ExstreamConfig): DataFrame =
    explainByRs(pivotWide(obs, featureOrder).withColumn("rs", lit(-1)),
      obs.withColumn("rs", lit(-1)), featureOrder, cfg, Seq(-1))
      .select("window_key", "features")

  /** The resample id folded into a window key: `"<rs>#<key>"`, so every
    * pipeline instance rides the same per-window shuffles. */
  private[graft] def rsKey(key: Column): Column = concat_ws("#", col("rs"), key)

  /** Inverse of [[rsKey]] on a frame's `window_key`: splits off `rs` (int)
    * at the first `#` and restores the original key. */
  private[graft] def unfoldRs(df: DataFrame): DataFrame = {
    val parts = split(col("window_key"), "#", 2)
    df.withColumn("rs", parts.getItem(0).cast("int"))
      .withColumn("window_key", parts.getItem(1))
  }

  /**
   * Steps 1-3 of the explanation query — correlation dedup, FP filter,
   * entropy reward + leap cutoff — for every resample instance at once.
   * The resample id is folded into the window key ([[rsKey]]), so all
   * instances ride the SAME shuffles instead of one plan execution each.
   *
   * @param wide     wide rows of `obs` (one nullable column per feature)
   *                 carrying the same int `rs` column: step 1's input
   * @param obs      long observation table carrying an int `rs` column
   * @param rsValues every `rs` value `obs` may hold (-1 = full data)
   * @return `(rs, window_key, features: array<string>)`
   */
  private def explainByRs(
      wide: DataFrame,
      obs: DataFrame,
      featureOrder: Seq[String],
      cfg: ExstreamConfig,
      rsValues: Seq[Int]): DataFrame = {
    val folded = obs.withColumn("window_key", rsKey(col("window_key")))

    // step 1, per rs: correlation-cluster feature dedup — the reference
    // re-runs get_explanatory_features (clustering included) on each
    // resample (`script_1.py:213-222`), so feature selection is per-rs;
    // all moment arrays come from ONE aggregation pass over the wide rows.
    val obsSel =
      if (cfg.cluster && featureOrder.size > 1) {
        val selByRs = CorrelationFilter.selectFeaturesBy(
          wide, featureOrder, cfg.correlationThreshold, "rs")
        val keep = rsValues.map { r =>
          col("rs") === r && col("feature").isin(selByRs.getOrElse(r, featureOrder): _*)
        }.reduce(_ || _)
        folded.where(keep)
      } else folded

    // step 2, per rs: FP filter; series align on rs so a resampled window
    // only matches against its own resample's reference series
    val featIdx = featureOrder.zipWithIndex.toMap
    val obsFiltered =
      if (cfg.falsePositiveFiltering) {
        val kept = FalsePositiveFilter.matchCounts(
          obsSel, featIdx, cfg.maxDistance, cfg.matchCountKeep,
          cfg.patternFromRefWindow, seriesAlignKeys = Seq("rs"))
        FalsePositiveFilter.filterObservations(obsSel, kept)
      } else obsSel

    // step 3: rewards + leap cutoff, all instances through one shuffle
    val rewards = EntropyReward.rewards(obsFiltered, cfg.applyWorstCase)
      .withColumn("feat_idx", EntropyReward.featIdxCol(featIdx, col("feature")))
    unfoldRs(LeapFilter.explanations(rewards)).select("rs", "window_key", "features")
  }

  /** 16-bit md5-prefix cutoff for a given sample fraction: a 32-hex-char
    * md5 compares lexicographically below the 4-hex-char cutoff iff its
    * 16-bit prefix is below `round(fraction * 65536)`, so the kept
    * fraction is exact to 1/65536 (e.g. 0.8 -> "cccd" = 0.800003) and
    * reproducible in any engine with md5. Fractions <= 0 keep nothing.
    * Fractions rounding to 65536 return "g" — every hex digit sorts
    * below 'g', so ALL rows are kept (the naive "10000" would be a
    * 5-char string most md5s sort ABOVE, silently keeping only the
    * '0'-prefixed ~6%). */
  private[graft] def sampleCutoffHex(fraction: Double): String = {
    val n = math.max(0L, math.min(65536L, math.round(fraction * 65536)))
    if (n >= 65536L) "g" else f"$n%04x"
  }

  /** Pivot the long observation table back to wide (one row per
    * (window, timestamp, type_data)) — the input of
    * `FeatureImportance.randomForestImportances` and [[explanatoryFeatures]]'
    * correlation step. */
  def pivotWide(obs: DataFrame, featureOrder: Seq[String]): DataFrame =
    obs.groupBy("window_key", "timestamp", "type_data")
      .pivot("feature", featureOrder)
      .agg(first("value"))

  /**
   * End-to-end batch pipeline over a trace folder (§3.1), including
   * explanation indices, exp_size and the resampled instability metric.
   *
   * @return `(trace_id, ano_id, explanation array<int>, exp_size,
   *          exp_instability)` — the reference's output CSV schema
   *          (`script_1.py:159-184`)
   */
  def constructExplanations(
      spark: SparkSession,
      dataFolder: String,
      labelFilename: String,
      cfg: ExstreamConfig): DataFrame = {
    val (traces, featureOrder) = Sources.readTracesWide(spark, dataFolder, labelFilename)
    val labels = Sources.readLabels(spark, s"$dataFolder/$labelFilename.csv")
      .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
    val wide0 = IntervalLabeler.labelObservations(Sources.unionWide(traces), labels)

    // instability: the explanation query re-run on N 80% resamples
    // (`script_1.py:227-241`). The resample id `rs` (-1 = full data,
    // 0..N-1 = samples) is folded into the window key by `explainByRs`,
    // so ALL N+1 pipeline instances ride the SAME shuffles — correlation
    // moments, FP patterns/series, rewards, leap — instead of N+1 serial
    // plan executions (~(N+1)x the shuffled bytes, zero extra stages; q38's
    // proven shape). Sampling is a deterministic md5 hash of the wide-row
    // key, applied to the WIDE rows — the reference samples whole wide
    // rows, i.e. every feature of a (window, class, timestamp) jointly
    // (`script_1.py:228-230`) — kept iff the 16-bit md5 prefix is under
    // round(cfg.sampleFraction*65536) (exact to 1/65536), seeded via
    // cfg.seed. The correlation moments read the sampled wide rows; the
    // melt to long rows, with each trace's own columns, comes after.
    // checkpoint the 1x labeled wide table, NOT the (rounds+1)x exploded
    // view: the explode + md5 filter + melt is a narrow, cheap projection
    // recomputed per consuming subtree, while materializing after the
    // explode would pin ~6x the observation bytes — the difference
    // between "fits in cluster memory" and "doesn't" at full scale.
    // localCheckpoint (owned lifecycle), not cache(): blocks stay out of
    // the catalog cache and the ContextCleaner frees them when the plan
    // drops, so repeated constructExplanations calls in a long-lived
    // session don't accumulate InMemoryRelations.
    val rsValues = -1 until cfg.instabilityRounds
    val sampled =
      if (cfg.sampleFraction >= 1.0) lit(true)
      else md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
        col("timestamp"), col("rs")).cast("binary")) < sampleCutoffHex(cfg.sampleFraction)
    val wide = wide0.ckptLazy
      .withColumn("rs", explode(array(rsValues.map(lit(_)): _*)))
      .where(col("rs") === -1 || sampled)
    val expl = explainByRs(wide, Sources.meltTraces(wide, traces), featureOrder, cfg, rsValues)
    val featIdx = featureOrder.zipWithIndex.toMap

    val main = expl.where(col("rs") === -1).select("window_key", "features")
    val resamples = expl.where(col("rs") >= 0)
      .groupBy("window_key").agg(collect_list(col("features")).as("exps"))

    val instabilityUdf = udf { (exps: Seq[Seq[String]]) =>
      graft.functions.EntropyCore.instabilityEntropy(
        Option(exps).getOrElse(Seq.empty).filter(_ != null))
    }

    // window_key = ano_type_trace_id_label_row; join back to labels on the
    // real key (SURVEY §2.3 J3: the reference's positional merge is replaced
    // by an explicit key join)
    val keyed = labels.select(
      concat_ws("_", col("ano_type"), col("trace_id"), col("label_row")).as("window_key"),
      col("trace_id"), col("ano_id"))

    keyed.join(main, Seq("window_key"), "inner")
      .join(resamples, Seq("window_key"), "left")
      .withColumn("explanation", transform(col("features"),
        f => EntropyReward.featIdxCol(featIdx, f, default = -1)))
      .withColumn("exp_size", size(col("explanation")))
      .withColumn("exp_instability", instabilityUdf(col("exps")))
      .select("trace_id", "ano_id", "explanation", "exp_size", "exp_instability")
  }
}
