package graft

import graft.functions.ExplainKernel
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
 * each file's header, no inference job) -> ONE broadcast interval join of
 * the WIDE rows -> resample explode + md5 sample per wide row -> one
 * shuffle that gives every resample id `rs` its own partition -> ONE
 * kernel stage, one task per `rs` group running correlation selection,
 * FP filter, reward and leap cut ([[graft.functions.ExplainKernel]]) ->
 * instability: one aggregate per window of the small `(rs, window_key,
 * features)` output (main explanation + resample list), one join back to
 * the labels and a UDF. Building the plan runs no job; the kernel stage
 * runs once. Trace rows are never melted to long rows and never shuffled
 * per (window, feature); the only driver-side data are the final
 * explanation rows.
 *
 * Steps 1-3 (correlation dedup -> FP filter -> reward + leap cutoff) are
 * composed once, in `explainWide`, over wide rows carrying `rs`:
 * [[explanatoryFeatures]] runs it on the full data alone (wide rows from
 * [[pivotWide]]), [[constructExplanations]] on the full data plus every
 * instability resample in one plan. The online operator
 * (`StreamingOps.explainBuffered`) calls the same kernel,
 * [[graft.functions.ExplainKernel.explainGroup]], over each closed window.
 */
object ExstreamPipeline {

  /**
   * The core explanation query (§3.2): given labeled observations, return
   * per window the ranked-and-filtered explanatory feature list — the
   * single-instance run of [[explainWide]] over the observations' wide
   * pivot ([[pivotWide]]).
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
      cfg: ExstreamConfig): DataFrame = {
    val traceHas = obs.groupBy(col("trace_id").cast("string"))
      .agg(collect_set("feature")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    val features = allFeatures(featureOrder, traceHas.values.flatten)
    explainWide(pivotWide(obs, features).withColumn("rs", lit(-1)),
      featureOrder, features, traceHas, groups = 1, cfg)
      .select("window_key", "features")
  }

  /** The resample id folded into a window key: `"<rs>#<key>"`, so every
    * resample instance of an events-table explanation query rides the same
    * per-window shuffles (`Queries.exstreamInstability`). */
  private[graft] def rsKey(key: Column): Column = concat_ws("#", col("rs"), key)

  /** Inverse of [[rsKey]] on a frame's `window_key`: splits off `rs` (int)
    * at the first `#` and restores the original key. */
  private[graft] def unfoldRs(df: DataFrame): DataFrame = {
    val parts = split(col("window_key"), "#", 2)
    df.withColumn("rs", parts.getItem(0).cast("int"))
      .withColumn("window_key", parts.getItem(1))
  }

  /** The feature order followed by every other column a trace has, by
    * name: the value slots of [[explainWide]]'s wide rows. */
  private def allFeatures(featureOrder: Seq[String], columns: Iterable[String]): IndexedSeq[String] =
    (featureOrder ++ columns.toSeq.distinct.filterNot(featureOrder.toSet).sorted).toIndexedSeq

  /**
   * Steps 1-3 of the explanation query — correlation dedup, FP filter,
   * entropy reward + leap cutoff — for every resample instance `rs` at
   * once. The wide rows are shuffled so that every `rs` group is one
   * partition, and each group runs steps 1-3 in its own task through
   * [[graft.functions.ExplainKernel.explainGroup]]. The reference re-runs
   * get_explanatory_features, clustering included, on each resample
   * (`script_1.py:213-222`), so correlation selection is per `rs`; FP
   * series are aligned on `rs`, so a resampled window only matches
   * against its own resample's reference series.
   *
   * @param wide     wide rows `(rs, window_key, trace_id, timestamp,
   *                 type_data, <features>)`, one nullable column per
   *                 feature (null = empty cell), `rs` in `[-1, groups - 1)`
   * @param features the value columns of `wide`: `featureOrder` first
   * @param traceHas the feature columns each trace has
   * @param groups   the number of `rs` values
   * @return `(rs, window_key, features: array<string>)`
   */
  private def explainWide(
      wide: DataFrame,
      featureOrder: Seq[String],
      features: IndexedSeq[String],
      traceHas: Map[String, Set[String]],
      groups: Int,
      cfg: ExstreamConfig): DataFrame = {
    val spark = wide.sparkSession
    import spark.implicits._

    // partition id = rs + 1: one task per group, with no hash collisions
    // and no sampling job; an explicit count, so AQE cannot coalesce the
    // byte-light groups onto one task and run their O(n*m) match kernels
    // serially
    val k = features.size
    wide.select(Seq(col("rs").cast("int"), col("window_key").cast("string"),
        col("trace_id").cast("string"), col("timestamp").cast("long"),
        col("type_data").cast("int")) ++
        features.map(f => col(quoted(f)).cast("double")): _*)
      .repartitionById(groups, col("rs") + 1)
      .mapPartitions { it =>
        val rows = new ExplainKernel.WideRows(k)
        var rs = 0
        val v = new Array[Double](k)
        val empty = new Array[Boolean](k)
        it.foreach { r =>
          var j = 0
          while (j < k) {
            empty(j) = r.isNullAt(5 + j)
            v(j) = if (empty(j)) 0.0 else r.getDouble(5 + j)
            j += 1
          }
          rs = r.getInt(0)
          rows.add(r.getString(1), r.getString(2), r.getLong(3), r.getInt(4), v, empty)
        }
        ExplainKernel.explainGroup(rows, features, featureOrder, traceHas, cfg)
          .iterator.map { case (w, f) => (rs, w, f) }
      }
      .toDF("rs", "window_key", "features")
  }

  /** `name` as a column reference. */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

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
    * (window, trace, timestamp, type_data)) — the input of
    * `FeatureImportance.randomForestImportances` and of
    * [[explanatoryFeatures]]. */
  def pivotWide(obs: DataFrame, featureOrder: Seq[String]): DataFrame =
    obs.groupBy("window_key", "trace_id", "timestamp", "type_data")
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
    val (expl, labels, featureOrder) = explainFolder(spark, dataFolder, labelFilename, cfg)
    val featIdx = featureOrder.zipWithIndex.toMap

    // the kernel output read once: per window its main explanation (rs -1;
    // a window without one is dropped) and its resample explanations
    // (rs >= 0; none gives instability 0.0)
    val byWindow = expl.groupBy("window_key").agg(
        first(when(col("rs") === -1, col("features")), ignoreNulls = true).as("features"),
        collect_list(when(col("rs") >= 0, col("features"))).as("exps"))
      .where(col("features").isNotNull)

    val instabilityUdf = udf { (exps: Seq[Seq[String]]) =>
      graft.functions.EntropyCore.instabilityEntropy(exps)
    }

    // window_key = ano_type_trace_id_label_row; join back to labels on the
    // real key (SURVEY §2.3 J3: the reference's positional merge is replaced
    // by an explicit key join)
    val keyed = labels.select(
      concat_ws("_", col("ano_type"), col("trace_id"), col("label_row")).as("window_key"),
      col("trace_id"), col("ano_id"))

    keyed.join(byWindow, Seq("window_key"), "inner")
      .withColumn("explanation", transform(col("features"),
        f => EntropyReward.featIdxCol(featIdx, f, default = -1)))
      .withColumn("exp_size", size(col("explanation")))
      .withColumn("exp_instability", instabilityUdf(col("exps")))
      .select("trace_id", "ano_id", "explanation", "exp_size", "exp_instability")
  }

  /** [[constructExplanations]] up to the explanation of every window in
    * every resample instance, before the instability tail.
    *
    * @return `((rs, window_key, features: array<string>), labels with
    *         ano_type, feature order)` */
  private[graft] def explainFolder(
      spark: SparkSession,
      dataFolder: String,
      labelFilename: String,
      cfg: ExstreamConfig): (DataFrame, DataFrame, Seq[String]) = {
    val (traces, featureOrder) = Sources.readTracesWide(spark, dataFolder, labelFilename)
    val labels = Sources.readLabels(spark, s"$dataFolder/$labelFilename.csv")
      .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
    val wide0 = IntervalLabeler.labelObservations(Sources.unionWide(traces), labels)

    // instability: the explanation query re-run on N 80% resamples
    // (`script_1.py:227-241`). The resample id `rs` (-1 = full data,
    // 0..N-1 = samples) rides every wide row, so ALL N+1 pipeline
    // instances share ONE plan and one kernel stage, one task per rs,
    // instead of N+1 serial plan executions. Sampling is a deterministic
    // md5 hash of the wide-row key, applied to the WIDE rows — the
    // reference samples whole wide rows, i.e. every feature of a (window,
    // class, timestamp) jointly (`script_1.py:228-230`) — kept iff the
    // 16-bit md5 prefix is under round(cfg.sampleFraction*65536) (exact to
    // 1/65536), seeded via cfg.seed.
    // No checkpoint: the kernel stage's shuffle is the labeled wide rows'
    // only consumer, so the scan, the label join and the explode + md5
    // filter run once, map-side of it; a checkpoint would only add a
    // materialization.
    val rsValues = -1 until cfg.instabilityRounds
    val sampled =
      if (cfg.sampleFraction >= 1.0) lit(true)
      else md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
        col("timestamp"), col("rs")).cast("binary")) < sampleCutoffHex(cfg.sampleFraction)
    val wide = wide0
      .withColumn("rs", explode(array(rsValues.map(lit(_)): _*)))
      .where(col("rs") === -1 || sampled)
    val traceHas = traces.map(t => t.id -> t.metrics.toSet).toMap
    val expl = explainWide(wide, featureOrder,
      allFeatures(featureOrder, traces.flatMap(_.metrics)), traceHas, rsValues.size, cfg)
    (expl, labels, featureOrder)
  }
}
