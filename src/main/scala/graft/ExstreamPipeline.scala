package graft

import graft.Ckpt._
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
 * the WIDE rows (no shuffle) -> checkpoint -> resample explode + md5
 * sample per wide row -> wide moments: one array aggregate per resample,
 * the k x k correlation step's only job -> the wide rows hash-partitioned
 * on the resample id `rs` into `defaultParallelism` partitions, one pure
 * kernel per `rs` group for FP filter, reward and leap cut
 * ([[graft.functions.ExplainKernel]]) -> instability: collect_list of the
 * small `(rs, window_key, features)` output, a join back to the labels
 * and a UDF. Trace rows are never melted to long rows and never shuffled
 * per (window, feature); the only driver-side data are the per-resample
 * moment arrays and the final explanation rows.
 *
 * Steps 1-3 (correlation dedup -> FP filter -> reward + leap cutoff) are
 * composed once, in `explainWide`, over wide rows carrying `rs`:
 * [[explanatoryFeatures]] runs it on the full data alone (wide rows from
 * [[pivotWide]]), [[constructExplanations]] on the full data plus every
 * instability resample in one plan. Steps 2-3 of one window are
 * [[graft.functions.ExplainKernel.explainWindow]], the same function the
 * online operator (`StreamingOps.explainBuffered`) calls at window close.
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
      featureOrder, features, traceHas, cfg)
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
   * once. Step 1 takes every instance's correlation moments from one
   * aggregation pass over the wide rows. The wide rows are then
   * hash-partitioned on `rs` into `defaultParallelism` partitions, and
   * each `rs` group runs steps 2-3 in one task through
   * [[graft.functions.ExplainKernel.explainGroup]]: FP series are aligned
   * on `rs`, so a resampled window only matches against its own
   * resample's reference series.
   *
   * @param wide     wide rows `(rs, window_key, trace_id, timestamp,
   *                 type_data, <features>)`, one nullable column per
   *                 feature (null = empty cell)
   * @param features the value columns of `wide`: `featureOrder` first
   * @param traceHas the feature columns each trace has
   * @return `(rs, window_key, features: array<string>)`
   */
  private def explainWide(
      wide: DataFrame,
      featureOrder: Seq[String],
      features: IndexedSeq[String],
      traceHas: Map[String, Set[String]],
      cfg: ExstreamConfig): DataFrame = {
    val spark = wide.sparkSession
    import spark.implicits._

    // step 1, per rs: correlation-cluster feature dedup — the reference
    // re-runs get_explanatory_features (clustering included) on each
    // resample (`script_1.py:213-222`), so feature selection is per-rs;
    // all moment arrays come from ONE aggregation pass over the wide rows.
    val selByRs: Map[Int, Seq[String]] =
      if (cfg.cluster && featureOrder.size > 1)
        CorrelationFilter.selectFeaturesBy(wide, featureOrder, cfg.correlationThreshold, "rs")
      else Map.empty

    // steps 2-3, per rs group: explicit-N repartition (AQE honors a
    // user-specified count) — each group carries O(n*m) match kernels,
    // and without the pin AQE packs the few byte-light groups onto ONE
    // task and runs them serially
    val k = features.size
    wide.select(Seq(col("rs").cast("int"), col("window_key").cast("string"),
        col("trace_id").cast("string"), col("timestamp").cast("long"),
        col("type_data").cast("int")) ++
        features.map(f => col(quoted(f)).cast("double")): _*)
      .repartition(spark.sparkContext.defaultParallelism, col("rs"))
      .mapPartitions { it =>
        val groups = scala.collection.mutable.LinkedHashMap[Int, ExplainKernel.WideRows]()
        val v = new Array[Double](k)
        val empty = new Array[Boolean](k)
        it.foreach { r =>
          var j = 0
          while (j < k) {
            empty(j) = r.isNullAt(5 + j)
            v(j) = if (empty(j)) 0.0 else r.getDouble(5 + j)
            j += 1
          }
          groups.getOrElseUpdate(r.getInt(0), new ExplainKernel.WideRows(k))
            .add(r.getString(1), r.getString(2), r.getLong(3), r.getInt(4), v, empty)
        }
        groups.iterator.flatMap { case (rs, rows) =>
          val selected = selByRs.getOrElse(rs, features).toSet
          ExplainKernel.explainGroup(rows, features, traceHas, selected, cfg)
            .map { case (w, f) => (rs, w, f) }
        }
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
    // instances share ONE plan — one moments aggregate for the correlation
    // step, one rs-partitioned kernel stage for FP, reward and leap —
    // instead of N+1 serial plan executions. Sampling is a deterministic
    // md5 hash of the wide-row key, applied to the WIDE rows — the
    // reference samples whole wide rows, i.e. every feature of a (window,
    // class, timestamp) jointly (`script_1.py:228-230`) — kept iff the
    // 16-bit md5 prefix is under round(cfg.sampleFraction*65536) (exact to
    // 1/65536), seeded via cfg.seed.
    // checkpoint the 1x labeled wide table, NOT the (rounds+1)x exploded
    // view: the explode + md5 filter is a narrow, cheap projection
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
    val traceHas = traces.map(t => t.id -> t.metrics.toSet).toMap
    val expl = explainWide(wide, featureOrder,
      allFeatures(featureOrder, traces.flatMap(_.metrics)), traceHas, cfg)
    (expl, labels, featureOrder)
  }
}
