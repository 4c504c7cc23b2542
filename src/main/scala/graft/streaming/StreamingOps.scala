package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The EXstream online operator. The reference is a post-hoc batch
 * analysis of recorded streams; the paper's system is online: an
 * explanation is triggered the moment an annotated anomaly window
 * closes (`exstream.pdf` §1). [[explainOnCloseCfg]] does that over a
 * stream of labeled observations ([[StreamObs]]): it buffers each
 * window's rows in keyed state and, at the close marker (or an
 * event-/processing-time timeout), emits the window's explanation from
 * [[explainBuffered]] — the same pure kernels the batch plan uses, in
 * the batch stage order, under any of the four (cluster, fp) configs.
 * [[refSeriesRegistry]] supplies the trace-wide FP reference series a
 * single window's buffer lacks.
 *
 * Beside it sit the stock Structured Streaming shapes it stands on —
 * watermarked tumbling and session windows, a stream-stream interval
 * join, watermark-bounded dedup — and the two stateless ingest stages
 * that delegate to the batch q106/q175 definitions. Each is a thin
 * wrapper over a built-in Spark operator; StreamingSpec and
 * StreamingStateSpec pin their answers and state bounds.
 */
object StreamingOps {

  /** Watermarked tumbling-window rollup of a metric stream — the
    * streaming analogue of the per-window aggregations (counts, sums)
    * the batch engine computes. Append-mode safe. */
  def windowedMetricRollup(
      events: DataFrame, // (ts: timestamp, trace_id/feature keys, value)
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("feature"))
      .agg(
        count(lit(1)).as("n"),
        sum("value").as("sum_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))

  /** Watermarked windowed CARDINALITY rollup: distinct users per
    * tumbling window via the HLL++ sketch — `approx_count_distinct` is
    * a mergeable kilobyte aggregation state, so the streaming state per
    * open window is bounded regardless of how many distinct keys the
    * window sees (exact distinct would buffer every key). The
    * batch-side sketch error bound is pinned by QuantileSketchSpec; the
    * streaming test checks exactness at test cardinalities. */
  def windowedDistinctUsers(
      events: DataFrame, // (ts: timestamp, user_id, ...)
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(approx_count_distinct("user_id", rsd).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("n_users_approx"), col("n_events"))

  /** Streaming analogue of the batch gap-sessionization (q50): session
    * windows per key close when a gap exceeds `gap`, finalized by the
    * watermark — state per open session only, bounded like any session
    * aggregation. Append-mode safe. */
  def sessionRollup(
      events: DataFrame, // (ts: timestamp, user_id, ...)
      gap: String = "12 hours",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /**
   * Stream-stream event-time interval join — click->purchase
   * attribution: each purchase matched to every click by the same user
   * in the preceding `horizon`. Both inputs carry watermarks and the
   * join predicate bounds event time on BOTH ends, which is exactly the
   * contract Spark needs to evict buffered rows once the watermark
   * passes their interval — state stays proportional to the horizon,
   * not the stream history, on any number of executors (the join keys
   * shard it). Inner join + append mode: a purchase with no click in
   * the horizon never emits.
   */
  def attributeToClick(
      clicks: DataFrame, // (ts: timestamp, user_id, click_id)
      purchases: DataFrame, // (ts: timestamp, user_id, purchase_id, value)
      horizon: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("ts").as("click_ts"), col("user_id"), col("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("ts").as("purchase_ts"), col("user_id").as("purchase_user"),
        col("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("user_id") === col("purchase_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "value")
  }

  /**
   * Streaming ingest dedup — the training-data pipeline's exact dedup
   * (q21) applied AT INGEST: suppress any document whose content hash was
   * already seen, with state bounded by the watermark
   * (`dropDuplicatesWithinWatermark`) so the dedup store does not grow
   * with the full corpus — the batch dedup pass remains the global
   * backstop across watermark horizons. State shards by hash across
   * executors like any keyed stream.
   *
   * @param docs streaming DataFrame with an event-time column `tsCol`
   *             and the document text in `textCol`
   */
  def dedupIngest(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_md5", md5(encode(col(textCol), "UTF-8")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_md5")


  /**
   * q106's streaming twin — PII redaction AT INGEST, the place a
   * production pipeline actually runs the cleaning stage (documents are
   * redacted before they ever land in the lake, so raw PII never
   * persists). A pure stateless codegen projection over `(doc_id,
   * atext)` — no state store, no watermark, scales as a map stage —
   * that DELEGATES to the same [[graft.Queries.piiReport]] definition
   * the batch query checks against DuckDB, so the batch and streaming
   * redaction semantics cannot drift (StreamingSpec replays the live
   * fixture and proves row-set equality with the batch q106 output).
   */
  def redactIngest(docs: DataFrame): DataFrame = graft.Queries.piiReport(docs)

  /**
   * Streaming banned-phrase blocklist scan — the phrase-filtering twin
   * of [[redactIngest]]: one Aho-Corasick pass per arriving document
   * matches the whole blocklist simultaneously (O(|text| + matches)
   * regardless of blocklist size), emitting per-(doc, pattern) hit
   * counts for quarantine routing. A pure stateless codegen-adjacent
   * projection — no state store, no watermark, scales as a map stage —
   * that DELEGATES to the same [[graft.Queries.blocklistHits]]
   * definition the batch query (q175) checks against DuckDB, so batch
   * and streaming match semantics cannot drift (StreamingSpec replays
   * the live fixture and proves row-set equality with the batch q175
   * output).
   */
  def blocklistIngest(
      docs: DataFrame,
      patterns: Seq[String] = graft.Queries.blocklistPatterns): DataFrame =
    graft.Queries.blocklistHits(docs, patterns)

  /**
   * Trace-wide FP reference-series registry for [[explainOnCloseCfg]]:
   * the batch FP filter matches a window's pattern against the
   * reference series of the WHOLE trace
   * (`FalsePositiveFilter.matchCounts` groups series per (feature,
   * trace)), while an online operator only holds the closing window's
   * buffer. Building the series ONCE from recorded history and handing
   * the map to [[explainOnCloseCfg]] narrows that gap: a closing window
   * then matches against the series batch would use, not just its own
   * rows.
   *
   * Ordering is the batch canonicalization — (window_key, timestamp,
   * value) — so the concatenation across windows is identical to the
   * batch collect_list sort. The collect is driver-sized by the same
   * argument as CorrelationFilter's k×k moments: one series per
   * feature, bounded by the trace's reference span (the paper's system
   * bounds buffered history the same way); deployments with unbounded
   * traces keep the window-local default (empty registry).
   */
  def refSeriesRegistry(obs: DataFrame): Map[String, Array[Double]] =
    obs.where(col("type_data") === 0)
      .groupBy("feature")
      .agg(transform(
        array_sort(collect_list(struct(
          col("window_key"), col("timestamp"),
          col("value").cast("double").as("value")))),
        x => x.getField("value")).as("series"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray)
      .toMap

  /** A labeled observation arriving on the stream. `type_data` -1 marks a
    * span-close control record for the window key. */
  case class StreamObs(window_key: String, feature: String, timestamp: Long,
                       type_data: Int, value: Double)

  /** A closed window's finished EXstream explanation. */
  case class StreamExplanation(window_key: String, n_obs: Int,
                               explanation: Seq[String])

  /** Per-window buffer with an O(1) size counter (List.size is O(n) —
    * counting per arriving row would be quadratic in window length) and
    * the max event time seen, which drives the event-time timeout. */
  case class WindowBuffer(n: Int, maxTsMs: Long, rows: List[StreamObs])

  /** Timeout plumbing of [[explainOnCloseCfg]].
    *
    * Event-time mode is the paper's trigger model made robust to LOST
    * close markers: the watermark (not the wall clock) decides that a
    * window can no longer receive rows, so replaying a recorded stream
    * fires the same timeouts at the same event times. `StreamObs.timestamp`
    * is interpreted as epoch milliseconds for watermarking; a window with
    * no close marker is force-closed when the watermark passes
    * `max(observed event time) + timeoutSpanMs`. */
  private def withEventTimeWatermark(
      obs: Dataset[StreamObs], eventTimeout: Boolean, watermarkDelay: String): Dataset[StreamObs] = {
    import obs.sparkSession.implicits._
    if (eventTimeout)
      obs.withColumn("event_ts", timestamp_millis(col("timestamp")))
        .withWatermark("event_ts", watermarkDelay)
        .as[StreamObs]
    else obs
  }

  /** Arm the state's timeout for the configured mode (call after every
    * `state.update`). The event-time timestamp is clamped one ms above the
    * current watermark — Spark rejects a timeout at or before it. */
  private def armTimeout(
      state: GroupState[WindowBuffer], buf: WindowBuffer,
      procTimeout: Boolean, eventTimeout: Boolean,
      timeoutDuration: String, timeoutSpanMs: Long): Unit = {
    if (procTimeout) state.setTimeoutDuration(timeoutDuration)
    if (eventTimeout) state.setTimeoutTimestamp(
      math.max(buf.maxTsMs + timeoutSpanMs, state.getCurrentWatermarkMs() + 1))
  }

  /**
   * The paper's ONLINE behavior (`exstream.pdf` §1: explanations
   * triggered as annotated anomaly windows close): buffer observations
   * per window, and the moment the close marker arrives, emit the full
   * EXstream explanation ([[explainBuffered]]) under the FULL batch
   * configuration surface: all four (cluster, falsePositiveFiltering)
   * configs of the reference's loop run online, so a streaming
   * deployment answers exactly what the batch pipeline answers
   * (StreamingSpec pins the parity per config).
   *
   * Scale shape: state and the at-close computation are bounded by one
   * window's span (label spans are 1-2k ticks in the reference data, and
   * `maxBuffered` caps adversarial input), and windows are independent
   * groups — state shards across executors like any keyed stream.
   */
  def explainOnCloseCfg(
      obs: Dataset[StreamObs],
      featureOrder: Seq[String],
      cfg: graft.ExstreamConfig,
      maxBuffered: Int = 100000,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
      timeoutDuration: String = "1 hour",
      timeoutSpanMs: Long = 3600000L,
      watermarkDelay: String = "10 seconds",
      refSeries: Map[String, Array[Double]] = Map.empty): Dataset[StreamExplanation] = {
    import obs.sparkSession.implicits._
    val procTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    val eventTimeout = timeout == GroupStateTimeout.EventTimeTimeout()
    withEventTimeWatermark(obs, eventTimeout, watermarkDelay)
      .groupByKey(_.window_key)
      .flatMapGroupsWithState[WindowBuffer, StreamExplanation](
        OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[StreamObs], state: GroupState[WindowBuffer]) =>
          var buf = state.getOption.getOrElse(WindowBuffer(0, Long.MinValue, Nil))
          var close = false
          rows.foreach { r =>
            if (r.type_data < 0) close = true
            else if (buf.n < maxBuffered)
              buf = WindowBuffer(buf.n + 1, math.max(buf.maxTsMs, r.timestamp), r :: buf.rows)
          }
          if (close || state.hasTimedOut) {
            state.remove()
            Iterator.single(StreamExplanation(
              key, buf.n, explainBuffered(buf.rows, featureOrder, cfg, refSeries)))
          } else {
            state.update(buf)
            armTimeout(state, buf, procTimeout, eventTimeout, timeoutDuration, timeoutSpanMs)
            Iterator.empty
          }
      }
  }

  /**
   * Pure per-window explanation over a closed buffer — ALL FOUR batch
   * configs, via the same pure kernels the batch plan uses, in the batch
   * stage order:
   *
   *  1. correlation-cluster feature dedup
   *     ([[graft.operators.CorrelationFilter.selectFeaturesLocal]] — the
   *     identical moment math + union-find, over this window's rows);
   *  2. subsequence-match false-positive filter
   *     ([[graft.functions.MatchKernel.matchCount]] with the batch
   *     threshold/fallback semantics);
   *  3. entropy rewards + leap cutoff ([[graft.functions.EntropyCore]]).
   *
   * Input order is irrelevant: every stage canonicalizes internally
   * (moments are order-free sums, patterns/series sort by timestamp, the
   * segmentation kernel sorts by (value, class)), so arrival-order
   * nondeterminism on the stream cannot change the answer.
   *
   * Scope note (the online boundary): steps 1-2 see THIS window's
   * buffered rows — the only data an online operator has at close. Batch
   * computes step 1's moments over all windows and step 2's reference
   * series over all windows of the trace, so streaming == batch exactly
   * when the batch input is the single closing window (the parity test's
   * shape); across multiple windows the streaming answer is the
   * window-local approximation, bounded by the same reasoning as the
   * multi-trace series note in [[graft.operators.FalsePositiveFilter]].
   * A non-empty `refSeries` ([[refSeriesRegistry]]) removes the step-2
   * half of that boundary: the FP match then runs against the recorded
   * trace-wide series, and a multi-window trace's close reproduces the
   * batch FP decision exactly (StreamingSpec's two-window case). Step
   * 1's correlation moments remain window-local — a moments registry
   * would be the same pattern if ever needed.
   */
  def explainBuffered(
      buf: Seq[StreamObs],
      featureOrder: Seq[String],
      cfg: graft.ExstreamConfig,
      refSeries: Map[String, Array[Double]] = Map.empty): Seq[String] = {
    import graft.functions.{EntropyCore, MatchKernel}

    // step 1: correlation-cluster dedup over the window's wide pivot
    val selected: Seq[String] =
      if (cfg.cluster)
        graft.operators.CorrelationFilter.selectFeaturesLocal(
          buf.map(r => (r.timestamp, r.type_data, r.feature, r.value)),
          featureOrder, cfg.correlationThreshold)
      else featureOrder
    val byFeature = buf.groupBy(_.feature)
    val present = selected.filter(byFeature.contains)

    // step 2: FP filter — kept iff the window pattern matches the ref
    // series <= matchCountKeep times; argmin fallback if nothing survives
    val featIdx = featureOrder.zipWithIndex.toMap
    val fpKept: Set[String] =
      if (cfg.falsePositiveFiltering && present.nonEmpty) {
        val patternClass = if (cfg.patternFromRefWindow) 0 else 1
        // batch inner-join semantics: a feature participates only with a
        // non-empty pattern AND a non-empty reference series
        val counts = present.flatMap { f =>
          val rows = byFeature(f)
          // registry series (trace-wide, batch-identical) when available;
          // the window's own ref rows otherwise
          val series = refSeries.getOrElse(f,
            rows.filter(_.type_data == 0)
              .sortBy(r => (r.timestamp, r.value)).map(_.value).toArray)
          val pattern = rows.filter(_.type_data == patternClass)
            .sortBy(r => (r.timestamp, r.value)).map(_.value).toArray
          if (pattern.isEmpty || series.isEmpty) None
          else Some(f -> MatchKernel.matchCount(pattern, series, cfg.maxDistance))
        }
        val passing = counts.filter(_._2 <= cfg.matchCountKeep).map(_._1)
        if (passing.nonEmpty) passing.toSet
        else if (counts.isEmpty) Set.empty[String]
        else Set(counts.minBy { case (f, n) => (n, featIdx.getOrElse(f, Int.MaxValue)) }._1)
      } else present.toSet

    // step 3: rewards + leap cutoff
    val rewards = present.filter(fpKept).flatMap { f =>
      val rows = byFeature(f)
      val nAno = rows.count(_.type_data == 1).toLong
      val nRef = rows.count(_.type_data == 0).toLong
      if (nAno > 0 && nRef > 0) {
        val values = rows.map(_.value).toArray
        val classes = rows.map(_.type_data).toArray
        Some(f -> EntropyCore.reward(
          EntropyCore.classEntropy(nAno, nRef), values, classes, cfg.applyWorstCase))
      } else None
    }.toMap
    EntropyCore.rewardLeapFilter(EntropyCore.rankRewards(rewards, featureOrder))
  }
}
