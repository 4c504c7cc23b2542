package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.ExplainKernel

/**
 * The EXstream online operator. The reference is a post-hoc batch
 * analysis of recorded streams; the paper's system is online: an
 * explanation is triggered the moment an annotated anomaly window
 * closes (`exstream.pdf` §1). [[explainOnCloseCfg]] does that over a
 * stream of labeled observations ([[StreamObs]]): it buffers each
 * window's rows in keyed state and, at the close marker (or an
 * event-/processing-time timeout), emits the window's explanation from
 * [[explainBuffered]] — one call of the batch kernel
 * (`ExplainKernel.explainGroup`) over the closed window, under any of
 * the four (cluster, fp) configs. [[refSeriesRegistry]] supplies the
 * trace-wide FP reference series a single window's buffer lacks.
 * StreamingSpec pins stream = batch per config and StreamingStateSpec
 * the state bound (one row per open window).
 */
object StreamingOps {

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
   * value) — so on a one-trace input the series is the one batch matches.
   * Limitation: the registry is keyed by feature only, so on a
   * multi-trace input it glues every trace's reference rows into ONE
   * series in `window_key`-string order, while batch matches each trace's
   * series separately and sums the counts; the stream then also counts
   * matches that cross a trace boundary and can disagree with batch.
   *
   * The collect is driver-sized by the same argument as
   * CorrelationFilter's k×k moments: one series per feature, bounded by
   * the trace's reference span (the paper's system bounds buffered
   * history the same way); deployments with unbounded traces keep the
   * window-local default (empty registry).
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
   * configs of the reference's loop run online. A deployment answers
   * what the batch pipeline answers on a single-window trace, and on a
   * multi-window one-trace input for the FP decision when it passes the
   * trace's [[refSeriesRegistry]] (StreamingSpec pins both per config). A
   * multi-trace registry does not give batch's answer (see
   * [[refSeriesRegistry]]), and correlation selection stays window-local
   * (see [[explainBuffered]]).
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
   * Pure per-window explanation over a closed buffer, under all four
   * (cluster, fp) configs: the buffer pivoted into one group of wide rows
   * and one `ExplainKernel.explainGroup` call — the kernel every batch
   * resample group runs, so stream and batch share every rule
   * (correlation moments, FP match count and argmin fallback, reward, leap
   * cut). A window with one class only has the empty explanation.
   *
   * The pivot: one wide row per (timestamp, class) over the `featureOrder`
   * columns; a (timestamp, class) that repeats a feature starts a further
   * row, as a duplicated trace timestamp does in batch. A feature missing
   * at a tick is an empty cell: absent from moments, pattern and series,
   * but counted toward the class sizes. A NaN value is a present value.
   * Rows of a feature outside `featureOrder` are ignored, and a feature
   * with no rows in the buffer is no candidate.
   *
   * Input order is irrelevant: ticks are pivoted in (timestamp, class)
   * order and a repeated feature's values in value order, and the kernel
   * orders patterns and series itself, so arrival-order nondeterminism on
   * the stream cannot change the answer.
   *
   * Scope note (the online boundary): the kernel sees THIS window's rows —
   * the only data an online operator has at close. Batch sums step 1's
   * moments over all windows and matches step 2's patterns against every
   * trace's windows, so streaming == batch exactly when the batch input is
   * the single closing window. A non-empty `refSeries`
   * ([[refSeriesRegistry]]) replaces the window's own FP series by the
   * recorded ones, which on a one-trace registry reproduces the batch FP
   * decision on a multi-window trace (StreamingSpec's two-window case).
   * Step 1's moments remain window-local.
   */
  def explainBuffered(
      buf: Seq[StreamObs],
      featureOrder: Seq[String],
      cfg: graft.ExstreamConfig,
      refSeries: Map[String, Array[Double]] = Map.empty): Seq[String] = {
    val slot = featureOrder.zipWithIndex.toMap
    val k = featureOrder.size
    val rows = new ExplainKernel.WideRows(k)
    val v = new Array[Double](k)
    val empty = new Array[Boolean](k)
    val candidates = buf.filter(o => slot.contains(o.feature))
    // one window and one trace: both keys are constant
    candidates.groupBy(o => (o.timestamp, o.type_data))
      .toSeq.sortBy(_._1).foreach { case ((ts, cls), tick) =>
        val cells = tick.groupBy(o => slot(o.feature))
          .map { case (j, os) => j -> os.map(_.value).sorted(Ordering.Double.TotalOrdering) }
        (0 until cells.values.map(_.size).max).foreach { d =>
          java.util.Arrays.fill(empty, true)
          cells.foreach { case (j, vs) => if (d < vs.size) { v(j) = vs(d); empty(j) = false } }
          rows.add("", "", ts, cls, v, empty)
        }
      }
    val has = Map("" -> candidates.map(_.feature).toSet)
    ExplainKernel.explainGroup(rows, featureOrder.toIndexedSeq, featureOrder, has, cfg,
        refSeries.map { case (f, s) => f -> Seq(s) })
      .headOption.fold(Seq.empty[String])(_._2)
  }
}
