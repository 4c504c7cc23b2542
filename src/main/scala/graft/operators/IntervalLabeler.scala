package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * J1/J2 (SURVEY.md §2.3): label join + interval slicing — the ingestion
 * query `split_references_and_anomalies`
 * (`/root/reference/utils/get_data.py:56-106`) as ONE declarative plan.
 *
 * The reference loops label rows per trace and slices the pandas frame
 * twice per anomaly. Here it is ONE broadcast join on `trace_id` whose
 * condition is "inside the ref span OR inside the ano span": the label
 * table is tiny (tens of rows), so it is broadcast once and the trace scan
 * streams through it without a shuffle — the shape that survives a
 * 1000-executor scale-up (labels broadcast once, traces never moved).
 *
 * Bound semantics are reproduced exactly: ref `[ref_start, ref_end)`
 * (`get_data.py:86-88`), ano `[ano_start, ano_end]` (`:93-95`). A
 * timestamp inside BOTH windows of a label appears twice (once per class),
 * exactly as the reference's two independent slices do.
 */
object IntervalLabeler {

  /**
   * @param traces    trace rows keyed by `(trace_id, timestamp)`: long
   *                  observations `(trace_id, timestamp, feature, value)`
   *                  or wide rows `(trace_id, timestamp, <metrics>)`
   * @param labels    label spans `(label_row, trace_id, ano_id, ref_start,
   *                  ref_end, ano_start, ano_end, ano_type)`
   * @return observation table `(window_key, trace_id, ano_id, ano_type,
   *         timestamp, type_data, <the other trace columns>)` — for long
   *         input `(…, type_data, feature, value)`
   */
  def labelObservations(traces: DataFrame, labels: DataFrame): DataFrame = {
    val l = broadcast(labels)
    val carried = traces.columns.toSeq.filterNot(Set("trace_id", "timestamp"))
      .map(c => traces.col("`" + c.replace("`", "``") + "`"))
    val ts = traces("timestamp")
    val inRef = ts >= l("ref_start") && ts < l("ref_end")
    val inAno = ts >= l("ano_start") && ts <= l("ano_end")

    // one broadcast of the label table, matching either span; a row then
    // yields one output row per span it lies in
    traces
      .join(l, traces("trace_id") === l("trace_id") && (inRef || inAno))
      .select(Seq(
        concat_ws("_", l("ano_type"), l("trace_id"), l("label_row")).as("window_key"),
        traces("trace_id"),
        l("ano_id"),
        l("ano_type"),
        ts,
        explode(filter(array(when(inRef, lit(0)), when(inAno, lit(1))), _.isNotNull))
          .as("type_data")) ++ carried: _*)
  }
}
