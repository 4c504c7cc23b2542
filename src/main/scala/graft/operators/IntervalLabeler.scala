package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * J1/J2 (SURVEY.md §2.3): label join + interval slicing — the ingestion
 * query `split_references_and_anomalies`
 * (`/root/reference/utils/get_data.py:56-106`) as ONE declarative plan.
 *
 * The reference loops label rows per trace and slices the pandas frame
 * twice per anomaly. Here it is a broadcast non-equi join: the label table
 * is tiny (tens of rows), so Catalyst plans a BroadcastNestedLoopJoin and
 * the trace scan streams through it without a shuffle — the shape that
 * survives a 1000-executor scale-up (labels broadcast once, traces never
 * moved).
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

    def side(startCol: String, endCol: String, closedEnd: Boolean, cls: Int): DataFrame = {
      val endPred =
        if (closedEnd) traces("timestamp") <= l(endCol)
        else traces("timestamp") < l(endCol)
      traces
        .join(l,
          traces("trace_id") === l("trace_id") &&
            traces("timestamp") >= l(startCol) && endPred)
        .select(Seq(
          concat_ws("_", l("ano_type"), l("trace_id"), l("label_row")).as("window_key"),
          traces("trace_id"),
          l("ano_id"),
          l("ano_type"),
          traces("timestamp"),
          lit(cls).as("type_data")) ++ carried: _*)
    }

    side("ref_start", "ref_end", closedEnd = false, cls = 0)
      .unionByName(side("ano_start", "ano_end", closedEnd = true, cls = 1))
  }
}
