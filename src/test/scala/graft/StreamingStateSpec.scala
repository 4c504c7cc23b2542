package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/**
 * Streaming state envelope: for the EXstream online operator
 * (`StreamingOps.explainOnCloseCfg`), run a deterministic fixture and read
 * the state store's OWN telemetry (`StreamingQueryProgress.stateOperators`
 * — numRowsTotal / memoryUsedBytes), then gate:
 *
 *  - state ROWS exactly — they are a deterministic function of the
 *    fixture and the operator's state keying, and the assertion IS the
 *    operator's boundedness claim (one row per OPEN explanation window,
 *    removed at close);
 *  - state BYTES under a generous cap (512 KiB on this fixture) — not a
 *    tight envelope (store overhead is JVM/version
 *    dependent) but a regression gate that catches a state key
 *    accidentally growing corpus-sized.
 *
 * The harvested values are committed as the streaming state table in
 * BASELINE.md.
 */
class StreamingStateSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-state-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val BytesCap = 512L * 1024

  /** (numRowsTotal, memoryUsedBytes) summed across the query's state
    * operators, from the most recent progress that carries any. */
  private def stateOf(q: StreamingQuery): (Long, Long) = {
    val p = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .getOrElse(fail("no state operator progress recorded"))
    (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  private def report(name: String, rows: Long, bytes: Long): Unit =
    info(f"$name%-28s state_rows=$rows%6d state_bytes=$bytes%8d")

  test("explanation-at-close: state rows = OPEN windows, removed at close") {
    import spark.implicits._
    import graft.streaming.StreamingOps.StreamObs
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamObs]
    val exps = StreamingOps.explainOnCloseCfg(input.toDS(), Seq("f1"),
      ExstreamConfig(applyWorstCase = true))
    val q = exps.writeStream.outputMode("append")
      .format("memory").queryName("ss_explain").start()
    input.addData(
      StreamObs("w1", "f1", 1L, 0, 1.0), StreamObs("w1", "f1", 2L, 1, 5.0),
      StreamObs("w2", "f1", 1L, 0, 2.0))
    q.processAllAvailable()
    val (rows1, bytes1) = stateOf(q)
    report("explainOnCloseCfg (2 open)", rows1, bytes1)
    assert(rows1 == 2L, s"expected 2 open windows, got $rows1")
    // close w1: its buffer must leave the store
    input.addData(StreamObs("w1", "", 3L, -1, 0.0))
    q.processAllAvailable()
    val (rows2, bytes2) = stateOf(q)
    q.stop()
    report("explainOnCloseCfg (1 closed)", rows2, bytes2)
    assert(rows2 == 1L, s"closed window must drop its state, got $rows2")
    assert(bytes1 < BytesCap && bytes2 < BytesCap)
  }
}
