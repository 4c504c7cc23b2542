package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/**
 * Streaming state envelope: for the EXstream online operator
 * (`StreamingOps.explainOnCloseCfg`) and each stateful streaming shape
 * beside it, run a deterministic fixture and read the state store's OWN
 * telemetry (`StreamingQueryProgress.stateOperators` — numRowsTotal /
 * memoryUsedBytes), then gate:
 *
 *  - state ROWS exactly — they are a deterministic function of the
 *    fixture and the operator's state keying, and each assertion IS
 *    the operator's boundedness claim (one row per OPEN explanation
 *    window, removed at close; sketch state counts WINDOWS not users;
 *    watermark dedup counts keys INSIDE the horizon and evicts after
 *    it);
 *  - state BYTES under a generous cap (512 KiB per operator on these
 *    fixtures) — not a tight envelope (store overhead is JVM/version
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

  test("windowed rollup: state rows = live (feature, window) groups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingOps.windowedMetricRollup(
      input.toDF().toDF("ts", "feature", "value"),
      watermark = "1 minute", windowLen = "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ss_rollup").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10").getTime
    def ts(s: Int) = new java.sql.Timestamp(t0 + s * 1000L)
    // 3 groups: (cpu, w1), (mem, w1), (cpu, w2) — 5 events
    input.addData((ts(0), "cpu", 1.0), (ts(5), "cpu", 3.0), (ts(10), "mem", 7.0),
      (ts(70), "cpu", 2.0), (ts(75), "cpu", 4.0))
    q.processAllAvailable()
    val (rows, bytes) = stateOf(q)
    q.stop()
    report("windowedMetricRollup", rows, bytes)
    assert(rows == 3L, s"expected 3 live groups, got $rows")
    assert(bytes < BytesCap)
  }

  test("windowed distinct users: state rows = windows, NOT users (sketch-bounded)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = StreamingOps.windowedDistinctUsers(
      input.toDF().toDF("ts", "user_id"),
      watermark = "1 minute", windowLen = "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ss_hll").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10").getTime
    def ts(s: Int) = new java.sql.Timestamp(t0 + s * 1000L)
    // 200 distinct users in window 1, one user in window 2
    input.addData((0 until 200).map(u => (ts(u % 50), u.toLong)): _*)
    input.addData((ts(70), 9999L))
    q.processAllAvailable()
    val (rows, bytes) = stateOf(q)
    q.stop()
    report("windowedDistinctUsers", rows, bytes)
    assert(rows == 2L, s"state must count WINDOWS (2), not 201 users — got $rows")
    assert(bytes < BytesCap)
  }

  test("ingest dedup: state rows = distinct keys in the horizon, evicted past it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamingOps.dedupIngest(
      input.toDF().toDF("ts", "text"), "text", "ts", watermark = "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ss_dedup").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10").getTime
    def ts(s: Int) = new java.sql.Timestamp(t0 + s * 1000L)
    // 60 docs, 20 distinct texts, all inside the watermark
    input.addData((0 until 60).map(i => (ts(i), s"doc_${i % 20}")): _*)
    q.processAllAvailable()
    val (rows1, bytes1) = stateOf(q)
    report("dedupIngest (in horizon)", rows1, bytes1)
    assert(rows1 == 20L, s"expected 20 distinct keys, got $rows1")
    // jump event time 10 hours: the old keys age out of the watermark
    // (eviction lands on the batch AFTER the watermark advances)
    input.addData((new java.sql.Timestamp(t0 + 10L * 3600 * 1000), "fresh_a"))
    q.processAllAvailable()
    input.addData((new java.sql.Timestamp(t0 + 10L * 3600 * 1000 + 60000), "fresh_b"))
    q.processAllAvailable()
    val (rows2, bytes2) = stateOf(q)
    q.stop()
    report("dedupIngest (past horizon)", rows2, bytes2)
    assert(rows2 <= 2L, s"old keys must evict past the watermark, got $rows2")
    assert(bytes1 < BytesCap && bytes2 < BytesCap)
  }

  test("session rollup: state rows = open sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val sess = StreamingOps.sessionRollup(
      input.toDF().toDF("ts", "user_id"), gap = "10 minutes", watermark = "1 minute")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("ss_sess").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10").getTime
    def ts(s: Int) = new java.sql.Timestamp(t0 + s * 1000L)
    // 3 users, one open session each (events 5s apart)
    input.addData((ts(0), 1L), (ts(5), 1L), (ts(0), 2L), (ts(3), 3L))
    q.processAllAvailable()
    val (rows, bytes) = stateOf(q)
    q.stop()
    report("sessionRollup", rows, bytes)
    assert(rows == 3L, s"expected 3 open sessions, got $rows")
    assert(bytes < BytesCap)
  }

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
  test("stream-stream attribution join: state rows = buffered rows in the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
    val joined = StreamingOps.attributeToClick(
      clicks.toDF().toDF("ts", "user_id", "click_id"),
      purchases.toDF().toDF("ts", "user_id", "purchase_id", "value"),
      horizon = "1 hour", watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10").getTime
    def ts(s: Int) = new java.sql.Timestamp(t0 + s * 1000L)
    clicks.addData((ts(0), 1L, 100L), (ts(5), 2L, 101L))
    purchases.addData((ts(60), 1L, 500L, 9.99))
    q.processAllAvailable()
    val (rows, bytes) = stateOf(q)
    q.stop()
    report("attributeToClick", rows, bytes)
    // all 3 events sit inside the horizon: both sides stay buffered
    assert(rows == 3L, s"expected 3 buffered rows, got $rows")
    assert(bytes < BytesCap)
  }

}
