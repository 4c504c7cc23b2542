package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ExstreamConfig
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{StreamExplanation, StreamObs}

object StreamReplay {
  /** One replay's outcome: which windows it closed, what the sink received
    * per window, close-to-emit latencies, and first-offer-to-last-emit time. */
  final class Pass(val closed: Seq[String], val emitted: mutable.Map[String, List[StreamExplanation]],
                   val latenciesMs: Seq[Double], val seconds: Double) {
    def digest: String = BenchMain.sha256(emitted.values.flatten.toSeq.map(e =>
      s"${e.window_key}|${e.n_obs}|${e.explanation.mkString(",")}"))
  }
}

/**
 * Closed-loop, event-time-ordered replay of recorded traces through
 * `StreamingOps.explainOnCloseCfg`: one micro-batch per window close
 * (every row up to that window's last tick, then its close marker), and
 * the next batch is offered only after the previous one is processed.
 */
final class StreamReplay(spark: SparkSession, work: String, windowEnds: Seq[(String, Long)],
                         rows: Map[String, Seq[StreamObs]], featureOrder: Seq[String],
                         cfg: ExstreamConfig, registry: Map[String, Array[Double]]) {
  import StreamReplay.Pass

  /** (rows, windows closed by this batch), in event-time order. */
  val batches: IndexedSeq[(Seq[StreamObs], Seq[String])] = {
    val all = rows.values.flatten.toArray.sortBy(o => (o.timestamp, o.window_key, o.feature, o.type_data))
    var next = 0
    windowEnds.groupBy(_._2).toSeq.sortBy(_._1).map { case (end, ws) =>
      val from = next
      while (next < all.length && all(next).timestamp <= end) next += 1
      val closes = ws.map(_._1).sorted
      (all.slice(from, next).toSeq ++ closes.map(StreamObs(_, "", end, -1, 0.0)), closes)
    }.toIndexedSeq
  }

  def pass(nBatches: Int, name: String): Pass = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamObs]
    val arrived = new ConcurrentLinkedQueue[(StreamExplanation, Long)]()
    val ckpt = new File(s"$work/checkpoints/$name")
    BenchMain.deleteTree(ckpt)
    val q = StreamingOps.explainOnCloseCfg(input.toDS(), featureOrder, cfg, refSeries = registry)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (ds: Dataset[StreamExplanation], _: Long) =>
        val got = ds.collect()
        val t = System.nanoTime()
        got.foreach(e => arrived.add((e, t)))
      }
      .start()
    val offered = mutable.Map[String, Long]()
    val t0 = System.nanoTime()
    try {
      batches.take(nBatches).foreach { case (batch, closes) =>
        val t = System.nanoTime()
        closes.foreach(offered(_) = t)
        input.addData(batch)
        q.processAllAvailable()
      }
    } finally q.stop()
    BenchMain.deleteTree(ckpt)
    val got = arrived.asScala.toSeq
    val emitted = mutable.Map[String, List[StreamExplanation]]()
    got.foreach { case (e, _) => emitted(e.window_key) = e :: emitted.getOrElse(e.window_key, Nil) }
    val lat = got.flatMap { case (e, t) => offered.get(e.window_key).map(o => (t - o) / 1e6) }
    val last = if (got.isEmpty) t0 else got.map(_._2).max
    new Pass(batches.take(nBatches).flatMap(_._2), emitted, lat, (last - t0) / 1e9)
  }
}
