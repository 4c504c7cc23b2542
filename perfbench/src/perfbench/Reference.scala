package perfbench

import java.io.File
import java.security.MessageDigest
import scala.collection.mutable
import scala.io.Source

import graft.ExstreamConfig
import graft.functions.{EntropyCore, MatchKernel}
import graft.operators.CorrelationFilter
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.StreamObs

/**
 * Driver-side recomputation of `ExstreamPipeline.constructExplanations`
 * from the input CSVs and the engine's pure kernels only (MatchKernel,
 * EntropyCore via `StreamingOps.explainBuffered`, the window-local
 * correlation core). No DataFrame is involved, so it checks the batch
 * plan independently. It reproduces the plan's documented semantics:
 * md5 resampling of whole wide rows, per-rs feature selection, FP match
 * counts summed over per-trace reference series, argmin fallback.
 */
object Reference {

  /** One labeled observation; `rs` = -1 for the full data, else the resample. */
  final case class Obs(rs: Int, windowKey: String, traceId: String, ts: Long,
                       cls: Int, feature: String, value: Double)

  final case class Window(key: String, traceId: String, anoId: Long, end: Long)

  final case class Fixture(featureOrder: IndexedSeq[String], windows: IndexedSeq[Window],
                           obs: Array[Obs], files: Int)

  /** One window's answer in the pipeline's output schema. */
  final case class Answer(traceId: String, anoId: Long, explanation: Seq[Int],
                          expSize: Int, instability: Double) {
    def line: String =
      s"$traceId|$anoId|${explanation.mkString(",")}|$expSize|${java.lang.Double.toString(instability)}"
  }

  object Answer {
    /** The window a line belongs to: (trace_id, ano_id). */
    def key(line: String): String = line.split('|').take(2).mkString("|")
  }

  /** Kernel replay counters (filled only when a `MatchStats` is passed). */
  final class MatchStats {
    var calls = 0L
    var fftCalls = 0L
    var nanos = 0L
    var sorted = 0L
    var accepted = 0L
    def seconds: Double = nanos / 1e9
    def acceptRatio: Double = if (sorted == 0) 0.0 else accepted.toDouble / sorted

    /** `MatchKernel.matchCount`, timed, plus the profile it sorts. */
    def count(q: Array[Double], t: Array[Double], maxDistance: Double): Int = {
      val t0 = System.nanoTime()
      val n = MatchKernel.matchCount(q, t, maxDistance)
      nanos += System.nanoTime() - t0
      calls += 1
      // the kernel's MASS switch: above 2M multiply-adds it takes the
      // FFT sliding-dot path (MatchKernel.distanceProfile)
      if ((t.length - q.length + 1).toLong * q.length > 2000000L) fftCalls += 1
      val d = MatchKernel.distanceProfile(q, t)
      sorted += d.length
      accepted += d.count(_ <= maxDistance)
      n
    }
  }

  private def readCsv(f: File): (Array[String], Iterator[Array[String]]) = {
    val src = Source.fromFile(f)
    val lines = src.getLines().toVector
    src.close()
    (lines.head.split(",", -1), lines.iterator.drop(1).map(_.split(",", -1)))
  }

  /** Parse a trace folder and label it the way `IntervalLabeler` does:
    * ref `[ref_start, ref_end)`, ano `[ano_start, ano_end]`. */
  def load(dir: String): Fixture = {
    val ids = new File(dir).listFiles().map(_.getName).filter(_.endsWith(".csv"))
      .map(_.stripSuffix(".csv")).filter(_ != "labels").sorted.toIndexedSeq
    val traces = ids.map { id =>
      val (header, rows) = readCsv(new File(dir, s"$id.csv"))
      val feats = header.tail.toIndexedSeq
      val data = rows.map(r => (r(0).toLong, r.tail.map(_.toDouble))).toArray
      id -> (feats, data)
    }.toMap
    val featureOrder = traces(ids.head)._1
    val (_, labelRows) = readCsv(new File(dir, "labels.csv"))
    val labels = labelRows.map(r =>
      (r(0).toLong, r(1), r(2).toLong, r(3).toLong, r(4).toLong, r(5).toLong, r(6).toLong)).toVector
    val obs = Array.newBuilder[Obs]
    val windows = labels.map { case (row, tr, ano, rs, re, as, ae) =>
      val key = s"${graft.sources.Sources.anomalyTypeForTrace(tr)}_${tr}_$row"
      val (feats, data) = traces(tr)
      data.foreach { case (ts, vals) =>
        val cls = if (ts >= rs && ts < re) 0 else if (ts >= as && ts <= ae) 1 else -1
        if (cls >= 0) feats.indices.foreach(i => obs += Obs(-1, key, tr, ts, cls, feats(i), vals(i)))
      }
      Window(key, tr, ano, math.max(re - 1, ae))
    }
    Fixture(featureOrder, windows, obs.result(), ids.size)
  }

  private val hex = java.util.HexFormat.of()

  private def md5Hex(s: String): String =
    hex.formatHex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** The resample fold: rs = -1 keeps every row; rs = 0..n-1 keeps a wide
    * row iff md5(seed_window_class_ts_rs) sorts below the 16-bit cutoff. */
  def resample(obs: Array[Obs], cfg: ExstreamConfig): Array[Obs] = {
    val n = math.max(0L, math.min(65536L, math.round(cfg.sampleFraction * 65536)))
    val cutoff = if (n >= 65536L) "g" else f"$n%04x"
    val rows = obs.groupBy(o => (o.windowKey, o.cls, o.ts)).toSeq
    val sampled = for {
      rs <- 0 until cfg.instabilityRounds
      ((w, c, ts), g) <- rows
      if cfg.sampleFraction >= 1.0 || md5Hex(s"${cfg.seed}_${w}_${c}_${ts}_$rs") < cutoff
      o <- g.toSeq
    } yield o.copy(rs = rs)
    obs ++ sampled
  }

  /** Features kept by the correlation step for one rs (all windows pooled). */
  private def clusterSelect(obs: Seq[Obs], featureOrder: Seq[String], cfg: ExstreamConfig): Seq[String] =
    if (!cfg.cluster || featureOrder.size <= 1) featureOrder
    else {
      val wIdx = obs.map(_.windowKey).distinct.sorted.zipWithIndex.toMap
      // one wide row per (window, ts, class): fold the window into the key
      CorrelationFilter.selectFeaturesLocal(
        obs.map(o => (wIdx(o.windowKey) * 100000000L + o.ts, o.cls, o.feature, o.value)),
        featureOrder, cfg.correlationThreshold)
    }

  /** The FP filter's outcome per window of one rs: per feature, its match
    * count summed over the per-trace series and whether it is kept. */
  private def fpKeep(obs: Seq[Obs], featureOrder: Seq[String], cfg: ExstreamConfig,
                     stats: Option[MatchStats]): Map[String, Map[String, (Int, Boolean)]] = {
    val featIdx = featureOrder.zipWithIndex.toMap
    val patternClass = if (cfg.patternFromRefWindow) 0 else 1
    val series: Map[String, Seq[Array[Double]]] = obs.filter(_.cls == 0)
      .groupBy(o => (o.feature, o.traceId)).toSeq
      .map { case ((f, _), g) =>
        f -> g.sortBy(o => (o.windowKey, o.ts, o.value)).map(_.value).toArray }
      .groupBy(_._1).map { case (f, s) => f -> s.map(_._2) }
    obs.filter(_.cls == patternClass).groupBy(_.windowKey).map { case (w, rows) =>
      val counts = rows.groupBy(_.feature).toSeq.flatMap { case (f, g) =>
        val q = g.sortBy(o => (o.ts, o.value)).map(_.value).toArray
        series.get(f).map { ss =>
          f -> ss.map(t => stats.fold(MatchKernel.matchCount(q, t, cfg.maxDistance))(
            _.count(q, t, cfg.maxDistance))).sum
        }
      }
      val passing = counts.filter(_._2 <= cfg.matchCountKeep).map(_._1)
      val kept = if (passing.nonEmpty) passing.toSet
                 else counts.sortBy { case (f, n) => (n, featIdx(f): Int) }.take(1).map(_._1).toSet
      w -> counts.map { case (f, n) => f -> (n, kept(f)) }.toMap
    }
  }

  /** The pipeline's answer per window, from the kernels alone. `fpOut`,
    * if given, receives the FP filter's outcome per (rs, window_key). */
  def explain(fx: Fixture, cfg: ExstreamConfig, stats: Option[MatchStats] = None,
              fpOut: Option[mutable.Map[(Int, String), Map[String, (Int, Boolean)]]] = None): Seq[Answer] = {
    val featIdx = fx.featureOrder.zipWithIndex.toMap
    val rewardOnly = cfg.copy(cluster = false, falsePositiveFiltering = false)
    val perRs: Map[Int, Map[String, Seq[String]]] =
      resample(fx.obs, cfg).toSeq.groupBy(_.rs).map { case (rs, obs) =>
        val selected = clusterSelect(obs, fx.featureOrder, cfg).toSet
        val obsSel = obs.filter(o => selected(o.feature))
        val fp = if (cfg.falsePositiveFiltering) Some(fpKeep(obsSel, fx.featureOrder, cfg, stats)) else None
        for (table <- fp; out <- fpOut; (w, t) <- table) out((rs, w)) = t
        rs -> obsSel.groupBy(_.windowKey).flatMap { case (w, rows) =>
          val kept = fp.fold(rows)(k => rows.filter(o => k.get(w).flatMap(_.get(o.feature)).exists(_._2)))
          val buf = kept.map(o => StreamObs(w, o.feature, o.ts, o.cls, o.value))
          val exp = StreamingOps.explainBuffered(buf, fx.featureOrder, rewardOnly)
          if (exp.isEmpty) None else Some(w -> exp)
        }
      }
    fx.windows.flatMap { win =>
      perRs(-1).get(win.key).map { exp =>
        val resamples = (0 until cfg.instabilityRounds).flatMap(rs => perRs.get(rs).flatMap(_.get(win.key)))
        Answer(win.traceId, win.anoId, exp.map(featIdx), exp.size,
          EntropyCore.instabilityEntropy(resamples))
      }
    }
  }

  /** The stream's input rows per window, in event-time order. */
  def streamRows(fx: Fixture): Map[String, Seq[StreamObs]] =
    fx.obs.toSeq.groupBy(_.windowKey).map { case (w, g) =>
      w -> g.sortBy(o => (o.ts, o.feature, o.cls)).map(o => StreamObs(w, o.feature, o.ts, o.cls, o.value))
    }
}
