package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.{ExstreamConfig, ExstreamPipeline, GraftExtensions}
import graft.operators._
import graft.plans.SegEntropyAgg
import graft.sources.Sources

/**
 * The paper-workload benchmark: one process runs one workload, measures
 * for a fixed time, checks every explanation and prints one JSON line.
 *
 *   BenchMain <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> [corrupt]
 *
 * `trace 0` prints the end-to-end metrics, `trace 1` the per-layer ones.
 */
object BenchMain {

  final case class Args(workload: String, data: String, work: String, seconds: Double,
                        trace: Boolean, cores: Int, corrupt: Boolean)

  /** What a run reports: per-window check totals and named metrics. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    /** Count one window's check. */
    def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  }

  /** Session builds per process; `setup_s` is their median. */
  val SetupBuilds = 15
  /** Floors under `--seconds`: at least two batch runs for a median, and
    * enough stream passes for 100 close-to-emit samples. */
  val MinBatchRuns = 2
  val MinStreamSamples = 100
  /** Unrecorded stream passes before timing: the per-batch path keeps
    * speeding up over its first few dozen micro-batches. */
  val StreamWarmPasses = 2

  val configs: Map[String, ExstreamConfig] = Map(
    "folder1_batch" -> ExstreamConfig(cluster = true, falsePositiveFiltering = true),
    "stream_close" -> ExstreamConfig(cluster = false, falsePositiveFiltering = true))

  /** Every per-layer metric with its unit; layers a workload does not run report 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "sources.s" -> "s", "sources.jobs" -> "count", "sources.files" -> "count",
    "sources.rows_out" -> "rows", "labeler.s" -> "s",
    "corr.s" -> "s", "corr.jobs" -> "count", "corr.cpu_s" -> "s", "corr.agg_exprs" -> "count",
    "fp.s" -> "s", "fp.cpu_s" -> "s", "fp.pairs" -> "count", "fp.kernel_stage_tasks" -> "count",
    "fp.shuffle_bytes" -> "bytes",
    "match.calls" -> "count", "match.fft_calls" -> "count", "match.s" -> "s",
    "match.accept_ratio" -> "ratio",
    "reward.s" -> "s", "reward.groups" -> "count", "reward.rows_in" -> "rows",
    "reward.cpu_s" -> "s", "reward.spill_bytes" -> "bytes",
    "leap.s" -> "s", "instability.s" -> "s",
    "pipeline.build_s" -> "s", "pipeline.exec_s" -> "s",
    "pipeline.jobs_build" -> "count", "pipeline.jobs_exec" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.busy_frac" -> "ratio", "spark.serial_stage_s" -> "s",
    "stream.batches" -> "count", "stream.batch_p50_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.commit_ms" -> "ms", "stream.state_rows_peak" -> "rows",
    "stream.state_bytes_peak" -> "bytes", "stream.close_s" -> "s", "stream.registry_s" -> "s",
    "trace.overhead" -> "ratio", "check.failed_frac" -> "ratio")

  // ---------------------------------------------------------------- utils

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with the seconds since start. */
  def progress(msg: String): Unit = System.err.println(f"perfbench: [${secondsSince(started)}%5.1f s] $msg")

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def sha256(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Peak heap occupancy after collection: the largest heap the collector
    * could not free, sampled at every GC since the last `reset`. */
  object Heap {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }, null, null)
      case _ =>
    }
    def reset(): Unit = synchronized { peak = 0L }
    def peakMb: Double = synchronized { peak / (1024.0 * 1024.0) }
  }

  // -------------------------------------------------------------- session

  def buildSession(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.sessionState.functionRegistry.functionExists(
      FunctionIdentifier(SegEntropyAgg.FunctionName)), "graft functions not registered")
    spark
  }

  /** Session build + function registration, timed `n` times; the last
    * session stays open for the workload. */
  def timedSetup(a: Args, n: Int): (SparkSession, Seq[Double]) = {
    val times = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      spark = buildSession(a)
      times += secondsSince(t0)
      if (i < n) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    (spark, times.toSeq)
  }

  // ---------------------------------------------------------------- batch

  def answerLine(r: Row): String =
    Reference.Answer(r.getAs[String]("trace_id"), r.getAs[Long]("ano_id"),
      r.getAs[scala.collection.Seq[Int]]("explanation").toSeq, r.getAs[Int]("exp_size"),
      r.getAs[Double]("exp_instability")).line

  /** Count each expected window as passed iff the output holds exactly
    * one row for it and that row equals the reference's; rows for windows
    * the reference does not have are failures too. */
  def checkAnswers(res: Result, expected: Seq[Reference.Answer], got: Seq[String]): Unit = {
    val byKey = got.groupBy(Reference.Answer.key)
    expected.foreach(e => res.check(byKey.get(Reference.Answer.key(e.line)).contains(Seq(e.line))))
    val known = expected.map(e => Reference.Answer.key(e.line)).toSet
    byKey.keys.filterNot(known).foreach(_ => res.check(ok = false))
  }

  /** `constructExplanations` composed again from each layer's public
    * call, every layer materialized inside its own span. Mirrors the
    * entry point's glue so its output must equal the entry point's. */
  def tracedComposition(spark: SparkSession, dir: String, cfg: ExstreamConfig,
                        tr: Tracer, layer: mutable.Map[String, Double]): (Seq[String], Option[DataFrame]) = tr.span("run") {
    val (traceLong, featureOrder, labels) = tr.span("sources") {
      val (tl, fo) = Sources.readAllTraces(spark, dir, "labels")
      val lb = Sources.readLabels(spark, s"$dir/labels.csv")
        .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
      (tl.localCheckpoint(true), fo, lb.localCheckpoint(true))
    }
    val obs0 = tr.span("labeler") {
      IntervalLabeler.labelObservations(traceLong, labels).localCheckpoint(true)
    }
    val rsValues = -1 until cfg.instabilityRounds
    val obs = tr.span("instability") {
      val n = math.max(0L, math.min(65536L, math.round(cfg.sampleFraction * 65536)))
      val cutoff = if (n >= 65536L) "g" else f"$n%04x"
      val sampled =
        if (cfg.sampleFraction >= 1.0) lit(true)
        else md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
          col("timestamp"), col("rs")).cast("binary")) < cutoff
      obs0.withColumn("rs", explode(array(rsValues.map(lit(_)): _*)))
        .where(col("rs") === -1 || sampled)
        .withColumn("window_key", concat_ws("#", col("rs"), col("window_key")))
        .localCheckpoint(true)
    }
    val obsSel =
      if (cfg.cluster && featureOrder.size > 1) tr.span("corr") {
        val wide = obs.groupBy("rs", "window_key", "timestamp", "type_data")
          .pivot("feature", featureOrder).agg(first("value"))
        val selByRs = CorrelationFilter.selectFeaturesBy(wide, featureOrder, cfg.correlationThreshold, "rs")
        val keep = rsValues.map { r =>
          col("rs") === r && col("feature").isin(selByRs.getOrElse(r, featureOrder): _*)
        }.reduce(_ || _)
        obs.where(keep).localCheckpoint(true)
      } else obs
    val featIdx = featureOrder.zipWithIndex.toMap
    val (obsFiltered, fpTable) =
      if (cfg.falsePositiveFiltering) tr.span("fp") {
        val kept = FalsePositiveFilter.matchCounts(obsSel, featIdx, cfg.maxDistance,
          cfg.matchCountKeep, cfg.patternFromRefWindow, seriesAlignKeys = Seq("rs")).localCheckpoint(true)
        (FalsePositiveFilter.filterObservations(obsSel, kept).localCheckpoint(true), Some(kept))
      } else (obsSel, None)
    val rewards = tr.span("reward") {
      EntropyReward.rewards(obsFiltered, cfg.applyWorstCase)
        .withColumn("feat_idx", EntropyReward.featIdxCol(featIdx, col("feature")))
        .localCheckpoint(true)
    }
    val expl = tr.span("leap") {
      LeapFilter.explanations(rewards)
        .withColumn("rs", split(col("window_key"), "#", 2).getItem(0).cast("int"))
        .withColumn("window_key", split(col("window_key"), "#", 2).getItem(1))
        .localCheckpoint(true)
    }
    val lines = tr.span("instability") {
      val main = expl.where(col("rs") === -1).select("window_key", "features")
      val resamples = expl.where(col("rs") >= 0)
        .groupBy("window_key").agg(collect_list(col("features")).as("exps"))
      val instabilityUdf = udf { (exps: Seq[Seq[String]]) =>
        graft.functions.EntropyCore.instabilityEntropy(Option(exps).getOrElse(Seq.empty).filter(_ != null))
      }
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
        .collect().toSeq.map(answerLine)
    }
    // read-offs of the materialized layer inputs, outside every span
    layer("sources.rows_out") = traceLong.count().toDouble
    layer("reward.rows_in") = obsFiltered.count().toDouble
    layer("reward.groups") = obsFiltered.select("window_key", "feature").distinct().count().toDouble
    (lines, fpTable)
  }

  /** Count each window as passed iff the FP filter's per-feature match
    * counts and kept flags equal the reference's, for every rs. */
  def checkFp(res: Result, fx: Reference.Fixture,
              expected: collection.Map[(Int, String), Map[String, (Int, Boolean)]], got: DataFrame): Unit = {
    val table = got.collect().toSeq.groupBy { r =>
      val Array(rs, w) = r.getAs[String]("window_key").split("#", 2)
      (rs.toInt, w)
    }.map { case (k, rs) =>
      k -> rs.map(r => r.getAs[String]("feature") -> (r.getAs[Int]("n_matches"), r.getAs[Boolean]("kept"))).toMap
    }
    val outcomes = table.values.flatMap(_.values).toSeq
    progress(s"FP filter kept ${outcomes.count(_._2)} of ${outcomes.size} (window, feature) pairs")
    fx.windows.foreach { win =>
      val keys = (expected.keySet ++ table.keySet).filter(_._2 == win.key)
      res.check(keys.nonEmpty && keys.forall(k => expected.get(k) == table.get(k)))
    }
  }

  def runBatch(spark: SparkSession, a: Args, cfg: ExstreamConfig, res: Result): Unit = {
    def iteration(dir: String): (Seq[String], Double) = {
      val t0 = System.nanoTime()
      val rows = ExstreamPipeline.constructExplanations(spark, dir, "labels", cfg).collect()
      (rows.toSeq.map(answerLine), secondsSince(t0))
    }
    var corruptPending = a.corrupt
    def check(expected: Seq[Reference.Answer], lines: Seq[String]): Unit = {
      checkAnswers(res, expected, if (corruptPending) lines.drop(1) else lines)
      corruptPending = false
    }

    // the reference answer is computed on the driver while the warm-up
    // run (class loading, plan code generation, JIT) occupies the
    // executors; neither is timed, and the warm-up is checked like every
    // later run
    val tRef = System.nanoTime()
    val fx = Reference.load(a.data)
    val expectedF = Future {
      val e = Reference.explain(fx, cfg)
      progress(f"reference answer in ${secondsSince(tRef)}%.1f s")
      e
    }(ExecutionContext.global)
    val (warm, warmS) = iteration(a.data)
    progress(f"warm-up run $warmS%.1f s")
    val expected = Await.result(expectedF, Duration.Inf)
    require(expected.size == fx.windows.size, "reference lost a window")
    check(expected, warm)
    progress(s"explanation sizes ${expected.map(_.expSize).sorted.mkString(" ")}")

    if (!a.trace) {
      val times = mutable.ArrayBuffer[Double]()
      val heap = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      while (times.size < MinBatchRuns || secondsSince(t0) < a.seconds) {
        System.gc()
        Heap.reset()
        val (lines, s) = iteration(a.data)
        heap += Heap.peakMb
        check(expected, lines)
        times += s
      }
      // every window is closed before the call, and a batch run emits
      // every window's row at once: each window's close-to-emit latency
      // is its run's wall time
      val lat = times.toSeq.flatMap(t => Seq.fill(expected.size)(t * 1000))
      res.put("explain_s", median(times.toSeq), "s")
      res.put("emit_p50_ms", median(lat), "ms")
      res.put("emit_p90_ms", percentile(lat, 0.9), "ms")
      res.put("peak_heap_mb", heap.max, "MB")
      progress(s"timed runs ${times.map(t => f"$t%.2f").mkString(" ")} s, " +
        s"peak heap ${heap.map(h => f"$h%.0f").mkString(" ")} MB")
      return
    }

    val (untraced, untracedS) = iteration(a.data)
    check(expected, untraced)
    val tr = new Tracer(spark.sparkContext, s"${a.workload}")
    spark.sparkContext.addSparkListener(tr.sparkListener)
    spark.listenerManager.register(tr.queryListener)
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)

    // the entry point itself: plan build (eager jobs included) vs execution
    val df = tr.span("pipeline.build")(ExstreamPipeline.constructExplanations(spark, a.data, "labels", cfg))
    val viaEntry = tr.span("pipeline.exec")(df.collect().toSeq.map(answerLine))
    checkAnswers(res, expected, viaEntry)
    // the layer-by-layer composition
    val (composed, fpTable) = tracedComposition(spark, a.data, cfg, tr, layer)
    checkAnswers(res, expected, composed)
    require(sha256(composed) == sha256(untraced),
      "traced composition's output differs from constructExplanations'")

    // the kernel replay also yields the reference's FP outcome, which the
    // composition's FP layer output must equal
    val stats = new Reference.MatchStats
    val fpExpected = mutable.Map[(Int, String), Map[String, (Int, Boolean)]]()
    if (cfg.falsePositiveFiltering) Reference.explain(fx, cfg, Some(stats), Some(fpExpected))
    fpTable.foreach(checkFp(res, fx, fpExpected, _))
    writeTrace(a, tr)

    layer("sources.s") = tr.selfSeconds("sources")
    layer("sources.jobs") = tr.counters("sources").jobs.toDouble
    layer("sources.files") = fx.files.toDouble
    layer("labeler.s") = tr.selfSeconds("labeler")
    val corr = tr.counters("corr")
    layer("corr.s") = tr.selfSeconds("corr")
    layer("corr.jobs") = corr.jobs.toDouble
    layer("corr.cpu_s") = corr.cpuNs / 1e9
    layer("corr.agg_exprs") = corr.maxAggExprs.toDouble
    val fp = tr.counters("fp")
    layer("fp.s") = tr.selfSeconds("fp")
    layer("fp.cpu_s") = fp.cpuNs / 1e9
    layer("fp.shuffle_bytes") = fp.shuffleWriteBytes.toDouble
    // the match kernel runs right after matchCounts' repartition(n): the
    // rows that exchange writes are the (pattern, series) pairs, its
    // partitions the kernel stage's tasks
    layer("fp.kernel_stage_tasks") = fp.repartitionParts.toDouble
    layer("fp.pairs") = fp.repartitionRows.toDouble
    putMatch(layer, stats)
    val reward = tr.counters("reward")
    layer("reward.s") = tr.selfSeconds("reward")
    layer("reward.cpu_s") = reward.cpuNs / 1e9
    layer("reward.spill_bytes") = reward.spillBytes.toDouble
    layer("leap.s") = tr.selfSeconds("leap")
    layer("instability.s") = tr.selfSeconds("instability")
    layer("pipeline.build_s") = tr.seconds("pipeline.build")
    layer("pipeline.exec_s") = tr.seconds("pipeline.exec")
    layer("pipeline.jobs_build") = tr.counters("pipeline.build").jobs.toDouble
    layer("pipeline.jobs_exec") = tr.counters("pipeline.exec").jobs.toDouble
    val all = tr.counters("pipeline.build")
    val exec = tr.counters("pipeline.exec")
    putSpark(layer, Seq(all, exec), tr.seconds("pipeline.build") + tr.seconds("pipeline.exec"), a.cores)
    layer("trace.overhead") = tr.seconds("run") / untracedS
    putLayers(res, layer)
  }

  def putMatch(layer: mutable.Map[String, Double], stats: Reference.MatchStats): Unit = {
    layer("match.calls") = stats.calls.toDouble
    layer("match.fft_calls") = stats.fftCalls.toDouble
    layer("match.s") = stats.seconds
    layer("match.accept_ratio") = stats.acceptRatio
  }

  def putSpark(layer: mutable.Map[String, Double], cs: Seq[Counters], wallS: Double, cores: Int): Unit = {
    layer("spark.jobs") = cs.map(_.jobs).sum.toDouble
    layer("spark.stages") = cs.map(_.stages).sum.toDouble
    layer("spark.tasks") = cs.map(_.tasks).sum.toDouble
    layer("spark.cpu_s") = cs.map(_.cpuNs).sum / 1e9
    layer("spark.gc_s") = cs.map(_.gcMs).sum / 1e3
    layer("spark.shuffle_write_bytes") = cs.map(_.shuffleWriteBytes).sum.toDouble
    layer("spark.busy_frac") = cs.map(_.runMs).sum / 1e3 / (wallS * cores)
    layer("spark.serial_stage_s") = cs.map(_.serialStageMs).sum / 1e3
  }

  def putLayers(res: Result, layer: mutable.Map[String, Double]): Unit = {
    layer("check.failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
    layerMetrics.foreach { case (name, unit) => res.put(name, layer.getOrElse(name, 0.0), unit) }
  }

  def writeTrace(a: Args, tr: Tracer): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.work}/trace-${a.workload}.jsonl"),
      tr.json.asJava)

  // --------------------------------------------------------------- stream

  def runStream(spark: SparkSession, a: Args, cfg: ExstreamConfig, res: Result): Unit = {
    val fx = Reference.load(a.data)
    val rows = Reference.streamRows(fx)
    val (traceLong, featureOrder) = Sources.readAllTraces(spark, a.data, "labels")
    val obs = IntervalLabeler.labelObservations(traceLong, Sources.readLabels(spark, s"${a.data}/labels.csv"))
    val registry = graft.streaming.StreamingOps.refSeriesRegistry(obs)
    val replay = new StreamReplay(spark, a.work, fx.windows.map(w => w.key -> w.end), rows,
      featureOrder, cfg, registry)
    progress(s"registry of ${registry.size} series built")

    // warm-up: whole passes, so that the first timed pass is not still
    // settling; checked like the rest
    val warm = (1 to StreamWarmPasses).map(i => replay.pass(replay.batches.size, s"warm$i"))
    progress(s"warm-up passes ${warm.map(p => f"${p.seconds}%.2f").mkString(" ")} s")
    if (a.corrupt) warm.head.emitted.remove(warm.head.closed.head)
    val expected = rows.map { case (w, r) =>
      w -> graft.streaming.StreamingOps.explainBuffered(r, featureOrder, cfg, registry)
    }
    def check(p: StreamReplay.Pass): Unit = p.closed.foreach { w =>
      val got = p.emitted.getOrElse(w, Nil)
      res.check(got.size == 1 && got.head.explanation == expected(w) && got.head.n_obs == rows(w).size)
    }
    warm.foreach(check)
    progress(s"explanation sizes ${expected.values.map(_.size).toSeq.sorted.mkString(" ")}")

    if (!a.trace) {
      val passes = mutable.ArrayBuffer[StreamReplay.Pass]()
      val heap = mutable.ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      while (passes.map(_.closed.size).sum < MinStreamSamples || secondsSince(t0) < a.seconds) {
        System.gc()
        Heap.reset()
        passes += replay.pass(replay.batches.size, s"p${passes.size}")
        heap += Heap.peakMb
      }
      passes.foreach(check)
      val lat = passes.toSeq.flatMap(_.latenciesMs)
      res.put("explain_s", median(passes.toSeq.map(_.seconds)), "s")
      res.put("emit_p50_ms", median(lat), "ms")
      res.put("emit_p90_ms", percentile(lat, 0.9), "ms")
      res.put("peak_heap_mb", heap.max, "MB")
      progress(s"passes ${passes.map(p => f"${p.seconds}%.2f").mkString(" ")} s, " +
        s"peak heap ${heap.map(h => f"$h%.0f").mkString(" ")} MB, " +
        s"${lat.size} close-to-emit samples")
      return
    }

    val untraced = replay.pass(replay.batches.size, "untraced")
    check(untraced)
    val tr = new Tracer(spark.sparkContext, a.workload)
    spark.sparkContext.addSparkListener(tr.sparkListener)
    spark.streams.addListener(tr.streamListener)
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    tr.span("stream.registry")(graft.streaming.StreamingOps.refSeriesRegistry(obs))
    val traced = tr.span("stream")(replay.pass(replay.batches.size, "traced"))
    check(traced)
    require(traced.digest == untraced.digest, "traced stream output differs from the untraced one")
    writeTrace(a, tr)

    // explainBuffered per closed window and the FP pairs it matches,
    // replayed on the driver
    val stats = new Reference.MatchStats
    val closeS = rows.toSeq.map { case (_, r) =>
      val t0 = System.nanoTime()
      graft.streaming.StreamingOps.explainBuffered(r, featureOrder, cfg, registry)
      val s = secondsSince(t0)
      r.filter(_.type_data == 0).groupBy(_.feature).foreach { case (f, g) =>
        registry.get(f).foreach(series =>
          stats.count(g.sortBy(o => (o.timestamp, o.value)).map(_.value).toArray, series, cfg.maxDistance))
      }
      s
    }
    putMatch(layer, stats)
    val c = tr.counters("stream")
    val prog = c.progress.map(_.progress).toSeq
    val dur = (k: String) => prog.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue))
    layer("stream.batches") = prog.size.toDouble
    layer("stream.batch_p50_ms") = median(dur("triggerExecution"))
    layer("stream.planning_ms") = median(dur("queryPlanning"))
    layer("stream.commit_ms") = median(prog.indices.map(i => dur("walCommit")(i) + dur("commitOffsets")(i)))
    layer("stream.state_rows_peak") =
      prog.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0)
    layer("stream.state_bytes_peak") =
      prog.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).maxOption.getOrElse(0.0)
    layer("stream.close_s") = median(closeS)
    putSpark(layer, Seq(c), tr.seconds("stream"), a.cores)
    layer("trace.overhead") = tr.seconds("stream") / untraced.seconds
    layer("stream.registry_s") = tr.seconds("stream.registry")
    putLayers(res, layer)
  }

  // ----------------------------------------------------------------- main

  def json(res: Result): String = {
    val ms = res.metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${res.failed == 0 && res.attempted > 0}, "attempted": ${res.attempted}, """ +
      s""""failed": ${res.failed}, "metrics": {$ms}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toInt,
      argv.lift(6).contains("corrupt"))
    val cfg = configs.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    Heap.install()
    val (spark, setup) = timedSetup(a, SetupBuilds)
    progress(s"sessions built in ${setup.map(t => f"$t%.2f").mkString(" ")} s")
    val res = new Result
    if (a.workload == "stream_close") runStream(spark, a, cfg, res)
    else runBatch(spark, a, cfg, res)
    if (!a.trace) res.put("setup_s", median(setup), "s")
    spark.stop()
    progress("session stopped")
    println(json(res))
  }
}
