package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.StreamObs

class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    // the engine contract (Verify/Bench): NumPy-faithful IEEE float
    // semantics — q99's 0/0 -> NaN -> filtered path depends on it
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("explanation emitted the moment a window closes (paper's online path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The buffer pivots to six (timestamp, class) rows, three per class.
    // f1 separates the classes cleanly (2 segments, high reward); f2
    // interleaves (4 segments, low reward); f3 reports in the reference
    // half only, so its anomaly cells are empty, as in batch: its values
    // are one class, the segmentation entropy 0 and the reward +inf.
    // Hand-derived: f1 reward = 1.0 / (0.5*ln 2) ~ 2.885, f2 = 1.0 /
    // (3 * 0.25*ln 4) ~ 0.962; the largest leap is the +inf one after f3,
    // so the leap cut keeps f3 alone.
    val w1 = Seq(
      StreamObs("w1", "f2", 1L, 0, 1.0), StreamObs("w1", "f2", 2L, 1, 2.0),
      StreamObs("w1", "f1", 1L, 0, 1.0), StreamObs("w1", "f1", 2L, 0, 2.0),
      StreamObs("w1", "f3", 1L, 0, 4.0), StreamObs("w1", "f3", 2L, 0, 5.0),
      StreamObs("w1", "f1", 3L, 1, 10.0), StreamObs("w1", "f1", 4L, 1, 11.0),
      StreamObs("w1", "f2", 3L, 0, 10.0), StreamObs("w1", "f2", 4L, 1, 11.0))
    val input = MemoryStream[StreamObs]
    val exps = StreamingOps.explainOnCloseCfg(input.toDS(), Seq("f1", "f2", "f3"),
      ExstreamConfig(applyWorstCase = true))
    val q = exps.writeStream.outputMode("append")
      .format("memory").queryName("exps").start()
    input.addData(w1: _*)
    q.processAllAvailable()
    assert(spark.table("exps").count() == 0) // window still open
    input.addData(StreamObs("w1", "", 5L, -1, 0.0))
    q.processAllAvailable()
    val out = spark.table("exps").collect()
    q.stop()
    assert(out.length == 1)
    assert(out.head.getAs[Int]("n_obs") == 10)
    assert(out.head.getSeq[String](2) == Seq("f3"))
    // and the streaming answer is exactly the batch answer on the same rows
    val batch = ExstreamPipeline.explanatoryFeatures(
      w1.map(o => (o.window_key, "trace1", o.timestamp, o.type_data, o.feature, o.value))
        .toDF("window_key", "trace_id", "timestamp", "type_data", "feature", "value"),
      Seq("f1", "f2", "f3"), ExstreamConfig(applyWorstCase = true))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(StreamingOps.explainBuffered(w1, Seq("f1", "f2", "f3"),
      ExstreamConfig(applyWorstCase = true)) == batch("w1"))
  }

  test("streaming explanation matches batch on ALL FOUR configs (cluster x fp)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // One labeled window, engineered so each pipeline stage changes the
    // answer visibly:
    //  fa: oscillating ref / high separated ano -> the true explanation;
    //  fc = 2*fa+1: perfectly correlated clone (corr 1.0) -> dropped by
    //      the cluster stage; z-normalization makes its FP profile
    //      identical to fa's, so only clustering distinguishes them;
    //  fb: sawtooth ref whose shape the ano pattern repeats EXACTLY
    //      twice (z-norm distance 0 at offsets 0 and 3, outside the
    //      ceil(4/4) exclusion zone) -> 2 matches > matchCountKeep=1 ->
    //      dropped by the FP stage (corr(fa,fb)=0.714, so the 0.95
    //      threshold keeps the cluster stage out of fb's fate);
    //  fd: class-interleaved noise -> leap-cut in every config.
    val refTs = (1L to 8L)
    val anoTs = (21L to 24L)
    def obsFor(f: String, refVals: Seq[Double], anoVals: Seq[Double]) =
      refTs.zip(refVals).map { case (t, v) => StreamObs("w1", f, t, 0, v) } ++
        anoTs.zip(anoVals).map { case (t, v) => StreamObs("w1", f, t, 1, v) }
    val faR = Seq(5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0)
    val faA = Seq(9.0, 9.5, 10.0, 9.7)
    val w1: Seq[StreamObs] =
      obsFor("fa", faR, faA) ++
        obsFor("fb", Seq(1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 1.0, 2.0), Seq(5.0, 10.0, 15.0, 5.0)) ++
        obsFor("fc", faR.map(2 * _ + 1), faA.map(2 * _ + 1)) ++
        (refTs.take(4).zip(Seq(1.0, 9.0, 2.0, 8.0)).map { case (t, v) => StreamObs("w1", "fd", t, 0, v) } ++
          anoTs.zip(Seq(1.5, 8.5, 2.5, 9.5)).map { case (t, v) => StreamObs("w1", "fd", t, 1, v) })
    val order = Seq("fa", "fb", "fc", "fd")
    val batchObs = w1.map(o =>
        (o.window_key, "trace1", o.timestamp, o.type_data, o.feature, o.value))
      .toDF("window_key", "trace_id", "timestamp", "type_data", "feature", "value")

    val results = for {
      cluster <- Seq(false, true)
      fp <- Seq(false, true)
    } yield {
      val cfg = ExstreamConfig(cluster = cluster, correlationThreshold = 0.95,
        falsePositiveFiltering = fp, maxDistance = 1.0, matchCountKeep = 1,
        patternFromRefWindow = false, applyWorstCase = true)
      val batch = ExstreamPipeline.explanatoryFeatures(batchObs, order, cfg)
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val streamed = StreamingOps.explainBuffered(w1, order, cfg)
      assert(batch("w1") == streamed,
        s"cluster=$cluster fp=$fp: batch=${batch("w1")} stream=$streamed")
      (cluster, fp) -> streamed
    }
    val byCfg = results.toMap
    // every stage visibly does its job, matching the hand-derived design
    assert(byCfg.values.forall(_.contains("fa")))
    assert(byCfg.values.forall(!_.contains("fd")))
    assert(byCfg((false, false)).contains("fc") && byCfg((false, false)).contains("fb"))
    assert(Seq(true).forall(c => !byCfg((c, false)).contains("fc") && !byCfg((c, true)).contains("fc")))
    assert(Seq(true).forall(f => !byCfg((false, f)).contains("fb") && !byCfg((true, f)).contains("fb")))

    // and the full cluster=T fp=T config runs ONLINE through the real
    // stateful operator, emitting the same answer at window close
    val cfgTT = ExstreamConfig(cluster = true, correlationThreshold = 0.95,
      falsePositiveFiltering = true, maxDistance = 1.0, matchCountKeep = 1,
      patternFromRefWindow = false, applyWorstCase = true)
    val input = MemoryStream[StreamObs]
    val exps = StreamingOps.explainOnCloseCfg(input.toDS(), order, cfgTT)
    val q = exps.writeStream.outputMode("append")
      .format("memory").queryName("exps_cfg").start()
    input.addData(w1: _*)
    q.processAllAvailable()
    assert(spark.table("exps_cfg").count() == 0) // window still open
    input.addData(StreamObs("w1", "", 30L, -1, 0.0))
    q.processAllAvailable()
    val out = spark.table("exps_cfg").collect()
    q.stop()
    assert(out.length == 1)
    assert(out.head.getSeq[String](2) == byCfg((true, true)))
  }

  test("event-time timeout: a window whose close marker was LOST still emits " +
      "its explanation when the watermark passes span end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w1 = Seq(
      StreamObs("w1", "f2", 1L, 0, 1.0), StreamObs("w1", "f2", 2L, 1, 2.0),
      StreamObs("w1", "f1", 1L, 0, 1.0), StreamObs("w1", "f1", 2L, 0, 2.0),
      StreamObs("w1", "f3", 1L, 0, 4.0), StreamObs("w1", "f3", 2L, 0, 5.0),
      StreamObs("w1", "f1", 3L, 1, 10.0), StreamObs("w1", "f1", 4L, 1, 11.0),
      StreamObs("w1", "f2", 3L, 0, 10.0), StreamObs("w1", "f2", 4L, 1, 11.0))
    val input = MemoryStream[StreamObs]
    val exps = StreamingOps.explainOnCloseCfg(input.toDS(), Seq("f1", "f2", "f3"),
      ExstreamConfig(applyWorstCase = true),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
      timeoutSpanMs = 10L, watermarkDelay = "0 seconds")
    val q = exps.writeStream.outputMode("append")
      .format("memory").queryName("exps_et").start()
    input.addData(w1: _*) // NO close marker for w1, ever
    q.processAllAvailable()
    assert(spark.table("exps_et").count() == 0) // watermark still at w1's span
    // a much-later event on another window advances the watermark past
    // w1's (max event time 4 ms + span 10 ms); the timeout fires on the
    // following batch using the advanced watermark
    input.addData(StreamObs("w2", "f1", 100000L, 0, 1.0))
    q.processAllAvailable()
    input.addData(StreamObs("w2", "f1", 100001L, 0, 2.0))
    q.processAllAvailable()
    val out = spark.table("exps_et").collect()
    q.stop()
    assert(out.length == 1)
    assert(out.head.getAs[String]("window_key") == "w1")
    assert(out.head.getAs[Int]("n_obs") == 10)
    // the force-closed window gets the SAME answer the close marker gives
    assert(out.head.getSeq[String](2) == Seq("f3"))
    // there is no wall-clock mode: a processing-time timeout is refused
    val err = intercept[IllegalArgumentException] {
      StreamingOps.explainOnCloseCfg(input.toDS(), Seq("f1"), ExstreamConfig(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout())
    }
    assert(err.getMessage.contains("NoTimeout") && err.getMessage.contains("EventTimeTimeout"))
  }

  test("stream-static enrichment join stays broadcast (no stateful shuffle)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ingest-time lookup join: a streaming fact enriched by a static
    // dimension — no watermark, no state store, the dim side broadcasts
    val dim = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
    val input = MemoryStream[(Long, Double)]
    val enriched = input.toDF().toDF("doc_id", "score")
      .join(broadcast(dim), Seq("doc_id"), "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    input.addData((1L, 0.9), (2L, 0.4), (7L, 0.5))
    q.processAllAvailable()
    val out = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    q.stop()
    assert(out == Map(1L -> Some("en"), 2L -> Some("de"), 7L -> None))
  }

  test("two-window trace: the FP series registry reproduces batch where window-local diverges") {
    import spark.implicits._
    // The r4 verdict's streaming boundary, narrowed: batch FP matches a
    // window's pattern against the reference series of the WHOLE trace;
    // an online close only holds one window. Fixture (hand-tuned against
    // the kernels):
    //  fa: the clean explanation — separated ano, matches nothing;
    //  fb: w2's pattern (5,10,15,5.1) z-matches w1's sawtooth REFERENCE
    //      twice but not w2's own alternating reference (value-separated
    //      below the ano so its reward ties fa's — the reference's leap
    //      rule needs a THIRD, low-reward feature to host the max leap,
    //      otherwise a 0-width tie leap cuts the second feature);
    //  fd: value-interleaved classes -> low reward (the leap host); its
    //      ramp-shaped ano matches no oscillating reference, so FP keeps
    //      it in every mode and the reward stage sees the same trio
    //      everywhere.
    // So: batch drops fb from w2 (2 trace-wide matches), window-local
    // streaming keeps it (0 matches in w2's own refs), and streaming
    // WITH the registry equals batch — on both windows.
    def obsW(w: String, f: String, refTs: Seq[Long], refVals: Seq[Double],
             anoTs: Seq[Long], anoVals: Seq[Double]): Seq[StreamObs] =
      refTs.zip(refVals).map { case (t, v) => StreamObs(w, f, t, 0, v) } ++
        anoTs.zip(anoVals).map { case (t, v) => StreamObs(w, f, t, 1, v) }
    val faR = Seq(5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0)
    val faA = Seq(9.0, 9.5, 10.0, 9.7)
    val saw = Seq(1.0, 2.0, 3.0, 1.0, 2.0, 3.0, 1.0, 2.0)
    val osc = Seq(-30.0, -40.1, -30.2, -40.3, -30.4, -40.5, -30.6, -40.7)
    val fdR = Seq(1.0, 9.3, 2.2, 8.1, 1.4, 9.9, 2.8, 8.6)
    val fdA = Seq(2.0, 4.5, 7.0, 8.8)
    val fbA = Seq(5.0, 10.0, 15.0, 5.1)
    val w1 = obsW("w1", "fa", 1L to 8L, faR, 21L to 24L, faA) ++
      obsW("w1", "fb", 1L to 8L, saw, 21L to 24L, fbA) ++
      obsW("w1", "fd", 1L to 8L, fdR, 21L to 24L, fdA)
    val w2 = obsW("w2", "fa", 31L to 38L, faR, 41L to 44L, faA) ++
      obsW("w2", "fb", 31L to 38L, osc, 41L to 44L, fbA) ++
      obsW("w2", "fd", 31L to 38L, fdR, 41L to 44L, fdA)
    val order = Seq("fa", "fb", "fd")
    val cfg = ExstreamConfig(cluster = false, falsePositiveFiltering = true,
      maxDistance = 1.0, matchCountKeep = 1,
      patternFromRefWindow = false, applyWorstCase = true)

    val batchObs = (w1 ++ w2).map(o =>
        (o.window_key, "trace1", o.timestamp, o.type_data, o.feature, o.value))
      .toDF("window_key", "trace_id", "timestamp", "type_data", "feature", "value")
    val batch = ExstreamPipeline.explanatoryFeatures(batchObs, order, cfg)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap

    val registry = StreamingOps.refSeriesRegistry(batchObs)
    assert(registry("fb").length == 16, "registry must span BOTH windows' refs")

    val localW2 = StreamingOps.explainBuffered(w2, order, cfg)
    val regW2 = StreamingOps.explainBuffered(w2, order, cfg, registry)
    val regW1 = StreamingOps.explainBuffered(w1, order, cfg, registry)

    // batch drops fb from w2 (its pattern matches w1's sawtooth twice);
    // window-local streaming cannot see that and keeps fb
    assert(!batch("w2").contains("fb") && batch("w2").contains("fa"))
    assert(localW2.contains("fb"), "window-local must diverge on this fixture")
    // the registry closes the gap for BOTH windows
    assert(regW2 == batch("w2"), s"registry w2 ${regW2} != batch ${batch("w2")}")
    assert(regW1 == batch("w1"), s"registry w1 ${regW1} != batch ${batch("w1")}")
  }

  test("explainBuffered on bad windows: empty, one-class and constant-feature windows " +
      "have a defined answer on all four configs") {
    // pure: no Spark session is touched
    val order = Seq("fa", "fk")
    def obs(f: String, cls: Int, ts: Seq[Long], vals: Seq[Double]) =
      ts.zip(vals).map { case (t, v) => StreamObs("w", f, t, cls, v) }
    val faRef = obs("fa", 0, 1L to 8L, Seq(5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0))
    val faAno = obs("fa", 1, 21L to 24L, Seq(9.0, 9.5, 10.0, 9.7))
    // fk never moves: zero variance in both classes
    val fkRef = obs("fk", 0, 1L to 8L, Seq.fill(8)(3.0))
    val fkAno = obs("fk", 1, 21L to 24L, Seq.fill(4)(3.0))
    val windows: Seq[(String, Seq[StreamObs], Seq[String])] = Seq(
      ("empty", Seq.empty, Seq.empty),
      ("anomaly-only", faAno ++ fkAno, Seq.empty),
      ("reference-only", faRef ++ fkRef, Seq.empty),
      // the constant feature's correlation is undefined (no cluster
      // edge) and its worst-case reward is finite and below fa's, so the
      // leap cut keeps fa alone
      ("constant feature", faRef ++ faAno ++ fkRef ++ fkAno, Seq("fa")))
    for {
      cluster <- Seq(false, true)
      fp <- Seq(false, true)
      (name, buf, expected) <- windows
    } {
      val cfg = ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp)
      val got = StreamingOps.explainBuffered(buf, order, cfg)
      assert(got == expected, s"$name cluster=$cluster fp=$fp: got $got")
    }
    val fkAll = fkRef ++ fkAno
    val fkReward = graft.functions.EntropyCore.reward(
      graft.functions.EntropyCore.classEntropy(4, 8),
      fkAll.map(_.value).toArray, fkAll.map(_.type_data).toArray)
    assert(!fkReward.isNaN && !fkReward.isInfinite && fkReward > 0.0, s"fk reward $fkReward")
  }

  test("sparse window: a feature with no anomaly rows and a feature missing ticks " +
      "explain as in batch on all four configs") {
    import spark.implicits._
    // fa has reference rows only: batch counts its empty anomaly cells, so
    // its non-empty cells are one class, the segmentation entropy 0 and
    // the reward +inf; fb misses two reference ticks and one anomaly tick
    // (empty cells count toward its class sizes); fc separates the
    // classes, fd interleaves them
    def obs(f: String, cls: Int, ts: Seq[Long], vals: Seq[Double]) =
      ts.zip(vals).map { case (t, v) => StreamObs("w1", f, t, cls, v) }
    val refTs = 1L to 8L
    val anoTs = 21L to 24L
    val w1 =
      obs("fa", 0, refTs, Seq(3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 1.0, 9.0)) ++
        obs("fb", 0, Seq(1L, 2L, 4L, 5L, 7L, 8L), Seq(1.0, 2.0, 1.5, 2.5, 1.2, 2.2)) ++
        obs("fb", 1, Seq(21L, 23L, 24L), Seq(10.0, 11.0, 10.5)) ++
        obs("fc", 0, refTs, Seq(5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0)) ++
        obs("fc", 1, anoTs, Seq(9.0, 9.5, 10.0, 9.7)) ++
        obs("fd", 0, refTs, Seq(1.0, 9.3, 2.2, 8.1, 1.4, 9.9, 2.8, 8.6)) ++
        obs("fd", 1, anoTs, Seq(1.5, 8.5, 2.5, 9.5))
    val order = Seq("fa", "fb", "fc", "fd")
    val batchObs = w1.map(o =>
        (o.window_key, "trace1", o.timestamp, o.type_data, o.feature, o.value))
      .toDF("window_key", "trace_id", "timestamp", "type_data", "feature", "value")
    for (cluster <- Seq(false, true); fp <- Seq(false, true)) {
      val cfg = ExstreamConfig(cluster = cluster, correlationThreshold = 0.95,
        falsePositiveFiltering = fp, maxDistance = 1.0, matchCountKeep = 1,
        patternFromRefWindow = false, applyWorstCase = true)
      val batch = ExstreamPipeline.explanatoryFeatures(batchObs, order, cfg)
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val streamed = StreamingOps.explainBuffered(w1, order, cfg)
      assert(streamed == batch("w1"), s"cluster=$cluster fp=$fp: batch=${batch("w1")} stream=$streamed")
      // without the FP filter fa leads; with it fa has an empty anomaly
      // pattern, so it takes no part in the match and is dropped
      if (!fp) assert(streamed.headOption.contains("fa"), s"cluster=$cluster: $streamed")
    }
  }

}
