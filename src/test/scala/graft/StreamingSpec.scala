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

  test("windowed rollup over a streamed metric source (memory sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "feature", "value")
    val agg = StreamingOps.windowedMetricRollup(df, watermark = "1 minute", windowLen = "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rollup").start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    input.addData(
      (base, "cpu", 1.0),
      (new java.sql.Timestamp(base.getTime + 5000), "cpu", 3.0),
      (new java.sql.Timestamp(base.getTime + 70000), "mem", 7.0))
    q.processAllAvailable()
    val out = spark.table("rollup").collect()
    q.stop()
    assert(out.nonEmpty)
    val cpu = out.find(_.getAs[String]("feature") == "cpu").get
    assert(cpu.getAs[Long]("n") == 2L)
    assert(cpu.getAs[Double]("sum_value") == 4.0)
  }

  test("windowed distinct-user rollup rides the HLL++ sketch (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = StreamingOps.windowedDistinctUsers(
      input.toDF().toDF("ts", "user_id"), watermark = "1 minute", windowLen = "1 minute")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("distinct_users").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // window 1: users 1,2,3 (user 1 twice); window 2: user 9 only
    input.addData((ts(0), 1L), (ts(5), 2L), (ts(10), 3L), (ts(15), 1L), (ts(70), 9L))
    q.processAllAvailable()
    val out = spark.table("distinct_users").collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start") ->
        (r.getAs[Long]("n_users_approx"), r.getAs[Long]("n_events"))).toMap
    q.stop()
    // HLL++ is exact at these cardinalities
    assert(out.values.toSet == Set((3L, 4L), (1L, 1L)), s"got $out")
  }

  test("explanation emitted the moment a window closes (paper's online path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // f1 separates the classes cleanly (2 segments, high reward); f2
    // interleaves (4 segments, low reward) -> leap cutoff keeps only f1;
    // f3 observes a single class -> excluded from the ranking entirely.
    // Hand-derived: f1 reward = 1.0 / (0.5*ln 2) ~ 2.885, f2 = 1.0 /
    // (3 * 0.25*ln 4) ~ 0.962; max leap 1.923 breaks at f2.
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
    assert(out.head.getSeq[String](2) == Seq("f1"))
    // and the streaming answer is exactly the pure-kernel (= batch) answer
    assert(StreamingOps.explainBuffered(w1, Seq("f1", "f2", "f3"),
      ExstreamConfig(applyWorstCase = true)) == Seq("f1"))
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
    assert(out.head.getSeq[String](2) == Seq("f1"))
  }

  test("session windows close on gap and finalize past the watermark (q50's streaming twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val sessions = StreamingOps.sessionRollup(
      input.toDF().toDF("ts", "user_id"), gap = "1 minute", watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // burst of 3 events, then a 10-minute silence, then a second burst
    input.addData((ts(0), 7L), (ts(10), 7L), (ts(20), 7L))
    q.processAllAvailable()
    input.addData((ts(600), 7L), (ts(610), 7L))
    q.processAllAvailable()
    input.addData((ts(1200), 7L)) // advance the watermark past burst 2
    q.processAllAvailable()
    val out = spark.table("sessions").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    q.stop()
    // both closed sessions emitted with their event counts
    assert(out.sorted.toSeq == Seq((7L, 2L), (7L, 3L)).sorted, s"got ${out.toSeq}")
  }

  test("streaming ingest dedup suppresses repeated content within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val deduped = StreamingOps.dedupIngest(
      input.toDF().toDF("ts", "doc_id", "text"), textCol = "text",
      watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ingest").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    input.addData(
      (ts(0), 1L, "alpha beta"),
      (ts(1), 2L, "alpha beta"),  // exact dup of doc 1
      (ts(2), 3L, "gamma delta"))
    q.processAllAvailable()
    input.addData((ts(3), 4L, "alpha beta")) // dup arriving in a later batch
    q.processAllAvailable()
    val out = spark.table("dedup_ingest").collect()
    q.stop()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(out.length == 2, s"got ${ids.toSeq.sorted}")
    assert(ids.contains(3L))
    assert((ids intersect Set(1L, 2L, 4L)).size == 1) // exactly one alpha-beta survives
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

  test("stream-stream interval join: purchases attribute to in-horizon clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
    val joined = StreamingOps.attributeToClick(
      clicks.toDF().toDF("ts", "user_id", "click_id"),
      purchases.toDF().toDF("ts", "user_id", "purchase_id", "value"),
      horizon = "1 hour", watermark = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0.getTime + offsetSec * 1000)
    clicks.addData(
      (t0, 1L, 100L), // in horizon for user 1's purchase
      (ts(-7200), 1L, 101L), // 2h before: outside the 1h horizon
      (t0, 2L, 200L)) // other user, no purchase
    purchases.addData(
      (ts(1800), 1L, 900L, 42.0), // 30 min after user 1's click
      (ts(1800), 3L, 901L, 7.0)) // user with no clicks: never emits
    q.processAllAvailable()
    val out = spark.table("attrib").collect()
    q.stop()
    assert(out.length == 1, s"expected exactly one attribution, got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("user_id") == 1L && r.getAs[Long]("click_id") == 100L &&
      r.getAs[Long]("purchase_id") == 900L && r.getAs[Double]("value") == 42.0)
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

  test("PII redaction at ingest reproduces the batch q106 rows exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = Queries.queries("q106_pii_redaction")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // replay the SAME augmented rows as a stream through the ingest stage
    val rows = Queries.t(spark, sf, "documents")
      .select(col("doc_id"), Queries.piiAugment.as("atext"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.redactIngest(input.toDF().toDF("doc_id", "atext"))
      .writeStream.outputMode("append").format("memory").queryName("pii_ingest").start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    val got = spark.table("pii_ingest").collect().map(_.toSeq).toSet
    q.stop()
    assert(got == batch, s"stream ${got.size} rows != batch ${batch.size}")
  }

  test("blocklist scan at ingest reproduces the batch q175 rows exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val batch = Queries.queries("q175_blocklist")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture must contain blocklist hits")
    // replay the same documents as a stream through the ingest stage
    val rows = Queries.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.blocklistIngest(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("blocklist_ingest").start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    val got = spark.table("blocklist_ingest").collect().map(_.toSeq).toSet
    q.stop()
    assert(got == batch, s"stream ${got.size} rows != batch ${batch.size}")
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
}
