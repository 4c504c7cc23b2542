package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, first, lit, md5}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Sources

/**
 * End-to-end pipeline tests against the fixture traces under
 * `src/test/resources/traces` (FIXTURES.md A1/A2). Expected explanations
 * were produced by executing the REFERENCE implementation
 * (`/root/reference/utils/get_data.py` + `entropy_based_single_reward_feature.py`,
 * with the notebook-intent shuffle of `testing.ipynb` cell 8 for
 * applyWorstCase=true and the deterministic min-index cluster
 * representative for cluster=true) on the same fixture.
 */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixtureDir = "src/test/resources/traces"

  private lazy val loaded = {
    val (traceLong, featureOrder) = Sources.readAllTraces(spark, fixtureDir, "labels")
    val labels = Sources.readLabels(spark, s"$fixtureDir/labels.csv")
    val obs = IntervalLabeler.labelObservations(traceLong, labels).cache()
    (obs, featureOrder, labels)
  }

  private def explanationMap(cfg: ExstreamConfig): Map[String, Seq[String]] = {
    val (obs, featureOrder, _) = loaded
    ExstreamPipeline.explanatoryFeatures(obs, featureOrder, cfg)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
  }

  private val allWindows = Seq(
    "bursty input_1_1_0", "bursty input_1_1_1",
    "stalled input_2_1_2", "stalled input_2_1_3")

  test("interval bounds: ref half-open, ano closed (get_data.py:86-95)") {
    val (obs, featureOrder, _) = loaded
    import spark.implicits._
    val counts = obs
      .filter($"window_key" === "bursty input_1_1_0" && $"feature" === "f_sep")
      .groupBy("type_data").count().as[(Int, Long)].collect().toMap
    assert(counts(0) == 100L) // [0, 100)
    assert(counts(1) == 51L)  // [200, 250]
  }

  test("feature order discovered dynamically from trace header") {
    val (_, featureOrder, _) = loaded
    assert(featureOrder == Seq("f_sep", "f_tied", "f_const", "f_corr", "f_noise", "f_repeat"))
  }

  test("rewards match reference bit-for-bit (script mode, window 0)") {
    val (obs, _, _) = loaded
    import spark.implicits._
    val got = EntropyReward.rewards(obs, applyWorstCase = false)
      .filter($"window_key" === "bursty input_1_1_0")
      .select("feature", "reward")
      .as[(String, Double)].collect().toMap
    val want = Map(
      "f_sep" -> 3.3806489108067477, "f_const" -> 3.3806489108067477,
      "f_corr" -> 3.3806489108067477, "f_tied" -> 0.44652179825385957,
      "f_noise" -> 0.24705112235744833, "f_repeat" -> 0.24281698713383848)
    want.foreach { case (f, w) =>
      assert(math.abs(got(f) - w) < 1e-9, s"$f: ${got(f)} vs $w")
    }
  }

  test("explanations: cluster=F, script-mode shuffle (no-op)") {
    val got = explanationMap(ExstreamConfig(cluster = false, applyWorstCase = false))
    allWindows.foreach { w =>
      assert(got(w) == Seq("f_sep", "f_const", "f_corr"), s"window $w: ${got(w)}")
    }
  }

  test("explanations: cluster=F, notebook-intent shuffle") {
    val got = explanationMap(ExstreamConfig(cluster = false, applyWorstCase = true))
    allWindows.foreach { w => assert(got(w) == Seq("f_sep", "f_corr"), s"window $w: ${got(w)}") }
  }

  test("explanations: cluster=T drops the 0.999-correlated twin") {
    val gotScript = explanationMap(ExstreamConfig(cluster = true, applyWorstCase = false))
    allWindows.foreach { w => assert(gotScript(w) == Seq("f_sep", "f_const"), s"$w: ${gotScript(w)}") }
    val gotIntent = explanationMap(ExstreamConfig(cluster = true, applyWorstCase = true))
    allWindows.foreach { w => assert(gotIntent(w) == Seq("f_sep"), s"$w: ${gotIntent(w)}") }
  }

  test("false-positive filter drops the recurring-pattern feature, keeps rare ones") {
    val (obs, featureOrder, _) = loaded
    import spark.implicits._
    // m=100 window => z-norm distances lie in [0, 20]; 5.0 separates
    // periodic recurrence (near-0 at period offsets) from noise (~14).
    val counts = FalsePositiveFilter.matchCounts(
      obs, featureOrder.zipWithIndex.toMap,
      maxDistance = 5.0, matchCountKeep = 5, patternFromRefWindow = true)
      .filter($"window_key" === "bursty input_1_1_0")
      .select("feature", "n_matches", "kept")
      .as[(String, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!counts("f_repeat")._2, s"f_repeat should be dropped: $counts")
    assert(counts("f_repeat")._1 > 5)
    assert(counts("f_noise")._2, s"f_noise should be kept: $counts")
    val filtered = FalsePositiveFilter.filterObservations(
      obs, FalsePositiveFilter.matchCounts(
        obs, featureOrder.zipWithIndex.toMap, 5.0, 5, patternFromRefWindow = true))
    val feats = filtered.filter($"window_key" === "bursty input_1_1_0")
      .select("feature").distinct().as[String].collect().toSet
    assert(!feats.contains("f_repeat"))
  }

  test("type-level grouping variant pools windows per anomaly type (SURVEY §3.3)") {
    val (obs, featureOrder, _) = loaded
    import org.apache.spark.sql.functions.col
    val byType = ExstreamPipeline.explanatoryFeatures(
      obs.withColumn("window_key", col("ano_type")), featureOrder,
      ExstreamConfig(applyWorstCase = true))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byType.keySet == Set("bursty input", "stalled input"))
    byType.values.foreach(f => assert(f.contains("f_sep")))
  }

  test("RandomForest importance baseline ranks the separating feature first (M5)") {
    // the wide labeled rows constructExplanations reads
    val (traces, featureOrder) = Sources.readTracesWide(spark, fixtureDir, "labels")
    val wide = IntervalLabeler.labelObservations(Sources.unionWide(traces),
      Sources.readLabels(spark, s"$fixtureDir/labels.csv"))
    val imps = FeatureImportance.randomForestImportances(wide, featureOrder)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imps.map(_._1).take(2).toSet.intersect(Set("f_sep", "f_corr")).nonEmpty)
    assert(math.abs(imps.map(_._2).sum - 1.0) < 1e-6)
    // seeded determinism
    val again = FeatureImportance.randomForestImportances(wide, featureOrder)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(imps.toSeq == again.toSeq)
  }

  test("fused construct matches per-resample explanatoryFeatures run separately " +
      "(full config: clustering + FP filtering)") {
    // every (cluster, fp) config, the full one included
    val (obs, featureOrder, labels) = loaded
    val keyOf = labels.collect().map { r =>
      val (tid, aid) = (r.getAs[String]("trace_id"), r.getAs[Long]("ano_id"))
      (tid, aid) -> s"${Sources.anomalyTypeForTrace(tid)}_${tid}_${r.getAs[Long]("label_row")}"
    }.toMap
    val featIdx = featureOrder.zipWithIndex.toMap
    for (cluster <- Seq(false, true); fp <- Seq(false, true)) {
      val cfg = ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp,
        maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
      val fused = ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
        .orderBy("trace_id", "ano_id").collect()

      // replicate each pipeline instance the SLOW way: apply the fused
      // path's exact md5 sampling predicate per rs, then run the
      // single-instance explanatoryFeatures on that slice
      val perRs: Map[Int, Map[String, Seq[String]]] = (-1 until cfg.instabilityRounds).map { rs =>
        rs -> ExstreamPipeline.explanatoryFeatures(sliceFor(obs, rs, cfg), featureOrder, cfg)
          .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      }.toMap

      val tag = s"cluster=$cluster fp=$fp"
      fused.foreach { row =>
        val wk = keyOf((row.getString(0), row.getLong(1)))
        val wantMain = perRs(-1)(wk).map(featIdx)
        assert(row.getSeq[Int](2) == wantMain, s"$tag $wk main: ${row.getSeq[Int](2)} vs $wantMain")
        val wantInst = graft.functions.EntropyCore.instabilityEntropy(
          (0 until cfg.instabilityRounds).flatMap(rs => perRs(rs).get(wk)))
        assert(math.abs(row.getDouble(4) - wantInst) < 1e-12,
          s"$tag $wk instability: ${row.getDouble(4)} vs $wantInst")
      }
      assert(fused.length == 4, tag)
    }
  }

  test("sampleFraction is honored by the fused resampler (16-bit md5 cutoff)") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, md5}
    assert(ExstreamPipeline.sampleCutoffHex(0.8) == "cccd")
    assert(ExstreamPipeline.sampleCutoffHex(0.5) == "8000")
    assert(ExstreamPipeline.sampleCutoffHex(0.0) == "0000")
    // fractions rounding to 65536 must keep EVERYTHING ("g" sorts above
    // every hex digit) — the naive 5-char "10000" would keep only ~6%
    assert(ExstreamPipeline.sampleCutoffHex(0.999999) == "g")
    assert(ExstreamPipeline.sampleCutoffHex(1.0) == "g")
    val (obs, _, _) = loaded
    val n = obs.count().toDouble
    def keptFrac(f: Double): Double = obs.where(
      md5(concat_ws("_", lit(42L), col("window_key"), col("type_data"),
        col("timestamp"), lit(0)).cast("binary")) <
        ExstreamPipeline.sampleCutoffHex(f)).count() / n
    assert(math.abs(keptFrac(0.8) - 0.8) < 0.05, s"0.8 -> ${keptFrac(0.8)}")
    assert(math.abs(keptFrac(0.5) - 0.5) < 0.05, s"0.5 -> ${keptFrac(0.5)}")
    assert(keptFrac(0.0) == 0.0)
  }

  test("constructExplanations: full output schema, determinism, instability range") {
    val cfg = ExstreamConfig(cluster = false, applyWorstCase = true, instabilityRounds = 2)
    val out1 = ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
      .orderBy("trace_id", "ano_id").collect()
    assert(out1.length == 4)
    out1.foreach { r =>
      val exp = r.getSeq[Int](2)
      assert(exp.nonEmpty && exp.forall(_ >= 0))
      assert(r.getInt(3) == exp.size) // exp_size
      val inst = r.getDouble(4)
      assert(inst >= 0.0 && !inst.isNaN)
    }
    // main explanation (index path) matches the golden: [0, 3] = f_sep, f_corr
    assert(out1.forall(_.getSeq[Int](2) == Seq(0, 3)))
    // seeded determinism (reference is unseeded — SURVEY §4a quirk 7)
    val out2 = ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
      .orderBy("trace_id", "ano_id").collect()
    assert(out1.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("constructExplanations: owned lifecycle adds no catalog cache entries") {
    // The r5 rule (ShardingSpec probe) extended over the full pipeline:
    // obs0 rides localCheckpoint, not cache(), so repeated
    // constructExplanations calls must not accumulate InMemoryRelations.
    // Delta-based because this suite's own `loaded` fixture caches an
    // identical labelObservations plan — CacheManager matches by
    // canonicalized plan, so an absolute catalog-empty probe would see
    // the fixture's cache, not a pipeline leak.
    val cfg = ExstreamConfig(cluster = false, applyWorstCase = false, instabilityRounds = 1)
    def cachedFragments(): Int =
      ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
        .queryExecution.withCachedData.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
        }.size
    val before = cachedFragments()
    for (_ <- 1 to 2)
      assert(ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg).count() > 0)
    assert(cachedFragments() == before,
      "constructExplanations leaked an InMemoryRelation into the catalog cache")
  }

  /** Write a trace folder: `files` maps trace id -> (header columns, rows
    * of cells, timestamp first), plus a labels file (default: one window
    * per trace 1_1 and 2_1, ref [0, 150), ano [200, 260]). */
  private def writeFolder(
      files: Seq[(String, Seq[String], Seq[Seq[String]])],
      labelRows: Seq[String] = Seq("0,1_1,0,0,150,200,260,x", "1,2_1,0,0,150,200,260,x")): String = {
    val dir = java.nio.file.Files.createTempDirectory("pipeline-spec-drift")
    dir.toFile.deleteOnExit()
    def write(name: String, lines: Seq[String]): Unit = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.toFile.deleteOnExit()
    }
    files.foreach { case (id, cols, rows) =>
      write(s"$id.csv", ("" +: cols).mkString(",") +: rows.map(_.mkString(",")))
    }
    write("labels.csv", ",trace_id,ano_id,ref_start,ref_end,ano_start,ano_end,ano_type" +: labelRows)
    dir.toString
  }

  /** Two traces with schema drift: 2_1 lacks 1_1's f_c and adds f_e, and
    * 1_1 has one empty cell (f_c at t=210). f_b is f_a's correlated twin,
    * f_d is periodic; f_a and f_e shift inside the anomaly span. */
  private lazy val driftFiles = {
    val rnd = new scala.util.Random(7)
    def rows(cols: Seq[String]) = (0 until 300).map { ts =>
      val ano = ts >= 200 && ts <= 260
      val a = rnd.nextGaussian() + (if (ano) 6.0 else 0.0)
      ts.toString +: cols.map {
        case "f_a" => a
        case "f_b" => 2 * a + 0.01 * rnd.nextGaussian()
        case "f_c" => 3 * rnd.nextGaussian()
        case "f_d" => 4 * math.sin(ts * 2 * math.Pi / 25) + 0.1 * rnd.nextGaussian()
        case "f_e" => rnd.nextGaussian() + (if (ano) 3.0 else 0.0)
      }.map(v => f"$v%.6f")
    }
    val colsA = Seq("f_a", "f_b", "f_c", "f_d")
    val rowsA = rows(colsA).map(r => if (r.head == "210") r.updated(3, "") else r)
    val colsB = Seq("f_a", "f_b", "f_d", "f_e")
    Seq(("1_1", colsA, rowsA), ("2_1", colsB, rows(colsB)))
  }

  test("schema drift and empty cells: constructExplanations equals explanatoryFeatures " +
      "over readAllTraces on all four configs; a malformed cell fails naming its file") {
    import org.apache.spark.sql.functions.col
    val dir = writeFolder(driftFiles)
    val (traceLong, featureOrder) = Sources.readAllTraces(spark, dir, "labels")
    assert(featureOrder == Seq("f_a", "f_b", "f_c", "f_d"))
    // the long rows are each file's own melt: no f_c rows for 2_1, no f_e
    // rows for 1_1, and the empty cell is one null value
    assert(traceLong.where(col("trace_id") === "2_1" && col("feature") === "f_c").count() == 0)
    assert(traceLong.where(col("trace_id") === "1_1" && col("feature") === "f_e").count() == 0)
    assert(traceLong.where(col("value").isNull).collect().map(r =>
      (r.getAs[String]("trace_id"), r.getAs[Long]("timestamp"), r.getAs[String]("feature"))).toSeq ==
      Seq(("1_1", 210L, "f_c")))
    // a duplicated tick: 1_1 repeats t=230 inside its anomaly span, the two
    // rows differing in f_c only (-1.3 and 1.3, both inside f_c's reference
    // range), and f_c has no other anomaly cell. Both rows keep f_c out of
    // every config's explanation; either row alone lets it in.
    val dup = driftFiles.map {
      case ("1_1", cols, rows) =>
        val j = 1 + cols.indexOf("f_c")
        ("1_1", cols, rows.flatMap { r =>
          val ts = r.head.toInt
          if (ts == 230) Seq(r.updated(j, "-1.3"), r.updated(j, "1.3"))
          else Seq(if (ts >= 200 && ts <= 260) r.updated(j, "") else r)
        })
      case other => other
    }
    val keyOf = Map(("1_1", 0L) -> "bursty input_1_1_0", ("2_1", 0L) -> "stalled input_2_1_1")
    Seq(dir, writeFolder(dup)).foreach { folder =>
      val (traceLong, featureOrder) = Sources.readAllTraces(spark, folder, "labels")
      val labels = Sources.readLabels(spark, s"$folder/labels.csv")
        .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
      val obs = IntervalLabeler.labelObservations(traceLong, labels).cache()
      val featIdx = featureOrder.zipWithIndex.toMap
      for (cluster <- Seq(false, true); fp <- Seq(false, true)) {
        val cfg = ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp,
          maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
        val want = ExstreamPipeline.explanatoryFeatures(obs, featureOrder, cfg).collect()
          .map(r => r.getString(0) -> r.getSeq[String](1).map(featIdx.getOrElse(_, -1))).toMap
        val got = ExstreamPipeline.constructExplanations(spark, folder, "labels", cfg).collect()
          .map(r => keyOf((r.getString(0), r.getLong(1))) -> r.getSeq[Int](2)).toMap
        assert(got == want, s"$folder cluster=$cluster fp=$fp")
        assert(got.values.forall(_.nonEmpty), s"$folder cluster=$cluster fp=$fp: $got")
      }
      obs.unpersist()
    }

    val bad = writeFolder(driftFiles :+ (("3_1", Seq("f_a"), Seq(Seq("0", "1.5"), Seq("1", "abc")))))
    val err = intercept[Exception] {
      ExstreamPipeline.constructExplanations(spark, bad, "labels", ExstreamConfig()).collect()
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(messages.contains("3_1.csv"), messages)
  }

  test("constructExplanations plan build runs 4 jobs: no schema inference, no pivot") {
    // no job runs while the plan is BUILT, before any action: every
    // file's header is read on the driver, with no schema-inference scan,
    // no long -> wide pivot is planned, and correlation selection runs
    // inside the kernel tasks, with no moments aggregate collected to the
    // driver. The name keeps the count this test was introduced with (4,
    // when the join broadcast the label table once per class side and the
    // moments aggregate ran at build); the pin is now the tighter 0.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cfg = ExstreamConfig(cluster = true, falsePositiveFiltering = true,
      maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val plan = try {
      val df = ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
      org.apache.spark.ListenerBusDrain(sc)
      df
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs during plan build")
    assert(plan.count() == 4)
  }

  test("explanatoryFeatures plan build runs no job") {
    // the long rows' feature sets are read inside the kernel task, not
    // collected to the driver while the plan is built
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (obs, featureOrder, _) = loaded
    val cfg = ExstreamConfig(cluster = true, falsePositiveFiltering = true,
      maxDistance = 5.0, applyWorstCase = true)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val plan = try {
      val df = ExstreamPipeline.explanatoryFeatures(obs, featureOrder, cfg)
      org.apache.spark.ListenerBusDrain(sc)
      df
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs during plan build")
    assert(plan.count() == 4)
  }

  test("constructExplanations runs its kernel stage once, one task per resample group, " +
      "every task reading rows") {
    // the kernel stage is the one stage whose RDDs include the kernel's
    // MapPartitions operator; its tasks read the rs-partitioned shuffle
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
    val cfg = ExstreamConfig(cluster = true, falsePositiveFiltering = true,
      maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Boolean)]()
    val taskReads = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add((
        e.stageInfo.stageId, e.stageInfo.numTasks,
        e.stageInfo.rddInfos.exists(_.scope.exists(_.name == "MapPartitions"))))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          taskReads.add((e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    val df = ExstreamPipeline.constructExplanations(spark, fixtureDir, "labels", cfg)
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val rows = try {
      val out = df.collect()
      org.apache.spark.ListenerBusDrain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(rows.length == 4)
    import scala.jdk.CollectionConverters._
    val kernel = stages.asScala.toSeq.filter(_._3)
    assert(kernel.size == 1, s"kernel stage ran ${kernel.size} times: $kernel")
    val (stageId, numTasks, _) = kernel.head
    assert(numTasks == cfg.instabilityRounds + 1, s"$numTasks kernel tasks")
    val reads = taskReads.asScala.toSeq.collect { case (`stageId`, n) => n }
    assert(reads.size == numTasks && reads.forall(_ > 0), s"records read per kernel task: $reads")
  }

  /** `obs` restricted to resample `rs` with the pipeline's md5 sample of
    * whole wide rows; `rs` -1 is the full data. */
  private def sliceFor(obs: DataFrame, rs: Int, cfg: ExstreamConfig): DataFrame =
    if (rs == -1) obs
    else obs.where(
      md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
        col("timestamp"), lit(rs)).cast("binary")) <
        ExstreamPipeline.sampleCutoffHex(cfg.sampleFraction))

  /** Steps 1-3 composed from the public operators — correlation
    * selection, `matchCounts` -> `filterObservations` ->
    * `EntropyReward.rewards` -> `LeapFilter.explanations` — for every
    * config `c` and resample `rs` in one plan: each row is copied once per
    * config and `(c, rs)` is folded into the window key and the FP series
    * alignment key. The configs share every parameter but `cluster` and
    * `falsePositiveFiltering`. An empty cell takes no part in the FP match
    * (pattern and series) but still counts in the class sizes.
    * @return `(c, rs, window_key) -> features` */
  private def composedByRs(obs: DataFrame, featureOrder: Seq[String], cfgs: Seq[ExstreamConfig],
                           rsValues: Seq[Int]): Map[(Int, Int, String), Seq[String]] = {
    val base = cfgs.head
    val featIdx = featureOrder.zipWithIndex.toMap
    val withRs = rsValues.map(rs => sliceFor(obs, rs, base).withColumn("rs", lit(rs)))
      .reduce(_ unionByName _)
    val selByRs = CorrelationFilter.selectFeaturesBy(
      ExstreamPipeline.unfoldRs(
        withRs.withColumn("window_key", ExstreamPipeline.rsKey(col("window_key")))
          .groupBy("window_key", "trace_id", "timestamp", "type_data")
          .pivot("feature", featureOrder).agg(first("value"))),
      featureOrder, base.correlationThreshold, "rs")
    val byCfg = cfgs.zipWithIndex.map { case (cfg, c) =>
      val rows = withRs.withColumn("c", lit(c))
      if (!cfg.cluster) rows
      else rows.where(rsValues.map(rs =>
        col("rs") === rs && col("feature").isin(selByRs(rs): _*)).reduce(_ || _))
    }
    val fpCfgs = cfgs.indices.filter(cfgs(_).falsePositiveFiltering)
    val folded = byCfg.reduce(_ unionByName _)
      .withColumn("k", concat_ws("/", col("c"), col("rs")))
      .withColumn("window_key", concat_ws("#", col("k"), col("window_key")))
      .localCheckpoint() // one scan of the slices for the FP and reward branches
    val fpRows = folded.where(col("c").isin(fpCfgs: _*))
    val filtered = folded.where(!col("c").isin(fpCfgs: _*)).unionByName(
      FalsePositiveFilter.filterObservations(fpRows, FalsePositiveFilter.matchCounts(
        fpRows.where(col("value").isNotNull), featIdx, base.maxDistance, base.matchCountKeep,
        base.patternFromRefWindow, seriesAlignKeys = Seq("k"))))
    val rewards = EntropyReward.rewards(filtered, base.applyWorstCase)
      .withColumn("feat_idx", EntropyReward.featIdxCol(featIdx, col("feature")))
    LeapFilter.explanations(rewards).collect().map { r =>
      val Array(k, wk) = r.getString(0).split("#", 2)
      val Array(c, rs) = k.split("/")
      (c.toInt, rs.toInt, wk) -> r.getSeq[String](1)
    }.toMap
  }

  test("differential: the per-rs kernel equals the public-operator composition on " +
      "traces, traces_f2 and a drifting folder with empty cells, all four configs") {
    // the kernel side is constructExplanations' own plan, every rs at
    // once, before the instability tail; the composition reads the same
    // folder through readAllTraces' per-file melt.
    // One more empty cell, inside 2_1's reference span: absent from that
    // trace's f_d series and from the window's f_d pattern, still counted
    val gap = driftFiles.map {
      case ("2_1", cols, rows) => ("2_1", cols,
        rows.map(r => if (r.head == "40") r.updated(1 + cols.indexOf("f_d"), "") else r))
      case other => other
    }
    val folders = Seq("src/test/resources/traces", "src/test/resources/traces_f2", writeFolder(gap))
    val cfgs = for (cluster <- Seq(false, true); fp <- Seq(false, true))
      yield ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp,
        maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
    folders.foreach { dir =>
      val (traceLong, featureOrder) = Sources.readAllTraces(spark, dir, "labels")
      val labels = Sources.readLabels(spark, s"$dir/labels.csv")
        .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
      val obs = IntervalLabeler.labelObservations(traceLong, labels).cache()
      val composed = composedByRs(obs, featureOrder, cfgs, Seq(-1, 0, 1))
      cfgs.zipWithIndex.foreach { case (cfg, c) =>
        val kernel = ExstreamPipeline.explainFolder(spark, dir, "labels", cfg)._1.collect()
          .map(r => (c, r.getInt(0), r.getString(1)) -> r.getSeq[String](2)).toMap
        assert(kernel.nonEmpty && kernel == composed.filter(_._1._1 == c),
          s"$dir cluster=${cfg.cluster} fp=${cfg.falsePositiveFiltering}")
      }
      obs.unpersist()
    }
  }

  test("infinite rewards: two features whose anomaly cells are all empty both lead " +
      "the explanation, as the reference's leap comparisons rank them") {
    // f_a and f_b have no anomaly-span value: their non-empty cells are one
    // class, so the segmentation entropy is 0 and the reward +inf; f_c
    // shifts inside the anomaly, f_d is noise
    val rnd = new scala.util.Random(11)
    val cols = Seq("f_a", "f_b", "f_c", "f_d")
    val rows = (0 until 300).map { ts =>
      val ano = ts >= 200 && ts <= 260
      ts.toString +: cols.map {
        case "f_a" | "f_b" if ano => ""
        case "f_c" => f"${rnd.nextGaussian() + (if (ano) 4.0 else 0.0)}%.6f"
        case _ => f"${rnd.nextGaussian()}%.6f"
      }
    }
    val dir = writeFolder(Seq(("1_1", cols, rows)), Seq("0,1_1,0,0,150,200,260,x"))
    val cfg = ExstreamConfig(cluster = false, falsePositiveFiltering = false, instabilityRounds = 1)
    val got = ExstreamPipeline.constructExplanations(spark, dir, "labels", cfg).collect()
    assert(got.map(_.getSeq[Int](2)).toSeq == Seq(Seq(0, 1)), got.toSeq)

    // the same answer from the public rewards operator and the pure leap
    // cut; LeapFilter's Spark NaN rules (inf - inf = NaN = the largest
    // leap) cut after the first feature instead
    val (traceLong, featureOrder) = Sources.readAllTraces(spark, dir, "labels")
    val labels = Sources.readLabels(spark, s"$dir/labels.csv")
      .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
    val rewards = EntropyReward.rewards(
      IntervalLabeler.labelObservations(traceLong, labels), cfg.applyWorstCase)
      .withColumn("feat_idx", EntropyReward.featIdxCol(featureOrder.zipWithIndex.toMap, col("feature")))
    val byFeature = rewards.collect().map(r => r.getAs[String]("feature") -> r.getAs[Double]("reward")).toMap
    assert(byFeature("f_a").isPosInfinity && byFeature("f_b").isPosInfinity, byFeature)
    assert(graft.functions.EntropyCore.rewardLeapFilter(
      graft.functions.EntropyCore.rankRewards(byFeature, featureOrder)) == Seq("f_a", "f_b"))
    assert(LeapFilter.explanations(rewards).collect().map(_.getSeq[String](1)).toSeq ==
      Seq(Seq("f_a")))
  }

  test("one-class window: an anomaly span past the trace's end gives the empty " +
      "explanation in batch, as explainBuffered does") {
    val dir = writeFolder(driftFiles.take(1),
      Seq("0,1_1,0,0,150,200,260,x", "1,1_1,1,0,150,400,460,x"))
    for (cluster <- Seq(false, true); fp <- Seq(false, true)) {
      val cfg = ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp,
        maxDistance = 5.0, instabilityRounds = 2)
      val got = ExstreamPipeline.constructExplanations(spark, dir, "labels", cfg).collect()
        .map(r => r.getLong(1) -> r).toMap
      val tag = s"cluster=$cluster fp=$fp"
      assert(got.keySet == Set(0L, 1L), tag)
      assert(got(0L).getSeq[Int](2).nonEmpty, tag)
      assert(got(1L).getSeq[Int](2).isEmpty && got(1L).getInt(3) == 0 &&
        got(1L).getDouble(4) == 0.0, s"$tag: ${got(1L)}")

      val (_, cols, rows) = driftFiles.head
      val refOnly = for {
        r <- rows if r.head.toLong < 150
        (f, v) <- cols.zip(r.tail) if v.nonEmpty
      } yield graft.streaming.StreamingOps.StreamObs("w", f, r.head.toLong, 0, v.toDouble)
      assert(graft.streaming.StreamingOps.explainBuffered(refOnly, cols, cfg).isEmpty, tag)
    }
  }
}
