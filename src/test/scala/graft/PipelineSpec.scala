package graft

import org.apache.spark.sql.SparkSession
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
    val (obs, featureOrder, _) = loaded
    val wide = ExstreamPipeline.pivotWide(obs, featureOrder)
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
    import org.apache.spark.sql.functions.{col, concat_ws, lit, md5}
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
      def sliceFor(rs: Int) =
        if (rs == -1) obs
        else obs.where(
          md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
            col("timestamp"), lit(rs)).cast("binary")) <
            ExstreamPipeline.sampleCutoffHex(cfg.sampleFraction))
      val perRs: Map[Int, Map[String, Seq[String]]] = (-1 until cfg.instabilityRounds).map { rs =>
        rs -> ExstreamPipeline.explanatoryFeatures(sliceFor(rs), featureOrder, cfg)
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
    * of cells, timestamp first), plus a two-window labels file. */
  private def writeFolder(files: Seq[(String, Seq[String], Seq[Seq[String]])]): String = {
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
    write("labels.csv", Seq(",trace_id,ano_id,ref_start,ref_end,ano_start,ano_end,ano_type",
      "0,1_1,0,0,150,200,260,x", "1,2_1,0,0,150,200,260,x"))
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
    val labels = Sources.readLabels(spark, s"$dir/labels.csv")
      .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
    val obs = IntervalLabeler.labelObservations(traceLong, labels).cache()
    // the long rows are each file's own melt: no f_c rows for 2_1, no f_e
    // rows for 1_1, and the empty cell is one null value
    assert(traceLong.where(col("trace_id") === "2_1" && col("feature") === "f_c").count() == 0)
    assert(traceLong.where(col("trace_id") === "1_1" && col("feature") === "f_e").count() == 0)
    assert(traceLong.where(col("value").isNull).collect().map(r =>
      (r.getAs[String]("trace_id"), r.getAs[Long]("timestamp"), r.getAs[String]("feature"))).toSeq ==
      Seq(("1_1", 210L, "f_c")))
    val featIdx = featureOrder.zipWithIndex.toMap
    val keyOf = Map(("1_1", 0L) -> "bursty input_1_1_0", ("2_1", 0L) -> "stalled input_2_1_1")
    for (cluster <- Seq(false, true); fp <- Seq(false, true)) {
      val cfg = ExstreamConfig(cluster = cluster, falsePositiveFiltering = fp,
        maxDistance = 5.0, applyWorstCase = true, instabilityRounds = 2)
      val want = ExstreamPipeline.explanatoryFeatures(obs, featureOrder, cfg).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).map(featIdx.getOrElse(_, -1))).toMap
      val got = ExstreamPipeline.constructExplanations(spark, dir, "labels", cfg).collect()
        .map(r => keyOf((r.getString(0), r.getLong(1))) -> r.getSeq[Int](2)).toMap
      assert(got == want, s"cluster=$cluster fp=$fp")
      assert(got.values.forall(_.nonEmpty), s"cluster=$cluster fp=$fp: $got")
    }
    obs.unpersist()

    val bad = writeFolder(driftFiles :+ (("3_1", Seq("f_a"), Seq(Seq("0", "1.5"), Seq("1", "abc")))))
    val err = intercept[Exception] {
      ExstreamPipeline.constructExplanations(spark, bad, "labels", ExstreamConfig()).collect()
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(messages.contains("3_1.csv"), messages)
  }

  test("constructExplanations plan build runs 4 jobs: no schema inference, no pivot") {
    // jobs run while the plan is BUILT, before any action: only the
    // correlation step's moment aggregate, i.e. the interval join's two
    // label broadcasts (ref and ano spans), the aggregate's shuffle map
    // stage and its collect. Every file's header is read on the driver,
    // with no schema-inference scan, and no long -> wide pivot is planned.
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
    assert(jobs.get == 4, s"${jobs.get} jobs during plan build")
    assert(plan.count() == 4)
  }
}
