package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Runtime-regression gate (the r8 verdict's companion to PlanGuardSpec's
 * plan-shape gate): every query must complete within 3x its committed
 * clean-min envelope at sf0.01 (BENCH_ENVELOPE.json, regenerated via
 * scripts/make_envelope.py — which only ever tightens entries, so a
 * noisy regeneration can't relax the gate).
 *
 * Timing discipline mirrors Bench: noise on a shared host is strictly
 * additive, so the estimator is the MIN over runs — one warm pass, one
 * timed pass, and only a breach buys two more timed passes before the
 * failure is believed. The 3x margin (vs Bench's 2x "noisy" flag)
 * absorbs the spec environment's looser control (shared suite JVM,
 * whatever master the first suite pinned); a genuine 3x runtime
 * regression on a warm re-run is a code problem, not weather. Both
 * gates read ONE sweep: each query's untimed warm pass is also its
 * shuffle-bytes read-off.
 *
 * The completeness assertion is the maintenance contract: a new query
 * without an envelope entry fails the build until the envelope is
 * regenerated with it.
 */
class BenchEnvelopeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bench-envelope-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"
  private val sfKey = "sf0.01"

  private def timeOnce(name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    sec
  }

  private lazy val timeEnv = BenchEnvelope.load().getOrElse(sfKey, Map.empty)
  private lazy val bytesEnv = BenchEnvelope.load().getOrElse(sfKey + "_bytes", Map.empty)

  /** Shuffle bytes written by one full run of `name`. Shuffle bytes are a
    * property of the executed plan — one pass, no warmup or min-of-runs
    * needed. */
  private def shuffleBytes(name: String): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def collectPlans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
      case q: QueryStageExec => q +: collectPlans(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(collectPlans)
    }
    val df = SparkEntry.queries(name)(spark, sf)
    // materialize through the df's OWN execution so its plan metrics
    // populate (a noop write runs a separate execution — Bench note)
    df.queryExecution.toRdd.foreach(_ => ())
    val got = collectPlans(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
      .map(e => e.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)).sum
    spark.catalog.clearCache()
    got
  }

  /** The one sweep both gates read: per query, the untimed warm pass
    * (JIT + codegen + page cache) doubles as the shuffle-bytes read-off,
    * then one timed pass. `(name, bytes, seconds)`, in name order. */
  private lazy val sweep: Seq[(String, Long, Double)] =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => timeEnv.contains(n) || bytesEnv.contains(n))
      .map { name =>
        val bytes = shuffleBytes(name)
        (name, bytes, timeOnce(name))
      }

  test("every query has a committed envelope entry (maintenance contract)") {
    val missing = SparkEntry.queries.keySet -- timeEnv.keySet
    assert(missing.isEmpty,
      s"queries without a $sfKey envelope entry (regenerate via scripts/make_envelope.py): " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("every query has a committed shuffle-bytes envelope entry (plan-drift contract)") {
    val missing = SparkEntry.queries.keySet -- bytesEnv.keySet
    assert(missing.isEmpty,
      s"queries without a ${sfKey}_bytes envelope entry (regenerate via scripts/make_envelope.py): " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("no query's shuffle bytes exceed 1.25x + 1MiB of the committed envelope at sf0.01") {
    // the r9 verdict's remaining blind spot: a plan regression under a
    // QUIET host (lost broadcast, extra exchange) hides inside the time
    // margin. The margin absorbs AQE coalesce/compression jitter only.
    assert(bytesEnv.nonEmpty, s"BENCH_ENVELOPE.json must carry an ${sfKey}_bytes section")
    val breaches = sweep.flatMap { case (name, got, _) =>
      bytesEnv.get(name).flatMap { limit =>
        if (got > limit * 1.25 + (1L << 20))
          Some(f"$name: $got%d bytes > 1.25x envelope ${limit.toLong}%d")
        else None
      }
    }
    assert(breaches.isEmpty, "shuffle-bytes envelope breaches:\n" + breaches.mkString("\n"))
  }

  test("no query's clean min exceeds 3x its CONTENTION-NORMALIZED envelope at sf0.01") {
    // r13 hardening: the fixed 3x margin flaked on a loaded host (a
    // 0.18s-envelope query measured 4.3s min-of-3 while the same build's
    // quiet Bench read 0.25s — pure scheduler starvation at load_ratio
    // ~5, not a regression). Host contention slows EVERY query by a
    // similar factor, so normalize by the suite-wide MEDIAN
    // ratio-to-envelope before judging any single query: a contended run
    // raises the median and every limit with it, while one genuinely
    // regressed query still stands 3x above its peers. A regression
    // broad enough to move the median itself is exactly what the
    // driver's per-round 2x-gate sweep and the shuffle-bytes plan gate
    // above are for.
    val env = timeEnv
    assert(env.nonEmpty, "BENCH_ENVELOPE.json must carry an sf0.01 section")
    val firstPass = sweep.collect { case (name, _, sec) if env.contains(name) => name -> sec }
    val ratios = firstPass.map { case (n, s) => s / env(n) }.sorted
    val rawMedianRatio = math.max(1.0, ratios(ratios.size / 2))
    // r13 ADVICE: an uncapped median normalization would also silence a
    // genuine regression broad enough to slow >= half the suite (the
    // median co-moves with it). Cap the factor at 5x — higher observed
    // medians are still treated as weather for the per-query limits,
    // but the cap itself failing loudly below keeps a plan-invariant
    // global slowdown (driver config, GC, codegen regression) visible:
    // a contended host clears on a retry of the suite, a real global
    // regression keeps tripping it.
    val medianRatio = math.min(rawMedianRatio, 5.0)
    if (rawMedianRatio > 5.0)
      info(f"WARNING: suite-wide median ratio $rawMedianRatio%.2f exceeds the 5x cap — " +
        "either the host is severely contended or a global regression landed; " +
        "re-run on a quiet host before trusting this gate")
    val breaches = firstPass.flatMap { case (name, first) =>
      val limit = 3.0 * env(name) * medianRatio
      val best =
        if (first <= limit) first
        else math.min(first, (1 to 2).map(_ => timeOnce(name)).min)
      if (best > limit)
        Some(f"$name: $best%.2fs > 3x envelope ${env(name)}%.2fs x median ratio $medianRatio%.2f")
      else None
    }
    assert(breaches.isEmpty, "runtime envelope breaches:\n" + breaches.mkString("\n"))
  }
}
