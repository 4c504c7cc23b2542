package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The r13 DECIMAL(38,0)-bridge claims, MEASURED (the RtbfScaleSpec
 * discipline: an overflow-safety comment is a claim; this spec is the
 * evidence). Each test drives the EXACT production expression at
 * magnitudes where plain BIGINT arithmetic would wrap (products past
 * 2^63 ~ 9.2e18) and compares against a driver-side BigInt reference.
 */
class DecimalBridgeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("decimal-bridge-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("q181's AUC numerator stays exact where BIGINT products wrap") {
    import spark.implicits._
    // per-value histogram rows with web-scale class counts: p * n_less
    // ~ 3e9 * 6e9 = 1.8e19 > 2^63 — one such product alone wraps a long
    val rows = Seq(
      (3000000000L, 2000000000L, 0L),
      (2500000000L, 1500000000L, 2000000000L),
      (1000000000L, 2500000000L, 3500000000L))
    val df = rows.toDF("p", "nneg", "n_less")
    // the exact expression from q181_quality_auc
    val got = df.agg(
      sum(expr("cast(p as decimal(38,0)) * (2 * n_less + nneg)")).as("num2"),
      sum("p").as("np"), sum("nneg").as("nn"))
      .selectExpr(
        "cast(num2 as string) as num2",
        "cast((num2 * 1000000) div (2 * cast(np as decimal(38,0)) * nn) as bigint) as auc_micro")
      .collect()(0)
    val ref = rows.map { case (p, nneg, nl) =>
      BigInt(p) * (2 * BigInt(nl) + nneg) }.sum
    val refAuc = (ref * 1000000) /
      (2 * rows.map(r => BigInt(r._1)).sum * rows.map(r => BigInt(r._2)).sum)
    assert(ref > BigInt(Long.MaxValue), "fixture must exceed BIGINT range")
    assert(BigInt(got.getString(0)) == ref,
      s"decimal num2 ${got.getString(0)} != BigInt reference $ref")
    assert(BigInt(got.getLong(1)) == refAuc)
  }

  test("q190's CV^2 products stay exact at squared-gap scale") {
    import spark.implicits._
    // gaps ~ 1e11 us (days): gap^2 = 1e22 >> 2^63; n*Q larger still
    val gaps = Seq(90000000000L, 110000000000L, 250000000000L, 70000000000L)
    val df = gaps.toDF("gap")
    val got = df.agg(count(lit(1)).as("n_gaps"), sum("gap").as("sgap"),
        sum(expr("cast(gap as decimal(38,0)) * gap")).as("qgap"))
      .selectExpr(
        "cast(((cast(n_gaps as decimal(38,0)) * qgap - " +
          "cast(sgap as decimal(38,0)) * sgap) * 1000000) " +
          "div (cast(sgap as decimal(38,0)) * sgap) as bigint) as cv2_micro")
      .collect()(0).getLong(0)
    val n = BigInt(gaps.length)
    val s = gaps.map(BigInt(_)).sum
    val q = gaps.map(g => BigInt(g) * g).sum
    assert(q > BigInt(Long.MaxValue), "fixture must exceed BIGINT range")
    val ref = ((n * q - s * s) * 1000000) / (s * s)
    assert(BigInt(got) == ref, s"decimal cv2 $got != BigInt reference $ref")
  }
}
