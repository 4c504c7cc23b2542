package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/**
 * r16 optimization round: [[Dedup.dupClustersSized]] — the q78
 * `pageRankSized` discipline applied to connected components. Below the
 * edge gate the component minimum comes from a driver union-find; the
 * spec proves it bit-identical to the distributed min-label /
 * pointer-jump fixpoint on the component shapes that exercise every
 * union order (path, star, clique, multi-component, self-loop,
 * duplicate/reversed edges), exercises the above-gate fallback and
 * the gate-disabled dispatch, and checks that pairs with a null endpoint
 * are dropped the same way on both sides of the gate.
 */
class DedupSizedSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dedup-sized-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pairsDf(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("doc_a", "doc_b")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val fixtures: Seq[(String, Seq[(Long, Long)])] = Seq(
    "path" -> (1L to 9L).map(i => (i, i + 1)),
    "star" -> (2L to 8L).map(i => (5L, i)).filter(p => p._1 != p._2),
    "reversed+dup" -> Seq((7L, 3L), (3L, 7L), (7L, 3L), (10L, 7L)),
    "self-loop" -> Seq((4L, 4L), (4L, 6L)),
    "multi-component" ->
      (Seq((1L, 2L), (2L, 3L)) ++ Seq((10L, 11L)) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L))),
    "clique+bridge" ->
      ((for { i <- 1L to 5L; j <- (i + 1) to 5L } yield (i, j)) ++ Seq((5L, 100L)))
  )

  test("driver union-find == distributed fixpoint on every fixture") {
    fixtures.foreach { case (name, es) =>
      val df = pairsDf(es)
      val driver = labelsOf(Dedup.dupClustersSized(df))
      val dist = labelsOf(Dedup.dupClustersWithRounds(df)._1)
      assert(driver == dist, s"fixture $name: driver $driver != distributed $dist")
      // every label is the component minimum: no label exceeds its node
      driver.foreach { case (n, l) => assert(l <= n, s"fixture $name: label $l > node $n") }
    }
  }

  test("above-gate fallback and disabled gate dispatch to the distributed loop") {
    val es = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val df = pairsDf(es)
    val reference = labelsOf(Dedup.dupClustersWithRounds(df)._1)
    // cap below the edge count forces the distributed branch through the
    // already-distinct checkpointed edges
    assert(labelsOf(Dedup.dupClustersSized(df, maxDriverEdges = 1L)) == reference)
    // maxDriverEdges <= 0 skips the gate count entirely
    assert(labelsOf(Dedup.dupClustersSized(df, maxDriverEdges = 0L)) == reference)
  }

  test("null endpoints are dropped identically below and above the gate") {
    import spark.implicits._
    // nullable long columns: a pair with a null endpoint is no edge on
    // any branch, the gate-disabled one included (node 3 and node 9 only
    // ever pair with a null)
    val df = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (None, None), (Some(5L), Some(6L)), (Some(9L), None))
      .toDF("doc_a", "doc_b")
    val driver = labelsOf(Dedup.dupClustersSized(df, maxDriverEdges = 1L << 20))
    val distributed = labelsOf(Dedup.dupClustersSized(df, maxDriverEdges = 1L))
    val gateOff = labelsOf(Dedup.dupClustersSized(df, maxDriverEdges = 0L))
    assert(driver == distributed, s"driver $driver != distributed $distributed")
    assert(gateOff == driver, s"gate disabled $gateOff != driver $driver")
    assert(driver == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("non-long keys dispatch to the distributed loop") {
    import spark.implicits._
    val df = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("doc_a", "doc_b")
    val got = Dedup.dupClustersSized(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("empty pair set yields an empty (long, long) frame") {
    val df = pairsDf(Seq.empty)
    val out = Dedup.dupClustersSized(df)
    assert(out.collect().isEmpty)
    assert(out.schema.fields.map(_.dataType.typeName).toSeq == Seq("long", "long"))
  }
}
