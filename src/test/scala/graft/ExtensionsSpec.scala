package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * The library-packaging contract: a session constructed with
 * `spark.sql.extensions=graft.GraftExtensions` has every `graft_*`
 * function available to pure SQL with NO imperative register call.
 * (Suites run sequentially in one forked JVM, so stopping the shared
 * session here is safe — the next suite's getOrCreate builds a fresh
 * one.)
 */
class ExtensionsSpec extends AnyFunSuite {

  test("graft_* functions install via spark.sql.extensions alone") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("extensions-spec")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = spark.sql(
        """SELECT graft_float_dot(
             array(cast(1.0 as float), cast(2.0 as float)),
             array(cast(3.0 as float), cast(4.0 as float))) AS d""").head().getDouble(0)
      assert(math.abs(dot - 11.0) < 1e-9)

      val inter = spark.sql(
        "SELECT graft_long_intersect_size(array(1L,2L,3L), array(2L,3L,9L)) AS n")
        .head().getInt(0)
      assert(inter == 2)

      // the aggregate expression resolves and runs through SQL too
      val ent = spark.sql(
        """SELECT graft_seg_entropy(CAST(v AS DOUBLE), CAST(c AS INT), false) AS e
           FROM VALUES (1.0, 0), (2.0, 1) AS t(v, c)""").head().getDouble(0)
      assert(ent >= 0.0)

      // non-constant folded arguments fail loudly at plan time (the
      // builder's foldable guard), not with an opaque eval-time exception
      val badK = intercept[Exception](spark.sql(
        """SELECT graft_minhash_signature(array(1L), cast(v AS INT))
           FROM VALUES (1.0) AS t(v)""").collect())
      assert(badK.getMessage.contains("must be a constant"),
        s"unexpected error: ${badK.getMessage}")
      val badFlag = intercept[Exception](spark.sql(
        """SELECT graft_seg_entropy(CAST(v AS DOUBLE), CAST(c AS INT), c = 1)
           FROM VALUES (1.0, 0) AS t(v, c)""").collect())
      assert(badFlag.getMessage.contains("must be a constant"),
        s"unexpected error: ${badFlag.getMessage}")

      // featIdxCol must keep its getOrElse-default semantics under ANSI
      // mode (Spark 4's default for library consumers): try_element_at
      // yields null -> coalesce default on a missing key, where plain
      // element_at would throw MAP_KEY_DOES_NOT_EXIST
      val saved = spark.conf.get("spark.sql.ansi.enabled", "true")
      try {
        spark.conf.set("spark.sql.ansi.enabled", "true")
        import spark.implicits._
        val out = Seq("known", "missing").toDF("feature")
          .select(graft.operators.EntropyReward
            .featIdxCol(Map("known" -> 7), org.apache.spark.sql.functions.col("feature"))
            .as("idx"))
          .collect().map(_.getInt(0)).toSet
        assert(out == Set(7, Int.MaxValue), s"got $out")
      } finally spark.conf.set("spark.sql.ansi.enabled", saved)

      import org.apache.spark.sql.catalyst.FunctionIdentifier
      Seq(graft.plans.LongSetOps.FunctionName, graft.plans.FloatVecOps.FunctionName,
        graft.plans.MinHashSignature.FunctionName, graft.plans.SegEntropyAgg.FunctionName)
        .foreach { name =>
          assert(spark.sessionState.functionRegistry
            .functionExists(FunctionIdentifier(name)), s"$name not installed")
        }

      // the operators' register(spark) calls leave an installed function
      // alone: after two EntropyReward.rewards runs, graft_seg_entropy is
      // still the entry GraftExtensions injected, not a replacement
      import spark.implicits._
      val obs = Seq(("w", "f", 1.0, 0), ("w", "f", 2.0, 1))
        .toDF("window_key", "feature", "value", "type_data")
      (1 to 2).foreach(_ => graft.operators.EntropyReward.rewards(obs).collect())
      val info = spark.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier(graft.plans.SegEntropyAgg.FunctionName))
      assert(info.map(_.getClassName).contains(classOf[GraftExtensions].getName),
        s"graft_seg_entropy was re-registered: ${info.map(_.getClassName)}")
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
