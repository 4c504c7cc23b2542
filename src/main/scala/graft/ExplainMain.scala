package graft

/**
 * CLI entry for the EXstream explanation pipeline — the engine's analogue
 * of running `python script_1.py` (`/root/reference/script_1.py:263-328`):
 * runs all four config permutations (cluster x falsePositiveFiltering)
 * over a trace folder and prints the explanation tables.
 *
 * Usage: runMain graft.ExplainMain <dataFolder> [labelFilename] [maxDistance] [outDir]
 */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainMain <dataFolder> [labelFilename] [maxDistance] [outDir]")
    val dataFolder = args(0)
    val labelFilename = if (args.length > 1) args(1) else "labels"
    val maxDistance = if (args.length > 2) args(2).toDouble else 40.0
    val outDir = if (args.length > 3) Some(args(3)) else None
    val spark = GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("WARN")

    for {
      cluster <- Seq(false, true)
      fp <- Seq(false, true)
    } {
      val cfg = ExstreamConfig(
        cluster = cluster, falsePositiveFiltering = fp, maxDistance = maxDistance)
      println(s"=== cluster=$cluster falsePositiveFiltering=$fp ===")
      val out = ExstreamPipeline.constructExplanations(spark, dataFolder, labelFilename, cfg)
        .orderBy("trace_id", "ano_id")
      out.show(100, truncate = false)
      // S5: CSV result sink, config encoded in the path as the reference
      // does in its filenames (script_1.py:275-328)
      outDir.foreach(dir => graft.sources.Results.writeExplanations(out, dir, cfg))
    }
    // S6: read the results back and print the notebook's evaluation
    // aggregations (plot_metrics.ipynb cells 2-3)
    outDir.foreach { dir =>
      println("=== evaluation: per-config mean exp_instability / exp_size ===")
      graft.sources.Results.evalMetrics(
        graft.sources.Results.readExplanations(spark, dir)).show(truncate = false)
    }
    spark.stop()
  }
}
