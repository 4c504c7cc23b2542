package graft

/**
 * Diagnostic main: print the formatted physical plan of selected queries
 * — the audit loop for the scale properties the engine claims (pushed
 * filters, pruned schemas, broadcast joins, shuffle count, whole-stage
 * codegen spans).
 *
 * Usage: runMain graft.PlanDump <sfDir> [q26_minhash_lsh,q37_...]
 * (no filter = every query; plans only, nothing is executed)
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.local("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        println(s"\n=== $name ===")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Exception => println(s"plan failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
