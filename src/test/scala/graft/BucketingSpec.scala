package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Storage-layout evolution of the lake: parquet batches written before
 * and after a schema change read back as ONE table, with nulls for the
 * columns older files lack.
 */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bucketing-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("schema evolution: mergeSchema unifies old and new batch layouts") {
    import spark.implicits._
    // a corpus written over months gains columns; the lake must read old
    // and new files as ONE table with nulls for pre-evolution rows
    val path = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/docs"
    Seq((1L, "old doc")).toDF("doc_id", "text")
      .write.parquet(s"$path/batch=1")
    Seq((2L, "new doc", "en", 0.9)).toDF("doc_id", "text", "lang", "quality")
      .write.parquet(s"$path/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "quality", "batch"))
    val rows = merged.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("lang")), "old row reads null for evolved column")
    assert(rows(1).getAs[String]("lang") == "en")
  }
}
