package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Ingestion (SURVEY.md §2.1, S1-S4): trace CSVs + label CSV -> DataFrames.
 *
 * The reference reads one CSV per trace with pandas and discovers metric
 * columns from the header (`/root/reference/utils/get_data.py:19-20,77`).
 * Trace schemas are dynamic (8- vs 12-column variants,
 * `explore_data.ipynb` cells 2/9), so traces are read per-file and
 * normalized to LONG format before the union — schema drift between traces
 * then cannot break the plan, and every downstream operator works on the
 * same narrow shape. Each per-file read is still a distributed scan; with
 * thousands of trace files one would instead group files by schema
 * fingerprint and batch the reads, which keeps driver-side work O(#schemas).
 */
object Sources {

  val labelSchema: StructType = StructType(Seq(
    StructField("label_row", LongType),
    StructField("trace_id", StringType),
    StructField("ano_id", LongType),
    StructField("ref_start", LongType),
    StructField("ref_end", LongType),
    StructField("ano_start", LongType),
    StructField("ano_end", LongType),
    StructField("ano_type", StringType)))

  /** S2: labels.csv — header + unnamed index column (`get_data.py:20`). */
  def readLabels(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(labelSchema)
      .csv(path)

  /** Filename-prefix -> anomaly type (`get_data.py:26-53`). JVM-side
    * definition, pinned by the Sources unit tests; the pipeline uses the
    * codegen [[anomalyTypeCol]] — never a scalar UDF where a built-in
    * `when` chain exists. */
  def anomalyTypeForTrace(traceId: String): String =
    if (traceId.startsWith("1")) "bursty input"
    else if (traceId.startsWith("2")) "stalled input"
    else if (traceId.startsWith("3")) "CPU contention"
    else throw new IllegalArgumentException(s"Unknown file $traceId.")

  /** Column form of [[anomalyTypeForTrace]]: a whole-stage-codegen `when`
    * chain with the same unknown-prefix failure semantics
    * (`raise_error`), so the batch pipeline plan carries no scalar UDF. */
  def anomalyTypeCol(traceId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(traceId.startsWith("1"), "bursty input")
      .when(traceId.startsWith("2"), "stalled input")
      .when(traceId.startsWith("3"), "CPU contention")
      .otherwise(raise_error(concat(lit("Unknown file "), traceId, lit("."))))

  /** Trace files in a folder, excluding the label file (`get_data.py:8-23`). */
  def listTraceIds(spark: SparkSession, dataFolder: String, labelFilename: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dataFolder)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".csv"))
      .map(_.stripSuffix(".csv"))
      .filter(_ != labelFilename)
      .sorted // reference uses os.listdir order (nondeterministic); we canonicalize
  }

  /**
   * S3+S4: read ONE trace CSV (first unnamed column = integer timestamp,
   * `get_data.py:77-79`) and melt it to long format
   * `(trace_id, timestamp, feature, value)`. Metric columns are whatever
   * the header declares — discovered at read time.
   */
  def readTraceLong(spark: SparkSession, dataFolder: String, traceId: String): DataFrame = {
    val wide = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(s"$dataFolder/$traceId.csv")
    val tsCol = wide.columns.head // unnamed index column, pandas' index_col=0
    val metricCols = wide.columns.tail
    meltTrace(wide, tsCol, metricCols.toIndexedSeq).withColumn("trace_id", lit(traceId))
  }

  /** Melt a wide trace frame using one `stack` generator (single projection,
    * no shuffle; stays inside whole-stage codegen). */
  def meltTrace(wide: DataFrame, tsCol: String, metricCols: Seq[String]): DataFrame = {
    val stackArgs = metricCols
      .map(c => s"'$c', cast(`$c` as double)")
      .mkString(", ")
    wide.selectExpr(
      s"cast(`$tsCol` as long) as timestamp",
      s"stack(${metricCols.size}, $stackArgs) as (feature, value)")
  }

  /** All traces of a folder, melted and unioned, with the filename-derived
    * anomaly type (`get_data.py:71`). Also returns the per-trace metric
    * column order (feature insertion order drives reward tie-breaking). */
  def readAllTraces(spark: SparkSession, dataFolder: String, labelFilename: String)
      : (DataFrame, Seq[String]) = {
    val ids = listTraceIds(spark, dataFolder, labelFilename)
    require(ids.nonEmpty, s"no trace CSVs under $dataFolder")
    // feature order: header order of the first trace (reference: columns of
    // the concat'd frame, i.e. first file read)
    val head = spark.read.option("header", "true").csv(s"$dataFolder/${ids.head}.csv")
    val featureOrder = head.columns.tail.toIndexedSeq
    val union = ids.map(readTraceLong(spark, dataFolder, _)).reduce(_ unionByName _)
    (union, featureOrder)
  }
}
