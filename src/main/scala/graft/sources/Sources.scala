package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Ingestion (SURVEY.md §2.1, S1-S4): trace CSVs + label CSV -> DataFrames.
 *
 * The reference reads one CSV per trace with pandas and discovers metric
 * columns from the header (`/root/reference/utils/get_data.py:19-20,77`).
 * Trace schemas are dynamic (8- vs 12-column variants,
 * `explore_data.ipynb` cells 2/9), so each trace is read per-file with the
 * schema its own header line declares — read on the driver, no
 * schema-inference scan. The wide frames union by name, a column a trace
 * lacks being null on its rows, and the melt to LONG format uses each
 * trace's own column set ([[meltTraces]]), so schema drift between traces
 * cannot break the plan or invent observations: the long rows are exactly
 * the per-file melts. Each per-file read is still a distributed scan; with
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

  /** S2: labels.csv — header + unnamed index column (`get_data.py:20`).
    * The reader schema takes [[labelSchema]]'s types under the file's own
    * header names (the index column's is empty), so Spark's header check
    * passes; the columns are then renamed to [[labelSchema]]'s names. */
  def readLabels(spark: SparkSession, path: String): DataFrame = {
    val header = headerCells(spark, path)
    require(header.size == labelSchema.size,
      s"label file $path has ${header.size} header cells, expected ${labelSchema.size}: " +
        labelSchema.fieldNames.mkString(", "))
    spark.read
      .option("header", "true")
      .schema(StructType(header.zip(labelSchema).map { case (h, f) => f.copy(name = h) }))
      .csv(path)
      .toDF(labelSchema.fieldNames.toIndexedSeq: _*)
  }

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

  /** The header cells of a CSV file, read on the driver through the
    * Hadoop FS (no Spark job) and tokenized with Spark's own CSV parser
    * settings, so the cells are exactly the names `CSVHeaderChecker`
    * compares a reader schema against. */
  def headerCells(spark: SparkSession, file: String): IndexedSeq[String] = {
    val path = new org.apache.hadoop.fs.Path(file)
    val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
    val line =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    require(line != null, s"CSV file $file is empty: no header line")
    val settings = new CSVOptions(Map("header" -> "true"), false,
      spark.sessionState.conf.sessionLocalTimeZone).asParserSettings
    val cells = Option(new CsvParser(settings).parseLine(line)).getOrElse(Array.empty[String])
    require(cells.nonEmpty, s"CSV file $file has an empty header line")
    cells.toIndexedSeq.map(c => if (c == null) "" else c)
  }

  /** `name` as a SQL identifier. */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** One trace file read wide: `frame` is `(timestamp, <metrics>,
    * trace_id)`, `metrics` its metric columns in header order. */
  case class WideTrace(id: String, frame: DataFrame, metrics: Seq[String])

  /**
   * S3: read ONE trace CSV wide, with the schema its own header declares
   * (`get_data.py:77-79`): the first (unnamed index) column is the integer
   * timestamp, every other column a double metric. Field names equal the
   * header cells, and `FAILFAST` turns a malformed cell into an error that
   * names the file; an empty cell is a null value.
   */
  def readTraceWide(spark: SparkSession, dataFolder: String, traceId: String): WideTrace = {
    val file = s"$dataFolder/$traceId.csv"
    val header = headerCells(spark, file)
    val schema = StructType(
      StructField(header.head, LongType) +: header.tail.map(StructField(_, DoubleType)))
    val frame = spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(file)
      .toDF(("timestamp" +: header.tail): _*)
      .withColumn("trace_id", lit(traceId))
    WideTrace(traceId, frame, header.tail)
  }

  /** S4: melt a wide frame to long rows `(<other columns>, feature, value)`
    * with one `stack` generator (single projection, no shuffle; stays
    * inside whole-stage codegen). Every column not in `metricCols` is
    * carried. */
  def meltTrace(wide: DataFrame, metricCols: Seq[String]): DataFrame = {
    val metrics = metricCols.toSet
    val stackArgs = metricCols
      .map(c => s"'${c.replace("'", "\\'")}', ${quoted(c)}")
      .mkString(", ")
    wide.selectExpr(
      wide.columns.filterNot(metrics).map(quoted).toIndexedSeq :+
        s"stack(${metricCols.size}, $stackArgs) as (feature, value)": _*)
  }

  /** Every trace of a folder read wide ([[readTraceWide]]), plus the
    * feature order: the header order of the first trace (reference:
    * columns of the concat'd frame, i.e. first file read; feature
    * insertion order drives reward tie-breaking). */
  def readTracesWide(spark: SparkSession, dataFolder: String, labelFilename: String)
      : (Seq[WideTrace], Seq[String]) = {
    val ids = listTraceIds(spark, dataFolder, labelFilename)
    require(ids.nonEmpty, s"no trace CSVs under $dataFolder")
    val traces = ids.map(readTraceWide(spark, dataFolder, _))
    (traces, traces.head.metrics)
  }

  /** All traces of a folder, each read wide and melted with its own
    * columns to long `(timestamp, feature, value, trace_id)`, and unioned.
    * Also returns the feature order (see [[readTracesWide]]). */
  def readAllTraces(spark: SparkSession, dataFolder: String, labelFilename: String)
      : (DataFrame, Seq[String]) = {
    val (traces, featureOrder) = readTracesWide(spark, dataFolder, labelFilename)
    val long = traces.map(t =>
      meltTrace(t.frame, t.metrics).select("timestamp", "feature", "value", "trace_id"))
    (long.reduce(_ unionByName _), featureOrder)
  }

  /** The traces' wide frames as one frame, unioned by name: a column a
    * trace lacks is null on its rows ([[meltTraces]] drops those again). */
  def unionWide(traces: Seq[WideTrace]): DataFrame =
    traces.map(_.frame).reduce(_.unionByName(_, allowMissingColumns = true))

  /** Melt a frame of several traces' wide rows (e.g. [[unionWide]]
    * output, labeled) to exactly the long rows each trace's own
    * [[meltTrace]] gives: a column a trace lacks yields no rows for that
    * trace, an empty cell a null value. One filter term per distinct
    * column set, none when every trace has the same columns. */
  def meltTraces(wide: DataFrame, traces: Seq[WideTrace]): DataFrame = {
    val long = meltTrace(wide, traces.flatMap(_.metrics).distinct)
    val bySchema = traces.groupBy(_.metrics.toSet).toSeq
    if (bySchema.size == 1) long
    else long.where(bySchema.map { case (cols, ts) =>
      col("trace_id").isin(ts.map(_.id): _*) && col("feature").isin(cols.toSeq: _*)
    }.reduce(_ || _))
  }
}
