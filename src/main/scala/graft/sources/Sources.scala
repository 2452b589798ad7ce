package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Ingestion (SURVEY.md §2.1, S1-S4): trace CSVs + label CSV -> DataFrames,
 * and the driver testdata parquet tables.
 *
 * The reference reads one CSV per trace with pandas and discovers metric
 * columns from the header (`/root/reference/utils/get_data.py:19-20,77`).
 * Trace schemas are dynamic (8- vs 12-column variants,
 * `explore_data.ipynb` cells 2/9), so every trace is normalized to LONG
 * format before the union — schema drift between traces then cannot
 * break the plan, and every downstream operator works on the same narrow
 * shape. [[readAllTraces]] reads each trace's header line on the driver
 * (Spark's own CSV header rules, no Spark job), groups the traces by
 * header and reads each group in ONE CSV scan with an explicit all-string
 * schema: driver-side work and plan size are O(#schemas), not O(#files).
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
    val path = new Path(dataFolder)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".csv"))
      .map(_.stripSuffix(".csv"))
      .filter(_ != labelFilename)
      .sorted // reference uses os.listdir order (nondeterministic); we canonicalize
  }

  /** Melt a wide trace frame using one `stack` generator (single projection,
    * no shuffle; stays inside whole-stage codegen). `carry` columns are
    * appended to every melted row. */
  def meltTrace(wide: DataFrame, tsCol: String, metricCols: Seq[String],
                carry: Column*): DataFrame = {
    val stackArgs = metricCols
      .map(c => s"'$c', cast(`$c` as double)")
      .mkString(", ")
    wide.select(Seq(
      expr(s"cast(`$tsCol` as long)").as("timestamp"),
      expr(s"stack(${metricCols.size}, $stackArgs)").as(Seq("feature", "value"))) ++ carry: _*)
  }

  /** Each CSV file's column names as Spark's CSV reader derives them
    * with `header = true`: the first non-empty, non-comment line,
    * tokenized by the CSV parser, made safe (an empty name at index i
    * becomes `_c<i>`, duplicates get their index as suffix). Read on the
    * driver through the Hadoop `FileSystem` — no Spark job. The options,
    * Hadoop conf and parser are built once for all files. */
  private def headerColumns(spark: SparkSession, files: Seq[String]): Seq[Seq[String]] = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), false, conf.sessionLocalTimeZone)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val parser = new CsvParser(options.asParserSettings)
    files.map { file =>
      val line = CSVUtils.readHeaderLine(new Path(file), options, hadoopConf)
        .getOrElse(throw new IllegalArgumentException(s"no header line in $file"))
      CSVUtils.makeSafeHeader(parser.parseLine(line), conf.caseSensitiveAnalysis, options)
        .toIndexedSeq
    }
  }

  /** S3+S4: all traces of a folder (first unnamed column = integer
    * timestamp, `get_data.py:77-79`; metric columns are whatever the
    * header declares), melted to long format `(timestamp, feature, value,
    * trace_id)` and unioned. Traces sharing a header are read in one CSV
    * scan with an all-string schema; `meltTrace`'s casts then give the
    * values schema inference would have given its numeric types, and
    * `trace_id` is the file name without `.csv`. Also returns the feature
    * order: the header order of the first trace (reference: columns of
    * the concat'd frame, i.e. first file read) — it drives reward
    * tie-breaking. Plan construction starts no Spark job unless a header
    * group holds more files than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, which Spark
    * lists in one distributed job. */
  def readAllTraces(spark: SparkSession, dataFolder: String, labelFilename: String)
      : (DataFrame, Seq[String]) = {
    val ids = listTraceIds(spark, dataFolder, labelFilename)
    require(ids.nonEmpty, s"no trace CSVs under $dataFolder")
    val files = ids.map(id => s"$dataFolder/$id.csv")
    val headers = headerColumns(spark, files)
    val union = headers.distinct.map { header =>
      val group = files.zip(headers).collect { case (f, h) if h == header => f }
      val wide = spark.read
        .option("header", "true")
        .schema(StructType(header.map(StructField(_, StringType))))
        .csv(group: _*)
      // header.head: the unnamed index column, pandas' index_col=0
      meltTrace(wide, header.head, header.tail,
        regexp_replace(col("_metadata.file_name"), "\\.csv$", "").as("trace_id"))
    }.reduce(_ unionByName _)
    (union, headers.head.tail)
  }

  /** Driver testdata parquet (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /**
   * Persist a DataFrame as a bucketed + sorted managed table: repeated
   * joins/aggregations on `bucketCol` read the bucket layout instead of
   * shuffling — at fact-table scale, paying the shuffle ONCE at write
   * time and never again is the difference between a co-located
   * sort-merge join and reshuffling 100 TB per query. Both sides of a
   * join must be bucketed on the join key with the same bucket count for
   * the exchange to disappear (SourcesSpec proves it on the plan).
   */
  def writeBucketed(
      df: DataFrame, tableName: String,
      bucketCol: String, nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /**
   * Hive-style partitioned parquet layout (`.../col=value/part-*.parquet`)
   * — the directory-level complement of bucketing: a filter on the
   * partition column prunes whole directories at PLANNING time, so a
   * per-language (or per-date) query over a 100-TB corpus opens only its
   * slice's files. The `dynamic` partitionOverwriteMode write OPTION
   * (scoped to this one write — no session-global conf flip) makes a
   * re-run replace exactly the partitions present in `df` and leave the
   * rest of the lake untouched (the idempotent-backfill contract;
   * `static` mode would drop every other partition). BucketingSpec
   * proves both properties — pruning on the plan, surgical overwrite on
   * disk.
   */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
}
