package graft.exbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** One pass over a fixed mix of the engine's queries. */
object Suite {
  val Names: Seq[String] = Seq(
    "q01_scan_filter_project", "q10_class_entropy", "q13_leap_cutoff",
    "q20_exstream_explain", "q38_exstream_instability", "q41_exstream_by_group",
    "q43_dedup_clusters", "q105_span_removal", "q171_nsw_graph")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Set-up work of the workload: resolve every table's schema. */
  def loadInputs(spark: SparkSession, dir: String): Unit =
    Tables.foreach(t => graft.sources.Sources.table(spark, dir, t).schema)

  /** The pass order of a run: the mix permuted by the run's seed. */
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Names)

  final case class QueryRun(name: String, rows: Array[Row], schema: StructType) {
    lazy val digest: String = Explain.digest(rows)
  }

  /** One query: plan construction (`fn(spark, dir)`, including any eager
    * jobs the query runs to build its plan) and materialization, each in
    * its own span when traced. */
  def runQuery(spark: SparkSession, dir: String, name: String,
               tr: Option[Tracer] = None): QueryRun = {
    def phase[A](suffix: String)(body: => A): A =
      tr.fold(body)(_.span(s"$name.$suffix")(body))
    val df = phase("build")(SparkEntry.queries(name)(spark, dir))
    val rows = phase("exec")(df.collect())
    // the hygiene Verify applies between queries
    spark.catalog.clearCache()
    QueryRun(name, rows, df.schema)
  }

  def pass(spark: SparkSession, dir: String, names: Seq[String],
           tr: Option[Tracer] = None): Seq[QueryRun] = {
    def all = names.map(runQuery(spark, dir, _, tr))
    tr.fold(all)(_.span("suite")(all))
  }

  /** Digest of a pass, independent of the pass order. */
  def digest(runs: Seq[QueryRun]): String =
    Explain.digest(runs.map(r => Row(r.name, r.digest)).toArray)

  /** Each query's collected rows as parquet plus the oracle SQL, for the
    * DuckDB comparison the benchmark runs after the JVM exits. */
  def writeForOracle(spark: SparkSession, runs: Seq[QueryRun], outDir: String): Unit = {
    runs.foreach { r =>
      spark.createDataFrame(r.rows.toList.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${r.name}")
    }
    val sql = runs.map(r => Json.str(r.name) + ": " + Json.str(SparkEntry.oracleSql(r.name)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql.mkString("{\n", ",\n", "\n}\n"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
