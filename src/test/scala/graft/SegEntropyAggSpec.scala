package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.EntropyCore
import graft.operators.EntropyReward
import graft.plans.SegEntropyAgg

/** The spill-safe segmentation-entropy aggregate vs the pure kernel. */
class SegEntropyAggSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("seg-entropy-agg-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("aggregate matches the kernel on randomized groups, both modes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // duplicated quantized values across classes exercise the worst-case
    // rewrite; several groups exercise hash-aggregate group routing
    val rows = (0 until 50).flatMap { g =>
      val n = 20 + rnd.nextInt(300)
      (0 until n).map(_ => (s"w$g", "f", rnd.nextInt(12).toDouble, rnd.nextInt(2)))
    }
    val df = rows.toDF("window_key", "feature", "value", "type_data")
      .repartition(4)
    for (wc <- Seq(true, false)) {
      val got = EntropyReward.rewards(df, applyWorstCase = wc)
        .select("window_key", "segmentation_entropy")
        .as[(String, Double)].collect().toMap
      val want = rows.groupBy(_._1).map { case (w, rs) =>
        w -> EntropyCore.segmentationEntropyOfPairs(
          rs.map(_._3).toArray, rs.map(_._4).toArray, wc)
      }
      assert(got.keySet == want.keySet)
      want.foreach { case (w, e) =>
        assert(got(w) == e, s"window $w mode wc=$wc: got ${got(w)}, want $e")
      }
    }
  }

  test("one 1M-row group flows through the primitive-buffer aggregate") {
    import spark.implicits._
    // a single giant (window, feature) group: the collect_list+UDF shape
    // held ~1M boxed Row structs here; the primitive buffer is ~9 MB flat
    // and has a serialized spill form. Values quantized so runs duplicate
    // across classes and the worst-case rewrite actually runs.
    val n = 1000000
    val df = spark.range(n.toLong)
      .select(
        lit("w").as("window_key"), lit("f").as("feature"),
        (col("id") % 1000).cast("double").as("value"),
        pmod(col("id"), lit(2)).cast("int").as("type_data"))
    val out = EntropyReward.rewards(df, applyWorstCase = true)
      .select("segmentation_entropy").as[Double].head()
    // reference kernel on the same data, built locally
    val values = Array.tabulate(n)(i => (i % 1000).toDouble)
    val classes = Array.tabulate(n)(i => i % 2)
    val want = EntropyCore.segmentationEntropyOfPairs(values, classes, applyWorstCase = true)
    assert(out == want)
  }

  test("registry misuse fails analysis with a clear type message") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("s", "i")
    val e = intercept[Exception] {
      df.groupBy("s").agg(
        GraftExtensions.call(spark, SegEntropyAgg.FunctionName, "s", "i", "true")).collect()
    }
    assert(e.getMessage.contains("requires (double, int)"))
  }
}
