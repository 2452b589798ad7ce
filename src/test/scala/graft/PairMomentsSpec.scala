package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.CorrelationFilter
import graft.plans.PairMoments

/**
 * The `graft_pair_moments` aggregate behind the correlation filter:
 * its moments equal a plain double loop with pairwise deletion, and the
 * batch selection (`selectFeaturesBy`) equals the streaming window-local
 * selection (`selectFeaturesLocal`) group by group — on absent (null)
 * cells, a NaN, a constant column and a one-row group.
 */
class PairMomentsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("pair-moments-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val features = Seq("a", "b", "c", "d", "e")

  /** (g, timestamp, type_data, a..e), None = absent cell. Group 0: b and e
    * track a, c constant, d with absent cells, one NaN in e;
    * group 1: one row; group 2: e tracks -d, a and b absent half the time. */
  private lazy val rows: Seq[(Int, Long, Int, Seq[Option[Double]])] = {
    val rnd = new scala.util.Random(5)
    val g0 = (0 until 60).map { t =>
      val a = rnd.nextGaussian() * 3
      (0, t.toLong, t % 2, Seq(Some(a), Some(2 * a + rnd.nextGaussian() * 0.01), Some(7.0),
        if (t % 7 == 0) None else Some(rnd.nextDouble()),
        Some(if (t == 11) Double.NaN else -0.5 * a + rnd.nextGaussian() * 0.01)))
    }
    val g1 = Seq((1, 0L, 0, Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0))))
    val g2 = (0 until 40).map { t =>
      val d = rnd.nextGaussian()
      (2, t.toLong, 1, Seq(
        if (t % 2 == 0) None else Some(rnd.nextGaussian()),
        if (t % 2 == 0) None else Some(rnd.nextGaussian()),
        Some(rnd.nextDouble()), Some(d), Some(-d + rnd.nextGaussian() * 0.05)))
    }
    g0 ++ g1 ++ g2
  }

  private lazy val wide = {
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("timestamp", LongType),
      StructField("type_data", IntegerType)) ++ features.map(StructField(_, DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (g, ts, c, v) =>
          Row.fromSeq(Seq[Any](g, ts, c) ++ v.map(_.map(x => x: Any).orNull))
        }, 3),
      schema)
  }

  /** Six moments per pair (i, j < i) over rows where both cells are present. */
  private def loopMoments(group: Seq[Seq[Option[Double]]]): Seq[Double] =
    for {
      i <- features.indices; j <- 0 until i
      m <- {
        val both = group.flatMap(r => for (x <- r(i); y <- r(j)) yield (x, y))
        Seq(both.size.toDouble, both.map(_._1).sum, both.map(_._2).sum,
          both.map(p => p._1 * p._1).sum, both.map(p => p._2 * p._2).sum,
          both.map(p => p._1 * p._2).sum)
      }
    } yield m

  test("graft_pair_moments equals a plain double loop with pairwise deletion") {
    val got = wide.groupBy("g")
      .agg(PairMoments.pairMoments(spark, features.mkString("array(", ", ", ")")))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == Set(0, 1, 2))
    got.foreach { case (g, m) =>
      val want = loopMoments(rows.filter(_._1 == g).map(_._4))
      assert(m.length == want.length)
      m.zip(want).zipWithIndex.foreach { case ((x, y), k) =>
        assert((x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
          s"group $g cell $k: $x vs $y")
      }
    }
    // the NaN reaches every pair with e in group 0; the absent cells do not
    val g0 = got(0)
    assert(g0(6 * 6 + 1).isNaN) // pair (e, a): Σe
    assert(!g0(6 * 3).isNaN && g0(6 * 3) < 60) // pair (d, a): n drops the absent d cells
  }

  test("selectFeaturesBy equals selectFeaturesLocal for every group") {
    val batch = CorrelationFilter.selectFeaturesBy(wide, features, 0.8, "g")
    val local = rows.groupBy(_._1).map { case (g, rs) =>
      g -> CorrelationFilter.selectFeaturesLocal(
        rs.flatMap { case (_, ts, c, v) =>
          features.zip(v).collect { case (f, Some(x)) => (ts, c, f, x) }
        }, features, 0.8)
    }
    assert(batch == local)
    assert(batch(0) == Seq("a", "c", "d", "e")) // b folds into a; e's NaN keeps it
    assert(batch(1) == features)                // one row: no defined correlation
    assert(batch(2) == Seq("a", "b", "c", "d")) // e folds into d
    // one feature: no pairs, every group keeps it
    assert(CorrelationFilter.selectFeaturesBy(wide, Seq("a"), 0.8, "g") ==
      Map(0 -> Seq("a"), 1 -> Seq("a"), 2 -> Seq("a")))
  }
}
