package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/**
 * `Sources.readAllTraces` reads trace headers on the driver and each
 * header group in one all-string CSV scan. It must produce exactly what a
 * per-file `inferSchema` read melted to long format produces — on a folder
 * that mixes the 6-feature and the 12-feature trace layouts and holds an
 * empty cell — and its call must start no Spark job.
 */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("sources-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 1_1 and 3_1: the 6-feature layout (one header group, one scan);
    * 2_1: the 12-feature layout with one metric cell emptied. */
  private lazy val folder: Path = {
    val dir = Files.createTempDirectory("sources-spec")
    val res = Paths.get("src/test/resources")
    Files.copy(res.resolve("traces/1_1.csv"), dir.resolve("1_1.csv"))
    Files.copy(res.resolve("traces/2_1.csv"), dir.resolve("3_1.csv"))
    Files.copy(res.resolve("traces/labels.csv"), dir.resolve("labels.csv"))
    val f2 = new String(Files.readAllBytes(res.resolve("traces_f2/2_1.csv")), "UTF-8")
      .split("\n", -1)
    val cells = f2(5).split(",", -1)
    cells(3) = ""
    f2(5) = cells.mkString(",")
    Files.write(dir.resolve("2_1.csv"), f2.mkString("\n").getBytes("UTF-8"))
    // deleteOnExit runs in reverse registration order: files, then the dir
    dir.toFile.deleteOnExit()
    dir.toFile.listFiles().foreach(_.deleteOnExit())
    dir
  }

  /** (timestamp, feature, value bits or None, trace_id), sorted. */
  private def canon(rows: Seq[(Long, String, Option[Double], String)]) =
    rows.map { case (ts, f, v, id) => (ts, f, v.map(java.lang.Double.doubleToLongBits), id) }
      .sorted

  test("readAllTraces equals a per-file inferSchema read, mixed layouts and an empty cell") {
    val dir = folder.toString
    val (long, featureOrder) = Sources.readAllTraces(spark, dir, "labels")
    val got = canon(long.select("timestamp", "feature", "value", "trace_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3))))

    val ids = Seq("1_1", "2_1", "3_1")
    val inferred = ids.map(id => id -> spark.read
      .option("header", "true").option("inferSchema", "true").csv(s"$dir/$id.csv"))
    val want = canon(inferred.flatMap { case (id, wide) =>
      val metrics = wide.columns.tail
      wide.collect().toSeq.flatMap { r =>
        val ts = r.getAs[Number](0).longValue
        metrics.indices.map { k =>
          val v = if (r.isNullAt(k + 1)) None else Some(r.getAs[Number](k + 1).doubleValue)
          (ts, metrics(k), v, id)
        }
      }
    })
    assert(want.count(_._3.isEmpty) == 1, "the fixture must hold exactly one empty cell")
    assert(got.length == 300 * (6 + 12 + 6))
    assert(got == want)
    assert(featureOrder == inferred.head._2.columns.tail.toSeq)
  }

  test("readAllTraces starts no Spark job") {
    val dir = folder.toString
    var groups = Map.empty[Int, Option[String]] // job id -> job group
    var barrierEnded = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        groups += e.jobId ->
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (groups.get(e.jobId).flatten.contains("barrier")) barrierEnded = true
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("read", "readAllTraces")
      Sources.readAllTraces(spark, dir, "labels")
      // listener events arrive in order: once the barrier job's end is
      // seen, every job the read started has been counted
      sc.setJobGroup("barrier", "barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!listener.synchronized(barrierEnded) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      listener.synchronized {
        assert(barrierEnded, "barrier job end event never arrived")
        assert(!groups.values.exists(_.contains("read")), s"jobs started: $groups")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
