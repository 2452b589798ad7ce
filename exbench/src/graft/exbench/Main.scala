package graft.exbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Benchmark process for one run of one workload. Closed loop, one
 * client: every operation starts when the previous one has returned.
 *
 *   --workload explain|suite_mix|digest_check|digests  --explain-dir DIR
 *   --explain-rows N  --tables-dir DIR  --seconds N  --trace 0|1  --seed N  --cores K
 *   --out DIR
 *
 * Every argument a mode reads is required; there are no defaults here.
 * Writes `result.json` (and, traced, `spans.json`) to `--out`; the
 * Python runner checks the outputs and prints the benchmark's result
 * line.
 */
object Main {
  final class Args(m: Map[String, String]) {
    private def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload: String = get("workload")
    def explainDir: String = get("explain-dir")
    def explainConfig: graft.ExstreamConfig = Explain.config(get("explain-rows").toInt)
    def tablesDir: String = get("tables-dir")
    def seconds: Double = get("seconds").toDouble
    def trace: Boolean = get("trace") == "1"
    def seed: Long = get("seed").toLong
    def cores: Int = get("cores").toInt
    def out: String = get("out")
  }

  private def parse(a: Array[String]): Args =
    new Args(a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("exbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Outcome bookkeeping: an operation fails if it throws or fails its
    * output check. */
  final class Outcomes {
    var attempted = 0
    var failed = 0
    val notes = mutable.ArrayBuffer.empty[String]
    def record(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; notes += what }
    }
  }

  /** Seconds from JVM start to the first line of `main`. */
  private var preMainS = 0.0

  def main(argv: Array[String]): Unit = {
    preMainS = (System.currentTimeMillis() - Jvm.processStartMs) / 1e3
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val scratch = a.out + "/tmp"
    val result = a.workload match {
      case "digest_check" => digestCheck(a, scratch)
      case "digests" => digests(a, scratch)
      case _ if a.trace => traced(a, scratch)
      case "explain" => explainLoop(a, scratch)
      case "suite_mix" => suiteLoop(a, scratch)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a.out, "result.json"), result)
  }

  private def resultJson(o: Outcomes, metrics: Seq[(String, Double)],
                         extra: Seq[(String, String)]): String = {
    val ms = metrics.map { case (k, v) => s"    ${Json.str(k)}: $v" }.mkString(",\n")
    val ex = extra.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)},\n" }.mkString
    s"""{
       |  "attempted": ${o.attempted},
       |  "failed": ${o.failed},
       |  "notes": [${o.notes.map(Json.str).mkString(", ")}],
       |$ex  "metrics": {
       |$ms
       |  }
       |}
       |""".stripMargin
  }

  /** Set-up, repeated: a new SparkSession (the previous one stopped)
    * with the workload's inputs loaded. The first set-up is timed from
    * JVM start, so it includes JVM boot and class loading. */
  private def setups(a: Args, scratch: String)(load: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.cores, scratch)
      load(spark)
      (System.nanoTime() - t0) / 1e9 + (if (i == 0) preMainS else 0.0)
    }
    (spark, times)
  }

  /**
   * Closed loop: the first `timedOps` operations are timed (wall and
   * process CPU seconds each), then untimed ones run until `seconds`
   * have passed since the first began. A fixed count keeps every run
   * at the same point of the JIT warm-up, however fast the operation.
   */
  private def loop(timedOps: Int, seconds: Double)(op: => Unit): (Seq[Double], Seq[Double]) = {
    val start = System.nanoTime()
    val samples = Seq.fill(timedOps) {
      val c0 = Jvm.cpuSeconds
      val t0 = System.nanoTime()
      op
      ((System.nanoTime() - t0) / 1e9, Jvm.cpuSeconds - c0)
    }
    while ((System.nanoTime() - start) / 1e9 < seconds) op
    samples.unzip
  }

  /** Labelled windows of the folder_1 layout: one explanation row each. */
  val ExplainWindows = 29
  val SetupReps = 3
  val TimedExplainOps = 2
  val TimedSuitePasses = 1

  private def explainLoop(a: Args, scratch: String): String = {
    val o = new Outcomes
    var expected: String = null
    def checked(spark: SparkSession): Unit = {
      val rows = try Explain.run(spark, a.explainDir, a.explainConfig) catch {
        case e: Exception => o.record(ok = false, s"explain threw: $e"); return
      }
      val d = Explain.digest(rows)
      if (expected == null) {
        expected = d
        Files.writeString(Paths.get(a.out, "explain_rows.txt"), rows.map(_.toString).sorted.mkString("\n"))
      }
      o.record(rows.length == ExplainWindows && d == expected,
        s"explain: ${rows.length} rows, digest $d vs $expected")
    }
    val (spark, setupTimes) = setups(a, scratch)(Explain.loadInputs(_, a.explainDir))
    checked(spark) // untimed cold operation; its digest is the reference
    val (walls, cpus) = loop(TimedExplainOps, a.seconds)(checked(spark))
    spark.stop()
    resultJson(o,
      Seq("setup_s" -> median(setupTimes), "wall_s" -> median(walls), "cpu_s" -> median(cpus)),
      Seq("explain_digest" -> Option(expected).getOrElse(""),
        "samples" -> s"setup=${setupTimes.mkString(",")} wall=${walls.mkString(",")}"))
  }

  private def suiteLoop(a: Args, scratch: String): String = {
    val o = new Outcomes
    val names = Suite.order(a.seed)
    val (spark, setupTimes) = setups(a, scratch)(Suite.loadInputs(_, a.tablesDir))
    // untimed cold pass; its outputs are checked against the DuckDB
    // oracle after the JVM exits
    val cold = Suite.pass(spark, a.tablesDir, names)
    o.record(ok = true, "")
    Suite.writeForOracle(spark, cold, s"${a.out}/oracle")
    val expected = Suite.digest(cold)
    val (walls, cpus) = loop(TimedSuitePasses, a.seconds) {
      val d = scala.util.Try(Suite.digest(Suite.pass(spark, a.tablesDir, names)))
      o.record(d.toOption.contains(expected), s"suite pass digest $d vs $expected")
    }
    spark.stop()
    resultJson(o,
      Seq("setup_s" -> median(setupTimes), "wall_s" -> median(walls), "cpu_s" -> median(cpus)),
      Seq("suite_digest" -> expected,
        "query_digests" -> cold.map(r => s"${r.name}=${r.digest}").mkString(","),
        "samples" -> s"setup=${setupTimes.mkString(",")} wall=${walls.mkString(",")}"))
  }

  /**
   * Traced run. Every layer is profiled in every traced run: an untraced
   * cold explain operation and suite pass first (their digests are the
   * reference), then the traced explain re-assembly and the traced suite
   * pass, then one untraced warm operation of the run's own workload,
   * whose wall time the traced one is compared with.
   */
  private def traced(a: Args, scratch: String): String = {
    val o = new Outcomes
    val spark = session(a.cores, scratch)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val names = Suite.order(a.seed)

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (coldRows, coldExplainS) = timed(Explain.run(spark, a.explainDir, a.explainConfig))
    val explainDigest = Explain.digest(coldRows)
    o.record(coldRows.length == ExplainWindows, s"explain: ${coldRows.length} rows")
    val (cold, coldSuiteS) = timed(Suite.pass(spark, a.tablesDir, names))
    o.record(ok = true, "")
    Suite.writeForOracle(spark, cold, s"${a.out}/oracle")
    listener.awaitJobsEnded()

    val tr = new Tracer(spark.sparkContext, listener)
    Jvm.trackPostGcHeap()
    val gc0 = Jvm.gcSeconds
    val tracedDigest = Explain.digest(Explain.traced(spark, a.explainDir, a.explainConfig, tr))
    o.record(tracedDigest == explainDigest,
      s"traced explain digest $tracedDigest vs untraced $explainDigest")
    val suiteRuns = Suite.pass(spark, a.tablesDir, names, Some(tr))
    o.record(Suite.digest(suiteRuns) == Suite.digest(cold), "traced suite pass digest differs")
    val gcS = Jvm.gcSeconds - gc0
    listener.awaitJobsEnded()

    val (ownCold, ownTraced, ownUntraced) = a.workload match {
      case "explain" =>
        val (rows, s) = timed(Explain.run(spark, a.explainDir, a.explainConfig))
        o.record(Explain.digest(rows) == explainDigest, "warm explain digest differs")
        (coldExplainS, tr.seconds("pipeline"), s)
      case _ =>
        val (runs, s) = timed(Suite.pass(spark, a.tablesDir, names))
        o.record(Suite.digest(runs) == Suite.digest(cold), "warm suite pass digest differs")
        (coldSuiteS, tr.seconds("suite"), s)
    }
    listener.awaitJobsEnded()
    spark.stop()
    Files.writeString(Paths.get(a.out, "spans.json"), tr.spansJson)
    resultJson(o, LayerMetrics(tr, a.cores, gcS, ownTraced - ownUntraced) :+ ("jvm.cold_op_s" -> ownCold),
      Seq("explain_digest" -> explainDigest, "suite_digest" -> Suite.digest(cold),
        "query_digests" -> cold.map(r => s"${r.name}=${r.digest}").mkString(",")))
  }

  /** Untraced vs traced explain digests on one folder (the benchmark's
    * own test uses it on a small fixture). */
  private def digestCheck(a: Args, scratch: String): String = {
    val o = new Outcomes
    val spark = session(a.cores, scratch)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val untraced = Explain.digest(Explain.run(spark, a.explainDir, a.explainConfig))
    val tr = new Tracer(spark.sparkContext, listener)
    val traced = Explain.digest(Explain.traced(spark, a.explainDir, a.explainConfig, tr))
    listener.awaitJobsEnded()
    o.record(untraced == traced, s"traced $traced vs untraced $untraced")
    spark.stop()
    resultJson(o, Seq("pipeline.s" -> tr.seconds("pipeline")),
      Seq("untraced_digest" -> untraced, "traced_digest" -> traced))
  }

  /** Explain digest of every fixture under `--explain-dir`, one
    * subdirectory each, keyed by the subdirectory's name (for
    * `exbench/record.py`). */
  private def digests(a: Args, scratch: String): String = {
    val o = new Outcomes
    val spark = session(a.cores, scratch)
    val names = Files.list(Paths.get(a.explainDir)).iterator.asScala
      .map(_.getFileName.toString).toSeq.sorted
    val ds = names.map { n =>
      val rows = Explain.run(spark, s"${a.explainDir}/$n", a.explainConfig)
      o.record(rows.length == ExplainWindows, s"explain $n: ${rows.length} rows")
      n -> Explain.digest(rows)
    }
    spark.stop()
    resultJson(o, Seq.empty, ds)
  }
}

/** Per-layer metrics of a traced run, named `<layer>.<measure>`. */
object LayerMetrics {
  private val MB = 1024.0 * 1024.0

  def apply(tr: Tracer, cores: Int, gcS: Double, overheadS: Double): Seq[(String, Double)] = {
    val l = tr.listener
    def busy(groups: Seq[String], seconds: Double): Double =
      groups.map(l.group(_).runMs).sum / 1e3 / (seconds * cores)
    def layer(g: String) = (l.group(g), tr.seconds(g))

    val (src, srcS) = layer("sources")
    val (lab, labS) = layer("labeler")
    val (cor, corS) = layer("correlation")
    val (fp, fpS) = layer("fp")
    val (rew, rewS) = layer("reward")
    val pipelineSelf = tr.spans.filter(_.name == "pipeline").map(tr.selfSeconds).sum
    val explain = Seq(
      "sources.s" -> srcS, "sources.jobs" -> src.jobs.toDouble,
      "sources.busy_share" -> busy(Seq("sources"), srcS),
      "labeler.s" -> labS, "labeler.tasks" -> lab.tasks.toDouble,
      "labeler.busy_share" -> busy(Seq("labeler"), labS),
      "correlation.s" -> corS, "correlation.shuffle_write_mb" -> cor.shuffleWriteBytes / MB,
      "correlation.busy_share" -> busy(Seq("correlation"), corS),
      "fp.s" -> fpS, "fp.shuffle_write_mb" -> fp.shuffleWriteBytes / MB,
      "fp.tasks" -> fp.tasks.toDouble, "fp.busy_share" -> busy(Seq("fp"), fpS),
      "reward.s" -> rewS, "reward.shuffle_write_mb" -> rew.shuffleWriteBytes / MB,
      "leap.s" -> tr.seconds("leap"),
      "pipeline.self_s" -> pipelineSelf, "pipeline.jobs" -> l.group("pipeline").jobs.toDouble)

    val queries = Suite.Names.flatMap { q =>
      val groups = Seq(s"$q.build", s"$q.exec")
      Seq(s"$q.build_s" -> tr.seconds(s"$q.build"), s"$q.exec_s" -> tr.seconds(s"$q.exec"),
        s"$q.jobs" -> groups.map(l.group(_).jobs).sum.toDouble)
    }
    val qGroups = Suite.Names.flatMap(q => Seq(s"$q.build", s"$q.exec"))
    val suiteJobs = qGroups.map(l.group(_).jobs).sum
    val suiteTasks = qGroups.map(l.group(_).tasks).sum
    val suiteS = tr.seconds("suite")
    val suite = Seq(
      "suite.build_s" -> Suite.Names.map(q => tr.seconds(s"$q.build")).sum,
      "suite.exec_s" -> Suite.Names.map(q => tr.seconds(s"$q.exec")).sum,
      "suite.jobs" -> suiteJobs.toDouble,
      "suite.tasks_per_job" -> suiteTasks.toDouble / math.max(1, suiteJobs),
      "suite.shuffle_write_mb" -> qGroups.map(l.group(_).shuffleWriteBytes).sum / MB,
      "suite.busy_share" -> busy(qGroups, suiteS))

    val traced = tr.spans.map(_.name).distinct
    val jvm = Seq(
      "jvm.live_heap_peak_mb" -> Jvm.postGcHeapPeakBytes / MB,
      "jvm.gc_s" -> gcS,
      "spark.spill_mb" -> traced.map(l.group(_).spillBytes).sum / MB,
      "trace.overhead_s" -> overheadS)
    explain ++ queries ++ suite ++ jvm
  }
}
