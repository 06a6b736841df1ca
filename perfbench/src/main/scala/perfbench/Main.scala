package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Runs one workload for a fixed time in a closed loop (one caller; the next
  * iteration starts when the previous one has finished) and prints one JSON
  * line: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. Human-readable lines before it start with `#`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        [--work <dir>] [--expected <dir>] [--data <dir>] [--update-expected] */
object Main {
  val Layers = Seq("io", "modify", "describe", "survey", "genomics", "analyze", "corrections")
  val SetupReps = 3
  val WarmUps = 1

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, expected: String, data: String, updateExpected: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", kv.getOrElse("--work", ".bench_build/work"),
      kv.getOrElse("--expected", "perfbench/expected"), kv.getOrElse("--data", "perfbench/data"),
      args.contains("--update-expected"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = Workload(a.workload, a.data, a.expected)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // one iteration plans more distinct stages than the default 100-entry
      // generated-class cache holds; evictions would recompile every pass
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try println(new Run(spark, workload, a, sessionS).apply())
    finally spark.stop()
  }

  /** The process's high-water resident set, in MB. */
  def peakRssMb(): Double = {
    val status = new java.io.File("/proc/self/status")
    val hwm = if (!status.exists()) None else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      finally src.close()
    }
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }
}

/** The closed loop: one caller, each iteration starting when the previous
  * one has finished. */
object Harness {
  /** A successful iteration. `wallNs` is its wall time, or for an
    * iteration of separately timed operations the sum of their times;
    * `opNs` are those times. */
  final case class Sample(run: Int, traced: Boolean, wallNs: Long, tests: Int,
                          testsOk: Int, stageNs: Long, opNs: Seq[Long])

  /** What one attempt gave: the sample if it succeeded, and how many
    * operations it attempted and how many of them failed. */
  final case class Attempt(sample: Option[Sample], ops: Int, failedOps: Int)

  /** One iteration and its untimed output check. A throw or a failed check
    * makes it a failure: listed by name in `problems` and kept out of every
    * timing. An operation that failed inside an iteration of separately
    * timed operations is listed the same way; only its time is left out. */
  def attempt(w: Workload, spark: SparkSession, dir: String, tr: Tracer, run: Int,
              traced: Boolean, problems: mutable.Buffer[(String, String)]): Attempt = {
    tr.run = run
    val t0 = System.nanoTime()
    val res = Try(w.iterate(spark, dir, tr))
    val wall = System.nanoTime() - t0
    res match {
      case Success(o) =>
        val bad = o.failures ++
          Try(w.check(o.out)).fold(e => Seq("bench" -> s"output check threw $e"), identity)
        bad.foreach { case (layer, msg) => problems += layer -> s"iteration $run: $msg" }
        val ops = if (o.opNs.isEmpty && o.failures.isEmpty) 1 else o.opNs.size + o.failures.size
        if (bad.size > o.failures.size) Attempt(None, ops, ops)
        else Attempt(Some(Sample(run, traced, if (o.opNs.isEmpty) wall else o.opNs.sum,
          o.tests, o.testsOk, o.stageNs, o.opNs)), ops, o.failures.size)
      case Failure(e) =>
        val where = tr.spans.filter(s => s.run == run && s.failed && s.parent >= 0)
        val layer = where.headOption.map(_.layer).getOrElse("bench")
        problems += layer -> s"iteration $run: ${where.map(_.name).mkString(">")} threw $e"
        Attempt(None, 1, 1)
    }
  }

  /** Iterates for `seconds` (and at least `minIters` times). With a
    * collector, even iterations are traced and odd ones are not, so drift
    * during the run does not bias the tracing overhead. */
  def loop(w: Workload, spark: SparkSession, dir: String, tr: Tracer, seconds: Double,
           minIters: Int, collector: Option[JobCollector],
           problems: mutable.Buffer[(String, String)]): Seq[Attempt] = {
    val attempts = mutable.ArrayBuffer.empty[Attempt]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while ((System.nanoTime() < deadline || k < minIters) && k < 10000) {
      k += 1
      val traced = collector.nonEmpty && k % 2 == 0
      if (traced) { collector.foreach(spark.sparkContext.addSparkListener); tr.tagging = true }
      attempts += attempt(w, spark, dir, tr, k, traced, problems)
      if (traced) {
        tr.tagging = false
        PerfbenchBus.drain(spark.sparkContext)
        collector.foreach(spark.sparkContext.removeSparkListener)
      }
    }
    attempts.toSeq
  }
}

/** One benchmark run: set-up, the timed loop and the result line. */
final class Run(spark: SparkSession, w: Workload, a: Main.Args, sessionS: Double) {
  import Harness.Sample
  private val tr = new Tracer(spark.sparkContext)
  private val dir = s"${a.work}/data"
  private val problems = mutable.ArrayBuffer.empty[(String, String)] // (layer, what failed)

  def apply(): String = {
    val gens = (1 to Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.generate(spark, dir, a.seed)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    w.warmUp(spark, dir, tr, a.expected, a.updateExpected, problems)
    val setupS = sessionS + Stats.median(gens) + (System.nanoTime() - tw) / 1e9

    val collector = new JobCollector
    val attempts = Harness.loop(w, spark, dir, tr, a.seconds, w.minIters(a.trace),
      if (a.trace) Some(collector) else None, problems)
    val samples = attempts.flatMap(_.sample)
    val (attempted, failed) = (attempts.map(_.ops).sum, attempts.map(_.failedOps).sum)
    val correct = problems.isEmpty && samples.nonEmpty

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(setupS, samples)
      else perLayer(samples, collector, failed.toDouble / attempted)
    val lines = mutable.ArrayBuffer.empty[String]
    lines += f"# ${w.name} seed=${a.seed} trace=${if (a.trace) 1 else 0} iterations=${attempts.size} " +
      f"ok=${samples.size} operations=$attempted failed=$failed " +
      f"setup: session ${sessionS}%.2fs, input ${gens.map(g => f"$g%.2f").mkString("/")}s, " +
      f"warm-up ${setupS - sessionS - Stats.median(gens)}%.2fs"
    lines += s"# iteration seconds: ${samples.map(s => f"${s.wallNs / 1e9}%.3f${if (s.traced) "t" else ""}").mkString(" ")}"
    problems.foreach { case (layer, msg) => lines += s"# FAILED [$layer] $msg" }
    metrics.foreach { case (n, v, u) => lines += f"# $n%-28s $v%14.6f $u" }
    lines += s"# output checks: ${if (correct) "pass" else "FAIL"}"
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Run.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    lines += s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}"""
    lines.mkString("\n")
  }

  private def endToEnd(setupS: Double, samples: Seq[Sample]): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("run_s", if (samples.isEmpty) 0.0 else Stats.median(samples.map(_.wallNs / 1e9)), "s"))

  private def perLayer(samples: Seq[Sample], collector: JobCollector,
                       failedFrac: Double): Seq[(String, Double, String)] = {
    val traced = samples.filter(_.traced)
    val perIter = traced.map(s =>
      LayerStats.compute(tr.spans.filter(_.run == s.run).toSeq, collector.jobs, collector.stageRecs))
    def med(f: LayerTotals => Double, layer: String) =
      if (perIter.isEmpty) 0.0 else Stats.median(perIter.map(m => f(m.getOrElse(layer, LayerTotals()))))
    val failedByLayer = problems.groupBy(_._1).map { case (l, ps) => l -> ps.size.toDouble }
    val layers = Main.Layers.flatMap { l =>
      Seq(
        (s"$l.wall_s", med(_.wallNs / 1e9, l), "s"),
        (s"$l.driver_only_s", med(_.driverOnlyNs / 1e9, l), "s"),
        (s"$l.jobs", med(_.jobs.toDouble, l), "count"),
        (s"$l.tasks", med(_.tasks.toDouble, l), "count"),
        (s"$l.exec_cpu_s", med(_.cpuNs / 1e9, l), "s"),
        (s"$l.task_wait_s", med(_.waitNs / 1e9, l), "s"),
        (s"$l.shuffle_mb", med(_.shuffleBytes / 1e6, l), "MB"),
        (s"$l.result_mb", med(_.resultBytes / 1e6, l), "MB"),
        (s"$l.failed", failedByLayer.getOrElse(l, 0.0), "count"))
    }
    val families = Board.Families.map("board." + _).flatMap { l =>
      Seq(
        (s"$l.wall_s", med(_.wallNs / 1e9, l), "s"),
        (s"$l.jobs", med(_.jobs.toDouble, l), "count"),
        (s"$l.driver_only_s", med(_.driverOnlyNs / 1e9, l), "s"),
        (s"$l.shuffle_mb", med(_.shuffleBytes / 1e6, l), "MB"))
    }
    def wallMed(xs: Seq[Sample]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.wallNs.toDouble))
    val untracedWall = wallMed(samples.filterNot(_.traced))
    val overhead = if (untracedWall > 0 && traced.nonEmpty) wallMed(traced) / untracedWall - 1 else 0.0
    // association tests: 0 where the workload runs none
    val tests = samples.map(_.tests).sum
    val (okFrac, testsPerS) =
      if (tests == 0) (0.0, 0.0)
      else (samples.map(_.testsOk).sum.toDouble / tests,
        Stats.median(samples.map(s => s.testsOk / (s.stageNs / 1e9))))
    // per-operation percentiles over the passes: 0 where an iteration is one operation
    val withOps = samples.filter(_.opNs.nonEmpty)
    def opPct(q: Double) =
      if (withOps.isEmpty) 0.0 else Stats.median(withOps.map(s => Stats.quantile(s.opNs.map(_ / 1e9), q)))
    val probe = Probe.run(a.seed)
    layers ++ families ++ Seq(
      ("analyze.tests_ok_frac", okFrac, "frac"),
      ("analyze.tests_per_s", testsPerS, "1/s"),
      ("board.query_p50_s", opPct(0.5), "s"),
      ("board.query_p95_s", opPct(0.95), "s"),
      ("stats.glm_fit_ms", probe.glmFitMs, "ms"),
      ("survey.vcov_ms", probe.vcovMs, "ms"),
      ("trace.overhead_frac", overhead, "frac"),
      ("bench.iterations", samples.size.toDouble, "count"),
      ("bench.peak_rss_mb", Main.peakRssMb(), "MB"),
      ("bench.failed_frac", failedFrac, "frac"))
  }
}

object Run {
  /** JSON number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
