package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

class HarnessSpec extends AnyFunSuite {

  private val small = NhanesShape(rows = 500, nCont = 6, nBin = 3, nCat = 2, qcTraps = true)

  test("the same seed gives the same inputs; another seed gives others") {
    val a = Gen.digest(Gen.nhanes(small, 11L))
    assert(a == Gen.digest(Gen.nhanes(small, 11L)))
    assert(a != Gen.digest(Gen.nhanes(small, 12L)))
  }

  test("generated kinds hold their declared value sets") {
    val d = Gen.nhanes(small, 3L)
    d.vars.filter(_.kind == "binary").foreach(v =>
      assert(v.values.filterNot(_.isNaN).toSet.subsetOf(Set(0.0, 1.0))))
    d.vars.filter(_.kind == "categorical").foreach { v =>
      val levels = v.values.filterNot(_.isNaN).toSet
      assert(levels.size >= 3 && levels.size <= 6, v.name)
    }
    assert(d.planted.size == 5 && d.planted.subsetOf(d.vars.map(_.name).toSet))
    assert(d.qcDrops.keySet == Set("qc_zero", "qc_sparse", "qc_rare"))
  }

  test("union length merges overlaps and clips to the window") {
    assert(Intervals.unionLength(Nil, 0, 100) == 0)
    assert(Intervals.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Intervals.unionLength(Seq((10L, 30L), (20L, 40L), (25L, 26L)), 0, 100) == 30)
    assert(Intervals.unionLength(Seq((-50L, 10L), (90L, 150L)), 0, 100) == 20)
    assert(Intervals.unionLength(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("self time subtracts children; driver-only time also subtracts own jobs") {
    val spans = Seq(
      Span(0, -1, 1, "bench", "iteration", 0, 100, failed = false),
      Span(1, 0, 1, "analyze", "run", 10, 40, failed = false),
      Span(2, 1, 1, "corrections", "inner", 20, 30, failed = false),
      Span(3, 0, 1, "io", "load", 60, 70, failed = true))
    val jobs = Seq(
      JobRec(tag = 1, start = 12, end = 18),  // tagged, inside its span
      JobRec(tag = -1, start = 32, end = 38), // untagged: innermost open span
      JobRec(tag = 2, start = 50, end = 55),  // stale tag: falls to the root
      JobRec(tag = 2, start = 21, end = 24))
    val stages = Seq(StageRec(tag = 1, submit = 13, tasks = 4, cpuNs = 7, waitNs = 3,
      shuffleBytes = 2000000, resultBytes = 1000000))
    val m = LayerStats.compute(spans, jobs, stages)
    assert(m.keySet == Set("analyze", "corrections", "io"))
    val analyze = m("analyze")
    assert(analyze.wallNs == 20)
    assert(analyze.driverOnlyNs == 30 - (10 + 6 + 6))
    assert(analyze.jobs == 2 && analyze.tasks == 4 && analyze.cpuNs == 7)
    assert(analyze.shuffleBytes == 2000000 && analyze.resultBytes == 1000000)
    assert(m("corrections").wallNs == 10 && m("corrections").driverOnlyNs == 7)
    assert(m("io").failed == 1 && m("analyze").failed == 0)
  }

  /** Odd iterations throw at once; even ones take 30 ms and succeed. */
  private final class Flaky(badCheck: Boolean = false) extends Workload {
    type Out = Int
    val name = "flaky"
    def generate(spark: SparkSession, dir: String, seed: Long): Unit = ()
    def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Int] =
      tr.span("bench", "iteration") {
        tr.span("analyze", "boom") {
          if (tr.run % 2 == 1) throw new IllegalStateException("planted failure")
          Thread.sleep(30)
          Outcome(1, 1, 30000000L, tr.run)
        }
      }
    def check(out: Int): Seq[(String, String)] =
      if (badCheck && out % 4 == 0) Seq("analyze" -> "wrong output") else Nil
  }

  test("a failing operation is counted as failed, never as a fast sample") {
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    val attempts = Harness.loop(new Flaky, null, "", new Tracer(null),
      seconds = 0.3, minIters = 3, collector = None, problems)
    val samples = attempts.flatMap(_.sample)
    assert(samples.nonEmpty && samples.forall(_.wallNs >= 30000000L))
    assert(attempts.map(_.failedOps).sum == problems.size)
    assert(attempts.size - samples.size == problems.size)
    assert(problems.size >= attempts.size / 2)
    assert(problems.forall { case (layer, msg) => layer == "analyze" && msg.contains("boom") })
  }

  test("an output that fails its check is a failure too") {
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    val attempts = Harness.loop(new Flaky(badCheck = true), null, "",
      new Tracer(null), seconds = 0.4, minIters = 5, collector = None, problems)
    val samples = attempts.flatMap(_.sample)
    assert(samples.forall(_.run % 4 == 2))
    assert(problems.exists(_._2.contains("wrong output")))
    assert(attempts.size == samples.size + problems.size)
  }

  /** Three separately timed operations per iteration; the second one fails
    * after sleeping 50 ms. */
  private final class PartlyFailing extends Workload {
    type Out = Unit
    val name = "partly"
    def generate(spark: SparkSession, dir: String, seed: Long): Unit = ()
    def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Unit] = {
      val times = Seq(2000000L, 3000000L)
      Thread.sleep(50)
      Outcome(0, 0, times.sum, (), opNs = times, failures = Seq("board.text" -> "text_x threw"))
    }
    def check(out: Unit): Seq[(String, String)] = Nil
  }

  test("a failed operation inside an iteration is counted and left out of its time") {
    val problems = mutable.ArrayBuffer.empty[(String, String)]
    val a = Harness.attempt(new PartlyFailing, null, "", new Tracer(null), run = 1,
      traced = false, problems)
    assert(a.ops == 3 && a.failedOps == 1)
    assert(a.sample.map(_.wallNs).contains(5000000L))
    assert(problems.toSeq == Seq("board.text" -> "iteration 1: text_x threw"))
  }

  test("expected-table cells match to six significant digits") {
    assert(Expected.close("0.123456", "0.123457"))
    assert(!Expected.close("0.123456", "0.123496"))
    assert(Expected.close("NA", "NA") && !Expected.close("NA", "1"))
    assert(Stats.binomialUpperTail(10, 0.5, 0) > 0.999999)
    assert(math.abs(Stats.binomialUpperTail(10, 0.5, 10) - 1.0 / 1024) < 1e-12)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0, 5.0), 0.5) == 3.0)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.95) - 4.8) < 1e-12)
  }

  test("board digests ignore row order and round to six significant digits") {
    val a = Array(Row("x", 1.0000001, null), Row("y", 2.5, Seq(1, 2)))
    val b = Array(Row("y", 2.5000000001, Seq(1, 2)), Row("x", 1.0, null))
    assert(Board.digest(a) == Board.digest(b))
    assert(Board.digest(a) != Board.digest(Array(Row("x", 1.001, null), a(1))))
    assert(Board.family("text_bigram_lm") == "board.text")
    assert(Board.family("blocklist_filter_out") == "board.pipeline")
    assert(Board.family("q3_join_revenue_by_nation") == "board.other")
    assert(Board.shuffle(Vector("a", "b", "c", "d"), 9L) == Board.shuffle(Vector("a", "b", "c", "d"), 9L))
  }
}
