package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Epoch-aligned nanosecond clock, so span times compare with the
  * millisecond timestamps Spark puts on its scheduler events. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
}

/** One call across a layer boundary. `run` is the iteration it belongs to;
  * `parent` is the enclosing span, or -1 for an iteration's root. */
final case class Span(id: Int, parent: Int, run: Int, layer: String, name: String,
                      start: Long, end: Long, failed: Boolean) {
  def duration: Long = end - start
  def contains(t: Long): Boolean = t >= start && t < end
}

/** A Spark job as the scheduler reported it; `tag` is the span id that was
  * open on the submitting thread, or -1. Times in epoch nanoseconds. */
final case class JobRec(tag: Int, start: Long, end: Long)

/** One stage's task totals. `waitNs` sums, over its tasks, launch time minus
  * stage submission. */
final case class StageRec(tag: Int, submit: Long, tasks: Long, cpuNs: Long,
                          waitNs: Long, shuffleBytes: Long, resultBytes: Long)

/** Records spans around the benchmark's calls into the library. With
  * `tagging` on, the open span's id is set as a Spark local property so the
  * collector can attribute jobs and tasks to it; with it off, spans cost two
  * clock reads. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var run = 0
  var tagging = false
  private var nextId = 0
  private var open: List[Int] = Nil

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    if (tagging) sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = Clock.now()
    var failed = true
    try { val r = body; failed = false; r }
    finally {
      val t1 = Clock.now()
      open = open.tail
      if (tagging) sc.setLocalProperty(Tracer.Key, open.headOption.map(_.toString).orNull)
      spans += Span(id, parent, run, layer, name, t0, t1, failed)
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
}

/** SparkListener that keeps raw job and stage records; attribution to spans
  * happens afterwards in [[LayerStats]]. */
final class JobCollector extends SparkListener {
  private val jobsOpen = mutable.Map.empty[Int, (Int, Long)]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]

  private def tagOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsOpen(e.jobId) = (tagOf(e.properties), e.time * 1000000L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsOpen.remove(e.jobId).foreach { case (tag, t0) => jobsDone += JobRec(tag, t0, e.time * 1000000L) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val submit = i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
    stages(i.stageId) = StageRec(tagOf(e.properties), submit, 0, 0, 0, 0, 0)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      val wait = math.max(0L, e.taskInfo.launchTime * 1000000L - s.submit)
      stages(e.stageId) = if (m == null) s.copy(tasks = s.tasks + 1, waitNs = s.waitNs + wait)
      else s.copy(tasks = s.tasks + 1, waitNs = s.waitNs + wait,
        cpuNs = s.cpuNs + m.executorCpuTime,
        shuffleBytes = s.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        resultBytes = s.resultBytes + m.resultSize)
    }
  }

  def jobs: Seq[JobRec] = synchronized(jobsDone.toSeq)
  def stageRecs: Seq[StageRec] = synchronized(stages.values.toSeq)
}

/** Totals for one layer within one iteration. Times in nanoseconds. */
final case class LayerTotals(wallNs: Long = 0, driverOnlyNs: Long = 0, jobs: Long = 0,
                             tasks: Long = 0, cpuNs: Long = 0, waitNs: Long = 0,
                             shuffleBytes: Long = 0, resultBytes: Long = 0, failed: Long = 0) {
  def +(o: LayerTotals): LayerTotals = LayerTotals(wallNs + o.wallNs,
    driverOnlyNs + o.driverOnlyNs, jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    waitNs + o.waitNs, shuffleBytes + o.shuffleBytes, resultBytes + o.resultBytes,
    failed + o.failed)
}

object Intervals {
  /** Length of the union of `ivs`, each clipped to [lo, hi). */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}

object LayerStats {
  /** The span a job or stage belongs to: its tag if that span was open at
    * time `t`, else the innermost span open at `t` (a pooled thread can
    * carry a stale tag), else -1. */
  def attribute(spans: Seq[Span], tag: Int, t: Long): Int =
    spans.find(s => s.id == tag && s.contains(t)).orElse(
      spans.filter(_.contains(t)).sortBy(-_.start).headOption).map(_.id).getOrElse(-1)

  /** Per-layer totals of one iteration. A span's wall time is its self
    * time: its duration minus the part its child spans cover. Its
    * driver-only time is its duration minus the part covered by its
    * children or by its own Spark jobs. Root spans (parent -1) are the
    * harness's own and are left out. */
  def compute(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec]): Map[String, LayerTotals] = {
    val ownJobs = jobs.groupBy(j => attribute(spans, j.tag, j.start))
    val ownStages = stages.groupBy(s => attribute(spans, s.tag, s.submit))
    val children = spans.groupBy(_.parent)
    spans.filter(_.parent >= 0).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val js = ownJobs.getOrElse(s.id, Nil)
      val st = ownStages.getOrElse(s.id, Nil)
      s.layer -> LayerTotals(
        wallNs = s.duration - Intervals.unionLength(kids, s.start, s.end),
        driverOnlyNs = s.duration -
          Intervals.unionLength(kids ++ js.map(j => (j.start, j.end)), s.start, s.end),
        jobs = js.size, tasks = st.map(_.tasks).sum, cpuNs = st.map(_.cpuNs).sum,
        waitNs = st.map(_.waitNs).sum, shuffleBytes = st.map(_.shuffleBytes).sum,
        resultBytes = st.map(_.resultBytes).sum, failed = if (s.failed) 1 else 0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
