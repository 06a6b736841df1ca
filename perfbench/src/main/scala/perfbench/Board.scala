package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** The query board: one pass over the queries of `SparkEntry.queries` named
  * in the committed expectation file, on the committed sf0.001 tables, each
  * forced through a noop sink so every output column is computed. The file
  * pins the first query, in name order, of each training-data pipeline
  * family, the modules no other workload runs; pinning keeps what is timed
  * fixed when the query list changes. The seed orders the pass. Each query
  * is a span in the layer of its family (the prefix of its name), and a
  * query that throws is listed by name and left out of the timings; the rest
  * of the pass goes on. */
final class Board(data: String, expected: String) extends Workload {
  type Out = Unit
  val name = "board"
  private val queries = SparkEntry.queries
  private val file = s"$expected/board_sf0.001.tsv"
  private var order: IndexedSeq[String] = _

  /** Orders the pass. The tables are committed; their first-touch reads
    * fall in the warm-up. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val pinned = scala.io.Source.fromFile(file)
    val names = try pinned.getLines().drop(1).map(_.takeWhile(_ != '\t')).toIndexedSeq.sorted
      finally pinned.close()
    order = Board.shuffle(names, seed)
  }

  def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Unit] =
    tr.span("bench", "iteration") {
      val done = mutable.ArrayBuffer.empty[Long]
      val failures = mutable.ArrayBuffer.empty[(String, String)]
      order.foreach { q =>
        val t0 = System.nanoTime()
        try {
          tr.span(Board.family(q), q) {
            query(q)(spark, data).write.format("noop").mode("overwrite").save()
          }
          done += System.nanoTime() - t0
        } catch { case NonFatal(e) => failures += Board.family(q) -> s"$q threw $e" }
      }
      Outcome(0, 0, 0L, (), done.toSeq, failures.toSeq)
    }

  private def query(q: String) =
    queries.getOrElse(q, throw new NoSuchElementException(s"$q is not in SparkEntry.queries"))

  override def minIters(trace: Boolean): Int = if (trace) 2 else 1

  /** The noop sink leaves nothing to check; outputs are checked in the
    * warm-up pass. */
  def check(out: Unit): Seq[(String, String)] = Nil

  /** The warm-up is one pass that collects every query's output and
    * compares its row count and rounded digest with the committed file,
    * then one untimed noop pass: the first noop pass after the collecting
    * one still ran about a fifth slower than the next. */
  override def warmUp(spark: SparkSession, dir: String, tr: Tracer, expected: String,
                      update: Boolean, problems: mutable.Buffer[(String, String)]): Unit = {
    tr.run = 0
    val lines = order.sorted.map { q =>
      try {
        val rows = tr.span(Board.family(q), q) { query(q)(spark, data).collect() }
        s"$q\t${rows.length}\t${Board.digest(rows)}"
      } catch {
        case NonFatal(e) =>
          problems += Board.family(q) -> s"$q threw $e"
          s"$q\tERROR\t-"
      }
    }
    Expected.compare(file, "query\trows\tdigest" +: lines, update)
      .foreach(problems += "bench" -> _)
    Harness.attempt(this, spark, dir, tr, run = -1, traced = false, problems)
  }
}

object Board {
  /** Families reported as layers: the training-data pipeline modules
    * (`events` is the streaming one, `ann` similarity search). A query of
    * any other prefix falls into `other`. */
  val Families = Seq("dedup", "text", "graph", "sample", "ann", "multimodal", "events",
    "pipeline", "other")

  private val Prefix = Map("fuzzy" -> "dedup", "embedding" -> "ann", "cluster" -> "ann",
    "pack" -> "pipeline", "layout" -> "pipeline", "blocklist" -> "pipeline")

  /** The layer of a query: `board.<family>`. */
  def family(query: String): String = {
    val p = query.takeWhile(_ != '_')
    "board." + (if (Families.contains(p)) p else Prefix.getOrElse(p, "other"))
  }

  def shuffle(names: IndexedSeq[String], seed: Long): IndexedSeq[String] = {
    val a = names.toArray
    val rnd = new java.util.SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** One value as text, with floating-point numbers rounded to 6
    * significant digits. */
  def render(v: Any): String = v match {
    case null                             => "NA"
    case d: Double if d.isNaN             => "NaN"
    case d: Double if d == 0              => "0"
    case d: Double                        => "%.6g".format(d)
    case f: Float                         => render(f.toDouble)
    case r: Row                           => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte]                   => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _]    =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Iterable[_]  => s.map(render).mkString("[", ",", "]")
    case other                            => other.toString
  }

  /** Order-free digest of a result: its rendered rows, sorted. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
