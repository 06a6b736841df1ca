package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** Result tables rounded to 6 significant digits, compared against a
  * committed file or against another execution path. */
object Expected {
  val Columns = Seq("Variable", "Beta", "SE", "pvalue", "pvalue_bonferroni")

  private def cell(r: Row, c: String): String =
    if (r.isNullAt(r.fieldIndex(c))) "NA"
    else r.get(r.fieldIndex(c)) match {
      case d: Double => "%.6g".format(d)
      case other     => other.toString
    }

  /** Header plus one line per result, sorted by variable. */
  def table(rows: Array[Row]): Seq[String] =
    Columns.mkString("\t") +: rows.map(r => Columns.map(cell(r, _)).mkString("\t")).sorted.toSeq

  /** Two cells agree when both are NA, equal as text, or equal as numbers
    * to within one unit in the sixth significant digit. */
  def close(a: String, b: String, rel: Double = 2e-5): Boolean =
    a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= rel * math.max(math.abs(x), math.abs(y))
      case _                  => false
    })

  /** Line-by-line comparison; with `update` the file is rewritten instead. */
  def compare(path: String, lines: Seq[String], update: Boolean): Seq[String] = {
    val p = Paths.get(path)
    if (update) {
      Files.createDirectories(p.getParent)
      Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
      Nil
    } else if (!Files.exists(p)) Seq(s"missing expected file $path")
    else {
      val want = new String(Files.readAllBytes(p), UTF_8).linesIterator.toSeq
      if (want.size != lines.size) Seq(s"$path: ${lines.size} lines, expected ${want.size}")
      else want.zip(lines).collect {
        case (w, g) if w.split("\t").length != g.split("\t").length ||
          !w.split("\t").zip(g.split("\t")).forall { case (a, b) => close(a, b) } =>
          s"$path: got '$g', expected '$w'"
      }
    }
  }

  /** The same study through two execution paths must agree. */
  def parity(a: Array[Row], b: Array[Row]): Seq[String] = {
    val (ta, tb) = (table(a), table(b))
    if (ta.size != tb.size) Seq(s"path parity: ${ta.size} vs ${tb.size} rows")
    else ta.zip(tb).collect {
      case (x, y) if !x.split("\t").zip(y.split("\t")).forall { case (p, q) => close(p, q) } =>
        s"path parity: broadcast '$x' vs co-group '$y'"
    }
  }
}
