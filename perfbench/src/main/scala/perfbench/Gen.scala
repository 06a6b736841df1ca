package perfbench

import java.util.SplittableRandom

/** A generated regression variable. Values are doubles with NaN for
  * missing; binary variables hold 0/1 and categorical ones integer level
  * codes 1..k, the way NHANES ships them. */
final case class GenVar(name: String, kind: String, values: Array[Double]) {
  def isInteger: Boolean = kind != "continuous"
}

/** Shape of a generated NHANES-like table. `qcTraps` adds three planted
  * columns that a QC chain must drop. */
final case class NhanesShape(rows: Int, nCont: Int, nBin: Int, nCat: Int,
                             qcTraps: Boolean = false)

/** A generated table: design columns, covariates, the outcome, the
  * regression variables and which of them carry a planted effect. */
final case class NhanesData(
    shape: NhanesShape,
    strata: Array[Int], psu: Array[Int], weight: Array[Double],
    age: Array[Double], sex: Array[Int], race: Array[Int], outcome: Array[Double],
    vars: IndexedSeq[GenVar], planted: Set[String],
    qcDrops: Map[String, String]) { // trap column -> the filter that drops it
  def rows: Int = shape.rows
}

object Gen {
  val Races = 5
  val Strata = 30
  val PsuPerStratum = 2
  val Missing = 0.05

  /** The seeded NHANES-shaped table: `Strata` x `PsuPerStratum` nested PSUs
    * with lognormal weights; covariates age (continuous), sex (binary) and
    * race (5-level categorical); a continuous outcome that depends on the
    * covariates, on a PSU random effect and on the planted variables; MCAR
    * missingness at `Missing` in every regression variable. The same seed
    * gives the same table. */
  def nhanes(shape: NhanesShape, seed: Long): NhanesData = {
    val n = shape.rows
    val rnd = new SplittableRandom(seed)
    val nPsu = Strata * PsuPerStratum
    val psuEffect = Array.fill(nPsu)(rnd.nextGaussian() * 0.8)
    val strata = Array.fill(n)(0)
    val psu = Array.fill(n)(0)
    val weight = new Array[Double](n)
    val age = new Array[Double](n)
    val sex = new Array[Int](n)
    val race = new Array[Int](n)
    var i = 0
    while (i < n) {
      val cell = rnd.nextInt(nPsu)
      strata(i) = cell / PsuPerStratum + 1
      psu(i) = cell % PsuPerStratum + 1
      weight(i) = math.round(math.exp(9.5 + 0.7 * rnd.nextGaussian())).toDouble
      age(i) = 18 + rnd.nextInt(63)
      sex(i) = 1 + rnd.nextInt(2)
      race(i) = 1 + rnd.nextInt(Races)
      i += 1
    }
    val raceEffect = Array(0.0, 0.0, 1.2, -0.8, 0.5, -0.3)
    val y = Array.tabulate(n) { i =>
      20 + 0.08 * age(i) + 1.5 * (sex(i) - 1) + raceEffect(race(i)) +
        psuEffect((strata(i) - 1) * PsuPerStratum + psu(i) - 1) + 3.0 * rnd.nextGaussian()
    }

    // variable kinds in a fixed interleaving; the planted ones are drawn
    // from the seed so no name marks them
    val kinds = Seq.fill(shape.nCont)("continuous") ++ Seq.fill(shape.nBin)("binary") ++
      Seq.fill(shape.nCat)("categorical")
    val names = kinds.zipWithIndex.map { case (k, j) => f"${k.take(3)}$j%04d" }
    def pick(kind: String, count: Int): Seq[String] = {
      val pool = names.zip(kinds).filter(_._2 == kind).map(_._1).toArray
      shuffle(pool, rnd).take(count).toSeq
    }
    val planted = (pick("continuous", 3) ++ pick("binary", 1) ++ pick("categorical", 1)).toSet

    val vars = names.zip(kinds).zipWithIndex.map { case ((name, kind), j) =>
      val r = new SplittableRandom(seed * 1000003L + j)
      val latent = kind match {
        case "continuous" =>
          // lab-value-like: half normal, half right-skewed
          val (mu, sd, skew) = (r.nextDouble(1, 100), r.nextDouble(0.5, 20), r.nextBoolean())
          Array.fill(n) {
            val z = r.nextGaussian()
            val v = if (skew) mu * math.exp(0.4 * z) else mu + sd * z
            math.round(v * 100) / 100.0
          }
        case "binary" =>
          val p = r.nextDouble(0.1, 0.5)
          Array.fill(n)(if (r.nextDouble() < p) 1.0 else 0.0)
        case _ =>
          // the level count follows the column, not the seed, so every
          // seed asks for the same amount of work
          val k = 3 + j % 4
          val cum = cumulative(Array.fill(k)(r.nextDouble(0.5, 1.5)))
          Array.fill(n)(level(cum, r.nextDouble()).toDouble)
      }
      if (planted(name)) addEffect(y, kind, latent)
      val values = latent.map(v => if (r.nextDouble() < Missing) Double.NaN else v)
      GenVar(name, kind, values)
    }.toIndexedSeq

    val (traps, drops) = if (shape.qcTraps) qcTraps(n, seed) else (IndexedSeq.empty, Map.empty[String, String])
    NhanesData(shape, strata, psu, weight, age, sex, race, y, vars ++ traps, planted, drops)
  }

  /** y += effect of a planted variable: 0.8 outcome units per SD for a
    * continuous one, 1.8 for a binary one, level shifts for a categorical. */
  private def addEffect(y: Array[Double], kind: String, x: Array[Double]): Unit = kind match {
    case "continuous" =>
      val mean = x.sum / x.length
      val sd = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / x.length)
      var i = 0
      while (i < y.length) { y(i) += 0.8 * (x(i) - mean) / sd; i += 1 }
    case "binary" =>
      var i = 0
      while (i < y.length) { y(i) += 1.8 * x(i); i += 1 }
    case _ =>
      val shift = Array(0.0, 0.0, 1.5, -1.4, 0.9, -0.6, 1.2)
      var i = 0
      while (i < y.length) { y(i) += shift(x(i).toInt); i += 1 }
  }

  /** Three columns a QC chain must drop: mostly zeros (colfilterPercentZero),
    * mostly missing (colfilterMinN) and a categorical with a rare level
    * (colfilterMinCatN). Their kinds stay unambiguous for categorize. */
  private def qcTraps(n: Int, seed: Long): (IndexedSeq[GenVar], Map[String, String]) = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val zeros = Array.fill(n)(if (r.nextDouble() < 0.95) 0.0 else 1 + r.nextInt(500) / 10.0)
    val sparse = Array.fill(n)(if (r.nextDouble() < 0.99) Double.NaN else r.nextInt(10000) / 7.0)
    val rare = Array.fill(n)(if (r.nextDouble() < 0.002) 4.0 else (1 + r.nextInt(3)).toDouble)
    (IndexedSeq(GenVar("qc_zero", "continuous", zeros), GenVar("qc_sparse", "continuous", sparse),
      GenVar("qc_rare", "categorical", rare)),
      Map("qc_zero" -> "colfilterPercentZero", "qc_sparse" -> "colfilterMinN",
        "qc_rare" -> "colfilterMinCatN"))
  }

  private def cumulative(w: Array[Double]): Array[Double] = {
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def level(cum: Array[Double], u: Double): Int = {
    var k = 0
    while (k < cum.length - 1 && u >= cum(k)) k += 1
    k + 1
  }

  private def shuffle[T](a: Array[T], rnd: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Order-sensitive digest of a generated table, for determinism checks. */
  def digest(d: NhanesData): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Double): Unit = { buf.clear(); buf.putDouble(x); md.update(buf.array()) }
    Seq(d.weight, d.age, d.outcome).foreach(_.foreach(put))
    Seq(d.strata, d.psu, d.sex, d.race).foreach(_.foreach(v => put(v.toDouble)))
    d.vars.foreach { v => md.update(v.name.getBytes("UTF-8")); v.values.foreach(put) }
    d.planted.toSeq.sorted.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
