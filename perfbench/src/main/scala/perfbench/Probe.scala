package perfbench

import breeze.linalg.DenseVector
import graft.stats.{DesignMatrix, Glm}
import graft.survey.SurveyKernel

/** Times the per-variable kernels directly, on designs built the way the
  * survey-weighted EWAS builds them: intercept, age, sex, race and one
  * continuous variable, complete cases, normalized weights, nested PSUs. */
object Probe {
  final case class Result(glmFitMs: Double, vcovMs: Double)

  val Variables = 16
  val Passes = 4

  def run(seed: Long): Result = {
    val d = Gen.nhanes(Workload.EwasShape.copy(nCont = Variables, nBin = 0, nCat = 0), seed)
    val meanW = d.weight.sum / d.rows
    val strat = d.strata.map(_.toString)
    val clust = Array.tabulate(d.rows)(i => s"${d.strata(i)}-${d.psu(i)}")
    val stratForClust = clust.zip(strat).toMap
    val clustPerStrat = stratForClust.groupBy(_._2).map { case (s, cs) => s -> cs.size }
    val cases = d.vars.map { v =>
      val idx = v.values.indices.filterNot(i => v.values(i).isNaN).toArray
      val (_, x) = DesignMatrix.build(idx.length, Seq(
        DesignMatrix.ContinuousTerm("age", idx.map(d.age)),
        DesignMatrix.CategoricalTerm("sex", idx.map(i => d.sex(i).toString)),
        DesignMatrix.CategoricalTerm("race", idx.map(i => d.race(i).toString)),
        DesignMatrix.ContinuousTerm(v.name, idx.map(v.values))))
      val w = idx.map(d.weight(_) / meanW)
      val design = SurveyKernel.AlignedDesign(strat = idx.map(strat), clust = idx.map(clust),
        weights = w, fpcPerClust = Map.empty, clustPerStratFull = clustPerStrat,
        stratForClustFull = stratForClust, hasStrata = true, hasCluster = true,
        hasWeights = true, singleCluster = "fail")
      (x, DenseVector(idx.map(d.outcome)), DenseVector(w), design)
    }
    // the first pass warms the JIT and is not counted
    val fits = Array.newBuilder[Long]
    val vcovs = Array.newBuilder[Long]
    (0 until Passes).foreach { pass =>
      cases.foreach { case (x, y, w, design) =>
        val t0 = System.nanoTime()
        val fit = Glm.fit(x, y, Glm.Gaussian, Some(w))
        val t1 = System.nanoTime()
        SurveyKernel.stataLinearizationVcov(x, y, fit, Glm.Gaussian, design)
        val t2 = System.nanoTime()
        if (pass > 0) { fits += t1 - t0; vcovs += t2 - t1 }
      }
    }
    val (f, v) = (fits.result(), vcovs.result())
    Result(Stats.median(f.toSeq.map(_ / 1e6)), Stats.median(v.toSeq.map(_ / 1e6)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The `q` quantile of `xs`, interpolating linearly between order
    * statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val h = q * (s.size - 1)
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  /** P(X >= k) for X ~ Binomial(n, p). */
  def binomialUpperTail(n: Int, p: Double, k: Int): Double =
    (k to n).map { i =>
      math.exp(logChoose(n, i) + i * math.log(p) + (n - i) * math.log1p(-p))
    }.sum

  private def logChoose(n: Int, k: Int): Double =
    (1 to k).map(i => math.log((n - k + i).toDouble / i)).sum
}
