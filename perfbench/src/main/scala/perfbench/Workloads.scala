package perfbench

import graft.analyze.{AssociationStudy, Corrections}
import graft.describe.Describe
import graft.genomics.Genotypes
import graft.io.Load
import graft.model.{CladeFrame, VariableType}
import graft.modify.Modify
import graft.survey.SurveyDesignSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable

/** What one iteration produced: how many association tests it attempted,
  * how many gave a result, how long the stage that runs them took, and the
  * output to check. An iteration made of separately timed operations (the
  * board's queries) also gives the time of each one that succeeded, and the
  * ones that failed as (layer, problem) pairs; it then counts as that many
  * operations. */
final case class Outcome[O](tests: Int, testsOk: Int, stageNs: Long, out: O,
                            opNs: Seq[Long] = Nil, failures: Seq[(String, String)] = Nil)

/** A benchmark workload: seeded inputs, a closed-loop iteration through the
  * library's public API, and output checks that run outside the timing.
  * A check returns (layer, problem) pairs; none means the output is right. */
trait Workload {
  type Out
  def name: String
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Out]
  def check(out: Out): Seq[(String, String)]

  /** The loop runs for `--seconds` and at least this many iterations. */
  def minIters(trace: Boolean): Int = if (trace) 4 else 3

  /** Untimed work before the loop that counts as set-up: by default
    * `Main.WarmUps` iterations, whose failures are reported like any other.
    * A workload with a once-per-run check warms up with it instead. */
  def warmUp(spark: SparkSession, dir: String, tr: Tracer, expected: String, update: Boolean,
             problems: mutable.Buffer[(String, String)]): Unit =
    (1 to Main.WarmUps).foreach(i =>
      Harness.attempt(this, spark, dir, tr, run = -i, traced = false, problems))

}

object Workload {
  /** Sizes keep one iteration near 2-3 s on 4 cores, so a run holds
    * several iterations. The EWAS is wide rather than tall: an eighth of
    * the reference's 22,624-row NHANES working set but 96 variables with
    * its kind mix (62% continuous, 25% binary, 13% categorical), so the
    * per-variable work outweighs the per-iteration jobs. The GWAS is tall:
    * a tenth of the reference's 100k samples, so its scans are a visible share
    * of the work; each extra SNP costs far more than each extra sample. */
  val EwasShape = NhanesShape(rows = 2828, nCont = 60, nBin = 24, nCat = 12)
  val QcShape = NhanesShape(rows = 5656, nCont = 5, nBin = 2, nCat = 1, qcTraps = true)
  val GwasSamples = 10000
  val GwasSnps = 8

  /** `data` holds the committed tables the board reads and `expected` the
    * committed expectations. */
  def apply(name: String, data: String, expected: String): Workload = name match {
    case "ewas_survey" => new EwasSurvey(EwasShape)
    case "gwas_tall"   => new GwasTall(GwasSamples, GwasSnps)
    case "qc_nhanes"   => new QcNhanes(QcShape)
    case "board"       => new Board(s"$data/sf0.001", expected)
    case other         => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Caches and computes a frame, so the span that calls this owns the
    * work and later spans read the cached result. */
  def materialize(df: DataFrame): DataFrame = { df.cache(); df.count(); df }
}

/** Writes generated tables and knows the kinds the generator declared. */
object Tables {
  val Design = Seq("SDMVSTRA", "SDMVPSU", "WTMEC2YR")
  val Covariates = Seq("age", "sex", "race")

  def write(spark: SparkSession, d: NhanesData, path: String): Unit = {
    val cols: Seq[(String, DataType, Int => Any)] =
      Seq[(String, DataType, Int => Any)](("id", LongType, i => i.toLong),
        ("SDMVSTRA", IntegerType, d.strata(_)), ("SDMVPSU", IntegerType, d.psu(_)),
        ("WTMEC2YR", DoubleType, d.weight(_)), ("age", DoubleType, d.age(_)),
        ("sex", IntegerType, d.sex(_)), ("race", IntegerType, d.race(_)),
        ("outcome", DoubleType, d.outcome(_))) ++
        d.vars.map { v =>
          val get: Int => Any = i => {
            val x = v.values(i)
            if (x.isNaN) null else if (v.isInteger) x.toInt else x
          }
          (v.name, if (v.isInteger) IntegerType else DoubleType, get)
        }
    val schema = StructType(cols.map { case (n, t, _) => StructField(n, t, nullable = true) })
    val rows = java.util.Arrays.asList((0 until d.rows).map(i => Row.fromSeq(cols.map(_._3(i)))): _*)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
  }

  /** Kinds and levels as the generator declared them. */
  def declared(d: NhanesData): (Map[String, VariableType], Map[String, Seq[String]]) = {
    val kinds = Map("age" -> "continuous", "sex" -> "binary", "race" -> "categorical",
      "outcome" -> "continuous") ++ d.vars.map(v => v.name -> v.kind)
    val levels = Map("sex" -> Seq("1", "2"), "race" -> (1 to Gen.Races).map(_.toString)) ++
      d.vars.filter(_.isInteger).map(v =>
        v.name -> v.values.filterNot(_.isNaN).distinct.sorted.map(_.toInt.toString).toSeq)
    (kinds.map { case (k, v) => k -> VariableType.fromString(v) }, levels)
  }
}

/** The paper's headline analysis: a survey-weighted EWAS over an
  * NHANES-shaped table with kinds declared up front, one GLM per variable
  * on the broadcast path. */
final class EwasSurvey(shape: NhanesShape) extends Workload {
  type Out = Array[Row]
  val name = "ewas_survey"
  private var meta: NhanesData = _
  private def path(dir: String) = s"$dir/nhanes.parquet"

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    meta = Gen.nhanes(shape, seed)
    Tables.write(spark, meta, path(dir))
  }

  def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Array[Row]] =
    EwasSurvey.study(spark, path(dir), meta, tr, broadcast = true)

  def check(rows: Array[Row]): Seq[(String, String)] = {
    val rvs = meta.vars.map(_.name)
    val got = rows.map(_.getAs[String]("Variable"))
    val withP = rows.filterNot(r => r.isNullAt(r.fieldIndex("pvalue")))
    val top = withP.sortBy(_.getAs[Double]("pvalue")).take(meta.planted.size)
    Seq(
      (got.length != rvs.size || got.toSet != rvs.toSet) ->
        s"expected one result row per variable (${rvs.size}), got ${got.length}",
      (withP.length != got.length) -> s"${got.length - withP.length} variables without a p-value",
      (top.map(_.getAs[String]("Variable")).toSet != meta.planted) ->
        s"planted ${meta.planted.toSeq.sorted.mkString(",")} are not the top hits",
      top.exists(_.getAs[Double]("pvalue_bonferroni") >= 0.05) ->
        "a planted effect is not Bonferroni-significant"
    ).collect { case (true, msg) => "analyze" -> msg }
  }

  /** The warm-up is the once-per-run check: a fixed small input must
    * reproduce the committed expectation, and the broadcast path must agree
    * with the co-group path on it. It runs the iteration's code twice. */
  override def warmUp(spark: SparkSession, dir: String, tr: Tracer, expected: String,
                      update: Boolean, problems: mutable.Buffer[(String, String)]): Unit = {
    tr.run = 0
    val golden = Gen.nhanes(EwasSurvey.GoldenShape, EwasSurvey.GoldenSeed)
    val gPath = s"$dir/golden.parquet"
    Tables.write(spark, golden, gPath)
    val viaBroadcast = EwasSurvey.study(spark, gPath, golden, tr, broadcast = true).out
    val viaCogroup = EwasSurvey.study(spark, gPath, golden, tr, broadcast = false).out
    (Expected.compare(s"$expected/ewas_golden.tsv", Expected.table(viaBroadcast), update) ++
      Expected.parity(viaBroadcast, viaCogroup)).foreach(problems += "analyze" -> _)
  }
}

object EwasSurvey {
  val GoldenShape = NhanesShape(rows = 2000, nCont = 4, nBin = 2, nCat = 1)
  val GoldenSeed = 7L

  /** Load -> SurveyDesignSpec -> AssociationStudy.run -> corrected
    * p-values -> collect. */
  def study(spark: SparkSession, path: String, meta: NhanesData, tr: Tracer,
            broadcast: Boolean): Outcome[Array[Row]] =
    tr.span("bench", "iteration") {
      val (types, levels) = Tables.declared(meta)
      val loaded = tr.span("io", "Load.fromParquet") {
        Load.fromParquet(spark, path, Some("id")).withTypes(types).withLevels(levels)
      }
      val design = tr.span("survey", "SurveyDesignSpec") {
        new SurveyDesignSpec(loaded.df.select(("id" +: Tables.Design).map(col): _*),
          strata = Some("SDMVSTRA"), cluster = Some("SDMVPSU"), nest = true,
          singleWeight = Some("WTMEC2YR"))
      }
      val data = loaded.selectVariables(loaded.variables.filterNot(Tables.Design.contains))
      val rvs = meta.vars.map(_.name)
      val t0 = Clock.now()
      val results = tr.span("analyze", "AssociationStudy.run") {
        Workload.materialize(AssociationStudy.run(spark, data, Seq("outcome"), Tables.Covariates,
          rvs, surveyDesign = Some(design), broadcastBase = Some(broadcast)))
      }
      val stageNs = Clock.now() - t0
      val rows = try tr.span("corrections", "addCorrectedPvalues") {
        Corrections.addCorrectedPvalues(results).collect()
      } finally results.unpersist()
      Outcome(rvs.size, rows.count(r => !r.isNullAt(r.fieldIndex("pvalue"))), stageNs, rows)
    }
}

/** A tall case/control GWAS on the same analyze layer: binary outcome,
  * additive encoding, routed to the sufficient-statistics GLM path. */
final class GwasTall(samples: Int, snps: Int) extends Workload {
  type Out = (Array[Row], Array[Row], Array[Row])
  val name = "gwas_tall"
  private val planted = Map(0 -> 0.5, 1 -> 0.4)
  private var declared: CladeFrame = _
  private def path(dir: String) = s"$dir/genotypes.parquet"
  private def snpNames = (0 until snps).map(s => s"SNP$s")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    declared = Genotypes.simulateCaseControl(spark, samples, snps, maf = 0.3,
      effectSnps = planted, seed = seed)
    // one file, like a single genotype export
    declared.df.coalesce(1).write.mode("overwrite").parquet(path(dir))
  }

  def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[Out] =
    tr.span("bench", "iteration") {
      val cf = tr.span("io", "Load.fromParquet") {
        Load.fromParquet(spark, path(dir), Some("id"))
          .withTypes(declared.types).withLevels(declared.levels)
      }
      val maf = tr.span("genomics", "describeMaf") { Genotypes.describeMaf(cf).collect() }
      val hwe = tr.span("genomics", "hweTest") { Genotypes.hweTest(cf).collect() }
      val t0 = Clock.now()
      val results = tr.span("analyze", "AssociationStudy.run") {
        Workload.materialize(AssociationStudy.run(spark, cf, Seq("Outcome"), Nil, snpNames))
      }
      val stageNs = Clock.now() - t0
      val rows = try tr.span("corrections", "addCorrectedPvalues+manhattanPrep") {
        Corrections.manhattanPrep(Corrections.addCorrectedPvalues(results)).collect()
      } finally results.unpersist()
      val ok = rows.count(r => !r.isNullAt(r.fieldIndex("pvalue")))
      Outcome(snps, ok, stageNs, (maf, hwe, rows))
    }

  def check(out: Out): Seq[(String, String)] = {
    val (maf, hwe, rows) = out
    val byP = rows.filterNot(r => r.isNullAt(r.fieldIndex("pvalue"))).sortBy(_.getAs[Double]("pvalue"))
    val top = byP.take(planted.size)
    val nulls = byP.drop(planted.size)
    val nullHits = nulls.count(_.getAs[Double]("pvalue") < 0.05)
    val mafs = maf.map(_.getAs[Double]("maf"))
    Seq(
      ("genomics", mafs.length != snps || mafs.exists(m => math.abs(m - 0.3) > 0.05)) ->
        s"describeMaf: expected $snps SNPs with MAF near 0.3",
      ("genomics", hwe.length != snps) -> s"hweTest: expected $snps rows, got ${hwe.length}",
      ("analyze", rows.length != snps) -> s"expected $snps result rows, got ${rows.length}",
      ("analyze", top.map(_.getAs[String]("Variable")).toSet != planted.keySet.map(s => s"SNP$s")) ->
        "planted SNP0 and SNP1 are not the top hits",
      ("analyze", top.exists(_.getAs[Double]("pvalue_bonferroni") >= 0.05)) ->
        "a planted SNP is not Bonferroni-significant",
      ("analyze", Stats.binomialUpperTail(nulls.length, 0.05, nullHits) < 1e-4) ->
        s"$nullHits of ${nulls.length} null SNPs have p < 0.05"
    ).collect { case ((layer, true), msg) => layer -> msg }
  }
}

/** The QC prelude on the same generator, with three planted bad columns:
  * categorize, the column filters, the row filter and the describe
  * summaries. Narrower than the EWAS table because categorize grows
  * super-linearly with width. */
final class QcNhanes(shape: NhanesShape) extends Workload {
  import QcNhanes.QcOut
  type Out = QcOut
  val name = "qc_nhanes"
  private var meta: NhanesData = _
  private def path(dir: String) = s"$dir/qc.parquet"

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    meta = Gen.nhanes(shape, seed)
    Tables.write(spark, meta, path(dir))
  }

  def iterate(spark: SparkSession, dir: String, tr: Tracer): Outcome[QcOut] =
    tr.span("bench", "iteration") {
      val loaded = tr.span("io", "Load.fromParquet") { Load.fromParquet(spark, path(dir), Some("id")) }
      val raw = loaded.selectVariables(loaded.variables.filterNot(Tables.Design.contains))
      val report = tr.span("modify", "categorize") { Modify.categorize(raw) }
      val filtered = tr.span("modify", "colfilters") {
        Modify.colfilterPercentZero(Modify.colfilterMinCatN(Modify.colfilterMinN(report.frame)))
      }
      val complete = tr.span("modify", "rowfilterIncompleteObs") { Modify.rowfilterIncompleteObs(filtered) }
      val pna = tr.span("describe", "percentNa") { Describe.percentNa(spark, filtered).collect() }
      val summary = tr.span("describe", "summarize") { Describe.summarize(spark, complete).collect() }
      val out = QcOut(report.decisions.map(d => d._1 -> d._3).toMap, filtered.variables,
        pna.map(r => r.getString(0) -> r.getDouble(1)).toMap,
        summary.headOption.map(_.getAs[Long]("n_rows")).getOrElse(-1L))
      Outcome(0, 0, 0L, out)
    }

  def check(o: QcOut): Seq[(String, String)] = {
    val (types, _) = Tables.declared(meta)
    val wrong = types.collect { case (v, t) if !o.decisions.get(v).contains(t.name) => v }
    val kept = meta.vars.filterNot(v => meta.qcDrops.contains(v.name))
    val complete = (0 until meta.rows).count(i => kept.forall(v => !v.values(i).isNaN))
    val naWrong = kept.filter { v =>
      val expect = v.values.count(_.isNaN) * 100.0 / meta.rows
      o.percentNa.get(v.name).forall(p => math.abs(p - expect) > 1e-9)
    }
    Seq(
      ("modify", wrong.nonEmpty) ->
        s"categorize decisions differ from declared kinds: ${wrong.toSeq.sorted.mkString(",")}",
      ("modify", o.kept.toSet != types.keySet -- meta.qcDrops.keySet) ->
        s"filters kept ${o.kept.size} columns; expected all but ${meta.qcDrops.keys.toSeq.sorted.mkString(",")}",
      ("modify", o.completeRows != complete) -> s"complete rows ${o.completeRows}, expected $complete",
      ("describe", naWrong.nonEmpty) -> s"percentNa wrong for ${naWrong.map(_.name).mkString(",")}"
    ).collect { case ((layer, true), msg) => layer -> msg }
  }
}

object QcNhanes {
  final case class QcOut(decisions: Map[String, String], kept: Seq[String],
                         percentNa: Map[String, Double], completeRows: Long)
}
