package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's core abstraction: a Spark DataFrame of observations ×
  * variables plus per-variable type metadata.
  *
  * The reference keeps this state implicitly in pandas dtypes (category
  * levels, numeric dtypes — reference: clarite/internal/utilities.py:93-160).
  * Spark schemas can carry metadata, but many relational transforms rebuild
  * schemas and silently drop it, so we carry types in a thin immutable
  * wrapper instead (SURVEY.md §1.3). The `id` column is the observation key
  * (the reference's mandatory "ID" index, clarite/modules/load.py:49).
  *
  * Categorical *levels* (sorted) are part of the type state because they
  * determine design-matrix reference levels and binary 0/1 encodings
  * (reference: glm_regression.py:128-156).
  *
  * All operators are CladeFrame => CladeFrame and lazy: no Spark action is
  * triggered unless an operator semantically requires data-dependent driver
  * decisions (e.g. colfilterMinN must count). This keeps QC chains a single
  * Catalyst plan wherever possible.
  */
final case class CladeFrame(
    df: DataFrame,
    types: Map[String, VariableType],
    levels: Map[String, Seq[String]] = Map.empty,
    idCol: String = CladeFrame.DefaultId,
    ordered: Set[String] = Set.empty) { // variables with ORDERED categories
                                        // (round-tripped via the .dtypes
                                        // sidecar, custom_types.py:66-114)

  /** All variable columns (everything except the id). */
  def variables: Seq[String] = df.columns.filterNot(_ == idCol).toSeq

  def typeOf(c: String): VariableType = types.getOrElse(c, VariableType.Unknown)

  def variablesOfType(t: VariableType): Seq[String] =
    variables.filter(typeOf(_) == t)

  def continuousVars: Seq[String]  = variablesOfType(VariableType.Continuous)
  def binaryVars: Seq[String]      = variablesOfType(VariableType.Binary)
  def categoricalVars: Seq[String] = variablesOfType(VariableType.Categorical)

  /** Keep only the listed variable columns (id always kept). */
  def selectVariables(cols: Seq[String]): CladeFrame = {
    val keep = cols.toSet
    CladeFrame(
      df.select((idCol +: variables.filter(keep)).map(c => col("`" + c.replace("`", "``") + "`")): _*),
      types.view.filterKeys(keep).toMap,
      levels.view.filterKeys(keep).toMap,
      idCol,
      ordered intersect keep)
  }

  def withTypes(t: Map[String, VariableType]): CladeFrame = copy(types = types ++ t)

  def withLevels(l: Map[String, Seq[String]]): CladeFrame = copy(levels = levels ++ l)

  def withOrdered(cols: Set[String]): CladeFrame = copy(ordered = ordered ++ cols)

  /** Resolve a skip/only selection against current variables — the shared
    * column-selection predicate of every modify operator
    * (reference: clarite/internal/utilities.py:50-90). skip XOR only;
    * unknown names error. */
  def resolveSkipOnly(skip: Option[Seq[String]], only: Option[Seq[String]]): Seq[String] = {
    require(skip.isEmpty || only.isEmpty, "cannot specify both skip and only")
    val vars = variables
    val varSet = vars.toSet
    def check(names: Seq[String]): Unit = {
      val missing = names.filterNot(varSet)
      require(missing.isEmpty, s"columns not found in data: ${missing.mkString(", ")}")
    }
    (skip, only) match {
      case (Some(s), _) => check(s); val drop = s.toSet; vars.filterNot(drop)
      case (_, Some(o)) => check(o); val keep = o.toSet; vars.filter(keep)
      case _            => vars
    }
  }
}

object CladeFrame {
  val DefaultId = "id"

  /** Wrap a raw DataFrame, inferring physical-type-driven kinds:
    * numeric => continuous, everything else => unknown (semantic
    * categorization is an explicit step, as in the reference). */
  def apply(df: DataFrame): CladeFrame = apply(df, DefaultId)

  def apply(df: DataFrame, idCol: String): CladeFrame = {
    import org.apache.spark.sql.types._
    val t = df.schema.fields.collect {
      case f if f.name != idCol =>
        f.dataType match {
          case _: NumericType => f.name -> (VariableType.Continuous: VariableType)
          case _              => f.name -> (VariableType.Unknown: VariableType)
        }
    }.toMap
    new CladeFrame(df, t, Map.empty, idCol)
  }
}
