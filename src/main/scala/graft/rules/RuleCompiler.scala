package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.FormatDouble15
import graft.model.TransformationRule

/** Compiles the reference's ordered TransformationRule list into native
  * Catalyst `Column` expressions folded over `withColumn` — NOT row-at-a-
  * time UDFs — so the whole rule pipeline stays inside whole-stage codegen
  * and Catalyst can prune/push as usual.
  *
  * Semantics replicated from the reference (src/data_transformer.cpp):
  *   - rules apply in insertion order; later rules see earlier outputs
  *     (`transformRecord`, :57-69);
  *   - a rule whose sourceField is absent from the schema is skipped (:61);
  *   - `uppercase`/`lowercase`: per-char case map (:122-129);
  *   - `trim`: strips ` \t\n\r` from both ends; all-whitespace → "" (:130-141)
  *     — Spark's `trim` only strips spaces, so this compiles to a regexp;
  *   - `multiply`/`add`: `std::stod` parses a numeric PREFIX ("19.9abc" →
  *     19.9); parse failure of value or parameter → original value
  *     unchanged; missing parameter → original value (:145-170);
  *     result rendered with ≤15 significant digits, no trailing zeros (:9-24);
  *   - unknown transformationType → identity (:113-115).
  */
object RuleCompiler {

  /** The whitespace set the reference trims (src/data_transformer.cpp:133). */
  private val TrimRe = "^[ \\t\\n\\r]+|[ \\t\\n\\r]+$"

  /** std::stod accepts leading C-locale whitespace then a decimal or hex
    * float prefix; we extract that prefix and cast. Empty prefix → null
    * (≈ std::invalid_argument → fallback). */
  private val StodPrefixRe =
    "^[ \\t\\n\\r\\f\\u000B]*([+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?)"

  /** Numeric-prefix parse with stod semantics: null when no prefix. */
  def stodPrefix(c: Column): Column =
    nullif(regexp_extract(c, StodPrefixRe, 1), lit("")).cast("double")

  private def stodConst(s: String): Option[Double] = {
    val m = StodPrefixRe.r.findFirstMatchIn(s)
    m.flatMap(g => Option(g.group(1))).filter(_.nonEmpty).map(_.toDouble)
  }

  /** Compile one rule to the Column that produces targetField. */
  def compileRule(rule: TransformationRule, source: Column): Column =
    rule.transformationType match {
      case "uppercase" => upper(source)
      case "lowercase" => lower(source)
      case "trim"      => regexp_replace(source, TrimRe, "")
      case "multiply"  => numeric(rule, source, "factor", (v, p) => v * p)
      case "add"       => numeric(rule, source, "addend", (v, p) => v + p)
      case _           => source // unknown type = identity passthrough
    }

  private def numeric(rule: TransformationRule, source: Column, key: String,
      op: (Column, Double) => Column): Column =
    rule.parameters.get(key).flatMap(stodConst) match {
      case None => source // missing/unparseable parameter → unchanged
      case Some(p) =>
        val v = stodPrefix(source)
        // parse failure → original value unchanged (reference :165-170)
        when(v.isNull, source).otherwise(FormatDouble15.of(op(v, p)))
    }

  /** Apply the ordered rule list to a wide string-typed DataFrame
    * (one column per DataRecord field). */
  def apply(df: DataFrame, rules: Seq[TransformationRule]): DataFrame =
    rules.foldLeft(df) { (acc, rule) =>
      if (!acc.columns.contains(rule.sourceField)) acc // source absent → skip
      else acc.withColumn(rule.targetField, compileRule(rule, col(rule.sourceField)))
    }

  /** Required-field validation errors per row
    * (reference: src/data_transformer.cpp:81-98): for every rule with
    * parameters["required"]=="true", the sourceField must be present and
    * non-empty. Returns an array-of-error-strings column. */
  def validationErrors(df: DataFrame, rules: Seq[TransformationRule]): Column = {
    val errs = rules.filter(_.parameters.get("required").contains("true")).map { r =>
      val msg = s"Required field '${r.sourceField}' is missing or empty"
      if (!df.columns.contains(r.sourceField)) lit(msg)
      else when(col(r.sourceField).isNull || col(r.sourceField) === "", lit(msg))
    }
    if (errs.isEmpty) array() else filter(array(errs: _*), e => e.isNotNull)
  }

  /** Good/bad split: rows failing required-validation go to the bad side
    * with their error list, mirroring the reference's validate-then-
    * transform flow. One scan feeds both outputs lazily. */
  def transformWithValidation(df: DataFrame, rules: Seq[TransformationRule])
      : (DataFrame, DataFrame) = {
    val withErrs = df.withColumn("_validation_errors", validationErrors(df, rules))
    val good = apply(withErrs.filter(size(col("_validation_errors")) === 0)
      .drop("_validation_errors"), rules)
    val bad = withErrs.filter(size(col("_validation_errors")) > 0)
    (good, bad)
  }
}
