package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's string-utils surface as Column functions
  * (reference: include/string_utils.hpp — trim/compare/split/convert/
  * case/replace/URL groups; src/string_utils.cpp). Everything is a
  * composition of codegen'd built-ins; the only non-built-in semantics
  * (first/last-occurrence replace) compile to locate+substring arithmetic
  * rather than UDFs.
  */
object StringFns {

  /** Case-insensitive equality (reference: string_utils.hpp:52 iequals). */
  def iequals(a: Column, b: Column): Column = lower(a) === lower(b)

  def startsWithCI(s: Column, prefix: Column): Column =
    lower(s).startsWith(lower(prefix))

  def endsWithCI(s: Column, suffix: Column): Column =
    lower(s).endsWith(lower(suffix))

  /** Replace only the FIRST occurrence (reference: string_utils.hpp:392).
    * Built from locate+substring so it stays in codegen. */
  def replaceFirst(s: Column, find: Column, repl: Column): Column = {
    val pos = locate_(find, s)
    when(pos === 0 || length(find) === 0, s).otherwise(concat(
      s.substr(lit(1), pos - 1),
      repl,
      s.substr(pos + length(find), length(s))))
  }

  /** Replace only the LAST occurrence (reference: string_utils.hpp:395):
    * locate the reversed needle in the reversed haystack. */
  def replaceLast(s: Column, find: Column, repl: Column): Column = {
    val rpos = locate_(reverse(find), reverse(s))
    val pos = length(s) - rpos - length(find) + 2
    when(rpos === 0 || length(find) === 0, s).otherwise(concat(
      s.substr(lit(1), pos - 1),
      repl,
      s.substr(pos + length(find), length(s))))
  }

  /** Column-argument locate (the Scala `locate` helper takes a literal
    * substring; the SQL function accepts expressions). */
  private def locate_(substr: Column, str: Column): Column =
    call_function("locate", substr, str)

  /** to_title_case (reference: string_utils.hpp:376) — Spark initcap. */
  def toTitleCase(s: Column): Column = initcap(s)

  // Convert/validate group (reference: string_utils.hpp:302-361).
  def isNumeric(s: Column): Column = s.rlike("^[0-9]+$")
  def isFloat(s: Column): Column =
    s.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
  def isAlphanumeric(s: Column): Column = s.rlike("^[A-Za-z0-9]+$")
  def isWhitespace(s: Column): Column = s.rlike("^[ \\t\\n\\r]*$")

  // URL group (reference: string_utils.hpp:407-415). Spark 3.4+ builtins.
  def urlEncode(s: Column): Column = call_function("url_encode", s)
  def urlDecode(s: Column): Column = call_function("url_decode", s)

  /** normalize_path: collapse duplicate separators, drop trailing slash
    * (except root). */
  def normalizePath(s: Column): Column = {
    val collapsed = regexp_replace(s, "/{2,}", "/")
    when(collapsed === "/", collapsed)
      .otherwise(regexp_replace(collapsed, "/$", ""))
  }

  def joinPaths(a: Column, b: Column): Column =
    normalizePath(concat(regexp_replace(a, "/$", ""), lit("/"),
      regexp_replace(b, "^/", "")))

  /** JSON group (reference: job_monitoring_models.hpp:247-288,
    * input_validator.cpp:538-552). Real JSON parsing, stricter than the
    * reference's naive bracket matcher — documented divergence. */
  def extractJsonField(json: Column, field: String): Column =
    get_json_object(json, s"$$.$field")

  def isValidJsonObject(json: Column): Column =
    from_json(json, org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.StringType)).isNotNull
}
