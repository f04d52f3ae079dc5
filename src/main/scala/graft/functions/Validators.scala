package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Validation + security predicates as pure Column expressions
  * (reference: src/input_validator.cpp). All are codegen-friendly
  * compositions of built-ins — no UDFs.
  */
object Validators {

  /** Control-char check: no NUL, no control chars except \t\n\r, and
    * length within [min,max] (reference: src/input_validator.cpp:136-150). */
  def isValidString(c: Column, minLen: Int, maxLen: Int): Column =
    length(c).between(minLen, maxLen) &&
      !c.rlike("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")

  /** RFC-ish email check (reference: src/input_validator.cpp:13-14, 152-158).
    * The reference uses regex_match with an unanchored pattern — regex_match
    * implies full-string anchoring, replicated here with ^$. */
  def isValidEmail(c: Column): Column =
    isValidString(c, 5, 254) &&
      c.rlike("^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$")

  /** ≥1 upper, ≥1 lower, ≥1 digit, length 8..128
    * (reference: src/input_validator.cpp:160-177). */
  def isValidPassword(c: Column): Column =
    isValidString(c, 8, 128) &&
      c.rlike("[A-Z]") && c.rlike("[a-z]") && c.rlike("[0-9]")

  def isValidJobId(c: Column): Column = c.rlike("^[a-zA-Z0-9_-]{1,64}$")

  /** ISO-8601 with optional millis and Z
    * (reference: src/input_validator.cpp:31). */
  def isValidIso8601(c: Column): Column =
    c.rlike("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d{3})?Z?$")

  /** Substring blocklists, case-insensitive
    * (reference: src/input_validator.cpp:682-706, 708-756). */
  private val SqlPatterns = Seq("' or '1'='1", "' or 1=1", "'; drop table",
    "'; delete from", "union select", "' union select", "/*", "*/", "xp_", "sp_")

  private val XssPatterns = Seq("<script", "</script>", "javascript:",
    "onload=", "onerror=", "onclick=", "onmouseover=", "<iframe", "eval(",
    "alert(", "vbscript:", "data:text/html", "data:text/javascript",
    "%3cscript", "%3c/script%3e", "&#x3c;script", "&#60;script", "onfocus=",
    "onblur=", "onchange=", "onsubmit=", "onreset=", "onselect=",
    "onkeydown=", "onkeypress=", "onkeyup=", "ondblclick=", "onmousedown=",
    "onmouseup=", "onmousemove=", "onmouseout=", "onmouseenter=",
    "onmouseleave=")

  private def containsAny(c: Column, patterns: Seq[String]): Column = {
    val lowered = lower(c)
    // exists over a literal array keeps this a single codegen'd expression
    exists(array(patterns.map(lit): _*), p => contains(lowered, p))
  }

  def containsSqlInjection(c: Column): Column = containsAny(c, SqlPatterns)
  def containsXss(c: Column): Column = containsAny(c, XssPatterns)

  /** `"`→`'`, `\n\r\t`→space (reference: src/input_validator.cpp:577-587). */
  def sanitizeString(c: Column): Column = translate(c, "\"\n\r\t", "'   ")

  /** Log level → severity ordinal DEBUG<INFO<WARN<ERROR<FATAL; unknown → -1
    * (reference: include/log_aggregator.hpp:124-139). */
  def levelOrdinal(c: Column): Column = {
    graft.model.LogLevel.Ordered.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (name, i)) => when(c === name, lit(i)).otherwise(acc)
    }
  }
}
