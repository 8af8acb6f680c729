package graft.transforms

import graft.functions.expr.CaseMap
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

/** Pure `Column => Column` text builders.
  *
  * Spark-first re-expression of the reference's string helpers
  * (`src/utils.py:444-576`, `src/core.py:1148-1156`): everything stays a
  * Catalyst expression (whole-stage-codegen'd), no UDFs.
  */
object Text {

  /** Trim + collapse whitespace runs + strip NUL control chars.
    * Reference: `src/utils.py:568-576` (whitespace runs to one space, strip
    * newlines/CRs), `src/core.py:1148-1156` (strip NUL bytes). */
  def handleText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "\\x00", ""), "\\s+", " "))

  /** Whitespace strip WITHOUT case folding — for case-sensitive codes
    * (the reference's bare `str.strip_chars()`, same whitespace class as
    * [[handleId]]). */
  def strip(c: Column): Column =
    regexp_replace(c, s"\\A$WsClass+|$WsClass+\\z", "")

  /** Unicode White_Space as an explicit class: 09-0D (`\t-\r`), NEL
    * U+0085, and the Z separator category (the ASCII space plus every
    * exotic blank — NBSP, U+2000-200A, U+2028/29, U+202F, U+205F,
    * U+3000). */
  private val WsClass = "[\\t-\\r\\u0085\\p{Z}]"

  /** Canonical id normalization: strip + lowercase.
    * Reference: `src/utils.py:444-465`. The strip must remove ALL edge
    * whitespace with Polars `strip_chars()` semantics — and Polars
    * delegates to Rust `char::is_whitespace`, the full Unicode
    * White_Space property, NOT just ASCII: a CLIENTID edged with NBSP
    * (U+00A0), U+2028, or an ideographic space (U+3000) must normalize
    * identically to the reference or it silently misses every join it
    * keys. [[WsClass]] IS White_Space written as an explicit class, in
    * syntax that compiles the same in Java regex (Spark side) and RE2
    * (DuckDB oracle side). Costs a regexp instead of a trim-charset
    * loop — still whole-stage codegen, and id normalization is never
    * the hot loop. */
  def handleId(c: Column): Column = lower(strip(c))

  /** Spark's `lower`/`upper` (ICU case mapping) for the migration's call
    * sites, minus Spark's ~1.5 s per-JVM title-case table: see
    * [[graft.functions.expr.CaseMap]]. The catalog queries keep Spark's
    * own functions. */
  def lower(c: Column): Column = GraftBridge.column(CaseMap(GraftBridge.expression(c), upper = false))
  def upper(c: Column): Column = GraftBridge.column(CaseMap(GraftBridge.expression(c), upper = true))

  /** Replace only the FIRST occurrence of a literal `target`.
    * Polars `str.replace` is first-occurrence (`src/core.py:189`) while
    * Spark's `regexp_replace` is replace-all, so this is built from
    * `instr`/`substring` to pin the reference semantics exactly. */
  def replaceFirst(c: Column, target: String, replacement: String): Column = {
    val pos = instr(c, target)
    // instr/substr count CODE POINTS while String.length counts UTF-16
    // units — a supplementary character (emoji) in the target would skip
    // the character after the match if we advanced by .length.
    val targetChars = target.codePointCount(0, target.length)
    when(pos > 0,
      concat(
        c.substr(lit(1), pos - 1),
        lit(replacement),
        c.substr(pos + lit(targetChars), length(c))))
      .otherwise(c)
  }

  /** Strip a literal suffix if present (`src/core.py:189` strips a trailing
    * "-"). Regex-escapes the suffix; anchored with `\z` (true end of input)
    * because Java's `$` also matches BEFORE a final line terminator —
    * "abc-\n" must keep its dash. */
  def stripSuffix(c: Column, suffix: String): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(suffix) + "\\z", "")

  /** Null-safe "not null and not empty" predicate (reference filter
    * `src/core.py:1397`). */
  def notNullNotEmpty(c: Column): Column = c.isNotNull && c =!= lit("")
}
