package graft.functions.expr

import java.text.Normalizer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (UAX #15) as a native Catalyst expression —
  * the canonicalization step every hash-keyed text pipeline runs FIRST:
  * "é" spelled as one precomposed codepoint and as e+COMBINING ACUTE
  * are the same text but different bytes, so exact dedup, shingle
  * hashing, and URL keys all fracture without it. Spark ships no
  * normalizer function; this wraps the JDK's (ICU-conformant)
  * `java.text.Normalizer` in a narrow per-row map.
  *
  * All four published forms: NFC/NFD (canonical composition /
  * decomposition) and NFKC/NFKD (adding compatibility folding — ﬁ→fi,
  * ²→2; the form tokenizer vocabularies usually pin). The t69 gate
  * hash-compares NFC against DuckDB's independent utf8proc
  * implementation; NFKC's compatibility mappings are spec-pinned (no
  * DuckDB twin exists).
  *
  * Deterministic and total (UAX #15 normalization is a pure function;
  * already-normalized text — the overwhelming hot path — short-circuits
  * inside the JDK's quick-check). NULL-propagating; the form is a
  * LITERAL, so an invalid name fails at plan time, not per row.
  */
case class UnicodeNormalize(child: Expression, form: String)
  extends UnaryExpression with CodegenFallback {

  private val normForm: Normalizer.Form = form.toUpperCase match {
    case "NFC" => Normalizer.Form.NFC
    case "NFD" => Normalizer.Form.NFD
    case "NFKC" => Normalizer.Form.NFKC
    case "NFKD" => Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(
      s"unknown normalization form '$other' (expected NFC/NFD/NFKC/NFKD)")
  }

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"UnicodeNormalize needs a string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      Normalizer.normalize(v.asInstanceOf[UTF8String].toString, normForm))

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)

  override def prettyName: String = s"unicode_normalize_${form.toLowerCase}"
}

object UnicodeNormalize {
  def apply(c: Column, form: String): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(c), form))

  def nfc(c: Column): Column = apply(c, "NFC")
}
