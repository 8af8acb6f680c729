package graft.functions.expr

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `lower`/`upper` on a UTF8_BINARY string with ICU case mapping
  * (`spark.sql.icu.caseMappings.enabled`, on by default), without the
  * class Spark runs them through. Spark's `Lower`/`Upper` call
  * `CollationAwareUTF8String.toLowerCase/toUpperCase`, whose static
  * initialiser first builds a title-case table by calling ICU's
  * `UCharacter.toTitleCase` for each of the 1,114,112 code points: about
  * 1.5 s per JVM (JDK 17, 4 cores), paid inside the first task that
  * lowercases. Lower- and uppercasing never read that table.
  *
  * [[nullSafeEval]] is that class's body for these two calls, verbatim:
  * an all-ASCII string maps byte by byte, anything else goes through the
  * ICU full-string mapping of the JVM's default locale (`İ` → `i̇`,
  * `ß` → `SS`, final sigma in context). Invalid UTF-8 is decoded with
  * replacement characters first (`toValidString`), as Spark does. The
  * pretty name is Spark's, so an unaliased column keeps the name Spark
  * would give it.
  *
  * UTF8_BINARY only: a string of another collation fails at plan time.
  * Spark's non-ICU path (`String.toLowerCase` in the default locale) is
  * a different function; this expression does not follow that flag.
  */
case class CaseMap(child: Expression, upper: Boolean)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType if st.collationId == StringType.collationId =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a UTF8_BINARY string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    if (upper) {
      if (s.isFullAscii) s.toUpperCaseAscii
      else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
    } else {
      if (s.isFullAscii) s.toLowerCaseAscii
      else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CaseMap =
    copy(child = newChild)

  override def prettyName: String = if (upper) "upper" else "lower"
}
