package graft.functions.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Z-order (Morton) interleave of two 32-bit keys — the multi-dimensional
  * clustering primitive behind data-skipping layouts.
  *
  * `sortWithinPartitions(zValue(a, b))` before a columnar write gives every
  * file/row-group a NARROW min-max envelope on BOTH `a` and `b`
  * simultaneously, so later point/range predicates on either column prune
  * files at planning time — single-column sort-order only ever serves one
  * predicate column. This is pure per-row bit arithmetic (no shuffle beyond
  * the write's own ordering), stays inside whole-stage codegen, and its
  * spread chain is plain integer math — the DuckDB oracle replays it
  * bit for bit.
  *
  * Inputs are masked to their low 31 bits (callers bucket/offset wider
  * domains first; layout keys are coarse by design), so the interleaved
  * key tops out at 62 bits — always non-negative, and a plain signed sort
  * IS the Z-curve order. a's bits land at even positions, b's at odd.
  */
case class ZValue(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zValue needs two BIGINT keys, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ZValue.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $cls.interleave($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)
}

object ZValue {

  /** Spread the low 31 bits of `v` to the even bit positions of a long —
    * the standard magic-mask doubling chain. */
  def spread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** Inverse of [[spread]]: collect the even bits back into the low 31. */
  def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >> 16)) & 0x000000007FFFFFFFL
    x
  }

  /** Morton key over two integral columns (each masked to 31 bits). */
  def zValue(a: Column, b: Column): Column =
    GraftBridge.column(ZValue(
      GraftBridge.expression(a.cast("long")),
      GraftBridge.expression(b.cast("long"))))

  /** k-column generalization of [[zValue]] as composed bit arithmetic
    * (`shiftright`/`&`/`shiftleft`/`|` — plain codegen'd functions, no
    * custom expression needed): column i's bit b lands at output position
    * `b * k + i`, keeping bit significance balanced across dimensions.
    * The 2-column magic-mask fast path above stays the hot-path choice;
    * this form exists for 3+ dimensions (2 × 31 or 3 × 20 bits fit a
    * signed long) and is hash-gated against explicit DuckDB bit
    * arithmetic by `s12_zorder_interleave`. Values ≥ 2^bits are masked. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val k = cols.size
    require(k >= 2, "z-ordering one column is just sorting it")
    require(bits >= 1 && bits * k <= 62, s"bits=$bits × $k columns overflows a long")
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * k + i)
    terms.reduce(_ bitwiseOR _)
  }
}
