package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Static arithmetic of [[ExactSum]], shared by its interpreted and
  * generated code.
  *
  * Fast window: for a DOUBLE x with r = x·10⁶ (one IEEE multiply), when
  * |r| < 2⁴⁰ and |frac(r) − ½| > 10⁻³, the DECIMAL(38,6) value Spark's
  * cast produces is exactly u·10⁻⁶ with u = floor(r + ½). Margin
  * argument: the cast parses `Double.toString(x)`, a decimal within one
  * half-ulp of x, and rounds it HALF_UP to 6 places. Below 2⁴⁰ the
  * multiply errs by at most half an ulp of r (2⁻¹⁴) and the decimal's
  * gap to x, scaled by 10⁶, by at most 2⁻¹³; both together stay under
  * 4·10⁻⁴, so the exact decimal·10⁶ and r sit on the same side of the
  * nearest half-integer and round to the same u.
  */
object ExactSumKernel {
  /** |x·10⁶| bound of the fast window: 2⁴⁰. */
  final val Window = 1099511627776.0
  /** Minimum distance of frac(x·10⁶) from ½ on the fast window. */
  final val Margin = 1e-3
  /** u is kept as hi = u >> 20 and lo = u & (2²⁰ − 1): per row both
    * move by less than 2²⁰, so neither overflows before 2⁴³ rows. */
  final val LoBits = 20
  final val LoMask: Long = (1L << LoBits) - 1
  /** Lane value for a row outside the fast window. */
  final val NotFast: Long = Long.MinValue

  /** u = round(x·10⁶) when x lies in the fast window, else [[NotFast]]
    * (NaN and ±Inf fail the window test). */
  def lane(x: Double): Long = {
    val r = x * 1e6
    if (!(math.abs(r) < Window)) NotFast
    else if (math.abs(r - math.floor(r) - 0.5) > Margin)
      math.floor(r + 0.5).toLong
    else NotFast
  }

  /** (hi·2²⁰ + lo)·10⁻⁶ as a DECIMAL(38,6) value; long arithmetic
    * while it fits, BigInteger past 2⁶³. */
  def fast(hi: Long, lo: Long): Decimal = {
    val shifted = hi << LoBits
    val u = shifted + lo
    val fits = (shifted >> LoBits) == hi && ((shifted ^ u) & (lo ^ u)) >= 0
    if (fits) Decimal(u, 38, 6)
    else Decimal(new java.math.BigDecimal(java.math.BigInteger.valueOf(hi)
      .shiftLeft(LoBits).add(java.math.BigInteger.valueOf(lo)), 6))
  }
}

/** The fast lane of a row: u = round(x·10⁶) as a LONG, NULL when x is
  * NULL or outside the fast window. */
case class ExactSumLane(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum_lane"

  override def nullSafeEval(x: Any): Any = {
    val u = ExactSumKernel.lane(x.asInstanceOf[Double])
    if (u == ExactSumKernel.NotFast) null else u
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.ExactSumKernel.lane($x);
         |${ev.isNull} = ${ev.value} == ${Long.MinValue}L;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The fast part of the sum, (hi·2²⁰ + lo)·10⁻⁶, as DECIMAL(38,6). */
case class ExactSumFast(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ExactSum.Dec
  override def prettyName: String = "exact_sum_fast"

  override def nullSafeEval(hi: Any, lo: Any): Any =
    ExactSumKernel.fast(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo) =>
      s"graft.functions.ExactSumKernel.fast($hi, $lo)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `sum(CAST(child AS DECIMAL(38,6)))` with the same result, NULLs,
  * overflow behaviour and errors, without a BigDecimal per row.
  *
  * Buffer: DOUBLE rows inside the fast window ([[ExactSumKernel]]) add
  * u = round(x·10⁶) into two LONG slots (`hi`, which stays NULL until
  * the first fast row, and `lo`). Every other row — NaN/±Inf, values
  * past the window or near a half-unit, and every non-DOUBLE input — is
  * delegated: it goes through the cast into a DECIMAL slot that starts
  * NULL, so in-range rows never read or write a 38-digit value (Spark's
  * `Sum` starts its decimal slot at 0 and round-trips it through a
  * BigInteger on every row). `decSeen` records a delegated non-NULL
  * value; `dec` NULL after that means the decimal part overflowed, as
  * in `Sum`. The result is the fast part plus the delegated part under
  * `Sum`'s final overflow check.
  */
case class ExactSum(child: Expression,
                    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] {
  import ExactSum.Dec

  override def dataType: DataType = Dec
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"
  override def flatArguments: Iterator[Any] = Iterator(child)

  private def cast: Expression = Cast(child, Dec, None, evalMode)

  override def checkInputDataTypes(): TypeCheckResult =
    cast.checkInputDataTypes()

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val dec = AttributeReference("dec", Dec)()
  private lazy val decSeen =
    AttributeReference("decSeen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, dec, decSeen)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(null, LongType), Literal(0L), Literal(null, Dec),
    Literal(false))

  private def add(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)
  private def addDec(a: Expression, b: Expression): Expression =
    DecimalAddNoOverflowCheck(a, b, Dec)

  override lazy val updateExpressions: Seq[Expression] = {
    val u = child.dataType match {
      case DoubleType => ExactSumLane(child)
      case _ => Literal(null, LongType)
    }
    val fast = IsNotNull(u)
    val delegated = If(fast, Literal(null, Dec), cast)
    Seq(
      If(fast, add(Coalesce(Seq(hi, Literal(0L))),
        ShiftRight(u, Literal(ExactSumKernel.LoBits))), hi),
      If(fast, add(lo, BitwiseAnd(u, Literal(ExactSumKernel.LoMask))), lo),
      If(IsNull(delegated), dec,
        If(decSeen, addDec(dec, delegated), delegated)),
      Or(decSeen, IsNotNull(delegated)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Coalesce(Seq(add(hi.left, hi.right), hi.left, hi.right)),
    add(lo.left, lo.right),
    If(Not(decSeen.right), dec.left,
      If(Not(decSeen.left), dec.right, addDec(dec.left, dec.right))),
    Or(decSeen.left, decSeen.right))

  override lazy val evaluateExpression: Expression = {
    val fast = ExactSumFast(Coalesce(Seq(hi, Literal(0L))), lo)
    If(And(IsNull(hi), Not(decSeen)), Literal(null, Dec),
      CheckOverflowInSum(If(decSeen, addDec(fast, dec), fast), Dec,
        evalMode != EvalMode.ANSI, null))
  }

  override protected def withNewChildInternal(c: Expression): ExactSum =
    copy(child = c)
}

object ExactSum {
  val Dec: DecimalType = DecimalType(38, 6)

  /** `sum(CAST(c AS DECIMAL(38,6)))` as an [[ExactSum]] aggregate. */
  def apply(c: Column): Column = GraftColumnBridge.column(
    ExactSum(GraftColumnBridge.expression(c)).toAggregateExpression())
}
