package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd Morton (Z-order) interleave: `zkey = x₀y₀x₁y₁…` for two
  * `bits`-wide non-negative longs — the multi-dimensional clustering
  * key behind Delta/Iceberg `ZORDER BY`. A layout rewrite sorts 100 TB
  * by this key once at ingest, so the per-row kernel is scan-speed
  * critical: a Catalyst higher-order `aggregate` lambda runs
  * interpreted (one closure dispatch per bit per row); this expression
  * spreads bits with the classic constant-time mask cascade
  * (x | x<<8 … & 0x5555…) and fuses into whole-stage codegen beside
  * the binning arithmetic.
  *
  * Inputs are masked to `bits` (callers bin first, so wider values are
  * a caller bug caught by the mask staying value-preserving for
  * in-range input). NULL in → NULL out (BinaryExpression default).
  */
case class MortonInterleave(left: Expression, right: Expression,
                            bits: Int) extends BinaryExpression {
  require(bits > 0 && bits <= 16, s"bits must be in [1,16], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "morton_interleave"

  private val mask: Long = (1L << bits) - 1

  /** spread the low 16 bits of v to even positions (0, 2, 4, …) */
  private def part1by1(v0: Long): Long = {
    var x = v0 & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  override def nullSafeEval(x: Any, y: Any): Any =
    part1by1(x.asInstanceOf[Long] & mask) |
      (part1by1(y.asInstanceOf[Long] & mask) << 1)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val sx = ctx.freshName("sx")
      val sy = ctx.freshName("sy")
      def spread(v: String, out: String): String =
        s"""long $out = $v & ${mask}L;
           |$out = ($out | ($out << 8)) & 0x00FF00FFL;
           |$out = ($out | ($out << 4)) & 0x0F0F0F0FL;
           |$out = ($out | ($out << 2)) & 0x33333333L;
           |$out = ($out | ($out << 1)) & 0x55555555L;""".stripMargin
      s"""
         |${spread(x, sx)}
         |${spread(y, sy)}
         |${ev.value} = $sx | ($sy << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Morton {
  /** Column form: Z-order key of two binned dimensions. */
  def interleave(x: Column, y: Column, bits: Int): Column =
    GraftColumnBridge.column(MortonInterleave(
      GraftColumnBridge.expression(x.cast("long")),
      GraftColumnBridge.expression(y.cast("long")), bits))
}
