package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Codegen'd colormap kernel (the numba `map_colors` of reference
  * im/tiledimage.py:638-665, SURVEY X8's codegen candidate): one cell
  * value → one ARGB int, mask + normalize + palette lookup fused into
  * whole-stage codegen. The per-request serving path keeps the tight
  * driver loop in [[graft.render.Render.mapColors]]; THIS expression is
  * for the distributed whole-level pre-render, where the same kernel
  * previously ran as a per-tile Scala closure after the shuffle —
  * map-side now, boxed closure dispatch gone, and Catalyst sees a plain
  * projection it can fuse with the scan filter.
  *
  * Semantics bit-identical to `mapColors`: NaN / ±Inf / fill /
  * outside-valid-range / NULL → fully transparent (0); else
  * `palette(clamp((v - vmin) * palette.length / (vmax - vmin)))`.
  * Scalars embed as exact `longBitsToDouble` literals so interpreted
  * and codegen paths agree to the last bit.
  */
case class ColorMapArgb(child: Expression,
                        vmin: Double, vmax: Double,
                        palette: Seq[Int],
                        fillValue: Option[Double] = None,
                        validMin: Option[Double] = None,
                        validMax: Option[Double] = None)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false // NULL cell → transparent pixel
  override def prettyName: String = "color_map_argb"

  @transient private lazy val pal: Array[Int] = palette.toArray
  private def scale: Double = pal.length / (vmax - vmin)

  override def eval(input: InternalRow): Any = {
    val v0 = child.eval(input)
    if (v0 == null) return 0
    val v = v0.asInstanceOf[Double]
    val invalid = java.lang.Double.isNaN(v) ||
      java.lang.Double.isInfinite(v) ||
      fillValue.exists(_ == v) ||
      validMin.exists(v < _) || validMax.exists(v > _)
    if (invalid) 0
    else {
      val idx0 = ((v - vmin) * scale).toInt
      val idx = if (idx0 < 0) 0 else if (idx0 >= pal.length) pal.length - 1
        else idx0
      pal(idx)
    }
  }

  /** exact double constant as Java source (NaN/Inf-safe, bit-exact) */
  private def dbl(d: Double): String =
    s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(d)}L)"

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val palRef = ctx.addReferenceObj("palette", pal, "int[]")
    val v = ctx.freshName("v")
    val invalid = ctx.freshName("invalid")
    val idx = ctx.freshName("idx")
    val fillCheck = fillValue.map(f => s" || $v == ${dbl(f)}").getOrElse("")
    val minCheck = validMin.map(m => s" || $v < ${dbl(m)}").getOrElse("")
    val maxCheck = validMax.map(m => s" || $v > ${dbl(m)}").getOrElse("")
    // the invalid test goes into a boolean local: Janino rejects the
    // negated compound `!(java.lang.Double.isNaN(v) || …)` ("… is not a
    // type"), and Spark then drops the whole stage to interpreted mode
    val code =
      code"""
        ${childGen.code}
        int ${ev.value} = 0;
        if (!${childGen.isNull}) {
          double $v = ${childGen.value};
          boolean $invalid = java.lang.Double.isNaN($v) ||
            java.lang.Double.isInfinite($v)$fillCheck$minCheck$maxCheck;
          if (!$invalid) {
            int $idx = (int)(($v - ${dbl(vmin)}) * ${dbl(scale)});
            if ($idx < 0) $idx = 0;
            else if ($idx >= ${pal.length}) $idx = ${pal.length - 1};
            ${ev.value} = $palRef[$idx];
          }
        }
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object ColorMapArgb {
  /** Column form over a [[graft.render.Render.ColorMapping]]. */
  def apply(c: Column, m: graft.render.Render.ColorMapping): Column =
    GraftColumnBridge.column(ColorMapArgb(
      GraftColumnBridge.expression(c.cast("double")),
      m.vmin, m.vmax, m.palette.toSeq, m.fillValue, m.validMin, m.validMax))
}
