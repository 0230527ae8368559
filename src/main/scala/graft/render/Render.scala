package graft.render

import java.awt.image.{BufferedImage, DataBufferInt, RenderedImage}
import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuilder

import javax.imageio.{ImageIO, ImageTypeSpecifier}
import javax.imageio.stream.MemoryCacheImageOutputStream

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.cube.{CubeFrame, CubeGrid}
import graft.sources.NanArray

/** Tile rendering: value grid → RGBA → PNG (reference F3/F4/K1:
  * the numba `map_colors` kernel at xcube_server/im/tiledimage.py:638-665
  * and the PNG sink at tiledimage.py:498-504).
  *
  * Execution shape follows SURVEY §3.1: tile latency budgets make small
  * tiles a driver-local path over (cached) level data — Spark jobs are
  * for pyramid BUILDS and zonal analytics, not per-tile requests. The
  * colormap kernel itself is a tight primitive loop either way.
  *
  * A tile is read, then rendered. The read yields a row-major value
  * window in index order; the server takes it from its PNG cache's
  * miss path in one of three ways: a direct chunk window (zarr, NetCDF,
  * HDF5), a parquet row-group window, or [[sparkRead]] for a level
  * with no store behind it, memoized in the chunk LRU
  * (`graft.sources.StoreCache.frameRead`). [[sparkRead]] has two
  * [[Extent]]s: a small level (every time step of it fits the driver's
  * per-request budget, `StoreCache.directBudgetBytes`) is read whole
  * once and each tile is a [[slice]] of it, as the reference opens a
  * pyramid level once and slices it (mldataset.py:87-109); a larger
  * level is read one tile window at a time. [[renderWindow]] then
  * colour-maps and encodes whichever window it gets. Windows are
  * shared read-only: [[renderWindow]] flips into a copy and
  * [[mapColors]] only reads. [[renderTile]] is the window read and the
  * render with no cache in between, the reference the served bytes
  * are checked against.
  */
object Render {

  /** A linear colormap over [vmin, vmax] with `palette` ARGB entries;
    * invalid cells (NaN / fill / outside valid range) are transparent —
    * the reference's map_colors semantics. */
  final case class ColorMapping(vmin: Double, vmax: Double,
                                palette: Array[Int],
                                fillValue: Option[Double] = None,
                                validMin: Option[Double] = None,
                                validMax: Option[Double] = None)

  /** Simple deterministic gradient palettes (stand-ins for matplotlib
    * colormaps, reference im/cmaps.py; alpha-ramp variants mirror the
    * `<name>_alpha` derivation at cmaps.py:133-162). */
  def gradientPalette(n: Int, from: (Int, Int, Int),
                      to: (Int, Int, Int), alphaRamp: Boolean = false): Array[Int] =
    Array.tabulate(n) { i =>
      val t = i.toDouble / (n - 1)
      def lerp(a: Int, b: Int) = (a + t * (b - a)).round.toInt & 0xff
      val alpha =
        if (!alphaRamp) 0xff
        else math.min(0xff, (2.0 * t * 0xff).round.toInt) // 0→1 over first half
      (alpha << 24) | (lerp(from._1, to._1) << 16) |
        (lerp(from._2, to._2) << 8) | lerp(from._3, to._3)
    }

  val ViridisLike: Array[Int] = gradientPalette(256, (68, 1, 84), (253, 231, 37))
  val GrayLike: Array[Int] = gradientPalette(256, (0, 0, 0), (255, 255, 255))

  /** The fused mask+normalize+palette kernel (map_colors, F3): one pass,
    * no allocation beyond the output. NaN / fill / out-of-valid-range →
    * fully transparent pixel. The fill and valid-range options are read
    * into primitives before the loop, so no cell is boxed. */
  def mapColors(values: Array[Double], m: ColorMapping): Array[Int] = {
    val n = m.palette.length
    val scale = n / (m.vmax - m.vmin)
    val hasFill = m.fillValue.isDefined
    val fill = m.fillValue.getOrElse(0.0)
    val hasMin = m.validMin.isDefined
    val lo = m.validMin.getOrElse(0.0)
    val hasMax = m.validMax.isDefined
    val hi = m.validMax.getOrElse(0.0)
    val out = new Array[Int](values.length)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      val invalid = java.lang.Double.isNaN(v) ||
        java.lang.Double.isInfinite(v) ||
        (hasFill && v == fill) || (hasMin && v < lo) || (hasMax && v > hi)
      out(i) =
        if (invalid) 0x00000000
        else {
          val idx0 = ((v - m.vmin) * scale).toInt
          val idx = if (idx0 < 0) 0 else if (idx0 >= n) n - 1 else idx0
          m.palette(idx)
        }
      i += 1
    }
    out
  }

  /** ARGB pixel array → PNG bytes (fast path — ImageIO's PNG writer at
    * default settings; reference uses compress_level=1, K1). */
  def toPng(pixels: Array[Int], width: Int, height: Int): Array[Byte] =
    png(argbImage(pixels, width, height))

  /** A `TYPE_INT_ARGB` image holding `pixels` row-major. The pixels are
    * copied straight into its raster: `setRGB` would convert each one
    * through the colour model, which for this type is the identity. */
  private def argbImage(pixels: Array[Int], width: Int,
                        height: Int): BufferedImage = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_ARGB)
    val data = img.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
    System.arraycopy(pixels, 0, data, 0, width * height)
    img
  }

  /** PNG bytes of an image, written in memory: the writer
    * `ImageIO.write(img, "png", out)` picks, onto a
    * [[MemoryCacheImageOutputStream]]. `ImageIO.write` to an
    * `OutputStream` spools every image through a temp file in
    * `java.io.tmpdir` while ImageIO's global `useCache` is on (its
    * default); the bytes are the same either way. */
  def png(img: RenderedImage): Array[Byte] = {
    val writer = ImageIO.getImageWriters(
      ImageTypeSpecifier.createFromRenderedImage(img), "png").next()
    val bos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(out)
      writer.write(img)
    } finally {
      writer.dispose()
      out.close()
    }
    bos.toByteArray
  }

  /** The cells one [[sparkRead]] collects: the time `steps` × the index
    * window [y0, y0 + h) × [x0, x0 + w). A read returns them as one
    * array, step-major, then row-major in index order (y_idx rows, not
    * flipped). */
  final case class Extent(steps: Seq[java.sql.Timestamp], y0: Int, x0: Int,
                          h: Int, w: Int) {
    def cells: Long = steps.length.toLong * h * w
  }

  object Extent {
    /** one tile: one time step × one tile window */
    def window(timeValue: java.sql.Timestamp, tileX: Int, tileY: Int,
               tileW: Int, tileH: Int): Extent =
      Extent(Seq(timeValue), tileY * tileH, tileX * tileW, tileH, tileW)

    /** a whole level: every step × the grid rounded up to whole tiles,
      * so every cell any tile window of the level shows is inside it */
    def level(steps: Seq[java.sql.Timestamp], grid: CubeGrid,
              tile: Int): Extent =
      Extent(steps, 0, 0, (grid.height + tile - 1) / tile * tile,
        (grid.width + tile - 1) / tile * tile)
  }

  /** The Spark read of an [[Extent]] of `cube`: one job. A one-step
    * extent filters its time step and window (P7), so the scan prunes;
    * a level reads every row. Each partition scatters its rows into
    * (cell index, value) arrays on the executor, and the driver writes
    * them into a NaN-filled array in partition order, the order
    * `collect` returns rows in, so a duplicated cell keeps the same
    * last value. Rows outside the extent and null values are skipped:
    * those cells stay NaN padding (F8 trim/pad semantics), as does a
    * step with no rows. Each step is matched at its first position in
    * `steps`. */
  def sparkRead(cube: CubeFrame, variable: String, e: Extent): Array[Double] = {
    require(e.cells <= Int.MaxValue, s"extent of ${e.cells} cells")
    val (y0, x0, h, w) = (e.y0, e.x0, e.h, e.w)
    val inWindow = col("x_idx") >= x0 && col("x_idx") < x0 + w &&
      col("y_idx") >= y0 && col("y_idx") < y0 + h
    val rows = e.steps match {
      case Seq(t) => cube.df.filter(col("time") === lit(t) && inWindow)
      case _ => cube.df
    }
    // steps sorted by their internal micros, each at its first position
    val (stepUs, stepAt) = e.steps.map(DateTimeUtils.fromJavaTimestamp)
      .zipWithIndex.reverse.toMap.toArray.sortBy(_._1).unzip
    val parts = rows.select(col("time").cast("timestamp"),
        col("y_idx").cast("int"), col("x_idx").cast("int"),
        col(variable).cast("double"))
      .queryExecution.toRdd.mapPartitions { it =>
        val idx = new ArrayBuilder.ofInt
        val vals = new ArrayBuilder.ofDouble
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
              !r.isNullAt(3)) {
            val s = java.util.Arrays.binarySearch(stepUs, r.getLong(0))
            val y = r.getInt(1) - y0
            val x = r.getInt(2) - x0
            if (s >= 0 && y >= 0 && y < h && x >= 0 && x < w) {
              idx += (stepAt(s) * h + y) * w + x
              vals += r.getDouble(3)
            }
          }
        }
        Iterator.single((idx.result(), vals.result()))
      }.collect()
    val out = NanArray(e.cells.toInt)
    parts.foreach { case (idx, vals) =>
      var i = 0
      while (i < idx.length) { out(idx(i)) = vals(i); i += 1 }
    }
    out
  }

  /** One (h × w) window at [y0, y0 + h) × [x0, x0 + w) of step `step`
    * out of a [[sparkRead]] of extent `e`, row-major; cells outside `e`
    * are NaN. A new array: `read` is not written. */
  def slice(read: Array[Double], e: Extent, step: Int, y0: Int, x0: Int,
            h: Int, w: Int): Array[Double] = {
    val out = NanArray(h * w)
    val xa = math.max(x0, e.x0)
    val xb = math.min(x0 + w, e.x0 + e.w)
    var y = math.max(y0, e.y0)
    val yb = math.min(y0 + h, e.y0 + e.h)
    while (xa < xb && y < yb) {
      System.arraycopy(read, (step * e.h + y - e.y0) * e.w + xa - e.x0,
        out, (y - y0) * w + xa - x0, xb - xa)
      y += 1
    }
    out
  }

  /** Render one tile from a cube: the [[sparkRead]] of its
    * [[Extent.window]], then colormap + PNG encode. Flip-y (F7) honors
    * inv_y grids. */
  def renderTile(cube: CubeFrame, variable: String,
                 timeValue: java.sql.Timestamp,
                 tileX: Int, tileY: Int, tileW: Int, tileH: Int,
                 mapping: ColorMapping, flipY: Boolean = false): Array[Byte] =
    renderWindow(sparkRead(cube, variable,
      Extent.window(timeValue, tileX, tileY, tileW, tileH)), tileW, tileH,
      mapping, flipY)

  /** PNG from a row-major value window in index order, whichever read
    * produced it: a direct store window ([[graft.sources.DirectWindow]]),
    * a [[sparkRead]] window or a [[slice]] of a level read, memoized or
    * not. Every tile goes through here, so the read arms are
    * byte-identical for the same values.
    *
    * `window` is only read, never written: the server shares memoized
    * windows between requests, so the flip writes a copy and
    * [[mapColors]] only reads its input. */
  def renderWindow(window: Array[Double], tileW: Int, tileH: Int,
                   mapping: ColorMapping, flipY: Boolean): Array[Byte] = {
    val grid =
      if (!flipY) window
      else {
        val g = new Array[Double](window.length)
        var y = 0
        while (y < tileH) {
          System.arraycopy(window, y * tileW, g, (tileH - 1 - y) * tileW,
            tileW)
          y += 1
        }
        g
      }
    toPng(mapColors(grid, mapping), tileW, tileH)
  }

  /** Image-space antialiased 2× downsample (reference A8,
    * PilDownsamplingImage at tiledimage.py:724-754): AWT smooth scaling
    * over the rendered RGBA pixels — the pyramid path for pre-rendered
    * imagery, vs the value-space aggregation of operators.Pyramid. */
  def downsample2x(pixels: Array[Int], width: Int, height: Int): Array[Int] = {
    val src = argbImage(pixels, width, height)
    val w2 = (width + 1) / 2
    val h2 = (height + 1) / 2
    val dst = new BufferedImage(w2, h2, BufferedImage.TYPE_INT_ARGB)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, w2, h2, null)
    g.dispose()
    val out = new Array[Int](w2 * h2)
    dst.getRGB(0, 0, w2, h2, out, 0, w2)
    out
  }

  /** Colorbar legend PNG (reference K2, controllers/tiles.py:145-184):
    * matplotlib-ColorbarBase-style VERTICAL bar — gradient (vmax at the
    * top), tick marks with value labels, and an optional rotated
    * variable label along the right edge — drawn with AWT instead of a
    * matplotlib figure. Transparent background (fig.patch alpha 0.0,
    * tiles.py:177-178). */
  def legend(mapping: ColorMapping, label: Option[String] = None,
             width: Int = 160, height: Int = 320): Array[Byte] =
    png(legendImage(mapping, label, width, height))

  /** The [[legend]] image before PNG encoding. */
  private[graft] def legendImage(mapping: ColorMapping, label: Option[String],
                                 width: Int, height: Int): BufferedImage = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_ARGB)
    val g = img.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_TEXT_ANTIALIASING,
      java.awt.RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
    val (top, bottom) = (10, 10)
    val barX = 8
    val barW = math.max(10, width / 5)
    val barH = math.max(2, height - top - bottom)
    val n = mapping.palette.length
    var y = 0
    while (y < barH) {
      val t = 1.0 - y.toDouble / (barH - 1) // row 0 = vmax
      g.setColor(new java.awt.Color(
        mapping.palette(math.min(n - 1, (t * (n - 1)).round.toInt)), true))
      g.drawLine(barX, top + y, barX + barW - 1, top + y)
      y += 1
    }
    g.setColor(java.awt.Color.DARK_GRAY)
    g.drawRect(barX, top, barW, barH)
    g.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
      java.awt.Font.PLAIN, 11))
    niceTicks(mapping.vmin, mapping.vmax, 5).foreach { v =>
      // vmin == vmax is a reachable query override: 0/0 = NaN would
      // pin the tick at the bar top — center the single value instead
      val range = mapping.vmax - mapping.vmin
      val t = if (range == 0.0) 0.5 else (v - mapping.vmin) / range
      val ty = top + ((1.0 - t) * barH).round.toInt
      g.drawLine(barX + barW, ty, barX + barW + 4, ty)
      g.drawString(tickLabel(v), barX + barW + 7, ty + 4)
    }
    label.foreach { l =>
      // rotated axis label along the right edge (ColorbarBase.set_label)
      val g2 = g.create().asInstanceOf[java.awt.Graphics2D]
      g2.setFont(new java.awt.Font(java.awt.Font.SANS_SERIF,
        java.awt.Font.PLAIN, 12))
      g2.rotate(math.Pi / 2, width - 6, height / 2.0)
      val fm = g2.getFontMetrics
      g2.drawString(l, width - 6 - fm.stringWidth(l) / 2, height / 2 + 4)
      g2.dispose()
    }
    g.dispose()
    img
  }

  /** 'nice' tick values covering [vmin, vmax] (the 1-2-5 ladder
    * matplotlib's MaxNLocator uses). */
  def niceTicks(vmin: Double, vmax: Double, maxTicks: Int): Seq[Double] = {
    val range = vmax - vmin
    if (!(range > 0) || range.isInfinite) return Seq(vmin)
    val raw = range / maxTicks
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = Seq(1.0, 2.0, 5.0, 10.0).map(_ * mag).find(range / _ <= maxTicks)
      .getOrElse(10.0 * mag)
    val start = math.ceil(vmin / step) * step
    Iterator.iterate(start)(_ + step).takeWhile(_ <= vmax + step * 1e-9).toSeq
  }

  private[graft] def tickLabel(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e7) v.toLong.toString
    else {
      // trim trailing zeros from the MANTISSA only — a blanket
      // replaceAll("0+$") on "%.4g" output corrupts exponents whose
      // last digit is 0 ("1.230e+10" -> "1.230e+1")
      val s = f"$v%.4g"
      val ei = s.indexWhere(c => c == 'e' || c == 'E')
      if (ei < 0) s.replaceAll("0+$", "").stripSuffix(".")
      else {
        val mant = s.substring(0, ei)
        val trimmed = if (mant.contains('.'))
          mant.replaceAll("0+$", "").stripSuffix(".") else mant
        trimmed + s.substring(ei)
      }
    }
}
