package graft

import java.sql.Timestamp

import graft.cube.{CubeFrame, CubeGrid}
import graft.render.Render
import graft.render.Render.ColorMapping

class RenderSpec extends SparkSpec {

  test("map_colors kernel: invalid → transparent, linear bucketing (F3)") {
    val m = ColorMapping(0.0, 10.0, Render.GrayLike,
      fillValue = Some(-1.0), validMax = Some(9.5))
    val px = Render.mapColors(
      Array(0.0, 5.0, 10.0, Double.NaN, -1.0, 99.0), m)
    assert(px(3) == 0 && px(4) == 0 && px(5) == 0) // NaN, fill, > validMax
    assert((px(0) >>> 24) == 0xff)                  // opaque
    assert((px(0) & 0xff) == 0)                     // black at vmin
    assert((px(1) & 0xff) == 128)                   // mid-gray at half
  }

  test("map_colors: the fill and valid-range checks equal the Option " +
      "predicate pixel for pixel, each set and none set") {
    // the kernel as it reads with Option.exists per cell
    def reference(values: Array[Double], m: ColorMapping): Array[Int] = {
      val n = m.palette.length
      val scale = n / (m.vmax - m.vmin)
      values.map { v =>
        val invalid = v.isNaN || v.isInfinite ||
          m.fillValue.exists(_ == v) ||
          m.validMin.exists(v < _) || m.validMax.exists(v > _)
        if (invalid) 0
        else {
          val idx0 = ((v - m.vmin) * scale).toInt
          m.palette(if (idx0 < 0) 0 else if (idx0 >= n) n - 1 else idx0)
        }
      }
    }
    val (vmin, vmax, fill, lo, hi) = (-2.0, 8.0, 3.0, -1.0, 6.0)
    def around(v: Double) = Seq(Math.nextDown(v), v, Math.nextUp(v))
    val values = (Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MaxValue, -Double.MaxValue,
      Double.MinPositiveValue) ++
      Seq(fill, lo, hi, vmin, vmax).flatMap(around)).toArray
    val pal = graft.render.ColorMaps.paletteOrDefault("viridis")
    val mappings = Seq(
      ColorMapping(vmin, vmax, pal),
      ColorMapping(vmin, vmax, pal, fillValue = Some(fill)),
      ColorMapping(vmin, vmax, pal, validMin = Some(lo)),
      ColorMapping(vmin, vmax, pal, validMax = Some(hi)),
      ColorMapping(vmin, vmax, pal, Some(fill), Some(lo), Some(hi)),
      // signed zeros compare equal; a NaN fill matches nothing
      ColorMapping(vmin, vmax, pal, Some(-0.0), Some(0.0), Some(-0.0)),
      ColorMapping(vmin, vmax, pal, fillValue = Some(Double.NaN)))
    for (m <- mappings) {
      val px = Render.mapColors(values, m)
      val ref = reference(values, m)
      for (i <- values.indices)
        assert(px(i) == ref(i), s"${values(i)} under $m")
    }
    // the inputs reach both sides of every check
    val all = Render.mapColors(values, mappings(4))
    def at(v: Double) = all(values.indexOf(v))
    assert(at(fill) == 0 && at(Math.nextUp(fill)) != 0)
    assert(at(lo) != 0 && at(Math.nextDown(lo)) == 0)
    assert(at(hi) != 0 && at(Math.nextUp(hi)) == 0)
    assert(Render.mapColors(Array(fill, lo, hi), mappings.head).forall(_ != 0))
  }

  test("alpha-ramp palette derivation (cmaps.py:133-162)") {
    val p = Render.gradientPalette(256, (0, 0, 0), (255, 255, 255),
      alphaRamp = true)
    assert((p(0) >>> 24) == 0)
    assert((p(255) >>> 24) == 0xff)
    assert((p(128) >>> 24) == 0xff) // saturated by half-way
  }

  test("PNG encode emits valid PNG bytes (K1)") {
    val png = Render.toPng(Array.fill(16 * 16)(0xff00ff00), 16, 16)
    assert(png.take(8).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte,
      'G'.toByte, 0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
  }

  test("tile render end-to-end: window, NaN padding, flip") {
    import spark.implicits._
    val grid = CubeGrid(4, 4, 0.0, 0.0, 1.0, latAscending = true)
    val t0 = Timestamp.valueOf("2017-01-01 00:00:00")
    // only half the tile has data — the rest must become transparent
    val rows = for { y <- 0 until 2; x <- 0 until 4 }
      yield (t0, y, x, grid.latOfY(y), grid.lonOfX(x), (y * 4 + x).toDouble)
    val cube = CubeFrame(rows.toDF("time", "y_idx", "x_idx", "lat", "lon", "v"),
      grid, Seq("v"))
    val png = Render.renderTile(cube, "v", t0, tileX = 0, tileY = 0,
      tileW = 4, tileH = 4, ColorMapping(0.0, 16.0, Render.ViridisLike))
    assert(png.length > 50)
    val legend = Render.legend(ColorMapping(0.0, 16.0, Render.ViridisLike))
    assert(legend.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
  }

  test("legend renders ticks, value labels and a variable label (K2 full)") {
    val png = Render.legend(ColorMapping(0.0, 24.0, Render.ViridisLike),
      label = Some("chl_a"), width = 160, height = 320)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 160 && img.getHeight == 320)
    // gradient bar: near-vmax color at the top, near-vmin at the bottom
    // (bar rows 10..309; rows 10 and 310 carry the DARK_GRAY border, so
    // sample one row inside: row 11 → t=1-1/299 → idx 254, row 308 →
    // idx 1)
    assert((img.getRGB(10, 11) & 0xffffff) ==
      (Render.ViridisLike(254) & 0xffffff))
    assert((img.getRGB(10, 308) & 0xffffff) ==
      (Render.ViridisLike(1) & 0xffffff))
    // label/tick text exists to the right of the bar (non-transparent
    // dark pixels in the text margin — an unlabeled gradient strip has
    // nothing there)
    var textPixels = 0
    for (y <- 0 until 320; x <- 50 until 160)
      if ((img.getRGB(x, y) >>> 24) > 0) textPixels += 1
    assert(textPixels > 50, s"expected label pixels, got $textPixels")
    // background stays transparent
    assert((img.getRGB(155, 2) >>> 24) == 0)
  }

  test("nice tick ladder (1-2-5) covers the range") {
    assert(Render.niceTicks(0.0, 24.0, 5) == Seq(0.0, 5.0, 10.0, 15.0, 20.0))
    assert(Render.niceTicks(0.0, 1.0, 5) ==
      Seq(0.0, 0.2, 0.4, 0.6000000000000001, 0.8, 1.0))
    // range 6 / step 1 would need 6 intervals > maxTicks → 1-2-5 ladder
    // picks step 2
    assert(Render.niceTicks(-3.0, 3.0, 5) == Seq(-2.0, 0.0, 2.0))
  }

  test("distributed tile materialization matches the per-request path") {
    val grid = graft.cube.CubeGrid(64, 32, 0.0, 40.0, 0.1,
      latAscending = true)
    val cube = graft.cube.Cube.synthetic(spark, grid, numTimes = 2,
      Seq("v0"), nanEvery = 7)
    val t = cube.df.select(org.apache.spark.sql.functions.max("time"))
      .head().getTimestamp(0)
    val m = Render.ColorMapping(0.0, 100.0,
      Render.gradientPalette(256, (0, 0, 128), (255, 255, 0)))
    // 16x16 tiles over 64x32 → 4x2 = 8 tiles, flip-y like the server
    val level = graft.render.TileMaterialize
      .renderLevel(cube, "v0", t, 16, 16, m, flipY = true)
    val tiles = level.collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(tiles.size == 8)
    // the colormap kernel is a codegen expression INSIDE the plan
    // (map-side, before the tile shuffle) — not a per-tile closure.
    // Plan inspected AFTER the action: AQE only finalizes (and prints
    // WholeStageCodegen spans) once executed.
    val plan = level.queryExecution.executedPlan.toString
    // the `*(n)` star prefix is the WholeStageCodegen marker: the
    // projection carrying the kernel must sit inside a codegen span
    assert(plan.linesIterator.exists(l =>
      l.contains("color_map_argb") && l.contains("*(")), plan.take(1200))
    for (tx <- 0 until 4; ty <- 0 until 2) {
      val direct = Render.renderTile(cube, "v0", t, tx, ty, 16, 16, m,
        flipY = true)
      assert(tiles((tx, ty)).sameElements(direct), s"tile ($tx,$ty)")
    }
    // write path lays tiles out as z/x/y.png, every tile present
    val out = java.nio.file.Files.createTempDirectory("graft-tiles").toString
    val n = graft.render.TileMaterialize.writeLevel(cube, "v0", t, 3,
      out, 16, 16, m, flipY = true)
    assert(n == 8L)
    val one = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/3/2/1.png"))
    assert(one.sameElements(tiles((2, 1))))
    // masking params (fill / valid range) flow through the codegen
    // kernel byte-identically too
    val mMask = m.copy(fillValue = Some(50.0), validMin = Some(10.0),
      validMax = Some(90.0))
    val masked = graft.render.TileMaterialize
      .renderLevel(cube, "v0", t, 16, 16, mMask, flipY = true)
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    for (tx <- 0 until 4; ty <- 0 until 2)
      assert(masked((tx, ty)).sameElements(
        Render.renderTile(cube, "v0", t, tx, ty, 16, 16, mMask,
          flipY = true)), s"masked tile ($tx,$ty)")
  }

  test("PNGs written in memory are the bytes ImageIO.write gives, for a " +
      "tile and a legend") {
    def viaImageIoWrite(img: java.awt.image.RenderedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val w = 256
    val jet = ColorMapping(0.0, 100.0,
      graft.render.ColorMaps.paletteOrDefault("jet"))
    // toPng copies pixels into the raster; the reference goes through
    // setRGB and ImageIO.write
    def samePng(values: Array[Double], what: String): Unit = {
      val pixels = Render.mapColors(values, jet)
      val tile = new java.awt.image.BufferedImage(w, w,
        java.awt.image.BufferedImage.TYPE_INT_ARGB)
      tile.setRGB(0, 0, w, w, pixels, 0, w)
      assert(Render.toPng(pixels, w, w).sameElements(viaImageIoWrite(tile)),
        what)
    }
    samePng(Array.tabulate(w * w)(i =>
      if (i % 97 == 0) Double.NaN else (i % 1031).toDouble / 10), "pattern")
    val rnd = new scala.util.Random(17)
    samePng(Array.fill(w * w)(
      if (rnd.nextInt(20) == 0) Double.NaN else rnd.nextDouble() * 120 - 10),
      "random values")
    samePng(Array.fill(w * w)(Double.NaN), "all NaN")
    val m = ColorMapping(-5.0, 42.0, Render.ViridisLike)
    assert(Render.legend(m, Some("chl_a")).sameElements(
      viaImageIoWrite(Render.legendImage(m, Some("chl_a"), 160, 320))))
    assert(javax.imageio.ImageIO.getUseCache, "the global ImageIO cache " +
      "setting is left alone")
  }

  test("ColorMapArgb: generated code compiles and matches interpreted " +
      "evaluation bit for bit (NaN, ±Inf, -0.0, null, fill, valid range)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // None is a null cell
    val cells: Seq[Option[Double]] = Seq(Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, -1.0,
      -3.5, -2.5, 3.3, 9.5, 9.75, 10.0, 42.0, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue).map(Some(_)) :+ None
    val masked = ColorMapping(-2.0, 10.0, Render.ViridisLike,
      fillValue = Some(-1.0), validMin = Some(-3.0), validMax = Some(9.5))
    val plain = ColorMapping(0.0, 8.0, Render.GrayLike)
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("v", DoubleType, nullable = true)))
    // the exchange keeps the projection out of the local relation, which
    // the optimizer would otherwise evaluate (interpreted) at plan time
    val df = spark.createDataFrame(java.util.Arrays.asList(
        cells.zipWithIndex.map { case (v, i) => Row(i, v.orNull) }: _*),
        schema)
      .repartition(1)
    def run(conf: (String, String)*): Seq[(Int, Int, Int)] = {
      val old = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("i"),
          graft.functions.ColorMapArgb(col("v"), masked),
          graft.functions.ColorMapArgb(col("v"), plain))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        .sortBy(_._1).toSeq
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = run("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated == interpreted)
    // and both are the driver kernel's pixels (a null cell is NaN there)
    val asDoubles = cells.map(_.getOrElse(Double.NaN)).toArray
    assert(generated.map(_._2) == Render.mapColors(asDoubles, masked).toSeq)
    assert(generated.map(_._3) == Render.mapColors(asDoubles, plain).toSeq)
  }

  test("tick labels: mantissa-only zero trim keeps exponents intact") {
    assert(Render.tickLabel(5.0) == "5")
    assert(Render.tickLabel(0.25) == "0.25")
    // exponent ending in 0 must survive the trailing-zero trim
    assert(Render.tickLabel(1.23e10) == "1.23e+10")
    assert(Render.tickLabel(1.5e-10) == "1.5e-10")
    assert(Render.tickLabel(2.0e20) == "2e+20")
  }
}
