package graft

import org.apache.spark.sql.functions._

import graft.cube.{Cube, CubeGrid, CubeIngest}

/** Direct parquet-window tile serving (the materialized-levels analogue
  * of the zarr/NC chunk fast path): values and PNG bytes identical to
  * the Spark path, and ZERO Spark jobs on the serving read. */
class ParquetWindowSpec extends SparkSpec {

  test("parquet-level direct window matches the Spark scan, zero jobs") {
    val grid = CubeGrid(96, 64, 0.0, 10.0, 0.25, latAscending = true)
    val base = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 7)
    // masked cells become NULL in parquet (not NaN) — the direct reader
    // must leave them as the NaN the renderer initializes, like Spark
    val cube = base.copy(df = base.df.withColumn("v1",
      Cube.nanToNull(col("v1"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-pw").toString
    CubeIngest.writeCube(cube, s"$dir/c", tileSize = 32)
    val opened = CubeIngest.open(spark, s"$dir/c")
    assert(opened.storePath.contains(s"$dir/c"))
    // the time axis comes from footer stats — no distinct scan — and
    // matches the data exactly
    assert(opened.timeAxis.isDefined)
    assert(opened.timeAxis.get ==
      opened.df.select("time").distinct().orderBy("time").collect()
        .map(_.getTimestamp(0)).toSeq)

    val t = opened.df.agg(max(col("time"))).head().getTimestamp(0)
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    // a window crossing tile borders AND the grid edge (x0+w > width)
    val (y0, x0, h, w) = (20, 70, 40, 40)
    for (v <- Seq("v0", "v1")) {
      val viaSpark = opened.df
        .filter(col("time") === lit(t) &&
          col("x_idx") >= x0 && col("x_idx") < x0 + w &&
          col("y_idx") >= y0 && col("y_idx") < y0 + h)
        .select(col("y_idx"), col("x_idx"), col(v).cast("double")).collect()
        .flatMap(r => if (r.isNullAt(2)) None
          else Some((r.getInt(0), r.getInt(1)) -> r.getDouble(2))).toMap
      // serving read AFTER the Spark collect: count jobs around it
      val (win, jobs) = jobsDuring(graft.sources.ParquetWindow
        .readWindow(s"$dir/c", v, us, y0, x0, h, w).get)
      assert(jobs.isEmpty, "direct window read must schedule no job")
      for (y <- 0 until h; x <- 0 until w) {
        val expected = viaSpark.getOrElse((y0 + y, x0 + x), Double.NaN)
        assert(java.lang.Double.compare(win(y * w + x), expected) == 0,
          s"$v cell (${y0 + y}, ${x0 + x})")
      }
    }

    // absent date partition -> None (server falls back to Spark)
    assert(graft.sources.ParquetWindow
      .readWindow(s"$dir/c", "v0", us + 30L * 86400000000L,
        y0, x0, h, w).isEmpty)

    // PNG bytes identical to the Spark render path
    val m = graft.render.Render.ColorMapping(0.0, 100.0,
      graft.render.ColorMaps.paletteOrDefault("viridis"))
    val direct = graft.sources.DirectWindow
      .read(s"$dir/c", "v0", us, 0, 0, 64, 64)
      .map(vv => graft.render.Render.renderWindow(vv, 64, 64, m,
        flipY = true)).get
    val viaSparkPng = graft.render.Render.renderTile(opened, "v0", t, 0, 0,
      64, 64, m, flipY = true)
    assert(direct.sameElements(viaSparkPng))
  }

  test("generic path: sub-daily time steps share a date partition") {
    // two time steps on the SAME day defeat the dense fast path
    // (time stats not uniform, rows != one grid) — the generic
    // per-row loop with the INT64 time predicate must serve both
    val grid = CubeGrid(64, 32, 0.0, 0.0, 0.5, latAscending = true)
    val base = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"),
      nanEvery = 5)
    val twoHours = base.df
      .union(base.df.withColumn("time",
        col("time") + expr("INTERVAL 6 HOURS")))
    val cube = base.copy(df = twoHours)
    val dir = java.nio.file.Files.createTempDirectory("graft-pwh").toString
    CubeIngest.writeCube(cube, s"$dir/c", tileSize = 32)
    val opened = CubeIngest.open(spark, s"$dir/c")
    // two steps share a row group -> stats can't pin the axis -> the
    // open falls back to the scan path (None), never a wrong axis
    assert(opened.timeAxis.isEmpty)
    for (t <- opened.df.select("time").distinct().collect()
        .map(_.getTimestamp(0))) {
      val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
      val win = graft.sources.ParquetWindow
        .readWindow(s"$dir/c", "v0", us, 0, 0, 32, 64).get
      val viaSpark = opened.df
        .filter(col("time") === lit(t) &&
          col("x_idx") < 64 && col("y_idx") < 32)
        .select(col("y_idx"), col("x_idx"), col("v0")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      for (y <- 0 until 32; x <- 0 until 64) {
        val expected = viaSpark.getOrElse((y, x), Double.NaN)
        assert(java.lang.Double.compare(win(y * 64 + x), expected) == 0,
          s"t=$t cell ($y, $x)")
      }
    }
  }

  test("materialized levels serve direct windows per level") {
    val grid = CubeGrid(128, 64, -10.0, -10.0, 0.125, latAscending = false)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 11)
    val dir = java.nio.file.Files.createTempDirectory("graft-pwl").toString
    CubeIngest.writeLevels(cube, s"$dir/c.levels", tileSize = 32)
    val levels = CubeIngest.openLevels(spark, s"$dir/c.levels")
    assert(levels.nonEmpty && levels.forall(_.storePath.isDefined))
    val m = graft.render.Render.ColorMapping(0.0, 100.0,
      graft.render.ColorMaps.paletteOrDefault("viridis"))
    levels.foreach { lv =>
      val t = lv.df.agg(max(col("time"))).head().getTimestamp(0)
      val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
      val direct = graft.sources.DirectWindow
        .read(lv.storePath.get, "v0", us, 0, 0, 32, 32)
        .map(vv => graft.render.Render.renderWindow(vv, 32, 32, m,
          flipY = lv.grid.latAscending)).get
      val viaSpark = graft.render.Render.renderTile(lv, "v0", t, 0, 0,
        32, 32, m, flipY = lv.grid.latAscending)
      assert(direct.sameElements(viaSpark), s"level ${lv.grid.width}")
    }
  }

  test("invalidate(path) closes pooled readers despite scheme-qualified keys") {
    // reader-pool keys come from Hadoop listStatus and are
    // scheme-qualified ('file:/tmp/…'); invalidate() takes the RAW
    // store path — a prefix mismatch would leak open fds on deleted
    // part files across every store rewrite (ADVICE r6)
    val grid = CubeGrid(64, 64, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"),
      nanEvery = 9)
    val dir = java.nio.file.Files.createTempDirectory("graft-pwi").toString
    val store = s"$dir/c"
    CubeIngest.writeCube(cube, store, tileSize = 32)
    val opened = CubeIngest.open(spark, store)
    val t = opened.timeAxis.get.head
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    // dense fast path pools a long-lived reader per part file
    assert(graft.sources.ParquetWindow
      .readWindow(store, "v0", us, 0, 0, 32, 32).isDefined)
    val pooled = graft.sources.ParquetWindow.pooledReaderPaths
      .filter(_.contains("graft-pwi"))
    assert(pooled.nonEmpty, "dense read should pool a reader")
    assert(pooled.forall(_.startsWith("file:")),
      "precondition: pool keys are scheme-qualified (else this test " +
        "no longer exercises the mismatch)")
    graft.sources.StoreCache.invalidate(store)
    assert(graft.sources.ParquetWindow.pooledReaderPaths
      .forall(!_.contains("graft-pwi")),
      "invalidate(rawPath) must close the store's pooled readers")
    // a rewritten store serves the NEW values through the same path
    val cube2 = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"),
      nanEvery = 9)
    val shifted = cube2.copy(df = cube2.df.withColumn("v0",
      col("v0") + lit(1000.0)))
    CubeIngest.writeCube(shifted, store, tileSize = 32)
    val win = graft.sources.ParquetWindow
      .readWindow(store, "v0", us, 0, 0, 32, 32).get
    assert(win.exists(v => !v.isNaN && v >= 1000.0),
      "post-rewrite read must see the new data, not cached readers")
  }

  test("reader pool is LRU-bounded: serving more files than the cap " +
      "never holds more open readers, and evicted files still read") {
    // Round-17 review find: the pooled-reader map grew one permanently
    // open fd per part file ever served — a multi-year daily store
    // runs the serving process into EMFILE. The pool is now capped
    // (LRU-evicted; a reopened file costs one ~10 ms open).
    val grid = CubeGrid(32, 32, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 4, Seq("v0"),
      nanEvery = 9)
    val dir = java.nio.file.Files.createTempDirectory("graft-pwcap").toString
    val store = s"$dir/c"
    CubeIngest.writeCube(cube, store, tileSize = 32)
    val opened = CubeIngest.open(spark, store)
    val times = opened.timeAxis.get
    assert(times.length == 4)
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val capBefore = graft.sources.ParquetWindow.ReaderPoolCap
    graft.sources.ParquetWindow.ReaderPoolCap = 2
    try {
      graft.sources.StoreCache.invalidate(store) // start from an empty pool
      // serve all 4 dates (4 part files), twice — the pool must never
      // exceed the cap and every window must still read correctly
      for (_ <- 1 to 2; t <- times) {
        val w = graft.sources.ParquetWindow
          .readWindow(store, "v0", usOf(t), 0, 0, 32, 32)
        assert(w.isDefined && w.get.exists(!_.isNaN),
          s"window read failed at $t under the capped pool")
        val pooled = graft.sources.ParquetWindow.pooledReaderPaths
          .count(_.contains("graft-pwcap"))
        assert(pooled <= 2, s"pool exceeded its cap: $pooled readers")
      }
      // values through the capped (evict/reopen) pool match Spark
      val viaSpark = opened.df
        .filter(col("time") === times.head && col("y_idx") < 32 &&
          col("x_idx") < 32)
        .select("y_idx", "x_idx", "v0").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val w0 = graft.sources.ParquetWindow
        .readWindow(store, "v0", usOf(times.head), 0, 0, 32, 32).get
      viaSpark.foreach { case ((y, x), v) =>
        val got = w0(y * 32 + x)
        assert((v.isNaN && got.isNaN) || math.abs(v - got) < 1e-9,
          s"capped-pool read diverged at ($y,$x)")
      }
    } finally {
      graft.sources.ParquetWindow.ReaderPoolCap = capBefore
      graft.sources.StoreCache.invalidate(store)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pooled readers serve page-pruned windows of several variables, " +
      "in either order") {
    // > 20,000 rows per date file: several 8192-row pages, so a tile
    // window selects a subset of pages through the offset index (a
    // one-page file reads its whole row group and never consults it)
    val grid = CubeGrid(192, 128, 0.0, 10.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0", "v1"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-pwvars").toString
    val store = s"$dir/c"
    try {
      CubeIngest.writeCube(cube, store, tileSize = 32)
      val opened = CubeIngest.open(spark, store)
      val t = opened.timeAxis.get.last
      val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
      // first tile block (page 0 only), an interior block, a window
      // crossing block and page boundaries
      val windows = Seq((0, 0, 32, 32), (96, 160, 32, 32), (40, 50, 20, 70))
      val expected = (for (v <- Seq("v0", "v1"); (y0, x0, h, w) <- windows)
        yield (v, (y0, x0, h, w)) -> opened.df
          .filter(col("time") === lit(t) &&
            col("x_idx") >= x0 && col("x_idx") < x0 + w &&
            col("y_idx") >= y0 && col("y_idx") < y0 + h)
          .select(col("y_idx"), col("x_idx"), col(v)).collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap).toMap
      for (order <- Seq(Seq("v0", "v1"), Seq("v1", "v0"))) {
        // an empty pool: the first variable read opens the file's reader
        graft.sources.StoreCache.invalidate(store)
        val (wins, jobs) = jobsDuring(
          for (v <- order; win <- windows) yield (v, win) -> {
            val (y0, x0, h, w) = win
            graft.sources.ParquetWindow.readWindow(store, v, us, y0, x0, h, w).get
          })
        assert(jobs.isEmpty, s"$order: direct reads scheduled ${jobs.size} job(s)")
        assert(graft.sources.ParquetWindow.pooledReaderPaths
          .count(_.contains("graft-pwvars")) == 2,
          "the dense path pools one reader per (file, variable)")
        for (((v, (y0, x0, h, w)), win) <- wins; y <- 0 until h; x <- 0 until w) {
          val want = expected((v, (y0, x0, h, w)))
            .getOrElse((y0 + y, x0 + x), Double.NaN)
          assert(java.lang.Double.compare(win(y * w + x), want) == 0,
            s"$order: $v cell (${y0 + y}, ${x0 + x})")
        }
      }
    } finally {
      graft.sources.StoreCache.invalidate(store)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
