package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.cube.{CubeIngest, ExtraDim}
import graft.server.{GraftServer, RegisteredDataset, ServiceContext}

/** Extra non-spatial dimensions (reference P5 full parity: xcube serves
  * `time × depth × lat × lon` variables and resolves a per-request
  * indexer for every non-spatial dim — default first, 'current' last,
  * nearest coercion; context.py:420-451, controllers/tiles.py:77,
  * wmts.py:199-237). */
class ExtraDimSpec extends SparkSpec {

  /** deterministic cell value of the 4-D fixture */
  private def cell(t: Int, d: Int, y: Int, x: Int): Double =
    t * 10000.0 + d * 1000.0 + y * 10.0 + x

  private val (nT, nD, nH, nW) = (2, 3, 8, 10)
  private val depths = Array(0.0, 10.0, 50.0)

  /** Write a zarr v2 (time, depth, lat, lon) store by hand: raw
    * (uncompressed) chunks, `_ARRAY_DIMENSIONS` on the data variable —
    * the layout xarray's to_zarr produces for a 4-D ocean cube.
    * `mixed = true` adds a second 4-D variable and a 3-D `sst`
    * (real-world ocean stores mix surface and column variables). */
  private def writeFixture(mixed: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft-4d").resolve("c.zarr")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    def arr(name: String, shape: Seq[Int], chunks: Seq[Int], dtype: String,
            attrs: Option[String] = None): Path = {
      val sub = dir.resolve(name)
      Files.createDirectories(sub)
      Files.writeString(sub.resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
           | "chunks": [${chunks.mkString(", ")}], "dtype": "$dtype",
           | "compressor": null, "fill_value": "NaN", "order": "C",
           | "filters": null}""".stripMargin)
      attrs.foreach(a => Files.writeString(sub.resolve(".zattrs"), a))
      sub
    }
    // time: raw epoch-us int64 (graft-native convention)
    val dayUs = 86400000000L
    val times = Array(17167L * dayUs, 17168L * dayUs) // 2017-01-01/02
    val tDir = arr("time", Seq(nT), Seq(nT), "<i8")
    val tBuf = ByteBuffer.allocate(nT * 8).order(ByteOrder.LITTLE_ENDIAN)
    times.foreach(tBuf.putLong)
    Files.write(tDir.resolve("0"), tBuf.array())
    def d1(name: String, values: Array[Double], attrs: Option[String] = None)
        : Unit = {
      val sub = arr(name, Seq(values.length), Seq(values.length), "<f8",
        attrs)
      val b = ByteBuffer.allocate(values.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      values.foreach(b.putDouble)
      Files.write(sub.resolve("0"), b.array())
    }
    d1("depth", depths, Some("""{"units": "m"}"""))
    d1("lat", Array.tabulate(nH)(y => 40.05 + 0.1 * y))
    d1("lon", Array.tabulate(nW)(x => 0.05 + 0.1 * x))
    // v0 (+ v1 when mixed): rank 4, chunks (1, 2, 4, 5) — depth chunks
    // SPLIT the axis
    val chunks = Seq(1, 2, 4, 5)
    def write4d(name: String, offset: Double): Unit = {
      val vDir = arr(name, Seq(nT, nD, nH, nW), chunks, "<f8", Some(
        """{"_ARRAY_DIMENSIONS": ["time", "depth", "lat", "lon"]}"""))
      for (tc <- 0 until 2; dc <- 0 until 2; yc <- 0 until 2;
           xc <- 0 until 2) {
        val b = ByteBuffer.allocate(chunks.product * 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        for (t <- 0 until 1; d <- 0 until 2; y <- 0 until 4; x <- 0 until 5) {
          val (gt, gd, gy, gx) = (tc + t, dc * 2 + d, yc * 4 + y, xc * 5 + x)
          b.putDouble(
            if (gd < nD) cell(gt, gd, gy, gx) + offset else Double.NaN)
        }
        Files.write(vDir.resolve(s"$tc.$dc.$yc.$xc"), b.array())
      }
    }
    write4d("v0", 0.0)
    if (mixed) {
      // same SHAPE but a different vertical axis: must not share a
      // relation with the depth variables
      d1("sigma", Array(0.1, 0.5, 0.9))
      val wDir = arr("w0", Seq(nT, nD, nH, nW), chunks, "<f8", Some(
        """{"_ARRAY_DIMENSIONS": ["time", "sigma", "lat", "lon"]}"""))
      for (tc <- 0 until 2; dc <- 0 until 2; yc <- 0 until 2;
           xc <- 0 until 2) {
        val b = ByteBuffer.allocate(chunks.product * 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        (0 until chunks.product).foreach(_ => b.putDouble(1.0))
        Files.write(wDir.resolve(s"$tc.$dc.$yc.$xc"), b.array())
      }
    }
    if (mixed) {
      write4d("v1", 100000.0)
      // a rank-3 surface variable next to the column variables
      val sDir = arr("sst", Seq(nT, nH, nW), Seq(1, 4, 5), "<f8", Some(
        """{"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]}"""))
      for (tc <- 0 until 2; yc <- 0 until 2; xc <- 0 until 2) {
        val b = ByteBuffer.allocate(20 * 8).order(ByteOrder.LITTLE_ENDIAN)
        for (y <- 0 until 4; x <- 0 until 5)
          b.putDouble(cell(tc, 0, yc * 4 + y, xc * 5 + x) - 7.0)
        Files.write(sDir.resolve(s"$tc.$yc.$xc"), b.array())
      }
    }
    dir.toString
  }

  test("4-D zarr registers: extraDims resolved, relation carries the " +
      "depth column, values exact") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    assert(cube.extraDims == Seq(ExtraDim("depth", depths.toSeq, "m")))
    assert(cube.variables == Seq("v0"))
    assert(cube.df.columns.toSeq ==
      Seq("time", "depth", "y_idx", "x_idx", "lat", "lon", "v0"))
    assert(cube.df.count() == nT.toLong * nD * nH * nW)
    // spot-check values against the generator formula (t decoded from
    // the time axis, d from the depth coordinate)
    val rows = cube.df
      .filter(col("y_idx") === 5 && col("x_idx") === 7)
      .select("time", "depth", "v0").collect()
    assert(rows.length == nT * nD)
    rows.foreach { r =>
      val t = if (r.getTimestamp(0).toInstant.toString.startsWith(
        "2017-01-01")) 0 else 1
      val d = depths.indexOf(r.getDouble(1))
      assert(r.getDouble(2) == cell(t, d, 5, 7))
    }
  }

  test("depth equality prunes chunk planes at plan time") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val all = cube.df.rdd.getNumPartitions // 2t × 2d × 2y × 2x = 16
    assert(all == 16)
    // depth 50 lives in the second depth chunk only → half the chunks
    val pruned = cube.df.filter(col("depth") === 50.0)
      .rdd.getNumPartitions
    assert(pruned == 8, s"depth plane should halve the scan, got $pruned")
    assert(cube.df.filter(col("depth") === 50.0).count() ==
      nT.toLong * nH * nW)
  }

  test("direct chunk window honors the extra-dim index, zero jobs") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val t = cube.timeAxis.get.head
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    for (di <- 0 until nD) {
      val win = graft.sources.DirectWindow
        .read(store, "v0", us, 0, 0, nH, nW,
          extra = Seq(("depth", depths(di), di))).get
      for (y <- 0 until nH; x <- 0 until nW)
        assert(win(y * nW + x) == cell(0, di, y, x), s"d=$di ($y,$x)")
    }
    // out-of-range / wrong-arity index → None (server falls to Spark)
    assert(graft.sources.DirectWindow
      .read(store, "v0", us, 0, 0, nH, nW,
        extra = Seq(("depth", 999.0, nD))).isEmpty)
    assert(graft.sources.DirectWindow
      .read(store, "v0", us, 0, 0, nH, nW).isEmpty)
  }

  test("server: ?depth= indexer (default first, nearest, current), " +
      "coords, WMTS dimension, ts routes, 400s") {
    val store = writeFixture()
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("ocean", "Ocean",
      CubeIngest.open(spark, store), None))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): (Int, Array[Byte]) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        (r.statusCode(), r.body())
      }
      def getOk(p: String): Array[Byte] = {
        val (c, b) = get(p); assert(c == 200, s"$p -> $c"); b
      }
      // spread the value range so planes render distinct colors (the
      // default style maps [0,1] — every cell would clip identically)
      val base = "/datasets/ocean/vars/v0/tiles/0/0/0.png?vmin=0&vmax=13000"
      // indexer semantics: absent → FIRST depth; nearest; 'current' →
      // last (context.py:433-438 + sel(method='nearest'))
      val d0 = getOk(base + "&depth=0")
      assert(getOk(base).sameElements(d0), "default must be values[0]")
      val d50 = getOk(base + "&depth=50")
      assert(!d50.sameElements(d0))
      assert(getOk(base + "&depth=37.5").sameElements(d50),
        "37.5 must snap to 50 (|37.5-50| < |37.5-10|)")
      assert(getOk(base + "&depth=current").sameElements(d50))
      assert(getOk(base + "&depth=4.9").sameElements(d0),
        "4.9 must snap to 0")
      // malformed depth → 400
      assert(get(base + "&depth=abyss")._1 == 400)
      // coords endpoint dumps the depth axis
      val coords = new String(getOk("/datasets/ocean/coords/depth"))
      assert(coords.contains("\"name\":\"depth\"") &&
        coords.contains("50") && coords.contains("\"units\":\"m\""))
      // dataset details advertise the 4-D dims
      val detail = new String(getOk("/datasets/ocean"))
      assert(detail.contains("\"dims\":[\"time\",\"depth\",\"lat\",\"lon\"]"))
      // WMTS capabilities carry a depth <Dimension> with Default=first
      val caps = new String(getOk("/wmts/1.0.0/WMTSCapabilities.xml"))
      assert(caps.contains("<ows:Identifier>depth</ows:Identifier>"))
      assert(caps.contains("<ows:UOM>m</ows:UOM>"))
      assert(caps.contains("<Default>0</Default>"))
      assert(caps.contains("<Value>50</Value>"))
      // ts point: depth plane selected before the per-day stats
      val ts0 = new String(getOk("/ts/ocean/v0/point?lon=0.05&lat=40.05"))
      val ts50 = new String(getOk(
        "/ts/ocean/v0/point?lon=0.05&lat=40.05&depth=50"))
      // cell(t, 0, 0, 0) = t*10000; cell(t, 2, 0, 0) = t*10000 + 2000
      assert(ts0.contains("\"average\":0") &&
        ts0.contains("\"average\":10000"))
      assert(ts50.contains("\"average\":2000") &&
        ts50.contains("\"average\":12000"))
    } finally srv.stop()
  }

  test("pyramid downsampling keeps depth planes separate") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val lvl1 = graft.operators.Pyramid.downsample(cube,
      graft.operators.Pyramid.Mean)
    assert(lvl1.extraDims == cube.extraDims)
    // (8+1)/2 × (10+1)/2 cells per (time, depth) plane — planes never
    // blend, so the count is exactly nT × nD × 4 × 5
    assert(lvl1.df.count() == nT.toLong * nD * 4 * 5)
    // mean of a 2×2 block within ONE plane: cells (0,0),(0,1),(1,0),(1,1)
    // of (t=0, d=2) average to 2000 + (0+1+10+11)/4
    val got = lvl1.df.filter(col("y_idx") === 0 && col("x_idx") === 0 &&
        col("depth") === 50.0)
      .orderBy("time").select("v0").collect().map(_.getDouble(0))
    assert(got.head == 2000.0 + 5.5)
  }

  test("mixed-rank stores serve the majority shape group, never fail " +
      "to open") {
    val store = writeFixture(mixed = true)
    val cube = CubeIngest.open(spark, store)
    // the two DEPTH variables outvote the 3-D sst AND the equal-shape
    // sigma-axis w0: one relation carries one dim signature, and a
    // same-length different-axis variable must NOT be labeled with
    // depth coordinates (its indexers would select wrong planes)
    assert(cube.variables == Seq("v0", "v1"))
    assert(cube.extraDims.map(_.name) == Seq("depth"))
    assert(!cube.df.columns.contains("sst"))
    assert(!cube.df.columns.contains("w0"))
    assert(cube.df.count() == nT.toLong * nD * nH * nW)
    val r = cube.df.filter(col("y_idx") === 1 && col("x_idx") === 2 &&
        col("depth") === 10.0)
      .orderBy("time").select("v0", "v1").collect()
    assert(r.map(_.getDouble(0)).toSeq ==
      Seq(cell(0, 1, 1, 2), cell(1, 1, 1, 2)))
    assert(r.map(_.getDouble(1)).toSeq ==
      Seq(cell(0, 1, 1, 2) + 100000.0, cell(1, 1, 1, 2) + 100000.0))
  }

  test("rolling mean and merge_cubes keep depth planes separate") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    // trailing-2 rolling mean must window WITHIN a plane — interleaving
    // the water column's rows for a pixel silently averages depths
    val r = graft.operators.Resample.rollingMean(cube, 2, minPeriods = 1)
    assert(r.extraDims == cube.extraDims)
    val got = r.df.filter(col("y_idx") === 2 && col("x_idx") === 3 &&
        col("depth") === 50.0)
      .orderBy("time").select("v0").collect().map(_.getDouble(0))
    assert(got.length == nT)
    assert(got(0) == cell(0, 2, 2, 3))
    assert(got(1) == (cell(0, 2, 2, 3) + cell(1, 2, 2, 3)) / 2)
    // merge_cubes joins ON the extra dims: no plane cross-product
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("a", "A", cube, None))
    ctx.register(RegisteredDataset("b", "B",
      cube.copy(df = cube.df.withColumnRenamed("v0", "w0"),
        variables = Seq("w0")), None))
    ctx.registerComputed("m", "M", "merge_cubes", Seq("a", "b"), Map.empty)
    val m = ctx.dataset("m").get.cube
    assert(m.extraDims == cube.extraDims)
    assert(m.df.count() == nT.toLong * nD * nH * nW)
    val row = m.df.filter(col("y_idx") === 0 && col("x_idx") === 0 &&
      col("depth") === 10.0).orderBy("time").select("v0", "w0").head()
    assert(row.getDouble(0) == row.getDouble(1))
  }

  test("bulk pre-render selects one plane (default first, explicit " +
      "selection byte-identical to the per-request path)") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val t = cube.timeAxis.get.last
    val m = graft.render.Render.ColorMapping(0.0, 13000.0,
      graft.render.ColorMaps.paletteOrDefault("viridis"))
    def perRequest(depth: Double): Array[Byte] =
      graft.render.Render.renderTile(
        cube.copy(df = cube.df.filter(col("depth") === depth)),
        "v0", t, 0, 0, 16, 16, m, flipY = cube.grid.latAscending)
    val defaultTile = graft.render.TileMaterialize
      .renderLevel(cube, "v0", t, 16, 16, m,
        flipY = cube.grid.latAscending)
      .collect().head._3
    assert(defaultTile.sameElements(perRequest(depths.head)),
      "default pre-render = first coordinate plane")
    val deep = graft.render.TileMaterialize
      .renderLevel(cube, "v0", t, 16, 16, m,
        flipY = cube.grid.latAscending,
        extraSel = Seq("depth" -> 50.0))
      .collect().head._3
    assert(deep.sameElements(perRequest(50.0)))
    assert(!deep.sameElements(defaultTile))
    // off-axis selection fails LOUDLY — a bulk job writing zero tiles
    // "successfully" is a misconfiguration, not a result
    intercept[IllegalArgumentException](graft.render.TileMaterialize
      .renderLevel(cube, "v0", t, 16, 16, m,
        extraSel = Seq("depth" -> 37.5)))
  }

  test("materialized 4-D pyramid serves per-depth tiles over HTTP " +
      "through the direct path, zero Spark jobs per tile") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dlv").toString
    CubeIngest.writeLevels(cube, s"$dir/c.levels", tileSize = 8)
    val levels = CubeIngest.openLevels(spark, s"$dir/c.levels")
    assert(levels.nonEmpty &&
      levels.forall(_.extraDims == cube.extraDims))
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("pyr", "Pyr", cube, None,
      levels = levels))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def getOk(p: String): Array[Byte] = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, p); r.body()
      }
      val fine = ctx.dataset("pyr").get.tileGrid.numLevels - 1
      val base = s"/datasets/pyr/vars/v0/tiles/$fine/0/0.png" +
        "?vmin=0&vmax=13000"
      // warm once (footer caches), then count jobs over per-plane tiles
      getOk(base)
      val ((d0, d50), jobs) = jobsDuring(
        (getOk(base + "&depth=0"), getOk(base + "&depth=50")))
      assert(jobs.isEmpty,
        s"4-D pyramid tiles scheduled ${jobs.size} Spark job(s)")
      assert(!d0.sameElements(d50), "planes must render distinct tiles")
    } finally srv.stop()
  }

  test("4-D NetCDF classic round-trips: writer, header dims, linearized " +
      "slab reads, direct window") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dnc").toString
    val nc = s"$dir/c.nc"
    graft.sources.NetcdfStore.writeNetcdf(cube, nc)
    val back = CubeIngest.open(spark, nc)
    // units survive too: the writer emits a char `units` attribute on
    // every extra coordinate variable
    assert(back.extraDims == Seq(ExtraDim("depth", depths.toSeq, "m")))
    assert(back.df.count() == nT.toLong * nD * nH * nW)
    // every value survives the round trip (exercises the rank-4 header
    // and NetcdfOps' linearized chunk-slab offsets)
    val rows = back.df.filter(col("y_idx") === 3 && col("x_idx") === 9)
      .select("time", "depth", "v0").collect()
    assert(rows.length == nT * nD)
    rows.foreach { r =>
      val t = if (r.getTimestamp(0).toInstant.toString.startsWith(
        "2017-01-01")) 0 else 1
      val d = depths.indexOf(r.getDouble(1))
      assert(r.getDouble(2) == cell(t, d, 3, 9))
    }
    // the direct chunk window serves (t, depth) planes from the .nc too
    val t0 = back.timeAxis.get.head
    val us = t0.getTime * 1000L + (t0.getNanos / 1000) % 1000
    val win = graft.sources.DirectWindow
      .read(nc, "v0", us, 0, 0, nH, nW,
        extra = Seq(("depth", depths(1), 1))).get
    for (y <- 0 until nH; x <- 0 until nW)
      assert(win(y * nW + x) == cell(0, 1, y, x), s"($y,$x)")
  }

  test("4-D NetCDF-4/HDF5 round-trips (btree1 chunk index): rank-4 " +
      "dataspace, per-plane chunk keys, direct window") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dh5").toString
    val nc4 = s"$dir/c.nc" // HDF5 container, dispatched on file magic
    graft.sources.Hdf5.writeHdf5(cube, nc4, chunkY = 4, chunkX = 5)
    val back = CubeIngest.open(spark, nc4)
    assert(back.extraDims == Seq(ExtraDim("depth", depths.toSeq, "m")))
    assert(back.df.count() == nT.toLong * nD * nH * nW)
    val rows = back.df.filter(col("y_idx") === 6 && col("x_idx") === 8)
      .select("time", "depth", "v0").collect()
    assert(rows.length == nT * nD)
    rows.foreach { r =>
      val t = if (r.getTimestamp(0).toInstant.toString.startsWith(
        "2017-01-01")) 0 else 1
      val d = depths.indexOf(r.getDouble(1))
      assert(r.getDouble(2) == cell(t, d, 6, 8))
    }
    // direct chunk window per (time, depth) plane — the rank-4 B-tree
    // chunk keys resolve through the same read path h5py files take
    val t0 = back.timeAxis.get.last
    val us = t0.getTime * 1000L + (t0.getNanos / 1000) % 1000
    val win = graft.sources.DirectWindow
      .read(nc4, "v0", us, 0, 0, nH, nW,
        extra = Seq(("depth", depths(2), 2))).get
    for (y <- 0 until nH; x <- 0 until nW)
      assert(win(y * nW + x) == cell(1, 2, y, x), s"($y,$x)")
  }

  test("4-D HDF5 layout-v4 chunk indexes round-trip rank-4 " +
      "(single/implicit/fixed/extensible/btree2)") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dh5v4").toString
    def rows(p: String): Seq[String] =
      CubeIngest.open(spark, p).df
        .select("time", "depth", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    graft.sources.Hdf5.writeHdf5(cube, s"$dir/ref.nc",
      chunkY = 4, chunkX = 5)
    val expected = rows(s"$dir/ref.nc")
    assert(expected.length == nT * nD * nH * nW)
    val wantKind = Map("single" -> 1, "implicit" -> 2, "fixedarray" -> 3,
      "fixedarray-paged" -> 3, "extarray" -> 4, "extarray-paged" -> 4,
      "btree2" -> 5)
    for (idx <- wantKind.keys.toSeq.sorted) {
      val p = s"$dir/$idx.nc"
      graft.sources.Hdf5.writeHdf5(cube, p, chunkY = 4, chunkX = 5,
        indexType = idx)
      val ds = graft.sources.Hdf5.open(p).datasets("v0")
      assert(ds.index.kind == wantKind(idx),
        s"$idx parsed as index kind ${ds.index.kind}")
      assert(ds.shape == Seq(nT, nD, nH, nW), s"$idx shape ${ds.shape}")
      val back = CubeIngest.open(spark, p)
      assert(back.extraDims == Seq(ExtraDim("depth", depths.toSeq, "m")))
      assert(rows(p) == expected, s"index type $idx")
    }
    // the direct per-plane window works through a v4 index too
    val back = CubeIngest.open(spark, s"$dir/btree2.nc")
    val t0 = back.timeAxis.get.head
    val us = t0.getTime * 1000L + (t0.getNanos / 1000) % 1000
    val win = graft.sources.DirectWindow
      .read(s"$dir/btree2.nc", "v0", us, 0, 0, nH, nW,
        extra = Seq(("depth", depths(2), 2))).get
    for (y <- 0 until nH; x <- 0 until nW)
      assert(win(y * nW + x) == cell(0, 2, y, x), s"($y,$x)")
  }

  test("4-D zarr writers round-trip: v2 (_ARRAY_DIMENSIONS), v3 " +
      "(dimension_names), v3 sharded") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dzw").toString
    def rows(p: String): Seq[String] =
      CubeIngest.open(spark, p).df
        .select("time", "depth", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    val expected = rows(store)
    assert(expected.length == nT * nD * nH * nW)
    graft.sources.ZarrStore.writeZarr(cube, s"$dir/v2.zarr",
      chunkT = 1, chunkY = 4, chunkX = 5)
    graft.sources.ZarrStore.writeZarrV3(cube, s"$dir/v3.zarr",
      chunkT = 1, chunkY = 4, chunkX = 5)
    graft.sources.ZarrStore.writeZarrV3(cube, s"$dir/v3s.zarr",
      chunkT = 1, chunkY = 4, chunkX = 5, shardChunks = Seq(2, 2, 2))
    for (p <- Seq(s"$dir/v2.zarr", s"$dir/v3.zarr", s"$dir/v3s.zarr")) {
      val back = CubeIngest.open(spark, p)
      assert(back.extraDims == Seq(ExtraDim("depth", depths.toSeq, "m")), p)
      assert(rows(p) == expected, p)
    }
    // the rank-3 shard spec widened to rank 4 (1 inner chunk per extra
    // axis): 24 inner chunks collapse into 3 shard objects
    def filesUnder(p: String): Int = {
      val s = Files.walk(Paths.get(p))
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .count(Files.isRegularFile(_))
      finally s.close()
    }
    assert(filesUnder(s"$dir/v3s.zarr/v0/c") == 3)
    assert(filesUnder(s"$dir/v3.zarr/v0/c") == 24)
  }

  test("writeCube/open round-trips a 4-D cube; direct parquet window " +
      "serves per-plane, zero jobs") {
    val store = writeFixture()
    val cube = CubeIngest.open(spark, store)
    val dir = Files.createTempDirectory("graft-4dpq").toString
    CubeIngest.writeCube(cube, s"$dir/c", tileSize = 8)
    val back = CubeIngest.open(spark, s"$dir/c")
    assert(back.extraDims == cube.extraDims)
    assert(back.df.count() == nT.toLong * nD * nH * nW)
    val t = cube.timeAxis.get.head
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    // a request naming the WRONG dims (or none) must refuse — never
    // overlay depth planes
    assert(graft.sources.ParquetWindow
      .readWindow(s"$dir/c", "v0", us, 0, 0, nH, nW).isEmpty)
    assert(graft.sources.ParquetWindow
      .readWindow(s"$dir/c", "v0", us, 0, 0, nH, nW,
        extra = Seq(("bogus", 0.0))).isEmpty)
    // an OFF-AXIS value refuses too (None → Spark path), like the
    // chunked-store reader — never a silently-blank Some
    assert(graft.sources.ParquetWindow
      .readWindow(s"$dir/c", "v0", us, 0, 0, nH, nW,
        extra = Seq(("depth", 999.0))).isEmpty)
    // per-plane direct reads: values exact for every depth, no Spark
    // job on the serving path
    val (_, jobs) = jobsDuring {
      for (di <- 0 until nD) {
        val win = graft.sources.ParquetWindow
          .readWindow(s"$dir/c", "v0", us, 0, 0, nH, nW,
            extra = Seq(("depth", depths(di)))).get
        for (y <- 0 until nH; x <- 0 until nW)
          assert(win(y * nW + x) == cell(0, di, y, x),
            s"parquet d=$di ($y,$x)")
      }
    }
    assert(jobs.isEmpty, "direct 4-D parquet reads must schedule no job")
    // DESCENDING axis order: disk order is sorted-by-value regardless
    // (the ingest sorts the coordinate COLUMN), so the plane lookup
    // must rank by sorted value, not axis position
    val dirD = Files.createTempDirectory("graft-4dpqd").toString
    CubeIngest.writeCube(
      cube.copy(extraDims = Seq(ExtraDim("depth", depths.reverse.toSeq, "m"))),
      s"$dirD/c", tileSize = 8)
    for (di <- 0 until nD) {
      val win = graft.sources.ParquetWindow
        .readWindow(s"$dirD/c", "v0", us, 0, 0, nH, nW,
          extra = Seq(("depth", depths(di)))).get
      for (y <- 0 until nH; x <- 0 until nW)
        assert(win(y * nW + x) == cell(0, di, y, x),
          s"desc-axis d=$di ($y,$x)")
    }
    // and the served tile (Spark path) still selects the right plane
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("pq", "PQ", back, None))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def getOk(p: String): Array[Byte] = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, p); r.body()
      }
      val pqBase = "/datasets/pq/vars/v0/tiles/0/0/0.png?vmin=0&vmax=13000"
      val a = getOk(pqBase + "&depth=0")
      val b = getOk(pqBase + "&depth=50")
      assert(!a.sameElements(b))
    } finally srv.stop()
  }
}
