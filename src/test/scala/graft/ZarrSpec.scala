package graft

import org.apache.spark.sql.functions._

import graft.cube.{Cube, CubeGrid}
import graft.sources.ZarrStore

class ZarrSpec extends SparkSpec {

  test("zarr DSv2 round-trip matches the source cube (S1/S2)") {
    val grid = CubeGrid(32, 16, 0.0, 40.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-zarr").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16, codec = "zlib")

    val back = ZarrStore.openCube(spark, s"$dir/c.zarr")
    assert(back.variables == Seq("v0", "v1"))
    assert(back.grid == grid)
    assert(back.df.count() == 32L * 16 * 3)

    def key(r: org.apache.spark.sql.Row): (Long, Int, Int) =
      (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2))
    val expected = cube.df
      .select(col("time"), col("y_idx"), col("x_idx"), col("lat"),
        col("lon"), col("v0"), col("v1"))
      .collect().map(r => key(r) -> r).toMap
    val got = back.df
      .select("time", "y_idx", "x_idx", "lat", "lon", "v0", "v1")
      .collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(key(r))
      for (i <- 3 until 7)
        assert(java.lang.Double.compare(r.getDouble(i), e.getDouble(i)) == 0,
          s"cell ${key(r)} field $i: ${r.getDouble(i)} vs ${e.getDouble(i)}")
    }
  }

  test("zarr scan: chunk-aligned partitions, index and time pruning") {
    val grid = CubeGrid(32, 16, 0.0, 40.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 4, Seq("v0"),
      nanEvery = 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft-zarr").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 2, chunkY = 8,
      chunkX = 16, codec = "null")
    val df = ZarrStore.openCube(spark, s"$dir/c.zarr").df

    // full scan: (4/2) t-chunks × (16/8) y-chunks × (32/16) x-chunks
    assert(df.rdd.getNumPartitions == 2 * 2 * 2)
    // spatial window prunes whole chunks at plan time
    val window = df.filter(col("y_idx") < 8 && col("x_idx") >= 16)
    assert(window.rdd.getNumPartitions == 2 * 1 * 1)
    assert(window.count() == 8L * 16 * 4)
    // time range prunes t-chunks via the time axis
    val t1 = java.sql.Timestamp.valueOf("2017-01-04 00:00:00")
    val late = df.filter(col("time") >= t1)
    assert(late.rdd.getNumPartitions == 1 * 2 * 2)
    assert(late.count() == 32L * 16)
    // column pruning reaches the scan schema
    val pruned = df.select("time", "v0")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema") || pruned.contains("time"))
  }

  test("zarr absent COORDINATE chunk fails loudly (no epoch-0 times)") {
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zarr").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", codec = "null")
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/c.zarr/time/0")))
    val e = intercept[IllegalStateException] {
      ZarrStore.read1dLongs(s"$dir/c.zarr", "time")
    }
    assert(e.getMessage.contains("absent"))
  }

  test("zlib chunks inflate to their exact size; truncated and over-long " +
      "chunks fail loudly") {
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zlib").toString
    for (codec <- Seq("zlib", "null"))
      ZarrStore.writeZarr(cube, s"$dir/$codec.zarr", chunkT = 1, chunkY = 4,
        chunkX = 4, codec = codec)
    val z = s"$dir/zlib.zarr"
    def chunk(store: String, idx: Int*): Array[Double] =
      ZarrStore.readChunk(store, "v0", ZarrStore.readArrayMeta(store, "v0"),
        idx)
    def rewrite(key: String)(f: Array[Byte] => Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(s"$z/v0/$key")
      java.nio.file.Files.write(p, f(java.nio.file.Files.readAllBytes(p)))
    }
    // corrupt before the first read, so no cache holds the good bytes
    rewrite("0.0.0")(b => b.take(b.length - 6))
    rewrite("0.0.1") { b =>
      val inf = new java.util.zip.Inflater()
      inf.setInput(b)
      val raw = new Array[Byte](4 * 4 * 8)
      assert(inf.inflate(raw) == raw.length && inf.finished())
      inf.end()
      val d = new java.util.zip.Deflater()
      d.setInput(raw ++ Array[Byte](1, 2, 3)); d.finish()
      val out = new Array[Byte](1024)
      val n = d.deflate(out)
      assert(d.finished())
      d.end()
      out.take(n)
    }
    intercept[java.io.EOFException](chunk(z, 0, 0, 0))
    val e = intercept[java.io.IOException](chunk(z, 0, 0, 1))
    assert(e.getMessage.contains("past its 128 bytes"), e.getMessage)
    // intact chunks decode to the uncompressed store's values
    for (idx <- Seq(Seq(1, 0, 0), Seq(1, 0, 1))) {
      val (a, b) = (chunk(z, idx: _*), chunk(s"$dir/null.zarr", idx: _*))
      assert(a.length == 16 && a.zip(b).forall { case (x, y) =>
        java.lang.Double.compare(x, y) == 0 }, idx)
    }
  }

  test("zarr missing chunks read as fill value (NaN)") {
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"),
      nanEvery = 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft-zarr").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 4,
      chunkX = 4, codec = "null")
    val before = ZarrStore.openCube(spark, s"$dir/c.zarr").df
      .filter(col("v0").isNaN).count()
    // delete one chunk object: zarr semantics = all-fill
    val victim = java.nio.file.Paths.get(s"$dir/c.zarr/v0/0.0.1")
    assert(java.nio.file.Files.deleteIfExists(victim))
    val df = ZarrStore.openCube(spark, s"$dir/c.zarr").df
    val nanCells = df.filter(col("v0").isNaN).count()
    // the deleted 4×4 chunk (x 4..7, y 0..3) held no synthetic NaNs
    assert(nanCells == before + 4L * 4)
    assert(df.count() == 8L * 4)
  }

  test("blosc codec: lz4 + shuffle round-trips, memcpy fallback, errors") {
    import graft.sources.Blosc
    val rnd = new scala.util.Random(42)
    // shuffle/unshuffle identity incl. a tail that is not a multiple
    for (ts <- Seq(2, 4, 8); n <- Seq(0, 5, 128, 1027)) {
      val data = Array.fill(n)(rnd.nextInt().toByte)
      assert(Blosc.unshuffle(Blosc.shuffle(data, ts), ts).toSeq == data.toSeq,
        s"shuffle identity ts=$ts n=$n")
    }
    // lz4 block round-trip: compressible, incompressible, tiny
    for (data <- Seq(
        Array.fill(4096)(7.toByte),
        Array.tabulate(10000)(i => (i / 100).toByte),
        Array.fill(512)(rnd.nextInt().toByte),
        Array.fill(3)(1.toByte),
        Array.emptyByteArray)) {
      val comp = Blosc.lz4Compress(data)
      val out = new Array[Byte](data.length)
      assert(Blosc.lz4Decompress(comp, 0, comp.length, out, 0, data.length),
        s"lz4 decode failed for n=${data.length}")
      assert(out.toSeq == data.toSeq)
    }
    // full frames: doubles (typesize 8), multi-block, odd sizes
    for (n <- Seq(0, 16, 800, 64 * 1024 + 24, 200 * 1024 + 3)) {
      val data = Array.tabulate(n)(i => (i % 251).toByte)
      val frame = Blosc.encodeLz4(data, typesize = 8, blocksizeHint = 32 * 1024)
      assert(Blosc.decode(frame).toSeq == data.toSeq, s"frame n=$n")
    }
    // incompressible input falls back to a valid memcpy frame
    val noise = Array.fill(4096)(rnd.nextInt().toByte)
    val raw = Blosc.encodeLz4(noise, typesize = 8)
    assert(raw.length == 16 + noise.length && (raw(2) & 0x2) != 0)
    assert(Blosc.decode(raw).toSeq == noise.toSeq)
    // a frame claiming an out-of-range codec id still fails loudly
    val badCodec = Blosc.encodeLz4(Array.fill(256)(1.toByte), 8).clone()
    badCodec(2) = ((badCodec(2) & 0x1F) | (6 << 5)).toByte
    assert(intercept[IllegalArgumentException](Blosc.decode(badCodec))
      .getMessage.contains("codec"))
  }

  test("blosclz codec: pinned stream decodes, round-trips, far matches") {
    import graft.sources.Blosc
    // pinned bytes from the public blosclz.c stream format:
    // literal run "abcd" + match len 4 distance 4 -> "abcdabcd"
    val m = new Array[Byte](8)
    assert(Blosc.blosclzDecompress(
      Array[Byte](3, 'a', 'b', 'c', 'd', 64, 3), 0, 7, m, 0, 8))
    assert(new String(m) == "abcdabcd")
    // literal 'x' + extended-length match at distance 1 (RLE memset)
    val r = new Array[Byte](10)
    assert(Blosc.blosclzDecompress(
      Array[Byte](0, 'x', 224.toByte, 0, 0), 0, 5, r, 0, 10))
    assert(new String(r) == "x" * 10)
    // round-trips: runs, cycles, noise, tiny, empty
    val rnd2 = new scala.util.Random(7)
    for (data <- Seq(
        Array.fill(4096)(7.toByte),
        Array.tabulate(10000)(i => (i / 100).toByte),
        Array.fill(512)(rnd2.nextInt().toByte),
        Array.fill(3)(1.toByte),
        Array.emptyByteArray)) {
      val comp = Blosc.blosclzCompress(data)
      val out = new Array[Byte](data.length)
      assert(Blosc.blosclzDecompress(comp, 0, comp.length, out, 0, data.length),
        s"blosclz decode failed for n=${data.length}")
      assert(out.toSeq == data.toSeq)
    }
    // far match: a repeat at distance > MAX_DISTANCE (8191)
    val far = new Array[Byte](9100)
    rnd2.nextBytes(far)
    System.arraycopy(far, 0, far, 9000, 100)
    val fcomp = Blosc.blosclzCompress(far)
    val fout = new Array[Byte](far.length)
    assert(Blosc.blosclzDecompress(fcomp, 0, fcomp.length, fout, 0, far.length))
    assert(fout.toSeq == far.toSeq)
    // full blosclz frames decode through the dispatcher
    for (n <- Seq(16, 800, 64 * 1024 + 24)) {
      val data = Array.tabulate(n)(i => (i % 251).toByte)
      val frame = Blosc.encode(data, typesize = 8, cname = "blosclz")
      assert((frame(2) >> 5 & 0x7) == 0, "codec id must be blosclz")
      assert(Blosc.decode(frame).toSeq == data.toSeq, s"blosclz frame n=$n")
    }
  }

  test("bit-shuffle: pinned layout, inverse, frames decode") {
    import graft.sources.Blosc
    // pinned layout (bitshuffle library / c-blosc): output plane j*8+k
    // holds bit k of byte j of each element, elements packed LSB-first
    val counting = Array.tabulate(16)(_.toByte)
    assert(Blosc.bitShuffle(counting, 1).toSeq == Seq(
      0xAA, 0xAA, 0xCC, 0xCC, 0xF0, 0xF0, 0x00, 0xFF,
      0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte))
    assert(Blosc.bitShuffle(counting, 2).toSeq == Seq(
      0x00, 0xAA, 0xCC, 0xF0, 0, 0, 0, 0,
      0xFF, 0xAA, 0xCC, 0xF0, 0, 0, 0, 0).map(_.toByte))
    // inverse identity incl. non-multiple-of-8 element tails and
    // trailing bytes that are not a whole element
    val rnd3 = new scala.util.Random(11)
    for (ts <- Seq(1, 2, 4, 8); n <- Seq(0, 5, 64, 129, 1027)) {
      val data = Array.fill(n)(rnd3.nextInt().toByte)
      assert(Blosc.bitUnshuffle(Blosc.bitShuffle(data, ts), ts).toSeq
        == data.toSeq, s"bitshuffle identity ts=$ts n=$n")
    }
    // frames with bit-shuffle + both codecs decode to the input
    for (cname <- Seq("lz4", "blosclz"); n <- Seq(16, 800, 64 * 1024 + 24)) {
      val data = Array.tabulate(n)(i => (i % 13).toByte)
      val frame = Blosc.encode(data, typesize = 4, cname = cname,
        shuffleMode = Blosc.ShuffleBit)
      assert(Blosc.decode(frame).toSeq == data.toSeq,
        s"bitshuffle frame cname=$cname n=$n")
    }
  }

  test("zarr CF mask-and-scale: .zattrs scale/offset/fill apply on read") {
    val grid = CubeGrid(16, 8, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-zcf").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    val plain = ZarrStore.openCube(spark, s"$dir/c.zarr").df
      .select("time", "y_idx", "x_idx", "v0").collect().map(r =>
        (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    // the same store with CF packing attributes on v0 (what xr.open_zarr
    // would mask-and-scale); .zmetadata removed so .zattrs is live
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.zarr/v0/.zattrs"),
      """{"scale_factor": 0.5, "add_offset": 3.0, "units": "K"}""")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/c.zarr/.zmetadata"))
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    val meta = ZarrStore.readArrayMeta(s"$dir/c.zarr", "v0")
    assert(meta.attrs.get("scale_factor").contains(Seq(0.5)))
    assert(!meta.attrs.contains("units")) // text attrs are not numeric
    val cf = ZarrStore.openCube(spark, s"$dir/c.zarr").df
      .select("time", "y_idx", "x_idx", "v0").collect().map(r =>
        (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    assert(cf.size == plain.size && cf.nonEmpty)
    cf.foreach { case (k, v) =>
      val o = plain(k)
      if (o.isNaN) assert(v.isNaN, s"NaN hole lost at $k")
      else assert(java.lang.Double.compare(v, o * 0.5 + 3.0) == 0, s"cell $k")
    }
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
  }

  test("mixed packing: per-variable CF attrs apply per variable") {
    // one packed variable next to an unpacked one, SELECTED TOGETHER:
    // the scan must use each array's own attrs, not the geometry
    // carrier's (regression: shared meta scaled every projected var)
    val grid = CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0", "v1"),
      nanEvery = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-zmix").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 4,
      chunkX = 8)
    def both(): Map[(Long, Int, Int), (Double, Double)] =
      ZarrStore.openCube(spark, s"$dir/c.zarr").df
        .select("time", "y_idx", "x_idx", "v0", "v1").collect().map(r =>
          (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2)) ->
            (r.getDouble(3), r.getDouble(4))).toMap
    val plain = both()
    // pack ONLY v0 (alphabetically first — the geometry carrier)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.zarr/v0/.zattrs"),
      """{"scale_factor": 2.0, "add_offset": 1.0}""")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/c.zarr/.zmetadata"))
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    both().foreach { case (k, (s0, s1)) =>
      val (p0, p1) = plain(k)
      if (!p0.isNaN)
        assert(java.lang.Double.compare(s0, p0 * 2.0 + 1.0) == 0,
          s"v0 must scale at $k")
      if (!p1.isNaN)
        assert(java.lang.Double.compare(s1, p1) == 0,
          s"v1 must NOT inherit v0's attrs at $k")
    }
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
  }

  test("zarr CF time units: 'days since' axis decodes to timestamps") {
    val grid = CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"),
      nanEvery = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-ztu").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 4,
      chunkX = 8)
    def rows(): Seq[String] =
      ZarrStore.openCube(spark, s"$dir/c.zarr").df
        .select("time", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    val expected = rows()
    // replace the epoch-us time axis with a CF days-since axis (what
    // xarray-written stores carry): raw f8 values 0,1,2 + units attr
    val tdir = java.nio.file.Paths.get(s"$dir/c.zarr/time")
    java.nio.file.Files.writeString(tdir.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "fill_value": 0, "order": "C",
        | "filters": null}""".stripMargin)
    java.nio.file.Files.writeString(tdir.resolve(".zattrs"),
      """{"units": "days since 2017-01-01", "calendar": "standard"}""")
    val bb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 1.0, 2.0).foreach(bb.putDouble)
    java.nio.file.Files.write(tdir.resolve("0"), bb.array())
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/c.zarr/.zmetadata"))
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    assert(rows() == expected, "CF-units axis must decode identically")
    // a 360_day calendar decodes to calendar-native epoch-us (days
    // counted in the 360-day year): base 2017-01-01 = (2017-1970)*360
    // = 16920 calendar days from the epoch
    java.nio.file.Files.writeString(tdir.resolve(".zattrs"),
      """{"units": "days since 2017-01-01", "calendar": "360_day"}""")
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    val opened360 = ZarrStore.openCube(spark, s"$dir/c.zarr")
    val day = 86400000000L
    assert(opened360.timeCalendar.contains("360_day"))
    assert(opened360.timeAxis.get.map(t =>
      t.getTime * 1000L + (t.getNanos / 1000) % 1000) ==
      Seq(16920L * day, 16921L * day, 16922L * day))
    // ...and the server's labels come out in the 360_day calendar, not
    // drifted through java.time
    assert(opened360.timeAxis.get.map(t => graft.sources.CfTime.isoLabel(
      t.getTime * 1000L, opened360.timeCalendar)) ==
      Seq("2017-01-01T00:00:00Z", "2017-01-02T00:00:00Z",
        "2017-01-03T00:00:00Z"))
    // a genuinely unknown calendar still fails loudly
    java.nio.file.Files.writeString(tdir.resolve(".zattrs"),
      """{"units": "days since 2017-01-01", "calendar": "lunar"}""")
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    val e = intercept[Exception](rows())
    assert(e.getMessage != null && e.getMessage.contains("calendar") ||
      e.getCause != null, s"got: $e")
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
  }

  test("numcodecs lz4 compressor decodes (v2)") {
    val grid = CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"),
      nanEvery = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-lz4").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 4,
      chunkX = 8)
    val expected = ZarrStore.openCube(spark, s"$dir/c.zarr").df
      .select("time", "y_idx", "x_idx", "v0")
      .collect().map(_.toString).sorted.toSeq
    // re-encode the time axis with the numcodecs LZ4 layout:
    // LE u32 decompressed size + one raw lz4 block
    val tdir = java.nio.file.Paths.get(s"$dir/c.zarr/time")
    java.nio.file.Files.writeString(tdir.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<i8",
        | "compressor": {"id": "lz4"}, "fill_value": 0, "order": "C",
        | "filters": null}""".stripMargin)
    // raw LE int64 epoch-us axis (2017-01-01 + i days), then the
    // numcodecs framing over it
    val raw = {
      val b = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 3).foreach(i => b.putLong(1483228800000000L + i * 86400000000L))
      b.array()
    }
    val comp = graft.sources.Blosc.lz4Compress(raw)
    val bb = java.nio.ByteBuffer.allocate(4 + comp.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(raw.length); bb.put(comp)
    java.nio.file.Files.write(tdir.resolve("0"), bb.array())
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/c.zarr/.zmetadata"))
    graft.sources.StoreCache.invalidate(s"$dir/c.zarr")
    val got = ZarrStore.openCube(spark, s"$dir/c.zarr").df
      .select("time", "y_idx", "x_idx", "v0")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected, "lz4-compressed axis must decode identically")
  }

  test("direct chunk-window reads match the DSv2 scan (tile fast path)") {
    val grid = CubeGrid(40, 24, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"),
      nanEvery = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-win").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16)
    val opened = ZarrStore.openCube(spark, s"$dir/c.zarr")
    assert(opened.storePath.contains(s"$dir/c.zarr"))
    val t = opened.timeAxis.get.last
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    // a window crossing chunk borders AND the grid edge (x0+w > width)
    val (y0, x0, h, w) = (5, 25, 16, 16)
    val win = graft.sources.StoreWindow
      .readWindow(s"$dir/c.zarr", "v0", us, y0, x0, h, w).get
    val viaSpark = opened.df
      .filter(col("time") === lit(t) &&
        col("x_idx") >= x0 && col("x_idx") < x0 + w &&
        col("y_idx") >= y0 && col("y_idx") < y0 + h)
      .select("y_idx", "x_idx", "v0").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until h; x <- 0 until w) {
      val expected = viaSpark.getOrElse((y0 + y, x0 + x), Double.NaN)
      assert(java.lang.Double.compare(win(y * w + x), expected) == 0,
        s"cell (${y0 + y}, ${x0 + x})")
    }
    // absent time step -> None (server falls back to the Spark path)
    assert(graft.sources.StoreWindow
      .readWindow(s"$dir/c.zarr", "v0", us + 1, y0, x0, h, w).isEmpty)
    // the serving path produces the same PNG bytes as the Spark path
    val m = graft.render.Render.ColorMapping(0.0, 100.0,
      graft.render.Render.gradientPalette(256, (0, 0, 0), (255, 255, 255)))
    val direct = graft.sources.StoreWindow
      .readWindow(s"$dir/c.zarr", "v0", us, 0, 0, 32, 32)
      .map(v => graft.render.Render.renderWindow(v, 32, 32, m,
        flipY = true)).get
    val spark0 = graft.render.Render.renderTile(opened, "v0", t, 0, 0,
      32, 32, m, flipY = true)
    assert(direct.sameElements(spark0))
  }

  test("registration coord resolution reads zero chunk data (store axis)") {
    val grid = CubeGrid(16, 8, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"))
    val dir = java.nio.file.Files.createTempDirectory("graft-axis").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    val uri = s"file://$dir/c.zarr"
    val opened = ZarrStore.openCube(spark, uri)
    assert(opened.timeAxis.isDefined && opened.timeAxis.get.size == 3,
      "store-backed cube must surface its time axis from metadata")
    // registration-time coord resolution answers from the parsed axis:
    // no further store fetch, no Spark job over the fact table
    val caching = graft.sources.BlobStore.forStore(uri)
      .asInstanceOf[graft.sources.CachingBlobStore]
    val before = caching.fetches.get()
    val ds = graft.server.RegisteredDataset("c", "C", opened, None)
    assert(ds.timeCoords.size == 3)
    assert(ds.latestTime == ds.timeCoords.last)
    assert(caching.fetches.get() == before,
      "coord resolution must read zero chunk data")
    // and the metadata axis is exactly what a fact-table scan yields
    val scanned = opened.df.select(col("time")).distinct().orderBy("time")
      .collect().map(_.getTimestamp(0)).toSeq
    assert(ds.timeCoords == scanned)
  }

  test("blosclz + bitshuffle zarr store reads bit-identical to lz4 (S2)") {
    import graft.sources.Blosc
    val grid = CubeGrid(32, 16, 0.0, 40.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-blz").toString
    ZarrStore.writeZarr(cube, s"$dir/lz4.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16, codec = "blosc")
    // same store, every chunk re-framed as blosclz + bit-shuffle (the
    // frame is self-describing, so the .zarray metadata stays valid)
    val src = java.nio.file.Paths.get(s"$dir/lz4.zarr")
    val dst = java.nio.file.Paths.get(s"$dir/blz.zarr")
    java.nio.file.Files.walk(src).forEach { p =>
      val rel = src.relativize(p)
      val t = dst.resolve(rel)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else if (p.getFileName.toString.startsWith("."))
        java.nio.file.Files.copy(p, t)
      else {
        val plain = Blosc.decode(java.nio.file.Files.readAllBytes(p))
        java.nio.file.Files.write(t, Blosc.encode(plain, typesize = 8,
          cname = "blosclz", shuffleMode = Blosc.ShuffleBit))
      }
    }
    val chunk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/blz.zarr/v0/0.0.0"))
    assert(((chunk(2) >> 5) & 0x7) == 0 && (chunk(2) & 0x4) != 0
      || (chunk(2) & 0x2) != 0, "chunks must be blosclz+bitshuffle or memcpy")
    val cols = Seq("time", "y_idx", "x_idx", "lat", "lon", "v0", "v1")
    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df.select(cols.head, cols.tail: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/blz.zarr") == rows(s"$dir/lz4.zarr"))
    assert(rows(s"$dir/blz.zarr").length == 32 * 16 * 3)
  }

  test("blosc-lz4 zarr store reads bit-identical to the zlib store") {
    val grid = CubeGrid(32, 16, 0.0, 40.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-blosc").toString
    ZarrStore.writeZarr(cube, s"$dir/z.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16, codec = "zlib")
    ZarrStore.writeZarr(cube, s"$dir/b.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16, codec = "blosc")
    // the chunk objects really are blosc frames (header magic: version 2)
    val chunk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/b.zarr/v0/0.0.0"))
    assert(chunk(0) == 2 && ((chunk(2) >> 5) & 0x7) == 1) // lz4 codec id
    val cols = Seq("time", "y_idx", "x_idx", "lat", "lon", "v0", "v1")
    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df.select(cols.head, cols.tail: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/b.zarr") == rows(s"$dir/z.zarr"))
    assert(rows(s"$dir/b.zarr").length == 32 * 16 * 3)
  }

  test("zarr v3 store reads identical to v2 (S2 v3)") {
    val grid = CubeGrid(16, 8, -2.0, 30.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-z3").toString
    ZarrStore.writeZarr(cube, s"$dir/v2.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    ZarrStore.writeZarrV3(cube, s"$dir/v3.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    // v3 layout on disk: zarr.json documents + nested c/ chunk keys
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$dir/v3.zarr/v0/zarr.json")))
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$dir/v3.zarr/v0/c/0/0/0")))
    val meta = ZarrStore.readArrayMeta(s"$dir/v3.zarr", "v0")
    assert(meta.chunks == Seq(1, 8, 8) && meta.comp == "gzip" &&
      meta.chunkKey(Seq(1, 0, 1)) == "c/1/0/1")

    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "lat", "lon", "v0", "v1")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/v3.zarr") == rows(s"$dir/v2.zarr"))
    assert(rows(s"$dir/v3.zarr").length == 16 * 8 * 3)

    // external stores have no graft grid attribute: the grid derives
    // from the lat/lon axes instead
    val root = java.nio.file.Paths.get(s"$dir/v3.zarr/zarr.json")
    java.nio.file.Files.writeString(root,
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    graft.sources.StoreCache.invalidate(s"$dir/v3.zarr")
    val derived = ZarrStore.openCube(spark, s"$dir/v3.zarr")
    assert(derived.grid == grid)
    assert(derived.df.count() == 16L * 8 * 3)
  }

  test("zarr v3 sharding_indexed: ranged reads, missing-chunk fill") {
    val grid = CubeGrid(32, 16, 0.0, 20.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-shard").toString
    ZarrStore.writeZarrV3(cube, s"$dir/plain.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    ZarrStore.writeZarrV3(cube, s"$dir/shard.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8, shardChunks = Seq(1, 2, 2))
    // 2×2×4 = 16 inner chunks collapse into 2×1×2 = 4 shard objects
    def filesUnder(p: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
      finally s.close()
    }
    assert(filesUnder(s"$dir/shard.zarr/v0/c").length == 4)
    assert(filesUnder(s"$dir/plain.zarr/v0/c").length == 16)
    val meta = ZarrStore.readArrayMeta(s"$dir/shard.zarr", "v0")
    assert(meta.sharded && meta.chunks == Seq(1, 8, 8) &&
      meta.shardShape == Seq(1, 16, 16) && meta.shardIndexCrc)

    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/shard.zarr") == rows(s"$dir/plain.zarr"))
    // the scan still plans one partition per INNER chunk
    assert(ZarrStore.openCube(spark, s"$dir/shard.zarr")
      .df.rdd.getNumPartitions == 16)
    // a deleted shard object reads as fill, not an error
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/shard.zarr/v0/c/1/0/1")))
    val withHole = ZarrStore.readChunk(s"$dir/shard.zarr", "v0", meta,
      Seq(1, 0, 2))
    assert(withHole.forall(_.isNaN))
  }

  test("zstd decodes in zarr v2, v3 and blosc frames; snappy in blosc") {
    val grid = CubeGrid(16, 8, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-zstd").toString
    ZarrStore.writeZarr(cube, s"$dir/ref.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8, codec = "zlib")
    ZarrStore.writeZarr(cube, s"$dir/v2z.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8, codec = "zstd")
    ZarrStore.writeZarrV3(cube, s"$dir/v3z.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8, codec = "zstd")
    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/v2z.zarr") == rows(s"$dir/ref.zarr"))
    assert(rows(s"$dir/v3z.zarr") == rows(s"$dir/ref.zarr"))

    // blosc frames with zstd / snappy inner codecs (one block, 1 split)
    def bloscFrame(codecId: Int, plain: Array[Byte],
                   comp: Array[Byte]): Array[Byte] = {
      val total = 16 + 4 + 4 + comp.length
      val b = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte).put(1.toByte) // versions
      b.put((codecId << 5).toByte) // flags: no shuffle
      b.put(8.toByte) // typesize
      b.putInt(plain.length).putInt(plain.length).putInt(total)
      b.putInt(20) // block 0 start
      b.putInt(comp.length)
      b.put(comp)
      b.array()
    }
    val plain = Array.tabulate[Byte](512)(i => (i * 7 % 100).toByte)
    val viaZstd = bloscFrame(4, plain,
      com.github.luben.zstd.Zstd.compress(plain, 3))
    assert(graft.sources.Blosc.decode(viaZstd).toSeq == plain.toSeq)
    val viaSnappy = bloscFrame(2, plain,
      org.xerial.snappy.Snappy.compress(plain))
    assert(graft.sources.Blosc.decode(viaSnappy).toSeq == plain.toSeq)
  }

  test("consolidated .zmetadata: one metadata fetch serves the store") {
    val grid = CubeGrid(16, 8, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0", "v1"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zmeta").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    val store = s"$dir/c.zarr"
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(store, ".zmetadata")))

    def metaCost(body: => Unit): Long = {
      graft.sources.StoreCache.invalidate(store)
      val before = ZarrStore.metaFileReads.get()
      body
      ZarrStore.metaFileReads.get() - before
    }
    def openAll(): Unit = {
      ZarrStore.variableNames(store)
      ZarrStore.readArrayMeta(store, "v0")
      ZarrStore.readArrayMeta(store, "v1")
      ZarrStore.readArrayMeta(store, "time")
    }
    // consolidated: exactly one store access (the .zmetadata read)
    assert(metaCost(openAll()) == 1L)
    // same data either way, and without .zmetadata every array pays
    val vars = ZarrStore.variableNames(store)
    val meta = ZarrStore.readArrayMeta(store, "v0")
    assert(java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(store, ".zmetadata")))
    val plain = metaCost(openAll())
    assert(plain > 1L, s"expected >1 metadata reads, got $plain")
    assert(ZarrStore.variableNames(store) == vars)
    // NaN fill values defeat case-class equality; compare via toString
    assert(ZarrStore.readArrayMeta(store, "v0").toString == meta.toString)
    // cube still round-trips with the consolidated view gone
    graft.sources.StoreCache.invalidate(store)
    assert(ZarrStore.openCube(spark, store).df.count() == 16L * 8 * 2)
  }

  test("zarr time pruning is correct on a DESCENDING time axis") {
    // CF stores legally carry reversed time axes (StoreCache.timeAxis
    // handles them); chunk pruning must test the chunk's actual time
    // slice, not assume its ENDPOINTS are [min, max] — an
    // endpoint-only check silently prunes the chunk holding the
    // latest time on a descending axis (round-17 review find).
    val grid = CubeGrid(16, 8, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 4, Seq("v0"),
      nanEvery = 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft-zdesc").toString
    val store = s"$dir/c.zarr"
    ZarrStore.writeZarr(cube, store, chunkT = 2, chunkY = 8, chunkX = 16,
      codec = "null")
    val times = ZarrStore.openCube(spark, store).df
      .select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0))
    val latest = ZarrStore.openCube(spark, store).df
      .filter(col("time") === times(3))
      .select("y_idx", "x_idx", "v0").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // surgery: reverse the axis to [t3,t2,t1,t0] and rearrange v0 so
    // data still matches its time. codec=null → raw LE f8 bytes:
    // reverse the axis chunk's 8-byte groups; v0 chunk files hold two
    // (t, 8, 16) planes each — swap the files AND their halves, so
    // file 0 = [plane(t3), plane(t2)], file 1 = [plane(t1), plane(t0)]
    import java.nio.file.{Files => F, Paths => P}
    val axis = F.readAllBytes(P.get(store, "time", "0"))
    val rev = new Array[Byte](axis.length)
    for (i <- 0 until axis.length / 8; b <- 0 until 8)
      rev(i * 8 + b) = axis(axis.length - (i + 1) * 8 + b)
    F.write(P.get(store, "time", "0"), rev)
    def halfSwap(bytes: Array[Byte]): Array[Byte] = {
      val h = bytes.length / 2
      bytes.slice(h, bytes.length) ++ bytes.slice(0, h)
    }
    val c0 = F.readAllBytes(P.get(store, "v0", "0.0.0"))
    val c1 = F.readAllBytes(P.get(store, "v0", "1.0.0"))
    F.write(P.get(store, "v0", "0.0.0"), halfSwap(c1))
    F.write(P.get(store, "v0", "1.0.0"), halfSwap(c0))
    graft.sources.StoreCache.invalidate(store)
    val df = ZarrStore.openCube(spark, store).df
    assert(df.count() == 4L * 8 * 16, "surgery changed the row count")
    // the regression: filter at the MAX time — it lives in the chunk
    // whose endpoint values are [t3, t2], which the old endpoint check
    // pruned (t2 < t3) even though the chunk contains t3
    val late = df.filter(col("time") >= times(3))
    assert(late.count() == 8L * 16,
      "descending-axis chunk holding the latest time was pruned")
    // pruning still prunes: the [t1, t0] chunk is gone from the plan
    assert(late.rdd.getNumPartitions == 1)
    // and the data still rides with its time after the surgery
    // (NaN-tolerant compare: the byte-level surgery preserves the
    // store's non-canonical NaN bits, which boxed equality rejects)
    val lateVals = late.select("y_idx", "x_idx", "v0").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(lateVals.keySet == latest.keySet &&
      lateVals.forall { case (k, a) =>
        val b = latest(k); (a.isNaN && b.isNaN) || a == b },
      "surgery broke the data-time pairing")
  }

  test("StoreCache.invalidate drops the consolidated-metadata cache: " +
      "an externally republished store serves its NEW metadata") {
    // Round-17 review find: zmetaCache/shardIndexCache survived the
    // shared invalidation seam (and config reloads via
    // BlobStore.dropAll → StoreCache.clear), serving pre-publication
    // ArrayMetas against republished objects. Writers that go through
    // writeZarr invalidate themselves — this simulates an EXTERNAL
    // republisher (different chunk grid, same path).
    val grid = CubeGrid(16, 8, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-zinv").toString
    val store = s"$dir/c.zarr"
    ZarrStore.writeZarr(cube, store, chunkT = 1, chunkY = 8, chunkX = 16)
    assert(ZarrStore.readArrayMeta(store, "v0").chunks == Seq(1, 8, 16))
    // external republish: same path, different chunking (built
    // elsewhere, moved in — no writeZarr call on THIS path)
    val other = s"$dir/rebuilt.zarr"
    ZarrStore.writeZarr(cube, other, chunkT = 1, chunkY = 4, chunkX = 8)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(store))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(other), new java.io.File(store))
    // precondition: without invalidation the stale consolidated
    // metadata still answers (that is the hazard being closed)
    assert(ZarrStore.readArrayMeta(store, "v0").chunks == Seq(1, 8, 16))
    graft.sources.StoreCache.invalidate(store)
    assert(ZarrStore.readArrayMeta(store, "v0").chunks == Seq(1, 4, 8),
      "invalidate left the stale consolidated metadata cached")
    assert(ZarrStore.openCube(spark, store).df.count() == 16L * 8 * 2)
  }
}
