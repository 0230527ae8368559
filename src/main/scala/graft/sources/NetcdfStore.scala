package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.cube.{CubeFrame, CubeGrid}

/** Minimal NetCDF-3 "classic" reader/writer (SURVEY S1 live path —
  * the reference opens NetCDF datasets via xarray, context.py:245-250).
  * The classic format is a fully public, self-contained binary layout
  * (header: dims / global attrs / var table with begin offsets; data:
  * big-endian contiguous row-major), so no native library is needed.
  *
  * Supported subset (documented narrowing):
  *  - format versions 1 (32-bit offsets) and 2 (64-bit offsets);
  *  - FIXED dimensions only (record/unlimited variables rejected);
  *  - numeric types BYTE/SHORT/INT/FLOAT/DOUBLE (all surfaced as
  *    double — NetCDF classic has no 64-bit integer type);
  *  - cube convention: dims (time, lat, lon); 1-D coordinate vars of
  *    the same names (time = epoch MICROseconds as double, exact for
  *    |t| < 2^53); data vars shaped (time, lat, lon).
  *
  * NetCDF-4 is an HDF5 container — handled by the sibling [[Hdf5]]
  * reader; [[StoreOps.forPath]] dispatches on the file magic.
  */
object NetcdfStore {

  final case class NcDim(name: String, length: Int)
  final case class NcVar(name: String, dimIds: Seq[Int], ncType: Int,
                         begin: Long,
                         attrs: Map[String, Seq[Double]] = Map.empty,
                         textAttrs: Map[String, String] = Map.empty) {
    def elemBytes: Int = ncType match {
      case 1 => 1; case 3 => 2; case 4 => 4; case 5 => 4; case 6 => 8
      case other =>
        throw new IllegalArgumentException(s"unsupported nc_type $other")
    }
  }
  final case class NcHeader(dims: Seq[NcDim], vars: Seq[NcVar]) {
    def dim(name: String): NcDim = dims.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no dimension $name"))
    def variable(name: String): NcVar = vars.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no variable $name"))
    def shapeOf(v: NcVar): Seq[Int] = v.dimIds.map(dims(_).length)
  }

  // ------------------------------------------------------------- parse

  /** Parse the header reading only as many bytes as it needs. Headers
    * are KBs; the data section can be many GBs and every deserialized
    * reader task calls this (NetcdfOps.header is @transient lazy), so
    * reading the whole file here would re-buffer gigabytes per task and
    * fail outright past 2 GB (Int array limit). Start at 8 KiB and
    * double on underflow until the header fits. */
  def readHeader(path: String): NcHeader = {
    // reject non-CDF files on the first 4 bytes — without this, a magic
    // failure would retry through the whole grow loop, re-reading a
    // possibly multi-GB file several times before surfacing the error
    {
      val raf = new RandomAccessFile(path, "r")
      val m = new Array[Byte](4)
      try { raf.readFully(m) } finally raf.close()
      require(m(0) == 'C' && m(1) == 'D' && m(2) == 'F',
        s"$path is not a NetCDF classic file")
      require(m(3) == 1 || m(3) == 2,
        s"unsupported NetCDF version ${m(3)} (classic 1/2 only)")
    }
    // sane upper bound for any real header; also keeps take in Int range
    val fileLen = math.min(Files.size(Paths.get(path)), 256L << 20)
    var n = 8192L
    while (true) {
      val take = math.min(n, fileLen)
      val raf = new RandomAccessFile(path, "r")
      val raw = new Array[Byte](take.toInt)
      try { raf.seek(0); raf.readFully(raw) } finally raf.close()
      try return parseHeader(path, raw)
      catch {
        // underflow = ran off the truncated buffer; position() past the
        // limit surfaces as IllegalArgumentException. A genuine parse
        // error retries a few times (buffer grows 4x per round) and
        // then rethrows once the whole file is buffered (take == fileLen).
        case _: java.nio.BufferUnderflowException |
             _: IndexOutOfBoundsException |
             _: IllegalArgumentException if take < fileLen =>
          n *= 4
      }
    }
    sys.error("unreachable")
  }

  private def parseHeader(path: String, bytes: Array[Byte]): NcHeader = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(buf.get() == 'C' && buf.get() == 'D' && buf.get() == 'F',
      s"$path is not a NetCDF classic file")
    val version = buf.get()
    require(version == 1 || version == 2,
      s"unsupported NetCDF version $version (classic 1/2 only — " +
        "NetCDF-4/HDF5 must be converted)")
    val numrecs = buf.getInt()
    def name(): String = {
      val n = buf.getInt()
      val b = new Array[Byte](n)
      buf.get(b)
      buf.position(buf.position() + ((4 - n % 4) % 4)) // names pad to 4
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
    /** attribute list → (numeric attrs, text attrs): CF packing reads
      * the numbers, CF time decoding reads `units`/`calendar` */
    def readAttrsMap(): (Map[String, Seq[Double]], Map[String, String]) = {
      val tag = buf.getInt()
      val n = buf.getInt()
      if (tag == 0) { require(n == 0); return (Map.empty, Map.empty) }
      require(tag == 0x0C, s"bad attr tag $tag")
      val nums = Map.newBuilder[String, Seq[Double]]
      val texts = Map.newBuilder[String, String]
      (0 until n).foreach { _ =>
        val nm = name()
        val t = buf.getInt()
        val cnt = buf.getInt()
        t match {
          case 1 => nums += nm -> (0 until cnt).map(_ => buf.get().toDouble)
          case 2 =>
            val bs = new Array[Byte](cnt); buf.get(bs)
            texts += nm -> new String(bs.takeWhile(_ != 0),
              java.nio.charset.StandardCharsets.UTF_8)
          case 3 => nums += nm -> (0 until cnt).map(_ => buf.getShort().toDouble)
          case 4 => nums += nm -> (0 until cnt).map(_ => buf.getInt().toDouble)
          case 5 => nums += nm -> (0 until cnt).map(_ => buf.getFloat().toDouble)
          case 6 => nums += nm -> (0 until cnt).map(_ => buf.getDouble())
          case other =>
            throw new IllegalArgumentException(s"attr type $other")
        }
        val size = t match {
          case 1 | 2 => cnt; case 3 => cnt * 2; case 4 | 5 => cnt * 4
          case 6 => cnt * 8
        }
        buf.position(buf.position() + ((4 - size % 4) % 4)) // pad to 4
      }
      (nums.result(), texts.result())
    }
    def skipAttrs(): Unit = { readAttrsMap(); () }
    // dim_list
    val dimTag = buf.getInt(); val nDims = buf.getInt()
    val dims =
      if (dimTag == 0) { require(nDims == 0); Seq.empty }
      else {
        require(dimTag == 0x0A, s"bad dim tag $dimTag")
        (0 until nDims).map(_ => NcDim(name(), buf.getInt()))
      }
    require(!dims.exists(_.length == 0) || numrecs == 0,
      "record (unlimited) variables are not supported")
    skipAttrs() // global attributes
    // var_list
    val varTag = buf.getInt(); val nVars = buf.getInt()
    val vars =
      if (varTag == 0) { require(nVars == 0); Seq.empty }
      else {
        require(varTag == 0x0B, s"bad var tag $varTag")
        (0 until nVars).map { _ =>
          val vn = name()
          val nd = buf.getInt()
          val dimIds = (0 until nd).map(_ => buf.getInt())
          val (attrs, textAttrs) = readAttrsMap()
          val t = buf.getInt()
          buf.getInt() // vsize (recomputable)
          val begin = if (version == 1) buf.getInt().toLong else buf.getLong()
          NcVar(vn, dimIds, t, begin, attrs, textAttrs)
        }
      }
    NcHeader(dims, vars)
  }

  /** Read one hyperslab of `v`: `count` elements starting at flat
    * element offset `start` (row-major). */
  def readSlab(path: String, v: NcVar, start: Long,
               count: Int): Array[Double] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val es = v.elemBytes
      raf.seek(v.begin + start * es)
      val raw = new Array[Byte](count * es)
      raf.readFully(raw)
      val buf = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
      val out = new Array[Double](count)
      var i = 0
      v.ncType match {
        case 1 => while (i < count) { out(i) = buf.get(i).toDouble; i += 1 }
        case 3 => while (i < count) { out(i) = buf.getShort(i * 2).toDouble; i += 1 }
        case 4 => while (i < count) { out(i) = buf.getInt(i * 4).toDouble; i += 1 }
        case 5 => while (i < count) { out(i) = buf.getFloat(i * 4).toDouble; i += 1 }
        case 6 => while (i < count) { out(i) = buf.getDouble(i * 8); i += 1 }
      }
      out
    } finally raf.close()
  }

  def read1d(path: String, header: NcHeader, name: String): Array[Double] = {
    val v = header.variable(name)
    require(v.dimIds.length == 1, s"$name is not 1-D")
    readSlab(path, v, 0L, header.shapeOf(v).head)
  }

  /** Data variable names: rank ≥ 3, time-leading, (lat, lon)-trailing —
    * extra non-spatial dims (depth, …) may sit between. */
  def variableNames(header: NcHeader): Seq[String] = {
    val t = header.dims.indexWhere(_.name == "time")
    val spatial = Seq("lat", "lon").map(n =>
      header.dims.indexWhere(_.name == n))
    header.vars.filter(v => v.dimIds.length >= 3 &&
      v.dimIds.headOption.contains(t) && v.dimIds.takeRight(2) == spatial)
      .map(_.name).sorted
  }

  // ------------------------------------------------------------- writer

  /** Export a cube as NetCDF-3 classic (version 2, 64-bit offsets) —
    * driver-side fixture/ingest path, same caveat as
    * [[ZarrStore.writeZarr]]. With `packed = Some((scale, offset))`
    * data variables store as NC_SHORT with CF packing attributes
    * (scale_factor / add_offset / _FillValue = -32768), the layout
    * real-world classic cubes overwhelmingly use. */
  def writeNetcdf(cube: CubeFrame, path: String,
                  packed: Option[(Double, Double)] = None,
                  timeUnits: Option[String] = None,
                  timeCalendar: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val g = cube.grid
    val times = cube.df.select(col("time")).distinct().orderBy(col("time"))
      .collect().map(_.getTimestamp(0))
    val (nt, nh, nw) = (times.length, g.height, g.width)
    val tIdx = times.zipWithIndex.toMap
    // extra non-spatial dims sit between time and the spatial pair
    // (time, depth, lat, lon) — one f8 coordinate variable each
    val extras = cube.extraDims
    val ne = extras.map(_.values.length.toLong).product
    val eIdx: Seq[Map[Double, Int]] =
      extras.map(_.values.zipWithIndex.toMap)

    // all name arithmetic in UTF-8 BYTES — String.length counts UTF-16
    // units and diverges for non-ASCII names, corrupting every offset
    def nameBytes(n: String): Array[Byte] =
      n.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def padded(n: String): Int = {
      val b = nameBytes(n).length
      4 + b + ((4 - b % 4) % 4)
    }
    val dims = Seq("time" -> nt) ++
      extras.map(ed => ed.name -> ed.values.length) ++
      Seq("lat" -> nh, "lon" -> nw)
    val coordVars = Seq(("time", 0, nt)) ++
      extras.zipWithIndex.map { case (ed, i) =>
        (ed.name, i + 1, ed.values.length) } ++
      Seq(("lat", 1 + extras.length, nh), ("lon", 2 + extras.length, nw))
    val dataDimIds = 0 until (3 + extras.length)
    val dataVars = cube.variables
    // CF packing attribute block: tag+count (8) + scale_factor (32) +
    // add_offset (32) + _FillValue (28) — names padded to 4, values
    // padded to 4, all fixed-width
    val packAttrBytes = if (packed.isDefined) 92 else 0
    // CF time units: the time coord carries char `units` (+ optional
    // `calendar`) attributes and stores values in that interval instead
    // of raw epoch-us; the base resolves in the calendar's own
    // day-numbering so non-standard-calendar fixtures round-trip too
    val timeCf = timeUnits.map { u =>
      (u, CfTime.encoder(u, timeCalendar).getOrElse(
        throw new IllegalArgumentException(s"unparseable time units '$u'")))
    }
    val timeAttrs: Seq[(String, String)] =
      timeCf.map("units" -> _._1).toSeq ++ timeCalendar.map("calendar" -> _)
    // char attributes per coordinate variable: CF time units/calendar
    // on `time`, units on every extra dim that declares one (so
    // ExtraDim.units survives a NetCDF round trip)
    val coordAttrs: Map[String, Seq[(String, String)]] =
      (Map("time" -> timeAttrs) ++
        extras.filter(_.units.nonEmpty)
          .map(ed => ed.name -> Seq("units" -> ed.units)))
        .filter(_._2.nonEmpty)
    def attrsBytes(attrs: Seq[(String, String)]): Int =
      attrs.map { case (n, v) =>
        padded(n) + 8 + (nameBytes(v).length + 3) / 4 * 4 }.sum
    // header size: magic(4) numrecs(4) + dim_list + gatts(8) + var_list
    var size = 4 + 4 + 8 + dims.map(d => padded(d._1) + 4).sum + 8 + 8
    def varHeaderSize(name: String, ndims: Int): Int =
      padded(name) + 4 + 4 * ndims + 8 /*atts*/ + 4 /*type*/ + 4 /*vsize*/ +
        8 /*begin, v2*/
    size += coordVars.map(v => varHeaderSize(v._1, 1) +
      attrsBytes(coordAttrs.getOrElse(v._1, Nil))).sum
    size += dataVars.map(v =>
      varHeaderSize(v, 3 + extras.length) + packAttrBytes).sum

    // data sections pad to 4-byte boundaries (the classic format's
    // begin-offset alignment rule; matters for NC_SHORT payloads)
    val cellCount = nt.toLong * ne * nh * nw
    val dataBytes: Long = packed match {
      case Some(_) => (cellCount * 2 + 3) / 4 * 4
      case None => cellCount * 8
    }
    val begins = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var off = size.toLong
    coordVars.foreach { case (n, _, len) => begins(n) = off; off += len * 8L }
    dataVars.foreach { n => begins(n) = off; off += dataBytes }

    require(off <= Int.MaxValue,
      s"writeNetcdf builds the file in one in-memory buffer; total size " +
        s"$off bytes exceeds the 2 GiB limit — write a zarr store instead " +
        "(ZarrStore.writeZarr streams per chunk)")
    val out = ByteBuffer.allocate(off.toInt).order(ByteOrder.BIG_ENDIAN)
    out.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(2.toByte)
    out.putInt(0) // numrecs
    def putName(n: String): Unit = {
      val b = nameBytes(n)
      out.putInt(b.length)
      out.put(b)
      (0 until (4 - b.length % 4) % 4).foreach(_ => out.put(0.toByte))
    }
    out.putInt(0x0A).putInt(dims.length)
    dims.foreach { case (n, len) => putName(n); out.putInt(len) }
    out.putInt(0).putInt(0) // no global attrs
    out.putInt(0x0B).putInt(coordVars.length + dataVars.length)
    val FillShort: Short = -32768
    def putVar(name: String, dimIds: Seq[Int], nElems: Long,
               begin: Long, short: Boolean): Unit = {
      putName(name)
      out.putInt(dimIds.length)
      dimIds.foreach(out.putInt)
      val cAttrs = coordAttrs.getOrElse(name, Nil)
      if (cAttrs.nonEmpty) {
        out.putInt(0x0C).putInt(cAttrs.length)
        cAttrs.foreach { case (an, av) =>
          val u = nameBytes(av)
          putName(an)
          out.putInt(2).putInt(u.length) // NC_CHAR
          out.put(u)
          (0 until (4 - u.length % 4) % 4).foreach(_ => out.put(0.toByte))
        }
      } else if (!short) out.putInt(0).putInt(0) // no attrs
      else {
        val (scale, offv) = packed.get
        out.putInt(0x0C).putInt(3)
        putName("scale_factor"); out.putInt(6).putInt(1); out.putDouble(scale)
        putName("add_offset"); out.putInt(6).putInt(1); out.putDouble(offv)
        putName("_FillValue"); out.putInt(3).putInt(1)
        out.putShort(FillShort); out.putShort(0) // value + pad to 4
      }
      out.putInt(if (short) 3 else 6) // NC_SHORT | NC_DOUBLE
      val vsize = if (short) (nElems * 2 + 3) / 4 * 4 else nElems * 8L
      out.putInt(vsize.min(Int.MaxValue).toInt) // vsize (spec'd)
      out.putLong(begin)
    }
    coordVars.foreach { case (n, dimId, len) =>
      putVar(n, Seq(dimId), len, begins(n), short = false) }
    dataVars.foreach(n =>
      putVar(n, dataDimIds, cellCount, begins(n),
        short = packed.isDefined))

    // data: coordinates
    times.foreach { t =>
      val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
      out.putDouble(timeCf match {
        case Some((_, enc)) => enc(us)
        case None => us.toDouble
      })
    }
    extras.foreach(_.values.foreach(out.putDouble))
    (0 until nh).foreach(y => out.putDouble(g.latOfY(y)))
    (0 until nw).foreach(x => out.putDouble(g.lonOfX(x)))
    // data: variables
    cube.variables.foreach { v =>
      val arr = NanArray(cellCount.toInt)
      val extraCols = extras.map(ed => col(ed.name))
      cube.df.select(Seq(col("time"), col("y_idx"), col("x_idx"),
          col(v).cast("double")) ++ extraCols: _*).collect().foreach { r =>
        val t = tIdx(r.getTimestamp(0))
        // row-major (time, extras…, y, x) cell index
        var lead = t.toLong
        extras.indices.foreach { k =>
          lead = lead * extras(k).values.length + eIdx(k)(r.getDouble(4 + k))
        }
        arr(((lead * nh + r.getInt(1)) * nw + r.getInt(2)).toInt) =
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
      }
      packed match {
        case Some((scale, offv)) =>
          arr.foreach { x =>
            val q =
              if (x.isNaN) FillShort
              else math.max(-32767L, math.min(32767L,
                math.round((x - offv) / scale))).toShort
            out.putShort(q)
          }
          (0 until (dataBytes - arr.length * 2L).toInt).foreach(_ =>
            out.put(0.toByte))
        case None => arr.foreach(out.putDouble)
      }
    }
    Files.write(Paths.get(path), out.array())
    StoreCache.invalidate(path) // a re-written fixture must re-parse
  }

  /** Open a NetCDF file — classic 1/2 OR NetCDF-4/HDF5, dispatched by
    * magic — as a CubeFrame through the DSv2 relation (grid geometry
    * derived from the lat/lon coordinate variables). */
  def openCube(spark: org.apache.spark.sql.SparkSession,
               path: String): CubeFrame = {
    val ops = StoreOps.forPath(path)
    val lat = ops.read1d("lat")
    val lon = ops.read1d("lon")
    val res = if (lat.length > 1) math.abs(lat(1) - lat(0))
              else if (lon.length > 1) math.abs(lon(1) - lon(0)) else 1.0
    val latAsc = lat.length < 2 || lat(1) > lat(0)
    val grid = CubeGrid(lon.length, lat.length,
      lon.min - res / 2, lat.min - res / 2, res, latAsc)
    val df = spark.read.format(classOf[ZarrDataSource].getName)
      .option("path", path).load()
    // time axis from the file header/coordinate variable, not a scan
    val timeAxis =
      try Some(ops.read1dLongs("time").sorted
        .map(graft.cube.Cube.timestampOfMicros).toSeq)
      catch { case scala.util.control.NonFatal(_) => None }
    val cal = try ops.textAttrs("time").get("calendar")
      catch { case scala.util.control.NonFatal(_) => None }
    val vars = StoreOps.servableVariables(ops)
    val extras = vars.headOption
      .map(v => StoreOps.extraDimsOf(ops, v)).getOrElse(Nil)
    CubeFrame(df, grid, vars, timeAxis, cal, Some(path),
      extraDims = extras)
  }
}
