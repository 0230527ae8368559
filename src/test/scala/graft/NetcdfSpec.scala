package graft

import org.apache.spark.sql.functions._

import graft.cube.{Cube, CubeGrid, CubeIngest}
import graft.sources.NetcdfStore

class NetcdfSpec extends SparkSpec {

  test("netcdf-3 DSv2 round-trip matches the source cube (S1 live)") {
    val grid = CubeGrid(16, 8, 10.0, -4.0, 0.5, latAscending = false)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0", "v1"),
      nanEvery = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-nc").toString
    NetcdfStore.writeNetcdf(cube, s"$dir/c.nc")

    val back = CubeIngest.open(spark, s"$dir/c.nc")
    assert(back.variables == Seq("v0", "v1"))
    assert(back.grid == grid)
    assert(back.df.count() == 16L * 8 * 3)

    def key(r: org.apache.spark.sql.Row): (Long, Int, Int) =
      (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2))
    val expected = cube.df.select(col("time"), col("y_idx"), col("x_idx"),
        col("lat"), col("lon"), col("v0"), col("v1"))
      .collect().map(r => key(r) -> r).toMap
    val got = back.df.select("time", "y_idx", "x_idx", "lat", "lon",
      "v0", "v1").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(key(r))
      for (i <- 3 until 7)
        assert(java.lang.Double.compare(r.getDouble(i), e.getDouble(i)) == 0,
          s"cell ${key(r)} field $i")
    }
  }

  test("netcdf scan: one partition per time slice, time pruning works") {
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 4, Seq("v0"),
      nanEvery = 1000)
    val dir = java.nio.file.Files.createTempDirectory("graft-nc").toString
    NetcdfStore.writeNetcdf(cube, s"$dir/c.nc")
    val df = NetcdfStore.openCube(spark, s"$dir/c.nc").df
    // classic layout = contiguous (time, lat, lon) → chunk per slice
    assert(df.rdd.getNumPartitions == 4)
    val t1 = java.sql.Timestamp.valueOf("2017-01-03 00:00:00")
    val late = df.filter(col("time") >= t1)
    assert(late.rdd.getNumPartitions == 2)
    assert(late.count() == 8L * 4 * 2)
  }

  test("netcdf header round-trips dims, vars and offsets") {
    val grid = CubeGrid(4, 2, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("sst"))
    val dir = java.nio.file.Files.createTempDirectory("graft-nc").toString
    NetcdfStore.writeNetcdf(cube, s"$dir/c.nc")
    val h = NetcdfStore.readHeader(s"$dir/c.nc")
    assert(h.dims.map(d => d.name -> d.length) ==
      Seq("time" -> 2, "lat" -> 2, "lon" -> 4))
    assert(h.vars.map(_.name) == Seq("time", "lat", "lon", "sst"))
    assert(NetcdfStore.variableNames(h) == Seq("sst"))
    // coordinate arrays decode
    assert(NetcdfStore.read1d(s"$dir/c.nc", h, "lon").toSeq ==
      Seq(0.5, 1.5, 2.5, 3.5))
    assert(NetcdfStore.read1d(s"$dir/c.nc", h, "lat").toSeq == Seq(0.5, 1.5))
  }

  test("CF units parse: intervals, base-timestamp shapes, calendars") {
    import graft.sources.CfTime
    val day = 86400000000L
    assert(CfTime.parseUnits("days since 1970-01-01", None)
      .contains((0L, 86400e6)))
    assert(CfTime.parseUnits("seconds since 1970-01-02", None)
      .contains((day, 1e6)))
    assert(CfTime.parseUnits("hours since 1970-01-01 06:00:00", None)
      .contains((6L * 3600000000L, 3600e6)))
    assert(CfTime.parseUnits("Days since 1970-01-01T00:00:00Z", None)
      .contains((0L, 86400e6))) // case-insensitive, T/Z forms
    assert(CfTime.parseUnits("milliseconds since 1970-01-01", None)
      .contains((0L, 1e3)))
    assert(CfTime.parseUnits("kelvin", None).isEmpty) // not a time unit
    intercept[IllegalArgumentException](
      CfTime.parseUnits("fortnights since 1970-01-01", None))
    assert(CfTime.parseUnits("days since 1970-01-01",
      Some("proleptic_gregorian")).isDefined)
    // a genuinely unknown calendar still fails loudly
    intercept[IllegalArgumentException](
      CfTime.parseUnits("days since 1970-01-01", Some("lunar")))
  }

  test("CF calendars: 360_day/noleap/all_leap/julian arithmetic") {
    import graft.sources.CfTime
    val day = 86400000000L

    // 360_day: every month is 30 days; base day-number pinned by hand:
    // (2000-1970)*360 + (2-1)*30 + (28-1) = 10857
    assert(CfTime.parseUnits("days since 2000-02-28", Some("360_day"))
      .contains((10857L * day, 86400e6)))
    // counts 0..3 from 2000-02-28 pass through 02-29, 02-30 (a date
    // that EXISTS in this calendar), then 03-01
    val (b360, iv360) =
      CfTime.parseUnits("days since 2000-02-28", Some("360_day")).get
    val ax = CfTime.decode(Array(0.0, 1.0, 2.0, 3.0), b360, iv360)
    assert(ax.map(CfTime.isoLabel(_, Some("360_day"))).toSeq == Seq(
      "2000-02-28T00:00:00Z", "2000-02-29T00:00:00Z",
      "2000-02-30T00:00:00Z", "2000-03-01T00:00:00Z"))
    // a 360_day year is 360 days exactly
    assert(CfTime.isoLabel(b360 + 360L * day, Some("360_day"))
      == "2001-02-28T00:00:00Z")

    // noleap: no Feb 29 ever; (2000-1970)*365 + 59 = noleap day of
    // 2000-03-01 (Jan 31 + Feb 28 = 59)
    assert(CfTime.parseUnits("days since 2000-03-01", Some("noleap"))
      .contains(((30L * 365 + 59) * day, 86400e6)))
    assert(CfTime.isoLabel((30L * 365 + 58) * day, Some("365_day"))
      == "2000-02-28T00:00:00Z") // day before 03-01 is 02-28, not 02-29
    intercept[IllegalArgumentException]( // Feb 29 invalid in noleap
      CfTime.parseUnits("days since 2000-02-29", Some("noleap")))

    // all_leap: every year has Feb 29; 1972-02-29 =
    // (1972-1970)*366 + 31 + 28 = 791
    assert(CfTime.parseUnits("days since 1972-02-29", Some("all_leap"))
      .contains((791L * day, 86400e6)))
    assert(CfTime.isoLabel(791L * day, Some("366_day"))
      == "1972-02-29T00:00:00Z")
    // 1971-02-29 is valid in all_leap though 1971 is no real leap year
    assert(CfTime.parseUnits("days since 1971-02-29", Some("all_leap"))
      .isDefined)

    // julian: leap every 4th year INCLUDING centuries; 1900-02-29
    // exists (fails in standard), and 2000-01-01 is julian day 10957
    // from 1970-01-01 (same as Gregorian — no century skip between)
    assert(CfTime.parseUnits("days since 2000-01-01", Some("julian"))
      .contains((10957L * day, 86400e6)))
    assert(CfTime.parseUnits("days since 1900-02-29", Some("julian"))
      .isDefined)
    intercept[Exception](
      CfTime.parseUnits("days since 1900-02-29", None)) // std: no such day
    // 1900-03-01 julian is one day after 1900-02-29: the two calendars
    // diverge by the 1900 century leap day below 1970
    val b1900 = CfTime.parseUnits("days since 1900-02-29", Some("julian"))
      .get._1
    assert(CfTime.isoLabel(b1900 + day, Some("julian"))
      == "1900-03-01T00:00:00Z")

    // months/years decode where the calendar fixes their length
    assert(CfTime.parseUnits("months since 2000-01-01", Some("360_day"))
      .exists(_._2 == 30 * 86400e6))
    assert(CfTime.parseUnits("years since 2000-01-01", Some("360_day"))
      .exists(_._2 == 360 * 86400e6))
    assert(CfTime.parseUnits("years since 2000-01-01", Some("noleap"))
      .exists(_._2 == 365 * 86400e6))
    assert(CfTime.parseUnits("years since 2000-01-01", Some("366_day"))
      .exists(_._2 == 366 * 86400e6))
    // ...and stay loud errors where they are genuinely variable
    intercept[IllegalArgumentException](
      CfTime.parseUnits("months since 2000-01-01", None))
    intercept[IllegalArgumentException](
      CfTime.parseUnits("months since 2000-01-01", Some("noleap")))
    intercept[IllegalArgumentException](
      CfTime.parseUnits("years since 2000-01-01", Some("julian")))

    // round-trip: fromDays(toDays) is identity across a broad range for
    // every calendar (≈ ±200 years around the epoch)
    for (cal <- Seq(CfTime.Day360, CfTime.NoLeap, CfTime.AllLeap,
        CfTime.Julian, CfTime.Standard)) {
      var d0 = -73000L
      while (d0 <= 73000L) {
        val (y, mo, dd) = cal.fromDays(d0)
        assert(cal.toDays(y, mo, dd) == d0, s"$cal day $d0 -> ($y,$mo,$dd)")
        assert(mo >= 1 && mo <= 12 && dd >= 1 && dd <= cal.monthLen(y, mo))
        d0 += 97L
      }
    }
  }

  test("CfCalendarCols column decode matches CfTime day-numbering") {
    import graft.sources.CfTime
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val days = (0L until 60000L by 97L).toSeq // ~164 calendar years
    val got = days.toDF("d")
      .select(graft.functions.CfCalendarCols.iso360(col("d")).as("c360"),
        graft.functions.CfCalendarCols.isoNoLeap(col("d")).as("cnl"))
      .collect()
    days.zip(got).foreach { case (dd, r) =>
      val us = dd * 86400000000L
      assert(r.getString(0) == CfTime.isoLabel(us, Some("360_day")).take(10))
      assert(r.getString(1) == CfTime.isoLabel(us, Some("noleap")).take(10))
    }
  }

  test("CF time units: classic 'seconds since' axis reads as timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc3tu").toString
    val grid = graft.cube.CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val cube = graft.cube.Cube.synthetic(spark, grid, numTimes = 3,
      Seq("v0"), nanEvery = 5)
    NetcdfStore.writeNetcdf(cube, s"$dir/plain.nc")
    NetcdfStore.writeNetcdf(cube, s"$dir/cf.nc",
      timeUnits = Some("seconds since 2017-01-01T00:00:00Z"))
    val h = NetcdfStore.readHeader(s"$dir/cf.nc")
    assert(h.variable("time").textAttrs.get("units")
      .contains("seconds since 2017-01-01T00:00:00Z"))
    assert(NetcdfStore.read1d(s"$dir/cf.nc", h, "time").toSeq
      == Seq(0.0, 86400.0, 172800.0))
    def rows(p: String): Seq[String] =
      NetcdfStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/cf.nc") == rows(s"$dir/plain.nc"))
  }

  test("CF calendar fixtures: 360_day and noleap char attrs (NC3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc3cal").toString
    val grid = graft.cube.CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val cube = graft.cube.Cube.synthetic(spark, grid, numTimes = 3,
      Seq("v0"), nanEvery = 5)
    NetcdfStore.writeNetcdf(cube, s"$dir/plain.nc")
    NetcdfStore.writeNetcdf(cube, s"$dir/c360.nc",
      timeUnits = Some("days since 2017-01-01"),
      timeCalendar = Some("360_day"))
    NetcdfStore.writeNetcdf(cube, s"$dir/cnl.nc",
      timeUnits = Some("days since 2017-01-01"),
      timeCalendar = Some("noleap"))
    val h = NetcdfStore.readHeader(s"$dir/c360.nc")
    assert(h.variable("time").textAttrs.get("calendar").contains("360_day"))
    // pinned raw counts: real 2017-01-01 = epoch-day 17167; 360_day
    // base (2017-1970)*360 = 16920 -> 247+i; noleap base
    // (2017-1970)*365 = 17155 -> 12+i
    assert(NetcdfStore.read1d(s"$dir/c360.nc", h, "time").toSeq
      == Seq(247.0, 248.0, 249.0))
    val hn = NetcdfStore.readHeader(s"$dir/cnl.nc")
    assert(NetcdfStore.read1d(s"$dir/cnl.nc", hn, "time").toSeq
      == Seq(12.0, 13.0, 14.0))
    def rows(p: String): Seq[String] =
      NetcdfStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "v0")
        .collect().map(_.toString).sorted.toSeq
    val expected = rows(s"$dir/plain.nc")
    assert(rows(s"$dir/c360.nc") == expected)
    assert(rows(s"$dir/cnl.nc") == expected)
    assert(NetcdfStore.openCube(spark, s"$dir/cnl.nc")
      .timeCalendar.contains("noleap"))
  }

  test("CF months/years since: month-field arithmetic in variable-length " +
      "calendars") {
    import graft.sources.CfTime
    val day = 86400000000L
    def usOf(date: String): Long =
      java.time.LocalDate.parse(date).toEpochDay * day
    // linear calendars unchanged: months in 360_day stay exactly 30 days
    assert(CfTime.decoder("months since 2000-01-01", Some("360_day"))
      .get(2.0) == CfTime.parseUnits("days since 2000-01-01",
        Some("360_day")).get._1 + 60L * day)
    // standard calendar: the month FIELD advances; day-of-month clamps
    val dec = CfTime.decoder("months since 2017-01-31", None).get
    assert(dec(0.0) == usOf("2017-01-31"))
    assert(dec(1.0) == usOf("2017-02-28")) // clamped (2017 not a leap year)
    assert(dec(2.0) == usOf("2017-03-31"))
    assert(dec(13.0) == usOf("2018-02-28"))
    assert(dec(-1.0) == usOf("2016-12-31"))
    assert(CfTime.decoder("months since 2020-01-31", None).get(1.0)
      == usOf("2020-02-29")) // leap-year clamp target
    // fractional months interpolate inside the landing month
    // (Jan 15 → Feb 15 is a 31-day gap)
    assert(CfTime.decoder("months since 2017-01-15", None).get(0.5)
      == usOf("2017-01-15") + math.round(0.5 * 31 * day.toDouble))
    // time-of-day of the base is preserved through the field arithmetic
    assert(CfTime.decoder("months since 2017-01-31 06:30:00", None).get(1.0)
      == usOf("2017-02-28") + 6L * 3600000000L + 30L * 60000000L)
    // years = 12 months; julian 1900 IS a leap year (the calendars'
    // century divergence), and 1900-02-29 + 1y clamps to 1901-02-28
    val decJ = CfTime.decoder("years since 1900-02-29", Some("julian")).get
    assert(decJ(0.0) == CfTime.Julian.toDays(1900, 2, 29) * day)
    assert(decJ(1.0) == CfTime.Julian.toDays(1901, 2, 28) * day)
    assert(decJ(4.0) == CfTime.Julian.toDays(1904, 2, 29) * day)
    assert(CfTime.decoder("years since 2000-06-15", None).get(3.0)
      == usOf("2003-06-15"))
    // encoder: whole-month timestamps round-trip, others fail loudly
    val enc = CfTime.encoder("months since 2017-01-31", None).get
    assert(enc(usOf("2017-01-31")) == 0.0)
    assert(enc(usOf("2017-02-28")) == 1.0) // the clamped date IS month 1
    assert(enc(usOf("2017-03-31")) == 2.0)
    intercept[IllegalArgumentException](enc(usOf("2017-03-30")))
    val encY = CfTime.encoder("years since 2000-06-15", None).get
    assert(encY(usOf("2002-06-15")) == 2.0)
    intercept[IllegalArgumentException](encY(usOf("2002-07-15")))
    // not a time unit at all → None, unknown interval still loud
    assert(CfTime.decoder("kelvin", None).isEmpty)
    intercept[IllegalArgumentException](
      CfTime.decoder("fortnights since 1970-01-01", None))
  }

  test("CF 'months since' axes decode across NC3, NC4 and zarr stores") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mon").toString
    val day = 86400000000L
    def usOf(date: String): Long =
      java.time.LocalDate.parse(date).toEpochDay * day
    val grid = CubeGrid(8, 4, 0.0, 40.0, 0.5, latAscending = true)
    val base = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"),
      nanEvery = 5)
    // remap the three consecutive synthetic days onto month-spaced dates
    // whose middle step exercises the day-clamp (Jan 31 + 1mo = Feb 28)
    val df = base.df.withColumn("time", expr(
      """CASE CAST(time AS DATE)
           WHEN DATE'2017-01-01' THEN TIMESTAMP'2017-01-31 00:00:00'
           WHEN DATE'2017-01-02' THEN TIMESTAMP'2017-02-28 00:00:00'
           ELSE TIMESTAMP'2017-03-31 00:00:00' END"""))
    val cube = base.copy(df = df)
    val expectedUs = Seq(usOf("2017-01-31"), usOf("2017-02-28"),
      usOf("2017-03-31"))
    def axisUsOf(c: graft.cube.CubeFrame): Seq[Long] =
      c.timeAxis.get.map(t => t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    // NC3: the stored raw axis is whole-month counts
    NetcdfStore.writeNetcdf(cube, s"$dir/m.nc",
      timeUnits = Some("months since 2017-01-31"))
    val h = NetcdfStore.readHeader(s"$dir/m.nc")
    assert(NetcdfStore.read1d(s"$dir/m.nc", h, "time").toSeq
      == Seq(0.0, 1.0, 2.0))
    assert(axisUsOf(NetcdfStore.openCube(spark, s"$dir/m.nc")) == expectedUs)
    // NC4/HDF5
    graft.sources.Hdf5.writeHdf5(cube, s"$dir/m.h5", chunkY = 4, chunkX = 8,
      timeUnits = Some("months since 2017-01-31"))
    assert(axisUsOf(NetcdfStore.openCube(spark, s"$dir/m.h5")) == expectedUs)
    // zarr: raw f8 axis 0,1,2 + units attr, the xarray-written shape
    graft.sources.ZarrStore.writeZarr(cube, s"$dir/m.zarr", chunkT = 1,
      chunkY = 4, chunkX = 8)
    val tdir = java.nio.file.Paths.get(s"$dir/m.zarr/time")
    java.nio.file.Files.writeString(tdir.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "fill_value": 0, "order": "C",
        | "filters": null}""".stripMargin)
    java.nio.file.Files.writeString(tdir.resolve(".zattrs"),
      """{"units": "months since 2017-01-31"}""")
    val bb = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0.0, 1.0, 2.0).foreach(bb.putDouble)
    java.nio.file.Files.write(tdir.resolve("0"), bb.array())
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/m.zarr/.zmetadata"))
    graft.sources.StoreCache.invalidate(s"$dir/m.zarr")
    assert(axisUsOf(graft.sources.ZarrStore.openCube(spark, s"$dir/m.zarr"))
      == expectedUs)
    // catalogue labels format the decoded axis correctly
    val reg = graft.server.RegisteredDataset("m", "m",
      NetcdfStore.openCube(spark, s"$dir/m.nc"), None)
    assert(reg.timeLabels == Seq("2017-01-31T00:00:00Z",
      "2017-02-28T00:00:00Z", "2017-03-31T00:00:00Z"))
  }
}
