package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cube.{Cube, CubeFrame, CubeGrid, CubeIngest, ExtraDim}
import graft.geo.Geo
import graft.geo.Geo.{Point, Pt}
import graft.operators.TimeSeries
import graft.server.{GraftServer, RegisteredDataset, ServiceContext}
import graft.sources.StoreCache

/** The direct arm of the time-series operators (chunk windows read and
  * aggregated on the calling thread) against the Spark arm over the
  * same frame with `storePath = None`: equal rows in equal order,
  * bit-identical averages, and no Spark job on the direct arm. */
class TimeSeriesDirectSpec extends SparkSpec {

  // 40 × 24 cells over lon 10..30, lat 40..52; NaN holes every 9th
  // cell, +Inf at (y 5, x 7) on every step and -Inf next to it on the
  // second step (a window holding both averages to NaN)
  private def fixture(latAscending: Boolean): CubeFrame = {
    val grid = CubeGrid(40, 24, 10.0, 40.0, 0.5, latAscending)
    val base = Cube.synthetic(spark, grid, numTimes = 5, Seq("v0", "v1"),
      nanEvery = 9)
    base.copy(df = base.df.withColumn("v0",
      when(col("y_idx") === 5 && col("x_idx") === 7,
        lit(Double.PositiveInfinity))
        .when(col("y_idx") === 6 && col("x_idx") === 7 && col("t_idx") === 1,
          lit(Double.NegativeInfinity))
        .otherwise(col("v0"))))
  }

  private def zarrCube(): CubeFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsd-zarr")
    // 8 × 8 spatial chunks, two steps per time chunk
    graft.sources.ZarrStore.writeZarr(fixture(latAscending = false),
      s"$dir/c.zarr", chunkT = 2, chunkY = 8, chunkX = 8)
    CubeIngest.open(spark, s"$dir/c.zarr")
  }

  private def hdf5Cube(): CubeFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsd-h5")
    graft.sources.Hdf5.writeHdf5(fixture(latAscending = true), s"$dir/c.nc",
      chunkY = 8, chunkX = 8)
    CubeIngest.open(spark, s"$dir/c.nc")
  }

  private def day(d: Int): Option[Timestamp] =
    Some(Timestamp.valueOf(s"2017-01-0$d 00:00:00"))

  private val bigBox = Geo.boxPolygon(11.2, 41.3, 19.7, 50.6) // ≥ 3×3 chunks
  private val triangle = Geo.parseWkt("POLYGON((12 42, 27 44, 15 51, 12 42))")
  private val edgeBox = Geo.boxPolygon(25.0, 48.0, 35.0, 60.0) // clipped
  private val smallBox = Geo.boxPolygon(20.1, 45.2, 21.4, 46.1)
  private val outside = Geo.boxPolygon(50.0, 0.0, 60.0, 10.0)

  /** (name, request) pairs run on both arms */
  private val requests: Seq[(String, CubeFrame => DataFrame)] = Seq(
    "point" -> (c => TimeSeries.point(c, "v0", 13.3, 47.6)),
    "point on the +Inf cell (lat descending)" -> (c =>
      TimeSeries.point(c, "v0", 13.7, 49.3)),
    "point, start/end" -> (c =>
      TimeSeries.point(c, "v1", 22.2, 41.1, day(2), day(4))),
    "point outside the bounds" -> (c => TimeSeries.point(c, "v0", 0.0, 0.0)),
    "Point passed to zonal" -> (c =>
      TimeSeries.zonal(c, "v0", Point(Pt(18.9, 44.4)))),
    "big box" -> (c => TimeSeries.zonal(c, "v0", bigBox)),
    "big box, exact mask mean" -> (c =>
      TimeSeries.zonal(c, "v0", bigBox, exactMaskMean = true)),
    "triangle" -> (c => TimeSeries.zonal(c, "v0", triangle)),
    "triangle, exact mask mean, start/end" -> (c =>
      TimeSeries.zonal(c, "v0", triangle, day(2), day(3),
        exactMaskMean = true)),
    "start between steps, open end" -> (c =>
      TimeSeries.zonal(c, "v1", smallBox,
        Some(Timestamp.valueOf("2017-01-03 12:00:00")), None)),
    "box clipped at the bounds" -> (c => TimeSeries.zonal(c, "v1", edgeBox)),
    "box outside the bounds" -> (c => TimeSeries.zonal(c, "v0", outside)),
    "overlapping fan-out" -> (c => TimeSeries.zonalMany(c, "v0",
      Seq(bigBox, triangle, outside, smallBox, Point(Pt(13.3, 47.6)),
        bigBox))),
    "overlapping fan-out, exact mask mean, end" -> (c =>
      TimeSeries.zonalMany(c, "v0", Seq(triangle, bigBox, edgeBox), None,
        day(4), exactMaskMean = true)),
    "fan-out entirely outside" -> (c =>
      TimeSeries.zonalMany(c, "v0", Seq(outside))))

  /** rows equal field by field, averages compared by their bits */
  private def assertSameRows(direct: Array[Row], viaSpark: Array[Row],
                             what: String): Unit = {
    assert(direct.length == viaSpark.length,
      s"$what: ${direct.toSeq} vs ${viaSpark.toSeq}")
    direct.zip(viaSpark).foreach { case (d, s) =>
      assert(d.length == s.length, what)
      for (i <- 0 until d.length) {
        val same = (d.get(i), s.get(i)) match {
          case (a: Double, b: Double) =>
            java.lang.Double.doubleToLongBits(a) ==
              java.lang.Double.doubleToLongBits(b)
          case (a, b) => a == b
        }
        assert(same, s"$what: field $i of $d vs $s")
      }
    }
  }

  private def checkArms(cube: CubeFrame, label: String): Unit = {
    assert(cube.storePath.isDefined)
    val viaSparkCube = cube.copy(storePath = None)
    for ((name, request) <- requests) {
      val (direct, jobs) = jobsDuring(request(cube).collect())
      assert(jobs.isEmpty, s"$label $name: direct arm ran ${jobs.size} job(s)")
      val (viaSpark, sparkJobs) = jobsDuring(request(viaSparkCube).collect())
      assertSameRows(direct, viaSpark, s"$label $name")
      if (viaSpark.nonEmpty)
        assert(sparkJobs.nonEmpty, s"$label $name: the reference ran no job")
    }
  }

  test("zarr (lat descending): direct arm equals the Spark arm, no job") {
    val cube = zarrCube()
    checkArms(cube, "zarr")
    // the fixture really holds NaN holes and a NaN (+Inf + -Inf) average
    val rows = TimeSeries.zonal(cube, "v0", bigBox).collect()
    assert(rows.exists(r => r.getAs[Long]("valid_count") <
      r.getAs[Long]("total_count")))
    assert(rows.exists(r => !r.isNullAt(3) && r.getDouble(3).isNaN))
    assert(rows.exists(r => !r.isNullAt(3) && r.getDouble(3).isPosInfinity))
  }

  test("HDF5 (lat ascending): direct arm equals the Spark arm, no job") {
    checkArms(hdf5Cube(), "hdf5")
  }

  test("over-budget windows fall back to the Spark arm with the same rows") {
    val cube = zarrCube()
    val request = (c: CubeFrame) => TimeSeries.zonalMany(c, "v0",
      Seq(bigBox, triangle))
    val (direct, directJobs) = jobsDuring(request(cube).collect())
    assert(directJobs.isEmpty)
    assert(StoreCache.directBudgetBytes == StoreCache.chunkCapacityBytes / 4)
    // the windows touch 5 × 3 spatial chunks in each of 3 time chunks,
    // each 2 steps × 8 × 8 doubles: 45 KB decoded
    val (fallback, jobs) = StoreCache.withDirectBudget(45L * 1024 - 1)(
      jobsDuring(request(cube).collect()))
    assert(jobs.nonEmpty, "an over-budget request must take the Spark arm")
    assertSameRows(fallback, direct, "over budget")
    val (_, exactJobs) = StoreCache.withDirectBudget(45L * 1024)(
      jobsDuring(request(cube).collect()))
    assert(exactJobs.isEmpty, "a request at the budget stays direct")
  }

  test("/ts routes on a zarr store encode the direct rows: no job, no " +
      "query execution, the bytes of the DataFrame's collect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tsd-srv")
    CubeIngest.writeCube(fixture(latAscending = false), s"$dir/c",
      tileSize = 8)
    // a 4-D zarr store: every request selects one depth plane
    val base = fixture(latAscending = false)
    val deep = base.copy(
      df = base.df.crossJoin(spark.range(2).select(
          (col("id") * 40.0 + 10.0).as("depth")))
        .withColumn("v0", col("v0") + col("depth")),
      extraDims = Seq(ExtraDim("depth", Seq(10.0, 50.0), "m")))
    graft.sources.ZarrStore.writeZarr(deep, s"$dir/d.zarr", chunkT = 2,
      chunkY = 8, chunkX = 8)
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("zarr", "zarr", zarrCube(), None))
    ctx.register(RegisteredDataset("pq", "parquet levels",
      CubeIngest.open(spark, s"$dir/c"), None))
    ctx.register(RegisteredDataset("deep", "4-D zarr",
      CubeIngest.open(spark, s"$dir/d.zarr"), None))
    def cube(id: String): CubeFrame = ctx.dataset(id).get.cube
    assert(cube("pq").storePath.isDefined && cube("deep").extraDims.nonEmpty)

    val polygon = """{"type":"Polygon","coordinates":""" +
      "[[[12,42],[27,44],[15,51],[12,42]]]}"
    val geometries = Seq(polygon,
      """{"type":"Polygon","coordinates":""" +
        "[[[11.2,41.3],[19.7,41.3],[19.7,50.6],[11.2,50.6],[11.2,41.3]]]}",
      """{"type":"Point","coordinates":[13.3,47.6]}""",
      """{"type":"Polygon","coordinates":[[[50,0],[60,0],[60,10],[50,0]]]}""")
    val collection = geometries.mkString(
      """{"type":"GeometryCollection","geometries":[""", ",", "]}")
    val features = geometries.map(g =>
      s"""{"type":"Feature","properties":{},"geometry":$g}""")
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    // (route, body, the same request through the DataFrame API, the
    // response body built from that frame's collect)
    def requests(id: String, c: CubeFrame, params: Seq[String])
        : Seq[(String, Option[String], DataFrame, Seq[Row] => String)] = {
      def url(route: String, ps: Seq[String]) =
        if (ps.isEmpty) s"/ts/$id/v0/$route"
        else ps.mkString(s"/ts/$id/v0/$route?", "&", "")
      val many = (rows: Seq[Row]) =>
        GraftServer.tsManyJson(geometries.length, rows)
      Seq(
        (url("point", Seq("lon=13.3", "lat=47.6") ++ params), None,
          TimeSeries.point(c, "v0", 13.3, 47.6), GraftServer.tsJson _),
        (url("geometry", params), Some(polygon),
          TimeSeries.zonal(c, "v0", Geo.parseGeoJson(polygon)),
          GraftServer.tsJson _),
        (url("geometries", params), Some(collection),
          TimeSeries.zonalMany(c, "v0", geometries.map(Geo.parseGeoJson)),
          many),
        (url("places", params), Some(features),
          TimeSeries.zonalMany(c, "v0", geometries.map(Geo.parseGeoJson)),
          many))
    }

    val executions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit =
        executions.incrementAndGet()
    }
    val srv = new GraftServer(ctx).start()
    spark.listenerManager.register(listener)
    try {
      val client = HttpClient.newHttpClient()
      def call(route: String, body: Option[String]): String = {
        val req = HttpRequest.newBuilder(URI.create(srv.address + route))
        val r = client.send(body.map(b =>
            req.POST(HttpRequest.BodyPublishers.ofString(b))).getOrElse(req)
            .build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, s"$route: ${r.body()}")
        r.body()
      }
      // (expected body, served body, jobs, query executions) per route
      def serve(id: String, c: CubeFrame, params: Seq[String] = Nil) =
        requests(id, c, params).map { case (route, body, df, encode) =>
          val expected = encode(df.collect().toSeq)
          ListenerBus.drain(spark.sparkContext)
          executions.set(0)
          val (served, jobs) = jobsDuring(call(route, body))
          (route, expected, served, jobs.size, executions.get)
        }

      for ((route, expected, served, jobs, runs) <- serve("zarr", cube("zarr"))) {
        assert(jobs == 0, s"$route ran $jobs job(s)")
        assert(runs == 0, s"$route ran $runs query execution(s)")
        assert(served == expected, route)
        assert(served.contains("\"totalCount\""), s"$route: $served")
      }
      // a parquet level and a plane-filtered 4-D frame take the Spark
      // arm, which collects its plan (the listener sees it)
      val plane = cube("deep").copy(
        df = cube("deep").df.filter(col("depth") === 50.0), storePath = None)
      for ((route, expected, served, jobs, runs) <-
           serve("pq", cube("pq")) ++ serve("deep", plane, Seq("depth=50"))) {
        assert(jobs > 0, s"$route ran no job")
        assert(runs > 0, s"$route ran no query execution")
        assert(served == expected, route)
        assert(served.contains("\"totalCount\""), s"$route: $served")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      srv.stop()
    }
  }
}
