package graft

import graft.cube.{Cube, CubeGrid}
import graft.geo.Geo
import graft.operators.TimeSeries

/** End-to-end at the reference's own demo workload scale: the cube.nc
  * shape is time=5 × lat=1000 × lon=2000, bbox (0, 50, 5, 52.5),
  * res 0.0025°, lat descending (FIXTURES.md §1). The golden zonal
  * request for the box (1,51)-(2,52) counts 160801 mask cells
  * (test/controllers/test_time_series.py:63-73) — a pure-geometry
  * golden our rasterizer must reproduce exactly.
  */
class DemoScaleSpec extends SparkSpec {

  test("demo-cube-scale zonal time series reproduces totalCount=160801") {
    val grid = CubeGrid(width = 2000, height = 1000,
      lonMin = 0.0, latMin = 50.0, res = 0.0025, latAscending = false)
    val cube = Cube.synthetic(spark, grid, numTimes = 5, Seq("conc_tsm"),
      nanEvery = 13)
    val box = Geo.boxPolygon(1.0, 51.0, 2.0, 52.0)
    val t0 = System.nanoTime()
    val rows = TimeSeries.zonal(cube, "conc_tsm", box).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"zonal over 10M-cell cube: $secs%.1f s")
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Long]("total_count") == 160801L))
    assert(rows.forall(r => r.getAs[Long]("valid_count") > 0))
    assert(rows.map(_.getAs[String]("date")).distinct.length == 5)
  }
}
