package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.Geo.BBox

/** The cube data model (SURVEY §1.4): an xarray-style data cube becomes a
  * long-format relation
  *   (time TIMESTAMP, y_idx INT, x_idx INT, lat DOUBLE, lon DOUBLE,
  *    var_1 DOUBLE, ..., var_n DOUBLE)
  * partitioned by time and sorted/bucketed by (y_idx, x_idx) for
  * locality. Grid geometry lives in [[CubeGrid]]; per-cell coordinates
  * are derivable so scans can prune on either the index or the
  * coordinate columns.
  *
  * Reference: xr.Dataset opened at xcube_server/context.py:245-250 with
  * the coordinate contract of xcube_server/utils.py:19-53.
  */
final case class CubeGrid(width: Int, height: Int,
                          lonMin: Double, latMin: Double, res: Double,
                          latAscending: Boolean = false) {
  def lonMax: Double = lonMin + res * width
  def latMax: Double = latMin + res * height
  def bbox: BBox = BBox(lonMin, latMin, lonMax, latMax)

  /** cell-center latitude of row y (row 0 at the top when lat is
    * descending, the demo-cube convention: FIXTURES.md §1). */
  def latOfY(y: Int): Double =
    if (latAscending) latMin + (y + 0.5) * res else latMax - (y + 0.5) * res
  def lonOfX(x: Int): Double = lonMin + (x + 0.5) * res

  /** nearest-cell index for a coordinate (xarray sel method='nearest'
    * over cell centers, SURVEY Q1), clamped to the grid. */
  def nearestX(lon: Double): Int =
    math.max(0, math.min(width - 1, math.round((lon - lonMin) / res - 0.5).toInt))
  def nearestY(lat: Double): Int = {
    val fromMin = math.round((lat - latMin) / res - 0.5).toInt
    val y = if (latAscending) fromMin else height - 1 - fromMin
    math.max(0, math.min(height - 1, y))
  }
}

/** A non-spatial, non-time dimension of a cube variable (reference:
  * xcube serves `time × depth × lat × lon` variables and resolves a
  * per-request indexer for every leading dim, context.py:420-451).
  * `values` is the 1-D coordinate axis IN STORE ORDER — indexers
  * resolve against it (default = first, 'current' = last, else
  * nearest), and `values.indexOf(selected)` is the array index the
  * direct chunk reader needs. The long-format relation carries one
  * DOUBLE column named `name` holding the coordinate value per row. */
final case class ExtraDim(name: String, values: Seq[Double],
                          units: String = "")

/** A cube: long-format DataFrame + grid geometry + variable names.
  * `timeAxis` carries the 1-D time coordinate when the SOURCE already
  * holds it as metadata (zarr/NetCDF stores parse their coordinate
  * arrays at open) — a registration must not schedule a distinct-scan
  * over the fact table to recover what the store header knows; parquet
  * ingests leave it None and fall back to the scan. Transforms that
  * change the time axis construct new frames without it.
  * `timeCalendar` is the CF calendar of the source time axis (None =
  * standard): non-standard calendars (360_day, noleap, …) decode to
  * calendar-native epoch-us and their labels must format through
  * [[graft.sources.CfTime.isoLabel]], not java.time.
  * `storePath` is set iff the DataFrame reads a store (zarr/NetCDF/
  * HDF5 chunks, or graft's parquet layout) UNTRANSFORMED. Two consumers
  * then bypass the DataFrame and read the store directly, with no
  * Spark job: the tile server's window reads, and the direct arm of
  * the time-series operators ([[graft.operators.TimeSeries]], chunked
  * stores only). Every transform constructs a fresh CubeFrame, so
  * derived frames drop it by default; a `copy(df = …)` that filters or
  * derives must drop it explicitly. */
final case class CubeFrame(df: DataFrame, grid: CubeGrid,
                           variables: Seq[String],
                           timeAxis: Option[Seq[java.sql.Timestamp]] = None,
                           timeCalendar: Option[String] = None,
                           storePath: Option[String] = None,
                           extraDims: Seq[ExtraDim] = Nil)

object Cube {

  /** Epoch-microseconds → java.sql.Timestamp, exactly as Spark converts
    * its internal TimestampType (so a metadata-derived axis compares
    * equal to collected row values). */
  def timestampOfMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Synthetic deterministic cube for tests (mirrors the in-test noise
    * cube of the reference, test/test_mldataset.py:69-97): value of
    * variable v at (t, y, x) = deterministic hash-free formula, with NaN
    * holes where (y*width+x) % nanEvery == 0. Generated distributed via
    * spark.range — no driver-side materialization. */
  def synthetic(spark: SparkSession, grid: CubeGrid, numTimes: Int,
                variables: Seq[String] = Seq("v0"), nanEvery: Int = 10,
                startDay: String = "2017-01-01"): CubeFrame = {
    val n = grid.width.toLong * grid.height * numTimes
    var df = spark.range(n)
      .withColumn("t_idx", (col("id") / (grid.width.toLong * grid.height)).cast("int"))
      .withColumn("cell", col("id") % (grid.width.toLong * grid.height))
      .withColumn("y_idx", (col("cell") / grid.width).cast("int"))
      .withColumn("x_idx", (col("cell") % grid.width).cast("int"))
      .withColumn("time", expr(s"timestamp(date_add(date'$startDay', t_idx))"))
      .withColumn("lat",
        if (grid.latAscending) lit(grid.latMin) + (col("y_idx") + 0.5) * grid.res
        else lit(grid.latMax) - (col("y_idx") + 0.5) * grid.res)
      .withColumn("lon", lit(grid.lonMin) + (col("x_idx") + 0.5) * grid.res)
    variables.zipWithIndex.foreach { case (v, i) =>
      df = df.withColumn(v,
        when(col("cell") % nanEvery === 0, lit(Double.NaN))
          .otherwise(sin(col("id") * (0.1 + i)) * 50 + 50))
    }
    CubeFrame(df.drop("id", "cell"), grid, variables)
  }

  /** NaN→null normalization (SURVEY Q6): NumPy NaN-skipping aggregates
    * map to Spark null-skipping ones only after this. */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** Masking trio + fill handling (reference F5/F6,
    * im/tiledimage.py:398-413): out-of-range, fill-valued and non-finite
    * cells become null. */
  def maskInvalid(c: Column, fillValue: Option[Double] = None,
                  validMin: Option[Double] = None,
                  validMax: Option[Double] = None): Column = {
    var cond: Column = isnan(c) || c.isNull
    fillValue.foreach(f => cond = cond || c === f)
    validMin.foreach(m => cond = cond || c < m)
    validMax.foreach(m => cond = cond || c > m)
    when(cond, lit(null)).otherwise(c)
  }

  /** Clip to [vmin, vmax] (reference F5, im/tiledimage.py:462-474). */
  def clip(c: Column, vmin: Double, vmax: Double): Column =
    least(greatest(c, lit(vmin)), lit(vmax))

  /** Normalize to [0,1] over a value range (F4, tiledimage.py:488-490). */
  def normalize(c: Column, vmin: Double, vmax: Double): Column =
    (c - lit(vmin)) * (lit(1.0) / (vmax - vmin))
}
