package graft.operators

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.Q
import graft.cube.{Cube, CubeFrame}
import graft.geo.Geo
import graft.geo.Geo.{Geometry, Point, Pt}
import graft.sources.{DirectWindow, StoreCache, StoreWindow}

/** The flagship analytics operators: point and zonal time series
  * (reference: xcube_server/controllers/time_series.py — traced in
  * SURVEY §3.2). Every request resolves its geometry on the driver into
  * one [[Window]] (bbox cell window + rasterized mask), then takes one
  * of two arms:
  *
  *  - **direct** — the reference's own shape: slice the chunked store
  *    in-process. For each time step on the store's axis within
  *    [start, end] it reads each window with [[StoreWindow.readWindow]]
  *    (the tiles' decoded-chunk LRU and CF decoding) and aggregates on
  *    the calling thread. Its result is the rows themselves: the
  *    `…Rows` calls return them with no Spark job, analysis or
  *    optimisation, and the `DataFrame` calls wrap the same rows in a
  *    local relation.
  *  - **Spark** — one DataFrame query per request:
  *
  *      scan(cube) → filter(bbox ∧ time∈[s,e]) → join(broadcast mask)
  *        → groupBy(time) → agg(avg, count) → orderBy(time)
  *
  *    The mask is tiny and broadcast — the cube itself is never
  *    collected, so the same plan runs at 100 TB with the bbox/time
  *    filters pushed into the scan.
  *
  * The direct arm runs only when the frame reads a chunked store
  * untransformed (`storePath` passes [[DirectWindow.isChunkedStore]]),
  * the variable is a served 3-D array matching the grid, the cube has
  * no extra dims, the store's time axis ascends strictly, and the
  * chunks the windows touch over the requested steps fit
  * `StoreCache.directBudgetBytes`. Every other input — parquet levels,
  * transformed or 4-D frames, huge polygons — takes the Spark arm, as
  * does any read that comes back empty.
  *
  * Each operator has a `DataFrame` form ([[point]], [[zonal]],
  * [[zonalMany]]) and a rows form ([[pointRows]], [[zonalRows]],
  * [[zonalManyRows]]) for callers that want the answer, not a plan (the
  * server's `/ts` routes). Both take the same arm with the same rows;
  * the rows form `collect`s the Spark arm.
  *
  * Summation-order contract: the direct arm adds values in the scan's
  * order, so its averages are bit-identical to the Spark arm's. The
  * scan has one partition per chunk, in chunk order (y chunk, then x
  * chunk), and emits rows row-major inside a chunk; each partition's
  * partial sum starts at 0.0 and adds 0.0 for a null; the final
  * aggregate adds the partials to 0.0 in partition order.
  */
object TimeSeries {

  /** Typed row shape for fixed result schemas (SURVEY §1.4: Dataset[T]
    * where the shape is static — time-series points are). */
  final case class TsPoint(date: String, total_count: Long,
                           valid_count: Long, average: Option[Double])

  def pointTyped(cube: CubeFrame, variable: String, lon: Double, lat: Double,
                 start: Option[Timestamp] = None,
                 end: Option[Timestamp] = None)
      : org.apache.spark.sql.Dataset[TsPoint] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[TsPoint]
    point(cube, variable, lon, lat, start, end).as[TsPoint]
  }

  /** One geometry resolved on the driver: the cell window
    * [y0, y0+h) × [x0, x0+w) in store (y_idx, x_idx) order, its
    * rasterized mask row-major over the same cells, and the mask cell
    * count (reference totalCount). */
  private[operators] final case class Window(y0: Int, x0: Int, h: Int,
                                             w: Int, mask: Array[Boolean],
                                             total: Long) {
    /** (y_idx, x_idx, in_mask) per window cell */
    def cells: IndexedSeq[(Int, Int, Boolean)] =
      (0 until h * w).map(i => (y0 + i / w, x0 + i % w, mask(i)))
  }

  /** Output schema matches the reference JSON rows
    * (time_series.py:133-145): date ISO-8601, totalCount, validCount,
    * average (null when the whole slice is NaN). */
  private val Schema = StructType(Seq(
    StructField("date", StringType), StructField("total_count", LongType),
    StructField("valid_count", LongType), StructField("average", DoubleType)))
  private val ManySchema =
    Schema.add(StructField("geometry_index", IntegerType))

  private def finish(df: DataFrame): DataFrame =
    df.select(col("date"), col("total_count"), col("valid_count"),
      col("average")).orderBy("date")

  /** A request's answer from one of the two arms: the direct arm's
    * rows (sorted as the Spark arm sorts; no rows when the geometry
    * misses the cube) or the Spark arm's plan. */
  private type Arm = Either[Seq[Row], DataFrame]

  private def frame(cube: CubeFrame, schema: StructType, arm: Arm): DataFrame =
    arm.fold(rows => cube.df.sparkSession.createDataFrame(rows.asJava, schema),
      identity)

  private def rows(arm: Arm): Seq[Row] =
    arm.fold(identity, _.collect().toSeq)

  /** Point time series (time_series.py:122-145): nearest-cell lookup
    * resolved on the driver from grid arithmetic (P3), then an equality
    * filter that prunes partitions/row-groups. totalCount == 1. */
  def point(cube: CubeFrame, variable: String, lon: Double, lat: Double,
            start: Option[Timestamp] = None, end: Option[Timestamp] = None): DataFrame =
    frame(cube, Schema, pointArm(cube, variable, lon, lat, start, end))

  /** [[point]]'s rows, with no Spark job, analysis or optimisation on
    * the direct arm */
  def pointRows(cube: CubeFrame, variable: String, lon: Double, lat: Double,
                start: Option[Timestamp] = None,
                end: Option[Timestamp] = None): Seq[Row] =
    rows(pointArm(cube, variable, lon, lat, start, end))

  private def pointArm(cube: CubeFrame, variable: String, lon: Double,
                       lat: Double, start: Option[Timestamp],
                       end: Option[Timestamp]): Arm = {
    // bounds pre-check (time_series.py:126-128): outside bbox → []
    val win = windowCells(cube, Point(Pt(lon, lat))).getOrElse(return Left(Nil))
    direct(cube, variable, Seq(0 -> win), start, end, exactMaskMean = false,
      many = false).toLeft {
        val v = Cube.nanToNull(col(variable))
        val base = cube.df
          .filter(col("x_idx") === win.x0 && col("y_idx") === win.y0)
        finish(timeFiltered(base, start, end)
          .groupBy(col("time"))
          .agg(count(lit(1)).as("total_count"),
            count(v).as("valid_count"),
            avg(v).as("average"))
          .withColumn("date", Q.iso(col("time"))))
      }
  }

  /** Zonal time series for a geometry (time_series.py:148-205).
    *
    * Faithful to the reference quirk (SURVEY Q2): `average` is the mean
    * over the full rectangular bbox window, while `valid_count` counts
    * finite cells inside the rasterized mask. Set `exactMaskMean=true`
    * for the arguably-correct mask-restricted mean.
    */
  def zonal(cube: CubeFrame, variable: String, geometry: Geometry,
            start: Option[Timestamp] = None, end: Option[Timestamp] = None,
            exactMaskMean: Boolean = false): DataFrame =
    frame(cube, Schema,
      zonalArm(cube, variable, geometry, start, end, exactMaskMean))

  /** [[zonal]]'s rows, with no Spark job, analysis or optimisation on
    * the direct arm */
  def zonalRows(cube: CubeFrame, variable: String, geometry: Geometry,
                start: Option[Timestamp] = None,
                end: Option[Timestamp] = None,
                exactMaskMean: Boolean = false): Seq[Row] =
    rows(zonalArm(cube, variable, geometry, start, end, exactMaskMean))

  private def zonalArm(cube: CubeFrame, variable: String, geometry: Geometry,
                       start: Option[Timestamp], end: Option[Timestamp],
                       exactMaskMean: Boolean): Arm = {
    geometry match {
      case Point(p) => return pointArm(cube, variable, p.x, p.y, start, end)
      case _ =>
    }
    val spark = cube.df.sparkSession
    val win = windowCells(cube, geometry).getOrElse(return Left(Nil))
    direct(cube, variable, Seq(0 -> win), start, end, exactMaskMean,
      many = false).toLeft {
        // the mask as a broadcast include-list (SURVEY J3)
        import spark.implicits._
        val maskCells = win.cells.collect { case (y, x, true) => (y, x) }
          .toDF("y_idx", "x_idx")
        val v = Cube.nanToNull(col(variable))
        val windowRows = timeFiltered(
          cube.df.filter(col("x_idx") >= win.x0 && col("x_idx") < win.x0 + win.w &&
            col("y_idx") >= win.y0 && col("y_idx") < win.y0 + win.h), start, end)
          .join(broadcast(maskCells.withColumn("in_mask", lit(true))),
            Seq("y_idx", "x_idx"), "left")
        val avgCol =
          if (exactMaskMean) avg(when(col("in_mask"), v))
          else avg(v) // reference Q2: bbox-window mean (time_series.py:191-193)
        finish(windowRows
          .groupBy(col("time"))
          .agg(count(when(col("in_mask"), v)).as("valid_count"),
            avgCol.as("average"))
          .withColumn("total_count", lit(win.total))
          // reference: average==NaN ⇒ validCount=0, average=None
          .withColumn("valid_count",
            when(col("average").isNull, 0L).otherwise(col("valid_count")))
          .withColumn("date", Q.iso(col("time"))))
      }
  }

  /** A geometry's bbox window + rasterized mask, resolved on the driver
    * — the one window description both arms of [[point]], [[zonal]] and
    * [[zonalMany]] use. None when the geometry misses the cube bounds
    * (time_series.py:158-164). A Point resolves to its nearest cell. */
  private def windowCells(cube: CubeFrame, geometry: Geometry): Option[Window] = {
    val g = cube.grid
    geometry match {
      case Point(p) =>
        if (!g.bbox.contains(p)) return None
        return Some(Window(g.nearestY(p.y), g.nearestX(p.x), 1, 1,
          Array(true), 1L))
      case _ =>
    }
    val inter = g.bbox.intersection(geometry.bbox).getOrElse(return None)
    // geo → index window, floor/ceil + clamp (time_series.py:166-176).
    // y1/y2 are TOP-BASED row indices (row 0 at latMax, as in the
    // reference); lat-ascending cubes store y_idx bottom-up
    def clamp(v: Int, lo: Int, hi: Int) = math.max(lo, math.min(hi, v))
    val res = (g.latMax - g.latMin) / g.height
    val x1 = clamp(math.floor((inter.xMin - g.lonMin) / res).toInt, 0, g.width - 1)
    val x2 = clamp(math.ceil((inter.xMax - g.lonMin) / res).toInt + 1, 0, g.width - 1)
    val y1 = clamp(math.floor((g.latMax - inter.yMax) / res).toInt, 0, g.height - 1)
    val y2 = clamp(math.ceil((g.latMax - inter.yMin) / res).toInt + 1, 0, g.height - 1)
    val subW = x2 - x1
    val subH = y2 - y1
    if (subW <= 0 || subH <= 0) return None
    // driver-side rasterized mask over the window (utils.py:73-83),
    // top row first; store row r of the window is mask row r
    // (lat-descending) or subH - 1 - r (lat-ascending)
    val subLonMin = g.lonMin + x1 * res
    val subLatMin = g.latMax - y2 * res
    val mask = Geo.geometryMask(subW, subH, geometry, subLonMin, subLatMin, res)
    val rows = if (g.latAscending) mask.reverse else mask
    Some(Window(if (g.latAscending) g.height - y2 else y1, x1, subH, subW,
      rows.flatten, mask.map(_.count(identity)).sum.toLong))
  }

  /** Multi-geometry fan-out (time_series.py:208-219). The direct arm
    * reads each geometry's window per step (chunks shared by
    * overlapping windows decode once, through the LRU); the Spark arm
    * is ONE cube scan: every geometry's bbox window is rasterized on
    * the driver into a shared broadcast (geometry_index, y_idx, x_idx,
    * in_mask, total) table; the cube is scanned once (pre-filtered to
    * the union bbox so pruning still reaches parquet), inner-joined to
    * the broadcast, and grouped by (geometry_index, time). Per-geometry
    * semantics are identical to [[zonal]] — window cells appear exactly
    * once per geometry, so avg(v) is the reference bbox-window mean and
    * count(in_mask ∧ valid) the mask valid count.
    *
    * This is the 100×-safe shape: a 1,000-feature FeatureCollection is
    * one scan + one broadcast join, not a 1,000-branch union plan. */
  def zonalMany(cube: CubeFrame, variable: String, geometries: Seq[Geometry],
                start: Option[Timestamp] = None, end: Option[Timestamp] = None,
                exactMaskMean: Boolean = false): DataFrame =
    frame(cube, ManySchema,
      zonalManyArm(cube, variable, geometries, start, end, exactMaskMean))

  /** [[zonalMany]]'s rows, with no Spark job, analysis or optimisation
    * on the direct arm */
  def zonalManyRows(cube: CubeFrame, variable: String,
                    geometries: Seq[Geometry],
                    start: Option[Timestamp] = None,
                    end: Option[Timestamp] = None,
                    exactMaskMean: Boolean = false): Seq[Row] =
    rows(zonalManyArm(cube, variable, geometries, start, end, exactMaskMean))

  private def zonalManyArm(cube: CubeFrame, variable: String,
                           geometries: Seq[Geometry],
                           start: Option[Timestamp], end: Option[Timestamp],
                           exactMaskMean: Boolean): Arm = {
    val spark = cube.df.sparkSession
    val windows = geometries.zipWithIndex.flatMap { case (geom, i) =>
      windowCells(cube, geom).map(i -> _)
    }
    if (windows.isEmpty) return Left(Nil)
    direct(cube, variable, windows, start, end, exactMaskMean, many = true)
      .toLeft {
        import spark.implicits._
        val cellRows = windows.flatMap { case (i, win) =>
          win.cells.map { case (y, x, m) => (i, y, x, m, win.total) }
        }.toDF("geometry_index", "y_idx", "x_idx", "in_mask", "__total")
        // union-bbox pre-filter keeps parquet row-group pruning effective
        val wins = windows.map(_._2)
        val (xLo, xHi) = (wins.map(_.x0).min, wins.map(w => w.x0 + w.w).max)
        val (yLo, yHi) = (wins.map(_.y0).min, wins.map(w => w.y0 + w.h).max)
        val v = Cube.nanToNull(col(variable))
        val avgCol = if (exactMaskMean) avg(when(col("in_mask"), v)) else avg(v)
        timeFiltered(
          cube.df.filter(col("x_idx") >= xLo && col("x_idx") < xHi &&
            col("y_idx") >= yLo && col("y_idx") < yHi), start, end)
          .join(broadcast(cellRows), Seq("y_idx", "x_idx"))
          .groupBy(col("geometry_index"), col("time"))
          .agg(count(when(col("in_mask"), v)).as("valid_count"),
            avgCol.as("average"),
            max(col("__total")).as("total_count"))
          .withColumn("valid_count",
            when(col("average").isNull, 0L).otherwise(col("valid_count")))
          .withColumn("date", Q.iso(col("time")))
          .select(col("date"), col("total_count"), col("valid_count"),
            col("average"), col("geometry_index"))
          .orderBy("geometry_index", "date")
      }
  }

  private def timeFiltered(df: DataFrame, start: Option[Timestamp],
                           end: Option[Timestamp]): DataFrame = {
    val afterStart = start.map(s => df.filter(col("time") >= lit(s))).getOrElse(df)
    end.map(e => afterStart.filter(col("time") <= lit(e))).getOrElse(afterStart)
  }

  // ---- the direct arm ------------------------------------------------

  /** The direct arm: one row per (geometry index, window) and time step
    * in range, sorted as the Spark arm sorts, each carrying its schema
    * so fields read by name as in collected rows — or None when the
    * request is not eligible (see the object doc). `many` adds the
    * geometry_index column. */
  private def direct(cube: CubeFrame, variable: String,
                     windows: Seq[(Int, Window)],
                     start: Option[Timestamp], end: Option[Timestamp],
                     exactMaskMean: Boolean,
                     many: Boolean): Option[Seq[Row]] = {
    val path = cube.storePath.filter(DirectWindow.isChunkedStore)
      .getOrElse(return None)
    if (cube.extraDims.nonEmpty || !cube.variables.contains(variable))
      return None
    val meta =
      try StoreCache.ops(path).arrayMeta(variable)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (meta.shape.length != 3 ||
        meta.shape.tail != Seq(cube.grid.height, cube.grid.width))
      return None
    val (axis, ascending) = StoreCache.timeAxis(path)
    if (!ascending) return None
    val lo = start.map(DateTimeUtils.fromJavaTimestamp)
    val hi = end.map(DateTimeUtils.fromJavaTimestamp)
    val steps = axis.indices.filter(i => i < meta.shape.head &&
      lo.forall(axis(i) >= _) && hi.forall(axis(i) <= _))
    val Seq(ct, cy, cx) = meta.chunks
    val spatialChunks = windows.flatMap { case (_, w) =>
      for (yc <- w.y0 / cy to (w.y0 + w.h - 1) / cy;
           xc <- w.x0 / cx to (w.x0 + w.w - 1) / cx) yield (yc, xc)
    }.distinct.size
    val bytes = spatialChunks.toLong * steps.map(_ / ct).distinct.size *
      ct * cy * cx * 8L
    if (bytes > StoreCache.directBudgetBytes) return None
    val fmt = TimestampFormatter(Q.IsoPattern, DateTimeUtils.getZoneId(
      cube.df.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)),
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)
    val schema = if (many) ManySchema else Schema
    val rows = for {
      i <- steps
      date = fmt.format(axis(i))
      (id, w) <- windows
    } yield {
      val values = StoreWindow.readWindow(path, variable, axis(i),
        w.y0, w.x0, w.h, w.w).getOrElse(return None)
      val (valid, average) = aggregate(w, values, cy, cx, exactMaskMean)
      val fields: Array[Any] =
        if (many) Array(date, w.total, valid, average, id)
        else Array(date, w.total, valid, average)
      (id, date, new GenericRowWithSchema(fields, schema): Row)
    }
    Some(rows.sortBy(r => (r._1, r._2)).map(_._3))
  }

  /** (valid_count, average) of one window at one time step, summed in
    * the scan's order (object doc): NaN is null, `average` is the
    * window mean (mask mean under `exactMaskMean`), `valid_count`
    * counts in-mask non-null cells and is 0 when `average` is null. */
  private def aggregate(w: Window, values: Array[Double], cy: Int, cx: Int,
                        exactMaskMean: Boolean): (Long, java.lang.Double) = {
    var sum = 0.0
    var n = 0L
    var valid = 0L
    var yc = w.y0 / cy
    while (yc * cy < w.y0 + w.h) {
      var xc = w.x0 / cx
      while (xc * cx < w.x0 + w.w) {
        var partial = 0.0
        var y = math.max(w.y0, yc * cy)
        while (y < math.min(w.y0 + w.h, (yc + 1) * cy)) {
          var x = math.max(w.x0, xc * cx)
          while (x < math.min(w.x0 + w.w, (xc + 1) * cx)) {
            val k = (y - w.y0) * w.w + (x - w.x0)
            val v = values(k)
            val present = !v.isNaN
            if (present && w.mask(k)) valid += 1
            if (present && (w.mask(k) || !exactMaskMean)) {
              partial += v; n += 1
            } else partial += 0.0
            x += 1
          }
          y += 1
        }
        sum += partial
        xc += 1
      }
      yc += 1
    }
    if (n == 0) (0L, null) else (valid, sum / n)
  }
}
