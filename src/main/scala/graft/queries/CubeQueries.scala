package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.cube.CubeGrid
import graft.geo.Geo
import graft.geo.Geo.{Polygon, Pt}
import graft.operators.{Places, Resample}

/** Reference-semantics operators demonstrated as oracle-checked queries.
  *
  * The testdata has no raster cube, so a deterministic 40×20 grid is
  * derived from `events`: cell (y,x) = (event_id % 20, (user_id/20) % 40),
  * cell centers at lat 50.05+0.1y (ascending), lon 0.05+0.1x, and
  * `value` plays the cube variable. Both engines derive it with the
  * identical arithmetic, so grid coordinates are bit-equal doubles.
  *
  * The full raster-path operators (graft.operators.TimeSeries with the
  * rasterized all_touched mask, Pyramid, Resample on CubeFrame) are
  * exercised against synthetic cubes in the ScalaTest suites; these
  * queries prove the same relational shapes against the DuckDB oracle.
  */
object CubeQueries {

  val grid: CubeGrid = CubeGrid(width = 40, height = 20,
    lonMin = 0.0, latMin = 50.0, res = 0.1, latAscending = true)

  /** events + derived cell columns; arithmetic mirrored in cubeCte. */
  private[queries] def cube(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("y_idx", expr("CAST(event_id % 20 AS INT)"))
      .withColumn("x_idx", expr("CAST((event_id div 20) % 40 AS INT)"))
      .withColumn("lat",
        lit(50.0) + (expr("CAST(event_id % 20 AS DOUBLE)") + lit(0.5)) * lit(0.1))
      .withColumn("lon",
        (expr("CAST((event_id div 20) % 40 AS DOUBLE)") + lit(0.5)) * lit(0.1))
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))

  // the derived cube's coordinate axes, as driver arithmetic — the SAME
  // IEEE expressions the per-row formula evaluates, so the value sets
  // are bit-identical to a DISTINCT over the fact table (which the
  // events tables fully populate at every SF: 20 × 40 cells)
  private def coordLats: Array[Double] =
    Array.tabulate(20)(y => 50.0 + (y.toDouble + 0.5) * 0.1)
  private def coordLons: Array[Double] =
    Array.tabulate(40)(x => (x.toDouble + 0.5) * 0.1)

  private[queries] val cubeCte: String = """
    cube AS (
      SELECT event_id, user_id, event_type, value,
        CAST(event_id % 20 AS INT) AS y_idx,
        CAST((event_id // 20) % 40 AS INT) AS x_idx,
        50.0 + (CAST(event_id % 20 AS DOUBLE) + 0.5) * 0.1 AS lat,
        (CAST((event_id // 20) % 40 AS DOUBLE) + 0.5) * 0.1 AS lon,
        strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
      FROM events)"""

  // ---------------------------------------------------------------- P3/A4
  /** Point time series: nearest-cell resolution from the coord tables
    * (driver-side scalar lookup, reference P3/J5), then an equality
    * filter + per-day stats (A4). */
  def tsPoint(s: SparkSession, d: String): DataFrame = {
    val (qLon, qLat) = (3.37, 51.23)
    val c = cube(s, d)
    // coordinate AXES are grid metadata, not data: the same doubles the
    // per-row formula produces, enumerated on the driver (a store-backed
    // cube reads its parsed coordinate arrays — CubeFrame.timeAxis — and
    // a registration never scans the fact table for coords). The oracle's
    // DISTINCT subquery collapses to the identical value set.
    val lats = coordLats
    val lons = coordLons
    def nearest(vals: Array[Double], q: Double): Double =
      vals.sortBy(v => (math.abs(v - q), v)).head
    val (nLat, nLon) = (nearest(lats, qLat), nearest(lons, qLon))
    c.filter(col("lat") === nLat && col("lon") === nLon)
      .groupBy("day")
      .agg(count(lit(1)).as("total_count"),
        count(col("value")).as("valid_count"),
        Q.davg(col("value")).as("avg_value"))
      .orderBy("day")
  }

  val tsPointSql: String = s"""
    WITH $cubeCte
    SELECT day, COUNT(*) AS total_count, COUNT(value) AS valid_count,
      ${Sql.davg("value")} AS avg_value
    FROM cube
    WHERE lat = (SELECT lat FROM (SELECT DISTINCT lat FROM cube)
                 ORDER BY abs(lat - 51.23), lat LIMIT 1)
      AND lon = (SELECT lon FROM (SELECT DISTINCT lon FROM cube)
                 ORDER BY abs(lon - 3.37), lon LIMIT 1)
    GROUP BY day ORDER BY day"""

  // ---------------------------------------------------------------- J3/A1-A3
  /** Zonal time series for a triangle: rasterized cell mask computed on
    * the driver (broadcast include-list semi-join, J3), per-day
    * bbox-window mean (the reference's Q2 semantics) + masked valid
    * count (A2) + mask cardinality (A3). */
  def tsZonal(s: SparkSession, d: String): DataFrame = {
    val tri = Polygon(IndexedSeq(
      Pt(0.51, 50.21), Pt(3.49, 50.91), Pt(1.99, 51.79)))
    val maskCells = for {
      y <- 0 until grid.height; x <- 0 until grid.width
      if tri.contains(Pt(grid.lonOfX(x), grid.latOfY(y)))
    } yield (y, x)
    val totalCount = maskCells.size.toLong
    import s.implicits._
    val maskDf = maskCells.toDF("y_idx", "x_idx").withColumn("in_mask", lit(1))
    val bb = tri.bbox
    cube(s, d)
      .filter(col("lon") >= bb.xMin && col("lon") <= bb.xMax &&
        col("lat") >= bb.yMin && col("lat") <= bb.yMax)
      .join(broadcast(maskDf), Seq("y_idx", "x_idx"), "left")
      .groupBy("day")
      .agg(count(col("in_mask")).as("valid_count"),
        Q.davg(col("value")).as("avg_value"))
      .withColumn("total_count", lit(totalCount))
      .select("day", "total_count", "valid_count", "avg_value")
      .orderBy("day")
  }

  val tsZonalSql: String = s"""
    WITH $cubeCte,
    grid AS (
      SELECT CAST(y.range AS INT) AS y, CAST(x.range AS INT) AS x,
        50.0 + (CAST(y.range AS DOUBLE) + 0.5) * 0.1 AS cy,
        (CAST(x.range AS DOUBLE) + 0.5) * 0.1 AS cx
      FROM range(0,20) y, range(0,40) x),
    mask AS (
      SELECT y, x FROM grid
      WHERE 2.98*(cy-50.21) - 0.70*(cx-0.51) > 0
        AND -1.50*(cy-50.91) - 0.88*(cx-3.49) > 0
        AND -1.48*(cy-51.79) + 1.58*(cx-1.99) > 0)
    SELECT day,
      (SELECT COUNT(*) FROM mask) AS total_count,
      COUNT(m.y) AS valid_count,
      ${Sql.davg("value")} AS avg_value
    FROM cube LEFT JOIN mask m ON cube.y_idx = m.y AND cube.x_idx = m.x
    WHERE lon >= 0.51 AND lon <= 3.49 AND lat >= 50.21 AND lat <= 51.79
    GROUP BY day ORDER BY day"""

  // ---------------------------------------------------------------- J3/F12
  /** Zonal time series for a GeometryCollection (utils.py:100-121:
    * GEOMETRY_COLLECTION_TYPE accepted everywhere a geometry is): two
    * axis-aligned box polygons + a MultiPoint at two exact cell centers.
    * The collection mask is the UNION of member masks
    * (Geo.GeometryCollection.contains = ∃ member), the window is the
    * collection bbox, aggregation identical to cube_ts_zonal. The oracle
    * re-derives membership independently (range tests + index equality). */
  def tsGeomCollection(s: SparkSession, d: String): DataFrame = {
    val gc = Geo.GeometryCollection(Seq(
      Geo.boxPolygon(0.41, 50.11, 1.99, 51.29),
      Geo.boxPolygon(2.21, 51.01, 3.79, 51.99),
      Geo.MultiPoint(Seq(
        Pt(grid.lonOfX(35), grid.latOfY(2)),
        Pt(grid.lonOfX(5), grid.latOfY(18))))))
    val maskCells = for {
      y <- 0 until grid.height; x <- 0 until grid.width
      if gc.contains(Pt(grid.lonOfX(x), grid.latOfY(y)))
    } yield (y, x)
    val totalCount = maskCells.size.toLong
    import s.implicits._
    val maskDf = maskCells.toDF("y_idx", "x_idx").withColumn("in_mask", lit(1))
    val bb = gc.bbox
    cube(s, d)
      .filter(col("lon") >= bb.xMin && col("lon") <= bb.xMax &&
        col("lat") >= bb.yMin && col("lat") <= bb.yMax)
      .join(broadcast(maskDf), Seq("y_idx", "x_idx"), "left")
      .groupBy("day")
      .agg(count(col("in_mask")).as("valid_count"),
        Q.davg(col("value")).as("avg_value"))
      .withColumn("total_count", lit(totalCount))
      .select("day", "total_count", "valid_count", "avg_value")
      .orderBy("day")
  }

  val tsGeomCollectionSql: String = s"""
    WITH $cubeCte,
    grid AS (
      SELECT CAST(y.range AS INT) AS y, CAST(x.range AS INT) AS x,
        50.0 + (CAST(y.range AS DOUBLE) + 0.5) * 0.1 AS cy,
        (CAST(x.range AS DOUBLE) + 0.5) * 0.1 AS cx
      FROM range(0,20) y, range(0,40) x),
    mask AS (
      SELECT y, x FROM grid
      WHERE (cx > 0.41 AND cx < 1.99 AND cy > 50.11 AND cy < 51.29)
         OR (cx > 2.21 AND cx < 3.79 AND cy > 51.01 AND cy < 51.99)
         OR (y = 2 AND x = 35) OR (y = 18 AND x = 5))
    SELECT day,
      (SELECT COUNT(*) FROM mask) AS total_count,
      COUNT(m.y) AS valid_count,
      ${Sql.davg("value")} AS avg_value
    FROM cube LEFT JOIN mask m ON cube.y_idx = m.y AND cube.x_idx = m.x
    WHERE lon >= 0.41 AND lon <= 3.79 AND lat >= 50.11 AND lat <= 51.99
    GROUP BY day ORDER BY day"""

  // ---------------------------------------------------------------- A6/Q3
  /** pandas-'1W'-compatible weekly resample (Sunday-anchored,
    * right-labeled — graft.operators.Resample) per event_type. */
  def resample1w(s: SparkSession, d: String): DataFrame =
    cube(s, d)
      .groupBy(date_format(Resample.weekLabelSun(col("ts")), "yyyy-MM-dd")
          .as("week"),
        col("event_type"))
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
      .orderBy("week", "event_type")

  val resample1wSql: String = s"""
    WITH base AS (
      SELECT event_type, value, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd
      FROM events)
    SELECT strftime(dd + to_days(CAST((7 - dayofweek(dd)) % 7 AS INT)),
             '%Y-%m-%d') AS week,
      event_type, COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
    FROM base
    GROUP BY 1, 2 ORDER BY week, event_type"""

  /** Epoch-aligned 5-day bins (pandas '5D' semantics: origin at the
    * epoch for day-multiple frequencies — Resample.dayBinLabel). */
  def resample5d(s: SparkSession, d: String): DataFrame =
    cube(s, d)
      .groupBy(date_format(Resample.dayBinLabel(col("ts"), 5), "yyyy-MM-dd")
          .as("bin_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
      .orderBy("bin_start", "event_type")

  val resample5dSql: String = s"""
    WITH b AS (
      SELECT event_type, value,
        DATE '1970-01-01' + to_days(CAST(
          (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') // 5 * 5
          AS INT)) AS bin
      FROM events)
    SELECT strftime(bin, '%Y-%m-%d') AS bin_start, event_type,
      COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
    FROM b GROUP BY 1, 2 ORDER BY bin_start, event_type"""

  // ---------------------------------------------------------------- A6 rolling
  /** Trailing 3-bin rolling window per pixel (`ds.rolling(time=3)`,
    * the computed-dataset shape of Resample.rollingMean): daily
    * per-cell aggregation, then a frame-bounded window — exact decimal
    * sums so the oracle hashes; one shuffle on (y_idx, x_idx). */
  def rolling3d(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = cube(s, d)
      .groupBy("y_idx", "x_idx", "day")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast(Q.Dec)).as("day_sum"))
    val w = Window.partitionBy("y_idx", "x_idx").orderBy("day")
      .rowsBetween(-2, 0)
    daily.select(col("y_idx"), col("x_idx"), col("day"),
        sum(col("n_obs")).over(w).as("n_roll"),
        round(sum(col("day_sum")).over(w), 2).cast("double").as("sum_roll"))
      .orderBy("y_idx", "x_idx", "day")
  }

  val rolling3dSql: String = s"""
    WITH $cubeCte,
    daily AS (
      SELECT y_idx, x_idx, day, COUNT(*) AS n_obs,
        SUM(CAST(value AS DECIMAL(38,6))) AS day_sum
      FROM cube GROUP BY 1, 2, 3)
    SELECT y_idx, x_idx, day,
      CAST(SUM(n_obs) OVER w AS BIGINT) AS n_roll,
      CAST(ROUND(SUM(day_sum) OVER w, 2) AS DOUBLE) AS sum_roll
    FROM daily
    WINDOW w AS (PARTITION BY y_idx, x_idx ORDER BY day
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY y_idx, x_idx, day"""

  // ---------------------------------------------------------------- A7/P8
  /** One pyramid downsample step on the event grid: 2×2 sibling cells
    * aggregate with mean (A7); the `(n+1)//2` recurrence and strided
    * First-variant live in graft.operators.Pyramid. */
  def pyramidL1(s: SparkSession, d: String): DataFrame =
    cube(s, d)
      .groupBy(expr("y_idx div 2").cast("int").as("yl1"),
        expr("x_idx div 2").cast("int").as("xl1"))
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
      .orderBy("yl1", "xl1")

  val pyramidL1Sql: String = s"""
    WITH $cubeCte
    SELECT CAST(y_idx // 2 AS INT) AS yl1, CAST(x_idx // 2 AS INT) AS xl1,
      COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
    FROM cube GROUP BY 1, 2 ORDER BY yl1, xl1"""

  // ---------------------------------------------------------------- A5
  /** Null-skipping min/max per variable (colormap auto-range, A5). */
  def minmax(s: SparkSession, d: String): DataFrame =
    cube(s, d)
      .groupBy("event_type")
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        count(col("value")).as("n"))
      .orderBy("event_type")

  val minmaxSql: String = """
    SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax,
      COUNT(value) AS n
    FROM events GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- F11/O2
  /** Dataset bounds from coordinate tables: cell centers ± half the
    * minimum coordinate delta (utils.py:19-53 fallback branch). */
  def bounds(s: SparkSession, d: String): DataFrame = {
    def minDelta(vals: Array[Double]): Double = {
      val sorted = vals.sorted
      sorted.sliding(2).map { case Array(a, b) => b - a }.min
    }
    // axes from grid metadata (see tsPoint) — bit-identical doubles to
    // the oracle's DISTINCT over the per-row formula
    val lats = coordLats
    val lons = coordLons
    val (dLat, dLon) = (minDelta(lats), minDelta(lons))
    import s.implicits._
    Seq((lons.min - 0.5 * dLon, lats.min - 0.5 * dLat,
      lons.max + 0.5 * dLon, lats.max + 0.5 * dLat))
      .toDF("west", "south", "east", "north")
  }

  val boundsSql: String = s"""
    WITH $cubeCte,
    lats AS (SELECT DISTINCT lat FROM cube),
    lons AS (SELECT DISTINCT lon FROM cube),
    dlat AS (SELECT MIN(lat - p) AS v FROM
      (SELECT lat, LAG(lat) OVER (ORDER BY lat) AS p FROM lats) WHERE p IS NOT NULL),
    dlon AS (SELECT MIN(lon - p) AS v FROM
      (SELECT lon, LAG(lon) OVER (ORDER BY lon) AS p FROM lons) WHERE p IS NOT NULL)
    SELECT (SELECT MIN(lon) FROM lons) - 0.5 * (SELECT v FROM dlon) AS west,
           (SELECT MIN(lat) FROM lats) - 0.5 * (SELECT v FROM dlat) AS south,
           (SELECT MAX(lon) FROM lons) + 0.5 * (SELECT v FROM dlon) AS east,
           (SELECT MAX(lat) FROM lats) + 0.5 * (SELECT v FROM dlat) AS north"""

  // ---------------------------------------------------------------- streaming-shaped
  /** Epoch-aligned tumbling 1-hour windows per event_type — the batch
    * equivalent of the Structured Streaming windowed aggregation
    * (graft.streaming exercises the readStream path on the same data). */
  def hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(Q.iso(date_trunc("hour", col("ts"))).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_obs"), Q.dsum(col("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")

  val hourlySql: String = s"""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
             '%Y-%m-%dT%H:%M:%SZ') AS hour,
      event_type, COUNT(*) AS n_obs, ${Sql.dsum("value", 4)} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  /** Trailing-window anomaly scores over the hourly event stream: per
    * (hour, type), the z-score of that hour's count against the
    * PRECEDING 24 hours' mean/std (range window over an integer hour
    * axis — calendar-free and cross-engine exact). Everything stays
    * integer (count, sum, sum-of-squares over a RANGE 24 PRECEDING AND
    * 1 PRECEDING window) until one final double formula, so both
    * engines compute bit-identical z-scores; rows without a full
    * 24-hour history are excluded rather than scored against a partial
    * baseline. The monitoring pass an ingest pipeline runs over its
    * own telemetry. */
  def eventsAnomaly(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, d)
      .groupBy(expr("ts_us div 3600000000").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rangeBetween(-24, -1)
    hourly
      .withColumn("cnt", count(col("n")).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("cnt") === 24)
      .withColumn("mean", col("s").cast("double") / col("cnt"))
      .withColumn("variance",
        col("s2").cast("double") / col("cnt") - col("mean") * col("mean"))
      .withColumn("z_score", round((col("n") - col("mean")) /
        sqrt(greatest(col("variance"), lit(1e-9))), 4))
      .select(col("h").as("hour_idx"), col("event_type"),
        col("n").as("n_obs"), col("z_score"))
      .orderBy("hour_idx", "event_type")
  }

  val eventsAnomalySql: String = """
    WITH hourly AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type,
        COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT h, event_type, n,
        COUNT(n) OVER w AS cnt, SUM(n) OVER w AS s, SUM(n*n) OVER w AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
        RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT h AS hour_idx, event_type, n AS n_obs,
      ROUND((n - CAST(s AS DOUBLE) / cnt) /
        sqrt(GREATEST(CAST(s2 AS DOUBLE) / cnt -
          (CAST(s AS DOUBLE) / cnt) * (CAST(s AS DOUBLE) / cnt), 1e-9)), 4)
        AS z_score
    FROM t WHERE cnt = 24 ORDER BY hour_idx, event_type"""

  /** First-order Markov transition matrix over per-user event
    * sequences: lag each user's (ts, event_id)-ordered stream by one,
    * count (prev → next) transitions, and row-normalize into
    * transition probabilities. The behavioral-model fit a telemetry
    * pipeline runs before sequence-aware sampling. Scale shape: ONE
    * shuffle keyed by user_id feeds the lag window (per-user state,
    * never global), and the 5×5 transition aggregate on top is
    * map-side combined into constant-size partials; probabilities
    * divide two exact BIGINTs per row, so both engines round the same
    * doubles. */
  def eventsMarkov(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = Tables.events(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val fromTot = Window.partitionBy("prev_type")
    trans
      .withColumn("p_trans",
        round(col("n_trans").cast("double") /
          sum(col("n_trans")).over(fromTot), 6))
      .orderBy("prev_type", "next_type")
  }

  val eventsMarkovSql: String = """
    WITH seq AS (SELECT user_id, event_type,
        LAG(event_type) OVER (PARTITION BY user_id
          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_type
      FROM events),
    trans AS (SELECT prev_type, event_type AS next_type,
        COUNT(*) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n_trans,
      ROUND(CAST(n_trans AS DOUBLE) /
        SUM(n_trans) OVER (PARTITION BY prev_type), 6) AS p_trans
    FROM trans ORDER BY prev_type, next_type"""

  /** Pinned-value pivot: per epoch-day event-type counts widened into
    * one column per type. The values are PINNED (`pivot(col, values)`)
    * rather than discovered, which matters at scale: value discovery
    * is an extra full aggregation pass over the fact table before the
    * real one, and an unpinned pivot's schema silently changes when a
    * new event type appears. With pinned values the plan is a single
    * hash aggregate keyed by day (map-side combined, 5 counters per
    * partial) — same cost as a plain groupBy. */
  def eventsPivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val day = Tables.events(s, d)
      .withColumn("day", expr("ts_us div 86400000000"))
    val wide = day.groupBy("day").pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(wide) { (df, t) =>
        df.withColumn(s"n_$t", coalesce(col(t).cast("long"), lit(0L)))
          .drop(t)
      }
      .orderBy("day")
  }

  val eventsPivotSql: String = """
    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        AS n_click,
      CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT)
        AS n_error,
      CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
        AS n_purchase,
      CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT)
        AS n_signup,
      CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
        AS n_view
    FROM events GROUP BY 1 ORDER BY day"""

  /** Hour-of-day seasonality profile per event type: the diurnal-shape
    * fingerprint (counts, mean value, and a load factor vs the type's
    * flat-rate expectation) that capacity planning and anomaly
    * baselines start from. The hour-of-day index is pure integer
    * arithmetic on epoch-micros — calendar- and timezone-free, so both
    * engines bucket identically; per-type totals are a 5-row broadcast
    * and the whole plan is two map-side-combinable aggregations. */
  def eventsSeasonality(s: SparkSession, d: String): DataFrame = {
    val byHour = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hour_of_day"))
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
    val tot = byHour.groupBy("event_type")
      .agg(sum(col("n_obs")).as("n_total"))
    byHour.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("hour_of_day"), col("n_obs"),
        col("avg_value"),
        round(col("n_obs").cast("double") * 24 / col("n_total"), 4)
          .as("load_factor"))
      .orderBy("event_type", "hour_of_day")
  }

  val eventsSeasonalitySql: String = s"""
    WITH byh AS (SELECT event_type,
        (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour_of_day,
        COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n_obs) AS BIGINT) AS n_total
      FROM byh GROUP BY 1)
    SELECT event_type, hour_of_day, n_obs, avg_value,
      ROUND(CAST(n_obs AS DOUBLE) * 24 / n_total, 4) AS load_factor
    FROM byh JOIN tot USING (event_type)
    ORDER BY event_type, hour_of_day"""

  // ---------------------------------------------------------------- J1
  /** Spatial intersects filter (places query): customer-derived points
    * against a WKT triangle via the pure-Scala geometry kernel, bbox
    * range predicate first for scan pruning. */
  def placesInPolygon(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.customer(s, d)
      .select(col("c_custkey"),
        (expr("CAST((c_custkey * 37) % 1000 AS DOUBLE)") / lit(10.0)).as("px"),
        (expr("CAST((c_custkey * 73) % 1000 AS DOUBLE)") / lit(10.0)).as("py"))
    Places.pointsWithinWkt(pts, "px", "py",
        "POLYGON((10.05 10.05, 90.05 20.05, 50.05 95.05, 10.05 10.05))")
      .orderBy("c_custkey")
  }

  val placesInPolygonSql: String = """
    WITH pts AS (
      SELECT c_custkey,
        CAST((c_custkey * 37) % 1000 AS DOUBLE)/10.0 AS px,
        CAST((c_custkey * 73) % 1000 AS DOUBLE)/10.0 AS py
      FROM customer)
    SELECT c_custkey, px, py FROM pts
    WHERE 80.0*(py-10.05) - 10.0*(px-10.05) > 0
      AND -40.0*(py-20.05) - 75.0*(px-90.05) > 0
      AND -40.0*(py-95.05) + 85.0*(px-50.05) > 0
    ORDER BY c_custkey"""

  // ------------------------------------------------------------ CF cal
  /** CF `360_day`-calendar decoding at column scale (CMIP-style model
    * output carries day counts in the model calendar; the reference
    * decodes them via cftime, context.py:243-250): per-event day
    * offsets decode to 360_day dates with the SAME day-numbering
    * CfTime uses for store axes, then aggregate per calendar month.
    * Pure codegen'd integer arithmetic — no UDF. */
  def cal360Day(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CfCalendarCols
    val days = expr("CAST(event_id % 54321 AS BIGINT)") // 1970..2120
    Tables.events(s, d)
      .withColumn("cal_date", CfCalendarCols.iso360(days))
      .groupBy(substring(col("cal_date"), 1, 7).as("cal_month"))
      .agg(count(lit(1)).as("n_obs"),
        Q.davg(col("value")).as("avg_value"),
        min(col("cal_date")).as("first_date"),
        max(col("cal_date")).as("last_date"))
      .orderBy("cal_month")
  }

  val cal360DaySql: String = s"""
    WITH decoded AS (
      SELECT value,
        lpad(CAST(1970 + (event_id % 54321) // 360 AS VARCHAR), 4, '0')
          || '-' ||
        lpad(CAST(((event_id % 54321) % 360) // 30 + 1 AS VARCHAR), 2, '0')
          || '-' ||
        lpad(CAST(((event_id % 54321) % 360) % 30 + 1 AS VARCHAR), 2, '0')
          AS cal_date
      FROM events)
    SELECT substring(cal_date, 1, 7) AS cal_month,
      COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value,
      MIN(cal_date) AS first_date, MAX(cal_date) AS last_date
    FROM decoded GROUP BY 1 ORDER BY cal_month"""

  // ------------------------------------------------------------ gap-fill
  /** Linear-interpolation gap fill over the sparse (cell, day) series —
    * the temporal-regularization step a cube store runs before
    * resampling a variable whose observations have holes (the purchase
    * slice fills only ~9% of the 744-cell × 30-day spine at sf0.01).
    *
    * Scale shape: the spine is grid × calendar — metadata-sized, NOT
    * fact-sized — built as observed-cells ⨯ broadcast(observed-days)
    * (BroadcastNestedLoopJoin on a calendar-bounded side). The fill
    * windows partition by cell (never global); prev/next neighbors come
    * from IGNORE-NULLS last/first over the per-cell frame, so the fill
    * is one keyed window pass, no self-join, no per-gap probing. The
    * daily aggregate persists because spine construction reads it three
    * times (cells, days, values). Interpolation arithmetic is written
    * as the identical IEEE expression in both engines: the neighbor
    * values are already 6-dp-rounded decimals, the day-offset ratio is
    * an explicit double division. */
  def gapfillLinear(s: SparkSession, d: String): DataFrame = {
    val daily = cube(s, d).filter(col("event_type") === "purchase")
      .groupBy("y_idx", "x_idx", "day")
      .agg(graft.Q.davg(col("value")).as("v"))
      .persist()
    val cells = daily.select("y_idx", "x_idx").distinct()
    val days = daily.select("day").distinct()
    val joined = cells.crossJoin(broadcast(days))
      .join(daily, Seq("y_idx", "x_idx", "day"), "left")
      .withColumn("dn",
        datediff(to_date(col("day")), lit("1970-01-01").cast("date")))
    val W = org.apache.spark.sql.expressions.Window
    val wBase = W.partitionBy("y_idx", "x_idx").orderBy("dn")
    val wPrev = wBase.rowsBetween(W.unboundedPreceding, -1)
    val wNext = wBase.rowsBetween(1, W.unboundedFollowing)
    val vp = last(col("v"), ignoreNulls = true).over(wPrev)
    val dp = last(when(col("v").isNotNull, col("dn")), ignoreNulls = true)
      .over(wPrev)
    val vn = first(col("v"), ignoreNulls = true).over(wNext)
    val dq = first(when(col("v").isNotNull, col("dn")), ignoreNulls = true)
      .over(wNext)
    val filled = when(col("v").isNotNull, col("v")).otherwise(
      round(vp + (vn - vp) *
        ((col("dn") - dp).cast("double") / (dq - dp).cast("double")), 6))
    val out = joined
      .withColumn("value_filled", filled)
      .withColumn("was_gap", col("v").isNull)
      .filter(col("value_filled").isNotNull)
      .select(col("y_idx"), col("x_idx"), col("day"), col("value_filled"),
        col("was_gap"))
      .orderBy("y_idx", "x_idx", "day")
    graft.pipeline.Caching.materializeAndRelease(out, daily)
  }

  val gapfillLinearSql: String = s"""
    WITH $cubeCte,
    daily AS (
      SELECT y_idx, x_idx, day, ${Sql.davg("value")} AS v
      FROM cube WHERE event_type = 'purchase'
      GROUP BY y_idx, x_idx, day),
    spine AS (
      SELECT c.y_idx, c.x_idx, dd.day
      FROM (SELECT DISTINCT y_idx, x_idx FROM daily) c
      CROSS JOIN (SELECT DISTINCT day FROM daily) dd),
    j AS (
      SELECT s.y_idx, s.x_idx, s.day, d.v,
        date_diff('day', DATE '1970-01-01', CAST(s.day AS DATE)) AS dn
      FROM spine s LEFT JOIN daily d
        ON s.y_idx = d.y_idx AND s.x_idx = d.x_idx AND s.day = d.day),
    w AS (
      SELECT y_idx, x_idx, day, v, dn,
        LAST_VALUE(v IGNORE NULLS) OVER wp AS vp,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
          OVER wp AS dp,
        FIRST_VALUE(v IGNORE NULLS) OVER wn AS vn,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS)
          OVER wn AS dq
      FROM j
      WINDOW wp AS (PARTITION BY y_idx, x_idx ORDER BY dn
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        wn AS (PARTITION BY y_idx, x_idx ORDER BY dn
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
    f AS (
      SELECT y_idx, x_idx, day,
        CASE WHEN v IS NOT NULL THEN v
          ELSE ROUND(vp + (vn - vp) *
            (CAST(dn - dp AS DOUBLE) / CAST(dq - dp AS DOUBLE)), 6)
        END AS value_filled,
        v IS NULL AS was_gap
      FROM w)
    SELECT y_idx, x_idx, day, value_filled, was_gap
    FROM f WHERE value_filled IS NOT NULL
    ORDER BY y_idx, x_idx, day"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cube_gapfill_linear", gapfillLinear, Some(gapfillLinearSql)),
    QuerySpec("cube_cal_360day", cal360Day, Some(cal360DaySql)),
    QuerySpec("cube_ts_point", tsPoint, Some(tsPointSql)),
    QuerySpec("cube_ts_zonal", tsZonal, Some(tsZonalSql)),
    QuerySpec("ts_geom_collection", tsGeomCollection, Some(tsGeomCollectionSql)),
    QuerySpec("cube_resample_1w", resample1w, Some(resample1wSql)),
    QuerySpec("cube_resample_5d", resample5d, Some(resample5dSql)),
    QuerySpec("cube_rolling_3d", rolling3d, Some(rolling3dSql)),
    QuerySpec("cube_pyramid_l1", pyramidL1, Some(pyramidL1Sql)),
    QuerySpec("cube_minmax", minmax, Some(minmaxSql)),
    QuerySpec("cube_bounds", bounds, Some(boundsSql)),
    QuerySpec("events_hourly", hourly, Some(hourlySql)),
    QuerySpec("events_anomaly", eventsAnomaly, Some(eventsAnomalySql)),
    QuerySpec("events_markov", eventsMarkov, Some(eventsMarkovSql)),
    QuerySpec("events_pivot", eventsPivot, Some(eventsPivotSql)),
    QuerySpec("events_seasonality", eventsSeasonality,
      Some(eventsSeasonalitySql)),
    QuerySpec("places_in_polygon", placesInPolygon, Some(placesInPolygonSql)))
}
