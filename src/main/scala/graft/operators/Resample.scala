package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.cube.CubeFrame

/** Temporal resampling (reference A6: the canonical "computed dataset"
  * script `ds.resample(time='1W').mean('time')`,
  * xcube_server/res/demo/resample_in_time.py:2-3).
  *
  * pandas '1W' ≡ W-SUN: right-closed, right-labeled weekly bins anchored
  * on Sunday — a timestamp maps to the first Sunday ON OR AFTER its
  * date. Spark's `window()` is epoch-aligned and cannot reproduce this
  * (SURVEY Q3), so the label is computed with next_day arithmetic:
  * `next_day(d - 1 day, 'SUN')` (Sunday stays itself, Monday jumps 6
  * days). Golden anchor: times 2017-01-16/25/26/28/30 bin to
  * 2017-01-22, -29, -29, -29, 2017-02-05
  * (test/controllers/test_time_series.py:138).
  */
object Resample {

  /** Right-labeled W-SUN bin label (DATE column). */
  def weekLabelSun(time: Column): Column =
    next_day(date_sub(time.cast("date"), 1), "SUN")

  /** Epoch-aligned fixed-size bin label for day-multiples ('1D', '5D'):
    * pandas origin is the epoch for daily frequencies. */
  def dayBinLabel(time: Column, days: Int): Column =
    date_add(to_date(lit("1970-01-01")),
      ((datediff(time.cast("date"), to_date(lit("1970-01-01"))) / days)
        .cast("int") * days))

  /** Weekly-mean resample of every variable, preserving the grid: the
    * groupBy keys (week, y_idx, x_idx) keep spatial partitioning usable
    * downstream; aggregation is map-side partial first. */
  def weeklyMean(cube: CubeFrame): CubeFrame = {
    // W-SUN binning is proleptic-Gregorian weekday arithmetic; running it
    // over calendar-native 360_day/noleap epoch values would bin garbage.
    // Fail loudly rather than silently mis-date (the CfTime contract).
    require(cube.timeCalendar.forall(graft.sources.CfTime.isStandardCalendar),
      s"weekly resample requires a standard-family calendar, " +
        s"got ${cube.timeCalendar.get}")
    val aggs = cube.variables.map(v =>
      avg(graft.cube.Cube.nanToNull(col(v))).as(v))
    // extra non-spatial dims are grouping keys: a depth plane resamples
    // within itself, never across the water column
    val keys = Seq(weekLabelSun(col("time")).as("week")) ++
      cube.extraDims.map(d => col(d.name)) ++
      Seq(col("y_idx"), col("x_idx"), col("lat"), col("lon"))
    val df = cube.df
      .groupBy(keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("time", col("week").cast("timestamp"))
      .drop("week")
    CubeFrame(df, cube.grid, cube.variables, extraDims = cube.extraDims)
  }

  /** Per-pixel rolling mean over the trailing `n` time steps (the
    * `ds.rolling(time=n).mean()` computed-dataset shape). xarray's
    * default `min_periods` equals the window size, so the first n-1
    * steps of every pixel series are NaN; pass a smaller `minPeriods`
    * for partial-window means. One shuffle on (y_idx, x_idx); every
    * variable shares the same window, so Catalyst plans a single
    * WindowExec. NaN cells propagate (numpy rolling semantics); null
    * cells are skipped. */
  def rollingMean(cube: CubeFrame, n: Int, minPeriods: Int = -1): CubeFrame = {
    require(n >= 1, s"rolling window must be >= 1, got $n")
    val minP = if (minPeriods < 0) n else minPeriods
    // partition by the extra dims too: a 4-D cube's trailing-time
    // window must slide within ONE depth plane, not interleave the
    // water column's rows for the same pixel
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(cube.extraDims.map(d => col(d.name)) ++
        Seq(col("y_idx"), col("x_idx")): _*)
      .orderBy("time")
      .rowsBetween(-(n - 1), 0)
    // min_periods counts OBSERVATIONS (non-null rows of the variable),
    // not window rows — a window padded with nulls must not satisfy it
    val df = cube.variables.foldLeft(cube.df)((acc, v) =>
      acc.withColumn(v, when(count(col(v)).over(w) >= minP,
        avg(col(v)).over(w)).otherwise(lit(Double.NaN))))
    // time axis unchanged: keep the coordinate metadata and CF calendar
    CubeFrame(df, cube.grid, cube.variables,
      timeAxis = cube.timeAxis, timeCalendar = cube.timeCalendar,
      extraDims = cube.extraDims)
  }
}
