package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.cube.{CubeFrame, CubeGrid}

/** Multi-level pyramid construction (reference G4/A7/P8:
  * xcube_server/mldataset.py:272-305 strided levels,
  * xcube_server/im/utils.py:27-62 2×2 aggregators, level-size recurrence
  * `(n+1)//2` at mldataset.py:21-23).
  *
  * Level k is a cube with y_idx/x_idx integer-divided by 2^k; building
  * level k+1 from level k is one map-side-combinable groupBy — at scale
  * this is the ingest-time materialization job of SURVEY X6, and levels
  * are written as separate parquet tables so tile queries route to the
  * coarsest sufficient level without touching full-resolution data.
  */
object Pyramid {

  sealed trait Agg
  case object First extends Agg  // stride semantics (P8: array[::2, ::2])
  case object Min extends Agg
  case object Max extends Agg
  case object Sum extends Agg
  case object Mean extends Agg

  /** number of levels until both dims fit a single tile, reference
    * derivation (mldataset.py:385-414 via tile grid): each step halves
    * with (n+1)//2. */
  def numLevels(w: Int, h: Int, tileW: Int = 256, tileH: Int = 256): Int = {
    var (cw, ch) = (w, h)
    var n = 1
    while (cw > tileW || ch > tileH) { cw = (cw + 1) / 2; ch = (ch + 1) / 2; n += 1 }
    n
  }

  /** One downsample step: level k → k+1. */
  def downsample(cube: CubeFrame, agg: Agg): CubeFrame = {
    val g = cube.grid
    val ng = CubeGrid((g.width + 1) / 2, (g.height + 1) / 2,
      g.lonMin, g.latMin, g.res * 2, g.latAscending)
    val df = agg match {
      case First =>
        // strided decimation: keep even rows/cols (tiledimage.py:874,
        // mldataset.py:298-303) — a filter, no shuffle at all
        cube.df
          .filter(col("y_idx") % 2 === 0 && col("x_idx") % 2 === 0)
          .withColumn("y_idx", (col("y_idx") / 2).cast("int"))
          .withColumn("x_idx", (col("x_idx") / 2).cast("int"))
          .drop("lat", "lon")
      case _ =>
        val fn: Column => Column = agg match {
          case Min => min; case Max => max; case Sum => sum
          case _ => avg
        }
        val aggs = cube.variables.map(v =>
          fn(graft.cube.Cube.nanToNull(col(v))).as(v))
        // extra non-spatial dims are grouping keys: a depth plane
        // downsamples within itself, never across the water column
        val keys = Seq(col("time")) ++
          cube.extraDims.map(d => col(d.name)) ++ Seq(
          (col("y_idx") / 2).cast("int").as("y_idx"),
          (col("x_idx") / 2).cast("int").as("x_idx"))
        cube.df
          .groupBy(keys: _*)
          .agg(aggs.head, aggs.tail: _*)
    }
    val withCoords = df
      .withColumn("lat",
        if (ng.latAscending) lit(ng.latMin) + (col("y_idx") + 0.5) * ng.res
        else lit(ng.latMax) - (col("y_idx") + 0.5) * ng.res)
      .withColumn("lon", lit(ng.lonMin) + (col("x_idx") + 0.5) * ng.res)
    // spatial-only transform: the time axis (and its CF calendar) pass
    // through untouched — dropping them here would silently re-date a
    // 360_day/noleap pyramid level through the standard calendar
    CubeFrame(withCoords, ng, cube.variables,
      timeAxis = cube.timeAxis, timeCalendar = cube.timeCalendar,
      extraDims = cube.extraDims)
  }

  /** Full pyramid, finest (level 0) first. */
  def build(cube: CubeFrame, agg: Agg = Mean,
            tileW: Int = 256, tileH: Int = 256): Seq[CubeFrame] = {
    val n = numLevels(cube.grid.width, cube.grid.height, tileW, tileH)
    Iterator.iterate(cube)(downsample(_, agg)).take(n).toSeq
  }
}
