package graft.server

import java.sql.Timestamp

import graft.cube.CubeFrame
import graft.render.Render
import graft.render.Render.ColorMapping

/** Pyramid level routing (SURVEY X6): tile requests at WMTS zoom z are
  * served from the coarsest materialized level whose resolution
  * satisfies the request — low-zoom tiles never touch full-resolution
  * data. Level tables come from CubeIngest.writeLevels; level index k
  * counts finest→coarsest (the MultiLevelDataset convention), WMTS z
  * inverts as `numLevels - 1 - z` (context.py:155).
  */
class TileService(levels: Seq[CubeFrame], tileSize: Int = 256) {

  require(levels.nonEmpty)

  def numLevels: Int = levels.length

  /** level for a WMTS z (z = 0 is the coarsest). */
  def levelForZ(z: Int): CubeFrame = {
    val k = math.max(0, math.min(levels.length - 1, levels.length - 1 - z))
    levels(k)
  }

  def renderTile(variable: String, time: Timestamp, z: Int,
                 tileX: Int, tileY: Int, mapping: ColorMapping): Array[Byte] = {
    val cube = levelForZ(z)
    // a 4-D cube must render ONE plane — unfiltered, every extra-dim
    // plane's rows overlay last-write-wins in collect order
    // (nondeterministic pixels). This convenience API selects each
    // extra dim's FIRST coordinate, the documented no-param default
    // (GraftServer's ?dim= routes pick explicit planes upstream).
    val plane =
      if (cube.extraDims.isEmpty) cube
      else cube.copy(df = cube.extraDims.foldLeft(cube.df)((df, ed) =>
        df.filter(org.apache.spark.sql.functions.col(ed.name) ===
          ed.values.head)), storePath = None)
    Render.renderTile(plane, variable, time, tileX, tileY, tileSize,
      tileSize, mapping, flipY = cube.grid.latAscending)
  }
}
