package graft.render

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.cube.CubeFrame
import graft.render.Render.ColorMapping

/** Distributed pyramid-tile materialization: render EVERY tile of a
  * level as one Spark job, bytes identical to the per-request
  * [[Render.renderTile]] path the HTTP server uses.
  *
  * The per-request path collects one tile's cells to the driver — right
  * for interactive serving (a 256×256 window), wrong for "pre-render
  * the whole pyramid": at 100 TB that is millions of driver round
  * trips. Here the full tile-key space (a `spark.range`, so empty
  * tiles render too) left-joins the level's cells on the tile key —
  * one hash-partitioned shuffle co-locates each tile's cells — and
  * `mapGroups` colormap+PNG-encodes on the executors. Output can stay
  * a Dataset (for a sink of choice) or be written as `z/x/y.png`
  * through the Hadoop FS API (local dir in tests, s3a/gs on a
  * cluster). */
object TileMaterialize {

  /** One batch member for [[renderLevels]]: a (level frame, time step,
    * extra-dim plane) to render in the shared job. `key` tags the
    * member's tiles in the output (callers map it back to a z/time
    * output path). */
  final case class LevelJob(key: Int, cube: CubeFrame,
                            timeValue: java.sql.Timestamp,
                            extraSel: Seq[(String, Double)] = Nil)

  /** All tiles of one level at one time step (and, for a 4-D cube, one
    * extra-dim plane — default: the FIRST coordinate per dim, the
    * serving default): (tileX, tileY, png). Without the plane filter a
    * 4-D cube's depth planes would overlay nondeterministically
    * (last-shuffled-write-wins per pixel). */
  def renderLevel(cube: CubeFrame, variable: String,
                  timeValue: java.sql.Timestamp,
                  tileW: Int, tileH: Int, mapping: ColorMapping,
                  flipY: Boolean = false,
                  extraSel: Seq[(String, Double)] = Nil)
      : Dataset[(Int, Int, Array[Byte])] = {
    val spark = cube.df.sparkSession
    import spark.implicits._
    renderLevels(Seq(LevelJob(0, cube, timeValue, extraSel)), variable,
      tileW, tileH, mapping, flipY)
      .map { case (_, tx, ty, png) => (tx, ty, png) }
  }

  /** MANY (level, time, plane) members in ONE Spark job — the whole-
    * pyramid pre-render shape: (key, tileX, tileY, png). A per-level
    * job pays the fixed planning/scheduling/codegen floor per level,
    * which dominates wall-clock when levels are small (TILEBENCH's
    * single-level batch measured ~0.14 s/tile of which ~95% was job
    * floor); here every member's cells ride the SAME tile-key shuffle
    * and the floor is paid once for the batch. At 100 TB the batch is
    * the unit of scheduling: all levels × all time steps of a cube in
    * one job, keyed so no two members' pixels can collide. */
  def renderLevels(jobs: Seq[LevelJob], variable: String,
                   tileW: Int, tileH: Int, mapping: ColorMapping,
                   flipY: Boolean = false)
      : Dataset[(Int, Int, Int, Array[Byte])] = {
    require(jobs.nonEmpty, "empty batch")
    require(jobs.map(_.key).distinct.size == jobs.size,
      s"duplicate member keys: ${jobs.map(_.key)}")
    val spark = jobs.head.cube.df.sparkSession
    import spark.implicits._
    val members = jobs.map { j =>
      val sel =
        if (j.extraSel.nonEmpty) j.extraSel
        else j.cube.extraDims.map(d => d.name -> d.values.head)
      require(sel.map(_._1) == j.cube.extraDims.map(_.name),
        s"extra-dim selection ${sel.map(_._1)} must name the cube's " +
          s"dims ${j.cube.extraDims.map(_.name)} in order")
      // values must sit ON the axis: an off-axis value would match no
      // rows and the bulk job would "succeed" writing zero tiles (the
      // per-request path nearest-snaps; a batch job misconfiguration
      // should fail loudly instead)
      sel.zip(j.cube.extraDims).foreach { case ((n, v), ed) =>
        require(ed.values.contains(v),
          s"$n=$v is not on the axis ${ed.values.mkString("[", ", ", "]")}")
      }
      // the colormap kernel runs MAP-SIDE as a codegen expression
      // (ColorMapArgb fuses mask+normalize+palette into the scan
      // projection, SURVEY X8): the shuffle carries one int per cell
      // instead of a double re-kerneled per tile in a closure, and the
      // post-shuffle closure only places pixels and PNG-encodes
      val cells = sel.foldLeft(
          j.cube.df.filter(col("time") === lit(j.timeValue))) {
          case (df, (n, v)) => df.filter(col(n) === lit(v))
        }
        .select(lit(j.key).as("jk"),
          (col("x_idx") / tileW).cast("int").as("tx"),
          (col("y_idx") / tileH).cast("int").as("ty"),
          col("y_idx"), col("x_idx"),
          graft.functions.ColorMapArgb(col(variable), mapping).as("argb"))
      val ntx = (j.cube.grid.width + tileW - 1) / tileW
      val nty = (j.cube.grid.height + tileH - 1) / tileH
      // full key space via range: tiles with no cells must still render
      // (the per-request path serves them as all-NaN tiles)
      val keys = spark.range(ntx.toLong * nty)
        .select(lit(j.key).as("jk"),
          (col("id") % ntx).cast("int").as("tx"),
          (col("id") / ntx).cast("int").as("ty"))
      (keys, cells)
    }
    val keys = members.map(_._1).reduce(_ unionByName _)
    val cells = members.map(_._2).reduce(_ unionByName _)
    // one tile-key exchange total: every (jk,tx,ty)'s rows land in one
    // partition because the keys side has exactly one row per key, so a
    // partition-local sort + run-length fold replaces the groupByKey
    // form (whose typed AppendColumns key added a SECOND, kryo-tuple
    // exchange on top of the join's)
    keys.join(cells, Seq("jk", "tx", "ty"), "left_outer")
      .sortWithinPartitions("jk", "tx", "ty")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[(Int, Int, Int, Array[Byte])] {
          def hasNext: Boolean = it.hasNext
          def next(): (Int, Int, Int, Array[Byte]) = {
            val jk = it.head.getInt(0)
            val tx = it.head.getInt(1)
            val ty = it.head.getInt(2)
            val pixels = new Array[Int](tileH * tileW) // 0 = transparent,
            // exactly what mapColors yields for the NaN padding
            while (it.hasNext && it.head.getInt(0) == jk &&
                it.head.getInt(1) == tx && it.head.getInt(2) == ty) {
              val r = it.next()
              if (!r.isNullAt(3)) {
                val ry = r.getInt(3) - ty * tileH
                val rx = r.getInt(4) - tx * tileW
                val py = if (flipY) tileH - 1 - ry else ry
                pixels(py * tileW + rx) = r.getInt(5)
              }
            }
            (jk, tx, ty, Render.toPng(pixels, tileW, tileH))
          }
        }
      }
  }

  /** Materialize a level to `<outDir>/<z>/<x>/<y>.png` through the
    * Hadoop FS API — executor-side writes, no driver fan-in. Returns
    * the tile count. */
  def writeLevel(cube: CubeFrame, variable: String,
                 timeValue: java.sql.Timestamp, z: Int, outDir: String,
                 tileW: Int, tileH: Int, mapping: ColorMapping,
                 flipY: Boolean = false,
                 extraSel: Seq[(String, Double)] = Nil): Long = {
    val tiles = renderLevel(cube, variable, timeValue, tileW, tileH,
      mapping, flipY, extraSel)
    val spark = tiles.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val written = spark.sparkContext.longAccumulator("tiles_written")
    tiles.foreachPartition {
      (it: Iterator[(Int, Int, Array[Byte])]) =>
        val conf = confSer.value
        it.foreach { case (tx, ty, png) =>
          val p = new org.apache.hadoop.fs.Path(s"$outDir/$z/$tx/$ty.png")
          val fs = p.getFileSystem(conf)
          val out = fs.create(p, true)
          try out.write(png) finally out.close()
          written.add(1L)
        }
    }
    written.value
  }

  /** Batch writer over [[renderLevels]]: every member of `jobs` lands
    * under `dirs(key)/<x>/<y>.png` from the ONE shared Spark job —
    * executor-side writes, no driver fan-in. Returns tiles written. */
  def writeLevelBatch(jobs: Seq[LevelJob], variable: String,
                      dirs: Map[Int, String], tileW: Int, tileH: Int,
                      mapping: ColorMapping, flipY: Boolean = false): Long = {
    require(jobs.forall(j => dirs.contains(j.key)),
      s"missing output dir for keys ${jobs.map(_.key).filterNot(dirs.contains)}")
    val tiles = renderLevels(jobs, variable, tileW, tileH, mapping, flipY)
    val spark = tiles.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val written = spark.sparkContext.longAccumulator("tiles_written")
    tiles.foreachPartition {
      (it: Iterator[(Int, Int, Int, Array[Byte])]) =>
        val conf = confSer.value
        it.foreach { case (jk, tx, ty, png) =>
          val p = new org.apache.hadoop.fs.Path(s"${dirs(jk)}/$tx/$ty.png")
          val fs = p.getFileSystem(conf)
          val out = fs.create(p, true)
          try out.write(png) finally out.close()
          written.add(1L)
        }
    }
    written.value
  }
}
