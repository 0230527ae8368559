package graft.cube

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pyramid

/** Cube storage layout (SURVEY X5/X6 — the layout decisions that make
  * tile/zonal queries prune instead of scan):
  *
  *  - long-format parquet partitioned by calendar date (`p_date`
  *    derived from `time`): a time-range query touches only its
  *    partitions (partition pruning), the 100 TB analogue of the
  *    reference's per-time-chunk zarr layout;
  *  - within each partition rows are sorted by (tile_y, tile_x, y_idx,
  *    x_idx): a tile request maps to one tile-id range → parquet
  *    row-group min/max statistics prune to ~one row group — the
  *    chunk-aligned-tiling trick of mldataset.py:437-456 re-expressed
  *    as sort order + statistics;
  *  - pyramid levels materialized as sibling tables `level=k` at ingest
  *    (the `levels` format of mldataset.py:136-198), so low-zoom reads
  *    never touch full resolution.
  */
object CubeIngest {

  /** Write a cube with tile-aligned sort order. A `_graft_meta.json`
    * sidecar makes the store self-describing (grid geometry +
    * variables), so [[open]] needs only the path — the parquet analogue
    * of a zarr store's `.zattrs`. */
  def writeCube(cube: CubeFrame, path: String, tileSize: Int = 256): Unit = {
    val spark = cube.df.sparkSession
    // INT64-micros timestamps (not legacy INT96): INT96 gets neither
    // stats nor a column index, so no reader — Spark scan or the direct
    // ParquetWindow path — could prune row groups/pages by time
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val oldTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    val staged = cube.df
      // p_date derived from raw epoch-us, timezone-independently:
      // to_date(time) uses the SESSION timezone, while the direct
      // reader (ParquetWindow.readWindow) probes the partition dir by
      // UTC epoch-day — under a non-UTC session a near-midnight step
      // would land in a dir the reader never opens
      .withColumn("p_date", expr(
        "date_add(DATE'1970-01-01', " +
          "CAST(FLOOR(unix_micros(time) / 86400000000.0) AS INT))"))
      .withColumn("tile_y", (col("y_idx") / tileSize).cast("int"))
      .withColumn("tile_x", (col("x_idx") / tileSize).cast("int"))
    try staged
      .repartition(col("p_date"))
      // the sort MUST lead with the partitionBy column: a dynamic-
      // partition write whose incoming order doesn't start with p_date
      // gets Spark's own (non-stable) sort on p_date inserted, which
      // silently destroys the tile order — and with it every row-group/
      // page statistics pruning claim of this layout. Extra non-spatial
      // dims sort between time and the tile id, so each (time, depth)
      // plane stays a contiguous tile-ordered run.
      .sortWithinPartitions(
        (Seq("p_date", "time") ++ cube.extraDims.map(_.name) ++
          Seq("tile_y", "tile_x", "y_idx", "x_idx")).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      // 8192-row pages divide a 256×256 tile block (65536 = 8 × 8192)
      // exactly, so the column index prunes a tile window to PRECISELY
      // its own rows — the default 20000-row pages straddle tile
      // boundaries and drag ~50% extra rows into every window read
      .option("parquet.page.row.count.limit", "8192")
      .partitionBy("p_date")
      .parquet(path)
    finally oldTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    writeMeta(path, cube.grid, cube.variables, tileSize,
      Some(staged.schema.json), cube.extraDims)
    graft.sources.StoreCache.invalidate(path) // re-written store re-lists
  }

  /** layout 2 = p_date-partitioned, (p_date, time, tile_y, tile_x,
    * y_idx, x_idx)-sorted, INT64-micros timestamps, 8192-row pages.
    * The direct tile reader keys its dense fast path on this marker —
    * older stores (whose sort partitionBy silently destroyed) read
    * through the generic per-row path. */
  private def writeMeta(path: String, grid: CubeGrid,
                        variables: Seq[String], tileSize: Int,
                        schemaJson: Option[String],
                        extraDims: Seq[graft.cube.ExtraDim]): Unit = {
    val g = grid
    // the exact written schema (Spark's own StructType JSON, p_date
    // included) makes open() a pure metadata read: a schema-less
    // spark.read.parquet schedules a footer-inference JOB per open —
    // wasted cluster work the sidecar already knows the answer to
    val schemaField = schemaJson.map(s => s""", "schema": $s""").getOrElse("")
    val extraField =
      if (extraDims.isEmpty) ""
      else ", \"extraDims\": [" + extraDims.map(d =>
        s"""{"name": "${d.name}", "units": "${d.units}", """ +
          s""""values": [${d.values.mkString(", ")}]}""").mkString(", ") + "]"
    writeSidecar(path, "_graft_meta.json",
      s"""{"grid": {"width": ${g.width}, "height": ${g.height},
         | "lonMin": ${g.lonMin}, "latMin": ${g.latMin}, "res": ${g.res},
         | "latAscending": ${g.latAscending}},
         | "variables": [${variables.map("\"" + _ + "\"").mkString(", ")}],
         | "tileSize": $tileSize, "layout": 2$schemaField$extraField}"""
        .stripMargin)
  }

  /** Sidecar writes go through the Hadoop FileSystem of the TARGET
    * path, like the parquet write beside them — a java.nio write would
    * silently bind the ingest to the local filesystem while the data
    * itself lands wherever the cluster mounts (S5: levels on object
    * stores). */
  private def writeSidecar(dir: String, name: String, body: String,
      conf: org.apache.hadoop.conf.Configuration =
        org.apache.spark.sql.SparkSession.active
          .sparkContext.hadoopConfiguration): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(path: String)
      : Option[(CubeGrid, Seq[String],
                Option[org.apache.spark.sql.types.StructType],
                Seq[graft.cube.ExtraDim])] =
    graft.sources.BlobStore.forStore(path).read("_graft_meta.json").map { b =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      val g = n.get("grid")
      val vars = (0 until n.get("variables").size())
        .map(n.get("variables").get(_).asText())
      val schema = Option(n.get("schema")).flatMap(s =>
        try Some(org.apache.spark.sql.types.DataType.fromJson(s.toString)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        catch { case scala.util.control.NonFatal(_) => None })
      val extras = Option(n.get("extraDims")).map(e =>
        (0 until e.size()).map { i =>
          val d = e.get(i)
          graft.cube.ExtraDim(d.get("name").asText(),
            (0 until d.get("values").size())
              .map(d.get("values").get(_).asDouble()),
            Option(d.get("units")).map(_.asText()).getOrElse(""))
        }.toSeq).getOrElse(Nil)
      (CubeGrid(g.get("width").asInt(), g.get("height").asInt(),
        g.get("lonMin").asDouble(), g.get("latMin").asDouble(),
        g.get("res").asDouble(), g.get("latAscending").asBoolean()), vars,
        schema, extras)
    }

  /** Open a self-describing cube store: `.zarr` directories through the
    * live DSv2, parquet stores through the `_graft_meta.json` sidecar
    * (resolving `.link` indirection). This is the config-file on-ramp:
    * a YAML dataset Path needs nothing else. */
  def open(spark: SparkSession, path: String): CubeFrame = {
    if (path.endsWith(".zarr"))
      return graft.sources.ZarrStore.openCube(spark, path)
    if (path.endsWith(".nc"))
      return graft.sources.NetcdfStore.openCube(spark, path)
    val resolved = graft.sources.BlobStore.readFile(path + ".link")
      .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8).trim)
      .getOrElse(path)
    val (grid, vars, schema, extras) = readMeta(resolved).getOrElse(
      throw new IllegalArgumentException(
        s"$resolved has no _graft_meta.json — written by an old ingest?"))
    // untransformed store read → the tile server may serve windows by
    // direct parquet reads (ParquetWindow), no Spark job; the time
    // axis comes from footer statistics where they pin it, and the
    // sidecar's recorded schema skips footer inference, so registration
    // (latestTime, timeCoords, WMTS dimensions) schedules no job at
    // all — the parity StoreOps gives zarr/NC stores
    val reader = schema.fold(spark.read)(spark.read.schema)
    CubeFrame(reader.parquet(resolved), grid, vars,
      timeAxis = graft.sources.ParquetWindow.statsTimeAxis(resolved)
        .map(_.map(graft.cube.Cube.timestampOfMicros)),
      storePath = Some(resolved), extraDims = extras)
  }

  /** Open all pyramid levels under `<path>` (level=k subdirs), finest
    * first. */
  def openLevels(spark: SparkSession, path: String): Seq[CubeFrame] = {
    // the blob seam lists local dirs directly and scheme:// URIs via
    // the Hadoop FileSystem API (S5 — levels on object stores)
    val names = graft.sources.BlobStore.forStore(path).listAll
    val ks = names
      .filter(_.startsWith("level="))
      .map(s => s.stripPrefix("level=").stripSuffix(".link").toInt)
      .distinct.sorted
    ks.map(k => open(spark, s"$path/level=$k"))
  }

  /** Materialize all pyramid levels under `<path>/level=<k>`. */
  def writeLevels(cube: CubeFrame, path: String,
                  agg: Pyramid.Agg = Pyramid.Mean,
                  tileSize: Int = 256): Seq[CubeGrid] = {
    val levels = Pyramid.build(cube, agg, tileSize, tileSize)
    levels.zipWithIndex.foreach { case (lv, k) =>
      writeCube(lv, s"$path/level=$k", tileSize)
    }
    levels.map(_.grid)
  }

  /** Re-open a written cube (partition discovery restores `p_date`),
    * resolving `.link` indirection (reference S4: a levels dir may
    * point its full-resolution level at an existing store instead of
    * duplicating it, mldataset.py:136-198 `.link` files). */
  def readCube(spark: SparkSession, path: String, grid: CubeGrid,
               variables: Seq[String]): CubeFrame = {
    val resolved = graft.sources.BlobStore.readFile(path + ".link")
      .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8).trim)
      .getOrElse(path)
    CubeFrame(spark.read.parquet(resolved), grid, variables,
      storePath = Some(resolved))
  }

  /** Materialize levels 1..N only, linking level 0 to an existing
    * full-resolution cube (the `.link` layout). */
  def writeLevelsLinked(cube: CubeFrame, path: String, fullResPath: String,
                        agg: Pyramid.Agg = Pyramid.Mean,
                        tileSize: Int = 256): Seq[CubeGrid] = {
    val levels = Pyramid.build(cube, agg, tileSize, tileSize)
    // FS-agnostic like writeMeta (fs.create makes parent dirs)
    writeSidecar(path, "level=0.link", fullResPath)
    levels.zipWithIndex.drop(1).foreach { case (lv, k) =>
      writeCube(lv, s"$path/level=$k", tileSize)
    }
    levels.map(_.grid)
  }
}
