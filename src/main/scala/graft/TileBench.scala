package graft

/** Tile-path latency bench (the reference's only published performance
  * figure is ~0.025 s/tile, im/tiledimage.py:859-862): serve N tiles
  * across every pyramid level over HTTP — cold (each tile rendered
  * from the cube) and warm (the LRU tile cache) — and print one JSON
  * line alongside the query bench record. */
object TileBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)

    // 1024x512 cube -> 3 advertised zoom levels of 256px tiles; cells
    // carry the synthetic noise profile the reference's own tile bench
    // uses (test_tiledimage benchmarks a noise cube)
    val grid = graft.cube.CubeGrid(1024, 512, 0.0, -64.0, 0.125,
      latAscending = true)
    val cube = graft.cube.Cube.synthetic(spark, grid, numTimes = 2,
      Seq("v0"), nanEvery = 9)
    // serving configuration: materialized pyramid levels, hot in
    // cluster memory (a production registration points at a levels/
    // store; deriving the pyramid per tile request would re-aggregate
    // the full-resolution cube for every coarse tile)
    val levels = graft.operators.Pyramid.build(cube)
      .map(l => l.copy(df = l.df
        // tile-aligned sort before caching: the in-memory scan prunes
        // cached batches on (time, y, x) min/max stats, so one tile
        // request deserializes ~one tile's rows, not the whole level
        .sortWithinPartitions("time", "y_idx", "x_idx").persist()))
    levels.foreach(_.df.count()) // materialize before timing
    val ctx = new graft.server.ServiceContext(spark)
    ctx.register(graft.server.RegisteredDataset("bench", "tile bench",
      cube, None, levels = levels))
    val srv = new graft.server.GraftServer(ctx).start()
    // the stores the bench writes, deleted on exit
    val stores = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    def tmpStore(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      stores += d
      d.toString
    }
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def fetch(path: String): Unit = {
        val url = s"${srv.address}$path"
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        require(resp.statusCode() == 200, s"$url -> ${resp.statusCode()}")
      }
      def tile(ds: String, z: Int, x: Int, y: Int, query: String = "") =
        s"/datasets/$ds/vars/v0/tiles/$z/$x/$y.png$query"
      def pass(paths: Seq[String]): Double =
        Measure.seconds(paths.foreach(fetch))._2
      // a pass with the PNG tile cache emptied first: every tile renders
      def renderPass(paths: Seq[String]): Double = {
        srv.invalidateTiles()
        pass(paths)
      }
      val t = ctx.dataset("bench").get.tileGrid
      val tiles = for {
        z <- 0 until t.numLevels
        // tile count doubles per level; request the full coarse levels
        // and a capped window of the fine ones
        x <- 0 until math.min(1 << (z + 1), 8)
        y <- 0 until math.min(1 << z, 4)
      } yield tile("bench", z, x, y)
      fetch(tile("bench", 0, 0, 0)) // JVM/codegen warm-up, not measured
      val cold = renderPass(tiles) // every tile renders from the cube
      val warm = pass(tiles) // every tile is an LRU cache hit

      // the finest level's 4×2 tile window of a registered dataset
      def fineTiles(ds: String, query: String = ""): Seq[String] = {
        val z = ctx.dataset(ds).get.tileGrid.numLevels - 1
        for (x <- 0 until 4; y <- 0 until 2) yield tile(ds, z, x, y, query)
      }
      // store-backed dataset: the finest level serves by DIRECT chunk
      // reads (no Spark job) — the reference's own tile architecture
      val zdir = tmpStore("graft-tb")
      graft.sources.ZarrStore.writeZarr(cube, s"$zdir/c.zarr",
        chunkT = 1, chunkY = 256, chunkX = 256)
      ctx.register(graft.server.RegisteredDataset("benchz", "store bench",
        graft.sources.ZarrStore.openCube(spark, s"$zdir/c.zarr"), None))
      val zTiles = fineTiles("benchz")
      fetch(zTiles.head) // warm the store metadata caches
      val direct = renderPass(zTiles)
      // warm direct pass: PNG cache invalidated again, but the decoded-
      // chunk LRU is hot — isolates decompress cost from render cost
      val directWarm = renderPass(zTiles)
      // graft's OWN materialized parquet levels (the ingest serving
      // surface): direct row-group window reads, no Spark job
      val pdir = tmpStore("graft-tbp")
      graft.cube.CubeIngest.writeLevels(cube, s"$pdir/c.levels")
      ctx.register(graft.server.RegisteredDataset("benchp", "parquet bench",
        cube, None,
        levels = graft.cube.CubeIngest.openLevels(spark, s"$pdir/c.levels")))
      val pTiles = fineTiles("benchp")
      fetch(pTiles.head) // warm footer/listing caches (+ latestTime job)
      val parquet = renderPass(pTiles)
      // steady-state pass: PNG cache invalidated again; footer/listing
      // caches and JIT are warm — the serving-loop figure
      val parquetWarm = renderPass(pTiles)
      // 4-D ingested store (time × depth × y × x): per-plane direct
      // window reads with the extra-dim predicate / dense plane shift
      import org.apache.spark.sql.functions.{explode, typedLit}
      val depths = Seq(0.0, 10.0, 50.0)
      val p4dir = tmpStore("graft-tb4")
      val cube4 = cube.copy(
        df = cube.df.withColumn("depth", explode(typedLit(depths))),
        extraDims = Seq(graft.cube.ExtraDim("depth", depths, "m")))
      graft.cube.CubeIngest.writeCube(cube4, s"$p4dir/c")
      ctx.register(graft.server.RegisteredDataset("bench4", "4d bench",
        graft.cube.CubeIngest.open(spark, s"$p4dir/c"), None))
      val tiles4 = fineTiles("bench4", "?depth=50")
      fetch(tiles4.head) // warm footer/listing caches
      val plane4 = renderPass(tiles4)
      // bulk pre-render: the whole pyramid — every level × every time
      // step — as ONE distributed job (TileMaterialize.renderLevels),
      // so the fixed planning/scheduling floor that dominated the old
      // single-level batch (~95% of its 0.14 s/tile) is paid once for
      // the batch. Timed twice: the first run carries the one-time
      // codegen/JIT cost, the second is the steady-state throughput a
      // long-lived pre-render job sees — both recorded.
      import org.apache.spark.sql.functions.col
      val times = cube.df.select(col("time")).distinct()
        .collect().map(_.getTimestamp(0)).sortBy(_.getTime)
      val batchJobs = for {
        (lv, z) <- levels.zipWithIndex
        (tv, ti) <- times.zipWithIndex
      } yield graft.render.TileMaterialize.LevelJob(
        z * times.length + ti, lv, tv)
      val style = graft.render.Render.ColorMapping(0.0, 1.0, // server default
        graft.render.ColorMaps.paletteOrDefault("viridis"))
      def runBatch(): (Long, Double) = Measure.seconds(
        graft.render.TileMaterialize.renderLevels(
          batchJobs, "v0", 256, 256, style,
          flipY = levels.head.grid.latAscending).count())
      val (batchTiles, batchCold) = runBatch()
      val (_, batch) = runBatch()
      println(f"""{"metric":"tile_latency","tiles":${tiles.size},"levels":${t.numLevels},"cold_sec_per_tile":${cold / tiles.size}%.4f,"warm_sec_per_tile":${warm / tiles.size}%.4f,"direct_sec_per_tile":${direct / zTiles.size}%.4f,"direct_warm_sec_per_tile":${directWarm / zTiles.size}%.4f,"parquet_sec_per_tile":${parquet / zTiles.size}%.4f,"parquet_warm_sec_per_tile":${parquetWarm / zTiles.size}%.4f,"parquet_4d_plane_sec_per_tile":${plane4 / zTiles.size}%.4f,"batch_sec_per_tile":${batch / batchTiles}%.4f,"batch_cold_sec_per_tile":${batchCold / batchTiles}%.4f,"batch_tiles":$batchTiles,"batch_members":${batchJobs.size},"cold_total_sec":$cold%.2f,"warm_total_sec":$warm%.2f}""")
      System.out.flush()
    } finally {
      srv.stop(); spark.stop()
      stores.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
    // the JDK HttpClient keeps non-daemon worker threads alive; don't
    // let them pin an in-process sbt runner after the record is out
    System.exit(0)
  }
}
