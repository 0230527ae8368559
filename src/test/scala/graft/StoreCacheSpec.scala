package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

import graft.cube.{Cube, CubeGrid, CubeIngest}
import graft.server.{GraftServer, RegisteredDataset, ServiceContext}
import graft.sources.{DirectWindow, ParquetWindow, StoreCache, ZarrStore}

/** `StoreCache.invalidate(path)` is the one invalidation seam: it drops
  * every per-store memo of the store at `path` and of the stores under
  * `path/` — a remote store's blob instance, parsed metadata, pooled
  * readers and memoized Spark reads — and nothing of a sibling store
  * whose name merely shares the prefix. */
class StoreCacheSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a republished file:// zarr store serves its new chunk grid " +
      "after invalidate(uri)") {
    val grid = CubeGrid(16, 8, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"),
      nanEvery = 7)
    val dir = tmp("graft-sc-zarr")
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 16)
    val uri = s"file://$dir/c.zarr"
    assert(ZarrStore.readArrayMeta(uri, "v0").chunks == Seq(1, 8, 16))
    // an external republisher: another chunk grid moved in at the path
    ZarrStore.writeZarr(cube, s"$dir/rebuilt.zarr", chunkT = 1, chunkY = 4,
      chunkX = 8)
    FileUtils.deleteDirectory(new java.io.File(s"$dir/c.zarr"))
    FileUtils.copyDirectory(new java.io.File(s"$dir/rebuilt.zarr"),
      new java.io.File(s"$dir/c.zarr"))
    StoreCache.invalidate(uri)
    assert(ZarrStore.readArrayMeta(uri, "v0").chunks == Seq(1, 4, 8),
      "invalidate(uri) left the remote store's cached metadata")
  }

  test("writeCube over a file:// parquet store: open lists the new " +
      "variables") {
    val grid = CubeGrid(32, 16, 0.0, 0.0, 0.5, latAscending = true)
    val uri = s"file://${tmp("graft-sc-pq")}/c"
    CubeIngest.writeCube(Cube.synthetic(spark, grid, numTimes = 1,
      Seq("v0")), uri, tileSize = 16)
    assert(CubeIngest.open(spark, uri).variables == Seq("v0"))
    CubeIngest.writeCube(Cube.synthetic(spark, grid, numTimes = 1,
      Seq("v0", "v1")), uri, tileSize = 16)
    assert(CubeIngest.open(spark, uri).variables == Seq("v0", "v1"))
  }

  test("invalidate(path) keeps the pooled readers of a sibling store " +
      "whose name shares the prefix") {
    val grid = CubeGrid(64, 64, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"),
      nanEvery = 9)
    val dir = tmp("graft-sc-sib")
    val stores = Seq(s"$dir/c", s"$dir/c2")
    stores.foreach(CubeIngest.writeCube(cube, _, tileSize = 32))
    val t = CubeIngest.open(spark, stores.head).timeAxis.get.head
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def pooled(store: String): Boolean =
      ParquetWindow.pooledReaderPaths.exists(_.contains(s"$store/"))
    stores.foreach { s =>
      assert(ParquetWindow.readWindow(s, "v0", us, 0, 0, 32, 32).isDefined)
      assert(pooled(s), s"the dense read of $s pools a reader")
    }
    StoreCache.invalidate(s"$dir/c")
    assert(!pooled(s"$dir/c"), "invalidate closes the store's own readers")
    assert(pooled(s"$dir/c2"), "invalidate closed a sibling store's reader")
  }

  test("a store-backed level whose direct read declines loads once; its " +
      "repeat runs no job, and invalidate(store) reads again") {
    val grid = CubeGrid(300, 200, 0.0, 50.0, 0.01, latAscending = true)
    val base = Cube.synthetic(spark, grid, numTimes = 2)
    val df = base.df.select("time", "y_idx", "x_idx", "lat", "lon", "v0")
      .persist()
    df.count()
    // a store with no partition for any step: the direct arm declines
    val store = s"${tmp("graft-sc-lvl")}/c"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val level = base.copy(df = df, storePath = Some(store))
    val t = df.select("time").distinct().orderBy(col("time").desc).head()
      .getTimestamp(0)
    val us = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    assert(DirectWindow.read(store, "v0", us, 0, 0, 256, 256).isEmpty,
      "precondition: the direct read declines")
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("st", "store-backed", level, None,
      levels = Seq(level)))
    ctx.dataset("st").get.timeCoords // resolved once, before counting
    val srv = new GraftServer(ctx).start()
    val client = HttpClient.newHttpClient()
    def get(q: String): Array[Byte] = {
      val r = client.send(HttpRequest.newBuilder(URI.create(srv.address +
        s"/datasets/st/vars/v0/tiles/0/1/0.png?vmin=0&$q")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, new String(r.body()))
      r.body()
    }
    try {
      val (first, jobs1) = jobsDuring(get("vmax=100"))
      assert(jobs1.nonEmpty, "the first read of the level runs a job")
      // another colour range misses the PNG cache, not the read
      val (second, jobs2) = jobsDuring(get("vmax=120"))
      assert(jobs2.isEmpty, s"the repeat ran ${jobs2.size} job(s)")
      assert(!first.sameElements(second))
      StoreCache.invalidate(store)
      val (third, jobs3) = jobsDuring(get("vmax=140"))
      assert(jobs3.nonEmpty, "invalidate(store) drops the level's read")
      assert(!third.sameElements(second))
    } finally {
      srv.stop()
      df.unpersist()
    }
  }
}
