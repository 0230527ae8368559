package graft

import graft.cube.{Cube, CubeGrid}
import graft.sources.{BlobStore, CachingBlobStore, LocalBlobStore, ZarrStore}

class BlobStoreSpec extends SparkSpec {

  private def writeStore(): String = {
    val grid = CubeGrid(16, 8, 0.0, 40.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0", "v1"),
      nanEvery = 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-blob").toString
    ZarrStore.writeZarr(cube, s"$dir/c.zarr", chunkT = 1, chunkY = 8,
      chunkX = 8)
    s"$dir/c.zarr"
  }

  /** counts every inner read so cache behavior is observable */
  private final class Counting(inner: LocalBlobStore)
      extends graft.sources.BlobStore {
    val reads = new java.util.concurrent.atomic.AtomicLong
    def read(key: String): Option[Array[Byte]] = {
      reads.incrementAndGet(); inner.read(key)
    }
    def listDirs: Seq[String] = inner.listDirs
    def listAll: Seq[String] = inner.listAll
    def size(key: String): Option[Long] = inner.size(key)
    def readRange(key: String, off: Long, len: Int): Option[Array[Byte]] = {
      reads.incrementAndGet(); inner.readRange(key, off, len)
    }
  }

  test("file:// URIs drive the remote (hadoop + LRU) path end to end") {
    val store = writeStore()
    val uri = s"file://$store"
    def rows(p: String): Seq[String] =
      ZarrStore.openCube(spark, p).df
        .select("time", "y_idx", "x_idx", "lat", "lon", "v0", "v1")
        .collect().map(_.toString).sorted.toSeq
    // the exact same store read remotely must equal the local read
    assert(rows(uri) == rows(store))
    assert(rows(uri).length == 16 * 8 * 2)
  }

  test("repeat reads of a cached remote store fetch nothing new") {
    val store = writeStore()
    val uri = s"file://$store"
    val caching = BlobStore.forStore(uri).asInstanceOf[CachingBlobStore]
    val df = ZarrStore.openCube(spark, uri).df
    df.count()
    val afterFirst = caching.fetches.get()
    assert(afterFirst > 0)
    df.count() // every chunk + metadata object is already cached
    assert(caching.fetches.get() == afterFirst,
      s"expected no new fetches, got ${caching.fetches.get() - afterFirst}")
  }

  test("parquet store, levels dir and .link resolve via file:// (S5)") {
    val grid = CubeGrid(64, 32, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    val dir = java.nio.file.Files.createTempDirectory("graft-blob").toString
    graft.cube.CubeIngest.writeCube(cube, s"$dir/c", tileSize = 32)
    graft.cube.CubeIngest.writeLevels(cube, s"$dir/c.levels", tileSize = 32)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/linked.link"), s"$dir/c")

    val viaUri = graft.cube.CubeIngest.open(spark, s"file://$dir/c")
    assert(viaUri.grid == grid && viaUri.variables == Seq("v0"))
    assert(viaUri.df.count() == 64L * 32 * 2)
    val levels = graft.cube.CubeIngest.openLevels(spark, s"file://$dir/c.levels")
    assert(levels.nonEmpty)
    assert(levels.head.grid == grid)
    val linked = graft.cube.CubeIngest.open(spark, s"file://$dir/linked")
    assert(linked.df.count() == 64L * 32 * 2)
  }

  test("writeCube ingests DIRECTLY to a non-file scheme: parquet and " +
      "the _graft_meta.json/.link sidecars all land through the target " +
      "Hadoop FS (a java.nio sidecar write would bind ingest to the " +
      "local filesystem)") {
    val grid = CubeGrid(32, 16, 0.0, 0.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    val dir = java.nio.file.Files.createTempDirectory("graft-s3w").toString
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock-s3.impl", classOf[MockS3FileSystem].getName)
    try {
      val root = s"mock-s3://bucket$dir/c"
      graft.cube.CubeIngest.writeCube(cube, root, tileSize = 16)
      // sidecar exists under the scheme (written via the mock FS, which
      // backs onto the local path part)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/c/_graft_meta.json")))
      val opened = graft.cube.CubeIngest.open(spark, root)
      assert(opened.grid == grid && opened.variables == Seq("v0"))
      assert(opened.df.count() == 32L * 16 * 2)
    } finally {
      graft.sources.StoreCache.invalidate(s"mock-s3://bucket$dir/c")
      spark.sparkContext.hadoopConfiguration.unset("fs.mock-s3.impl")
    }
  }

  test("LRU evicts by bytes and stays within budget") {
    val store = writeStore()
    val counting = new Counting(new LocalBlobStore(store))
    // budget of ~2 chunks: chunk files are zlib'd 8×8 doubles
    val sizes = Seq("v0/0.0.0", "v0/0.0.1", "v0/1.0.0")
      .map(k => counting.read(k).get.length)
    val budget = sizes.max * 2 + 200
    val lru = new CachingBlobStore(counting, budget)
    counting.reads.set(0)

    lru.read("v0/0.0.0"); lru.read("v0/0.0.1") // fill
    assert(counting.reads.get() == 2)
    lru.read("v0/0.0.0") // hit
    assert(counting.reads.get() == 2)
    assert(lru.cachedBytes <= budget)
    lru.read("v0/1.0.0") // exceeds budget → evicts LRU entry (0.0.1)
    assert(lru.cachedBytes <= budget)
    lru.read("v0/0.0.1") // must re-fetch
    assert(counting.reads.get() == 4)
    // absent keys are cached too (no round-trip per task)
    lru.read("v0/9.9.9"); lru.read("v0/9.9.9")
    assert(counting.reads.get() == 5)
  }

  test("non-file scheme (mock-s3): per-store endpoint/region reach the " +
      "client, shared conf stays clean, LRU caches present and absent") {
    val store = writeStore()
    val root = s"mock-s3://bucket$store"
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock-s3.impl", classOf[MockS3FileSystem].getName)
    try {
      BlobStore.configure(root, Map(
        "fs.mock-s3.endpoint" -> "http://127.0.0.1:9000",
        "fs.mock-s3.region" -> "eu-mock-1"))
      val bs = BlobStore.forStore(root).asInstanceOf[CachingBlobStore]
      // same zarr store read through the mock-s3 scheme = local read
      val remote = graft.sources.ZarrStore.openCube(spark, root).df
        .select("time", "y_idx", "x_idx", "v0", "v1")
        .collect().map(_.toString).sorted.toSeq
      val local = graft.sources.ZarrStore.openCube(spark, store).df
        .select("time", "y_idx", "x_idx", "v0", "v1")
        .collect().map(_.toString).sorted.toSeq
      assert(remote == local && remote.nonEmpty)
      // the per-store overrides reached the filesystem client init —
      // the seam real s3a credentials/endpoints travel through
      assert(MockS3FileSystem.inits.get() >= 1)
      assert(MockS3FileSystem.lastEndpoint.get() == "http://127.0.0.1:9000")
      assert(MockS3FileSystem.lastRegion.get() == "eu-mock-1")
      // ...without leaking into the JVM-shared session conf
      assert(spark.sparkContext.hadoopConfiguration
        .get("fs.mock-s3.endpoint") == null)
      // LRU: a present key fetches once; an absent key fetches once
      val f0 = bs.fetches.get()
      assert(bs.read(".zgroup").isDefined)
      assert(bs.read(".zgroup").isDefined)
      assert(bs.read("definitely/absent").isEmpty)
      assert(bs.read("definitely/absent").isEmpty)
      assert(bs.fetches.get() == f0 + 2,
        s"expected exactly 2 inner fetches, got ${bs.fetches.get() - f0}")
    } finally {
      graft.sources.StoreCache.invalidate(root)
      spark.sparkContext.hadoopConfiguration.unset("fs.mock-s3.impl")
    }
  }
}
