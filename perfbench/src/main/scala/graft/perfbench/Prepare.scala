package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.cube.{Cube, CubeGrid, CubeIngest}

/** Once-per-checkout inputs, kept out of every timed run and of
  * `setup_s`. All are deterministic: they depend on the committed sf0.1
  * tables and fixed constants only, never on `--seed`.
  *   - the serving cube, in the reference demo shape (time 5 × lat 1000 ×
  *     lon 2000, 5 variables), as a zarr store with 250×250 chunks and as
  *     graft's parquet pyramid levels;
  *   - a places group (GeoJSON points and polygons);
  *   - sf1, synthesized from sf0.1 by `ScalingDecade.synthesize` and
  *     checked by row counts. */
object Prepare {
  val Grid = CubeGrid(2000, 1000, -180.0, -90.0, 0.18, latAscending = false)
  val Times = 5
  val Variables: Seq[String] = (0 until 5).map(i => s"v$i")

  /** sf1 row count = factor × sf0.1 row count */
  val Sf1Factor: Map[String, Long] = Map(
    "lineitem" -> 10L, "orders" -> 10L, "events" -> 10L,
    "documents" -> 10L, "embeddings" -> 10L,
    "region" -> 1L, "nation" -> 1L, "customer" -> 1L, "supplier" -> 1L,
    "part" -> 1L)

  def zarrPath(data: String) = s"$data/cube/cube.zarr"
  def levelsPath(data: String) = s"$data/cube/levels"
  def placesPath(data: String) = s"$data/places.geojson"
  def sf1Path(data: String) = s"$data/sf1"

  def run(spark: SparkSession, data: String, sf01: String): Unit = {
    val cube = Cube.synthetic(spark, Grid, Times, Variables, nanEvery = 9)
    graft.sources.ZarrStore.writeZarr(cube, zarrPath(data),
      chunkT = 1, chunkY = 250, chunkX = 250)
    CubeIngest.writeLevels(cube, levelsPath(data))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(placesPath(data)),
      placesGeoJson(new scala.util.Random(20170101L), 400))

    graft.ScalingDecade.synthesize(spark, sf01, sf1Path(data))
    val bad = Sf1Factor.toSeq.sorted.flatMap { case (t, k) =>
      val small = spark.read.parquet(s"$sf01/$t.parquet").count()
      val big = spark.read.parquet(s"${sf1Path(data)}/$t.parquet").count()
      if (big == k * small) None else Some(s"$t: $big rows, want ${k * small}")
    }
    require(bad.isEmpty, s"sf1 row counts wrong: ${bad.mkString("; ")}")
  }

  /** Points and small axis-aligned polygons spread over the globe. */
  def placesGeoJson(rnd: scala.util.Random, n: Int): String = {
    def f(d: Double) = f"$d%.4f"
    val feats = (0 until n).map { i =>
      val x = -179.0 + rnd.nextDouble() * 358.0
      val y = -89.0 + rnd.nextDouble() * 178.0
      val geom =
        if (i % 3 != 0) s"""{"type":"Point","coordinates":[${f(x)},${f(y)}]}"""
        else {
          val w = 0.2 + rnd.nextDouble()
          val h = 0.2 + rnd.nextDouble()
          val ring = Seq((x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y))
            .map { case (a, b) => s"[${f(math.min(a, 180.0))},${f(math.min(b, 90.0))}]" }
          s"""{"type":"Polygon","coordinates":[[${ring.mkString(",")}]]}"""
        }
      s"""{"type":"Feature","geometry":$geom,"properties":{"name":"site-$i"}}"""
    }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }
}
