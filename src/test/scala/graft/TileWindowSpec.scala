package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.cube.{Cube, CubeFrame, CubeGrid, ExtraDim}
import graft.render.{ColorMaps, Render}
import graft.render.Render.ColorMapping
import graft.server.{GraftServer, Perf, RegisteredDataset, ServiceContext}

/** The server's Spark tile read of a level with no store behind it:
  * one value window per (level, variable, time, window, plane), kept
  * in the chunk LRU, so a request that changes only the colour range
  * renders again without a Spark job. Every served tile equals
  * `Render.renderTile` of the same key. */
class TileWindowSpec extends SparkSpec {

  // latitude ascends, so every served tile is flipped
  private val grid = CubeGrid(300, 200, 0.0, 50.0, 0.01, latAscending = true)
  private val day2 = Timestamp.valueOf("2017-01-02 00:00:00")

  private def mapping(vmax: Double) =
    ColorMapping(0.0, vmax, ColorMaps.paletteOrDefault("jet"))

  /** the synthetic cube's columns, persisted: a Spark-only level */
  private def persistedLevel(): CubeFrame = {
    val base = Cube.synthetic(spark, grid, numTimes = 2)
    val df = base.df.select("time", "y_idx", "x_idx", "lat", "lon", "v0")
      .persist()
    df.count()
    base.copy(df = df, storePath = None)
  }

  private def serving(cube: CubeFrame)
                     (body: (String => Array[Byte], GraftServer) => Unit)
      : Unit = {
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("sp", "Spark-only", cube, None,
      levels = Seq(cube)))
    // the time axis is resolved once per registration: resolve it now,
    // so the jobs counted below are the window reads
    ctx.dataset("sp").get.timeCoords
    val srv = new GraftServer(ctx).start()
    val client = HttpClient.newHttpClient()
    def get(p: String): Array[Byte] = {
      val r = client.send(HttpRequest.newBuilder(URI.create(srv.address + p))
        .build(), HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, new String(r.body()))
      r.body()
    }
    try body(get, srv)
    finally {
      srv.stop()
      cube.df.unpersist()
    }
  }

  /** the perf lines of one traced request (its `done()` runs after the
    * response is written, so wait for the `total:` line) */
  private def traced(req: => Array[Byte]): (Array[Byte], Seq[String]) = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val oldSink = Perf.sink
    Perf.sink = line => captured.add(line)
    try {
      val out = req
      val deadline = System.nanoTime() + 5000L * 1000 * 1000
      while (System.nanoTime() < deadline &&
          !captured.toArray(Array.empty[String]).exists(_.contains("total:")))
        Thread.sleep(10)
      (out, captured.toArray(Array.empty[String]).toSeq)
    } finally Perf.sink = oldSink
  }

  test("a Spark-only level reads a window once; another vmax renders it " +
      "with no job; invalidateTiles reads again") {
    val level = persistedLevel()
    serving(level) { (get, srv) =>
      val tile = "/datasets/sp/vars/v0/tiles/0/1/0.png?time=2017-01-02&vmin=0"
      val ((first, lines1), jobs1) =
        jobsDuring(traced(get(tile + "&vmax=100&debug=1")))
      assert(jobs1.nonEmpty, "the first read of a window runs a job")
      assert(lines1.exists(_.matches(
        """\[perf\] <<< tile sp\.v0/0/1/0: read spark window load""")), lines1)
      assert(lines1.exists(_.matches(
        """\[perf\] tile sp\.v0/0/1/0 read: took \d+\.\d\dms""")), lines1)
      assert(lines1.exists(_.matches(
        """\[perf\] tile sp\.v0/0/1/0 render: took \d+\.\d\dms""")), lines1)
      val ((second, lines2), jobs2) =
        jobsDuring(traced(get(tile + "&vmax=120&debug=1")))
      assert(jobs2.isEmpty, s"a colour-range change ran ${jobs2.size} job(s)")
      assert(lines2.exists(_.matches(
        """\[perf\] <<< tile sp\.v0/0/1/0: read spark window hit""")), lines2)
      def expected(vmax: Double, flipY: Boolean = true) =
        Render.renderTile(level, "v0", day2, 1, 0, 256, 256, mapping(vmax),
          flipY)
      assert(first.sameElements(expected(100)))
      assert(second.sameElements(expected(120)))
      // the flip is exercised: the unflipped render differs
      assert(!second.sameElements(expected(120, flipY = false)))
      // the next tile over is its own window
      val (other, otherJobs) = jobsDuring(get(
        "/datasets/sp/vars/v0/tiles/0/0/0.png?time=2017-01-02&vmin=0&vmax=120"))
      assert(otherJobs.nonEmpty)
      assert(other.sameElements(Render.renderTile(level, "v0", day2, 0, 0,
        256, 256, mapping(120), flipY = true)))
      srv.invalidateTiles()
      val (third, jobs3) = jobsDuring(get(tile + "&vmax=120"))
      assert(jobs3.nonEmpty, "invalidateTiles drops the memoized windows")
      assert(third.sameElements(second))
    }
  }

  test("a 4-D Spark-only level keeps one window per extra-dim plane") {
    import spark.implicits._
    val depths = Seq(0.0, 10.0)
    val base = persistedLevel()
    val df4 = base.df.crossJoin(depths.toDF("depth"))
      .withColumn("v0", col("v0") + col("depth") * 3).persist()
    df4.count()
    base.df.unpersist()
    val cube4 = base.copy(df = df4,
      extraDims = Seq(ExtraDim("depth", depths)))
    def plane(d: Double) = cube4.copy(df = df4.filter(col("depth") === d))
    serving(cube4) { (get, _) =>
      val tile = "/datasets/sp/vars/v0/tiles/0/0/0.png?time=2017-01-02&vmin=0"
      for (vmax <- Seq(100.0, 130.0)) {
        val (served, jobs) = jobsDuring(depths.map(d =>
          d -> get(s"$tile&vmax=$vmax&depth=$d")))
        if (vmax == 100.0) assert(jobs.size >= 2, "one read per plane")
        else assert(jobs.isEmpty, s"re-render ran ${jobs.size} job(s)")
        served.foreach { case (d, png) =>
          assert(png.sameElements(Render.renderTile(plane(d), "v0", day2, 0, 0,
            256, 256, mapping(vmax), flipY = true)), s"depth $d, vmax $vmax")
        }
        assert(!served(0)._2.sameElements(served(1)._2),
          "two planes at the same x/y/time must not alias")
      }
    }
  }
}
