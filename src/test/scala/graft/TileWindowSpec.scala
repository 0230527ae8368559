package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.apache.spark.sql.functions.col

import graft.cube.{Cube, CubeFrame, CubeGrid, ExtraDim}
import graft.render.{ColorMaps, Render}
import graft.render.Render.ColorMapping
import graft.server.{GraftServer, Perf, RegisteredDataset, ServiceContext}
import graft.sources.StoreCache

/** The server's Spark tile read of a level with no store behind it,
  * kept in the chunk LRU. A level whose every time step fits the
  * driver budget is read whole once (the level extent), and each of
  * its tiles is sliced out of that read with no job. A larger level
  * is read one value window per (level, variable, time, window,
  * plane) (the window extent), so a request that changes only the
  * colour range renders again without a Spark job. Every served tile
  * equals `Render.renderTile` of the same key. */
class TileWindowSpec extends SparkSpec {

  // latitude ascends, so every served tile is flipped
  private val grid = CubeGrid(300, 200, 0.0, 50.0, 0.01, latAscending = true)
  private val day1 = Timestamp.valueOf("2017-01-01 00:00:00")
  private val day2 = Timestamp.valueOf("2017-01-02 00:00:00")
  private val day3 = Timestamp.valueOf("2017-01-03 00:00:00")

  /** the bytes of the synthetic level's extent: 2 steps × 256 × 512 */
  private val levelBytes = 2L * 256 * 512 * 8

  /** a budget one byte short of the level: tiles take the window extent */
  private def windowExtent[T](body: => T): T =
    StoreCache.withDirectBudget(levelBytes - 1)(body)

  private def mapping(vmax: Double) =
    ColorMapping(0.0, vmax, ColorMaps.paletteOrDefault("jet"))

  /** the synthetic cube's columns, persisted: a Spark-only level */
  private def persistedLevel(g: CubeGrid = grid): CubeFrame = {
    val base = Cube.synthetic(spark, g, numTimes = 2)
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
      "with no job; invalidateTiles reads again")(windowExtent {
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
  })

  /** the synthetic level crossed with two `depth` planes, persisted */
  private def level4(): (CubeFrame, Double => CubeFrame) = {
    import spark.implicits._
    val depths = Seq(0.0, 10.0)
    val base = persistedLevel()
    val df4 = base.df.crossJoin(depths.toDF("depth"))
      .withColumn("v0", col("v0") + col("depth") * 3).persist()
    df4.count()
    base.df.unpersist()
    val cube4 = base.copy(df = df4,
      extraDims = Seq(ExtraDim("depth", depths)))
    (cube4, d => cube4.copy(df = df4.filter(col("depth") === d)))
  }

  test("a 4-D Spark-only level keeps one window per extra-dim plane")(
      windowExtent {
    val depths = Seq(0.0, 10.0)
    val (cube4, plane) = level4()
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
  })

  test("a small Spark-only level is read once: every other tile, at any " +
      "step and colour range, runs no job and equals renderTile") {
    for (ascending <- Seq(true, false)) {
      val g = grid.copy(latAscending = ascending)
      val level = persistedLevel(g)
      // the registration's axis holds a third step the level has no rows
      // for: its tiles are all NaN, as the window filter gives
      val registered = level.copy(timeAxis = Some(Seq(day1, day2, day3)))
      serving(registered) { (get, srv) =>
        def path(x: Int, t: String, vmax: Double, debug: Boolean = false) =
          s"/datasets/sp/vars/v0/tiles/0/$x/0.png?time=$t&vmin=0&vmax=$vmax" +
            (if (debug) "&debug=1" else "")
        def expected(x: Int, t: Timestamp, vmax: Double) =
          Render.renderTile(level, "v0", t, x, 0, 256, 256, mapping(vmax),
            flipY = ascending)
        val ((first, lines1), jobs1) =
          jobsDuring(traced(get(path(0, "2017-01-02", 100, debug = true))))
        assert(jobs1.nonEmpty, "the first tile reads the level")
        assert(lines1.exists(_.matches(
          """\[perf\] <<< tile sp\.v0/0/0/0: read spark level load""")),
          lines1)
        assert(first.sameElements(expected(0, day2, 100)))
        // tile 1 covers x 256..299 and y 0..199 of its 256 × 256 window
        val keys = for (x <- Seq(0, 1);
                        (t, ts) <- Seq("2017-01-01" -> day1,
                          "2017-01-02" -> day2, "2017-01-03" -> day3);
                        vmax <- Seq(100.0, 130.0)
                        if !(x == 0 && ts == day2 && vmax == 100.0))
          yield (x, t, ts, vmax)
        val (served, jobs) = jobsDuring(keys.map { case (x, t, _, vmax) =>
          get(path(x, t, vmax)) })
        assert(jobs.isEmpty, s"tiles of a read level ran ${jobs.size} job(s)")
        keys.zip(served).foreach { case ((x, _, ts, vmax), png) =>
          assert(png.sameElements(expected(x, ts, vmax)),
            s"tile $x at $ts, vmax $vmax, ascending $ascending")
        }
        val blank = served(keys.indexWhere(_._3 == day3))
        assert(blank.sameElements(Render.renderWindow(
          Array.fill(256 * 256)(Double.NaN), 256, 256, mapping(130), true)))
        val ((_, lines2), _) = jobsDuring(traced(
          get(path(1, "2017-01-01", 140, debug = true))))
        assert(lines2.exists(_.matches(
          """\[perf\] <<< tile sp\.v0/0/1/0: read spark level hit""")),
          lines2)
        srv.invalidateTiles()
        val (again, jobs3) = jobsDuring(get(path(1, "2017-01-01", 100)))
        assert(jobs3.nonEmpty, "invalidateTiles drops the level read")
        assert(again.sameElements(expected(1, day1, 100)))
      }
    }
  }

  test("the two depth planes of a 4-D level are read whole, apart") {
    val depths = Seq(0.0, 10.0)
    val (cube4, plane) = level4()
    serving(cube4) { (get, _) =>
      def tile(x: Int, d: Double, vmax: Double) =
        get(s"/datasets/sp/vars/v0/tiles/0/$x/0.png?time=2017-01-02" +
          s"&vmin=0&vmax=$vmax&depth=$d")
      val (_, loads) = jobsDuring(depths.map(tile(0, _, 100)))
      assert(loads.size >= 2, "one level read per plane")
      val keys = for (x <- Seq(0, 1); d <- depths; vmax <- Seq(100.0, 130.0))
        yield (x, d, vmax)
      val (served, jobs) = jobsDuring(keys.map { case (x, d, vmax) =>
        tile(x, d, vmax) })
      assert(jobs.isEmpty, s"tiles of read planes ran ${jobs.size} job(s)")
      keys.zip(served).foreach { case ((x, d, vmax), png) =>
        assert(png.sameElements(Render.renderTile(plane(d), "v0", day2, x, 0,
          256, 256, mapping(vmax), flipY = true)), s"tile $x depth $d $vmax")
      }
      assert(!served(0).sameElements(served(2)),
        "two planes at the same x/y/time must not alias")
    }
  }

  test("two concurrent first requests for one level run one load") {
    val level = persistedLevel()
    serving(level) { (get, _) =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val (served, jobs) = jobsDuring {
        val requests = Seq(0, 1).map { x =>
          val f = new java.util.concurrent.FutureTask[Array[Byte]](() => {
            start.await()
            get(s"/datasets/sp/vars/v0/tiles/0/$x/0.png?time=2017-01-02" +
              "&vmin=0&vmax=100")
          })
          new Thread(f).start()
          f
        }
        start.countDown()
        requests.map(_.get())
      }
      assert(jobs.size == 1, s"${jobs.size} jobs for one level")
      served.zipWithIndex.foreach { case (png, x) =>
        assert(png.sameElements(Render.renderTile(level, "v0", day2, x, 0,
          256, 256, mapping(100), flipY = true)))
      }
    }
    // a second caller of a running load waits for it and loads nothing
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val first = Array(1.0)
    val key = Render.Extent(Seq(day1), 0, 0, 1, 1)
    val df = spark.range(1).toDF()
    val a = new java.util.concurrent.FutureTask[(Array[Double], Boolean)](
      () => StoreCache.frameRead(df, None, "v", key, Nil) {
        started.countDown(); release.await(); first })
    new Thread(a).start()
    started.await()
    val b = new java.util.concurrent.FutureTask[(Array[Double], Boolean)](
      () => StoreCache.frameRead(df, None, "v", key, Nil)(Array(2.0)))
    new Thread(b).start()
    Thread.sleep(200)
    assert(!b.isDone, "the second caller waits for the running load")
    release.countDown()
    assert(a.get() == ((first, false)))
    assert(b.get()._1 eq first)
    StoreCache.dropFrameReads()
  }
}
