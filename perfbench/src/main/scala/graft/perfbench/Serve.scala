package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.cube.{CubeFrame, CubeIngest}
import graft.geo.Geo
import graft.operators.{Places, TimeSeries}
import graft.render.{ColorMaps, Render}
import graft.server.{GraftServer, Perf, RegisteredDataset, ServiceContext}
import graft.sources.{DirectWindow, StoreCache, ZarrStore}

/** The `serve` workload: an in-process GraftServer over one cube in the
  * reference demo shape, registered three ways (zarr chunks, graft's
  * parquet levels, persisted Spark levels) plus a places group, driven
  * by a closed loop of 3 tile clients and 1 analytics client. Every
  * client works through a fixed, seeded list of requests; the timed
  * phase ends when all four are done. */
object Serve {

  /** Tile classes: `hit` (pre-warmed hot set), `lru` (one variable and
    * time step: its decoded chunks fit the chunk LRU), `sweep` (all
    * variables × time steps, each key once: more decoded data than the
    * LRU holds) and `spark` (persisted Spark levels, one small job per
    * tile). The hit share is fixed by this pattern. */
  val Pattern: Seq[String] =
    Seq("hit", "sweep", "hit", "sweep", "lru", "hit", "sweep", "spark", "hit", "sweep")
  val TilesPerClientPerSecond = 15
  val AnalyticsPerSecond = 2.0
  val TileClients = 3
  val HotSetSize = 24
  /** the persisted Spark levels are this pyramid level and coarser */
  val SparkLevelsFrom = 2
  /** op ids: tile client i numbers its requests from i × 10^6, the
    * analytics client from 10^8 */
  val AnalyticsIdBase = 100000000

  final case class TileReq(id: Int, cls: String, ds: String, v: String,
                           level: Int, x: Int, y: Int, t: Int, vmax: Double)
  final case class AReq(id: Int, kind: String, v: String,
                        boxes: Seq[(Double, Double, Double, Double)],
                        lon: Double, lat: Double)

  final class Env(val spark: SparkSession, val ctx: ServiceContext,
                  val srv: GraftServer, val persisted: Seq[DataFrame]) {
    def stop(): Unit = {
      srv.stop()
      persisted.foreach(_.unpersist())
      spark.stop()
    }
  }

  // ---- request generation -------------------------------------------

  private def levelTiles(g: graft.cube.CubeGrid): (Int, Int) =
    ((g.width + 255) / 256, (g.height + 255) / 256)

  def hotSet(rnd: scala.util.Random, levels: Seq[graft.cube.CubeGrid])
      : Seq[TileReq] = (0 until HotSetSize).map { i =>
    val (ds, level) =
      if (i % 2 == 0) ("zarr", 0) else ("parquet", rnd.nextInt(levels.size))
    val (nx, ny) = levelTiles(levels(level))
    TileReq(-1 - i, "hit", ds, s"v${rnd.nextInt(5)}", level,
      rnd.nextInt(nx), rnd.nextInt(ny), rnd.nextInt(Prepare.Times), 100.0)
  }

  /** unique vmax per miss, in [100, 101): the PNG cache key changes,
    * the decoded data it needs does not */
  private def missVmax(id: Int): Double =
    100.0 + ((id / 1000000) * 65536 + id % 1000000 + 1) / 1048576.0

  /** The `sweep` keys: every tile of the finest level with an even
    * column and row, over all variables and time steps. 256-pixel tiles
    * over 250-pixel zarr chunks make these tiles' 2×2 chunk blocks
    * disjoint, so each zarr key costs four fresh chunk decodes and all
    * of them decode the whole level (~400 MB as doubles, more than the
    * 256 MB LRU). The seed orders them; client i takes every
    * TileClients-th key from position i, so no key repeats until all
    * have been asked for (longer runs start a new order). Every fourth
    * key a client takes goes to the parquet levels, the rest to zarr.
    * Yields (dataset, variable, time step, tile x, tile y). */
  def sweepKeys(rnd: scala.util.Random, client: Int,
                levels: Seq[graft.cube.CubeGrid])
      : Iterator[(String, String, Int, Int, Int)] = {
    val (nx0, ny0) = levelTiles(levels.head)
    val all = for {
      v <- Prepare.Variables; t <- 0 until Prepare.Times
      y <- 0 until ny0 by 2; x <- 0 until nx0 by 2
    } yield (v, t, x, y)
    Iterator.continually(rnd.shuffle(all).drop(client)
      .grouped(TileClients).map(_.head).zipWithIndex.map {
        case ((v, t, x, y), k) =>
          (if (k % 4 == 3) "parquet" else "zarr", v, t, x, y)
      }).flatten
  }

  def tileStream(rnd: scala.util.Random, client: Int, n: Int,
                 hot: Seq[TileReq], levels: Seq[graft.cube.CubeGrid],
                 sweep: Iterator[(String, String, Int, Int, Int)],
                 lruVar: String, lruTime: Int): Seq[TileReq] = {
    val (nx0, ny0) = levelTiles(levels.head)
    (0 until n).map { j =>
      val id = client * 1000000 + j
      val zarrOrParquet = if (rnd.nextBoolean()) "zarr" else "parquet"
      Pattern(j % Pattern.size) match {
        case "hit" => hot(rnd.nextInt(hot.size)).copy(id = id)
        case "lru" => TileReq(id, "lru", zarrOrParquet, lruVar, 0,
          rnd.nextInt(nx0), rnd.nextInt(ny0), lruTime, missVmax(id))
        case "sweep" =>
          val (ds, v, t, x, y) = sweep.next()
          TileReq(id, "sweep", ds, v, 0, x, y, t, missVmax(id))
        case _ =>
          val level = SparkLevelsFrom + rnd.nextInt(levels.size - SparkLevelsFrom)
          val (nx, ny) = levelTiles(levels(level))
          TileReq(id, "spark", "spark", "v0", level, rnd.nextInt(nx),
            rnd.nextInt(ny), rnd.nextInt(Prepare.Times), missVmax(id))
      }
    }
  }

  /** Geometry sizes are fixed (only positions are seeded), so every
    * seed asks for the same amount of work. */
  def analyticsStream(rnd: scala.util.Random, n: Int): Seq[AReq] = {
    def box(size: Double) = {
      val x = -178.0 + rnd.nextDouble() * (356.0 - size)
      val y = -88.0 + rnd.nextDouble() * (176.0 - size)
      (x, y, x + size, y + size)
    }
    val kinds = Seq("point", "zonal", "fanout", "places")
    (0 until n).map { j =>
      val v = s"v${rnd.nextInt(5)}"
      val id = AnalyticsIdBase + j
      kinds(j % kinds.size) match {
        case "point" => AReq(id, "point", v, Nil,
          -179.0 + rnd.nextDouble() * 358.0, -89.0 + rnd.nextDouble() * 178.0)
        case "zonal" => AReq(id, "zonal", v, Seq(box(4)), 0, 0)
        case "fanout" => AReq(id, "fanout", v, Seq.fill(4)(box(2)), 0, 0)
        case _ => AReq(id, "places", v, Seq(box(25)), 0, 0)
      }
    }
  }

  // ---- the registrations ---------------------------------------------

  /** (step, seconds) of every set-up, in order */
  val setupSteps = new ConcurrentLinkedQueue[(String, Double)]()
  private def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSteps.add((name, (System.nanoTime() - t0) / 1e9))
  }

  def setup(conf: RunConf, warm: Env => Unit): Env = {
    StoreCache.clear()
    val spark = step("session")(Harness.session(conf))
    val ctx = new ServiceContext(spark)
    val zarr = step("open zarr")(
      ZarrStore.openCube(spark, Prepare.zarrPath(conf.dataDir)))
    ctx.register(RegisteredDataset("zarr", "cube (zarr chunks)", zarr, None))
    val pq = step("open parquet levels")(
      CubeIngest.openLevels(spark, Prepare.levelsPath(conf.dataDir)))
    ctx.register(RegisteredDataset("parquet", "cube (parquet levels)",
      pq.head, None, levels = pq))
    // Spark-served levels: one variable, tile-aligned sort (the cached
    // scan prunes batches on min/max stats, as in graft.TileBench); the
    // stream asks them for the two coarsest levels only, so the finer
    // ones stay unpersisted scans
    val sparkLevels = pq.zipWithIndex.map { case (l, k) =>
      val df0 = l.df.select("time", "y_idx", "x_idx", "v0")
      val df = if (k < SparkLevelsFrom) df0
        else df0.sortWithinPartitions("time", "y_idx", "x_idx").persist()
      l.copy(df = df, variables = Seq("v0"), storePath = None)
    }
    val persisted = sparkLevels.drop(SparkLevelsFrom).map(_.df)
    step("persist spark levels")(persisted.foreach(_.count()))
    ctx.register(RegisteredDataset("spark", "cube (persisted Spark levels)",
      sparkLevels.head, None, levels = sparkLevels))
    step("places")(ctx.registerPlaces("sites",
      Places.loadGeoJson(spark, Prepare.placesPath(conf.dataDir)), "sites"))
    val env = new Env(spark, ctx, new GraftServer(ctx).start(), persisted)
    warm(env)
    env
  }

  // ---- HTTP ----------------------------------------------------------

  final class Client(base: String) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String): HttpResponse[Array[Byte]] =
      http.send(HttpRequest.newBuilder(URI.create(base + path)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def post(path: String, body: String): HttpResponse[Array[Byte]] =
      http.send(HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
  }

  def tileZ(env: Env, ds: String, level: Int): Int =
    env.ctx.dataset(ds).get.tileGrid.numLevels - 1 - level

  def tilePath(env: Env, r: TileReq): String = {
    val label = env.ctx.dataset(r.ds).get.timeLabels(r.t)
    s"/datasets/${r.ds}/vars/${r.v}/tiles/${tileZ(env, r.ds, r.level)}/" +
      s"${r.x}/${r.y}.png?time=${java.net.URLEncoder.encode(label, "UTF-8")}" +
      s"&vmin=0&vmax=${r.vmax}"
  }

  /** a 256×256 PNG: signature, then IHDR width and height */
  def isTilePng(b: Array[Byte]): Boolean = {
    val sig = Array[Byte](-119, 80, 78, 71, 13, 10, 26, 10)
    def int32(o: Int) = ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    b.length > 24 && b.take(8).sameElements(sig) &&
      int32(16) == 256 && int32(20) == 256
  }

  private def geoJsonPolygon(b: (Double, Double, Double, Double)): String = {
    val (x0, y0, x1, y1) = b
    s"""{"type":"Polygon","coordinates":[[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]]}"""
  }

  def analyticsCall(c: Client, r: AReq): HttpResponse[Array[Byte]] =
    r.kind match {
      case "point" => c.get(s"/ts/zarr/${r.v}/point?lon=${r.lon}&lat=${r.lat}")
      case "zonal" => c.post(s"/ts/zarr/${r.v}/geometry",
        geoJsonPolygon(r.boxes.head))
      case "fanout" => c.post(s"/ts/zarr/${r.v}/geometries",
        s"""{"type":"GeometryCollection","geometries":[${r.boxes.map(geoJsonPolygon).mkString(",")}]}""")
      case _ =>
        val (x0, y0, x1, y1) = r.boxes.head
        c.get(s"/places/sites?bbox=$x0,$y0,$x1,$y1")
    }

  // ---- in-process reference results ----------------------------------

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def mapping(vmax: Double): Render.ColorMapping =
    Render.ColorMapping(0.0, vmax, ColorMaps.paletteOrDefault("jet"))

  def levelCube(env: Env, ds: String, level: Int): CubeFrame =
    env.ctx.dataset(ds).get.levelSeq(level)

  def timeOf(env: Env, ds: String, t: Int): java.sql.Timestamp =
    env.ctx.dataset(ds).get.timeCoords(t)

  def usOf(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  def directRead(env: Env, r: TileReq): Array[Double] = {
    val cube = levelCube(env, r.ds, r.level)
    DirectWindow.read(cube.storePath.get, r.v, usOf(timeOf(env, r.ds, r.t)),
      r.y * 256, r.x * 256, 256, 256).get
  }

  /** The reference render of a key: the Spark scan path of the same
    * level (no direct read), which the server's direct reads must match
    * byte for byte. */
  def renderSpark(env: Env, r: TileReq): Array[Byte] = {
    val cube = levelCube(env, r.ds, r.level)
    Render.renderTile(cube, r.v, timeOf(env, r.ds, r.t), r.x, r.y,
      256, 256, mapping(r.vmax), flipY = cube.grid.latAscending)
  }

  private def tsRows(rows: Array[Row]): Seq[(String, Long, Long, Option[Double])] =
    rows.toSeq.map(r => (r.getAs[String]("date"), r.getAs[Long]("total_count"),
      r.getAs[Long]("valid_count"),
      Option(r.getAs[Any]("average")).map(_.asInstanceOf[Double])
        .filter(a => !a.isNaN && !a.isInfinite)))
      .sortBy(_._1)

  private def tsJsonRows(n: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, Long, Long, Option[Double])] =
    (0 until n.size()).map { i =>
      val e = n.get(i)
      val res = e.get("result")
      val avg = res.get("average")
      (e.get("date").asText(), res.get("totalCount").asLong(),
        res.get("validCount").asLong(),
        if (avg == null || avg.isNull) None else Some(avg.asDouble()))
    }.sortBy(_._1)

  /** the operator behind an analytics route, called in-process */
  def analyticsFrame(env: Env, r: AReq): DataFrame = {
    val cube = env.ctx.dataset("zarr").get.cube
    def poly(b: (Double, Double, Double, Double)) =
      Geo.boxPolygon(b._1, b._2, b._3, b._4)
    r.kind match {
      case "point" => TimeSeries.point(cube, r.v, r.lon, r.lat)
      case "zonal" => TimeSeries.zonal(cube, r.v, poly(r.boxes.head))
      case "fanout" => TimeSeries.zonalMany(cube, r.v, r.boxes.map(poly))
      case _ =>
        val (x0, y0, x1, y1) = r.boxes.head
        val df = env.ctx.places("sites").get
        Places.featuresIntersectingGeometry(
          df.filter(col("geometry_json").isNotNull), "geometry_json",
          Geo.boxSplitGeometry(x0, y0, x1, y1))
    }
  }

  /** does the served JSON equal the in-process operator result? */
  def analyticsMatches(r: AReq, body: Array[Byte], rows: Array[Row]): Boolean = {
    val node = mapper.readTree(body)
    r.kind match {
      case "point" | "zonal" => tsJsonRows(node.get("results")) == tsRows(rows)
      case "fanout" =>
        val served = node.get("results")
        val byGeom = rows.groupBy(_.getAs[Int]("geometry_index"))
        served.size() == r.boxes.size && r.boxes.indices.forall(i =>
          tsJsonRows(served.get(i)) ==
            tsRows(byGeom.getOrElse(i, Array.empty[Row])))
      case _ =>
        val feats = node.get("features")
        val ids = (0 until feats.size()).map(i => feats.get(i).get("id").asLong()).sorted
        ids == rows.map(_.getAs[Long]("id")).toSeq.sorted
    }
  }

  // ---- the workload ----------------------------------------------------

  def run(conf: RunConf): Map[String, Any] = {
    val load0 = Harness.loadAverage
    val perfLines = new ConcurrentLinkedQueue[String]()
    if (conf.trace) Perf.sink = line => perfLines.add(line)
    var hot: Seq[TileReq] = Nil
    var warmId = 900000000
    def warm(env: Env): Unit = {
      env.srv.tracePerf = conf.trace
      val grids = env.ctx.dataset("parquet").get.levelSeq.map(_.grid)
      if (hot.isEmpty) hot = hotSet(new scala.util.Random(conf.seed + 1), grids)
      val c = new Client(env.srv.address)
      step("hot set")(
        hot.foreach(r => require(c.get(tilePath(env, r)).statusCode() == 200)))
      // one miss of each class and one analytics request of each kind:
      // first-request costs (JIT, codegen, store metadata) stay in setup
      step("warm misses")(
        Seq(("zarr", 0, "v1"), ("parquet", 0, "v2"), ("spark", SparkLevelsFrom, "v0"))
          .foreach { case (ds, level, v) =>
            warmId += 1
            require(c.get(tilePath(env, TileReq(warmId, "warm", ds, v, level,
              0, 0, 0, missVmax(warmId)))).statusCode() == 200)
          })
      step("warm analytics")(
        analyticsStream(new scala.util.Random(conf.seed + 2), 4)
          .foreach(r => require(analyticsCall(c, r).statusCode() == 200)))
    }
    val (env, jvmStart, setups) = Harness.repeatedSetup(
      () => setup(conf, warm))(_.stop())
    val spark = env.spark
    val grids = env.ctx.dataset("parquet").get.levelSeq.map(_.grid)
    // the `lru` plane is fixed, not seeded: the latest time step (what a
    // viewer gets by default) of the first variable; a seeded plane made
    // the run's work depend on the seed
    val lruVar = "v0"
    val lruTime = Prepare.Times - 1
    val streams = (0 until TileClients).map(i => tileStream(
      new scala.util.Random(conf.seed * 31 + i), i,
      TilesPerClientPerSecond * conf.seconds, hot, grids,
      sweepKeys(new scala.util.Random(conf.seed * 31 + 50), i, grids),
      lruVar, lruTime))
    val aStream = analyticsStream(new scala.util.Random(conf.seed * 31 + 99),
      math.round(AnalyticsPerSecond * conf.seconds).toInt)
    // byte-compare sample: a seeded handful of each tile client's requests
    val sampleIds = streams.flatMap(s =>
      new scala.util.Random(conf.seed + 7).shuffle(s.indices.toList).take(2)
        .map(s(_).id)).toSet

    val tracing = if (conf.trace) Some(new Tracing(spark)) else None
    perfLines.clear()
    // (op id, class, start ms, latency ms, ok, error)
    val ops = new ConcurrentLinkedQueue[(Int, String, Long, Double, Boolean, String)]()
    val tileBytes = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
    val aBodies = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
    def timed(id: Int, cls: String)(call: => (Boolean, String)): Unit = {
      val start = Harness.nowMs
      val t0 = System.nanoTime()
      val (ok, err) =
        try call
        catch { case e: Throwable => (false, e.toString) }
      ops.add((id, cls, start, (System.nanoTime() - t0) / 1e6, ok, err))
    }
    val gc0 = Harness.gcSeconds
    val tStart = Harness.nowMs
    val threads = streams.zipWithIndex.map { case (stream, i) =>
      new Thread(() => {
        val c = new Client(env.srv.address)
        stream.foreach { r =>
          timed(r.id, r.cls) {
            val resp = c.get(tilePath(env, r))
            val ok = resp.statusCode() == 200 && isTilePng(resp.body())
            if (sampleIds(r.id)) tileBytes.put(r.id, resp.body())
            (ok, if (ok) "" else s"status ${resp.statusCode()}")
          }
        }
      }, s"perfbench-tiles-$i")
    } :+ new Thread(() => {
      val c = new Client(env.srv.address)
      aStream.foreach { r =>
        timed(r.id, "ts_" + r.kind) {
          val resp = analyticsCall(c, r)
          val ok = resp.statusCode() == 200
          if (ok) aBodies.put(r.id, resp.body())
          (ok, if (ok) "" else s"status ${resp.statusCode()}")
        }
      }
    }, "perfbench-analytics")
    // traced runs watch the chunk LRU's size: nothing invalidates it
    // during the timed phase, so every drop the sampler sees is an
    // eviction (a lower bound on their number)
    @volatile var sampling = conf.trace
    var cachePeak, cacheDrops = 0L
    val sampler = new Thread(() => {
      var last = 0L
      while (sampling) {
        val b = StoreCache.cachedChunkBytes
        if (b < last) cacheDrops += 1
        cachePeak = math.max(cachePeak, b)
        last = b
        Thread.sleep(2)
      }
    }, "perfbench-cache-sampler")
    sampler.start()
    threads.foreach(_.start())
    threads.foreach(_.join())
    sampling = false
    sampler.join()
    val tEnd = Harness.nowMs
    val gc = Harness.gcSeconds - gc0
    val chunkCacheMb = StoreCache.cachedChunkBytes / 1048576.0
    val timedTrace = tracing.map(_.toJson)
    val perf = perfLines.asScala.toSeq
    val heap = Harness.heapRetainedMb()

    // ---- output checks (outside the timed phase) ----
    val tileById = streams.flatten.map(r => r.id -> r).toMap
    val mismatches = mutable.ArrayBuffer.empty[Map[String, Any]]
    var checks = 0
    tileBytes.asScala.toSeq.sortBy(_._1).foreach { case (id, served) =>
      checks += 1
      val r = tileById(id)
      val ok = try java.util.Arrays.equals(served, renderSpark(env, r))
        catch { case e: Throwable => false }
      if (!ok) mismatches += Map("op" -> id, "cls" -> r.cls,
        "what" -> s"tile ${tilePath(env, r)} differs from the in-process render")
    }
    val aSample = new scala.util.Random(conf.seed + 11)
      .shuffle(aStream.filter(r => aBodies.containsKey(r.id))).take(4)
    aSample.sortBy(_.id).foreach { r =>
      checks += 1
      val ok = try analyticsMatches(r, aBodies.get(r.id),
          analyticsFrame(env, r).collect())
        catch { case e: Throwable => false }
      if (!ok) mismatches += Map("op" -> r.id, "cls" -> r.kind,
        "what" -> s"analytics ${r.kind} #${r.id} differs from the in-process operator")
    }

    // ---- traced replay of the stream's keys, in-process, layer by layer ----
    val replay = tracing.map { tr =>
      val sc = spark.sparkContext
      StoreCache.clear()
      val tileOps = ops.asScala.toSeq.sortBy(_._3)
      val missKeys = tileOps.filter(o => o._2 == "lru" || o._2 == "sweep")
        .take(400).map(o => tileById(o._1))
      // a direct read that throws is served by the Spark path instead;
      // count those here, time the ones that work
      var directFailures = 0
      val direct = missKeys.flatMap { r =>
        val s0 = System.nanoTime()
        val vals = try Some(directRead(env, r))
          catch { case scala.util.control.NonFatal(_) => None }
        val s1 = System.nanoTime()
        vals match {
          case None => directFailures += 1; None
          case Some(v) =>
            val png = Render.renderWindow(v, 256, 256, mapping(r.vmax),
              flipY = levelCube(env, r.ds, r.level).grid.latAscending)
            val s2 = System.nanoTime()
            Some(Map("op" -> r.id, "cls" -> r.cls, "ds" -> r.ds,
              "read_ms" -> (s1 - s0) / 1e6, "render_ms" -> (s2 - s1) / 1e6,
              "png_bytes" -> png.length))
        }
      }
      sc.setLocalProperty("perfbench.phase", "replay")
      val sparkTiles = tileOps.filter(_._2 == "spark").take(60).map { o =>
        val r = tileById(o._1)
        sc.setLocalProperty("perfbench.tag", s"tile-${r.id}")
        val s0 = System.nanoTime()
        val png = renderSpark(env, r)
        Map("op" -> r.id, "cls" -> r.cls, "ds" -> r.ds,
          "render_ms" -> (System.nanoTime() - s0) / 1e6,
          "png_bytes" -> png.length)
      }
      val analytics = aStream.take(40).map { r =>
        sc.setLocalProperty("perfbench.tag", s"ts-${r.id}")
        val s0 = System.nanoTime()
        val df = analyticsFrame(env, r)
        val s1 = System.nanoTime()
        df.collect()
        val s2 = System.nanoTime()
        Map("op" -> r.id, "kind" -> r.kind, "plan_ms" -> (s1 - s0) / 1e6,
          "exec_ms" -> (s2 - s1) / 1e6, "tag" -> s"ts-${r.id}")
      }
      sc.setLocalProperty("perfbench.phase", null)
      sc.setLocalProperty("perfbench.tag", null)
      tr.drain()
      val jobsByTag = tr.spark_.jobs.asScala.toSeq.filter(_._4 == "replay")
        .groupBy(_._5).map { case (k, v) => k -> v.size }
      Map("direct" -> direct, "direct_attempts" -> missKeys.size,
        "direct_failures" -> directFailures, "spark_tiles" -> sparkTiles,
        "analytics" -> analytics.map(a =>
          a + ("jobs" -> jobsByTag.getOrElse(a("tag").toString, 0))))
    }
    val load1 = Harness.loadAverage
    env.stop()
    Map("jvm_start_s" -> jvmStart, "setup_s" -> setups,
      "setup_steps" -> setupSteps.asScala.toSeq.map { case (k, v) => Seq(k, v) },
      "window_ms" -> Seq(tStart, tEnd),
      "ops" -> ops.asScala.toSeq.sortBy(o => (o._3, o._1)).map {
        case (id, cls, s, ms, ok, err) => Seq(id, cls, s, ms, ok, err) },
      "checks" -> checks, "mismatches" -> mismatches.toSeq,
      "jvm_gc_s" -> gc, "heap_retained_mb" -> heap,
      "load_avg" -> Seq(load0, load1),
      "trace" -> timedTrace.map(_ ++ Map(
        "chunk_cache_mb" -> chunkCacheMb,
        "chunk_cache_peak_mb" -> cachePeak / 1048576.0,
        "chunk_cache_drops" -> cacheDrops,
        "chunk_cache_capacity_mb" ->
          sys.props.getOrElse("graft.chunkCache.mb", "256").toDouble,
        "perf_tile_requests" -> perf.count(_.contains(">>> tile")),
        "perf_cache_hits" -> perf.count(_.endsWith(": cache hit")),
        "perf_lines" -> perf.size,
        "replay" -> replay)))
  }
}
