package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.geo.Geo
import graft.operators.{Places, TimeSeries}
import graft.render.Render
import graft.render.Render.ColorMapping

/** Thin HTTP shell over the engine (reference routing table:
  * xcube_server/app.py:40-103). The handlers do exactly what the
  * reference controllers do — parse params, dispatch to an operator,
  * serialize — with Spark jobs underneath for analytics and the
  * driver-local fast path for tiles (SURVEY §3.1). JDK HttpServer: the
  * shell stays dependency-free.
  *
  * Routes:
  *   GET  /datasets                               catalogue JSON
  *   GET  /datasets/{ds}                          dataset details
  *   GET  /datasets/{ds}/coords/{dim}             coordinate dumps
  *   GET  /datasets/{ds}/vars/{v}/tiles/{z}/{x}/{y}.png   map tile
  *   GET  /datasets/{ds}/vars/{v}/legend.png      colorbar legend
  *   GET  /colorbars[.html]                       colormap catalog
  *   GET  /ts                                     time-series layer info
  *   GET  /ts/{ds}/{v}/point?lon=..&lat=..        point time series
  *   POST /ts/{ds}/{v}/geometry                   zonal time series (WKT body)
  *   POST /ts/{ds}/{v}/geometries                 per-geometry fan-out (GeoJSON GeometryCollection body)
  *   POST /ts/{ds}/{v}/places                     per-feature fan-out (GeoJSON FeatureCollection body)
  *   GET  /places/{group}[?geom=WKT|?bbox=..]     feature query (no
  *                                                geometry = whole group)
  *   POST /places/{group}                         feature query (GeoJSON body)
  *   GET  /places/{group}/{ds}                    features in dataset bounds
  *   GET  /wmts/1.0.0/WMTSCapabilities.xml        capabilities
  *
  * All ts routes accept startDate/endDate query args (ISO date or
  * instant).
  */
class GraftServer(ctx: ServiceContext, port: Int = 0) {

  // disable Nagle on response sockets: a tile response written as
  // headers + body otherwise hits the 40 ms delayed-ACK stall, which
  // dwarfs a cache-hit tile serve (~1 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(Executors.newFixedThreadPool(8))

  /** in-memory PNG tile cache (reference X7: 512 MB LRU default with
    * 75% trim, defaults.py:30 / cache.py:257-274) */
  private val tileCache =
    new TileCache(graft.model.ServiceConfig.parseSize("512M"), TileCache.Lru)

  /** optional static asset root (reference S8: pre-rendered raster
    * files served straight from disk, ne2.py:63-78) */
  @volatile var staticRoot: Option[java.nio.file.Path] = None

  /** `--traceperf` (reference cli.py:58-59): per-stage request timing
    * to [[Perf.sink]]. A tile request can override per-request with
    * `?debug=1`/`?debug=0` (tiles.py:33-35). */
  @volatile var tracePerf: Boolean = false

  def address: String = s"http://localhost:${server.getAddress.getPort}"

  def start(): GraftServer = { server.start(); this }
  def stop(): Unit = {
    server.stop(0)
    // the fixed pool's threads are non-daemon: without this an
    // embedding app that stops the server (but never exits) leaks 8
    // live threads per instance and hangs on JVM shutdown
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ =>
    }
  }

  /** Invalidate all cached tiles and the memoized Spark reads (level
    * stacks and value windows) behind them — must be called whenever
    * the dataset registry changes (config hot reload), or stale tiles
    * from the old data are served indefinitely. */
  def invalidateTiles(): Unit = {
    tileCache.clear()
    graft.sources.StoreCache.dropFrameReads()
  }

  server.createContext("/", (ex: HttpExchange) => {
    try route(ex)
    catch {
      // param coercion failures are client errors (reference F13:
      // reqparams.py wraps them as 400s)
      case e @ (_: IllegalArgumentException | _: NumberFormatException |
                _: NoSuchElementException |
                _: java.time.DateTimeException) => send(ex, 400,
        Json.obj("error" -> Json.str(String.valueOf(e.getMessage))),
        "application/json")
      case e: Throwable => send(ex, 500,
        Json.obj("error" -> Json.str(String.valueOf(e))), "application/json")
    }
  })

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val parts = path.split("/").filter(_.nonEmpty)
    (ex.getRequestMethod, parts.toList) match {
      // service info document (reference handlers.py:301-307, routed at
      // app.py:43-45 as the very first URL pattern)
      case ("GET", Nil) =>
        send(ex, 200, Json.obj(
          "name" -> Json.str("graft"),
          "description" -> Json.str(
            "graft Server: WMTS, catalogue, tile, feature, time-series " +
              "services for Spark-backed data cubes"),
          "version" -> Json.str(GraftServer.Version)), "application/json")
      case ("GET", "datasets" :: Nil) =>
        send(ex, 200, Catalogue.datasetsJson(ctx), "application/json")
      case ("GET", "datasets" :: ds :: Nil) =>
        withDataset(ex, ds)(d =>
          send(ex, 200, Catalogue.datasetJson(d, ctx.placeGroupList.toMap),
            "application/json"))
      case ("GET", "datasets" :: ds :: "coords" :: dim :: Nil) =>
        withDataset(ex, ds)(d =>
          send(ex, 200, Catalogue.coordsJson(d, dim), "application/json"))
      case ("GET", "datasets" :: ds :: "vars" :: v :: "tiles" :: z :: x :: yPng :: Nil) =>
        withDataset(ex, ds)(d => tile(ex, d, v, z.toInt, x.toInt,
          yPng.stripSuffix(".png").toInt, query(ex)))
      // labeled colorbar; cbar/vmin/vmax/width/height query overrides
      // (reference get_legend, controllers/tiles.py:145-160)
      case ("GET", "datasets" :: ds :: "vars" :: v :: "legend.png" :: Nil) =>
        withDataset(ex, ds) { d =>
          val q = query(ex)
          val base = mapping(d, v)
          val m = base.copy(
            vmin = q.get("vmin").map(_.toDouble).getOrElse(base.vmin),
            vmax = q.get("vmax").map(_.toDouble).getOrElse(base.vmax),
            palette = q.get("cbar").map(cb =>
              graft.render.ColorMaps.palette(cb).getOrElse(
                throw new NoSuchElementException(s"color bar $cb not found")))
              .getOrElse(base.palette))
          sendBytes(ex, 200, Render.legend(m, Some(v),
            q.get("width").map(_.toInt).getOrElse(160),
            q.get("height").map(_.toInt).getOrElse(320)), "image/png")
        }
      case ("GET", "ts" :: Nil) =>
        send(ex, 200, tsInfoJson(), "application/json")
      case ("GET", "ts" :: ds :: v :: "point" :: Nil) =>
        withDataset(ex, ds) { d =>
          val trace = Perf.trace(tracePerf, s"GET /ts/$ds/$v/point")
          val (cube, lon, lat, (start, end)) = trace.stage("parse") {
            val q = query(ex)
            (cubeFor(d, q), q("lon").toDouble, q("lat").toDouble,
              dateRange(q, d.cube.timeCalendar))
          }
          // the operator call is query work: its direct arm reads and
          // aggregates the rows with no plan; the Spark arm collects
          val rows = trace.stage("query")(
            TimeSeries.pointRows(cube, v, lon, lat, start, end))
          val body = trace.stage("encode")(GraftServer.tsJson(rows))
          trace.stage("send")(send(ex, 200, body, "application/json"))
          trace.done()
        }
      case ("POST", "ts" :: ds :: v :: "geometry" :: Nil) =>
        withDataset(ex, ds) { d =>
          val body = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8).trim
          // Reference contract: the body is a GeoJSON geometry OBJECT
          // (handlers.py:344-345 get_body_as_json_object, validated at
          // time_series.py:71-74). A leading '{' is GeoJSON; anything
          // else is accepted as WKT — a graft extension, not reference
          // behavior.
          val trace = Perf.trace(tracePerf, s"POST /ts/$ds/$v/geometry")
          val (cube, geom, (start, end)) = trace.stage("parse") {
            val geom =
              if (body.startsWith("{")) Geo.parseGeoJson(body)
              else Geo.parseWkt(body)
            val q = query(ex)
            (cubeFor(d, q), geom, dateRange(q, d.cube.timeCalendar))
          }
          val rows = trace.stage("query")(
            TimeSeries.zonalRows(cube, v, geom, start, end))
          val respBody = trace.stage("encode")(GraftServer.tsJson(rows))
          trace.stage("send")(send(ex, 200, respBody, "application/json"))
          trace.done()
        }
      // GeoJSON GeometryCollection body → one series per geometry
      // (reference GetTimeSeriesForGeometriesHandler, app.py:99-100)
      case ("POST", "ts" :: ds :: v :: "geometries" :: Nil) =>
        withDataset(ex, ds) { d =>
          tsMany(ex, d, v, s"POST /ts/$ds/$v/geometries") {
            val geomsNode = Option(readJsonBody(ex).get("geometries"))
              .filter(_.isArray).getOrElse(
                throw new IllegalArgumentException(
                  "Invalid GeoJSON geometry collection"))
            (0 until geomsNode.size())
              .map(i => Geo.parseGeoJson(geomsNode.get(i).toString))
          }
        }
      // GeoJSON FeatureCollection body → one series per feature geometry
      // (reference GetTimeSeriesForFeaturesHandler, app.py:101-102)
      case ("POST", "ts" :: ds :: v :: "places" :: Nil) =>
        withDataset(ex, ds) { d =>
          tsMany(ex, d, v, s"POST /ts/$ds/$v/places") {
            val feats = Option(readJsonBody(ex).get("features"))
              .filter(_.isArray).getOrElse(
                throw new IllegalArgumentException(
                  "Invalid GeoJSON feature collection"))
            (0 until feats.size())
              .map(i => Geo.parseGeoJson(Option(feats.get(i).get("geometry"))
                .getOrElse(throw new IllegalArgumentException(
                  s"Invalid GeoJSON feature collection: feature $i has " +
                    "no geometry")).toString))
          }
        }
      // place-group listing (GetPlaceGroupsHandler → context.py:297-303);
      // nested sub-groups surface as a placeGroups member
      case ("GET", "places" :: Nil) =>
        send(ex, 200, Json.arr(ctx.placeGroupList.map { case (id, title) =>
          val base = Seq("id" -> Json.str(id), "title" -> Json.str(title))
          val fields = ctx.subGroups.get(id) match {
            case Some(subs) => base :+ ("placeGroups" ->
              Json.arr(subs.map(Json.str)))
            case None => base
          }
          Json.obj(fields: _*)
        }), "application/json")
      // features intersecting a DATASET's bounds (FindDatasetPlaces,
      // places.py:19-29: query geometry = antimeridian-split bbox)
      case ("GET", "places" :: group :: ds :: Nil) =>
        withDataset(ex, ds) { d =>
          val df = ctx.places(group).getOrElse {
            send(ex, 404, Json.obj("error" ->
              Json.str(s"no place group $group")), "application/json"); return
          }
          val b = d.cube.grid.bbox
          val feats = Places.featuresIntersectingBox(
              df.filter(col("geometry_json").isNotNull), "geometry_json",
              b.xMin, b.yMin, b.xMax, b.yMax, geoJson = true)
            .collect().map(r => Json.obj(
              "type" -> Json.str("Feature"),
              "id" -> r.getAs[Long]("id").toString,
              "geometry" -> r.getAs[String]("geometry_json"),
              "properties" -> Option(r.getAs[String]("properties_json"))
                .getOrElse("null")))
          send(ex, 200, Json.obj("type" -> Json.str("FeatureCollection"),
            "features" -> Json.arr(feats)), "application/json")
        }
      // generic find-places (FindPlacesHandler, places.py:32-94): GET
      // takes ?geom= WKT or ?bbox= (antimeridian-split); POST takes a
      // GeoJSON body; NO geometry at all returns the whole collection.
      // ?query= expressions raise exactly like the reference's
      // NotImplementedError (→ 500, not a silent ignore).
      case ("GET", "places" :: group :: Nil) =>
        val q = query(ex)
        if (q.contains("query")) throw new UnsupportedOperationException(
          "query expressions are not implemented")
        if (q.contains("geom") && q.contains("bbox"))
          throw new IllegalArgumentException(
            "Only one of 'geom' and 'bbox' may be given")
        val geom = q.get("geom").map(Geo.parseWkt).orElse(q.get("bbox").map {
          b =>
            b.split(",").map(_.trim.toDouble) match {
              case Array(x1, y1, x2, y2) =>
                // east < west crosses the antimeridian and splits
                // (get_box_split_bounds_geometry, utils.py:56-70)
                Geo.boxSplitGeometry(x1, y1, x2, y2)
              case _ => throw new IllegalArgumentException(
                "Received invalid bounding box geometry")
            }
        })
        findPlaces(ex, group, geom)
      case ("POST", "places" :: group :: Nil) =>
        val q = query(ex)
        if (q.contains("query")) throw new UnsupportedOperationException(
          "query expressions are not implemented")
        val node = readJsonBody(ex)
        // geometry extraction mirrors find_places(geojson_obj=...)
        // (places.py:50-59) INCLUDING the FeatureCollection quirk: the
        // reference indexes obj["places"][0]["geometry"], not
        // obj["features"] — a posted standard FeatureCollection is
        // rejected there, so it is here too
        val gNode = Option(node.get("type")).map(_.asText("")) match {
          case Some("FeatureCollection") =>
            Option(node.get("places")).flatMap(p => Option(p.get(0)))
              .flatMap(f => Option(f.get("geometry")))
              .getOrElse(throw new IllegalArgumentException(
                "Received invalid GeoJSON object"))
          case Some("Feature") =>
            Option(node.get("geometry")).getOrElse(
              throw new IllegalArgumentException(
                "Received invalid GeoJSON object"))
          case _ => node
        }
        val geom = try Geo.parseGeoJson(gNode.toString)
        catch { case _: Exception => throw new IllegalArgumentException(
          "Received invalid GeoJSON object") }
        findPlaces(ex, group, Some(geom))
      // tile-source options for map clients (GetDatasetVarTileGridHandler,
      // tiles.py:187-198); ?tiles=ol4 (default) or cesium
      case ("GET", "datasets" :: ds :: "vars" :: v :: "tilegrid" :: Nil) =>
        withDataset(ex, ds) { d =>
          val client = query(ex).getOrElse("tiles", "ol4")
          val url = s"$address/datasets/${d.id}/vars/$v/tiles/{z}/{x}/{y}.png"
          send(ex, 200, Catalogue.tileSourceOptionsJson(
            d.tileGrid, url, client), "application/json")
        }
      case ("GET", "colorbars" :: Nil) =>
        send(ex, 200, graft.render.ColorMaps.json, "application/json")
      case ("GET", "colorbars.html" :: Nil) =>
        send(ex, 200, graft.render.ColorMaps.html, "text/html")
      case ("GET", "wmts" :: "1.0.0" :: "WMTSCapabilities.xml" :: Nil) =>
        send(ex, 200, Wmts.capabilitiesXml(ctx, address, Map.empty),
          "application/xml")
      // WMTS RESTful tile URL — note {z}/{y}/{x} order (app.py:48-49)
      case ("GET", "wmts" :: "1.0.0" :: "tile" :: ds :: v :: z :: y :: xPng :: Nil) =>
        withDataset(ex, ds)(d => tile(ex, d, v, z.toInt,
          xPng.stripSuffix(".png").toInt, y.toInt, query(ex)))
      // NE2 background layer (app.py:66-73): tile-source options + tiles
      // served from the static root's ne2/ pyramid when present
      case ("GET", "ne2" :: "tilegrid" :: Nil) =>
        val client = query(ex).getOrElse("tiles", "ol4")
        send(ex, 200, Catalogue.tileSourceOptionsJson(Ne2Grid,
          s"$address/ne2/tiles/{z}/{x}/{y}.jpg", client), "application/json")
      case ("GET", "ne2" :: "tiles" :: z :: x :: yJpg :: Nil)
          if staticRoot.isDefined =>
        val base = staticRoot.get.normalize()
        val p = base.resolve(s"ne2/$z/$x/$yJpg").normalize()
        if (p.startsWith(base) && java.nio.file.Files.isRegularFile(p))
          sendBytes(ex, 200, java.nio.file.Files.readAllBytes(p), "image/jpeg")
        else send(ex, 404, Json.obj("error" -> Json.str("not found")),
          "application/json")
      // WMTS KVP binding (reference WMTSKvpHandler, handlers.py:57-107):
      // keys are case-insensitive per the WMTS 1.0 spec
      case ("GET", "wmts" :: "kvp" :: Nil) =>
        val q = query(ex).map { case (k, v) => k.toLowerCase -> v }
        if (!q.get("service").contains("WMTS"))
          throw new IllegalArgumentException(
            "Value for \"service\" parameter must be \"WMTS\"")
        val version = q.getOrElse("version", "1.0.0")
        if (version != "1.0.0")
          throw new IllegalArgumentException(
            "Value for \"version\" parameter must be \"1.0.0\"")
        q.getOrElse("request", "") match {
          case "GetCapabilities" =>
            send(ex, 200, Wmts.capabilitiesXml(ctx, address, Map.empty),
              "application/xml")
          case "GetTile" =>
            val layer = q("layer")
            val (ds, v) = layer.split('.') match {
              case Array(a, b) => (a, b)
              case _ => throw new IllegalArgumentException(
                "Value for \"layer\" parameter must be \"<dataset>.<variable>\"")
            }
            val fmt = q.getOrElse("format", "image/png").toLowerCase
            if (fmt != "image/png" && fmt != "png")
              throw new IllegalArgumentException(
                "Value for \"format\" parameter must be \"image/png\"")
            // the advertised TIME dimension arrives as a KVP key too
            withDataset(ex, ds)(d => tile(ex, d, v,
              q("tilematrix").toInt, q("tilecol").toInt,
              q("tilerow").toInt, q))
          case _ => throw new IllegalArgumentException(
            s"Value for \"request\" parameter must be " +
              "\"GetCapabilities\" or \"GetTile\"")
        }
      case ("GET", "static" :: rest) if staticRoot.isDefined =>
        val base = staticRoot.get.normalize()
        val p = base.resolve(rest.mkString("/")).normalize()
        if (!p.startsWith(base) || !java.nio.file.Files.isRegularFile(p))
          send(ex, 404, Json.obj("error" -> Json.str("not found")),
            "application/json")
        else {
          val mime =
            if (p.toString.endsWith(".png")) "image/png"
            else if (p.toString.endsWith(".jpg")) "image/jpeg"
            else "application/octet-stream"
          sendBytes(ex, 200, java.nio.file.Files.readAllBytes(p), mime)
        }
      case _ =>
        send(ex, 404, Json.obj("error" -> Json.str(s"no route $path")),
          "application/json")
    }
  }

  /** NE2 background pyramid geometry (reference ne2.py: a global
    * 1024×512 image stand-in — the bundled raster itself is an asset we
    * serve from staticRoot, S8). */
  private val Ne2Grid = graft.grid.TileGrid.create(1024, 512, None, None,
    graft.geo.Geo.BBox(-180, -90, 180, 90), invY = false)

  private def withDataset(ex: HttpExchange, id: String)
                         (f: RegisteredDataset => Unit): Unit =
    ctx.dataset(id) match {
      case Some(d) => f(d)
      case None => send(ex, 404,
        Json.obj("error" -> Json.str(s"no dataset $id")), "application/json")
    }

  /** Per-request indexers for the cube's EXTRA non-spatial dims
    * (reference get_var_indexers, context.py:420-451): parameter
    * absent → FIRST coordinate value, `'current'` → last, else numeric
    * coercion + nearest-match (`sel(method='nearest')`,
    * controllers/tiles.py:77). Returns (name, resolved value, axis
    * index) per dim; malformed values are client errors. */
  private def extraSelections(d: RegisteredDataset, q: Map[String, String])
      : Seq[(String, Double, Int)] =
    d.cube.extraDims.map { ed =>
      // WMTS KVP keys arrive lowercased (case-insensitive per spec);
      // fall back so a mixed-case dim name still resolves there
      val idx = q.get(ed.name).orElse(q.get(ed.name.toLowerCase)) match {
        case None => 0
        case Some("current") => ed.values.length - 1
        case Some(s) =>
          val want =
            try s.toDouble
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"'$s' is not a valid value for dimension '${ed.name}'") }
          ed.values.indices.minBy(i =>
            (math.abs(ed.values(i) - want), ed.values(i)))
      }
      (ed.name, ed.values(idx), idx)
    }

  /** one equality filter per extra dim from a resolved selection —
    * shared by the tile fallback and every ts route so plane-selection
    * semantics can't diverge between them. The filtered frame no longer
    * reads the store untransformed, so it drops `storePath` (no direct
    * arm may read around the filter). */
  private def planeFiltered(cube: graft.cube.CubeFrame,
                            sel: Seq[(String, Double, Int)])
      : graft.cube.CubeFrame =
    if (sel.isEmpty) cube
    else cube.copy(df = sel.foldLeft(cube.df) {
      case (df, (n, vv, _)) => df.filter(col(n) === lit(vv)) },
      storePath = None)

  /** the dataset's cube with the request's extra-dim indexers applied
    * (one plane per extra dim — the equality predicate pushes to the
    * store scan, so a 4-D cube's query reads one plane, not the
    * whole column) */
  private def cubeFor(d: RegisteredDataset,
                      q: Map[String, String]): graft.cube.CubeFrame =
    planeFiltered(d.cube, extraSelections(d, q))

  private def mapping(d: RegisteredDataset, v: String): ColorMapping = {
    val cm = d.style.flatMap(_.colorMappings.get(v))
    ColorMapping(cm.map(_.valueRange._1).getOrElse(0.0),
      cm.map(_.valueRange._2).getOrElse(1.0),
      graft.render.ColorMaps.paletteOrDefault(
        cm.map(_.colorBar).getOrElse("jet"))) // DEFAULT_CMAP_CBAR, defaults.py:36
  }

  /** Tile request: PNG cache probe, keyed like the reference image
    * cache (controllers/tiles.py:57-61); on a miss, read → render →
    * send. The read is [[readWindow]]: a direct chunk or parquet window
    * for a store-backed level, else a memoized Spark read of the whole
    * level or of the tile's window (the reference caches its
    * `NdarrayImage` value tile apart from the colour-mapped PNG), so a
    * colour-range change re-renders without reading again. The render
    * is [[Render.renderWindow]] (colour map + PNG) for every arm. Under
    * `?debug=1` or
    * `--traceperf` the stages are timed as `parse`, `read`, `render`
    * and `send`, and one line names the read arm. `?time=` selects the
    * NEAREST axis step (the reference's dimension indexers,
    * tiles.py:46 → `var.sel(method='nearest')`); the default is the
    * latest step (the 'current' J5 convention). `cbar`/`vmin`/`vmax`
    * override the style per request, like the legend endpoint. WMTS z
    * routes to a pyramid level — z = 0 is the coarsest, level index
    * counts finest→coarsest, so level = numLevels - 1 - z (reference
    * context.py:155 get_variable_for_z); low-zoom tiles never touch
    * full-resolution data. */
  private def tile(ex: HttpExchange, d: RegisteredDataset, v: String,
                   z: Int, x: Int, y: Int,
                   q: Map[String, String]): Unit = {
    // per-tile timing under ?debug=1 (tiles.py:33-35: the query param
    // overrides the service-level flag in either direction)
    val trace = Perf.trace(
      q.get("debug").map(_ != "0").getOrElse(tracePerf),
      s"tile ${d.id}.$v/$z/$x/$y")
    trace.info(s">>> tile ${d.id}.$v/$z/$x/$y")
    val t: java.sql.Timestamp = trace.stage("parse")(q.get("time") match {
      case Some("current") => d.latestTime // J5 'current' (context.py:437)
      case Some(s) =>
        // parse through the dataset's OWN CF calendar: the catalogue
        // advertises calendar-native labels (a 360_day axis contains
        // 2017-02-30) and echoing one back must hit the exact step
        val wantUs = graft.sources.CfTime.parseIsoUs(s, d.cube.timeCalendar)
        val coords = d.timeCoords
        if (coords.isEmpty) d.latestTime
        else coords.minBy(c => math.abs(
          c.getTime * 1000L + (c.getNanos / 1000) % 1000 - wantUs))
      case None => d.latestTime
    })
    val m = {
      val base = mapping(d, v)
      val m1 = q.get("cbar").map(cb => base.copy(palette =
        graft.render.ColorMaps.paletteOrDefault(cb))).getOrElse(base)
      val m2 = q.get("vmin").map(s => m1.copy(vmin = s.toDouble))
        .getOrElse(m1)
      q.get("vmax").map(s => m2.copy(vmax = s.toDouble)).getOrElse(m2)
    }
    // extra-dim indexers resolve BEFORE the cache probe: the key is the
    // resolved plane (two requests naming different raw values that
    // snap to the same step share a cache entry, reference image_id at
    // tiles.py:58-59)
    val extraSel = extraSelections(d, q)
    // key time in MICROseconds (getTime alone is millis — a sub-ms
    // time axis would alias two steps onto one cached tile)
    val keyUs = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val key = s"${d.id}/$v/$z/$x/$y/$keyUs/${m.vmin}/${m.vmax}/" +
      q.getOrElse("cbar", "") +
      extraSel.map { case (n, vv, _) => s"/$n=$vv" }.mkString
    tileCache.get(key) match {
      case Some(cached) =>
        trace.stage("send")(sendBytes(ex, 200, cached, "image/png"))
        trace.info(s"<<< tile ${d.id}.$v/$z/$x/$y: cache hit")
      case None =>
        // z indexes the ADVERTISED TileGrid (z=0 coarsest); map through
        // its numLevels, then clamp into the available level stack —
        // the two counts agree when levels derive from the same halving
        // rule, and the clamp degrades to the nearest resolution.
        val levels = d.levelSeq
        val cube = levels(math.max(0, math.min(levels.length - 1,
          d.tileGrid.numLevels - 1 - z)))
        val (window, arm) =
          trace.stage("read")(readWindow(d, cube, v, t, keyUs, x, y, extraSel))
        trace.info(s"<<< tile ${d.id}.$v/$z/$x/$y: read $arm")
        val png = trace.stage("render")(Render.renderWindow(window, 256, 256,
          m, flipY = cube.grid.latAscending))
        tileCache.put(key, png)
        trace.stage("send")(sendBytes(ex, 200, png, "image/png"))
    }
    trace.done()
  }

  /** One tile's value window (row-major, index order, NaN padded) and
    * the name of the read arm that produced it:
    *  - `direct`: a store-backed level (`storePath`) reads its window on
    *    the serving thread with no Spark job ([[graft.sources.DirectWindow]]:
    *    chunked stores slice their decoded chunks, graft's parquet levels
    *    decode ~one row group), values identical to the Spark scan by
    *    construction (the reference's own tile path is an in-process
    *    array slice);
    *  - `spark level load` / `spark level hit`: a level the direct arm
    *    does not serve (persisted, derived or transformed frames, or a
    *    store-backed level whose direct read declines or fails) whose
    *    every time step, over the grid rounded up to whole tiles, fits
    *    `StoreCache.directBudgetBytes` (the budget the time-series direct
    *    arm uses too). One Spark job reads the whole level
    *    ([[Render.Extent.level]]), memoized in the chunk LRU by
    *    [[graft.sources.StoreCache.frameRead]]; every tile of it, at any
    *    time step and colour range, is then a [[Render.slice]] with no
    *    job. `T` is the registration's time axis (`d.timeCoords`);
    *  - `spark window load` / `spark window hit`: such a level too large
    *    for the budget reads one tile window per job
    *    ([[Render.Extent.window]]), memoized the same way, so a repeat
    *    with another colour range (`vmin`/`vmax`/`cbar`) runs no job.
    * The Spark reads filter one plane per extra dim, which pushes to the
    * store scan as a chunk-plane prune; the plane is part of the memo
    * key, and a store-backed level's reads go with the store's
    * `StoreCache.invalidate`. At most one load per key runs at a time.
    * The returned window is shared: read it, never write it. */
  private def readWindow(d: RegisteredDataset, cube: graft.cube.CubeFrame,
                         v: String, t: java.sql.Timestamp, keyUs: Long,
                         x: Int, y: Int, extraSel: Seq[(String, Double, Int)])
      : (Array[Double], String) = {
    val direct = cube.storePath.flatMap { p =>
      try graft.sources.DirectWindow.read(p, v, keyUs, y * 256, x * 256,
        256, 256, extra = extraSel)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[tile] direct read failed for $p $v/$keyUs/" +
          s"$x/$y: $e")
        None
      }
    }
    val window = Render.Extent.window(t, x, y, 256, 256)
    def memo(e: Render.Extent): (Array[Double], Boolean) =
      graft.sources.StoreCache.frameRead(cube.df, cube.storePath, v, e,
        extraSel.map { case (n, vv, _) => (n, vv) })(
        Render.sparkRead(planeFiltered(cube, extraSel), v, e))
    direct.map(_ -> "direct").getOrElse {
      val level = Render.Extent.level(d.timeCoords, cube.grid, 256)
      val step = d.timeCoords.indexOf(t)
      if (step >= 0 &&
          level.cells * 8 <= graft.sources.StoreCache.directBudgetBytes) {
        val (stack, hit) = memo(level)
        (Render.slice(stack, level, step, y * 256, x * 256, 256, 256),
          if (hit) "spark level hit" else "spark level load")
      } else {
        val (win, hit) = memo(window)
        (win, if (hit) "spark window hit" else "spark window load")
      }
    }
  }

  /** Shared find-places response for GET (WKT/bbox) and POST (GeoJSON
    * body): None = no query geometry → the WHOLE collection, exactly
    * like __find_places returning the raw place group
    * (places.py:80-86). */
  private def findPlaces(ex: HttpExchange, group: String,
                         geom: Option[Geo.Geometry]): Unit = {
    val df = ctx.places(group).getOrElse {
      send(ex, 404, Json.obj("error" -> Json.str(s"no place group $group")),
        "application/json"); return
    }
    if (df.columns.contains("geometry_json")) {
      // loadGeoJson frames: exact intersects on the full geometry
      // (reference FindPlacesHandler → places.py:74-94), response is
      // a GeoJSON FeatureCollection
      val hits = geom match {
        case Some(g) =>
          // null geometries: skip, like the dataset-bounds route above
          // (the UDF would NPE inside the Spark job → 500)
          Places.featuresIntersectingGeometry(
            df.filter(col("geometry_json").isNotNull), "geometry_json", g)
        case None => df
      }
      val feats = hits.collect().map(r => Json.obj(
        "type" -> Json.str("Feature"),
        "id" -> r.getAs[Long]("id").toString,
        "geometry" -> r.getAs[String]("geometry_json"),
        "properties" -> Option(r.getAs[String]("properties_json"))
          .getOrElse("null")))
      send(ex, 200, Json.obj("type" -> Json.str("FeatureCollection"),
        "features" -> Json.arr(feats)), "application/json")
    } else {
      val hits = geom match {
        case Some(g) => Places.pointsWithinGeometry(df, "x", "y", g)
        case None => df
      }
      val rows = hits.collect().map(r => Json.obj(
        "id" -> r.getAs[Long]("id").toString,
        "x" -> Json.num(r.getAs[Double]("x")),
        "y" -> Json.num(r.getAs[Double]("y"))))
      send(ex, 200, Json.obj("places" -> Json.arr(rows)), "application/json")
    }
  }

  /** Fan-out response: results = array of per-geometry result arrays
    * (reference _get_time_series_for_geometries, time_series.py:208-219)
    * — one [[TimeSeries.zonalManyRows]] call (its direct arm, or one Spark
    * job over all geometries), encoded by [[GraftServer.tsManyJson]].
    * `geometries` parses the request body, inside the traced `parse`
    * stage. */
  private def tsMany(ex: HttpExchange, d: RegisteredDataset, v: String,
                     route: String)
                    (geometries: => Seq[graft.geo.Geo.Geometry]): Unit = {
    val trace = Perf.trace(tracePerf, route)
    val (geoms, q, (start, end)) = trace.stage("parse") {
      val geoms = geometries
      val q = query(ex)
      (geoms, q, dateRange(q, d.cube.timeCalendar))
    }
    val rows = trace.stage("query")(
      if (geoms.isEmpty) Nil
      else TimeSeries.zonalManyRows(cubeFor(d, q), v, geoms, start, end))
    val body = trace.stage("encode")(
      GraftServer.tsManyJson(geoms.length, rows))
    trace.stage("send")(send(ex, 200, body, "application/json"))
    trace.done()
  }

  /** GET /ts — layer info: per dataset×variable name, ISO time stamps
    * and bounds (reference get_time_series_info,
    * time_series.py:35-54). */
  private def tsInfoJson(): String = {
    val layers = for {
      id <- ctx.datasetIds
      d <- ctx.dataset(id).toSeq
      v <- d.cube.variables
    } yield {
      val b = d.cube.grid.bbox
      Json.obj(
        "name" -> Json.str(s"${d.id}.$v"),
        "dates" -> Json.arr(d.timeLabels.map(Json.str)),
        "bounds" -> Json.obj(
          "xmin" -> Json.num(b.xMin), "ymin" -> Json.num(b.yMin),
          "xmax" -> Json.num(b.xMax), "ymax" -> Json.num(b.yMax)))
    }
    Json.obj("layers" -> Json.arr(layers))
  }

  /** ISO date/instant query value (reference
    * params.get_query_argument_datetime), parsed through the DATASET'S
    * CF calendar — a 360_day catalogue advertises labels like
    * 2017-02-30 and a client echoing one into startDate/endDate must
    * get the range, not a 400 (same contract as the tile ?time=). */
  private def parseTime(s: String,
                        calendar: Option[String]): java.sql.Timestamp =
    graft.cube.Cube.timestampOfMicros(
      graft.sources.CfTime.parseIsoUs(s, calendar))

  private def dateRange(q: Map[String, String],
                        calendar: Option[String])
      : (Option[java.sql.Timestamp], Option[java.sql.Timestamp]) =
    (q.get("startDate").map(parseTime(_, calendar)),
      q.get("endDate").map(parseTime(_, calendar)))

  private def readJsonBody(ex: HttpExchange)
      : com.fasterxml.jackson.databind.JsonNode =
    try GraftServer.JsonMapper.readTree(
      new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
    catch {
      // malformed bodies are CLIENT errors (reference handlers.py
      // get_body_as_json_object wraps parse failures as 400) — without
      // this, JsonProcessingException falls to the 500 arm
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalArgumentException(
          s"Invalid JSON body: ${e.getOriginalMessage}")
    }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").flatMap { kv =>
      // decode KEYS too (a strict client percent-encodes both) and
      // keep valueless flags (?debug) as empty-string values instead
      // of silently dropping them
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) if k.nonEmpty =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def send(ex: HttpExchange, code: Int, body: String,
                   contentType: String): Unit =
    sendBytes(ex, code, body.getBytes(StandardCharsets.UTF_8), contentType)

  private def sendBytes(ex: HttpExchange, code: Int, body: Array[Byte],
                        contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length)
    val os = ex.getResponseBody
    os.write(body)
    os.close()
  }
}

object GraftServer {
  /** Library version surfaced by the `GET /` info document; kept in
    * sync with build.sbt's `ThisBuild / version`. */
  val Version = "0.1.0"

  /** request-body parser, shared: an `ObjectMapper` is thread-safe once
    * configured, and building one per request is not cheap */
  private val JsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The `/ts` point and geometry response body: one series, from the
    * time-series operator's rows (reference time_series.py:133-145). */
  private[graft] def tsJson(rows: Seq[Row]): String =
    Json.obj("results" -> Json.arr(rows.map(tsRowJson)))

  /** The `/ts` geometries and places response body: one series per
    * geometry, in geometry order, from [[TimeSeries.zonalManyRows]]
    * grouped back by geometry_index (reference
    * _get_time_series_for_geometries, time_series.py:208-219). */
  private[graft] def tsManyJson(geometries: Int, rows: Seq[Row]): String = {
    val byGeometry = rows.groupBy(_.getAs[Int]("geometry_index"))
    Json.obj("results" -> Json.arr((0 until geometries).map(i =>
      Json.arr(byGeometry.getOrElse(i, Nil).sortBy(_.getAs[String]("date"))
        .map(tsRowJson)))))
  }

  private def tsRowJson(r: Row): String =
    Json.obj(
      "date" -> Json.str(r.getAs[String]("date")),
      "result" -> Json.obj(
        "totalCount" -> r.getAs[Long]("total_count").toString,
        "validCount" -> r.getAs[Long]("valid_count").toString,
        // finite averages keep Double.toString (golden formatting);
        // NaN/Infinity (e.g. +Inf cube cells survive nanToNull) become
        // null — a bare NaN token would invalidate the WHOLE response
        "average" -> (if (r.isNullAt(r.fieldIndex("average"))) "null"
                      else {
                        val a = r.getAs[Double]("average")
                        if (a.isNaN || a.isInfinite) "null" else a.toString
                      })))
}
