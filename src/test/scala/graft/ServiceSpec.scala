package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.cube.{Cube, CubeGrid, CubeIngest}
import graft.model.ServiceConfig
import graft.server._

class ServiceSpec extends SparkSpec {

  private val demoYaml = """
Datasets:
  - Identifier: local
    Title: "Local cube"
    BoundingBox: [0.0, 50, 5.0, 52.5]
    FileSystem: local
    Path: "cube.parquet"
    Style: default
    PlaceGroups:
      - PlaceGroupRef: inside-cube
  - Identifier: local_1w
    Title: Weekly cube
    FileSystem: memory
    Path: "resample_in_time.py"
    Function: "resample_in_time"
    InputDatasets: ["local"]
    InputParameters:
      period: "1W"
PlaceGroups:
  - Identifier: inside-cube
    Title: Points inside
    Path: "places/inside.geojson"
Styles:
  - Identifier: default
    ColorMappings:
      v0:
        ColorBar: "plasma"
        ValueRange: [0., 24.]
ServiceProvider:
  ProviderName: "graft"
"""

  test("YAML config parses the reference document shape") {
    val cfg = ServiceConfig.fromString(demoYaml)
    assert(cfg.datasets.map(_.identifier) == Seq("local", "local_1w"))
    val local = cfg.dataset("local").get
    assert(local.boundingBox.get == Seq(0.0, 50.0, 5.0, 52.5))
    assert(local.placeGroupRefs == Seq("inside-cube"))
    val computed = cfg.dataset("local_1w").get
    assert(computed.function.contains("resample_in_time"))
    assert(computed.inputDatasets == Seq("local"))
    assert(computed.inputParameters == Map("period" -> "1W"))
    assert(cfg.style("default").get.colorMappings("v0").valueRange == (0.0, 24.0))
    assert(cfg.provider("ProviderName") == "graft")
  }

  test("a style ColorMapping without ValueRange is a named config " +
      "error, not a bare NPE") {
    val bad = """
Styles:
  - Identifier: broken
    ColorMappings:
      v0:
        ColorBar: jet
"""
    val e = intercept[IllegalArgumentException] {
      ServiceConfig.fromString(bad)
    }
    assert(e.getMessage.contains("broken") &&
      e.getMessage.contains("ValueRange"))
  }

  private def demoContext(): ServiceContext = {
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(8, 4, 0.0, 50.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    val cfg = ServiceConfig.fromString(demoYaml)
    ctx.register(RegisteredDataset("local", "Local cube", cube,
      cfg.style("default")))
    ctx.registerComputed("local_1w", "Weekly cube", "resample_in_time",
      Seq("local"), Map("period" -> "1W"), cfg.style("default"))
    import spark.implicits._
    ctx.registerPlaces("test",
      Seq((1L, 1.0, 1.0), (2L, 3.0, 3.0), (3L, 9.0, 9.0)).toDF("id", "x", "y"))
    ctx
  }

  test("catalogue JSON carries datasets, variables, tile grids") {
    val ctx = demoContext()
    val all = Catalogue.datasetsJson(ctx)
    assert(all.contains("\"local\"") && all.contains("\"local_1w\""))
    val one = Catalogue.datasetJson(ctx.dataset("local").get)
    assert(one.contains("\"variables\"") && one.contains("\"v0\""))
    assert(one.contains("\"colorBarName\":\"plasma\""))
    assert(one.contains("\"numLevels\""))
    // dimensions carry full coordinate dumps incl. the time axis
    // (reference catalogue.py:87-88, 97-111)
    assert(one.contains("\"name\":\"time\""))
    assert(one.contains("\"2017-01-01T00:00:00Z\""))
    assert(one.contains("\"coordinates\":[50.25,"))
  }

  test("coords endpoint dumps one coordinate variable per dim") {
    val ctx = demoContext()
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofString())
      val time = get("/datasets/local/coords/time")
      assert(time.statusCode() == 200)
      assert(time.body().contains("\"dtype\":\"datetime64[ns]\""))
      assert(time.body().contains("\"size\":2"))
      assert(time.body().contains("\"2017-01-02T00:00:00Z\""))
      val lon = get("/datasets/local/coords/lon")
      assert(lon.statusCode() == 200 &&
        lon.body().contains("\"coordinates\":[0.25,0.75,"))
      assert(get("/datasets/local/coords/bogus").statusCode() == 400)
    } finally srv.stop()
  }

  test("WMTS capabilities XML lists layers and matrix sets") {
    val xml = Wmts.capabilitiesXml(demoContext(), "http://x")
    assert(xml.contains("<ows:Identifier>local.v0</ows:Identifier>"))
    assert(xml.contains("<TileMatrixSet>"))
    assert(xml.contains("ScaleDenominator"))
    assert(xml.startsWith("<?xml"))
    // time Dimension with ISO value dumps (wmts.py:195-237)
    assert(xml.contains("<Dimension>"))
    assert(xml.contains("<ows:UOM>ISO8601</ows:UOM>"))
    assert(xml.contains("<Default>current</Default>"))
    assert(xml.contains("<Value>2017-01-01T00:00:00Z</Value>"))
    assert(xml.contains("<Value>2017-01-02T00:00:00Z</Value>"))
    // Themes tree with per-variable LayerRef (wmts.py:246-266)
    assert(xml.contains("<Themes>"))
    assert(xml.contains("<LayerRef>local.v0</LayerRef>"))
    assert(xml.contains("<ServiceMetadataURL"))
  }

  test("WMTS capabilities golden: full document locked against drift " +
    "(reference shape test: test/controllers/test_wmts.py)") {
    val xml = Wmts.capabilitiesXml(demoContext(), "http://bibo")
    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/graft/goldens/wmts_capabilities.xml")
    if (sys.props.contains("graft.regen.goldens")) {
      java.nio.file.Files.createDirectories(goldenPath.getParent)
      java.nio.file.Files.writeString(goldenPath, xml)
      info(s"regenerated $goldenPath")
    } else {
      val in = getClass.getResourceAsStream(
        "/graft/goldens/wmts_capabilities.xml")
      assert(in != null, "golden missing — run with -Dgraft.regen.goldens")
      val expected = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // whitespace-insensitive compare, as the reference test does
      // (test_wmts.py: expected.replace(' ','') == actual.replace(' ',''))
      assert(xml.replace(" ", "").replace("\n", "") ==
        expected.replace(" ", "").replace("\n", ""),
        "capabilities structure drifted from the committed golden")
    }
  }

  test("WMTS KVP binding: GetCapabilities and GetTile") {
    val srv = new GraftServer(demoContext()).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      val caps = get("/wmts/kvp?Service=WMTS&Request=GetCapabilities")
      assert(caps.statusCode() == 200 &&
        new String(caps.body()).contains("local.v0"))
      val tile = get("/wmts/kvp?service=WMTS&request=GetTile&version=1.0.0" +
        "&layer=local.v0&format=image/png&tilematrix=0&tilerow=0&tilecol=0")
      assert(tile.statusCode() == 200 &&
        tile.body().take(4).toSeq ==
          Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      assert(get("/wmts/kvp?service=NOPE&request=GetTile").statusCode() == 400)
      assert(get("/wmts/kvp?service=WMTS&request=Bogus").statusCode() == 400)
    } finally srv.stop()
  }

  test("HTTP shell serves catalogue, tiles, time series, places end-to-end") {
    val srv = new GraftServer(demoContext()).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      val cat = get("/datasets")
      assert(cat.statusCode() == 200 &&
        new String(cat.body()).contains("\"local\""))
      val tile = get("/datasets/local/vars/v0/tiles/0/0/0.png")
      assert(tile.statusCode() == 200 &&
        tile.body().take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      // computed datasets serve tiles through the same path
      val computedTile = get("/datasets/local_1w/vars/v0/tiles/0/0/0.png")
      assert(computedTile.statusCode() == 200 &&
        computedTile.body().take(4).toSeq ==
          Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      val ts = get("/ts/local/v0/point?lon=1.2&lat=51.3")
      val tsBody = new String(ts.body())
      assert(ts.statusCode() == 200 && tsBody.contains("\"totalCount\":1"))
      val zonal = client.send(HttpRequest.newBuilder(
          URI.create(srv.address + "/ts/local/v0/geometry"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "POLYGON((0.5 50.2, 3.5 50.2, 0.5 51.8, 0.5 50.2))")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(zonal.statusCode() == 200 && zonal.body().contains("totalCount"))
      // reference contract (handlers.py:344-345): the body is a GeoJSON
      // geometry OBJECT — same polygon, must return the same series
      val zonalGj = client.send(HttpRequest.newBuilder(
          URI.create(srv.address + "/ts/local/v0/geometry"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"type":"Polygon","coordinates":
             [[[0.5,50.2],[3.5,50.2],[0.5,51.8],[0.5,50.2]]]}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(zonalGj.statusCode() == 200 && zonalGj.body() == zonal.body())
      // GeometryCollection body succeeds where pre-r11 returned 400
      val zonalGc = client.send(HttpRequest.newBuilder(
          URI.create(srv.address + "/ts/local/v0/geometry"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"type":"GeometryCollection","geometries":[
               {"type":"Polygon","coordinates":
                 [[[0.5,50.2],[3.5,50.2],[0.5,51.8],[0.5,50.2]]]}]}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(zonalGc.statusCode() == 200 && zonalGc.body() == zonal.body())
      // --traceperf parity (perf.py:7-66, tiles.py:33-35,133-140):
      // per-tile timing under ?debug=1, per-stage ms on ts routes under
      // the service flag, and NOTHING traced when off
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val oldSink = graft.server.Perf.sink
      // trace.done() runs on the server thread AFTER the response bytes
      // are written, so the client can observe the response before the
      // lines land — poll for the terminal "total:" line
      def awaitLines(): Seq[String] = {
        val deadline = System.nanoTime() + 5000L * 1000 * 1000
        while (System.nanoTime() < deadline &&
            !captured.toArray(Array.empty[String]).exists(_.contains("total:")))
          Thread.sleep(10)
        captured.toArray(Array.empty[String]).toSeq
      }
      try {
        graft.server.Perf.sink = line => captured.add(line)
        assert(get("/datasets/local/vars/v0/tiles/0/0/0.png?debug=1")
          .statusCode() == 200)
        val tileLines = awaitLines()
        assert(tileLines.exists(_.matches(
          """\[perf\] >>> tile local\.v0/0/0/0""")), tileLines)
        assert(tileLines.exists(_.matches(
          """\[perf\] tile local\.v0/0/0/0 parse: took \d+\.\d\dms""")),
          tileLines)
        assert(tileLines.exists(_.matches(
          """\[perf\] tile local\.v0/0/0/0 total: took \d+\.\d\dms""")),
          tileLines)
        captured.clear()
        srv.tracePerf = true
        assert(get("/ts/local/v0/point?lon=1.2&lat=51.3").statusCode() == 200)
        val tsLines = awaitLines()
        for (stage <- Seq("parse", "query", "encode", "total"))
          assert(tsLines.exists(_.matches(
            s"""\\[perf\\] GET /ts/local/v0/point $stage: took \\d+\\.\\d\\dms""")),
            s"missing $stage in $tsLines")
        // the fan-out routes trace the same stages, plus send
        captured.clear()
        val many = client.send(HttpRequest.newBuilder(
            URI.create(srv.address + "/ts/local/v0/geometries"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"type":"GeometryCollection","geometries":[
                 {"type":"Point","coordinates":[1.2,51.3]}]}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(many.statusCode() == 200)
        val manyLines = awaitLines()
        for (stage <- Seq("parse", "query", "encode", "send", "total"))
          assert(manyLines.exists(_.matches(
            s"""\\[perf\\] POST /ts/local/v0/geometries $stage: took \\d+\\.\\d\\dms""")),
            s"missing $stage in $manyLines")
        srv.tracePerf = false
        Thread.sleep(100) // drain any in-flight done() before the off-check
        captured.clear()
        assert(get("/ts/local/v0/point?lon=1.2&lat=51.3").statusCode() == 200)
        assert(get("/datasets/local/vars/v0/tiles/0/0/0.png").statusCode() == 200)
        Thread.sleep(100)
        assert(captured.isEmpty, captured.toArray.toSeq)
      } finally graft.server.Perf.sink = oldSink
      val places = get("/places/test?geom=" + java.net.URLEncoder.encode(
        "POLYGON((0 0, 5 0, 5 5, 0 5, 0 0))", "UTF-8"))
      val pBody = new String(places.body())
      assert(places.statusCode() == 200 && pBody.contains("\"id\":1") &&
        !pBody.contains("\"id\":3"))
      val wmts = get("/wmts/1.0.0/WMTSCapabilities.xml")
      assert(wmts.statusCode() == 200 &&
        new String(wmts.body()).contains("local.v0"))
      assert(get("/datasets/nope").statusCode() == 404)
      assert(get("/bogus").statusCode() == 404)
      // param coercion errors → 400 (reference F13 semantics)
      assert(get("/ts/local/v0/point").statusCode() == 400)
      assert(get("/ts/local/v0/point?lon=abc&lat=1").statusCode() == 400)
      // static assets (S8) with path-traversal protection
      val root = java.nio.file.Files.createTempDirectory("graft-static")
      java.nio.file.Files.write(root.resolve("ne2.png"),
        Array[Byte](0x89.toByte, 'P', 'N', 'G'))
      srv.staticRoot = Some(root)
      assert(get("/static/ne2.png").statusCode() == 200)
      assert(get("/static/../etc/passwd").statusCode() == 404)
    } finally srv.stop()
  }

  test("full service boots from a YAML config file (reference on-ramp)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-svc").toString
    val grid = CubeGrid(8, 4, 0.0, 50.0, 0.5, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 2, Seq("v0"))
    CubeIngest.writeCube(cube, s"$dir/cube.parquet", tileSize = 8)
    graft.sources.ZarrStore.writeZarr(cube, s"$dir/cube.zarr")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "pts.geojson"),
      """{"type":"FeatureCollection","features":[
        {"type":"Feature","geometry":{"type":"Point","coordinates":[1.2,51.3]},
         "properties":{"name":"P"}}]}""")
    val yaml = s"""
Datasets:
  - Identifier: pq
    Title: Parquet cube
    FileSystem: local
    Path: "cube.parquet"
    Style: default
    PlaceGroups:
      - PlaceGroupRef: pts
  - Identifier: zr
    Title: Zarr cube
    FileSystem: local
    Path: "cube.zarr"
  - Identifier: weekly
    Title: Weekly
    FileSystem: memory
    Path: "resample_in_time.py"
    Function: "resample_in_time"
    InputDatasets: ["pq"]
    InputParameters:
      period: "1W"
PlaceGroups:
  - Identifier: pts
    Title: Points
    Path: "pts.geojson"
Styles:
  - Identifier: default
    ColorMappings:
      v0:
        ColorBar: "plasma"
        ValueRange: [0., 24.]
"""
    // Main.build is the CLI path: same wiring from a config FILE
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "config.yml"), yaml)
    val (ctx, _) = graft.server.Main.build(spark, s"$dir/config.yml")
    assert(ctx.datasetIds == Seq("pq", "weekly", "zr"))
    // parquet and zarr stores serve the same cube
    assert(ctx.dataset("zr").get.cube.df.count() ==
      ctx.dataset("pq").get.cube.df.count())
    assert(ctx.dataset("pq").get.placeGroupRefs == Seq("pts"))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      assert(new String(get("/datasets").body()).contains("\"zr\""))
      // a zarr-backed time series takes the operators' direct arm
      val (ts, tsJobs) = jobsDuring(get("/ts/zr/v0/point?lon=1.2&lat=51.3"))
      assert(ts.statusCode() == 200 &&
        new String(ts.body()).contains("\"totalCount\":1"))
      assert(tsJobs.isEmpty, s"direct time series ran ${tsJobs.size} job(s)")
      // a zarr tile reads its window directly, timed inside "render"
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val oldSink = graft.server.Perf.sink
      graft.server.Perf.sink = line => captured.add(line)
      try {
        val (tile, tileJobs) = jobsDuring(
          get("/datasets/zr/vars/v0/tiles/0/0/0.png?debug=1"))
        assert(tile.statusCode() == 200)
        assert(tileJobs.isEmpty, s"direct tile ran ${tileJobs.size} job(s)")
        // trace.done() runs after the response is written
        val deadline = System.nanoTime() + 5000L * 1000 * 1000
        while (System.nanoTime() < deadline &&
            !captured.toArray(Array.empty[String]).exists(_.contains("total:")))
          Thread.sleep(10)
        val lines = captured.toArray(Array.empty[String]).toSeq
        assert(lines.exists(_.matches(
          """\[perf\] tile zr\.v0/0/0/0 render: took \d+\.\d\dms""")), lines)
      } finally graft.server.Perf.sink = oldSink
      assert(get("/datasets/pq/vars/v0/tiles/0/0/0.png").statusCode() == 200)
      assert(new String(get("/places/pts?geom=" + java.net.URLEncoder.encode(
        "POLYGON((0 50, 5 50, 5 53, 0 53, 0 50))", "UTF-8")).body())
        .contains("\"P\""))
    } finally srv.stop()
  }

  test("re-applying a changed config replaces datasets by identifier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reload").toString
    val grid = CubeGrid(8, 4, 0.0, 50.0, 0.5, latAscending = true)
    CubeIngest.writeCube(Cube.synthetic(spark, grid, 1, Seq("v0")),
      s"$dir/cube.parquet", tileSize = 8)
    def yaml(title: String) = s"""
Datasets:
  - Identifier: d
    Title: $title
    FileSystem: local
    Path: "cube.parquet"
"""
    val ctx = new ServiceContext(spark)
    ctx.loadConfig(ServiceConfig.fromString(yaml("Before")), dir)
    assert(ctx.dataset("d").get.title == "Before")
    ctx.loadConfig(ServiceConfig.fromString(yaml("After")), dir)
    assert(ctx.datasetIds == Seq("d"))
    assert(ctx.dataset("d").get.title == "After")
  }

  test("config-driven place groups: globs, global ids, sub-groups") {
    def fc(points: (Double, Double)*): String = {
      val feats = points.map { case (x, y) =>
        s"""{"type":"Feature","geometry":{"type":"Point",
           |"coordinates":[$x,$y]},"properties":{}}""".stripMargin
      }
      s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
    }
    val dir = java.nio.file.Files.createTempDirectory("grp-cfg")
    java.nio.file.Files.writeString(dir.resolve("a1.geojson"), fc((1, 1), (2, 2)))
    java.nio.file.Files.writeString(dir.resolve("a2.geojson"), fc((3, 3)))
    java.nio.file.Files.writeString(dir.resolve("b.geojson"), fc((4, 4), (5, 5)))
    val cfgs = Seq(
      graft.model.PlaceGroupConfig("ga", "Group A", s"$dir/a*.geojson",
        places = Seq(
          graft.model.PlaceGroupConfig("gb", "Sub B", s"$dir/b.geojson"))))
    val ctx = new ServiceContext(spark)
    ctx.loadPlaceGroups(cfgs, baseDir = "/")
    // glob concatenates both a-files; ids are globally sequential
    assert(ctx.places("ga").get.select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ctx.places("gb").get.select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(4L, 5L))
    assert(ctx.subGroups.get("ga").contains(Seq("gb")))
    // listing carries the nesting; dataset JSON carries its group refs
    val grid = CubeGrid(4, 2, 0.0, 0.0, 1.0, latAscending = true)
    ctx.register(RegisteredDataset("d1", "D1",
      Cube.synthetic(spark, grid, 1, Seq("v0")), None,
      placeGroupRefs = Seq("ga")))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): String = new String(client.send(
        HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
        HttpResponse.BodyHandlers.ofByteArray()).body())
      val listing = get("/places")
      assert(listing.contains("\"id\":\"ga\""))
      assert(listing.contains("\"placeGroups\":[\"gb\"]"))
      val dsJson = get("/datasets/d1")
      assert(dsJson.contains("\"placeGroups\":[{\"id\":\"ga\",\"title\":\"Group A\"}]"))
      // features within the DATASET's bounds (d1 spans lon 0..4, lat
      // 0..2): (1,1) inside, (2,2) on the boundary (counts), (3,3)
      // outside the lat range
      val inDs = get("/places/ga/d1")
      assert(inDs.contains("\"FeatureCollection\""))
      assert(inDs.contains("\"id\":1") && inDs.contains("\"id\":2"))
      assert(!inDs.contains("\"id\":3"))
      assert(get("/places/ga/nope").contains("no dataset"))
      // find-places parity (places.py:32-94):
      // no geometry at all → the WHOLE collection
      val all = get("/places/ga")
      assert(all.contains("\"id\":1") && all.contains("\"id\":2") &&
        all.contains("\"id\":3"))
      // POST GeoJSON Feature body → its geometry filters
      def post(p: String, body: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(srv.address + p))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val feat = """{"type":"Feature","geometry":{"type":"Polygon",
        "coordinates":[[[0,0],[2.5,0],[2.5,2.5],[0,2.5],[0,0]]]},
        "properties":{}}""".replaceAll("\n\\s*", "")
      val (pc, pBody) = post("/places/ga", feat)
      assert(pc == 200 && pBody.contains("\"id\":1") &&
        pBody.contains("\"id\":2") && !pBody.contains("\"id\":3"))
      // bare geometry body works too
      val (gc, gBody) = post("/places/ga",
        """{"type":"Polygon","coordinates":[[[2.5,2.5],[9,2.5],[9,9],[2.5,9],[2.5,2.5]]]}""")
      assert(gc == 200 && gBody.contains("\"id\":3") && !gBody.contains("\"id\":1"))
      // the reference's FeatureCollection quirk: it reads
      // obj["places"][0]["geometry"] — a STANDARD FeatureCollection
      // (features key) is invalid there, and here
      val (fc400, _) = post("/places/ga",
        s"""{"type":"FeatureCollection","features":[$feat]}""")
      assert(fc400 == 400)
      val (fcOk, fcBody) = post("/places/ga",
        s"""{"type":"FeatureCollection","places":[$feat]}""")
      assert(fcOk == 200 && fcBody.contains("\"id\":1"))
      // ?query= expressions: NotImplementedError in the reference → 500
      val q500 = client.send(HttpRequest.newBuilder(
        URI.create(srv.address + "/places/ga?query=x")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q500.statusCode() == 500)
      // antimeridian bbox (east < west) splits into two boxes: nothing
      // in this group sits near ±180, so the hit set is empty — but the
      // request parses and succeeds
      val am = get("/places/ga?bbox=170,0,-170,5")
      assert(am.contains("\"features\":[]"))
    } finally srv.stop()
  }

  test("computed-dataset transforms: derive, mask, merge (S6/U1)") {
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(4, 2, 0.0, 0.0, 1.0, latAscending = true)
    ctx.register(RegisteredDataset("a", "A",
      Cube.synthetic(spark, grid, 1, Seq("v0"), nanEvery = 1000), None))
    ctx.register(RegisteredDataset("b", "B",
      Cube.synthetic(spark, grid, 1, Seq("v1"), nanEvery = 1000), None))
    ctx.registerComputed("derived", "Derived", "derive_variable",
      Seq("a"), Map("name" -> "v0_sq", "expr" -> "v0 * v0"))
    val d = ctx.dataset("derived").get
    assert(d.cube.variables == Seq("v0", "v0_sq"))
    import org.apache.spark.sql.functions.{col, isnan, not}
    val r = d.cube.df.filter(not(isnan(col("v0"))))
      .select("v0", "v0_sq").collect()
    assert(r.nonEmpty && r.forall(x =>
      math.abs(x.getDouble(1) - x.getDouble(0) * x.getDouble(0)) < 1e-9))
    ctx.registerComputed("masked", "Masked", "mask_range",
      Seq("a"), Map("variable" -> "v0", "valid_max" -> "5"))
    val masked = ctx.dataset("masked").get.cube.df
    assert(masked.filter(col("v0") > 5.0).count() == 0)
    ctx.registerComputed("merged", "Merged", "merge_cubes",
      Seq("a", "b"), Map.empty)
    val m = ctx.dataset("merged").get
    assert(m.cube.variables == Seq("v0", "v1"))
    assert(m.cube.df.count() == 4L * 2)
  }

  test("sql computed dataset: runtime SQL eval over input views, " +
      "per-level re-evaluation, command/analysis rejection (S6/U1)") {
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val a = Cube.synthetic(spark, grid, 2, Seq("v0"), nanEvery = 1000)
    val b = Cube.synthetic(spark, grid, 2, Seq("v1"), nanEvery = 1000)
    ctx.register(RegisteredDataset("a", "A", a, None))
    ctx.register(RegisteredDataset("b", "B", b, None))
    // a two-input join + free-form arithmetic, as config-declared SQL —
    // the reference's compute_dataset(ds1, ds2) script, declaratively
    ctx.registerComputed("ratio", "Ratio", "sql", Seq("a", "b"), Map(
      "sql" -> ("SELECT a.time, a.y_idx, a.x_idx, a.lat, a.lon, " +
        "a.v0 / (b.v1 + 100.0) AS ratio FROM a JOIN b " +
        "ON a.time = b.time AND a.y_idx = b.y_idx AND a.x_idx = b.x_idx")))
    val d = ctx.dataset("ratio").get
    assert(d.cube.variables == Seq("ratio"))
    assert(d.cube.grid == grid)
    import org.apache.spark.sql.functions.{col, isnan, not}
    // cell 0 is a NaN hole in both inputs (synthetic's cell%nanEvery==0)
    assert(d.cube.df.filter(not(isnan(col("ratio")))).count() == 2L * 8 * 4 - 2)
    // per-level re-evaluation: inputs with materialized pyramids of
    // equal depth get the SQL applied level-by-level (mldataset.py:369)
    val aL = RegisteredDataset("al", "A", a, None,
      levels = graft.operators.Pyramid.build(a, tileW = 4, tileH = 2))
    ctx.register(aL)
    ctx.registerComputed("lvl", "Lvl", "sql", Seq("al"), Map(
      "sql" -> "SELECT time, y_idx, x_idx, lat, lon, v0 * 2.0 AS twice FROM al"))
    val lvl = ctx.dataset("lvl").get
    assert(lvl.levels.size == aL.levels.size && lvl.levels.size > 1)
    assert(lvl.levels.last.grid.width < grid.width)
    // sandbox boundary: commands refuse, analysis errors surface as 400s
    intercept[IllegalArgumentException] {
      ctx.registerComputed("bad", "Bad", "sql", Seq("a"),
        Map("sql" -> "DROP TABLE a"))
    }
    intercept[IllegalArgumentException] {
      ctx.registerComputed("bad2", "Bad", "sql", Seq("a"),
        Map("sql" -> "SELECT nope FROM a"))
    }
    intercept[IllegalArgumentException] { // coords must survive
      ctx.registerComputed("bad3", "Bad", "sql", Seq("a"),
        Map("sql" -> "SELECT v0 FROM a"))
    }
    // the temp views were dropped after analysis — nothing leaks into
    // the session catalog
    assert(!spark.catalog.tableExists("a") && !spark.catalog.tableExists("b"))
  }

  test("tile ?time= nearest-selects a step; cbar/vmin/vmax override " +
      "style") {
    val ctx = demoContext()
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): Array[Byte] = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, p)
        r.body()
      }
      val base = "/datasets/local/vars/v0/tiles/0/0/0.png"
      val latest = get(base)
      // demo cube: 2 daily steps from 2017-01-01; default = latest
      assert(get(base + "?time=2017-01-02").sameElements(latest))
      // nearest select: an off-axis instant snaps to its closest step
      assert(get(base + "?time=2017-01-01T23:00:00Z").sameElements(latest))
      val first = get(base + "?time=2017-01-01")
      assert(!first.sameElements(latest),
        "different steps must render different tiles")
      // style overrides re-render (and re-key the cache)
      assert(!get(base + "?vmin=40&vmax=60").sameElements(latest))
      // (the demo style already maps v0 to plasma — override to viridis)
      assert(!get(base + "?cbar=viridis").sameElements(latest))
    } finally srv.stop()
  }

  test("FileSystem: memory serves a zero-input synthetic cube " +
      "(catalogue + tiles)") {
    // the reference's third FileSystem dispatch arm (context.py:256-277)
    // — an in-memory dataset from a callable, no files on disk at all
    val yaml = """
Datasets:
  - Identifier: mem
    Title: In-memory cube
    FileSystem: memory
    Path: synthetic_cube.py
    Function: synthetic_cube
    InputParameters:
      width: "32"
      height: "16"
      times: "2"
"""
    val dir = java.nio.file.Files.createTempDirectory("graft-mem")
    val f = dir.resolve("config.yml")
    java.nio.file.Files.writeString(f, yaml)
    val ctx = new ServiceContext(spark)
    ctx.loadConfig(ServiceConfig.fromString(
      java.nio.file.Files.readString(f)), dir.toString)
    val d = ctx.dataset("mem").get
    assert(d.cube.grid.width == 32 && d.cube.grid.height == 16)
    assert(d.timeCoords.size == 2)
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): (Int, Array[Byte]) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        (r.statusCode(), r.body())
      }
      val (cc, cat) = get("/datasets")
      assert(cc == 200 && new String(cat).contains("\"id\":\"mem\""))
      assert(get("/datasets/mem/vars/v0/tiles/0/0/0.png")._1 == 200)
      assert(get("/datasets/mem/coords/time")._1 == 200)
    } finally srv.stop()
    // a memory dataset WITHOUT a Function fails loudly, never falls
    // through to the path-open arm
    val bad = ServiceConfig.fromString("""
Datasets:
  - Identifier: m2
    Title: bad
    FileSystem: memory
    Path: whatever.py
""")
    intercept[IllegalArgumentException](
      new ServiceContext(spark).loadConfig(bad, dir.toString))
  }

  test("tile ?time= parses through the dataset's CF calendar; malformed " +
      "values are 400s") {
    // a 360_day catalogue advertises calendar-native labels
    // (2017-02-30 exists) — echoing one back must select the exact
    // step, not 500 on a java.time parse error or drift to a neighbor
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(8, 4, 0.0, 0.0, 1.0, latAscending = true)
    val cal = graft.sources.CfTime
    val us1 = cal.parseIsoUs("2017-02-29T00:00:00Z", Some("360_day"))
    val us2 = cal.parseIsoUs("2017-02-30T00:00:00Z", Some("360_day"))
    val base = Cube.synthetic(spark, grid, 2, Seq("v0"), nanEvery = 1000)
    val Array(t1, t2) = base.df.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0))
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = base.df.withColumn("time",
      when(col("time") === lit(t1),
        lit(graft.cube.Cube.timestampOfMicros(us1)))
        .otherwise(lit(graft.cube.Cube.timestampOfMicros(us2))))
    val cube = base.copy(df = df,
      timeAxis = Some(Seq(us1, us2).map(graft.cube.Cube.timestampOfMicros)),
      timeCalendar = Some("360_day"))
    ctx.register(RegisteredDataset("c360", "C360", cube, None))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): (Int, Array[Byte]) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        (r.statusCode(), r.body())
      }
      // the advertised labels round-trip (timeLabels formats 02-29/02-30)
      assert(ctx.dataset("c360").get.timeLabels ==
        Seq("2017-02-29T00:00:00Z", "2017-02-30T00:00:00Z"))
      val base0 = "/datasets/c360/vars/v0/tiles/0/0/0.png"
      val (cLatest, latest) = get(base0 + "?time=current")
      assert(cLatest == 200)
      val (c30, feb30) = get(base0 + "?time=2017-02-30T00:00:00Z")
      assert(c30 == 200, "advertised 360_day label must parse")
      assert(feb30.sameElements(latest))
      val (c29, feb29) = get(base0 + "?time=2017-02-29T00:00:00Z")
      assert(c29 == 200 && !feb29.sameElements(latest),
        "the two 360_day steps must render distinct tiles")
      // malformed time values are client errors, not 500s
      assert(get(base0 + "?time=not-a-date")._1 == 400)
      assert(get(base0 + "?time=2017-13-99")._1 == 400)
    } finally srv.stop()
  }

  test("time-preserving transforms propagate the CF calendar and axis") {
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(4, 2, 0.0, 0.0, 1.0, latAscending = true)
    val axis = Seq(graft.cube.Cube.timestampOfMicros(16920L * 86400000000L))
    val base = Cube.synthetic(spark, grid, 1, Seq("v0"), nanEvery = 1000)
      .copy(timeAxis = Some(axis), timeCalendar = Some("360_day"))
    ctx.register(RegisteredDataset("c360", "C", base, None))
    // derive_variable, mask_range, rolling_mean keep the axis → both
    // fields must survive (a derived 360_day dataset whose labels
    // format through the standard calendar silently mis-dates)
    for ((fn, params) <- Seq(
        ("derive_variable", Map("name" -> "d", "expr" -> "v0 + 1")),
        ("mask_range", Map("variable" -> "v0", "valid_max" -> "1e9")),
        ("rolling_mean", Map("steps" -> "1")))) {
      ctx.registerComputed(s"t-$fn", "t", fn, Seq("c360"), params)
      val out = ctx.dataset(s"t-$fn").get.cube
      assert(out.timeCalendar.contains("360_day"), fn)
      assert(out.timeAxis.contains(axis), fn)
      // ...and the catalogue labels come out calendar-native
      assert(ctx.dataset(s"t-$fn").get.timeLabels
        == Seq("2017-01-01T00:00:00Z"), fn)
    }
    // merge_cubes: calendars must agree, base axis survives agreement
    ctx.register(RegisteredDataset("c360b", "C2",
      Cube.synthetic(spark, grid, 1, Seq("v1"), nanEvery = 1000)
        .copy(timeAxis = Some(axis), timeCalendar = Some("360_day")), None))
    ctx.registerComputed("tmerge", "t", "merge_cubes",
      Seq("c360", "c360b"), Map.empty)
    assert(ctx.dataset("tmerge").get.cube.timeCalendar.contains("360_day"))
    assert(ctx.dataset("tmerge").get.cube.timeAxis.contains(axis))
    ctx.register(RegisteredDataset("cstd", "S",
      Cube.synthetic(spark, grid, 1, Seq("v2"), nanEvery = 1000), None))
    intercept[IllegalArgumentException](ctx.registerComputed("bad", "b",
      "merge_cubes", Seq("c360", "cstd"), Map.empty))
    // pyramid downsampling is spatial-only → calendar survives levels
    val lvl1 = graft.operators.Pyramid.downsample(base,
      graft.operators.Pyramid.Mean)
    assert(lvl1.timeCalendar.contains("360_day"))
    assert(lvl1.timeAxis.contains(axis))
    // weekly resample is Gregorian weekday arithmetic → loud refusal
    intercept[IllegalArgumentException](
      graft.operators.Resample.weeklyMean(base))
  }

  test("tilegrid, place-group listing, bbox find, WMTS REST tile, ne2") {
    val ctx = demoContext()
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      // ol4 tile-source options (tiles.py:235-259)
      val ol4 = new String(get("/datasets/local/vars/v0/tilegrid").body())
      assert(ol4.contains("\"projection\":\"EPSG:4326\""))
      assert(ol4.contains("\"resolutions\""))
      assert(ol4.contains("/datasets/local/vars/v0/tiles/{z}/{x}/{y}.png"))
      // cesium options (tiles.py:262-285)
      val ces = new String(get("/datasets/local/vars/v0/tilegrid?tiles=cesium").body())
      assert(ces.contains("\"tilingScheme\""))
      assert(ces.contains("\"numberOfLevelZeroTilesX\""))
      assert(get("/datasets/local/vars/v0/tilegrid?tiles=nope").statusCode() == 400)
      // place-group listing
      val groups = new String(get("/places").body())
      assert(groups.contains("\"id\":\"test\""))
      // bbox variant of find-places
      val bb = new String(get("/places/test?bbox=0,0,5,5").body())
      assert(bb.contains("\"id\":1") && !bb.contains("\"id\":3"))
      assert(get("/places/test?bbox=0,0,5,5&geom=POINT(0%200)").statusCode() == 400)
      // WMTS RESTful tile ({z}/{y}/{x} order, app.py:48)
      val tile = get("/wmts/1.0.0/tile/local/v0/0/0/0.png")
      assert(tile.statusCode() == 200 && tile.body().take(4).toSeq ==
        Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      // ne2 tile-source options over the global background grid
      val ne2 = new String(get("/ne2/tilegrid").body())
      assert(ne2.contains("/ne2/tiles/{z}/{x}/{y}.jpg"))
      assert(ne2.contains("\"extent\":[-180,-90,180,90]"))
    } finally srv.stop()
  }

  test("ts info, geometries and places routes (fan-out time series)") {
    val srv = new GraftServer(demoContext()).start()
    try {
      val client = HttpClient.newHttpClient()
      def post(p: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      // GET /ts: one layer per dataset×variable with dates + bounds
      val info = client.send(HttpRequest.newBuilder(
          URI.create(srv.address + "/ts")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(info.statusCode() == 200)
      assert(info.body().contains("\"local.v0\""))
      assert(info.body().contains("\"2017-01-01T00:00:00Z\""))
      assert(info.body().contains("\"xmin\":0"))
      // POST geometries: GeometryCollection → array of result arrays
      val gc = """{"type":"GeometryCollection","geometries":[
        {"type":"Polygon","coordinates":[[[0.5,50.2],[3.5,50.2],[0.5,51.8],[0.5,50.2]]]},
        {"type":"Point","coordinates":[1.2,51.3]}]}"""
      val many = post("/ts/local/v0/geometries", gc)
      assert(many.statusCode() == 200)
      assert(many.body().startsWith("{\"results\":[["))
      assert(many.body().contains("\"totalCount\":1")) // the point series
      // POST places: FeatureCollection → same shape
      val fc = """{"type":"FeatureCollection","features":[
        {"type":"Feature","properties":{},
         "geometry":{"type":"Point","coordinates":[1.2,51.3]}}]}"""
      val viaPlaces = post("/ts/local/v0/places", fc)
      assert(viaPlaces.statusCode() == 200)
      assert(viaPlaces.body().contains("\"validCount\""))
      // startDate/endDate narrow the series
      val narrowed = post("/ts/local/v0/places?startDate=2017-01-02", fc)
      assert(narrowed.statusCode() == 200)
      assert(!narrowed.body().contains("2017-01-01T00:00:00Z"))
      assert(narrowed.body().contains("2017-01-02T00:00:00Z"))
      // invalid body → 400
      assert(post("/ts/local/v0/geometries", "{}").statusCode() == 400)
      // round-17 review finds: body-parse failures and structurally
      // invalid GeoJSON are CLIENT errors (reference
      // get_body_as_json_object → 400), never 500s
      assert(post("/ts/local/v0/geometries", "not json").statusCode()
        == 400, "malformed JSON body must be a 400")
      assert(post("/ts/local/v0/geometries",
        """{"geometries":{"not":"an array"}}""").statusCode() == 400)
      assert(post("/ts/local/v0/places",
        """{"features":[{}]}""").statusCode() == 400,
        "a feature without geometry must be a 400, not an NPE 500")
    } finally srv.stop()
  }

  test("WMTS: equal-sized grids over different extents get DISTINCT " +
      "TileMatrixSets (review r17)") {
    // the dedup key was max-level pixel size only — dataset B with
    // A's dimensions but another bbox linked to A's TileMatrixSet and
    // clients computed B's tiles from A's TopLeftCorner
    val grid1 = CubeGrid(512, 256, -180.0, -90.0, 360.0 / 512,
      latAscending = true)
    val grid2 = CubeGrid(512, 256, 0.0, 40.0, 20.0 / 512,
      latAscending = true)
    val ctx = new ServiceContext(spark)
    ctx.register(RegisteredDataset("wide", "Wide",
      Cube.synthetic(spark, grid1, 1, Seq("v0")), None))
    ctx.register(RegisteredDataset("narrow", "Narrow",
      Cube.synthetic(spark, grid2, 1, Seq("v0")), None))
    val xml = Wmts.capabilitiesXml(ctx, "http://x")
    val links = "<TileMatrixSetLink><TileMatrixSet>([^<]+)".r
      .findAllMatchIn(xml).map(_.group(1)).toSeq
    assert(links.distinct.size == 2,
      s"extent-conflicting grids share a TileMatrixSet: $links")
    // and each advertised set carries ITS OWN origin
    assert(xml.contains("<TopLeftCorner>-180.0 90.0</TopLeftCorner>"))
    assert(xml.contains("<TopLeftCorner>0.0 50.0</TopLeftCorner>"))
    // identifiers with XML metacharacters escape rather than breaking
    // the document
    ctx.register(RegisteredDataset("a&b", "Amp",
      Cube.synthetic(spark, grid2, 1, Seq("v0")), None))
    val xml2 = Wmts.capabilitiesXml(ctx, "http://x")
    assert(!xml2.contains("<ows:Identifier>a&b"),
      "raw & inside an identifier makes the document unparseable")
    assert(xml2.contains("<ows:Identifier>a&amp;b.v0</ows:Identifier>"))
    javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(
        xml2.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  test("places route serves loadGeoJson groups with exact intersects") {
    val geojson = """{
      "type": "FeatureCollection",
      "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [0.5, 0.5]},
         "properties": {"name": "in"}},
        {"type": "Feature",
         "geometry": {"type": "Polygon",
           "coordinates": [[[5,0],[10,5],[5,10],[0,5],[5,0]]]},
         "properties": {"name": "diamond"}},
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [40.0, 40.0]},
         "properties": {"name": "far"}}
      ]}"""
    val f = java.nio.file.Files.createTempFile("grp", ".geojson")
    java.nio.file.Files.writeString(f, geojson)
    val ctx = new ServiceContext(spark)
    ctx.registerPlaces("grp", graft.operators.Places.loadGeoJson(spark, f.toString))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      // query box [0,1]²: contains the first point; overlaps the
      // diamond's bbox but NOT its geometry; excludes the far point
      val r = client.send(HttpRequest.newBuilder(URI.create(srv.address +
          "/places/grp?geom=" + java.net.URLEncoder.encode(
            "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))", "UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.body().contains("\"FeatureCollection\""))
      assert(r.body().contains("\"in\""))
      assert(!r.body().contains("\"diamond\""))
      assert(!r.body().contains("\"far\""))
    } finally srv.stop()
  }

  test("colorbars API serves the catalog JSON and HTML gallery") {
    val srv = new GraftServer(demoContext()).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofString())
      val r = get("/colorbars")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").get == "application/json")
      // reference shape: [[category, description, [[name, png], ...]], ...]
      val body = r.body()
      assert(body.startsWith("[["))
      for (n <- Seq("viridis", "plasma", "RdBu", "Set1", "jet"))
        assert(body.contains("[\"" + n + "\","), s"missing colormap $n")
      // reference-fidelity golden: the catalog lists BASE names only —
      // _alpha variants are registered for rendering, never listed
      // (cmaps.py:186 appends cmap_name, not the _alpha name)
      assert(!body.contains("_alpha"))
      // embedded gradient must decode to a 256×2 PNG
      val png = body.split("\\[\"viridis\",\"")(1).takeWhile(_ != '"')
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(png)))
      assert(img.getWidth == 256 && img.getHeight == 2)
      // _alpha variant still RENDERS: transparent at t=0, opaque at top
      val aPal = graft.render.ColorMaps.palette("viridis_alpha").get
      assert((aPal(0) >>> 24) == 0)
      assert((aPal(255) >>> 24) == 255)
      val html = get("/colorbars.html")
      assert(html.statusCode() == 200 && html.body().contains("<h2>Diverging</h2>"))
    } finally srv.stop()
  }

  test("tile route resolves z to pyramid levels (coarse z ≠ fine z)") {
    val ctx = new ServiceContext(spark)
    // 1024×512 → advertised TileGrid has 2 levels (z=1 full res at 2×1
    // tiles... z=0 half res); the materialized pyramid is finest-first
    val grid = CubeGrid(1024, 512, 0.0, -64.0, 0.25, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 1, Seq("v0"))
    assert(Catalogue.tileGridOf(RegisteredDataset("x", "x", cube, None))
      .numLevels == 2)
    val levels = graft.operators.Pyramid.build(cube, graft.operators.Pyramid.Mean)
    ctx.register(RegisteredDataset("pyr", "Pyramid cube", cube,
      None, levels = levels))
    val srv = new GraftServer(ctx).start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(srv.address + p)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      // z=1 (finest advertised) → level 0; z=0 → level 1 (512-wide)
      val fine = get("/datasets/pyr/vars/v0/tiles/1/0/0.png")
      val coarse = get("/datasets/pyr/vars/v0/tiles/0/0/0.png")
      assert(fine.statusCode() == 200 && coarse.statusCode() == 200)
      assert(fine.body().take(4).toSeq ==
        Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      // the z=0 tile covers twice the extent of the z=1 tile — a
      // z-ignoring handler would return identical bytes
      assert(!java.util.Arrays.equals(fine.body(), coarse.body()))
    } finally srv.stop()
  }

  test("config hot reload re-parses only on mtime change (S9)") {
    val f = java.nio.file.Files.createTempFile("graft-cfg", ".yml")
    java.nio.file.Files.writeString(f, demoYaml)
    val watcher = ServiceConfig.watching(f.toString)
    val c1 = watcher()
    assert(watcher() eq c1) // unchanged mtime → cached instance
    java.nio.file.Files.writeString(f,
      demoYaml.replace("Local cube", "Renamed cube"))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 2000))
    val c2 = watcher()
    assert(c2.dataset("local").get.title == "Renamed cube")
  }

  test("cube ingest: partitioned layout prunes on date and tile range") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cube").toString
    val grid = CubeGrid(64, 32, 0.0, 40.0, 0.1, latAscending = true)
    val cube = Cube.synthetic(spark, grid, numTimes = 3, Seq("v0"))
    CubeIngest.writeCube(cube, s"$dir/cube", tileSize = 16)
    val back = CubeIngest.readCube(spark, s"$dir/cube", grid, Seq("v0"))
    assert(back.df.count() == 64L * 32 * 3)
    // date-partition pruning visible in the file listing
    import org.apache.spark.sql.functions._
    val pruned = back.df.filter(col("p_date") === "2017-01-02")
    assert(pruned.count() == 64L * 32)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(!planStr.contains("p_date#") ||
      planStr.contains("PartitionFilters"))
    // pyramid levels materialize with (n+1)/2 sizes
    val grids = CubeIngest.writeLevels(cube, s"$dir/levels", tileSize = 16)
    assert(grids.map(g => (g.width, g.height)) ==
      Seq((64, 32), (32, 16), (16, 8)))
    val l1 = CubeIngest.readCube(spark, s"$dir/levels/level=1",
      grids(1), Seq("v0"))
    assert(l1.df.count() == 32L * 16 * 3)
    // .link indirection: level 0 resolves to the existing full-res cube
    CubeIngest.writeLevelsLinked(cube, s"$dir/linked", s"$dir/cube",
      tileSize = 16)
    val l0 = CubeIngest.readCube(spark, s"$dir/linked/level=0",
      grids(0), Seq("v0"))
    assert(l0.df.count() == 64L * 32 * 3)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/linked/level=0")))
  }

  test("GET / serves the service info document (reference InfoHandler)") {
    val srv = new GraftServer(new ServiceContext(spark)).start()
    try {
      val client = HttpClient.newHttpClient()
      val r = client.send(
        HttpRequest.newBuilder(URI.create(srv.address + "/")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type")
        .orElse("") == "application/json")
      assert(r.body().contains("\"name\":\"graft\""))
      assert(r.body().contains(
        "\"version\":\"" + GraftServer.Version + "\""))
      assert(r.body().contains("\"description\":"))
    } finally srv.stop()
  }

  test("WMTS capabilities escapes XML metacharacters in titles") {
    val ctx = new ServiceContext(spark)
    val grid = CubeGrid(4, 2, 0.0, 0.0, 1.0, latAscending = true)
    ctx.register(RegisteredDataset("amp", "A & B <Ocean>",
      Cube.synthetic(spark, grid, 1, Seq("v0")), None))
    val xml = Wmts.capabilitiesXml(ctx, "http://x")
    assert(xml.contains("A &amp; B &lt;Ocean&gt;"))
    assert(!xml.contains("A & B <Ocean>"))
    // well-formedness proof: the whole document parses
    javax.xml.parsers.DocumentBuilderFactory.newInstance.newDocumentBuilder
      .parse(new java.io.ByteArrayInputStream(
        xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(Wmts.xmlEsc("a\"b'c") == "a&quot;b&apos;c")
  }

  test("config reload: feature ids stable across reloads, stale entries dropped") {
    def fc(points: (Double, Double)*): String = {
      val feats = points.map { case (x, y) =>
        s"""{"type":"Feature","geometry":{"type":"Point",
           |"coordinates":[$x,$y]},"properties":{}}""".stripMargin
      }
      s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
    }
    val dir = java.nio.file.Files.createTempDirectory("reload-ids")
    java.nio.file.Files.writeString(dir.resolve("a.geojson"), fc((1, 1), (2, 2)))
    java.nio.file.Files.writeString(dir.resolve("b.geojson"), fc((3, 3)))
    def yaml(withB: Boolean) = s"""
PlaceGroups:
  - Identifier: ga
    Title: Group A
    Path: "a.geojson"
${if (withB) "  - Identifier: gb\n    Title: Group B\n    Path: \"b.geojson\"" else ""}
"""
    val ctx = new ServiceContext(spark)
    ctx.loadConfig(ServiceConfig.fromString(yaml(withB = true)), dir.toString)
    def ids(g: String): Seq[Long] =
      ctx.places(g).get.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val (a1, b1) = (ids("ga"), ids("gb"))
    assert(a1 == Seq(1L, 2L) && b1 == Seq(3L))
    // identical config reapplied -> identical ids (the counter resets;
    // pre-fix every reload shifted ids by the previous total)
    ctx.loadConfig(ServiceConfig.fromString(yaml(withB = true)), dir.toString)
    assert(ids("ga") == a1 && ids("gb") == b1)
    // group removed from the config disappears from the registry
    ctx.loadConfig(ServiceConfig.fromString(yaml(withB = false)), dir.toString)
    assert(ctx.places("gb").isEmpty)
    assert(ctx.placeGroupList.map(_._1) == Seq("ga"))
    // a FAILING reload must leave the live registries untouched (the
    // reload thread only logs the error; an emptied context would 404
    // every request until the next valid save)
    val broken = """
PlaceGroups:
  - Identifier: gx
    Path: "a.geojson"
Datasets:
  - Identifier: bad
    Title: Broken
    Path: "no/such/store"
"""
    intercept[Exception] {
      ctx.loadConfig(ServiceConfig.fromString(broken), dir.toString)
    }
    assert(ids("ga") == a1)
    assert(ctx.placeGroupList.map(_._1) == Seq("ga"))
  }

  test("obs Endpoint/Region descriptor keys reach the store's Hadoop conf") {
    // descriptor parse: the reference's obs keys (context.py:218-225)
    val cfg = ServiceConfig.fromString("""
Datasets:
  - Identifier: remote
    Title: Remote cube
    FileSystem: obs
    Endpoint: "http://obs.example.org:9000"
    Region: "eu-central-9"
    Path: "my-bucket/cube.zarr"
""")
    val d = cfg.dataset("remote").get
    assert(d.endpoint.contains("http://obs.example.org:9000"))
    assert(d.region.contains("eu-central-9"))

    // the seam loadConfig drives: configure() must hand the overrides
    // to the HadoopBlobStore the path (and its siblings) resolve to
    graft.sources.BlobStore.configure("file:///graft-obs-test/cube.zarr",
      Map("fs.s3a.endpoint" -> "http://obs.example.org:9000",
        "fs.s3a.endpoint.region" -> "eu-central-9"))
    def hconf(p: String) = graft.sources.BlobStore.forStore(p)
      .asInstanceOf[graft.sources.CachingBlobStore]
      .inner.asInstanceOf[graft.sources.HadoopBlobStore].hadoopConf
    val conf = hconf("file:///graft-obs-test/cube.zarr")
    assert(conf.get("fs.s3a.endpoint") == "http://obs.example.org:9000")
    assert(conf.get("fs.s3a.endpoint.region") == "eu-central-9")
    // the overridden store must bypass Hadoop's global FileSystem
    // cache, which ignores the conf passed to getFileSystem
    assert(conf.get("fs.file.impl.disable.cache") == "true")
    // sibling objects (levels pyramid, .link) inherit the dataset conf
    val sib = hconf("file:///graft-obs-test/cube.zarr.levels")
    assert(sib.get("fs.s3a.endpoint") == "http://obs.example.org:9000")
    // ...and so does the PARENT store that serves the .link probe
    // (readFile splits path -> parent store + file name)
    val parent = hconf("file:///graft-obs-test")
    assert(parent.get("fs.s3a.endpoint") == "http://obs.example.org:9000")
    // the shared session Hadoop conf must NOT be polluted per-store
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint")
      != "http://obs.example.org:9000")
    // a prefix-sharing SIBLING dataset (cube.zarr vs cube.zarr2) must
    // NOT inherit — matching is path/sidecar-boundary checked, not raw
    // startsWith
    assert(graft.sources.BlobStore
      .optionsFor("file:///graft-obs-test/cube.zarr2").isEmpty)
    assert(graft.sources.BlobStore
      .optionsFor("file:///graft-obs-test/cube.zarr.levels/level=0")
      .get("fs.s3a.endpoint").contains("http://obs.example.org:9000"))
    graft.sources.BlobStore.dropAll()
  }
}
