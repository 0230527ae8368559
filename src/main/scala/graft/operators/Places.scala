package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.Geo
import graft.geo.Geo.Pt

/** Feature / place queries (reference J1/J2:
  * xcube_server/controllers/places.py:74-94 — linear scan keeping
  * features whose geometry intersects the query geometry).
  *
  * Spark shape: the query geometry is a broadcast-side literal; a cheap
  * bbox range predicate goes FIRST so Catalyst pushes it into the
  * parquet scan (min/max row-group pruning on the point columns), and
  * the exact geometry test runs only on the survivors.
  */
object Places {

  /** Load a GeoJSON FeatureCollection as a feature DataFrame
    * (reference S7: fiona-read + sequential ids at
    * xcube_server/context.py:350-399). Geometry and properties ride as
    * JSON strings (schema-free, like the reference's dict features);
    * point coordinates are additionally surfaced as x/y columns for
    * pushdown-friendly spatial predicates. */
  def loadGeoJson(spark: org.apache.spark.sql.SparkSession,
                  path: String, idStart: Long = 1L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Driver-side Jackson parse, like the reference's fiona read: place
    // group files are small config-adjacent data, and spark.read.json
    // cannot unify the coordinates schema across mixed geometry types
    // (Point's [x,y] vs Polygon's [[[x,y],...]] collide in inference).
    // Sequential ids in file order starting at idStart (the reference
    // assigns ids from one GLOBAL counter across groups,
    // context.py:383-385); `path` may be a glob over collection files
    // (context.py:378-379).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var id = idStart - 1
    val rows = globFiles(path).flatMap { file =>
      val root = mapper.readTree(java.nio.file.Files.readString(file))
      val feats = root.get("features")
      (0 until feats.size()).map { i =>
        val f = feats.get(i)
        val geom = f.get("geometry")
        val gtype = geom.get("type").asText()
        val (x, y): (Any, Any) =
          if (gtype == "Point") {
            val c = geom.get("coordinates")
            (c.get(0).asDouble(), c.get(1).asDouble())
          } else (null, null)
        id += 1
        Row(id, gtype, geom.toString,
          Option(f.get("properties")).map(_.toString).orNull, x, y)
      }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom_type", StringType),
      StructField("geometry_json", StringType),
      StructField("properties_json", StringType),
      StructField("x", DoubleType),
      StructField("y", DoubleType))))
  }

  /** files matching `path` (literal file, or glob in the last
    * segment), in sorted order for deterministic ids */
  private def globFiles(path: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isRegularFile(p)) Seq(p)
    else {
      val dir = Option(p.getParent).getOrElse(java.nio.file.Paths.get("."))
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val stream = java.nio.file.Files.newDirectoryStream(
          dir, p.getFileName.toString)
        try stream.asScala.toSeq.sortBy(_.toString) finally stream.close()
      }
    }
  }

  /** Keep rows whose (x, y) point lies inside the WKT geometry. */
  def pointsWithinWkt(points: DataFrame, xCol: String, yCol: String,
                      wkt: String): DataFrame = {
    val geom = Geo.parseWkt(wkt)
    val bb = geom.bbox
    val inGeom = udf((x: Double, y: Double) => geom.contains(Pt(x, y)))
    points
      .filter(col(xCol) >= bb.xMin && col(xCol) <= bb.xMax &&
        col(yCol) >= bb.yMin && col(yCol) <= bb.yMax)
      .filter(inGeom(col(xCol), col(yCol)))
  }

  /** Keep rows whose own WKT geometry intersects the query geometry's
    * bbox-split box (reference find_dataset_places, places.py:19-29:
    * query geometry = dataset bounds, possibly antimeridian-split).
    * EXACT shapely-intersects semantics (places.py:88-91): a feature
    * whose bbox overlaps the box but whose geometry doesn't is
    * excluded. */
  def featuresIntersectingBox(features: DataFrame, geomCol: String,
                              lonMin: Double, latMin: Double,
                              lonMax: Double, latMax: Double,
                              geoJson: Boolean = false): DataFrame = {
    val box = Geo.boxSplitGeometry(lonMin, latMin, lonMax, latMax)
    val parse: String => Geo.Geometry =
      if (geoJson) Geo.parseGeoJson else Geo.parseWkt
    // null-tolerant INSIDE the UDF: Spark's UDF contract allows the
    // optimizer to reorder WHERE conjuncts, so an isNotNull filter
    // alone does not guarantee the UDF never sees the null
    val hits = udf((g: String) => g != null && Geo.intersects(parse(g), box))
    features.filter(col(geomCol).isNotNull).filter(hits(col(geomCol)))
  }

  /** Keep features whose GeoJSON geometry intersects the WKT query
    * geometry — the generic FindPlaces predicate (places.py:74-94) over
    * a loadGeoJson frame. The query geometry is closure-captured
    * (broadcast with the task); exact intersects for every type pair. */
  def featuresIntersectingWkt(features: DataFrame, geoJsonCol: String,
                              wkt: String): DataFrame =
    featuresIntersectingGeometry(features, geoJsonCol, Geo.parseWkt(wkt))

  /** Same predicate over an already-parsed query geometry — the funnel
    * every find_places input form (bbox / WKT / posted GeoJSON) reaches
    * (places.py:64-94). */
  def featuresIntersectingGeometry(features: DataFrame, geoJsonCol: String,
                                   query: Geo.Geometry): DataFrame = {
    // null-tolerant inside the UDF (see featuresIntersectingBox: the
    // optimizer may reorder conjuncts past the isNotNull filter)
    val hits = udf((gj: String) =>
      gj != null && Geo.intersects(Geo.parseGeoJson(gj), query))
    features.filter(col(geoJsonCol).isNotNull).filter(hits(col(geoJsonCol)))
  }

  /** Point-frame variant over a parsed geometry. */
  def pointsWithinGeometry(points: DataFrame, xCol: String, yCol: String,
                           geom: Geo.Geometry): DataFrame = {
    val bb = geom.bbox
    val inGeom = udf((x: Double, y: Double) => geom.contains(Pt(x, y)))
    points
      .filter(col(xCol) >= bb.xMin && col(xCol) <= bb.xMax &&
        col(yCol) >= bb.yMin && col(yCol) <= bb.yMax)
      .filter(inGeom(col(xCol), col(yCol)))
  }
}
