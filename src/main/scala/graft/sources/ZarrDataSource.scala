package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 read connector for cube stores — Zarr v2 directories
  * and NetCDF-3 classic files, dispatched by path suffix through
  * [[StoreOps]] (SURVEY S1-S3: the live on-ramp the reference gets
  * from xarray's zarr/netcdf engines, context.py:245-250). One Spark
  * input partition per CHUNK triple (time, y, x) — the chunk-aligned
  * planning of mldataset.py:437-456; a NetCDF variable reads as one
  * chunk per time slice, matching its contiguous layout — so task
  * parallelism and IO granularity follow the store's own layout, the
  * property that keeps reads sequential at 100 TB.
  *
  * Pushdown:
  *  - column pruning reaches the chunk files: a projection of one
  *    variable opens only that variable's chunks (plus the tiny 1-D
  *    coordinate axes);
  *  - time/y_idx/x_idx range predicates prune whole chunks at plan
  *    time (reported via pushedFilters for `.explain`); Spark
  *    re-applies the residual row-level filter after the scan.
  *
  * Relation schema (the long-format cube contract of graft.cube.Cube):
  *   time TIMESTAMP, y_idx INT, x_idx INT, lat DOUBLE, lon DOUBLE,
  *   <var> DOUBLE per 3-D array.
  */
class ZarrDataSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrDataSource.schemaFor(ZarrDataSource.pathOf(options))


  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ZarrTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object ZarrDataSource {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "zarr source requires a 'path' option")
    p
  }

  def schemaFor(path: String): StructType = {
    val ops = StoreOps.forPath(path)
    // extra non-spatial dims (time × depth × y × x …): one DOUBLE
    // coordinate-value column per axis, between time and y_idx. The
    // relation serves the store's largest same-shape variable group
    // (a mixed-rank store registers its majority signature; the rest
    // stay unserved, as pre-extra-dims code silently ignored rank-4).
    val vars = StoreOps.servableVariables(ops)
    val extras = vars.headOption
      .map(v => StoreOps.extraDimNames(ops, v)).getOrElse(Nil)
    StructType(Seq(
      StructField("time", TimestampType, nullable = false)) ++
      extras.map(d => StructField(d, DoubleType, nullable = false)) ++
      Seq(
        StructField("y_idx", IntegerType, nullable = false),
        StructField("x_idx", IntegerType, nullable = false),
        StructField("lat", DoubleType, nullable = false),
        StructField("lon", DoubleType, nullable = false)) ++
      vars.map(v => StructField(v, DoubleType, nullable = false)))
  }

  /** extra-dim column names as declared by a table schema: everything
    * between `time` and `y_idx` */
  private[sources] def extraNamesOf(schema: StructType): Seq[String] =
    schema.fieldNames.drop(1).takeWhile(_ != "y_idx").toSeq
}

class ZarrTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"zarr:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(path, tableSchema)
}

/** index-space bounds extracted from pushed filters (None = unbounded);
  * `extra` holds VALUE-space bounds per extra-dim column — the tile
  * server's `depth = <v>` equality prunes whole chunk planes at plan
  * time, the property that keeps a 4-D cube's tile reads proportional
  * to one plane, not the water column */
private[sources] final case class ZarrBounds(
    tMinUs: Option[Long] = None, tMaxUs: Option[Long] = None,
    yMin: Option[Int] = None, yMax: Option[Int] = None,
    xMin: Option[Int] = None, xMax: Option[Int] = None,
    extra: Map[String, (Option[Double], Option[Double])] = Map.empty)

class ZarrScanBuilder(path: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = tableSchema
  private var bounds = ZarrBounds()
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source field order; an empty projection (count(*)) still
    // needs the cell geometry to emit the right row count
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.filter(collectBound)
    pushed = usable
    filters // everything stays a residual: chunk pruning is coarse
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def toMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case _ => None
  }
  private def toInt(v: Any): Option[Int] = v match {
    case i: Int => Some(i)
    case l: Long => Some(l.toInt)
    case _ => None
  }
  private def toDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case _ => None
  }

  private val extraNames: Set[String] =
    ZarrDataSource.extraNamesOf(tableSchema).toSet

  /** fold a ≥/≤ value bound on an extra-dim column into the bounds
    * (strict bounds relax to inclusive — chunk pruning is a superset
    * selection, the residual row filter settles exactness) */
  private def collectExtra(name: String, v: Any, isMin: Boolean): Boolean =
    toDouble(v).exists { d =>
      val (lo, hi) = bounds.extra.getOrElse(name, (None, None))
      val next =
        if (isMin) (Some(lo.fold(d)(math.max(_, d))), hi)
        else (lo, Some(hi.fold(d)(math.min(_, d))))
      bounds = bounds.copy(extra = bounds.extra + (name -> next))
      true
    }

  /** fold one filter into the bounds; true when it contributed */
  private def collectBound(f: Filter): Boolean = f match {
    case sources.And(l, r) =>
      val a = collectBound(l); val b = collectBound(r); a || b
    case sources.EqualTo(c, v) =>
      collectBound(sources.GreaterThanOrEqual(c, v)) &
        collectBound(sources.LessThanOrEqual(c, v))
    case sources.GreaterThanOrEqual("time", v) =>
      toMicros(v).exists { m => bounds = bounds.copy(
        tMinUs = Some(bounds.tMinUs.fold(m)(math.max(_, m)))); true }
    case sources.GreaterThan("time", v) => collectBound(
      sources.GreaterThanOrEqual("time", v))
    case sources.LessThanOrEqual("time", v) =>
      toMicros(v).exists { m => bounds = bounds.copy(
        tMaxUs = Some(bounds.tMaxUs.fold(m)(math.min(_, m)))); true }
    case sources.LessThan("time", v) => collectBound(
      sources.LessThanOrEqual("time", v))
    case sources.GreaterThanOrEqual("y_idx", v) =>
      toInt(v).exists { i => bounds = bounds.copy(
        yMin = Some(bounds.yMin.fold(i)(math.max(_, i)))); true }
    case sources.GreaterThan("y_idx", v) => toInt(v).exists { i =>
      bounds = bounds.copy(
        yMin = Some(bounds.yMin.fold(i + 1)(math.max(_, i + 1)))); true }
    case sources.LessThanOrEqual("y_idx", v) =>
      toInt(v).exists { i => bounds = bounds.copy(
        yMax = Some(bounds.yMax.fold(i)(math.min(_, i)))); true }
    case sources.LessThan("y_idx", v) => toInt(v).exists { i =>
      bounds = bounds.copy(
        yMax = Some(bounds.yMax.fold(i - 1)(math.min(_, i - 1)))); true }
    case sources.GreaterThanOrEqual("x_idx", v) =>
      toInt(v).exists { i => bounds = bounds.copy(
        xMin = Some(bounds.xMin.fold(i)(math.max(_, i)))); true }
    case sources.GreaterThan("x_idx", v) => toInt(v).exists { i =>
      bounds = bounds.copy(
        xMin = Some(bounds.xMin.fold(i + 1)(math.max(_, i + 1)))); true }
    case sources.LessThanOrEqual("x_idx", v) =>
      toInt(v).exists { i => bounds = bounds.copy(
        xMax = Some(bounds.xMax.fold(i)(math.min(_, i)))); true }
    case sources.LessThan("x_idx", v) => toInt(v).exists { i =>
      bounds = bounds.copy(
        xMax = Some(bounds.xMax.fold(i - 1)(math.min(_, i - 1)))); true }
    case sources.GreaterThanOrEqual(c, v) if extraNames(c) =>
      collectExtra(c, v, isMin = true)
    case sources.GreaterThan(c, v) if extraNames(c) =>
      collectExtra(c, v, isMin = true)
    case sources.LessThanOrEqual(c, v) if extraNames(c) =>
      collectExtra(c, v, isMin = false)
    case sources.LessThan(c, v) if extraNames(c) =>
      collectExtra(c, v, isMin = false)
    case _ => false
  }

  override def build(): Scan = new ZarrScan(path, tableSchema, required,
    bounds)
}

/** one store chunk: its chunk-grid index per dimension (rank 3 =
  * (time, y, x); rank 4 = (time, extra, y, x); …) */
private[sources] final case class ZarrInputPartition(idx: Seq[Int])
    extends InputPartition

class ZarrScan(path: String, tableSchema: StructType,
               required: StructType, bounds: ZarrBounds)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val b = (Seq(
      bounds.tMinUs.map(t => s"time>=$t"), bounds.tMaxUs.map(t => s"time<=$t"),
      bounds.yMin.map(y => s"y_idx>=$y"), bounds.yMax.map(y => s"y_idx<=$y"),
      bounds.xMin.map(x => s"x_idx>=$x"), bounds.xMax.map(x => s"x_idx<=$x"))
      .flatten ++
      bounds.extra.toSeq.sortBy(_._1).flatMap { case (n, (lo, hi)) =>
        lo.map(v => s"$n>=$v") ++ hi.map(v => s"$n<=$v")
      }).mkString(", ")
    s"ZarrScan path=$path chunkPruning=[$b]"
  }

  private lazy val ops = StoreOps.forPath(path)
  private lazy val vars = StoreOps.servableVariables(ops)
  private lazy val projectedVars =
    vars.filter(required.fieldNames.contains)
  /** chunk geometry comes from the first data array; all arrays must
    * share it (the store contract). Per-variable metas still matter:
    * dtype, fill and CF attributes are PER ARRAY (one packed int16
    * variable next to an unpacked f8 one is normal), so each readChunk
    * gets its own meta, not the geometry carrier's. */
  private lazy val meta = ops.arrayMeta(
    projectedVars.headOption.getOrElse(vars.head))
  private lazy val metas: Map[String, ZarrStore.ArrayMeta] =
    projectedVars.map(v => v -> ops.arrayMeta(v)).toMap
  private lazy val timeUs = ops.read1dLongs("time")
  // extra-dim axis names + coordinate values (axis k of rank-r shape =
  // extraAxes(k - 1), dims 0 / r-2 / r-1 being time / y / x)
  private lazy val extraAxes: Seq[(String, Array[Double])] =
    ZarrDataSource.extraNamesOf(tableSchema).map(n => n -> ops.read1d(n))

  override def planInputPartitions(): Array[InputPartition] = {
    metas.foreach { case (v, m) =>
      require(m.shape == meta.shape && m.chunks == meta.chunks,
        s"variable $v chunking ${m.chunks} differs from ${meta.chunks}")
    }
    val rank = meta.shape.length
    require(rank == 3 + extraAxes.length,
      s"rank $rank does not match ${extraAxes.length} declared extra dims")
    // per-dimension surviving chunk indices, then their cartesian
    // product — pruning composes across dims (one time step × one
    // depth plane × a tile's y/x chunks at serving time)
    val perDim: Seq[Seq[Int]] = (0 until rank).map { d =>
      val (n, c) = (meta.shape(d), meta.chunks(d))
      val nChunks = (n + c - 1) / c
      (0 until nChunks).filter { ci =>
        val lo = ci * c
        val hi = math.min(n, (ci + 1) * c) - 1
        if (d == 0) {
          // the time axis need not be ascending (CF axes can be
          // reversed, and StoreCache.timeAxis handles even unsorted
          // ones with a linear scan): test the chunk's actual time
          // slice like the extra-dim branch below — endpoint-only
          // bounds would silently prune matching chunks on a
          // descending axis. timeUs is already in memory; the scan is
          // O(axis length) once per plan.
          (lo to hi).exists(i =>
            bounds.tMinUs.forall(timeUs(i) >= _) &&
              bounds.tMaxUs.forall(timeUs(i) <= _))
        } else if (d == rank - 2)
          rangeOverlaps(lo, hi, bounds.yMin, bounds.yMax)
        else if (d == rank - 1)
          rangeOverlaps(lo, hi, bounds.xMin, bounds.xMax)
        else bounds.extra.get(extraAxes(d - 1)._1).forall {
          case (vLo, vHi) =>
            // coordinate axes need not be sorted — scan the slice
            val coords = extraAxes(d - 1)._2
            (lo to hi).exists(i =>
              vLo.forall(coords(i) >= _) && vHi.forall(coords(i) <= _))
        }
      }.toSeq
    }
    perDim.foldLeft(Seq(Seq.empty[Int]))((acc, cs) =>
      acc.flatMap(p => cs.map(c => p :+ c)))
      .map(ZarrInputPartition(_)).toArray[InputPartition]
  }

  private def rangeOverlaps(lo: Int, hi: Int, min: Option[Int],
                            max: Option[Int]): Boolean =
    min.forall(hi >= _) && max.forall(lo <= _)

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrReaderFactory(ops, required, meta, metas, projectedVars, timeUs,
      extraAxes, ops.read1d("lat"), ops.read1d("lon"))
}

class ZarrReaderFactory(ops: StoreOps, required: StructType,
                        meta: ZarrStore.ArrayMeta,
                        metas: Map[String, ZarrStore.ArrayMeta],
                        vars: Seq[String],
                        timeUs: Array[Long],
                        extraAxes: Seq[(String, Array[Double])],
                        lat: Array[Double],
                        lon: Array[Double])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val zp = p.asInstanceOf[ZarrInputPartition]
    new ZarrPartitionReader(ops, required, meta, metas, vars, timeUs,
      extraAxes, lat, lon, zp)
  }
}

class ZarrPartitionReader(ops: StoreOps, required: StructType,
                          meta: ZarrStore.ArrayMeta,
                          metas: Map[String, ZarrStore.ArrayMeta],
                          vars: Seq[String],
                          timeUs: Array[Long],
                          extraAxes: Seq[(String, Array[Double])],
                          lat: Array[Double],
                          lon: Array[Double], part: ZarrInputPartition)
    extends PartitionReader[InternalRow] {

  private val rank = meta.shape.length
  private val chunks = meta.chunks.toArray
  // chunk extent clipped to the array shape (zarr edge chunks pad)
  private val base = Array.tabulate(rank)(d => part.idx(d) * chunks(d))
  private val lens = Array.tabulate(rank)(d =>
    math.min(chunks(d), meta.shape(d) - base(d)))

  private val chunkData: Map[String, Array[Double]] = vars.map(v =>
    v -> ops.readChunk(v, metas.getOrElse(v, meta), part.idx)).toMap

  private val axisOf: Map[String, Int] =
    extraAxes.zipWithIndex.map { case ((n, _), k) => n -> (k + 1) }.toMap

  // field emitters resolved once (projection order = required order):
  // loc = per-dim local coords, off = row-major offset over CHUNK dims
  private val emitters: Array[(Array[Int], Int) => Any] =
    required.fields.map { f =>
      f.name match {
        case "time" => (loc: Array[Int], _: Int) => timeUs(base(0) + loc(0))
        case "y_idx" => (loc: Array[Int], _: Int) =>
          base(rank - 2) + loc(rank - 2)
        case "x_idx" => (loc: Array[Int], _: Int) =>
          base(rank - 1) + loc(rank - 1)
        case "lat" => (loc: Array[Int], _: Int) =>
          lat(base(rank - 2) + loc(rank - 2))
        case "lon" => (loc: Array[Int], _: Int) =>
          lon(base(rank - 1) + loc(rank - 1))
        case n if axisOf.contains(n) =>
          val d = axisOf(n)
          val coords = extraAxes(d - 1)._2
          (loc: Array[Int], _: Int) => coords(base(d) + loc(d))
        case v =>
          val data = chunkData(v)
          (_: Array[Int], off: Int) => data(off)
      }
    }

  private var i = -1L
  private val n = lens.foldLeft(1L)(_ * _)
  private val loc = new Array[Int](rank)
  private val row = new GenericInternalRow(required.length)

  override def next(): Boolean = { i += 1; i < n }

  override def get(): InternalRow = {
    // decompose the row counter into per-dim local coords (row-major
    // over the VALID lens), then the offset over the full chunk dims
    var rem = i
    var d = rank - 1
    while (d >= 0) {
      loc(d) = (rem % lens(d)).toInt
      rem /= lens(d)
      d -= 1
    }
    var off = 0
    d = 0
    while (d < rank) { off = off * chunks(d) + loc(d); d += 1 }
    var k = 0
    while (k < emitters.length) {
      row.update(k, emitters(k)(loc, off))
      k += 1
    }
    row
  }

  override def close(): Unit = ()
}
