package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType}

/** Direct tile-window reads over graft's OWN ingested parquet layout
  * (SURVEY X5/X6; `CubeIngest.writeCube`) — the materialized-levels
  * analogue of [[StoreWindow]]: a 256×256 window is one footer probe +
  * ~one filtered row group, decoded on the serving thread with
  * parquet-mr column readers, no Spark job. Store-backed zarr/NC cubes
  * already served at ~20 ms via direct chunk reads while graft-ingested
  * pyramids still paid Spark's ~0.3 s ad-hoc job floor per interactive
  * tile (the reference's whole serving surface is this fast path,
  * im/tiledimage.py:859-874).
  *
  * Pruning relies on the ingest layout's own guarantees:
  *  - `p_date=<date>` partition dirs → only the request's date is
  *    listed/opened (partition pruning by path);
  *  - rows sorted by (tile_y, tile_x, y_idx, x_idx) → the y_idx/x_idx
  *    range predicate prunes row groups via footer min/max stats and
  *    pages via the column index (`readNextFilteredRowGroup`), exactly
  *    what the Spark scan would do — re-expressed without the job.
  *
  * Decoding bypasses example-Group record assembly (measured 110 ms for
  * a 64k-row window — object churn, not IO) for raw [[ColumnReadStoreImpl]]
  * primitive reads (~10× less). Page-level pruning returns a SUPERSET
  * of matching rows, so every predicate (y/x range, time equality) is
  * re-applied per row here — correctness never depends on how much the
  * index pruned.
  *
  * Values come out bit-identical to the Spark path by construction:
  * same parquet decoder lineage, same double bits, nulls (masked cells)
  * left as the NaN the renderer initializes.
  */
private[graft] object ParquetWindow {

  private val DayUs = 86400000000L

  private final case class FileMeta(schema: MessageType, createdBy: String,
    footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)

  /** Ingest-layout geometry from `_graft_meta.json` (layout ≥ 2 only —
    * the marker `CubeIngest.writeCube` stamps once its sort order is
    * trustworthy): grid dims, tile size, the row offset of each
    * (tile_y, tile_x) block in file order, and the extra non-spatial
    * dims (name → coordinate values) a 4-D ingest recorded. */
  private final case class StoreMeta(width: Int, height: Int,
      tileSize: Int, tilesX: Int, blockOffsets: Array[Long],
      extraDims: Seq[(String, Seq[Double])] = Nil) {
    /** rows of one (time, extra-dims…) plane */
    def planeRows: Long = width.toLong * height
    def planeCount: Long = extraDims.map(_._2.length.toLong).product
    /** Row offset of the plane holding the selected extra-dim values
      * within one time step's run: the ingest sorts by the extra-dim
      * COLUMNS ascending (between time and the tile id), so planes lie
      * in lexicographic (sorted d1, sorted d2, …) order. None when a
      * value is not on its axis. */
    def planeRank(sel: Seq[Double]): Option[Long] = {
      var rank = 0L
      extraDims.zip(sel).foreach { case ((_, values), v) =>
        val sorted = values.sorted
        val pos = sorted.indexOf(v)
        if (pos < 0) return None
        rank = rank * values.length + pos
      }
      Some(rank)
    }
  }

  // Every memo below is keyed by the store path first and dropped by
  // [[StoreCache.invalidate]] of that path.
  private val storeMetas = StoreCache.memo[String, Option[StoreMeta]](identity)

  // sidecar extraDims parsed INDEPENDENTLY of StoreMeta validity: the
  // 4-D refusal guard must hold even for stores whose layout/tileSize
  // fails the StoreMeta parse (else an extra=Nil read on a degenerate
  // 4-D sidecar would silently overlay every plane)
  private val sidecarExtras =
    StoreCache.memo[String, Seq[(String, Seq[Double])]](identity)

  private def parseExtraDims(n: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, Seq[Double])] =
    Option(n.get("extraDims")).map(e =>
      (0 until e.size()).map { i =>
        val d = e.get(i)
        d.get("name").asText() ->
          (0 until d.get("values").size())
            .map(d.get("values").get(_).asDouble()).toSeq
      }.toSeq).getOrElse(Nil)

  private def extrasOf(path: String): Seq[(String, Seq[Double])] =
    sidecarExtras.getOrLoad(path)(
      BlobStore.forStore(path).read("_graft_meta.json").map { b =>
        try parseExtraDims(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new String(b, java.nio.charset.StandardCharsets.UTF_8)))
        catch { case scala.util.control.NonFatal(_) => Nil }
      }.getOrElse(Nil))


  private def storeMeta(path: String): Option[StoreMeta] =
    storeMetas.getOrLoad(path)(
      BlobStore.forStore(path).read("_graft_meta.json").flatMap { b =>
        try {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(new String(b, java.nio.charset.StandardCharsets.UTF_8))
          val layout = Option(n.get("layout")).map(_.asInt).getOrElse(1)
          val ts = Option(n.get("tileSize")).map(_.asInt).getOrElse(0)
          val g = n.get("grid")
          val extras = parseExtraDims(n)
          if (layout < 2 || ts <= 0 || g == null) None
          else {
            val w = g.get("width").asInt()
            val h = g.get("height").asInt()
            val tilesX = (w + ts - 1) / ts
            val tilesY = (h + ts - 1) / ts
            val offs = new Array[Long](tilesY * tilesX + 1)
            var acc = 0L
            var i = 0
            var ty = 0
            while (ty < tilesY) {
              var tx = 0
              while (tx < tilesX) {
                offs(i) = acc
                acc += math.min(ts, h - ty * ts).toLong *
                  math.min(ts, w - tx * ts)
                i += 1
                tx += 1
              }
              ty += 1
            }
            offs(i) = acc
            Some(StoreMeta(w, h, ts, tilesX, offs, extras))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      })

  // per-date-dir part-file listing and per-file footer, keyed (store,
  // dir) and (store, file): probed once, served per tile
  private val fileLists = StoreCache.memo[(String, String), Seq[Path]](_._1)
  private val metas = StoreCache.memo[(String, String), FileMeta](_._1)

  // pooled open readers for the dense path: ParquetFileReader.open
  // costs ~10 ms even with a cached footer (codec/stream/allocator
  // setup) — random-access readFilteredRowGroup needs no cursor, so
  // one long-lived reader per file and variable serves every tile.
  // Access is serialized per reader (decompressors are not
  // thread-safe).
  //
  // Bounded at [[ReaderPoolCap]] readers: a long-running tile server
  // over a daily-partitioned multi-year store would otherwise keep one
  // open fd per part file ever served until EMFILE. An evicted reader
  // (or one that lost an open race) is closed under ITS OWN monitor,
  // outside the pool lock: in-flight reads hold that monitor, so a
  // read always finishes on an open reader, and readers re-check pool
  // membership inside it and re-acquire if they lost the race. Closing
  // costs the next request on that file one ~10 ms reopen.
  //
  // Keyed by (store, file, variable): parquet-mr builds a row group's
  // column index store once, for the columns requested FIRST, and
  // keeps it — a reader switched to another variable by
  // setRequestedSchema finds no offset index for it and
  // readFilteredRowGroup throws.
  private[graft] var ReaderPoolCap = 128 // var: test seam only
  private type ReaderKey = (String, String, String)
  private val readers = StoreCache.memo[ReaderKey, ParquetFileReader](_._1,
    ReaderPoolCap, release = rd => rd.synchronized {
      try rd.close() catch { case scala.util.control.NonFatal(_) => () }
    })
  // offset index per (store, file, column), None when the file has
  // none — one footer-section parse; parsed DATA (not an open
  // resource), so it survives reader eviction and a reopened reader
  // reuses it
  private val offsetIndexes = StoreCache.memo[ReaderKey, Option[
    org.apache.parquet.internal.column.columnindex.OffsetIndex]](_._1)

  /** get-or-open the pooled reader for `key` */
  private def acquireReader(key: ReaderKey, file: Path,
                            conf: Configuration,
                            fm: FileMeta): ParquetFileReader =
    readers.getOrLoad(key) {
      val in = HadoopInputFile.fromPath(file, conf)
      ParquetFileReader.open(in, fm.footer,
        HadoopReadOptions.builder(conf).build(), in.newStream())
    }

  /** test seam: the file path of each pooled open reader */
  private[graft] def pooledReaderPaths: Seq[String] =
    readers.keys.map(_._2)

  // memoized per store: a fresh Configuration lazily re-parses the
  // Hadoop XML defaults on first use (~10-20 ms) — constructing one
  // per tile request silently dominated the whole read. Read options
  // are built from it too: `ParquetReadOptions.builder()` makes its
  // own fresh Configuration, so it would pay that parse per read.
  private val confs = StoreCache.memo[String, Configuration](identity)

  private def hadoopConf(path: String): Configuration =
    confs.getOrLoad(path) {
      val c = new Configuration()
      BlobStore.optionsFor(path).foreach { case (k, v) => c.set(k, v) }
      c
    }

  private def listParquet(dir: String, conf: Configuration): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
  }

  /** Time axis from footer statistics alone — no Spark job, no data
    * pages: Some(sorted distinct epoch-us) when every row group of
    * every date file pins its INT64 time column (min == max, the
    * layout-2 one-step-per-row-group norm); None otherwise (caller
    * falls back to a distinct scan). Registration of a parquet store
    * then costs footer reads (cached, needed for tile serving anyway)
    * instead of a cluster job. */
  def statsTimeAxis(path: String): Option[Seq[Long]] = {
    val conf = hadoopConf(path)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val dateDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("p_date="))
    if (dateDirs.isEmpty) return None
    import scala.jdk.CollectionConverters._
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    dateDirs.foreach { d =>
      fs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          val fm = fileMeta(path, f.getPath, conf)
          val ti = try fm.schema.getFieldIndex("time")
            catch { case _: Exception => return None }
          val tf = fm.schema.getFields.get(ti)
          if (!tf.isPrimitive) return None
          val unit = tf.asPrimitiveType().getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit
            case _ if tf.asPrimitiveType().getPrimitiveTypeName ==
              PrimitiveType.PrimitiveTypeName.INT64 => null // bare us
            case _ => return None // INT96 etc: no usable stats
          }
          fm.footer.getBlocks.asScala.foreach { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == "time").getOrElse(return None)
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue ||
                st.getNumNulls > 0 || st.genericGetMin != st.genericGetMax)
              return None
            val raw = st.genericGetMin.asInstanceOf[java.lang.Long]
              .longValue()
            times += (unit match {
              case null => raw
              case LogicalTypeAnnotation.TimeUnit.MICROS => raw
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS =>
                Math.floorDiv(raw, 1000L)
            })
          }
        }
    }
    if (times.isEmpty) None else Some(times.distinct.sorted.toSeq)
  }

  /** The cell window [y0, y0+h) × [x0, x0+w) of `variable` at `timeUs`
    * — and, for 4-D stores, at the extra-dim plane selected by `extra`
    * (name → coordinate value, in sidecar dim order) — row-major with
    * NaN padding: the value layout the Spark tile path collects. None
    * when the store has no partition dir for the date, or when the
    * request's extra dims don't match the sidecar's (caller falls back
    * to the Spark path). */
  def readWindow(path: String, variable: String, timeUs: Long,
                 y0: Int, x0: Int, h: Int, w: Int,
                 extra: Seq[(String, Double)] = Nil)
      : Option[Array[Double]] = {
    // the request must name exactly the dims the store was ingested
    // with (same order) AND values that exist on their axes: anything
    // else refuses (None → Spark path) — a mismatched request must
    // never overlay planes, and an off-axis value must not serve a
    // silently-blank Some (the chunked-store path refuses likewise)
    val declared = extrasOf(path)
    if (declared.map(_._1) != extra.map(_._1)) return None
    if (declared.zip(extra).exists { case ((_, values), (_, v)) =>
        !values.contains(v) }) return None
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(timeUs, DayUs))
    val dateDir = s"$path/p_date=$date"
    val conf = hadoopConf(path)
    val files =
      fileLists.getOrLoad((path, dateDir))(listParquet(dateDir, conf))
    if (files.isEmpty) return None
    val out = NanArray(h * w)
    files.foreach(f =>
      readFile(path, f, conf, variable, timeUs, extra, y0, x0, h, w, out))
    Some(out)
  }

  /** `file`'s footer, read once per (store, file) */
  private def fileMeta(storePath: String, file: Path,
                       conf: Configuration): FileMeta =
    metas.getOrLoad((storePath, file.toString)) {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try FileMeta(r.getFooter.getFileMetaData.getSchema,
        r.getFooter.getFileMetaData.getCreatedBy, r.getFooter)
      finally r.close()
    }

  private def readFile(storePath: String, file: Path, conf: Configuration,
                       variable: String, timeUs: Long,
                       extra: Seq[(String, Double)],
                       y0: Int, x0: Int, h: Int, w: Int,
                       out: Array[Double]): Unit = {
    val fm = fileMeta(storePath, file, conf)
    // (getFields route: GroupType.getType(String) is overload-ambiguous
    // from Scala against MessageType.getType(String*))
    def field(n: String): org.apache.parquet.schema.Type =
      fm.schema.getFields.get(fm.schema.getFieldIndex(n))
    val timeField = field("time").asPrimitiveType()
    val proj = new MessageType("spark_schema", (Seq(field("time")) ++
      extra.map(e => field(e._1)) ++
      Seq(field("y_idx"), field("x_idx"), field(variable))): _*)
    var pred: FilterPredicate = FilterApi.and(
      FilterApi.and(
        FilterApi.gtEq(FilterApi.intColumn("y_idx"), Int.box(y0)),
        FilterApi.ltEq(FilterApi.intColumn("y_idx"), Int.box(y0 + h - 1))),
      FilterApi.and(
        FilterApi.gtEq(FilterApi.intColumn("x_idx"), Int.box(x0)),
        FilterApi.ltEq(FilterApi.intColumn("x_idx"), Int.box(x0 + w - 1))))
    // one equality per extra dim selects the plane — stats + column
    // index prune row groups/pages of other planes (the layout sorts
    // extra dims between time and the tile id, so planes are
    // contiguous runs with tight min/max)
    extra.foreach { case (n, v) =>
      pred = FilterApi.and(pred,
        FilterApi.eq(FilterApi.doubleColumn(n), Double.box(v)))
    }
    // INT64 timestamps also filter at the index level (stats +
    // dictionary prune); legacy INT96 has no usable stats
    val timeIsInt96 = timeField.getPrimitiveTypeName ==
      PrimitiveType.PrimitiveTypeName.INT96
    val rawTime: Long =
      if (timeIsInt96) 0L
      else rawTimeValue(timeField, timeUs) match {
        case Some(raw) =>
          pred = FilterApi.and(pred,
            FilterApi.eq(FilterApi.longColumn("time"), Long.box(raw)))
          raw
        case None => return // time not representable in this file's unit
      }
    // every row group's time stats pinned to exactly the requested
    // step (the typical one-step-per-day partition): the time column
    // need not be read at all — the predicate still guards correctness
    // when stats are absent (INT96) or spans are wider
    val timeUniform = !timeIsInt96 && {
      import scala.jdk.CollectionConverters._
      fm.footer.getBlocks.asScala.forall { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "time").exists {
          c =>
            val st = c.getStatistics
            st != null && !st.isEmpty && st.hasNonNullValue &&
              st.getNumNulls == 0 &&
              st.genericGetMin == java.lang.Long.valueOf(rawTime) &&
              st.genericGetMax == java.lang.Long.valueOf(rawTime)
        }
      }
    }
    // DENSE fast path: when the layout marker guarantees the sort
    // order, the time is pinned by stats, and the file holds exactly
    // one full grid (rows == W×H with unique (t,y,x) ⇒ dense), the
    // global row index alone determines the cell — decode ONLY the
    // value column, no y/x/time reads at all (~3× fewer column-reader
    // ops per row than the generic loop)
    val totalRows = {
      import scala.jdk.CollectionConverters._
      fm.footer.getBlocks.asScala.map(_.getRowCount).sum
    }
    // single row group only: with one group, positions are row indexes
    // even when no page was filtered (absent row-index iterator); a
    // multi-group file keeps the generic path rather than guess bases.
    // 4-D stores stay dense too: the sort puts each extra-dim plane in
    // one contiguous planeRows-sized run (lexicographic by sorted
    // coordinate values), so the selected plane is a row-offset shift.
    val sm = storeMeta(storePath)
    val planeBase: Option[Long] = sm.flatMap { m =>
      if (totalRows != m.planeRows * m.planeCount) None
      else m.planeRank(extra.map(_._2)).map(_ * m.planeRows)
    }
    val dense = timeUniform && fm.footer.getBlocks.size() == 1 &&
      planeBase.isDefined
    if (dense && readFileDense(storePath, file, conf, fm, sm.get, variable,
        planeBase.get, y0, x0, h, w, out))
      return
    val opts = HadoopReadOptions.builder(conf)
      .withRecordFilter(FilterCompat.get(pred))
      .build() // stats/dictionary/column-index filters all default on
    val in = HadoopInputFile.fromPath(file, conf)
    // cached footer: no per-request footer IO/parse
    val r = ParquetFileReader.open(in, fm.footer, opts, in.newStream())
    try {
      r.setRequestedSchema(proj)
      var pages = r.readNextFilteredRowGroup()
      while (pages != null) {
        val n = pages.getRowCount
        if (n > 0) {
          val crs = new ColumnReadStoreImpl(pages,
            new GroupRecordConverter(proj).getRootConverter, proj,
            fm.createdBy)
          val cols = proj.getColumns
          val ne = extra.length
          val tr = if (timeUniform) null else crs.getColumnReader(cols.get(0))
          val ers = Array.tabulate(ne)(k =>
            crs.getColumnReader(cols.get(1 + k)))
          val yr = crs.getColumnReader(cols.get(1 + ne))
          val xr = crs.getColumnReader(cols.get(2 + ne))
          val vr = crs.getColumnReader(cols.get(3 + ne))
          val tDef = cols.get(0).getMaxDefinitionLevel
          val eDefs = Array.tabulate(ne)(k =>
            cols.get(1 + k).getMaxDefinitionLevel)
          val yDef = cols.get(1 + ne).getMaxDefinitionLevel
          val xDef = cols.get(2 + ne).getMaxDefinitionLevel
          val vDef = cols.get(3 + ne).getMaxDefinitionLevel
          var i = 0L
          while (i < n) {
            val tOk = timeUniform || (tr.getCurrentDefinitionLevel == tDef && {
              if (timeIsInt96) int96Us(tr.getBinary) == timeUs
              else tr.getLong == rawTime
            })
            // EVERY present value must be read before consume():
            // ColumnReaderImpl does not skip unread values, so a
            // conditional read desynchronizes the column streams
            var eOk = true
            var k = 0
            while (k < ne) {
              val hasE = ers(k).getCurrentDefinitionLevel == eDefs(k)
              val ev = if (hasE) ers(k).getDouble else Double.NaN
              if (!hasE || ev != extra(k)._2) eOk = false
              k += 1
            }
            val hasY = yr.getCurrentDefinitionLevel == yDef
            val y = if (hasY) yr.getInteger else -1
            val hasX = xr.getCurrentDefinitionLevel == xDef
            val x = if (hasX) xr.getInteger else -1
            val hasV = vr.getCurrentDefinitionLevel == vDef
            val v = if (hasV) vr.getDouble else Double.NaN
            // null (masked) cells keep the NaN the window initializes —
            // identical to the Spark path's null handling
            if (tOk && eOk && hasY && hasX && hasV &&
                y >= y0 && y < y0 + h && x >= x0 && x < x0 + w)
              out((y - y0) * w + (x - x0)) = v
            if (tr != null) tr.consume()
            k = 0
            while (k < ne) { ers(k).consume(); k += 1 }
            yr.consume(); xr.consume(); vr.consume()
            i += 1
          }
        }
        pages = r.readNextFilteredRowGroup()
      }
    } finally r.close()
  }

  /** Dense single-grid, single-row-group file: decode the value column
    * only, mapping each row's row index through the block-offset table
    * to its (y, x). Page pruning is done HERE from the offset index
    * (select the pages whose row span intersects the window's tile
    * blocks, `RowRanges.create`) rather than via a filter predicate —
    * predicate columns outside the requested schema evaluate as
    * missing (= empty ranges), and the whole point of this path is to
    * request ONLY the value column. */
  /** returns false when the file lacks what the fast path needs (no
    * offset index / unknown column) — the caller then runs the generic
    * reader instead of serving an empty window */
  private def readFileDense(storePath: String, file: Path,
                            conf: Configuration, fm: FileMeta,
                            m: StoreMeta, variable: String,
                            planeBase: Long,
                            y0: Int, x0: Int, h: Int, w: Int,
                            out: Array[Double]): Boolean = {
    import scala.jdk.CollectionConverters._
    val proj = new MessageType("spark_schema",
      fm.schema.getFields.get(fm.schema.getFieldIndex(variable)))
    val ts = m.tileSize
    val tyLo = math.max(y0, 0) / ts
    val tyHi = math.min(y0 + h - 1, m.height - 1) / ts
    val txLo = math.max(x0, 0) / ts
    val txHi = math.min(x0 + w - 1, m.width - 1) / ts
    if (tyLo > tyHi || txLo > txHi) return true
    // row intervals of the tile blocks the window touches, shifted to
    // the selected extra-dim plane's contiguous run
    val wanted = (for (ty <- tyLo to tyHi; tx <- txLo to txHi) yield {
      val bi = ty * m.tilesX + tx
      (planeBase + m.blockOffsets(bi),
        planeBase + m.blockOffsets(bi + 1) - 1)
    }).sorted
    val block = fm.footer.getBlocks.get(0)
    val rowCount = block.getRowCount
    val vChunk = block.getColumns.asScala
      .find(_.getPath.toDotString == variable).orNull
    if (vChunk == null) return false
    // serialize per file: the pooled reader's stream/decompressors are
    // stateful; decompressed pages are consumed inside the lock too.
    // Membership is re-checked INSIDE the monitor: an evictor removes
    // from the pool first and only closes under this monitor, so a
    // reader still pooled while we hold its lock cannot be closed
    // under us; one that lost the race (evicted between acquire and
    // lock — needs 128 other files touched in that window) is simply
    // re-acquired.
    val key = (storePath, file.toString, variable)
    val r = acquireReader(key, file, conf, fm)
    r.synchronized {
      if (!readers.holds(key, r))
        return readFileDense(storePath, file, conf, fm, m, variable,
          planeBase, y0, x0, h, w, out)
      r.setRequestedSchema(proj)
      val oi = offsetIndexes.getOrLoad(key)(Option(r.readOffsetIndex(vChunk)))
        .getOrElse(return false) // no offset index: generic path
      def lastRow(p: Int): Long =
        if (p + 1 < oi.getPageCount) oi.getFirstRowIndex(p + 1) - 1
        else rowCount - 1
      val sel = (0 until oi.getPageCount).filter { p =>
        val lo = oi.getFirstRowIndex(p)
        val hi = lastRow(p)
        wanted.exists { case (a, b) => a <= hi && b >= lo }
      }
      // typed as the public interface: the returned class is
      // package-private, so Scala cannot emit calls against it
      val pages: org.apache.parquet.column.page.PageReadStore =
        r.readFilteredRowGroup(0,
          org.apache.parquet.internal.filter2.columnindex.RowRanges
            .create(rowCount,
              java.util.stream.IntStream.of(sel.toArray: _*).iterator(), oi))
      if (pages == null) return false
      val n = pages.getRowCount
      if (n == 0) return true
      val crs = new ColumnReadStoreImpl(pages,
        new GroupRecordConverter(proj).getRootConverter, proj,
        fm.createdBy)
      val cd = proj.getColumns.get(0)
      val vr = crs.getColumnReader(cd)
      val vDef = cd.getMaxDefinitionLevel
      val it = if (pages.getRowIndexes.isPresent)
        pages.getRowIndexes.get else null
      var b = 0 // block cursor: row indexes arrive ascending
      var i = 0L
      while (i < n) {
        val ri0 = if (it != null) it.nextLong() else i
        val hasV = vr.getCurrentDefinitionLevel == vDef
        val v = if (hasV) vr.getDouble else Double.NaN
        // rows outside the selected plane's run (page spans overlap
        // neighboring planes) are read — streams must stay in sync —
        // but never placed
        val ri = ri0 - planeBase
        if (ri >= 0 && ri < m.planeRows) {
          while (ri >= m.blockOffsets(b + 1)) b += 1
          val local = ri - m.blockOffsets(b)
          val ty = b / m.tilesX
          val tx = b % m.tilesX
          val wB = math.min(m.tileSize, m.width - tx * m.tileSize)
          val y = ty * m.tileSize + (local / wB).toInt
          val x = tx * m.tileSize + (local % wB).toInt
          if (hasV && y >= y0 && y < y0 + h && x >= x0 && x < x0 + w)
            out((y - y0) * w + (x - x0)) = v
        }
        vr.consume()
        i += 1
      }
      true
    }
  }

  /** `timeUs` expressed in the file's own timestamp unit, None when it
    * cannot be represented exactly (then no row can match). Bare int64
    * columns are graft-native epoch-us. */
  private def rawTimeValue(t: PrimitiveType, timeUs: Long): Option[Long] =
    t.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(timeUs)
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            if (timeUs % 1000L == 0L) Some(timeUs / 1000L) else None
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            try Some(Math.multiplyExact(timeUs, 1000L))
            catch { case _: ArithmeticException => None }
        }
      case _ => Some(timeUs)
    }

  /** legacy INT96 timestamp → epoch-us: 8 bytes nanos-of-day LE + 4
    * bytes Julian day LE (JDN 2440588 = 1970-01-01) */
  private def int96Us(b: org.apache.parquet.io.api.Binary): Long = {
    val bb = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanos = bb.getLong
    val julianDay = bb.getInt
    (julianDay - 2440588L) * DayUs + nanos / 1000L
  }
}
