package graft.sources

/** Direct chunk-window reads for interactive tile serving (SURVEY
  * §3.1): the reference answers a tile request by slicing the chunked
  * array in-process (tiledimage.py); the Spark-analytics equivalent —
  * plan + schedule + collect a job per tile — pays Spark's ad-hoc
  * query floor (~0.3 s) for a 256×256 window. A STORE-BACKED cube
  * doesn't need a job at all: read the covering chunks through the
  * same [[StoreOps]] the DSv2 scan uses (same decompress, same CF
  * mask-and-scale — values are bit-identical by construction) and
  * assemble the window on the serving thread. Remote stores hit the
  * 256 MB blob LRU, so a hot tile's chunks don't re-fetch.
  *
  * This is the serving fast path ONLY: anything transformed (computed
  * variables, masked ranges, derived pyramid levels) has no
  * `storePath` and keeps the Spark path. */
private[graft] object StoreWindow {

  /** The cell window [y0, y0+h) × [x0, x0+w) of `variable` at the time
    * step whose axis value is `timeUs` (and, for 4-D+ variables, at
    * the extra-dim ARRAY indices `extraIdx` — the server resolves
    * indexer values against `CubeFrame.extraDims` and passes their
    * positions), row-major h×w with NaN padding outside the grid —
    * exactly the value layout the per-request Spark path collects.
    * None when the time step is absent. */
  def readWindow(path: String, variable: String, timeUs: Long,
                 y0: Int, x0: Int, h: Int, w: Int,
                 extraIdx: Seq[Int] = Nil): Option[Array[Double]] = {
    // memoized ops + decoded axis (binary-searched) + decoded-chunk
    // LRU: a warm tile re-parses/re-decompresses nothing
    val ops = StoreCache.ops(path)
    val tIdx = StoreCache.timeIndex(path, timeUs)
    if (tIdx < 0) return None
    val meta = ops.arrayMeta(variable)
    val rank = meta.shape.length
    if (rank != 3 + extraIdx.length) return None // dim mismatch → Spark
    val nt = meta.shape(0)
    val nh = meta.shape(rank - 2)
    val nw = meta.shape(rank - 1)
    if (tIdx >= nt) return None
    if (extraIdx.zipWithIndex.exists { case (e, k) =>
        e < 0 || e >= meta.shape(k + 1) }) return None
    val ct = meta.chunks(0)
    val cy = meta.chunks(rank - 2)
    val cx = meta.chunks(rank - 1)
    val out = NanArray(h * w)
    val tc = tIdx / ct
    val tt = tIdx % ct
    // extra dims: one plane per request — chunk index + local offset
    val ec = extraIdx.zipWithIndex.map { case (e, k) =>
      e / meta.chunks(k + 1) }
    val et = extraIdx.zipWithIndex.map { case (e, k) =>
      e % meta.chunks(k + 1) }
    // within-chunk stride of the (time, extras) prefix: offset =
    // ((tt*ce1 + e1)*…*cy + yy)*cx + xx
    val prefix = (1 until rank - 2).foldLeft(tt.toLong) { (acc, d) =>
      acc * meta.chunks(d) + et(d - 1) }
    val ycFirst = math.max(0, y0) / cy
    val ycLast = math.min(y0 + h - 1, nh - 1) / cy
    val xcFirst = math.max(0, x0) / cx
    val xcLast = math.min(x0 + w - 1, nw - 1) / cx
    var yc = ycFirst
    while (yc <= ycLast && yc >= 0) {
      var xc = xcFirst
      while (xc <= xcLast && xc >= 0) {
        val data = StoreCache.chunk(path, variable, meta,
          Seq(tc) ++ ec ++ Seq(yc, xc))
        // overlap of this chunk's VALID extent with the window
        val cy0 = yc * cy
        val cx0 = xc * cx
        val yLo = math.max(y0, cy0)
        val yHi = math.min(y0 + h, math.min(cy0 + cy, nh))
        val xLo = math.max(x0, cx0)
        val xHi = math.min(x0 + w, math.min(cx0 + cx, nw))
        var y = yLo
        while (y < yHi) {
          var x = xLo
          while (x < xHi) {
            out((y - y0) * w + (x - x0)) =
              data(((prefix * cy + (y - cy0)) * cx + (x - cx0)).toInt)
            x += 1
          }
          y += 1
        }
        xc += 1
      }
      yc += 1
    }
    Some(out)
  }
}

/** Dispatch for the no-Spark-job tile window: chunked stores (zarr/
  * NetCDF/HDF5) through [[StoreWindow]], graft's own ingested parquet
  * layout through [[ParquetWindow]]. The `CubeFrame.storePath` contract
  * is unchanged — set iff the DataFrame reads the store untransformed,
  * so values are identical to the Spark path by construction. */
private[graft] object DirectWindow {
  /** zarr/NetCDF/HDF5 (read chunk by chunk through [[StoreWindow]]);
    * anything else is graft's parquet layout */
  def isChunkedStore(path: String): Boolean =
    path.endsWith(".zarr") || path.endsWith(".nc") || path.endsWith(".h5") ||
      java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(path))

  /** `extra` selects one plane per extra non-spatial dim:
    * (name, coordinate value, axis index) — chunked stores address by
    * the index, the parquet reader by name+value (checked against its
    * sidecar). */
  def read(path: String, variable: String, timeUs: Long,
           y0: Int, x0: Int, h: Int, w: Int,
           extra: Seq[(String, Double, Int)] = Nil)
      : Option[Array[Double]] = {
    if (isChunkedStore(path)) StoreWindow.readWindow(path, variable, timeUs,
      y0, x0, h, w, extra.map(_._3))
    else {
      // parquet windows cache decoded (the block IS this layout's
      // decode unit; chunked stores already cache per decoded chunk)
      val sel = extra.map(e => (e._1, e._2))
      StoreCache.window(path, variable, timeUs, y0, x0, h, w, sel)(
        ParquetWindow.readWindow(path, variable, timeUs, y0, x0, h, w, sel))
    }
  }
}
