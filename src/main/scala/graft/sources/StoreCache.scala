package graft.sources

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

import graft.render.Render

/** Serving-path caches for direct (no-Spark-job) store reads.
  *
  * [[StoreWindow]] originally called `StoreOps.forPath` + decoded the
  * time axis on EVERY tile request — for an HDF5 store that re-parses
  * the whole file header per request, undercutting the fast path's
  * latency goal. Three tiers, all driver/serving-thread side (executors
  * never see this object):
  *
  *  1. memoized [[StoreOps]] instances per store path (an `Hdf5Ops`
  *     parses its header once, lazily);
  *  2. the DECODED time axis per store (CF units arithmetic done once),
  *     with binary search for the request's time step;
  *  3. a byte-bounded [[graft.Lru]] of DECODED chunks keyed (store,
  *     variable, chunk index), weighed at 8 bytes a value — the blob
  *     LRU under it caches compressed bytes, so before this cache a hot
  *     tile crossing several chunks paid decompress + mask-and-scale on
  *     every PNG-cache miss. The same LRU and byte budget hold the
  *     parquet path's decoded tile windows and the Spark reads of
  *     levels with no store behind them ([[frameRead]]): whole level
  *     stacks, or single tile windows.
  *
  * [[directBudgetBytes]] is the one driver-side budget of a single
  * request's read: the time-series direct arm and the whole-level
  * Spark read both stay under it.
  *
  * Writers and config reloads call [[invalidate]]/[[clear]] (wired into
  * `ZarrStore.invalidateMeta` and `BlobStore.dropAll`), so a reload
  * re-observes the world like the blob seam does.
  */
private[graft] object StoreCache {

  private val opsMap = TrieMap.empty[String, StoreOps]
  // (decoded epoch-us axis, is-ascending) — ascending axes (the CF
  // norm) binary-search; anything else falls back to a linear scan
  private val axisMap = TrieMap.empty[String, (Array[Long], Boolean)]

  private[graft] val chunkCapacityBytes: Long =
    sys.props.getOrElse("graft.chunkCache.mb", "256").toLong << 20

  /** Decoded bytes one request may read on the driver: a quarter of the
    * chunk LRU, so one read never evicts most of the tiles' working
    * set. A time-series request whose chunks exceed it takes the Spark
    * arm; a Spark-only level larger than it is read one tile window at
    * a time instead of whole. A `var` only as a test seam, seen by
    * every thread (the server's handler threads too). */
  @volatile private[graft] var directBudgetBytes: Long = chunkCapacityBytes / 4

  /** runs `body` with [[directBudgetBytes]] set to `bytes`, process-wide
    * (tests reach the over-budget arms through it) */
  private[graft] def withDirectBudget[T](bytes: Long)(body: => T): T = {
    val before = directBudgetBytes
    directBudgetBytes = bytes
    try body finally directBudgetBytes = before
  }

  private final case class ChunkKey(path: String, variable: String,
                                    idx: Seq[Int])
  /** decoded tile windows of the parquet serving path — the parquet
    * analogue of a decoded chunk (its natural decode unit IS the tile
    * block), sharing one byte budget + LRU order with chunks */
  private final case class WindowKey(path: String, variable: String,
                                     timeUs: Long, y0: Int, x0: Int,
                                     h: Int, w: Int,
                                     extra: Seq[(String, Double)])
  /** Spark reads of a level with no store behind it, keyed by the
    * level's unfiltered frame: `Dataset` keeps Object's identity
    * `equals`/`hashCode`, and a registration's levels are fixed
    * objects */
  private final case class FrameKey(df: DataFrame, variable: String,
                                    extent: Render.Extent,
                                    extra: Seq[(String, Double)])
  private val chunks =
    new graft.Lru[AnyRef, Array[Double]](chunkCapacityBytes, _.length * 8L)
  /** the [[frameRead]] loads running now, one per key (entries live only
    * while their load runs) */
  private val frameLoads = TrieMap.empty[FrameKey, Future[Array[Double]]]

  private def keyPath(k: AnyRef): String = k match {
    case c: ChunkKey => c.path
    case w: WindowKey => w.path
    case _: FrameKey => null // no store behind it
  }

  def ops(path: String): StoreOps =
    opsMap.getOrElseUpdate(path, StoreOps.forPath(path))

  /** decoded time axis, cached; (values, ascending) */
  def timeAxis(path: String): (Array[Long], Boolean) =
    axisMap.getOrElseUpdate(path, {
      val ax = ops(path).read1dLongs("time")
      var asc = true
      var i = 1
      while (i < ax.length) { if (ax(i) <= ax(i - 1)) asc = false; i += 1 }
      (ax, asc)
    })

  /** index of `timeUs` on the cached axis, -1 when absent */
  def timeIndex(path: String, timeUs: Long): Int = {
    val (ax, asc) = timeAxis(path)
    if (asc) {
      val i = java.util.Arrays.binarySearch(ax, timeUs)
      if (i >= 0) i else -1
    } else ax.indexOf(timeUs)
  }

  /** decoded chunk through the byte-bounded LRU */
  def chunk(path: String, variable: String, meta: ZarrStore.ArrayMeta,
            idx: Seq[Int]): Array[Double] =
    chunks.getOrLoad(ChunkKey(path, variable, idx))(
      ops(path).readChunk(variable, meta, idx))

  /** decoded parquet tile window through the same LRU (consumers treat
    * the returned array as read-only — the renderer only reads) */
  def window(path: String, variable: String, timeUs: Long, y0: Int,
             x0: Int, h: Int, w: Int,
             extra: Seq[(String, Double)] = Nil)
            (load: => Option[Array[Double]]): Option[Array[Double]] = {
    val key = WindowKey(path, variable, timeUs, y0, x0, h, w, extra)
    chunks.get(key).orElse(load.map(chunks.put(key, _)))
  }

  /** The Spark read of `extent` of a level with no store behind it,
    * memoized in the same LRU: `df` is the level's UNFILTERED frame
    * (compared by reference), `extra` the resolved extra-dim plane, and
    * `load` runs the read with its plane filter. Returns the read and
    * whether this call found it cached, or waited for another call's
    * load of it: at most one load per key runs at a time (the
    * reference opens a level once, under a lock, mldataset.py:87-109).
    * The read is shared read-only between requests. */
  def frameRead(df: DataFrame, variable: String, extent: Render.Extent,
                extra: Seq[(String, Double)])
               (load: => Array[Double]): (Array[Double], Boolean) = {
    val key = FrameKey(df, variable, extent, extra)
    chunks.get(key) match {
      case Some(read) => (read, true)
      case None =>
        val mine = Promise[Array[Double]]()
        frameLoads.putIfAbsent(key, mine.future) match {
          case Some(running) => (Await.result(running, Duration.Inf), true)
          case None =>
            try {
              // a load that finished since the probe above is cached
              val got = chunks.get(key)
              val read = got.getOrElse(chunks.put(key, load))
              mine.success(read)
              (read, got.isDefined)
            } catch {
              case e: Throwable => mine.failure(e); throw e
            } finally frameLoads.remove(key)
        }
    }
  }

  /** drops every memoized [[frameRead]] (the server's tile
    * invalidation: a reloaded registration reads its levels again) */
  def dropFrameReads(): Unit =
    chunks.removeIf((k, _) => k.isInstanceOf[FrameKey])

  private[graft] def cachedChunkBytes: Long = chunks.weight

  /** drop everything cached under one store path (writers re-writing a
    * fixture, metadata invalidation hooks). This is THE invalidation
    * seam — every format-level cache hangs off it, so a caller that
    * invalidates a store never keeps reading stale parsed headers,
    * chunk indexes or consolidated metadata from a format cache the
    * seam forgot (the round-17 review found Hdf5's and ZarrStore's
    * caches surviving it). */
  def invalidate(path: String): Unit = {
    opsMap.remove(path)
    axisMap.remove(path)
    chunks.removeIf((k, _) => keyPath(k) == path)
    ParquetWindow.invalidate(path)
    Hdf5.invalidateUnder(path)
    ZarrStore.invalidateMetaUnder(path)
  }

  def clear(): Unit = {
    opsMap.clear()
    axisMap.clear()
    chunks.clear()
    ParquetWindow.clear()
    Hdf5.clearCaches()
    ZarrStore.clearMetaCaches()
  }
}
