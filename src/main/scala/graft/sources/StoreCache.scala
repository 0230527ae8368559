package graft.sources

import java.util.concurrent.CopyOnWriteArrayList

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
  *     levels the direct arms do not serve ([[frameRead]]): whole
  *     level stacks, or single tile windows.
  *
  * [[directBudgetBytes]] is the one driver-side budget of a single
  * request's read: the time-series direct arm and the whole-level
  * Spark read both stay under it.
  *
  * THE invalidation seam: every per-store memo of the source layer —
  * these three tiers, parsed HDF5 headers and chunk indexes, zarr
  * consolidated metadata and shard indexes, parquet sidecars, listings,
  * footers, offset indexes and pooled readers, and the per-store
  * [[BlobStore]] instances with their remote LRUs — is a [[graft.Lru]]
  * made by [[memo]], whose `storeOf(key)` names the store path an
  * entry belongs to. [[invalidate]]`(path)` drops every entry whose
  * store is `path` or lies under `path/` (`…/c` does not cover the
  * sibling `…/c2`); [[clear]] drops every entry, store-less ones
  * included. Writers call [[invalidate]] on the store they rewrote;
  * config reloads call [[clear]] through `BlobStore.dropAll`.
  */
private[graft] object StoreCache {

  /** Entry bound of every per-store memo: far above the stores, part
    * files and shards a serving registry touches, so it bounds a
    * long-running server's driver state without evicting in use. */
  private val MemoEntries: Long = 1L << 16

  // each registered memo's drop: removes the entries whose store the
  // predicate covers
  private val memos = new CopyOnWriteArrayList[(String => Boolean) => Unit]

  /** A [[graft.Lru]] registered with [[invalidate]] and [[clear]]:
    * `storeOf(key)` is the store path an entry belongs to (null for
    * none: only [[clear]] drops it). Bounded at [[MemoEntries]] entries
    * unless the caller sizes it. */
  def memo[K, V](storeOf: K => String, capacity: => Long = MemoEntries,
                 weightOf: V => Long = (_: V) => 1L,
                 release: V => Unit = (_: V) => ()): graft.Lru[K, V] = {
    val m = new graft.Lru[K, V](capacity, weightOf, release)
    memos.add(covers => m.removeIf((k, _) => covers(storeOf(k))))
    m
  }

  private val opsMap = memo[String, StoreOps](identity)
  // (decoded epoch-us axis, is-ascending) — ascending axes (the CF
  // norm) binary-search; anything else falls back to a linear scan
  private val axisMap = memo[String, (Array[Long], Boolean)](identity)

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
  /** Spark reads of a level, keyed by the level's unfiltered frame:
    * `Dataset` keeps Object's identity `equals`/`hashCode`, and a
    * registration's levels are fixed objects. `store` is the level's
    * store path, null when no store is behind it. */
  private final case class FrameKey(df: DataFrame, store: String,
                                    variable: String,
                                    extent: Render.Extent,
                                    extra: Seq[(String, Double)])
  private val chunks = memo[AnyRef, Array[Double]]({
    case c: ChunkKey => c.path
    case w: WindowKey => w.path
    case f: FrameKey => f.store
  }, chunkCapacityBytes, _.length * 8L)
  /** the [[frameRead]] loads running now, one per key (entries live only
    * while their load runs) */
  private val frameLoads = TrieMap.empty[FrameKey, Future[Array[Double]]]

  def ops(path: String): StoreOps =
    opsMap.getOrLoad(path)(StoreOps.forPath(path))

  /** decoded time axis, cached; (values, ascending) */
  def timeAxis(path: String): (Array[Long], Boolean) =
    axisMap.getOrLoad(path) {
      val ax = ops(path).read1dLongs("time")
      var asc = true
      var i = 1
      while (i < ax.length) { if (ax(i) <= ax(i - 1)) asc = false; i += 1 }
      (ax, asc)
    }

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

  /** The Spark read of `extent` of a level, memoized in the same LRU:
    * `df` is the level's UNFILTERED frame (compared by reference),
    * `store` its store path (None when no store is behind it; a stored
    * level's reads go with the store's [[invalidate]]), `extra` the
    * resolved extra-dim plane, and `load` runs the read with its plane
    * filter. Returns the read and whether this call found it cached,
    * or waited for another call's load of it: at most one load per key
    * runs at a time (the reference opens a level once, under a lock,
    * mldataset.py:87-109).
    * The read is shared read-only between requests. */
  def frameRead(df: DataFrame, store: Option[String], variable: String,
                extent: Render.Extent, extra: Seq[(String, Double)])
               (load: => Array[Double]): (Array[Double], Boolean) = {
    val key = FrameKey(df, store.orNull, variable, extent, extra)
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

  /** Drops every registered memo's entries whose store is `path` or
    * lies under `path/` (writers re-writing a store, metadata
    * invalidation). */
  def invalidate(path: String): Unit = {
    val under = path + "/"
    memos.forEach(_(s => s != null && (s == path || s.startsWith(under))))
  }

  /** Drops every registered memo's entries (config reloads). */
  def clear(): Unit = memos.forEach(_(_ => true))
}
