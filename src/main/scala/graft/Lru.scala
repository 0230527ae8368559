package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The one bounded driver-side cache behind every memo and serving
  * cache (the reference keeps its driver state the same way: one
  * generic byte-accounted `Cache`, cache.py:202-411, and one zarr block
  * LRU, context.py:228).
  *
  *  - Access-ordered and bounded by total weight (`weightOf`, one per
  *    entry by default). Past `capacity` the eldest entries go until
  *    the cache fits again, but never the only entry left, so one value
  *    larger than the whole budget is still served from the cache.
  *  - [[getOrLoad]] runs the load outside the lock: two threads racing
  *    one cold key may both load; the first value cached wins and is
  *    what both return.
  *  - Every value the cache lets go (evicted, removed, or a duplicate
  *    load that lost its race) is handed to `release`, outside the
  *    lock, for values that hold resources.
  *  - [[hits]], [[misses]], [[evictions]] and [[weight]] count what it
  *    did.
  *
  * `capacity` is by-name and read on every insert, so a test may lower
  * a bound between calls. Loads must not return null.
  */
private[graft] final class Lru[K, V](capacity: => Long,
                                     weightOf: V => Long = (_: V) => 1L,
                                     release: V => Unit = (_: V) => ()) {

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var used = 0L
  private var hitCount = 0L
  private var missCount = 0L
  private var evictCount = 0L

  /** The cached value, touched as most recent; counts a hit or a miss. */
  def get(k: K): Option[V] = {
    val v = synchronized {
      val v = map.get(k)
      if (v == null) missCount += 1 else hitCount += 1
      v
    }
    Option(v)
  }

  /** Caches `v` under `k` unless a value is already there, and returns
    * the value cached. */
  def put(k: K, v: V): V = {
    val dropped = ArrayBuffer.empty[V]
    val out = synchronized {
      val cur = map.get(k)
      if (cur != null) {
        if (cur.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef]) dropped += v
        cur
      } else {
        map.put(k, v)
        used += weightOf(v)
        val it = map.values.iterator
        while (used > capacity && map.size > 1) {
          val old = it.next()
          used -= weightOf(old)
          it.remove()
          evictCount += 1
          dropped += old
        }
        v
      }
    }
    dropped.foreach(release)
    out
  }

  def getOrLoad(k: K)(load: => V): V = get(k).getOrElse(put(k, load))

  /** True iff `k` maps to this very `v` (touches `k`, counts nothing). */
  def holds(k: K, v: V): Boolean = synchronized {
    map.get(k).asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef]
  }

  /** Drops (and releases) every entry matching `p`. */
  def removeIf(p: (K, V) => Boolean): Unit = {
    val dropped = ArrayBuffer.empty[V]
    synchronized {
      val it = map.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey, e.getValue)) {
          used -= weightOf(e.getValue)
          dropped += e.getValue
          it.remove()
        }
      }
    }
    dropped.foreach(release)
  }

  def clear(): Unit = removeIf((_, _) => true)

  /** Keys from least to most recently used. */
  def keys: Seq[K] = synchronized(map.keySet.asScala.toVector)
  def size: Int = synchronized(map.size)
  def weight: Long = synchronized(used)
  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def evictions: Long = synchronized(evictCount)
}

private[graft] object Lru {

  /** Entry bound of the dispatch-verdict memos: one small entry per
    * (dataset snapshot, probe), so 256 covers every snapshot a server
    * touches between republishes. */
  val Verdicts = 256
}
