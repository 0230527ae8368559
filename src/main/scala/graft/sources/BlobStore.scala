package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

/** Key→bytes access to a zarr store root (SURVEY S3/S5 — the reference
  * reaches object stores through s3fs wrapped in a 256 MB LRU block
  * cache, context.py:218-231). Keys are `/`-separated paths relative
  * to the store root (`"v0/.zarray"`, `"v0/0.0.0"`).
  *
  * Local directory stores hit the filesystem directly (the OS page
  * cache is the right cache there). Any URI with a scheme resolves
  * through Hadoop's FileSystem API — the Spark-native on-ramp: on a
  * real cluster `s3a://`/`gs://`/`abfss://` bind to whatever connector
  * jars the deployment ships, with zero code here — wrapped in the
  * same byte-bounded LRU the reference uses, because remote reads are
  * round-trips, not page-cache hits. Offline tests drive the exact
  * remote code path via `file://` URIs.
  */
private[graft] trait BlobStore {
  /** full object bytes, or None when the key is absent */
  def read(key: String): Option[Array[Byte]]
  /** object size in bytes, or None when absent */
  def size(key: String): Option[Long]
  /** `len` bytes starting at `off`, or None when the key is absent —
    * the sharded-read primitive (an inner chunk or a shard index is a
    * byte range of a much larger object; reading the whole shard to
    * get one chunk would defeat sharding) */
  def readRange(key: String, off: Long, len: Int): Option[Array[Byte]]
  /** immediate subdirectory names of the store root, sorted */
  def listDirs: Seq[String]
  /** immediate child names, files AND directories, sorted; empty when
    * the root itself is absent */
  def listAll: Seq[String]
  def exists(key: String): Boolean = read(key).isDefined
}

private[graft] object BlobStore {
  /** the reference's remote block-cache budget (context.py:222) */
  val RemoteCacheBytes: Long = 256L << 20

  // one instance per store path so every reader shares cache state
  private val stores = StoreCache.memo[String, BlobStore](identity)

  // per-root Hadoop conf overrides (the reference's obs Endpoint/Region
  // descriptor keys → S3 client kwargs, context.py:218-225) — keyed by
  // root prefix so sibling objects (`.levels`, `.link`, `_graft_meta`)
  // inherit the dataset's store settings
  private val confOverrides = TrieMap.empty[String, Map[String, String]]

  /** `a` equals `b`, is a path ancestor of it, or `b` is one of `a`'s
    * sidecar stores (`<a>.levels` pyramid, `<a>.link` redirect — the
    * only dotted siblings the ingest layout defines) or a path under
    * one. Boundary-checked: `…/cube1` does NOT match `…/cube10.zarr`
    * (raw startsWith would bind one dataset's Endpoint/Region to a
    * prefix-sharing sibling dataset). */
  private def isAncestorOrSelf(a: String, b: String): Boolean =
    Seq(a, a + ".levels", a + ".link")
      .exists(r => b == r || b.startsWith(r + "/"))

  /** Register Hadoop conf overrides for every store whose root is
    * under `rootPrefix` OR is an ancestor of it (the parent-directory
    * store that serves the `.link` sibling probe must see the same
    * endpoint as the dataset itself). Stores already opened under the
    * prefix are dropped so the next open sees the new settings. */
  private[graft] def configure(rootPrefix: String,
                               opts: Map[String, String]): Unit =
    if (opts.nonEmpty) {
      confOverrides(rootPrefix) = opts
      stores.removeIf((k, _) =>
        isAncestorOrSelf(rootPrefix, k) || isAncestorOrSelf(k, rootPrefix))
    }

  private[graft] def optionsFor(path: String): Map[String, String] =
    confOverrides.toSeq.sortBy(_._1.length).collect {
      case (p, o) if isAncestorOrSelf(p, path) || isAncestorOrSelf(path, p) => o
    }.foldLeft(Map.empty[String, String])(_ ++ _)

  /** The store's shared instance. [[StoreCache.invalidate]] drops it
    * with the store's other memos: a remote store's LRU caches absent
    * objects and its one-shot listing for the instance's lifetime. */
  def forStore(path: String): BlobStore = stores.getOrLoad(path)(
    if (path.contains("://"))
      new CachingBlobStore(new HadoopBlobStore(path, optionsFor(path)),
        RemoteCacheBytes)
    else new LocalBlobStore(path))

  /** Drop every cached store and conf override. Config reloads call
    * this, so a reload never keeps serving pre-publication state
    * (missing sidecars, empty levels). */
  private[graft] def dropAll(): Unit = {
    confOverrides.clear(); StoreCache.clear()
  }

  /** one file by full path-or-URI (splits into parent store + name, so
    * sibling files like `<store>.link` route through the same seam) */
  private[graft] def readFile(path: String): Option[Array[Byte]] = {
    val i = path.lastIndexOf('/')
    if (i < 0) new LocalBlobStore(".").read(path)
    else if (i == 0) new LocalBlobStore("/").read(path.substring(1))
    else forStore(path.substring(0, i)).read(path.substring(i + 1))
  }
}

private[graft] final class LocalBlobStore(root: String) extends BlobStore {
  def read(key: String): Option[Array[Byte]] = {
    val p = Paths.get(root, key.split('/').toSeq: _*)
    if (Files.isRegularFile(p)) Some(Files.readAllBytes(p)) else None
  }
  override def exists(key: String): Boolean =
    Files.isRegularFile(Paths.get(root, key.split('/').toSeq: _*))
  def size(key: String): Option[Long] = {
    val p = Paths.get(root, key.split('/').toSeq: _*)
    if (Files.isRegularFile(p)) Some(Files.size(p)) else None
  }
  def readRange(key: String, off: Long, len: Int): Option[Array[Byte]] = {
    val p = Paths.get(root, key.split('/').toSeq: _*)
    if (!Files.isRegularFile(p)) return None
    val raf = new java.io.RandomAccessFile(p.toFile, "r")
    try {
      val b = new Array[Byte](len)
      raf.seek(off); raf.readFully(b)
      Some(b)
    } finally raf.close()
  }
  def listDirs: Seq[String] = children(dirsOnly = true)
  def listAll: Seq[String] = children(dirsOnly = false)
  private def children(dirsOnly: Boolean): Seq[String] = {
    if (!Files.isDirectory(Paths.get(root))) return Seq.empty
    val stream = Files.list(Paths.get(root))
    try stream.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => !dirsOnly || Files.isDirectory(p))
      .map(_.getFileName.toString).sorted
    finally stream.close() // Files.list leaks an fd unless closed
  }
}

/** Hadoop FileSystem-backed store: one getFileStatus + positioned
  * readFully per object (no double round-trip for existence). Uses the
  * active Spark session's Hadoop configuration when there is one (so
  * cluster credentials/endpoints apply), else the classpath default. */
private[graft] final class HadoopBlobStore(root: String,
    extraConf: Map[String, String] = Map.empty) extends BlobStore {
  import org.apache.hadoop.fs.{Path => HPath}

  /** the effective Hadoop configuration (session conf + per-store
    * overrides like fs.s3a.endpoint) — tests assert on this */
  @transient private[graft] lazy val hadoopConf = {
    val base = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    if (extraConf.isEmpty) base
    else {
      // copy before overriding: endpoint/region are PER STORE, and the
      // session conf is shared by every other reader in the JVM
      val c = new org.apache.hadoop.conf.Configuration(base)
      extraConf.foreach { case (k, v) => c.set(k, v) }
      // Hadoop's global FileSystem cache keys on (scheme, authority,
      // user) and IGNORES the Configuration handed to getFileSystem —
      // without this, a bucket touched earlier through the base conf
      // would serve a cached client and the overrides would be inert
      val scheme = java.net.URI.create(root).getScheme
      if (scheme != null) c.setBoolean(s"fs.$scheme.impl.disable.cache", true)
      c
    }
  }

  @transient private lazy val (fs, rootPath) = {
    val p = new HPath(root)
    (p.getFileSystem(hadoopConf), p)
  }

  def read(key: String): Option[Array[Byte]] = try {
    val f = new HPath(rootPath, key)
    val len = fs.getFileStatus(f).getLen
    require(len <= Int.MaxValue, s"$key is ${len}B — larger than one array")
    val in = fs.open(f)
    try {
      val b = new Array[Byte](len.toInt)
      in.readFully(0, b)
      Some(b)
    } finally in.close()
  } catch { case _: java.io.FileNotFoundException => None }

  def size(key: String): Option[Long] = try {
    Some(fs.getFileStatus(new HPath(rootPath, key)).getLen)
  } catch { case _: java.io.FileNotFoundException => None }

  def readRange(key: String, off: Long, len: Int): Option[Array[Byte]] = try {
    val in = fs.open(new HPath(rootPath, key))
    try {
      val b = new Array[Byte](len)
      in.readFully(off, b) // positioned read: one ranged GET on s3a
      Some(b)
    } finally in.close()
  } catch { case _: java.io.FileNotFoundException => None }

  def listDirs: Seq[String] = try {
    fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  } catch { case _: java.io.FileNotFoundException => Seq.empty }

  def listAll: Seq[String] = try {
    fs.listStatus(rootPath).toSeq.map(_.getPath.getName).sorted
  } catch { case _: java.io.FileNotFoundException => Seq.empty }
}

/** Byte-bounded LRU over a remote store. Present AND absent results
  * are cached (a missing chunk asked for once per task would otherwise
  * cost a round-trip per task). Fetches happen outside the lock so 32
  * reader threads don't serialize on the network; two threads racing
  * the same cold key may both fetch — benign. */
private[graft] final class CachingBlobStore(private[graft] val inner: BlobStore,
                                              maxBytes: Long)
    extends BlobStore {

  /** inner-store fetches actually performed — tests assert on this */
  private[graft] val fetches = new AtomicLong

  private val map = new graft.Lru[String, Option[Array[Byte]]](maxBytes,
    _.fold(0L)(_.length.toLong) + 64L) // key + entry overhead estimate

  def read(key: String): Option[Array[Byte]] =
    map.getOrLoad(key) { fetches.incrementAndGet(); inner.read(key) }

  @volatile private var dirs: Seq[String] = _
  def listDirs: Seq[String] = {
    if (dirs == null) { fetches.incrementAndGet(); dirs = inner.listDirs }
    dirs
  }

  @volatile private var all: Seq[String] = _
  def listAll: Seq[String] = {
    if (all == null) { fetches.incrementAndGet(); all = inner.listAll }
    all
  }

  // sizes are tiny: cache them alongside objects; RANGES are not cached
  // (a shard's inner chunks are read once each — ZarrStore caches the
  // one hot range, the footer index, itself)
  private val sizes = new graft.Lru[String, Option[Long]](1L << 17)
  def size(key: String): Option[Long] =
    sizes.getOrLoad(key) { fetches.incrementAndGet(); inner.size(key) }
  def readRange(key: String, off: Long, len: Int): Option[Array[Byte]] = {
    fetches.incrementAndGet()
    inner.readRange(key, off, len)
  }

  private[graft] def cachedBytes: Long = map.weight
}
