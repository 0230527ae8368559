package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, Inflater}

import scala.collection.mutable.ArrayBuffer

/** Minimal pure-JVM HDF5 reader + NetCDF-4-style writer (SURVEY S1 —
  * the reference opens NC4 via xarray's netcdf4 engine,
  * context.py:243-246; NC4 is an HDF5 container). Everything here
  * follows the public HDF5 File Format Specification; no native
  * library is involved.
  *
  * Reader subset (covers what netcdf-c/h5py emit for cubes across
  * libver settings; everything else fails loudly with the feature
  * name):
  *  - superblock versions 0/1 (symbol-table root) and 2/3;
  *  - object headers v1 and v2 (OHDR), with continuation blocks;
  *  - groups via symbol tables (B-tree v1 + local heap + SNOD),
  *    compact link messages, AND dense storage (fractal heap holding
  *    the Link messages + name-index v2 B-tree; managed unfiltered
  *    objects, root direct block or one indirect block of direct
  *    rows — the profile the library builds for link storage);
  *  - data layout message v3: contiguous and chunked (B-tree v1 chunk
  *    index); layout v4 contiguous AND chunked with every "latest"
  *    chunk index: single chunk (1), implicit (2), fixed array (3,
  *    paged and unpaged, filtered and not), extensible array (4,
  *    index-block elements, super blocks, paged data blocks), v2
  *    B-tree (5, record types 10/11, any depth);
  *  - datatypes: fixed-point 1/2/4/8 (signed/unsigned) and IEEE float
  *    4/8, either endianness — all surfaced as double (the cube
  *    contract, same as the classic reader);
  *  - filters: shuffle (2), deflate (1), fletcher32 (3, checksum
  *    stripped); missing chunks read as the fill value.
  *
  * The writer emits the classic NC4 shape — superblock v0, v1 object
  * headers, symbol-table root group, contiguous coordinate variables,
  * chunked shuffle+deflate data variables indexed by a B-tree v1 —
  * exactly the profile netcdf-c produces for a fresh cube file — and,
  * for fixtures, each layout-v4 chunk index and dense groups
  * (structure checksums are real Jenkins lookup3, pinned to HDF5's own
  * self-test vectors in Hdf5Spec).
  */
object Hdf5 {

  private val Magic =
    Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte)
  private val Undef = -1L // 0xFFFF... as a signed long

  /** HDF5 files start with the 8-byte signature at offset 0 or at a
    * power-of-two userblock boundary (512, 1024, ...) — the same probe
    * sequence [[findSuperblock]] uses, so detection and parsing agree. */
  def isHdf5(path: String): Boolean = {
    val p = Paths.get(path)
    if (!Files.isRegularFile(p) || Files.size(p) < 8) return false
    try { withRaf(path)(findSuperblock); true }
    catch { case _: Exception => false }
  }

  // ----------------------------------------------------------- model

  final case class Dtype(clazz: Int, size: Int, littleEndian: Boolean,
                         signed: Boolean)
  final case class Filter(id: Int, values: Seq[Int])
  /** chunk-index descriptor. kind 0 = B-tree v1 (layout v3); layout v4
    * kinds per the spec: 1 single chunk, 2 implicit, 3 fixed array,
    * 4 extensible array, 5 v2 B-tree. `p1`/`p2` carry the per-kind
    * config (fixed array: page bits; single-with-filter: size, mask). */
  final case class ChunkIndex(kind: Int, addr: Long,
                              p1: Long = 0L, p2: Long = 0L)
  /** one dataset; layoutClass 1 = contiguous, 2 = chunked. `attrs`
    * holds the numeric attributes (CF packing: scale_factor,
    * add_offset, _FillValue, missing_value, valid_range...) */
  final case class Dataset(name: String, shape: Seq[Int], dtype: Dtype,
                           layoutClass: Int, dataAddr: Long, chunkDims: Seq[Int],
                           btreeAddr: Long, filters: Seq[Filter], fill: Double,
                           index: ChunkIndex = ChunkIndex(0, Undef),
                           attrs: Map[String, Seq[Double]] = Map.empty,
                           textAttrs: Map[String, String] = Map.empty)
  final case class Hdf5File(datasets: Map[String, Dataset])

  // parsed headers and chunk indexes per file, dropped by
  // [[StoreCache.invalidate]] of the file's path
  private val fileCache = StoreCache.memo[String, Hdf5File](identity)
  private val chunkCache =
    StoreCache.memo[(String, String), Map[Seq[Long], (Long, Int)]](_._1)

  def open(path: String): Hdf5File =
    fileCache.getOrLoad(path)(withRaf(path)(r => parse(r)))

  private def withRaf[A](path: String)(f: R => A): A = {
    val raf = new RandomAccessFile(path, "r")
    try f(new R(raf)) finally raf.close()
  }

  /** positioned little-endian reads (ALL HDF5 metadata is LE) */
  private final class R(val raf: RandomAccessFile) {
    var base: Long = 0L // superblock base address; file addrs add it
    def bytes(addr: Long, n: Int): ByteBuffer = {
      val b = new Array[Byte](n)
      raf.seek(base + addr); raf.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    }
    def raw(addr: Long, n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      raf.seek(base + addr); raf.readFully(b)
      b
    }
    def cstring(addr: Long): String = {
      val out = new ArrayBuffer[Byte]()
      var a = addr
      var done = false
      while (!done) {
        val take = math.min(64L, raf.length() - base - a).toInt
        if (take <= 0) throw new IllegalArgumentException(
          "unterminated heap string runs past end of file")
        val chunk = raw(a, take)
        val z = chunk.indexOf(0.toByte)
        if (z >= 0) { out ++= chunk.take(z); done = true }
        else { out ++= chunk; a += chunk.length }
      }
      new String(out.toArray, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  // ----------------------------------------------------------- parse

  private def parse(r: R): Hdf5File = {
    val sbAddr = findSuperblock(r)
    r.base = 0L
    val head = r.bytes(sbAddr, 16)
    head.position(8)
    val version = head.get() & 0xFF
    val rootAddr = version match {
      case 0 | 1 =>
        val b = r.bytes(sbAddr, if (version == 0) 96 else 100)
        b.position(9)
        b.get(); b.get(); b.get() // free-space / root-group / reserved
        b.get() // shared header version
        val offSize = b.get() & 0xFF
        val lenSize = b.get() & 0xFF
        require(offSize == 8 && lenSize == 8,
          s"HDF5 offset/length size $offSize/$lenSize unsupported (8/8 only)")
        b.get() // reserved
        b.getShort(); b.getShort(); b.getInt() // leaf K, internal K, flags
        if (version == 1) { b.getShort(); b.getShort() } // indexed K + res
        val base = b.getLong()
        b.getLong(); b.getLong(); b.getLong() // free space, EOF, driver
        // root symbol table entry: name offset, OBJECT HEADER ADDRESS
        b.getLong()
        val hdr = b.getLong()
        r.base = base
        hdr
      case 2 | 3 =>
        val b = r.bytes(sbAddr, 9 + 3 + 4 * 8 + 4)
        b.position(9)
        val offSize = b.get() & 0xFF
        val lenSize = b.get() & 0xFF
        require(offSize == 8 && lenSize == 8,
          s"HDF5 offset/length size $offSize/$lenSize unsupported (8/8 only)")
        b.get() // consistency flags
        val base = b.getLong()
        b.getLong(); b.getLong() // extension, EOF
        val hdr = b.getLong()
        r.base = base
        hdr
      case v => throw new IllegalArgumentException(
        s"HDF5 superblock version $v unsupported")
    }
    val rootMsgs = messages(r, rootAddr)
    val ds = links(r, rootMsgs).toSeq.sortBy(_._1).flatMap {
      case (name, addr) => parseDataset(r, name, addr)
    }
    Hdf5File(ds.map(d => d.name -> d).toMap)
  }

  private def findSuperblock(r: R): Long = {
    val len = r.raf.length()
    var off = 0L
    while (off + 8 <= len) {
      if (r.raw(off, 8).sameElements(Magic)) return off
      off = if (off == 0) 512 else off * 2
    }
    throw new IllegalArgumentException("no HDF5 superblock signature found")
  }

  /** all header messages of the object at `addr` (v1 or v2 headers,
    * continuations followed) as (type, body) pairs */
  private def messages(r: R, addr: Long): Seq[(Int, ByteBuffer)] = {
    val sig = r.raw(addr, 4)
    if (sig.sameElements("OHDR".getBytes)) messagesV2(r, addr)
    else messagesV1(r, addr)
  }

  private def messagesV1(r: R, addr: Long): Seq[(Int, ByteBuffer)] = {
    val pre = r.bytes(addr, 16)
    val ver = pre.get() & 0xFF
    require(ver == 1, s"object header version $ver at $addr (1 expected)")
    pre.get()
    var remaining = pre.getShort() & 0xFFFF
    pre.getInt() // reference count
    val hdrSize = pre.getInt()
    val out = ArrayBuffer.empty[(Int, ByteBuffer)]
    var blocks = List((addr + 16, hdrSize.toLong))
    while (remaining > 0 && blocks.nonEmpty) {
      val (ba, bl) = blocks.head
      blocks = blocks.tail
      val b = r.bytes(ba, bl.toInt)
      while (remaining > 0 && b.remaining() >= 8) {
        val t = b.getShort() & 0xFFFF
        val sz = b.getShort() & 0xFFFF
        b.get(); b.get(); b.get(); b.get() // flags + reserved
        require(b.remaining() >= sz, s"truncated message type $t")
        val body = b.slice(); body.limit(sz)
        body.order(ByteOrder.LITTLE_ENDIAN)
        b.position(b.position() + sz)
        remaining -= 1
        if (t == 0x10) blocks ::= ((body.getLong(0), body.getLong(8)))
        else out += ((t, body))
      }
    }
    out.toSeq
  }

  private def messagesV2(r: R, addr: Long): Seq[(Int, ByteBuffer)] = {
    // prefix is at most 4+1+1+16+4+8 bytes; clamp to EOF for tiny files
    val pre = r.bytes(addr,
      math.min(64L, r.raf.length() - r.base - addr).toInt)
    pre.position(4)
    val ver = pre.get() & 0xFF
    require(ver == 2, s"OHDR version $ver")
    val flags = pre.get() & 0xFF
    if ((flags & 0x20) != 0) pre.position(pre.position() + 16) // times
    if ((flags & 0x10) != 0) pre.position(pre.position() + 4) // phase change
    val size0 = (flags & 3) match {
      case 0 => pre.get() & 0xFFL
      case 1 => pre.getShort() & 0xFFFFL
      case 2 => pre.getInt() & 0xFFFFFFFFL
      case _ => pre.getLong()
    }
    val tracked = (flags & 0x04) != 0
    val out = ArrayBuffer.empty[(Int, ByteBuffer)]
    // (block payload address, payload length)
    var blocks = List((addr + pre.position(), size0))
    while (blocks.nonEmpty) {
      val (ba, bl) = blocks.head
      blocks = blocks.tail
      val b = r.bytes(ba, bl.toInt)
      val minHdr = if (tracked) 6 else 4
      var go = true
      while (go && b.remaining() >= minHdr) {
        val t = b.get() & 0xFF
        val sz = b.getShort() & 0xFFFF
        b.get() // message flags
        if (tracked) b.getShort()
        if (b.remaining() < sz) go = false // trailing gap
        else {
          val body = b.slice(); body.limit(sz)
          body.order(ByteOrder.LITTLE_ENDIAN)
          b.position(b.position() + sz)
          if (t == 0x10) {
            // continuation block: OCHK signature + messages + checksum
            val off = body.getLong(0); val len = body.getLong(8)
            blocks ::= ((off + 4, len - 8))
          } else out += ((t, body))
        }
      }
    }
    out.toSeq
  }

  /** child links of a group: symbol-table message or link messages */
  private def links(r: R, msgs: Seq[(Int, ByteBuffer)]): Map[String, Long] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    msgs.foreach {
      case (0x11, b) => // symbol table: B-tree v1 + local heap
        val btree = b.getLong(0); val heap = b.getLong(8)
        walkGroupBtree(r, btree, heapDataAddr(r, heap), out)
      case (0x06, b) => // link message (compact "new-style" group)
        b.position(0)
        parseLinkBody(b).foreach { case (name, hdr) => out(name) = hdr }
      case (0x02, b) => // link info: dense (fractal-heap) storage
        b.position(0)
        b.get()
        val flags = b.get() & 0xFF
        if ((flags & 1) != 0) b.getLong() // max creation index
        val fheap = b.getLong()
        val nameBt = b.getLong()
        if (fheap != Undef) denseLinks(r, fheap, nameBt, out)
      case _ => ()
    }
    out.toMap
  }

  /** one Link message body (v1): returns (name, object header address)
    * for hard links, None for soft/external links */
  private def parseLinkBody(b: ByteBuffer): Option[(String, Long)] = {
    val ver = b.get() & 0xFF
    require(ver == 1, s"link message version $ver")
    val flags = b.get() & 0xFF
    val linkType = if ((flags & 0x08) != 0) b.get() & 0xFF else 0
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen = (flags & 3) match {
      case 0 => b.get() & 0xFFL
      case 1 => b.getShort() & 0xFFFFL
      case 2 => b.getInt() & 0xFFFFFFFFL
      case _ => b.getLong()
    }
    val nb = new Array[Byte](nameLen.toInt); b.get(nb)
    val name = new String(nb, java.nio.charset.StandardCharsets.UTF_8)
    if (linkType == 0) Some(name -> b.getLong()) else None
  }

  /** Dense group links: the name-index v2 B-tree (type 5: hash + heap
    * ID records) enumerates heap IDs; each resolves through the
    * fractal heap's doubling table to a stored Link message.
    * Supported heap profile (what the HDF5 library builds for link
    * storage): managed objects, unfiltered, root direct block or one
    * root indirect block of direct rows. */
  private def denseLinks(r: R, fheapAddr: Long, nameBtAddr: Long,
                         out: scala.collection.mutable.Map[String, Long]): Unit = {
    require(r.raw(fheapAddr, 4).sameElements("FRHP".getBytes),
      "fractal heap header signature expected")
    val h = r.bytes(fheapAddr, 4 + 1 + 2 + 2 + 1 + 4 + 12 * 8 + 2 + 8 + 8 + 2 + 2 + 8 + 2 + 4)
    h.position(4)
    require((h.get() & 0xFF) == 0, "fractal heap version 0 expected")
    h.getShort() // heap ID length: unused, read to advance the buffer
    val filterLen = h.getShort() & 0xFFFF
    require(filterLen == 0, "filtered fractal heaps unsupported")
    val heapFlags = h.get() & 0xFF
    h.getInt() // max managed object size
    h.position(h.position() + 12 * 8) // huge/free/managed statistics
    val tableWidth = h.getShort() & 0xFFFF
    val startBlockSize = h.getLong()
    val maxDirectSize = h.getLong()
    val maxHeapBits = h.getShort() & 0xFFFF
    h.getShort() // starting # rows in root indirect block
    val rootAddr = h.getLong()
    val curRootRows = h.getShort() & 0xFFFF
    val heapOffSize = (maxHeapBits + 7) / 8
    // (direct blocks carry a checksum when heapFlags bit 1 is set; the
    // prefix layout matters to the writer — objects address linearly)
    val _ = heapFlags
    def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val maxDirectRows = log2(maxDirectSize) - log2(startBlockSize) + 2

    // doubling-table row sizes: rows 0 and 1 at the starting size, row
    // i >= 2 at startingSize << (i-1)
    def rowSize(row: Int): Long =
      if (row < 2) startBlockSize else startBlockSize << (row - 1)

    /** file address holding heap offset `off`, walking the root
      * indirect block's direct rows when the heap has grown past one
      * direct block */
    def locate(off: Long): Long = {
      if (curRootRows == 0) { // root direct block holds the whole heap
        require(r.raw(rootAddr, 4).sameElements("FHDB".getBytes),
          "fractal heap direct block signature expected")
        return rootAddr + off
      }
      require(r.raw(rootAddr, 4).sameElements("FHIB".getBytes),
        "fractal heap indirect block signature expected")
      require(curRootRows <= maxDirectRows,
        "fractal heaps with indirect sub-blocks unsupported for dense links")
      val entries = r.bytes(rootAddr + 4 + 1 + 8 + heapOffSize,
        curRootRows * tableWidth * 8)
      var row = 0
      var rowStart = 0L
      while (row < curRootRows) {
        val rs = rowSize(row)
        val rowSpan = rs * tableWidth
        if (off < rowStart + rowSpan) {
          val col = ((off - rowStart) / rs).toInt
          val child = entries.getLong((row * tableWidth + col) * 8)
          require(child != Undef, "heap offset in unallocated direct block")
          return child + (off - rowStart - col * rs)
        }
        rowStart += rowSpan
        row += 1
      }
      throw new IllegalArgumentException(
        s"heap offset $off beyond the root indirect block's direct rows")
    }

    walkBt2(r, nameBtAddr, Set(5)) { (_, rrecSize, b) =>
      b.getInt() // name hash (lookup3 of the link name; enumeration
      // walks every record, so the hash is not consulted)
      val id = new Array[Byte](rrecSize - 4); b.get(id)
      val idType = (id(0) >> 4) & 3
      require(idType == 0, s"fractal heap id type $idType unsupported " +
        "(managed only — huge/tiny objects do not occur for links)")
      var off = 0L
      var i = 0
      while (i < heapOffSize) { off |= (id(1 + i) & 0xFFL) << (8 * i); i += 1 }
      var len = 0L
      i = 0
      val lenBytes = id.length - 1 - heapOffSize
      while (i < lenBytes) {
        len |= (id(1 + heapOffSize + i) & 0xFFL) << (8 * i); i += 1
      }
      val body = ByteBuffer.wrap(r.raw(locate(off), len.toInt))
        .order(ByteOrder.LITTLE_ENDIAN)
      parseLinkBody(body).foreach { case (name, hdr) => out(name) = hdr }
    }
  }

  private def heapDataAddr(r: R, heapAddr: Long): Long = {
    val b = r.bytes(heapAddr, 32)
    require(r.raw(heapAddr, 4).sameElements("HEAP".getBytes),
      "local heap signature expected")
    b.position(8)
    b.getLong() // data segment size
    b.getLong() // free list head
    b.getLong() // data segment address
  }

  private def walkGroupBtree(
      r: R, nodeAddr: Long, heapData: Long,
      out: scala.collection.mutable.Map[String, Long]): Unit = {
    val sig = r.raw(nodeAddr, 4)
    if (sig.sameElements("SNOD".getBytes)) {
      val head = r.bytes(nodeAddr, 8)
      head.position(6)
      val n = head.getShort() & 0xFFFF
      val b = r.bytes(nodeAddr + 8, n * 40)
      (0 until n).foreach { _ =>
        val nameOff = b.getLong()
        val hdr = b.getLong()
        b.position(b.position() + 24) // cache type + reserved + scratch
        out(r.cstring(heapData + nameOff)) = hdr
      }
      return
    }
    require(sig.sameElements("TREE".getBytes), "B-tree v1 signature expected")
    val head = r.bytes(nodeAddr, 24)
    head.position(4)
    val nodeType = head.get() & 0xFF
    require(nodeType == 0, s"group B-tree node type $nodeType")
    head.get() // level (children may be subtrees or SNODs; sniffed)
    val n = head.getShort() & 0xFFFF
    val b = r.bytes(nodeAddr + 24, n * 16 + 8)
    (0 until n).foreach { _ =>
      b.getLong() // key (heap offset)
      walkGroupBtree(r, b.getLong(), heapData, out)
    }
  }

  private def parseDataset(r: R, name: String, addr: Long): Option[Dataset] = {
    val msgs = messages(r, addr)
    var shape: Seq[Int] = null
    var dtype: Dtype = null
    var fillRaw: Array[Byte] = null
    var layoutClass = -1
    var dataAddr = Undef
    var chunkDims: Seq[Int] = Nil
    var btreeAddr = Undef
    var index = ChunkIndex(0, Undef)
    var filters: Seq[Filter] = Nil
    var attrs = Map.empty[String, Seq[Double]]
    var textAttrs = Map.empty[String, String]
    msgs.foreach {
      case (0x01, b) => // dataspace
        b.position(0)
        val ver = b.get() & 0xFF
        val rank = b.get() & 0xFF
        val flags = b.get() & 0xFF
        if (ver == 1) b.position(b.position() + 5)
        else b.get() // v2: dataspace type
        shape = (0 until rank).map(_ => b.getLong().toInt)
        if ((flags & 1) != 0) (0 until rank).foreach(_ => b.getLong())
      case (0x03, b) => // datatype
        b.position(0)
        val cv = b.get() & 0xFF
        val clazz = cv & 0x0F
        val bits0 = b.get() & 0xFF
        b.get(); b.get()
        val size = b.getInt()
        dtype = Dtype(clazz, size, littleEndian = (bits0 & 1) == 0,
          signed = clazz == 0 && (bits0 & 8) != 0)
      case (0x04, b) => // fill value (old)
        b.position(0)
        val sz = b.getInt()
        fillRaw = new Array[Byte](sz); b.get(fillRaw)
      case (0x05, b) => // fill value
        b.position(0)
        val ver = b.get() & 0xFF
        val defined = ver match {
          case 1 | 2 => b.get(); b.get(); (b.get() & 0xFF) == 1
          case _ =>
            val flags = b.get() & 0xFF
            (flags & 0x20) != 0
        }
        if (defined && b.remaining() >= 4) {
          val sz = b.getInt()
          if (sz > 0 && b.remaining() >= sz) {
            fillRaw = new Array[Byte](sz); b.get(fillRaw)
          }
        }
      case (0x08, b) => // data layout
        b.position(0)
        val ver = b.get() & 0xFF
        ver match {
          case 3 =>
            layoutClass = b.get() & 0xFF
            layoutClass match {
              case 0 => // compact: size + data inline — small; keep addr
                throw new IllegalArgumentException(
                  "compact dataset layout unsupported")
              case 1 =>
                dataAddr = b.getLong(); b.getLong()
              case 2 =>
                val dims = b.get() & 0xFF // rank + 1
                btreeAddr = b.getLong()
                val cd = (0 until dims).map(_ => b.getInt())
                chunkDims = cd.dropRight(1) // last entry = element size
                index = ChunkIndex(0, btreeAddr)
              case c => throw new IllegalArgumentException(
                s"layout class $c unsupported")
            }
          case 4 =>
            layoutClass = b.get() & 0xFF
            layoutClass match {
              case 1 =>
                dataAddr = b.getLong(); b.getLong()
              case 2 => // chunked, "latest"-format chunk indexes
                val lflags = b.get() & 0xFF
                val dims = b.get() & 0xFF // rank + 1 (element size last)
                val encLen = b.get() & 0xFF
                val cd = (0 until dims).map { _ =>
                  encLen match {
                    case 1 => (b.get() & 0xFFL)
                    case 2 => (b.getShort() & 0xFFFFL)
                    case 4 => b.getInt() & 0xFFFFFFFFL
                    case 8 => b.getLong()
                    case n => throw new IllegalArgumentException(
                      s"layout v4 dim size length $n unsupported")
                  }
                }
                chunkDims = cd.dropRight(1).map(_.toInt)
                val idxType = b.get() & 0xFF
                index = idxType match {
                  case 1 => // single chunk
                    if ((lflags & 0x02) != 0) {
                      val fsz = b.getLong() // filtered single chunk size
                      val mask = b.getInt() & 0xFFFFFFFFL
                      ChunkIndex(1, b.getLong(), fsz, mask)
                    } else ChunkIndex(1, b.getLong(), -1L)
                  case 2 => // implicit: early-allocated, unfiltered
                    ChunkIndex(2, b.getLong())
                  case 3 => // fixed array: page bits
                    val pageBits = b.get() & 0xFF
                    ChunkIndex(3, b.getLong(), pageBits)
                  case 4 => // extensible array: 5 config bytes (the
                    // header re-states them; addr is all we keep)
                    b.position(b.position() + 5)
                    ChunkIndex(4, b.getLong())
                  case 5 => // v2 B-tree: node size + split/merge %
                    val nodeSize = b.getInt() & 0xFFFFFFFFL
                    b.get(); b.get()
                    ChunkIndex(5, b.getLong(), nodeSize)
                  case t => throw new IllegalArgumentException(
                    s"layout v4 chunk index type $t unsupported")
                }
                btreeAddr = index.addr
              case c => throw new IllegalArgumentException(
                s"layout v4 class $c unsupported")
            }
          case v => throw new IllegalArgumentException(
            s"data layout message version $v unsupported")
        }
      case (0x0C, b) => // attribute (CF mask-and-scale + time units)
        b.position(0)
        parseAttr(b, r).foreach {
          case (k, Right(v)) => attrs += k -> v
          case (k, Left(s)) => textAttrs += k -> s
        }
      case (0x0B, b) => // filter pipeline
        b.position(0)
        val ver = b.get() & 0xFF
        val nf = b.get() & 0xFF
        if (ver == 1) b.position(b.position() + 6)
        filters = (0 until nf).map { _ =>
          val id = b.getShort() & 0xFFFF
          val nameLen =
            if (ver == 1 || id >= 256) b.getShort() & 0xFFFF else 0
          b.getShort() // flags
          val nvals = b.getShort() & 0xFFFF
          if (nameLen > 0) {
            val pad = if (ver == 1) (8 - nameLen % 8) % 8 else 0
            b.position(b.position() + nameLen + pad)
          }
          val vals = (0 until nvals).map(_ => b.getInt())
          if (ver == 1 && nvals % 2 == 1) b.getInt() // v1 pads odd counts
          Filter(id, vals)
        }
      case _ => ()
    }
    if (shape == null || dtype == null) return None // not a dataset (group)
    val fill =
      if (fillRaw == null || fillRaw.length != dtype.size) Double.NaN
      else toDoubles(dtype, fillRaw, 1)(0)
    Some(Dataset(name, shape, dtype, layoutClass, dataAddr, chunkDims,
      btreeAddr, filters, fill, index, attrs, textAttrs))
  }

  /** attribute names CF semantics hang off: silently dropping one of
    * these mis-dates/mis-scales every value (CfTime/CfScale would never
    * run), so an undecodable carrier must fail loudly, not parse-skip */
  private val CfAttrNames = Set("units", "calendar", "scale_factor",
    "add_offset", "_FillValue", "missing_value", "valid_min", "valid_max",
    "valid_range")

  /** escapes parseAttr's parse-error swallow: CF-significant attributes
    * must not be silently dropped */
  private final class CfAttrException(m: String)
    extends IllegalArgumentException(m)

  /** one Attribute message (versions 1-3): Right(values) for numeric
    * scalar/small-array attributes, Left(text) for fixed-length
    * strings (class 3) AND variable-length strings (class 9, resolved
    * through the global heap — h5py/h5netcdf write `units`/`calendar`
    * as vlen by default); None for references, shared datatypes and
    * anything else CF never uses — unless the attribute name is a CF
    * carrier, which throws instead of silently dropping */
  private def parseAttr(b: ByteBuffer,
      r: R): Option[(String, Either[String, Seq[Double]])] = try {
    val ver = b.get() & 0xFF
    if (ver < 1 || ver > 3) return None
    val flags = if (ver == 1) { b.get(); 0 } else b.get() & 0xFF
    val nameSize = b.getShort() & 0xFFFF
    val dtSize = b.getShort() & 0xFFFF
    val dsSize = b.getShort() & 0xFFFF
    if (ver == 3) b.get() // name character-set
    def pad(n: Int): Int = if (ver == 1) (n + 7) / 8 * 8 else n
    val nb = new Array[Byte](nameSize); b.get(nb)
    b.position(b.position() + (pad(nameSize) - nameSize))
    val name = new String(nb.takeWhile(_ != 0),
      java.nio.charset.StandardCharsets.UTF_8)
    def unsupported(what: String): Option[Nothing] =
      if (CfAttrNames(name)) throw new CfAttrException(
        s"attribute '$name' has $what — refusing to silently drop a " +
          "CF-significant attribute")
      else None
    if ((flags & 0x03) != 0) return unsupported("a shared datatype/dataspace")
    val dtStart = b.position()
    val cv = b.get() & 0xFF
    val clazz = cv & 0x0F
    val bits0 = b.get() & 0xFF
    b.get(); b.get()
    val size = b.getInt()
    if (clazz != 0 && clazz != 1 && clazz != 3 && clazz != 9)
      return unsupported(s"unsupported datatype class $clazz")
    val dt = Dtype(clazz, size, littleEndian = (bits0 & 1) == 0,
      signed = clazz == 0 && (bits0 & 8) != 0)
    b.position(dtStart + pad(dtSize))
    val dsStart = b.position()
    val dsVer = b.get() & 0xFF
    val rank = b.get() & 0xFF
    val dsFlags = b.get() & 0xFF
    if (dsVer == 1) b.position(b.position() + 5) else b.get()
    val dims = (0 until rank).map(_ => b.getLong())
    if ((dsFlags & 1) != 0) (0 until rank).foreach(_ => b.getLong())
    b.position(dsStart + pad(dsSize))
    val n = if (rank == 0) 1 else dims.product.toInt
    if (clazz == 9) { // variable-length (class 9): vlen STRING scalar
      if ((bits0 & 0x0F) != 1) // type 0 = vlen sequence (numeric)
        return unsupported("a variable-length sequence datatype")
      if (n != 1 || b.remaining() < 16)
        return unsupported(s"a non-scalar vlen string shape ($n)")
      // vlen datum: {length u32, global-heap collection addr u64,
      // object index u32} — III.E in the format spec
      val len = b.getInt()
      val haddr = b.getLong()
      val idx = b.getInt()
      if (len < 0 || len > (1 << 20))
        return unsupported(s"an implausible vlen length $len")
      val raw = globalHeapObject(r, haddr, idx, len)
      return Some(name -> Left(new String(raw.takeWhile(_ != 0),
        java.nio.charset.StandardCharsets.UTF_8)))
    }
    if (clazz == 3) { // fixed-length string (class 3): one value
      if (n != 1 || size <= 0 || size > 4096 || b.remaining() < size)
        return unsupported(s"an unsupported fixed-string shape")
      val raw = new Array[Byte](size); b.get(raw)
      return Some(name -> Left(new String(raw.takeWhile(_ != 0),
        java.nio.charset.StandardCharsets.UTF_8)))
    }
    if (n <= 0 || n > 16 || b.remaining() < n * size) return None
    val raw = new Array[Byte](n * size); b.get(raw)
    Some(name -> Right(toDoubles(dt, raw, n).toSeq))
  } catch {
    case e: CfAttrException => throw e
    case scala.util.control.NonFatal(_) => None
  }

  /** read global heap object `wantIdx` from the collection at `addr`
    * (format spec III.E): GCOL header, then packed objects of
    * {index u16, refcount u16, reserved u32, size u64, data pad-8};
    * object 0 is the trailing free-space marker */
  private def globalHeapObject(r: R, addr: Long, wantIdx: Int,
                               len: Int): Array[Byte] = {
    val head = r.bytes(addr, 16)
    val sig = new Array[Byte](4); head.get(sig)
    if (!sig.sameElements("GCOL".getBytes))
      throw new IllegalArgumentException("global heap signature expected")
    require((head.get() & 0xFF) == 1, "global heap version 1 expected")
    head.get(); head.get(); head.get() // reserved
    val collSize = head.getLong()
    var off = 16L
    while (off + 16 <= collSize) {
      val ob = r.bytes(addr + off, 16)
      val idx = ob.getShort() & 0xFFFF
      ob.getShort(); ob.getInt() // refcount + reserved
      val osize = ob.getLong()
      if (idx == wantIdx)
        return r.raw(addr + off + 16, math.min(len.toLong, osize).toInt)
      if (idx == 0) // free-space object terminates the used region
        throw new IllegalArgumentException(
          s"global heap object $wantIdx not found")
      off += 16L + (osize + 7) / 8 * 8
    }
    throw new IllegalArgumentException(
      s"global heap object $wantIdx not found in collection")
  }

  // ------------------------------------------------------------ read

  private def chunkIndex(path: String,
                         ds: Dataset): Map[Seq[Long], (Long, Int)] =
    chunkCache.getOrLoad((path, ds.name)) {
      val out = scala.collection.mutable.HashMap.empty[Seq[Long], (Long, Int)]
      if (ds.index.addr != Undef) withRaf(path) { r =>
        r.base = baseOf(path)
        ds.index.kind match {
          case 0 => walkChunkBtree(r, ds.index.addr, ds.shape.length, out)
          case 1 => readSingleChunkIndex(r, ds, out)
          case 2 => readImplicitIndex(r, ds, out)
          case 3 => readFixedArrayIndex(r, ds, out)
          case 4 => readExtensibleArrayIndex(r, ds, out)
          case 5 => readV2BtreeIndex(r, ds, out)
          case k => throw new IllegalArgumentException(
            s"chunk index kind $k unsupported")
        }
      }
      out.toMap
    }

  /** chunk-grid shape (chunks per dimension) */
  private def gridOf(ds: Dataset): Seq[Int] =
    ds.shape.zip(ds.chunkDims).map { case (s, c) => (s + c - 1) / c }

  /** linear (row-major) chunk number -> element-offset key */
  private def keyOfLinear(ds: Dataset, linear: Long): Seq[Long] = {
    val grid = gridOf(ds)
    val coords = new Array[Long](grid.length)
    var rem = linear
    var d = grid.length - 1
    while (d >= 0) {
      coords(d) = (rem % grid(d)) * ds.chunkDims(d)
      rem /= grid(d)
      d -= 1
    }
    coords.toSeq
  }

  private def chunkByteSize(ds: Dataset): Int =
    ds.chunkDims.product * ds.dtype.size

  // ---- layout v4 chunk indexes (HDF5 spec IV.A.2.i "latest" formats).
  // Checksums on these structures are Jenkins lookup3; the reader skips
  // verification (corruption surfaces as a parse failure either way).

  /** index type 1: the dataset is one chunk at the index address */
  private def readSingleChunkIndex(
      r: R, ds: Dataset,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    val sz =
      if (ds.index.p1 >= 0) ds.index.p1.toInt // filtered size from layout
      else chunkByteSize(ds)
    out(ds.shape.map(_ => 0L)) = (ds.index.addr, sz)
  }

  /** index type 2: unfiltered chunks allocated contiguously in
    * row-major chunk order starting at the index address */
  private def readImplicitIndex(
      r: R, ds: Dataset,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    val n = gridOf(ds).map(_.toLong).product
    val sz = chunkByteSize(ds)
    var i = 0L
    while (i < n) {
      out(keyOfLinear(ds, i)) = (ds.index.addr + i * sz, sz)
      i += 1
    }
  }

  /** decode one fixed/extensible-array chunk element: client 0 is a
    * bare address; client 1 is address + chunk size (entrySize-12
    * bytes) + filter mask */
  private def decodeArrayElement(b: ByteBuffer, client: Int,
                                 entrySize: Int): (Long, Int) = {
    val addr = b.getLong()
    if (client == 0) (addr, -1)
    else {
      val szLen = entrySize - 8 - 4
      var sz = 0L
      var i = 0
      while (i < szLen) { sz |= (b.get() & 0xFFL) << (8 * i); i += 1 }
      b.getInt() // filter mask (per-chunk skipped-filter bits; unused)
      (addr, sz.toInt)
    }
  }

  /** index type 3: fixed array — FAHD header + FADB data block, paged
    * past 2^pageBits entries (page bitmap, per-page checksums) */
  private def readFixedArrayIndex(
      r: R, ds: Dataset,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    val h = r.bytes(ds.index.addr, 4 + 1 + 1 + 1 + 1 + 8 + 8 + 4)
    require(r.raw(ds.index.addr, 4).sameElements("FAHD".getBytes),
      "fixed array header signature expected")
    h.position(4)
    require((h.get() & 0xFF) == 0, "fixed array version 0 expected")
    val client = h.get() & 0xFF
    require(client == 0 || client == 1,
      s"fixed array client $client unsupported")
    val entrySize = h.get() & 0xFF
    val pageBits = h.get() & 0xFF
    val maxEntries = h.getLong()
    val dblkAddr = h.getLong()
    if (dblkAddr == Undef) return
    val defaultSz = chunkByteSize(ds)
    val pageEntries = 1L << pageBits
    val paged = maxEntries > pageEntries
    val prefix = 4 + 1 + 1 + 8 // FADB sig + version + client + hdr addr
    require(r.raw(dblkAddr, 4).sameElements("FADB".getBytes),
      "fixed array data block signature expected")
    def put(i: Long, e: (Long, Int)): Unit =
      if (e._1 != Undef)
        out(keyOfLinear(ds, i)) = (e._1, if (e._2 < 0) defaultSz else e._2)
    if (!paged) {
      val b = r.bytes(dblkAddr + prefix, (maxEntries * entrySize).toInt)
      var i = 0L
      while (i < maxEntries) { put(i, decodeArrayElement(b, client, entrySize)); i += 1 }
    } else {
      val npages = (maxEntries + pageEntries - 1) / pageEntries
      val bitmapBytes = ((npages + 7) / 8).toInt
      val bitmap = r.raw(dblkAddr + prefix, bitmapBytes)
      // pages start after the data block's own prefix+bitmap+checksum
      var pageAddr = dblkAddr + prefix + bitmapBytes + 4
      var p = 0L
      while (p < npages) {
        val inPage = math.min(pageEntries, maxEntries - p * pageEntries)
        // MSB-first bit order (H5VM_bit_get)
        val initialized =
          (bitmap(p.toInt / 8) & (1 << (7 - (p.toInt % 8)))) != 0
        if (initialized) {
          val b = r.bytes(pageAddr, (inPage * entrySize).toInt)
          var i = 0L
          while (i < inPage) {
            put(p * pageEntries + i, decodeArrayElement(b, client, entrySize))
            i += 1
          }
        }
        pageAddr += inPage * entrySize + 4 // + page checksum
        p += 1
      }
    }
  }

  /** index type 4: extensible array — EAHD header, EAIB index block
    * (direct elements + early data-block pointers), EASB super blocks,
    * EADB data blocks (paged past 2^maxDblkPageBits elements) */
  private def readExtensibleArrayIndex(
      r: R, ds: Dataset,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    val h = r.bytes(ds.index.addr, 4 + 2 + 6 + 6 * 8 + 8 + 4)
    require(r.raw(ds.index.addr, 4).sameElements("EAHD".getBytes),
      "extensible array header signature expected")
    h.position(4)
    require((h.get() & 0xFF) == 0, "extensible array version 0 expected")
    val client = h.get() & 0xFF
    require(client == 0 || client == 1,
      s"extensible array client $client unsupported")
    val entrySize = h.get() & 0xFF
    val maxBits = h.get() & 0xFF
    val idxElmts = h.get() & 0xFF
    val minElmts = h.get() & 0xFF
    val minPtrs = h.get() & 0xFF
    val pageBits = h.get() & 0xFF
    h.position(h.position() + 6 * 8) // stored statistics
    val iblkAddr = h.getLong()
    if (iblkAddr == Undef) return
    val defaultSz = chunkByteSize(ds)
    val offBytes = (maxBits + 7) / 8 // block-offset field size
    val pageElmts = 1L << pageBits
    def log2(v: Int): Int = 63 - java.lang.Long.numberOfLeadingZeros(v.toLong)
    // super block u: 2^(u/2) data blocks of 2^((u+1)/2)*minElmts elements
    val nsblks = 1 + maxBits - log2(minElmts)
    val sblkNdblks = (0 until nsblks).map(u => 1L << (u / 2))
    val sblkDblkElmts = (0 until nsblks).map(u => (1L << ((u + 1) / 2)) * minElmts)
    val sblkStartIdx = sblkDblkElmts.zip(sblkNdblks)
      .scanLeft(0L) { case (acc, (ne, nd)) => acc + ne * nd }
    val firstRealSblk = 2 * log2(minPtrs)
    val iblkDblks = 2 * (minPtrs - 1) // early data blocks, iblock-pointed

    def put(i: Long, e: (Long, Int)): Unit =
      if (e._1 != Undef)
        out(keyOfLinear(ds, i)) = (e._1, if (e._2 < 0) defaultSz else e._2)

    /** read one EADB holding `nelmts` elements whose first element is
      * array index `startIdx` (index-block space excluded); `pageInit`
      * answers whether page p is initialized (bitmap in the parent
      * super block — uninitialized pages hold garbage, not chunks) */
    def readDataBlock(addr: Long, startIdx: Long, nelmts: Long,
                      pageInit: Long => Boolean): Unit = {
      if (addr == Undef) return
      require(r.raw(addr, 4).sameElements("EADB".getBytes),
        "extensible array data block signature expected")
      val prefix = 4 + 1 + 1 + 8 + offBytes
      if (nelmts <= pageElmts) {
        val b = r.bytes(addr + prefix, (nelmts * entrySize).toInt)
        var i = 0L
        while (i < nelmts) {
          put(idxElmts + startIdx + i, decodeArrayElement(b, client, entrySize))
          i += 1
        }
      } else {
        // paged: prefix + checksum, then pages of pageElmts + checksum
        var pageAddr = addr + prefix + 4
        var p = 0L
        val npages = nelmts / pageElmts
        while (p < npages) {
          if (pageInit(p)) {
            val b = r.bytes(pageAddr, (pageElmts * entrySize).toInt)
            var i = 0L
            while (i < pageElmts) {
              put(idxElmts + startIdx + p * pageElmts + i,
                decodeArrayElement(b, client, entrySize))
              i += 1
            }
          }
          pageAddr += pageElmts * entrySize + 4
          p += 1
        }
      }
    }

    require(r.raw(iblkAddr, 4).sameElements("EAIB".getBytes),
      "extensible array index block signature expected")
    val iblkPrefix = 4 + 1 + 1 + 8
    val nsblkAddrs = math.max(0, nsblks - firstRealSblk)
    val ib = r.bytes(iblkAddr + iblkPrefix,
      (idxElmts * entrySize + (iblkDblks + nsblkAddrs) * 8).toInt)
    var i = 0
    while (i < idxElmts) { // elements stored directly in the index block
      put(i.toLong, decodeArrayElement(ib, client, entrySize))
      i += 1
    }
    // early data blocks (super blocks 0 .. firstRealSblk-1), pointed
    // straight from the index block
    var u = 0
    while (u < firstRealSblk && u < nsblks) {
      require(sblkDblkElmts(u) <= pageElmts,
        "index-block-pointed extensible-array data blocks must be unpaged")
      var d = 0L
      while (d < sblkNdblks(u)) {
        val addr = ib.getLong()
        readDataBlock(addr, sblkStartIdx(u) + d * sblkDblkElmts(u),
          sblkDblkElmts(u), _ => true)
        d += 1
      }
      u += 1
    }
    // real super blocks: EASB prefix + [page bitmap] + data block addrs
    while (u < nsblks) {
      val sAddr = ib.getLong()
      if (sAddr != Undef) {
        require(r.raw(sAddr, 4).sameElements("EASB".getBytes),
          "extensible array super block signature expected")
        val dblkPages =
          if (sblkDblkElmts(u) > pageElmts) sblkDblkElmts(u) / pageElmts else 0L
        val bitmapBytes = ((sblkNdblks(u) * dblkPages + 7) / 8).toInt
        val sb = r.bytes(sAddr + 4 + 1 + 1 + 8 + offBytes,
          bitmapBytes + (sblkNdblks(u) * 8).toInt)
        val bitmap = new Array[Byte](bitmapBytes)
        sb.get(bitmap) // page-init bitmap covers every paged dblk's pages
        var d = 0L
        while (d < sblkNdblks(u)) {
          val dFixed = d
          readDataBlock(sb.getLong(),
            sblkStartIdx(u) + d * sblkDblkElmts(u), sblkDblkElmts(u),
            p => {
              val bit = dFixed * dblkPages + p
              (bitmap((bit / 8).toInt) & (1 << (7 - (bit % 8).toInt))) != 0
            })
          d += 1
        }
      }
      u += 1
    }
  }

  /** bytes needed to encode values up to `limit` (H5VM_limit_enc_size) */
  private def encSize(limit: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(math.max(limit, 1L))) / 8 + 1

  /** Walk every record of a v2 B-tree (BTHD header, BTIN internal
    * nodes — records then child pointers — and BTLF leaves), calling
    * `onRecord(btreeType, recordSize, buf)` with the buffer positioned
    * at each record. Child-pointer field widths follow the H5B2 sizing
    * rules (per-level record capacities from node and record size). */
  private def walkBt2(r: R, hdrAddr: Long, wantTypes: Set[Int])
                     (onRecord: (Int, Int, ByteBuffer) => Unit): Unit = {
    require(r.raw(hdrAddr, 4).sameElements("BTHD".getBytes),
      "v2 B-tree header signature expected")
    val h = r.bytes(hdrAddr, 4 + 1 + 1 + 4 + 2 + 2 + 1 + 1 + 8 + 2 + 8 + 4)
    h.position(4)
    require((h.get() & 0xFF) == 0, "v2 B-tree version 0 expected")
    val btype = h.get() & 0xFF
    require(wantTypes.contains(btype),
      s"v2 B-tree type $btype unexpected (wanted $wantTypes)")
    val nodeSize = h.getInt()
    val rrecSize = h.getShort() & 0xFFFF
    val depth = h.getShort() & 0xFFFF
    h.get(); h.get() // split/merge percent
    val rootAddr = h.getLong()
    val rootNrec = h.getShort() & 0xFFFF
    h.getLong() // total records
    if (rootAddr == Undef) return

    val leafMax = (nodeSize - 10) / rrecSize
    val maxNrecSize = encSize(leafMax.toLong)
    val cumMax = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    cumMax(0) = leafMax.toLong; cumSize(0) = 0
    (1 to depth).foreach { u =>
      val ptr = 8 + maxNrecSize + cumSize(u - 1)
      val intMax = (nodeSize - (10 + ptr)) / (rrecSize + ptr)
      cumMax(u) = (intMax.toLong + 1) * cumMax(u - 1) + intMax
      cumSize(u) = encSize(cumMax(u))
    }

    def walk(addr: Long, nrec: Int, level: Int): Unit = {
      val sig = r.raw(addr, 4)
      if (level == 0) {
        require(sig.sameElements("BTLF".getBytes), "BTLF leaf expected")
        val b = r.bytes(addr + 6, nrec * rrecSize)
        (0 until nrec).foreach(_ => onRecord(btype, rrecSize, b))
      } else {
        require(sig.sameElements("BTIN".getBytes), "BTIN internal expected")
        val recs = r.bytes(addr + 6, nrec * rrecSize)
        (0 until nrec).foreach(_ => onRecord(btype, rrecSize, recs))
        val ptrSize = 8 + maxNrecSize + (if (level > 1) cumSize(level - 1) else 0)
        val ptrs = r.bytes(addr + 6 + nrec * rrecSize, (nrec + 1) * ptrSize)
        (0 to nrec).foreach { _ =>
          val caddr = ptrs.getLong()
          var cnrec = 0L
          var i = 0
          while (i < maxNrecSize) { cnrec |= (ptrs.get() & 0xFFL) << (8 * i); i += 1 }
          if (level > 1) (0 until cumSize(level - 1)).foreach(_ => ptrs.get())
          walk(caddr, cnrec.toInt, level - 1)
        }
      }
    }
    walk(rootAddr, rootNrec, depth)
  }

  /** index type 5: v2 B-tree with chunk records (record type 10
    * unfiltered: address + scaled offsets; 11 filtered: + size, mask) */
  private def readV2BtreeIndex(
      r: R, ds: Dataset,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    val rank = ds.shape.length
    val defaultSz = chunkByteSize(ds)
    walkBt2(r, ds.index.addr, Set(10, 11)) { (btype, rrecSize, b) =>
      val addr = b.getLong()
      var sz = defaultSz.toLong
      if (btype == 11) {
        val szLen = rrecSize - 8 - 4 - rank * 8
        sz = 0L
        var i = 0
        while (i < szLen) { sz |= (b.get() & 0xFFL) << (8 * i); i += 1 }
        b.getInt() // filter mask
      }
      val scaled = (0 until rank).map(_ => b.getLong())
      if (addr != Undef)
        out(scaled.zip(ds.chunkDims).map { case (s, c) => s * c }) =
          (addr, sz.toInt)
    }
  }

  // base addresses are nearly always 0; re-derive (once per path) for
  // the rare userblock case so fresh RAFs match parse-time addressing
  private val baseCache = StoreCache.memo[String, Long](identity)
  private def baseOf(path: String): Long =
    baseCache.getOrLoad(path)(withRaf(path)(findSuperblock))

  private def walkChunkBtree(
      r: R, nodeAddr: Long, rank: Int,
      out: scala.collection.mutable.Map[Seq[Long], (Long, Int)]): Unit = {
    require(r.raw(nodeAddr, 4).sameElements("TREE".getBytes),
      "chunk B-tree v1 signature expected")
    val head = r.bytes(nodeAddr, 24)
    head.position(4)
    val nodeType = head.get() & 0xFF
    require(nodeType == 1, s"chunk B-tree node type $nodeType")
    val level = head.get() & 0xFF
    val n = head.getShort() & 0xFFFF
    val keySize = 8 + (rank + 1) * 8
    val b = r.bytes(nodeAddr + 24, n * (keySize + 8) + keySize)
    (0 until n).foreach { _ =>
      val sz = b.getInt()
      b.getInt() // filter mask
      val offs = (0 to rank).map(_ => b.getLong()).dropRight(1)
      val child = b.getLong()
      if (level == 0) out(offs) = (child, sz)
      else walkChunkBtree(r, child, rank, out)
    }
  }

  /** one chunk of a 3-D variable as double[chunk elements]; missing
    * chunks read as the fill value (same contract as zarr) */
  def readChunk(path: String, ds: Dataset, idx: Seq[Int]): Array[Double] = {
    val chunks =
      if (ds.layoutClass == 2) ds.chunkDims
      else Seq(1) ++ ds.shape.drop(1) // contiguous = one slice per chunk
    val n = chunks.product
    if (ds.layoutClass == 1) {
      if (ds.dataAddr == Undef) return Array.fill(n)(ds.fill)
      val sliceBytes = n.toLong * ds.dtype.size
      val raw = withRaf(path) { r =>
        r.base = baseOf(path)
        r.raw(ds.dataAddr + idx.head * sliceBytes, n * ds.dtype.size)
      }
      return toDoubles(ds.dtype, raw, n)
    }
    val key = idx.zip(chunks).map { case (i, c) => i.toLong * c }
    chunkIndex(path, ds).get(key) match {
      case None => Array.fill(n)(ds.fill)
      case Some((addr, sz)) =>
        var bytes = withRaf(path) { r =>
          r.base = baseOf(path); r.raw(addr, sz)
        }
        ds.filters.reverse.foreach(f =>
          bytes = unfilter(f, bytes, ds.dtype, chunkByteSize(ds)))
        toDoubles(ds.dtype, bytes, n)
    }
  }

  /** whole 1-D dataset (coordinate axes) */
  def read1d(path: String, ds: Dataset): Array[Double] = {
    require(ds.shape.length == 1, s"${ds.name} is not 1-D")
    val n = ds.shape.head
    if (ds.layoutClass == 1) {
      if (ds.dataAddr == Undef) return Array.fill(n)(ds.fill) // unallocated
      val raw = withRaf(path) { r =>
        r.base = baseOf(path); r.raw(ds.dataAddr, n * ds.dtype.size)
      }
      return toDoubles(ds.dtype, raw, n)
    }
    val c = ds.chunkDims.head
    val out = new Array[Double](n)
    (0 until (n + c - 1) / c).foreach { ci =>
      val chunk = readChunk(path, ds, Seq(ci))
      val len = math.min(c, n - ci * c)
      System.arraycopy(chunk, 0, out, ci * c, len)
    }
    out
  }

  private def unfilter(f: Filter, bytes: Array[Byte], dt: Dtype,
                       expected: Int): Array[Byte] = f.id match {
    case 1 => // deflate
      val inf = new Inflater()
      inf.setInput(bytes)
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k == 0 && inf.needsInput())
          throw new IllegalArgumentException("truncated deflate chunk")
        out.write(buf, 0, k)
      }
      inf.end()
      out.toByteArray
    case 2 => // shuffle: s byte planes of n elements -> interleaved
      val s = f.values.headOption.getOrElse(dt.size)
      if (s <= 1) bytes
      else {
        val n = bytes.length / s
        val out = new Array[Byte](bytes.length)
        var j = 0
        while (j < s) {
          var i = 0
          while (i < n) { out(i * s + j) = bytes(j * n + i); i += 1 }
          j += 1
        }
        // trailing bytes (length not divisible by s) pass through
        System.arraycopy(bytes, n * s, out, n * s, bytes.length - n * s)
        out
      }
    case 3 => bytes.dropRight(4) // fletcher32: strip stored checksum
    // ---- registered filters real-world NC4 increasingly carries (the
    // public HDF5 plugin registry ids); codecs shared with the zarr tier
    case 32015 => // zstd (plugin id 32015): payload is one zstd frame
      val sz = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
      val n = if (sz > 0 && sz <= Int.MaxValue) sz.toInt else expected
      val out = new Array[Byte](n)
      val k = com.github.luben.zstd.Zstd.decompressByteArray(
        out, 0, n, bytes, 0, bytes.length)
      if (k < n) java.util.Arrays.copyOf(out, k.toInt) else out
    case 32001 => // blosc (plugin id 32001): self-describing frame
      Blosc.decode(bytes)
    case 32004 => // lz4 (plugin id 32004): BE u64 total + BE u32 block
      // size, then per block a BE u32 compressed length + lz4 payload
      // (stored raw when clen == remaining block size)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      val total = bb.getLong(0)
      require(total >= 0 && total <= Int.MaxValue,
        s"lz4 filter total size $total out of range")
      val blockSize0 = bb.getInt(8)
      val blockSize =
        if (blockSize0 <= 0) total.toInt else blockSize0
      val out = new Array[Byte](total.toInt)
      var p = 12
      var o = 0
      while (o < total) {
        val remaining = math.min(blockSize.toLong, total - o).toInt
        val clen = bb.getInt(p); p += 4
        if (clen == remaining) { // stored uncompressed
          System.arraycopy(bytes, p, out, o, remaining)
        } else {
          require(Blosc.lz4Decompress(bytes, p, clen, out, o, remaining),
            "malformed lz4 block in HDF5 filter 32004")
        }
        p += clen
        o += remaining
      }
      out
    case id => throw new IllegalArgumentException(
      s"HDF5 filter id $id unsupported " +
        "(deflate/shuffle/fletcher32/zstd/blosc/lz4)")
  }

  private def toDoubles(dt: Dtype, bytes: Array[Byte],
                        n: Int): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes).order(
      if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    (dt.clazz, dt.size) match {
      case (1, 8) => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case (1, 4) =>
        while (i < n) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
      case (0, 1) =>
        if (dt.signed) while (i < n) { out(i) = bb.get(i).toDouble; i += 1 }
        else while (i < n) { out(i) = (bb.get(i) & 0xFF).toDouble; i += 1 }
      case (0, 2) =>
        if (dt.signed)
          while (i < n) { out(i) = bb.getShort(i * 2).toDouble; i += 1 }
        else
          while (i < n) { out(i) = (bb.getShort(i * 2) & 0xFFFF).toDouble; i += 1 }
      case (0, 4) =>
        if (dt.signed)
          while (i < n) { out(i) = bb.getInt(i * 4).toDouble; i += 1 }
        else
          while (i < n) { out(i) = (bb.getInt(i * 4) & 0xFFFFFFFFL).toDouble; i += 1 }
      case (0, 8) => while (i < n) { out(i) = bb.getLong(i * 8).toDouble; i += 1 }
      case (c, s) => throw new IllegalArgumentException(
        s"HDF5 datatype class $c size $s unsupported")
    }
    out
  }

  // ----------------------------------------------------------- write

  /** Jenkins lookup3 "hashlittle" — the checksum on every v2-format
    * HDF5 metadata structure and the dense-group link-name hash. */
  private[graft] def lookup3(data: Array[Byte], init: Int = 0): Int = {
    def rot(x: Int, k: Int): Int = Integer.rotateLeft(x, k)
    var a = 0xdeadbeef + data.length + init
    var b = a
    var c = a
    var off = 0
    var len = data.length
    def word(i: Int, n: Int): Int = {
      var v = 0
      var j = 0
      while (j < n) { v |= (data(off + i * 4 + j) & 0xFF) << (8 * j); j += 1 }
      v
    }
    while (len > 12) {
      a += word(0, 4); b += word(1, 4); c += word(2, 4)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      off += 12; len -= 12
    }
    if (len > 0) {
      a += word(0, math.min(4, len))
      if (len > 4) b += word(1, math.min(4, len - 4))
      if (len > 8) c += word(2, math.min(4, len - 8))
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c
  }

  /** little-endian growable buffer with address patching */
  private final class W {
    private var buf = new Array[Byte](1 << 16)
    private var len = 0
    def pos: Long = len.toLong
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def u8(v: Int): Unit = { ensure(1); buf(len) = v.toByte; len += 1 }
    def u16(v: Int): Unit = { u8(v & 0xFF); u8((v >> 8) & 0xFF) }
    def u32(v: Long): Unit = { u16((v & 0xFFFF).toInt); u16(((v >> 16) & 0xFFFF).toInt) }
    def u64(v: Long): Unit = { u32(v & 0xFFFFFFFFL); u32(v >>> 32) }
    def f64(v: Double): Unit = u64(java.lang.Double.doubleToRawLongBits(v))
    def bytes(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length }
    def zeros(n: Int): Unit = { ensure(n); len += n }
    def patch64(at: Long, v: Long): Unit = {
      var i = 0
      while (i < 8) { buf(at.toInt + i) = ((v >> (8 * i)) & 0xFF).toByte; i += 1 }
    }
    def slice(from: Long, until: Long): Array[Byte] =
      java.util.Arrays.copyOfRange(buf, from.toInt, until.toInt)
    /** append the lookup3 checksum of everything since `from` */
    def checksum(from: Long): Unit = u32(lookup3(slice(from, pos)) & 0xFFFFFFFFL)
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  /** Export a cube as an NC4-style HDF5 file: contiguous f8 coordinate
    * variables (time = epoch microseconds), chunked f8 data variables.
    * Same driver-side caveat as [[NetcdfStore.writeNetcdf]] (collects
    * the cube; fixtures/export).
    *
    * `indexType` selects the chunk index: `btree1` (v3 layout, the
    * netcdf-c default profile) or the layout-v4 "latest" indexes —
    * `single`, `implicit`, `fixedarray`, `fixedarray-paged`,
    * `extarray`, `btree2`. All but `implicit` and `btree1`-compatible
    * shapes keep the shuffle+deflate pipeline (implicit indexes
    * require unfiltered chunks by definition). `denseGroup` stores the
    * root group's links densely (fractal heap + name-index v2 B-tree)
    * instead of a symbol table. */
  def writeHdf5(cube: graft.cube.CubeFrame, path: String, chunkY: Int,
                chunkX: Int, deflateLevel: Int = 6,
                indexType: String = "btree1",
                denseGroup: Boolean = false,
                cfAttrs: Option[(Double, Double)] = None,
                timeUnits: Option[String] = None,
                timeCalendar: Option[String] = None,
                vlenTimeAttrs: Boolean = false,
                compression: String = "deflate"): Unit = {
    import org.apache.spark.sql.functions.col
    val g = cube.grid
    val times = cube.df.select(col("time")).distinct().orderBy(col("time"))
      .collect().map(_.getTimestamp(0))
    val (nt, nh, nw) = (times.length, g.height, g.width)
    val tIdx = times.zipWithIndex.toMap

    val timeUs = times.map(t =>
      (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toDouble)
    val latArr = (0 until nh).map(g.latOfY).toArray
    val lonArr = (0 until nw).map(g.lonOfX).toArray
    // extra non-spatial dims (time × depth × lat × lon): every chunk
    // index type writes rank-(3+k) files — extras chunk at 1 (one
    // chunk per (time, plane, tile), the zarr layout) except `single`,
    // whose one chunk covers the whole array
    val extras = cube.extraDims
    val extraLens = extras.map(_.values.length)
    val ne = extraLens.map(_.toLong).product
    val eIdx: Seq[Map[Double, Int]] =
      extras.map(_.values.zipWithIndex.toMap)
    val cellCount = nt.toLong * ne * nh * nw
    require(cellCount <= Int.MaxValue / 8,
      s"writeHdf5 builds in memory; $cellCount cells too large")
    val varData: Map[String, Array[Double]] = cube.variables.map { v =>
      val arr = NanArray(cellCount.toInt)
      val extraCols = extras.map(ed => col(ed.name))
      cube.df.select(Seq(col("time"), col("y_idx"), col("x_idx"),
          col(v).cast("double")) ++ extraCols: _*).collect().foreach { r =>
        val t = tIdx(r.getTimestamp(0))
        var lead = t.toLong
        extras.indices.foreach { k =>
          lead = lead * extraLens(k) + eIdx(k)(r.getDouble(4 + k))
        }
        arr(((lead * nh + r.getInt(1)) * nw + r.getInt(2)).toInt) =
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
      }
      v -> arr
    }.toMap

    // symbol tables are sorted by name — a B-tree format invariant:
    // external readers do binary search over SNOD entries, so an
    // unsorted table reads as silently missing variables
    val names = (cube.variables ++ Seq("lat", "lon", "time") ++
      extras.map(_.name)).sorted
    require(names.distinct == names, "dataset names must be unique")
    // K and the SNOD symbol count are u16 fields; past this they would
    // wrap silently into a structurally corrupt file
    require(names.length <= 65000,
      s"writeHdf5 supports at most 65000 datasets, got ${names.length}")
    // one SNOD holds at most 2 * leafK symbols; the HDF5 library reads
    // a node at its FULL K-implied allocation, so K is sized to the
    // actual name count and the SNOD padded to exactly 2K entries
    val GroupLeafK = math.max(4, (names.length + 1) / 2)
    val w = new W

    // ---- superblock v0 (96 bytes)
    w.bytes(Magic)
    w.u8(0); w.u8(0); w.u8(0); w.u8(0); w.u8(0) // versions + reserved
    w.u8(8); w.u8(8); w.u8(0) // offset size, length size, reserved
    w.u16(GroupLeafK); w.u16(16) // group leaf K, group internal K
    w.u32(0) // consistency flags
    w.u64(0) // base address
    w.u64(Undef) // free-space info
    val eofPatch = w.pos; w.u64(0) // end of file (patched)
    w.u64(Undef) // driver info
    w.u64(0) // root STE: link name offset
    val rootHdrPatch = w.pos; w.u64(0) // root object header (patched)
    w.u32(0); w.u32(0) // cache type + reserved
    w.zeros(16) // scratch

    // ---- root group object header v1: a symbol-table message, or a
    // link-info message pointing at dense (fractal heap + B-tree v2)
    // link storage
    w.patch64(rootHdrPatch, w.pos)
    var fheapPatch = 0L
    var nameBtPatch = 0L
    var hdrPatches: Map[String, Long] = Map.empty
    val hdrAddrs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    if (denseGroup) {
      w.u8(1); w.u8(0); w.u16(1); w.u32(1); w.u32(32); w.zeros(4)
      w.u16(0x02); w.u16(24); w.u8(0); w.zeros(3)
      val before = w.pos
      w.u8(0); w.u8(0) // link info v0, no creation-order tracking
      fheapPatch = w.pos; w.u64(0)
      nameBtPatch = w.pos; w.u64(0)
      w.zeros((24 - (w.pos - before)).toInt)
    } else {
      w.u8(1); w.u8(0); w.u16(1); w.u32(1); w.u32(24); w.zeros(4)
      w.u16(0x11); w.u16(16); w.u8(0); w.zeros(3)
      val btreePatch = w.pos; w.u64(0)
      val heapPatch = w.pos; w.u64(0)

      // ---- local heap: 8 reserved zero bytes (the empty-string key at
      // offset 0 sorts before every name), then NUL-terminated names
      val nameOffsets = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var heapOff = 8L
      names.foreach { n =>
        nameOffsets(n) = heapOff
        val nb = n.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        heapOff += (nb.length + 1 + 7) / 8 * 8
      }
      w.patch64(heapPatch, w.pos)
      w.bytes("HEAP".getBytes); w.u8(0); w.zeros(3)
      w.u64(heapOff) // data segment size
      w.u64(Undef) // free list head (none)
      w.u64(w.pos + 8) // data segment address (directly after)
      w.zeros(8)
      names.foreach { n =>
        val nb = n.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        w.bytes(nb); w.zeros(((nb.length + 1 + 7) / 8 * 8) - nb.length)
      }

      // ---- group B-tree v1: single level-0 node over one SNOD, padded
      // to the full internal-K=16 allocation (24 + 2K*16 + 8 bytes) the
      // library reads per node
      w.patch64(btreePatch, w.pos)
      val btreeStart = w.pos
      w.bytes("TREE".getBytes); w.u8(0); w.u8(0); w.u16(1)
      w.u64(Undef); w.u64(Undef)
      w.u64(0) // key 0: empty string (before all names)
      val snodPatch = w.pos; w.u64(0)
      w.u64(nameOffsets(names.last)) // key 1: last name in the child
      w.zeros(((24 + 2 * 16 * 16 + 8) - (w.pos - btreeStart)).toInt)

      // ---- SNOD with every dataset, sorted; padded to 2K entries
      w.patch64(snodPatch, w.pos)
      w.bytes("SNOD".getBytes); w.u8(1); w.u8(0); w.u16(names.length)
      hdrPatches = names.map { n =>
        w.u64(nameOffsets(n))
        val p = w.pos; w.u64(0) // object header (patched)
        w.u32(0); w.u32(0); w.zeros(16)
        n -> p
      }.toMap
      w.zeros((2 * GroupLeafK - names.length) * 40)
    }

    /** record the object header address for `name`: patched into the
      * SNOD (symbol-table mode) or kept for the dense link builder */
    def announce(name: String): Unit =
      if (denseGroup) hdrAddrs(name) = w.pos
      else w.patch64(hdrPatches(name), w.pos)

    def msg(t: Int, bodySize: Int)(body: => Unit): Unit = {
      val padded = (bodySize + 7) / 8 * 8
      w.u16(t); w.u16(padded); w.u8(0); w.zeros(3)
      val before = w.pos
      body
      w.zeros((padded - (w.pos - before)).toInt)
    }
    def dtypeF64Msg(): Unit = msg(0x03, 20) {
      w.u8(0x11) // version 1, class 1 (float)
      w.u8(0x20); w.u8(0x3F); w.u8(0) // LE, IEEE mantissa norm, sign bit 63
      w.u32(8)
      w.u16(0); w.u16(64) // bit offset, precision
      w.u8(52); w.u8(11); w.u8(0); w.u8(52) // exp loc/size, mant loc/size
      w.u32(1023) // exponent bias
    }
    def fillMsg(): Unit = msg(0x05, 16) {
      w.u8(2); w.u8(2); w.u8(0); w.u8(1) // v2, alloc late, write alloc, defined
      w.u32(8); w.f64(Double.NaN)
    }
    def pad8g(n: Int): Int = (n + 7) / 8 * 8
    /** fixed-string scalar attribute (v1 message) — the CF `units`
      * carrier; datatype class 3, null-terminated */
    def attrMsgText(aname: String, value: String): Unit = {
      val nb = aname.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val vb = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nsize = nb.length + 1
      val vsize = vb.length + 1
      msg(0x0C, 8 + pad8g(nsize) + 8 + 8 + vsize) {
        w.u8(1); w.u8(0) // attribute v1
        w.u16(nsize); w.u16(8); w.u16(8)
        w.bytes(nb); w.zeros(pad8g(nsize) - nb.length)
        w.u8(0x13); w.u8(0); w.u8(0); w.u8(0) // fixed string, NUL-padded
        w.u32(vsize.toLong)
        w.u8(1); w.u8(0); w.u8(0); w.zeros(5) // scalar dataspace v1
        w.bytes(vb); w.u8(0)
      }
    }
    def textAttrBytes(aname: String, value: String): Int =
      8 + pad8g(8 + pad8g(aname.length + 1) + 8 + 8 + value.length + 1)
    /** vlen-string scalar attribute (class 9, the layout h5py emits for
      * str attrs): the value is a 16-byte global-heap datum reference;
      * returns the patch position for the collection address, to be
      * filled once the GCOL is written after the dataset's data */
    def attrMsgVlen(aname: String, value: String): Long = {
      val nb = aname.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val vb = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nsize = nb.length + 1
      var patch = 0L
      msg(0x0C, 8 + pad8g(nsize) + 16 + 8 + 16) {
        w.u8(1); w.u8(0) // attribute v1
        w.u16(nsize); w.u16(16); w.u16(8)
        w.bytes(nb); w.zeros(pad8g(nsize) - nb.length)
        w.u8(0x19); w.u8(1); w.u8(0); w.u8(0) // class 9 v1, type=string
        w.u32(16) // vlen datum size: len u32 + addr u64 + index u32
        w.u8(0x13); w.u8(0); w.u8(0); w.u8(0); w.u32(1) // base: 1-byte str
        w.u8(1); w.u8(0); w.u8(0); w.zeros(5) // scalar dataspace v1
        w.u32(vb.length.toLong)
        patch = w.pos; w.u64(0) // GCOL address, patched later
        w.u32(1) // heap object index
      }
      patch
    }
    def vlenAttrBytes(aname: String): Int =
      8 + pad8g(8 + pad8g(aname.length + 1) + 16 + 8 + 16)
    /** one-object global heap collection holding `value` (spec III.E:
      * GCOL header, object 1, trailing free-space object 0) */
    def writeGcolString(value: String): Long = {
      val addr = w.pos
      val vb = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val objBody = (vb.length + 7) / 8 * 8
      w.bytes("GCOL".getBytes); w.u8(1); w.zeros(3)
      w.u64(16L + 16L + objBody + 16L) // header + object + free marker
      w.u16(1); w.u16(1); w.u32(0) // index 1, refcount 1
      w.u64(vb.length.toLong)
      w.bytes(vb); w.zeros(objBody - vb.length)
      w.u16(0); w.u16(0); w.u32(0); w.u64(16) // free-space object
      addr
    }
    def spaceMsg(dims: Seq[Int]): Unit = msg(0x01, 8 + dims.length * 8) {
      w.u8(1); w.u8(dims.length); w.u8(0); w.zeros(5)
      dims.foreach(d => w.u64(d.toLong))
    }

    // ---- contiguous coordinate dataset: header + raw doubles
    def writeCoord(name: String, data: Array[Double],
                   textAttr: Seq[(String, String)] = Nil,
                   vlenAttrs: Boolean = false): Unit = {
      announce(name)
      val extra =
        if (vlenAttrs) textAttr.map { case (an, _) => vlenAttrBytes(an) }.sum
        else textAttr.map { case (an, av) => textAttrBytes(an, av) }.sum
      // dataspace 24 | datatype 32 | fill 24 | [attr] | layout 32
      w.u8(1); w.u8(0); w.u16(4 + textAttr.size); w.u32(1)
      w.u32((24 + 32 + 24 + 32 + extra).toLong); w.zeros(4)
      spaceMsg(Seq(data.length))
      dtypeF64Msg()
      fillMsg()
      val gheapPatches =
        if (vlenAttrs) textAttr.map { case (an, av) => (attrMsgVlen(an, av), av) }
        else { textAttr.foreach { case (an, av) => attrMsgText(an, av) }; Nil }
      var dataPatch = 0L
      msg(0x08, 18) {
        w.u8(3); w.u8(1) // layout v3, contiguous
        dataPatch = w.pos; w.u64(0)
        w.u64(data.length * 8L)
      }
      w.patch64(dataPatch, w.pos)
      data.foreach(w.f64)
      // vlen attr values live in a global heap collection AFTER the
      // data; patch each datum's collection address now
      gheapPatches.foreach { case (p, av) =>
        w.patch64(p, writeGcolString(av)) }
    }
    // CF time units: store the axis in the declared interval (the base
    // resolves in timeCalendar's own day-numbering, so encode/decode
    // round-trip for 360_day/noleap/all_leap/julian fixtures too)
    val timeVals = timeUnits match {
      case Some(u) =>
        val enc = CfTime.encoder(u, timeCalendar).getOrElse(
          throw new IllegalArgumentException(s"unparseable time units '$u'"))
        timeUs.map(us => enc(us.toLong))
      case None => timeUs
    }
    writeCoord("lat", latArr)
    writeCoord("lon", lonArr)
    writeCoord("time", timeVals,
      timeUnits.map("units" -> _).toSeq ++ timeCalendar.map("calendar" -> _),
      vlenAttrs = vlenTimeAttrs)
    extras.foreach(ed => writeCoord(ed.name, ed.values.toArray,
      if (ed.units.nonEmpty) Seq("units" -> ed.units) else Nil))

    // ---- chunked data variables, indexed per `indexType`
    val (ctd, cyd, cxd) = indexType match {
      case "single" => (nt, nh, nw) // the whole array is one chunk
      case _ => (1, math.min(chunkY, nh), math.min(chunkX, nw))
    }
    val filtered = indexType != "implicit" // implicit = unfiltered, early-allocated
    val ntc = (nt + ctd - 1) / ctd
    val nyc = (nh + cyd - 1) / cyd
    val nxc = (nw + cxd - 1) / cxd
    cube.variables.foreach { v =>
      announce(v)
      // v4 layouts carry one u64 chunk dim per extra dim
      val layoutBody = indexType match {
        case "btree1" => 27 + 4 * extras.length // one u32 dim per extra
        case "single" => 58 + 8 * extras.length
        case "implicit" => 46 + 8 * extras.length
        case "fixedarray" | "fixedarray-paged" => 47 + 8 * extras.length
        case "extarray" | "extarray-paged" | "extarray-deep" =>
          51 + 8 * extras.length
        case "btree2" => 52 + 8 * extras.length
        case t => throw new IllegalArgumentException(
          s"unknown chunk index type $t")
      }
      def pad8(n: Int): Int = (n + 7) / 8 * 8
      // CF packing attributes (scale_factor/add_offset as f8 scalars,
      // attribute message v1): 8 msg hdr + 64 body each
      def attrMsg(aname: String, value: Double): Unit = {
        val nb = aname.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val nsize = nb.length + 1 // incl. NUL
        msg(0x0C, 8 + pad8(nsize) + 24 + 8 + 8) {
          w.u8(1); w.u8(0) // attribute v1, reserved
          w.u16(nsize); w.u16(20); w.u16(8) // name/datatype/dataspace sizes
          w.bytes(nb); w.zeros(pad8(nsize) - nb.length)
          w.u8(0x11); w.u8(0x20); w.u8(0x3F); w.u8(0) // f8 datatype (20B)
          w.u32(8); w.u16(0); w.u16(64)
          w.u8(52); w.u8(11); w.u8(0); w.u8(52); w.u32(1023)
          w.zeros(4) // datatype padded to 8
          w.u8(1); w.u8(0); w.u8(0); w.zeros(5) // scalar dataspace v1
          w.f64(value)
        }
      }
      // filter pipeline per compression mode: built-in ids bare,
      // registered ids (>= 256) carry their plugin name (spec v1)
      val filterList: Seq[(Int, String, Seq[Long])] = compression match {
        case "deflate" =>
          Seq((2, "", Seq(8L)), (1, "", Seq(deflateLevel.toLong)))
        case "zstd" => Seq((2, "", Seq(8L)), (32015, "zstd", Seq(3L)))
        case "lz4" => Seq((2, "", Seq(8L)), (32004, "lz4", Seq.empty))
        case "blosc" =>
          Seq((32001, "blosc", Seq(2L, 2L, 8L, 0L, 0L, 1L, 1L)))
        case other => throw new IllegalArgumentException(
          s"unknown compression '$other' (deflate/zstd/lz4/blosc)")
      }
      val filterBody = 8 + filterList.map { case (_, nm, vs) =>
        8 + pad8(nm.length) + 4 * vs.length +
          (if (vs.length % 2 == 1) 4 else 0)
      }.sum
      val attrBytes = if (cfAttrs.isDefined) 2 * 72 else 0
      val nmsgs = (if (filtered) 5 else 4) + (if (cfAttrs.isDefined) 2 else 0)
      // dataspace message grows 8 bytes per extra dim
      val spaceBytes = 8 + pad8(8 + (3 + extras.length) * 8)
      val total = spaceBytes + 32 + 24 +
        (if (filtered) 8 + pad8(filterBody) else 0) +
        8 + pad8(layoutBody) + attrBytes
      w.u8(1); w.u8(0); w.u16(nmsgs); w.u32(1); w.u32(total.toLong); w.zeros(4)
      spaceMsg(Seq(nt) ++ extraLens ++ Seq(nh, nw))
      dtypeF64Msg()
      fillMsg()
      cfAttrs.foreach { case (scale, offv) =>
        attrMsg("scale_factor", scale)
        attrMsg("add_offset", offv)
      }
      if (filtered) {
        msg(0x0B, filterBody) {
          w.u8(1); w.u8(filterList.length); w.zeros(6) // pipeline v1
          filterList.foreach { case (id, nm, vs) =>
            w.u16(id); w.u16(nm.length)
            w.u16(0); w.u16(vs.length)
            if (nm.nonEmpty) {
              w.bytes(nm.getBytes); w.zeros(pad8(nm.length) - nm.length)
            }
            vs.foreach(w.u32)
            if (vs.length % 2 == 1) w.u32(0) // v1 pads odd counts
          }
        }
      }
      var idxPatch = 0L
      var fsizePatch = 0L
      msg(0x08, layoutBody) {
        indexType match {
          case "btree1" =>
            // layout v3, chunked, rank+1 dims (extras chunk at 1: one
            // B-tree entry per (time, plane, tile) like the zarr layout)
            w.u8(3); w.u8(2); w.u8(4 + extras.length)
            idxPatch = w.pos; w.u64(0)
            w.u32(1); extras.foreach(_ => w.u32(1))
            w.u32(cyd.toLong); w.u32(cxd.toLong); w.u32(8)
          case _ =>
            w.u8(4); w.u8(2) // layout v4, chunked
            w.u8(if (indexType == "single") 0x02 else 0x00) // filtered-single flag
            // dimensionality (rank+1), dim-size enc len
            w.u8(4 + extras.length); w.u8(8)
            w.u64(ctd.toLong)
            // extras chunk at 1 — except single, whose one chunk spans
            // the whole array (chunk dims must equal the full shape)
            extraLens.foreach(n =>
              w.u64(if (indexType == "single") n.toLong else 1L))
            w.u64(cyd.toLong); w.u64(cxd.toLong); w.u64(8)
            indexType match {
              case "single" =>
                w.u8(1)
                fsizePatch = w.pos; w.u64(0) // filtered chunk size
                w.u32(0) // filter mask
              case "implicit" => w.u8(2)
              case "fixedarray" => w.u8(3); w.u8(10) // page bits
              case "fixedarray-paged" => w.u8(3); w.u8(2)
              case "extarray" | "extarray-paged" | "extarray-deep" =>
                // max bits, index elmts, sup-blk min ptrs, data-blk min
                // elmts, page bits (the layout-message field order)
                w.u8(4)
                w.u8(32); w.u8(EaIdxElmts); w.u8(EaMinPtrs)
                w.u8(if (indexType == "extarray-deep") 64 else EaMinElmts)
                indexType match {
                  case "extarray-paged" => w.u8(4)
                  case "extarray-deep" => w.u8(8)
                  case _ => w.u8(10)
                }
              case "btree2" =>
                w.u8(5); w.u32(Bt2NodeSize.toLong); w.u8(100); w.u8(40)
            }
            idxPatch = w.pos; w.u64(0)
        }
      }
      // chunks first (row-major chunk order), then the index structure.
      // With extra dims the leading loop runs over (time, plane) pairs
      // (extras chunk at 1), and the chunk key gains one offset per
      // extra dim; arr is lead-major so the source index just swaps
      // `t*ctd + tt` for the flattened lead.
      val arr = varData(v)
      def pack(raw: Array[Byte]): Array[Byte] =
        if (!filtered) raw
        else compression match {
          case "deflate" => deflate(shuffleBytes(raw, 8), deflateLevel)
          case "zstd" =>
            com.github.luben.zstd.Zstd.compress(shuffleBytes(raw, 8), 3)
          case "blosc" =>
            Blosc.encode(raw, 8, "lz4", Blosc.ShuffleByte)
          case "lz4" => // plugin 32004 framing: one block per chunk
            val shuffled = shuffleBytes(raw, 8)
            val comp = Blosc.lz4Compress(shuffled)
            val stored = comp.length >= shuffled.length
            val payload = if (stored) shuffled else comp
            val bb = ByteBuffer.allocate(16 + payload.length)
              .order(ByteOrder.BIG_ENDIAN)
            bb.putLong(shuffled.length.toLong)
            bb.putInt(shuffled.length) // block size = whole chunk
            bb.putInt(payload.length)
            bb.put(payload)
            bb.array()
        }
      val leadCount = ntc * ne.toInt
      val entries = if (indexType == "single") {
        // the whole array is one chunk, and arr is already row-major
        // (time, extras…, y, x) — the chunk payload IS the array
        val raw = new Array[Byte](arr.length * 8)
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        arr.foreach(bb.putDouble)
        val packed = pack(raw)
        val addr = w.pos
        w.bytes(packed)
        Seq((Seq.fill(4 + extras.length)(0L), addr, packed.length))
      } else for {
        lead <- 0 until leadCount; yc0 <- 0 until nyc; xc0 <- 0 until nxc
      } yield {
        // decompose lead → (time chunk, extra offsets); extras.isEmpty
        // degenerates to lead == t
        var rem = lead
        val eOffs = new Array[Long](extras.length)
        var k = extras.length - 1
        while (k >= 0) {
          eOffs(k) = rem % extraLens(k); rem /= extraLens(k); k -= 1
        }
        val t = rem
        val slab = NanArray(ctd * cyd * cxd)
        val tLen = math.min(ctd, nt - t * ctd)
        val yLen = math.min(cyd, nh - yc0 * cyd)
        val xLen = math.min(cxd, nw - xc0 * cxd)
        var tt = 0
        while (tt < tLen) {
          // flattened lead index into arr: (t*ctd + tt) planes of ne
          // each, plus this chunk's extra offsets (ne == 1 → identity)
          var leadIdx = (t * ctd + tt).toLong
          var k2 = 0
          while (k2 < extras.length) {
            leadIdx = leadIdx * extraLens(k2) + eOffs(k2); k2 += 1
          }
          var y = 0
          while (y < yLen) {
            var x = 0
            while (x < xLen) {
              slab((tt * cyd + y) * cxd + x) =
                arr(((leadIdx * nh + yc0 * cyd + y) * nw +
                  xc0 * cxd + x).toInt)
              x += 1
            }
            y += 1
          }
          tt += 1
        }
        val raw = new Array[Byte](slab.length * 8)
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        slab.foreach(bb.putDouble)
        val packed = pack(raw)
        val addr = w.pos
        w.bytes(packed)
        (Seq(t.toLong * ctd) ++ eOffs ++
          Seq(yc0.toLong * cyd, xc0.toLong * cxd, 0L), addr,
          packed.length)
      }
      indexType match {
        case "btree1" => writeChunkBtree1(w, entries, idxPatch,
          Seq(nt.toLong) ++ extraLens.map(_.toLong) ++
            Seq(nh.toLong, nw.toLong, 0L))
        case "single" =>
          w.patch64(idxPatch, entries.head._2)
          w.patch64(fsizePatch, entries.head._3.toLong)
        case "implicit" =>
          w.patch64(idxPatch, entries.head._2)
        case "fixedarray" =>
          w.patch64(idxPatch, writeFixedArray(w, entries, pageBits = 10))
        case "fixedarray-paged" =>
          w.patch64(idxPatch, writeFixedArray(w, entries, pageBits = 2))
        case "extarray" =>
          w.patch64(idxPatch, writeExtensibleArray(w, entries))
        case "extarray-paged" =>
          // 2^4-element pages: data blocks from super-block tier 5 on
          // page, exercising the bitmap + per-page checksum path with a
          // fixture-sized chunk count
          w.patch64(idxPatch, writeExtensibleArray(w, entries, pageBits = 4))
        case "extarray-deep" =>
          // shrunken block bounds, NOT page size: minElmts 64 with
          // 2^8-element pages reaches paged super blocks (tier 5: 4
          // data blocks × 512 elements = 2 pages each) at ~2000 chunks
          // — the deep shape a DEFAULT-geometry file only reaches past
          // 5·10^5 chunks, forced into fixture range the same way the
          // paged variant shrinks the page
          w.patch64(idxPatch, writeExtensibleArray(w, entries,
            pageBits = 8, minElmts = 64))
        case "btree2" =>
          w.patch64(idxPatch, writeBt2ChunkIndex(w, entries,
            Seq(ctd.toLong) ++ extras.map(_ => 1L) ++
              Seq(cyd.toLong, cxd.toLong)))
      }
    }

    if (denseGroup) {
      val (fheapAddr, btAddr) = writeDenseLinks(w, hdrAddrs.toSeq)
      w.patch64(fheapPatch, fheapAddr)
      w.patch64(nameBtPatch, btAddr)
    }

    w.patch64(eofPatch, w.pos)
    Files.write(Paths.get(path), w.toArray)
    StoreCache.invalidate(path)
  }

  // extensible-array fixture parameters (powers of two, as required)
  private val EaIdxElmts = 4
  private val EaMinElmts = 4
  private val EaMinPtrs = 2
  private val Bt2NodeSize = 512

  /** chunk-index B-tree v1 (the v3-layout path): nodes hold at most
    * 2*K entries, levels stack until one root spans every chunk */
  private def writeChunkBtree1(w: W, entries: Seq[(Seq[Long], Long, Int)],
                               btPatch: Long, shapeKey: Seq[Long]): Unit = {
      // ---- chunk-index B-tree v1. Nodes hold at most 2*K entries
      // (K = 32, the HDF5 library's istore default for a v0
      // superblock — it rejects oversized nodes on read), so levels
      // stack until a single root spans every chunk. A node's final
      // key is its right sibling's first key (search invariant); the
      // rightmost final key is the dataset shape.
      val maxPerNode = 64
      val keyBytes = 8 + shapeKey.length * 8
      // the library reads every node at its full K-implied allocation
      // (24 + 2K entries + one key), so short nodes are zero-padded to
      // the same size — otherwise the last node could sit too close to
      // EOF for an external reader's node-sized read
      val nodeBytes: Long = 24L + maxPerNode * (keyBytes + 8) + keyBytes
      require(entries.nonEmpty, "cube has no chunks to index")
      // (first key offsets, key size field, child address)
      var cur = entries.map { case (offs, addr, sz) =>
        (offs, sz.toLong, addr) }.toVector
      var lvl = 0
      var done = false
      while (!done) {
        val groups = cur.grouped(maxPerNode).toVector
        val addrs = groups.scanLeft(w.pos)((a, _) => a + nodeBytes).toVector
        groups.zipWithIndex.foreach { case (g, i) =>
          val start = w.pos
          w.bytes("TREE".getBytes); w.u8(1); w.u8(lvl); w.u16(g.length)
          w.u64(if (i == 0) Undef else addrs(i - 1))
          w.u64(if (i + 1 < groups.length) addrs(i + 1) else Undef)
          g.foreach { case (offs, szf, child) =>
            w.u32(szf); w.u32(0); offs.foreach(w.u64); w.u64(child)
          }
          val (fOffs, fSz) =
            if (i + 1 < groups.length)
              (groups(i + 1).head._1, groups(i + 1).head._2)
            else (shapeKey, 0L)
          w.u32(fSz); w.u32(0); fOffs.foreach(w.u64)
          w.zeros((nodeBytes - (w.pos - start)).toInt)
        }
        if (groups.length == 1) { w.patch64(btPatch, addrs(0)); done = true }
        else {
          cur = groups.indices.map(i =>
            (groups(i).head._1, groups(i).head._2, addrs(i))).toVector
          lvl += 1
        }
      }
  }

  /** fixed-array chunk index (client 1: filtered chunks — address +
    * u32 size + u32 filter mask per element). Entries arrive in linear
    * row-major chunk order. Returns the FAHD header address. */
  private def writeFixedArray(w: W, entries: Seq[(Seq[Long], Long, Int)],
                              pageBits: Int): Long = {
    val entrySize = 8 + 4 + 4
    val n = entries.length
    val pageEntries = 1L << pageBits
    val paged = n > pageEntries
    val npages = ((n + pageEntries - 1) / pageEntries).toInt
    val prefix = 4 + 1 + 1 + 8 // sig, version, client, header address
    val dblkSize =
      if (!paged) prefix + n * entrySize + 4
      else prefix + (npages + 7) / 8 + 4 +
        entries.grouped(pageEntries.toInt).map(_.length * entrySize + 4).sum
    val dblkAddr = w.pos
    val hdrAddr = dblkAddr + dblkSize
    def elem(e: (Seq[Long], Long, Int)): Unit = {
      w.u64(e._2); w.u32(e._3.toLong); w.u32(0)
    }
    val start = w.pos
    w.bytes("FADB".getBytes); w.u8(0); w.u8(1); w.u64(hdrAddr)
    if (!paged) {
      entries.foreach(elem)
      w.checksum(start)
    } else {
      // page bitmap, MSB-first, every page initialized
      (0 until (npages + 7) / 8).foreach { byteI =>
        var b = 0
        (0 until 8).foreach { bit =>
          if (byteI * 8 + bit < npages) b |= 1 << (7 - bit)
        }
        w.u8(b)
      }
      w.checksum(start)
      entries.grouped(pageEntries.toInt).foreach { page =>
        val ps = w.pos
        page.foreach(elem)
        w.checksum(ps)
      }
    }
    require(w.pos == hdrAddr, "fixed-array data block size mismatch")
    val hs = w.pos
    w.bytes("FAHD".getBytes); w.u8(0); w.u8(1)
    w.u8(entrySize); w.u8(pageBits)
    w.u64(n.toLong); w.u64(dblkAddr)
    w.checksum(hs)
    hdrAddr
  }

  /** extensible-array chunk index (client 1). Entries in linear chunk
    * order fill the index block's direct elements, then data blocks on
    * the super-block doubling schedule; super blocks past the first
    * 2*log2(minPtrs) become real EASB objects. Data blocks larger than
    * 2^pageBits elements are PAGED: the super block carries a
    * page-init bitmap and the data block stores a prefix checksum then
    * per-page element runs with their own checksums. Returns the EAHD
    * address. */
  private def writeExtensibleArray(w: W,
                                   entries: Seq[(Seq[Long], Long, Int)],
                                   pageBits: Int = 10,
                                   minElmts: Int = EaMinElmts): Long = {
    val entrySize = 8 + 4 + 4
    val maxBits = 32
    val offBytes = maxBits / 8
    val pageElmts = 1L << pageBits
    def log2(v: Int): Int = 63 - java.lang.Long.numberOfLeadingZeros(v.toLong)
    val nsblks = 1 + maxBits - log2(minElmts)
    val sblkNdblks = (0 until nsblks).map(u => 1L << (u / 2))
    val sblkDblkElmts =
      (0 until nsblks).map(u => (1L << ((u + 1) / 2)) * minElmts)
    val sblkStartIdx = sblkDblkElmts.zip(sblkNdblks)
      .scanLeft(0L) { case (acc, (ne, nd)) => acc + ne * nd }
    val firstRealSblk = 2 * log2(EaMinPtrs)
    val iblkDblks = 2 * (EaMinPtrs - 1)
    val n = entries.length
    val past = math.max(0, n - EaIdxElmts) // elements beyond the index block

    // how many data blocks / super blocks the fixture actually needs
    def dblkNeeded(u: Int, d: Long): Boolean =
      past > sblkStartIdx(u) + d * sblkDblkElmts(u)
    val hdrSize = 4 + 1 + 1 + 6 + 6 * 8 + 8 + 4
    val iblkSize = 4 + 1 + 1 + 8 + EaIdxElmts * entrySize +
      (iblkDblks + (nsblks - firstRealSblk)) * 8 + 4
    def dblkPages(u: Int): Long =
      if (sblkDblkElmts(u) > pageElmts) sblkDblkElmts(u) / pageElmts else 0L
    def dblkSize(u: Int): Long =
      if (dblkPages(u) > 0)
        4 + 1 + 1 + 8 + offBytes + 4 +
          dblkPages(u) * (pageElmts * entrySize + 4)
      else 4 + 1 + 1 + 8 + offBytes + sblkDblkElmts(u) * entrySize + 4
    def sblkBitmapBytes(u: Int): Int =
      ((sblkNdblks(u) * dblkPages(u) + 7) / 8).toInt
    def sblkSize(u: Int): Long = 4 + 1 + 1 + 8 + offBytes +
      sblkBitmapBytes(u) + sblkNdblks(u) * 8 + 4

    // address plan: header, index block, early data blocks, then per
    // real super block the EASB followed by its data blocks
    val hdrAddr = w.pos
    val iblkAddr = hdrAddr + hdrSize
    var cursor = iblkAddr + iblkSize
    val earlyDblkAddrs = (0 until math.min(firstRealSblk, nsblks)).flatMap { u =>
      (0L until sblkNdblks(u)).map { d =>
        if (dblkNeeded(u, d)) { val a = cursor; cursor += dblkSize(u); Some(a) }
        else None
      }
    }
    val realSblks = (firstRealSblk until nsblks).map { u =>
      if (past > sblkStartIdx(u)) {
        val sAddr = cursor
        cursor += sblkSize(u)
        val ds = (0L until sblkNdblks(u)).map { d =>
          if (dblkNeeded(u, d)) { val a = cursor; cursor += dblkSize(u); Some(a) }
          else None
        }
        Some((u, sAddr, ds))
      } else None
    }

    def elem(i: Long): Unit =
      if (i < n) { w.u64(entries(i.toInt)._2); w.u32(entries(i.toInt)._3.toLong); w.u32(0) }
      else { w.u64(Undef); w.u32(0); w.u32(0) } // past the written extent

    // ---- header
    val hs = w.pos
    w.bytes("EAHD".getBytes); w.u8(0); w.u8(1)
    // header field order: element size, max bits, index elmts, data-blk
    // min elmts, sup-blk min ptrs, page bits
    w.u8(entrySize); w.u8(maxBits); w.u8(EaIdxElmts); w.u8(minElmts)
    w.u8(EaMinPtrs); w.u8(pageBits)
    val ndblksTotal = earlyDblkAddrs.count(_.isDefined) +
      realSblks.flatMap(_.toSeq).map(_._3.count(_.isDefined)).sum
    w.u64(realSblks.count(_.isDefined).toLong) // stats: super blocks
    w.u64(realSblks.flatMap(_.toSeq).map(s => sblkSize(s._1)).sum) // their bytes
    w.u64(ndblksTotal.toLong) // data blocks
    w.u64(0L) // data block bytes (statistic; not consulted on read)
    w.u64(n.toLong) // max index set
    w.u64(n.toLong) // elements realized
    w.u64(iblkAddr)
    w.checksum(hs)

    // ---- index block
    require(w.pos == iblkAddr, "extensible-array layout plan drifted")
    val ibs = w.pos
    w.bytes("EAIB".getBytes); w.u8(0); w.u8(1); w.u64(hdrAddr)
    (0 until EaIdxElmts).foreach(i => elem(i.toLong))
    earlyDblkAddrs.foreach(a => w.u64(a.getOrElse(Undef)))
    realSblks.foreach {
      case Some((_, sAddr, _)) => w.u64(sAddr)
      case None => w.u64(Undef)
    }
    w.checksum(ibs)

    /** one data block at `a`, paged when its super-block tier pages */
    def writeDblk(a: Long, u: Int, d: Long): Unit = {
      require(w.pos == a, "extensible-array data block drifted")
      val start = EaIdxElmts + sblkStartIdx(u) + d * sblkDblkElmts(u)
      val dbs = w.pos
      w.bytes("EADB".getBytes); w.u8(0); w.u8(1); w.u64(hdrAddr)
      w.u32(start) // block offset
      if (dblkPages(u) > 0) {
        w.checksum(dbs) // prefix checksum, then per-page runs
        (0L until dblkPages(u)).foreach { p =>
          val ps = w.pos
          (0L until pageElmts).foreach(i => elem(start + p * pageElmts + i))
          w.checksum(ps)
        }
      } else {
        (0L until sblkDblkElmts(u)).foreach(i => elem(start + i))
        w.checksum(dbs)
      }
    }

    // ---- early data blocks (index-block pointed; format requires
    // these unpaged — holds for any pageBits >= 4 with minPtrs 2)
    require(firstRealSblk == 0 ||
      sblkDblkElmts(firstRealSblk - 1) <= pageElmts,
      s"pageBits $pageBits would page an index-block-pointed data block")
    var earlyIdx = 0
    (0 until math.min(firstRealSblk, nsblks)).foreach { u =>
      (0L until sblkNdblks(u)).foreach { d =>
        earlyDblkAddrs(earlyIdx).foreach(a => writeDblk(a, u, d))
        earlyIdx += 1
      }
    }

    // ---- real super blocks + their data blocks
    realSblks.foreach {
      case Some((u, sAddr, ds)) =>
        require(w.pos == sAddr, "extensible-array super block drifted")
        val ss = w.pos
        w.bytes("EASB".getBytes); w.u8(0); w.u8(1); w.u64(hdrAddr)
        w.u32(EaIdxElmts + sblkStartIdx(u)) // block offset
        if (dblkPages(u) > 0) {
          // page-init bitmap, MSB-first: every page of an existing data
          // block is written (missing elements encode as Undef), absent
          // blocks' pages stay 0
          val bitmap = new Array[Byte](sblkBitmapBytes(u))
          ds.zipWithIndex.foreach {
            case (Some(_), d) =>
              (0L until dblkPages(u)).foreach { p =>
                val bit = d * dblkPages(u) + p
                bitmap((bit / 8).toInt) =
                  (bitmap((bit / 8).toInt) | (1 << (7 - (bit % 8).toInt))).toByte
              }
            case _ => ()
          }
          w.bytes(bitmap)
        }
        ds.foreach(a => w.u64(a.getOrElse(Undef)))
        w.checksum(ss)
        ds.zipWithIndex.foreach {
          case (Some(a), d) => writeDblk(a, u, d.toLong)
          case _ => ()
        }
      case None => ()
    }
    hdrAddr
  }

  /** v2 B-tree chunk index (record type 11: address + u32 size + u32
    * filter mask + scaled offsets). Depth 0 for small chunk counts,
    * depth 1 (one BTIN root over BTLF leaves) past one leaf's
    * capacity. Returns the BTHD address. */
  private def writeBt2ChunkIndex(w: W, entries: Seq[(Seq[Long], Long, Int)],
                                 chunkDims: Seq[Long]): Long = {
    val rank = chunkDims.length
    val rrec = 8 + 4 + 4 + rank * 8
    val leafMax = (Bt2NodeSize - 10) / rrec
    val n = entries.length
    def record(e: (Seq[Long], Long, Int)): Unit = {
      w.u64(e._2); w.u32(e._3.toLong); w.u32(0)
      // records carry SCALED offsets (element offset / chunk dim)
      e._1.take(rank).zip(chunkDims).foreach { case (off, c) =>
        w.u64(off / c)
      }
    }
    def writeLeaf(recs: Seq[(Seq[Long], Long, Int)]): Long = {
      val addr = w.pos
      w.bytes("BTLF".getBytes); w.u8(0); w.u8(11)
      recs.foreach(record)
      w.checksum(addr)
      w.zeros((Bt2NodeSize - (w.pos - addr)).toInt)
      addr
    }
    val (rootAddr, rootNrec, depth) =
      if (n <= leafMax) (writeLeaf(entries), n, 0)
      else {
        val nleaves = ((n + 1) + (leafMax + 1) - 1) / (leafMax + 1)
        val avail = n - (nleaves - 1)
        val base = avail / nleaves
        val extra = avail % nleaves
        var idx = 0
        val leaves = (0 until nleaves).map { i =>
          val take = base + (if (i < extra) 1 else 0)
          val leafRecs = entries.slice(idx, idx + take)
          idx += take
          val sep = if (i + 1 < nleaves) Some(entries(idx)) else None
          if (sep.isDefined) idx += 1
          (writeLeaf(leafRecs), leafRecs.length, sep)
        }
        val maxNrecSize = encSize(leafMax.toLong)
        val root = w.pos
        w.bytes("BTIN".getBytes); w.u8(0); w.u8(11)
        leaves.flatMap(_._3).foreach(record)
        leaves.foreach { case (addr, cnt, _) =>
          w.u64(addr)
          (0 until maxNrecSize).foreach(i => w.u8((cnt >> (8 * i)) & 0xFF))
        }
        w.checksum(root)
        w.zeros((Bt2NodeSize - (w.pos - root)).toInt)
        (root, nleaves - 1, 1)
      }
    val hs = w.pos
    w.bytes("BTHD".getBytes); w.u8(0); w.u8(11)
    w.u32(Bt2NodeSize.toLong); w.u16(rrec); w.u16(depth)
    w.u8(100); w.u8(40)
    w.u64(rootAddr); w.u16(rootNrec); w.u64(n.toLong)
    w.checksum(hs)
    hs
  }

  /** dense root-group links: one fractal-heap root direct block holding
    * the Link messages, plus the name-index v2 B-tree (type 5: lookup3
    * name hash + 7-byte managed heap id), records sorted by hash.
    * Returns (fractal heap header address, B-tree header address). */
  private def writeDenseLinks(w: W,
                              links: Seq[(String, Long)]): (Long, Long) = {
    val bodies = links.map { case (name, hdr) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      require(nb.length < 256, "dense link names must be under 256 bytes")
      val bo = new java.io.ByteArrayOutputStream()
      bo.write(1); bo.write(0) // link message v1, flags 0 (u8 name len)
      bo.write(nb.length); bo.write(nb, 0, nb.length)
      (0 until 8).foreach(i => bo.write(((hdr >> (8 * i)) & 0xFF).toInt))
      bo.toByteArray
    }
    val prefixFh = 4 + 1 + 8 + 4 // sig, version, hdr addr, block offset
    val needed = prefixFh + bodies.map(_.length).sum
    var blockSize = 512L
    while (blockSize < needed) blockSize *= 2
    val dblkAddr = w.pos
    val frhpAddr = dblkAddr + blockSize

    // ---- root direct block with every link body
    w.bytes("FHDB".getBytes); w.u8(0); w.u64(frhpAddr); w.u32(0) // offset 0
    val offsets = bodies.scanLeft(prefixFh.toLong)(_ + _.length)
    bodies.foreach(w.bytes)
    w.zeros((blockSize - (w.pos - dblkAddr)).toInt)

    // ---- heap header
    require(w.pos == frhpAddr, "fractal heap layout drifted")
    val hs = w.pos
    w.bytes("FRHP".getBytes); w.u8(0)
    w.u16(7) // heap id length: 1 flag + 4 offset + 2 length
    w.u16(0) // io filter length
    w.u8(0) // flags: no checksummed direct blocks, no huge-id wrap
    w.u32(4096L) // max size of managed objects
    w.u64(0L); w.u64(Undef) // next huge id, huge btree
    w.u64(0L); w.u64(Undef) // free space, free-space manager
    w.u64(blockSize); w.u64(blockSize) // managed space, allocated
    w.u64(needed.toLong) // iterator offset
    w.u64(links.length.toLong) // managed object count
    w.u64(0L); w.u64(0L); w.u64(0L); w.u64(0L) // huge/tiny sizes+counts
    w.u16(4) // table width
    w.u64(blockSize) // starting block size
    w.u64(65536L) // max direct block size
    w.u16(32) // max heap size (bits)
    w.u16(0) // starting rows in root indirect block
    w.u64(dblkAddr)
    w.u16(0) // current rows: 0 = root is a direct block
    w.checksum(hs)

    // ---- name-index v2 B-tree (single leaf; 45 records fit)
    val recs = links.lazyZip(bodies).lazyZip(offsets).map {
      case ((name, _), body, off) =>
        val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val id = new Array[Byte](7)
        id(0) = 0 // managed, version 0
        (0 until 4).foreach(i => id(1 + i) = ((off >> (8 * i)) & 0xFF).toByte)
        id(5) = (body.length & 0xFF).toByte
        id(6) = ((body.length >> 8) & 0xFF).toByte
        (lookup3(nb) & 0xFFFFFFFFL, id)
    }.sortBy(_._1)
    val rrec = 4 + 7
    val leafMax = (Bt2NodeSize - 10) / rrec
    require(recs.length <= leafMax,
      s"dense-link writer supports up to $leafMax links")
    val leafAddr = w.pos
    w.bytes("BTLF".getBytes); w.u8(0); w.u8(5)
    recs.foreach { case (hash, id) => w.u32(hash); w.bytes(id) }
    w.checksum(leafAddr)
    w.zeros((Bt2NodeSize - (w.pos - leafAddr)).toInt)
    val bths = w.pos
    w.bytes("BTHD".getBytes); w.u8(0); w.u8(5)
    w.u32(Bt2NodeSize.toLong); w.u16(rrec); w.u16(0)
    w.u8(100); w.u8(40)
    w.u64(leafAddr); w.u16(recs.length); w.u64(recs.length.toLong)
    w.checksum(bths)
    (frhpAddr, bths)
  }

  private def shuffleBytes(bytes: Array[Byte], s: Int): Array[Byte] = {
    val n = bytes.length / s
    val out = new Array[Byte](bytes.length)
    var j = 0
    while (j < s) {
      var i = 0
      while (i < n) { out(j * n + i) = bytes(i * s + j); i += 1 }
      j += 1
    }
    out
  }

  private def deflate(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
