package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC STREAM format (".arrows") writer/reader in pure JVM — the
  * third training-export interchange format beside [[TfRecord]] and
  * [[TarShards]]: every ML dataloader stack (pyarrow, polars, duckdb,
  * torcharrow) ingests Arrow streams zero-copy.
  *
  * Everything is built from the PUBLIC specs alone:
  *  - Arrow columnar + IPC framing: arrow.apache.org/docs/format/
  *    (Columnar.html §"Serialization and Interprocess Communication"):
  *    encapsulated messages `0xFFFFFFFF | int32 metadata_size |
  *    flatbuffer | body`, schema message first, then record batches,
  *    then the `0xFFFFFFFF 0x00000000` end-of-stream marker; buffers
  *    8-byte aligned within the body.
  *  - FlatBuffers wire format (google.github.io/flatbuffers/
  *    flatbuffers_internals.html): little-endian, tables with
  *    backward-pointing vtables, length-prefixed vectors/strings —
  *    [[FlatBuf]] implements the subset the Arrow metadata needs, so
  *    there is no flatc codegen and no external dependency.
  *
  * Supported logical types (the training-export surface): int64,
  * float64, float32, utf8, binary, list<float32> — all nullable.
  * Interop is pinned BOTH directions: ArrowIpcSpec decodes a
  * pyarrow-16-written fixture row-for-row
  * (`src/main/resources/graft/fixtures/interop.arrows`, regenerated by
  * `tools/make_arrow_fixture.py`), and `tools/check_arrow.py` reads
  * shards this writer produced with pyarrow.
  *
  * Scale shape mirrors TfRecord: one shard per partition written
  * inside `mapPartitions` through the Hadoop FileSystem — payload
  * bytes never visit the driver; batches are buffered per-partition at
  * `batchRows` granularity (bounded memory).
  */
object ArrowIpc {

  // ------------------------------------------------------ flatbuffers
  /** Minimal FlatBuffers builder (canonical backward-growing layout)
    * and table reader. Only what Arrow metadata needs: scalars,
    * strings, tables, vectors of offsets, vectors of 16-byte structs,
    * unions. */
  object FlatBuf {

    final class Builder(initial: Int = 1024) {
      private var bb = new Array[Byte](math.max(initial, 32))
      private var space = bb.length
      private var minalign = 1
      private var vt = new Array[Int](32)
      private var vtInUse = 0
      private var objStart = 0

      def offset: Int = bb.length - space

      private def grow(): Unit = {
        val old = bb
        bb = new Array[Byte](old.length * 2)
        System.arraycopy(old, 0, bb, old.length, old.length)
        space += old.length
      }

      def prep(size: Int, additional: Int): Unit = {
        if (size > minalign) minalign = size
        val alignSize = ((~(bb.length - space + additional)) + 1) & (size - 1)
        while (space < alignSize + size + additional) grow()
        space -= alignSize // freshly grown bytes are zero
      }

      private def put8(v: Int): Unit = { space -= 1; bb(space) = v.toByte }
      def putShort(v: Short): Unit = {
        space -= 2
        bb(space) = (v & 0xFF).toByte
        bb(space + 1) = ((v >> 8) & 0xFF).toByte
      }
      def putInt(v: Int): Unit = {
        space -= 4
        var i = 0
        while (i < 4) { bb(space + i) = ((v >> (8 * i)) & 0xFF).toByte; i += 1 }
      }
      def putLong(v: Long): Unit = {
        space -= 8
        var i = 0
        while (i < 8) {
          bb(space + i) = ((v >> (8 * i)) & 0xFF).toByte; i += 1
        }
      }

      def addByte(v: Int): Unit = { prep(1, 0); put8(v) }
      def addShort(v: Short): Unit = { prep(2, 0); putShort(v) }
      def addInt(v: Int): Unit = { prep(4, 0); putInt(v) }
      def addLong(v: Long): Unit = { prep(8, 0); putLong(v) }
      def addOffset(off: Int): Unit = { prep(4, 0); putInt(offset - off + 4) }

      def createString(s: String): Int = {
        val bytes = s.getBytes(StandardCharsets.UTF_8)
        prep(4, bytes.length + 1)
        put8(0) // null terminator
        space -= bytes.length
        System.arraycopy(bytes, 0, bb, space, bytes.length)
        putInt(bytes.length)
        offset
      }

      /** vector of table/string offsets, given in FORWARD order */
      def createOffsetVector(offs: Seq[Int]): Int = {
        prep(4, offs.length * 4)
        offs.reverse.foreach(o => putInt(offset - o + 4))
        putInt(offs.length)
        offset
      }

      /** vector of (a, b) int64-pair structs, FORWARD order */
      def createStructPairVector(pairs: Seq[(Long, Long)]): Int = {
        prep(4, pairs.length * 16)
        prep(8, pairs.length * 16)
        pairs.reverse.foreach { case (a, b) => putLong(b); putLong(a) }
        putInt(pairs.length)
        offset
      }

      def startObject(numFields: Int): Unit = {
        if (vt.length < numFields) vt = new Array[Int](numFields)
        vtInUse = numFields
        java.util.Arrays.fill(vt, 0, numFields, 0)
        objStart = offset
      }
      private def slot(i: Int): Unit = vt(i) = offset
      def addByteField(i: Int, v: Int, d: Int): Unit =
        if (v != d) { addByte(v); slot(i) }
      def addBoolField(i: Int, v: Boolean, d: Boolean): Unit =
        if (v != d) { addByte(if (v) 1 else 0); slot(i) }
      def addShortField(i: Int, v: Short, d: Short): Unit =
        if (v != d) { addShort(v); slot(i) }
      def addIntField(i: Int, v: Int, d: Int): Unit =
        if (v != d) { addInt(v); slot(i) }
      def addLongField(i: Int, v: Long, d: Long): Unit =
        if (v != d) { addLong(v); slot(i) }
      def addOffsetField(i: Int, off: Int): Unit =
        if (off != 0) { addOffset(off); slot(i) }

      def endObject(): Int = {
        addInt(0) // soffset placeholder
        val tableLoc = offset
        var i = vtInUse - 1
        while (i >= 0 && vt(i) == 0) i -= 1
        val trimmed = i + 1
        while (i >= 0) {
          addShort(if (vt(i) != 0) (tableLoc - vt(i)).toShort else 0)
          i -= 1
        }
        addShort((tableLoc - objStart).toShort)
        addShort(((trimmed + 2) * 2).toShort)
        // patch the placeholder with the soffset to the vtable
        val soffset = offset - tableLoc
        val p = bb.length - tableLoc
        var j = 0
        while (j < 4) { bb(p + j) = ((soffset >> (8 * j)) & 0xFF).toByte; j += 1 }
        tableLoc
      }

      def finish(root: Int): Array[Byte] = {
        prep(minalign, 4)
        addOffset(root)
        java.util.Arrays.copyOfRange(bb, space, bb.length)
      }
    }

    /** table reader over a flatbuffer byte array */
    final class Table(val buf: Array[Byte], val pos: Int) {
      def i16(p: Int): Int =
        (buf(p) & 0xFF) | ((buf(p + 1) & 0xFF) << 8)
      def i32(p: Int): Int = {
        var v = 0; var i = 0
        while (i < 4) { v |= (buf(p + i) & 0xFF) << (8 * i); i += 1 }
        v
      }
      def i64(p: Int): Long = {
        var v = 0L; var i = 0
        while (i < 8) { v |= (buf(p + i) & 0xFFL) << (8 * i); i += 1 }
        v
      }
      /** absolute position of field `slot`'s data, or 0 if absent */
      def fieldPos(slot: Int): Int = {
        val vtab = pos - i32(pos)
        val vtSize = i16(vtab)
        val entry = 4 + slot * 2
        if (entry >= vtSize) 0
        else { val o = i16(vtab + entry); if (o == 0) 0 else pos + o }
      }
      def byteField(slot: Int, d: Int): Int = {
        val p = fieldPos(slot); if (p == 0) d else buf(p) & 0xFF
      }
      def shortField(slot: Int, d: Int): Int = {
        val p = fieldPos(slot); if (p == 0) d else i16(p)
      }
      def intField(slot: Int, d: Int): Int = {
        val p = fieldPos(slot); if (p == 0) d else i32(p)
      }
      def longField(slot: Int, d: Long): Long = {
        val p = fieldPos(slot); if (p == 0) d else i64(p)
      }
      def boolField(slot: Int, d: Boolean): Boolean = {
        val p = fieldPos(slot); if (p == 0) d else buf(p) != 0
      }
      def tableField(slot: Int): Option[Table] = {
        val p = fieldPos(slot)
        if (p == 0) None else Some(new Table(buf, p + i32(p)))
      }
      def stringField(slot: Int): Option[String] = {
        val p = fieldPos(slot)
        if (p == 0) None
        else {
          val v = p + i32(p)
          val len = i32(v)
          Some(new String(buf, v + 4, len, StandardCharsets.UTF_8))
        }
      }
      /** vector field: (element count, position of first element) */
      def vectorField(slot: Int): Option[(Int, Int)] = {
        val p = fieldPos(slot)
        if (p == 0) None
        else { val v = p + i32(p); Some((i32(v), v + 4)) }
      }
      def vectorTable(elemPos: Int): Table =
        new Table(buf, elemPos + i32(elemPos))
    }

    def root(buf: Array[Byte]): Table = {
      val t = new Table(buf, 0)
      new Table(buf, t.i32(0))
    }
  }

  // ------------------------------------------------------ Arrow model
  /** supported logical types */
  sealed trait ATy
  case object AInt64 extends ATy
  case object AFloat64 extends ATy
  case object AFloat32 extends ATy
  case object AUtf8 extends ATy
  case object ABinary extends ATy
  case object AListF32 extends ATy

  final case class AField(name: String, ty: ATy, nullable: Boolean)

  def toSpark(fields: Seq[AField]): StructType = StructType(fields.map { f =>
    val dt = f.ty match {
      case AInt64 => LongType
      case AFloat64 => DoubleType
      case AFloat32 => FloatType
      case AUtf8 => StringType
      case ABinary => BinaryType
      case AListF32 => ArrayType(FloatType, containsNull = true)
    }
    StructField(f.name, dt, f.nullable)
  })

  def fromSpark(schema: StructType): Seq[AField] = schema.fields.map { f =>
    val ty = f.dataType match {
      case LongType => AInt64
      case DoubleType => AFloat64
      case FloatType => AFloat32
      case StringType => AUtf8
      case BinaryType => ABinary
      case ArrayType(FloatType, _) => AListF32
      case other => throw new IllegalArgumentException(
        s"ArrowIpc: unsupported Spark type $other for column ${f.name} " +
          "(supported: long, double, float, string, binary, array<float>)")
    }
    AField(f.name, ty, f.nullable)
  }.toSeq

  // Type union discriminants (Schema.fbs)
  private val TInt = 2
  private val TFloatingPoint = 3
  private val TBinary = 4
  private val TUtf8 = 5
  private val TList = 12

  // ---------------------------------------------------- schema encode
  private def buildField(b: FlatBuf.Builder, f: AField): Int = {
    def emptyType(): Int = { b.startObject(0); b.endObject() }
    val (tyDisc, tyOff, children) = f.ty match {
      case AInt64 =>
        b.startObject(2)
        b.addIntField(0, 64, 0)
        b.addBoolField(1, v = true, d = false)
        (TInt, b.endObject(), Nil)
      case AFloat64 =>
        b.startObject(1); b.addShortField(0, 2, 0)
        (TFloatingPoint, b.endObject(), Nil)
      case AFloat32 =>
        b.startObject(1); b.addShortField(0, 1, 0)
        (TFloatingPoint, b.endObject(), Nil)
      case AUtf8 => (TUtf8, emptyType(), Nil)
      case ABinary => (TBinary, emptyType(), Nil)
      case AListF32 =>
        val child = buildField(b, AField("item", AFloat32, nullable = true))
        (TList, emptyType(), Seq(child))
    }
    val childVec = if (children.isEmpty) 0 else b.createOffsetVector(children)
    val name = b.createString(f.name)
    b.startObject(7)
    b.addOffsetField(0, name)
    b.addBoolField(1, f.nullable, d = false)
    b.addByteField(2, tyDisc, 0)
    b.addOffsetField(3, tyOff)
    if (childVec != 0) b.addOffsetField(5, childVec)
    b.endObject()
  }

  /** Schema message flatbuffer (no body). */
  def schemaMessage(fields: Seq[AField]): Array[Byte] = {
    val b = new FlatBuf.Builder()
    val fieldOffs = fields.map(f => buildField(b, f))
    val fieldVec = b.createOffsetVector(fieldOffs)
    b.startObject(4)
    b.addOffsetField(1, fieldVec) // endianness slot 0 = Little (default)
    val schema = b.endObject()
    b.startObject(5)
    b.addShortField(0, 4, 0) // MetadataVersion V5
    b.addByteField(1, 1, 0)  // MessageHeader = Schema
    b.addOffsetField(2, schema)
    b.finish(b.endObject())
  }

  /** RecordBatch message flatbuffer for given nodes/buffers/bodyLen. */
  def batchMessage(nRows: Long, nodes: Seq[(Long, Long)],
      buffers: Seq[(Long, Long)], bodyLen: Long): Array[Byte] = {
    val b = new FlatBuf.Builder()
    val bufVec = b.createStructPairVector(buffers)
    val nodeVec = b.createStructPairVector(nodes)
    b.startObject(4)
    b.addLongField(0, nRows, 0L)
    b.addOffsetField(1, nodeVec)
    b.addOffsetField(2, bufVec)
    val rb = b.endObject()
    b.startObject(5)
    b.addShortField(0, 4, 0)  // V5
    b.addByteField(1, 3, 0)   // MessageHeader = RecordBatch
    b.addOffsetField(2, rb)
    b.addLongField(3, bodyLen, 0L)
    val msg = b.endObject()
    b.finish(msg)
  }

  private def pad8(n: Int): Int = (n + 7) & ~7
  private def pad8L(n: Long): Long = (n + 7L) & ~7L

  /** frame one encapsulated message: continuation, size, meta, pad */
  private def frame(out: java.io.OutputStream, meta: Array[Byte]): Unit = {
    val padded = pad8(meta.length)
    val head = new Array[Byte](8)
    head(0) = -1; head(1) = -1; head(2) = -1; head(3) = -1
    var i = 0
    while (i < 4) { head(4 + i) = ((padded >> (8 * i)) & 0xFF).toByte; i += 1 }
    out.write(head)
    out.write(meta)
    if (padded > meta.length) out.write(new Array[Byte](padded - meta.length))
  }

  // ----------------------------------------------------- batch encode
  /** column accumulator producing Arrow buffers */
  private final class ColBuf(ty: ATy) {
    var n = 0
    var nullCount = 0
    val validity = new ByteArrayOutputStream()
    private var vbits = 0
    private var vnbits = 0
    val offsets = new ByteArrayOutputStream() // utf8/binary/list int32
    val data = new ByteArrayOutputStream()
    var dataLen = 0
    val child: ColBuf = if (ty == AListF32) new ColBuf(AFloat32) else null
    offsets.write(le32(0)) // first offset

    private def le32(v: Int): Array[Byte] = Le.bytes32(v)
    private def le64(v: Long): Array[Byte] = Le.bytes64(v)

    private def pushValid(valid: Boolean): Unit = {
      if (valid) vbits |= (1 << vnbits) else nullCount += 1
      vnbits += 1
      if (vnbits == 8) { validity.write(vbits); vbits = 0; vnbits = 0 }
      n += 1
    }

    def add(v: Any): Unit = {
      v match {
        case null =>
          pushValid(false)
          ty match {
            case AInt64 => data.write(le64(0)); dataLen += 8
            case AFloat64 => data.write(le64(0)); dataLen += 8
            case AFloat32 => data.write(le32(0)); dataLen += 4
            case AUtf8 | ABinary => offsets.write(le32(dataLen))
            case AListF32 => offsets.write(le32(child.n))
          }
        case x =>
          pushValid(true)
          ty match {
            case AInt64 =>
              data.write(le64(x.asInstanceOf[Long])); dataLen += 8
            case AFloat64 =>
              data.write(le64(java.lang.Double.doubleToLongBits(
                x.asInstanceOf[Double]))); dataLen += 8
            case AFloat32 =>
              data.write(le32(java.lang.Float.floatToIntBits(
                x.asInstanceOf[Float]))); dataLen += 4
            case AUtf8 =>
              val bts = x.asInstanceOf[String]
                .getBytes(StandardCharsets.UTF_8)
              data.write(bts); dataLen += bts.length
              offsets.write(le32(dataLen))
            case ABinary =>
              val bts = x.asInstanceOf[Array[Byte]]
              data.write(bts); dataLen += bts.length
              offsets.write(le32(dataLen))
            case AListF32 =>
              x.asInstanceOf[scala.collection.Seq[Any]]
                .foreach(e => child.add(e))
              offsets.write(le32(child.n))
          }
      }
    }

    def finishValidity(): Array[Byte] =
      if (nullCount == 0) Array.emptyByteArray
      else {
        if (vnbits > 0) { validity.write(vbits); vbits = 0; vnbits = 0 }
        validity.toByteArray
      }

    /** (node list, raw buffer list) in Arrow order, depth-first */
    def emit(): (Seq[(Long, Long)], Seq[Array[Byte]]) = {
      val vb = finishValidity()
      ty match {
        case AInt64 | AFloat64 | AFloat32 =>
          (Seq((n.toLong, nullCount.toLong)), Seq(vb, data.toByteArray))
        case AUtf8 | ABinary =>
          (Seq((n.toLong, nullCount.toLong)),
            Seq(vb, offsets.toByteArray, data.toByteArray))
        case AListF32 =>
          val (cn, cb) = child.emit()
          (Seq((n.toLong, nullCount.toLong)) ++ cn,
            Seq(vb, offsets.toByteArray) ++ cb)
      }
    }
  }

  /** encode one record batch (message + body) to the stream */
  private def writeBatch(out: java.io.OutputStream, fields: Seq[AField],
      cols: Seq[ColBuf], nRows: Int): Unit = {
    val emitted = cols.map(_.emit())
    val nodes = emitted.flatMap(_._1)
    val rawBufs = emitted.flatMap(_._2)
    var off = 0L
    val entries = rawBufs.map { rb =>
      val e = (off, rb.length.toLong)
      off = pad8L(off + rb.length)
      e
    }
    val meta = batchMessage(nRows.toLong, nodes, entries, off)
    frame(out, meta)
    rawBufs.foreach { rb =>
      out.write(rb)
      val pad = (pad8(rb.length) - rb.length)
      if (pad > 0) out.write(new Array[Byte](pad))
    }
  }

  // ---------------------------------------------------------- writer
  /** Write `df` as one `part-NNNNN.arrows` stream per partition under
    * `dir`. Returns the shard manifest (an ACTION — the write runs
    * here), like [[TfRecord.writeShards]]. */
  def writeShards(df: DataFrame, dir: String,
      batchRows: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    val fields = fromSpark(df.schema)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val path = new Path(dir, f"part-$pid%05d.arrows")
      val fs = path.getFileSystem(conf.value)
      val out = new java.io.BufferedOutputStream(fs.create(path, true))
      frame(out, schemaMessage(fields))
      var total = 0L
      var cols = fields.map(f => new ColBuf(f.ty))
      var n = 0
      def flush(): Unit = if (n > 0) {
        writeBatch(out, fields, cols, n)
        cols = fields.map(f => new ColBuf(f.ty))
        total += n
        n = 0
      }
      it.foreach { r =>
        var i = 0
        while (i < fields.length) { cols(i).add(r.get(i)); i += 1 }
        n += 1
        if (n >= batchRows) flush()
      }
      flush()
      out.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)) // EOS
      out.close()
      Iterator(Row(path.getName, total))
    }
    // collect() the tiny manifest and rebuild locally: the write is a
    // side effect of the RDD lineage, and a cached plan can be evicted
    // or lost with the executor and silently RE-RUN the writes; a
    // driver-local copy severs the lineage (same as TfRecord/TarShards).
    val manifestSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    val collected = spark.createDataFrame(rows, manifestSchema)
      .collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(collected, 1), manifestSchema)
  }

  // ---------------------------------------------------------- reader
  private def parseSchema(meta: Array[Byte]): Seq[AField] = {
    val msg = FlatBuf.root(meta)
    require(msg.byteField(1, 0) == 1, "first message must be Schema")
    val schema = msg.tableField(2).get
    val (nf, fp) = schema.vectorField(1).getOrElse(
      throw new IllegalStateException("schema has no fields"))
    (0 until nf).map { i =>
      parseField(schema.vectorTable(fp + i * 4))
    }
  }

  private def parseField(f: FlatBuf.Table): AField = {
    val name = f.stringField(0).getOrElse("")
    val nullable = f.boolField(1, d = false)
    val disc = f.byteField(2, 0)
    val ty = disc match {
      case TInt =>
        val t = f.tableField(3).get
        require(t.intField(0, 0) == 64 && t.boolField(1, d = false),
          s"ArrowIpc: only int64 supported, field $name")
        AInt64
      case TFloatingPoint =>
        f.tableField(3).get.shortField(0, 0) match {
          case 2 => AFloat64
          case 1 => AFloat32
          case p => throw new IllegalStateException(
            s"ArrowIpc: unsupported float precision $p, field $name")
        }
      case TUtf8 => AUtf8
      case TBinary => ABinary
      case TList =>
        val (nc, cp) = f.vectorField(5).getOrElse(
          throw new IllegalStateException(s"list field $name: no children"))
        require(nc == 1, s"list field $name: $nc children")
        val child = parseField(f.vectorTable(cp))
        require(child.ty == AFloat32,
          s"ArrowIpc: only list<float32> supported, field $name")
        AListF32
      case d => throw new IllegalStateException(
        s"ArrowIpc: unsupported type discriminant $d, field $name")
    }
    AField(name, ty, nullable)
  }

  private final class Cursor(bytes: Array[Byte]) {
    var p = 0
    def i32(): Int = {
      var v = 0; var i = 0
      while (i < 4) { v |= (bytes(p + i) & 0xFF) << (8 * i); i += 1 }
      p += 4; v
    }
    def take(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(bytes, p, p + n); p += n; a
    }
    def remaining: Int = bytes.length - p
  }

  private def readFully(in: java.io.InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** decode one shard's bytes into external Rows */
  def decode(bytes: Array[Byte]): (Seq[AField], Iterator[Row]) = {
    val cur = new Cursor(bytes)
    def nextMessage(): Option[(Array[Byte], Int)] = {
      if (cur.remaining < 8) return None
      val cont = cur.i32()
      require(cont == -1, f"expected continuation marker, got $cont%08x")
      val size = cur.i32()
      if (size == 0) return None // EOS
      val meta = cur.take(size)
      Some((meta, cur.p))
    }
    val (schemaMeta, _) = nextMessage().getOrElse(
      throw new IllegalStateException("empty arrow stream"))
    val fields = parseSchema(schemaMeta)
    val batches = Iterator.continually(nextMessage())
      .takeWhile(_.isDefined).map(_.get)
      .map { case (meta, bodyStart) =>
        val msg = FlatBuf.root(meta)
        require(msg.byteField(1, 0) == 3,
          s"expected RecordBatch, got header type ${msg.byteField(1, 0)}")
        val bodyLen = msg.longField(3, 0L)
        cur.p = bodyStart + bodyLen.toInt
        decodeBatch(bytes, bodyStart, msg.tableField(2).get, fields)
      }
    (fields, batches.flatten)
  }

  private def decodeBatch(bytes: Array[Byte], bodyStart: Int,
      rb: FlatBuf.Table, fields: Seq[AField]): Iterator[Row] = {
    val nRows = rb.longField(0, 0L).toInt
    // RecordBatch field 3 is BodyCompression (Message.fbs): a stream
    // written with IpcWriteOptions(compression=lz4/zstd) is legal
    // Arrow, but this reader decodes raw buffers — fail LOUDLY rather
    // than interpreting compressed bytes as validity/offsets/data
    // (silent garbage values)
    require(rb.tableField(3).isEmpty,
      "compressed Arrow IPC body (RecordBatch.compression is set — " +
        "LZ4_FRAME/ZSTD): unsupported by this reader; write the " +
        "shards uncompressed")
    rb.vectorField(1).get // field nodes: lengths come from the offsets
    val (nBufs, bufP) = rb.vectorField(2).get
    val bufs = (0 until nBufs).map { i =>
      (rb.i64(bufP + i * 16).toInt, rb.i64(bufP + i * 16 + 8).toInt)
    }
    var nodeI = 0
    var bufI = 0
    def le32At(p: Int): Int = Le.read32(bytes, p)
    def le64At(p: Int): Long = Le.read64(bytes, p)
    def valid(vOff: Int, vLen: Int, i: Int): Boolean =
      vLen == 0 || (bytes(bodyStart + vOff + (i >> 3)) & (1 << (i & 7))) != 0

    /** decode the next column (consuming nodes/buffers) → value getter */
    def col(ty: ATy): Int => Any = {
      nodeI += 1 // FieldNode consumed; lengths come from the offsets
      val (vOff, vLen) = bufs(bufI); bufI += 1
      ty match {
        case AInt64 | AFloat64 | AFloat32 =>
          val (dOff, _) = bufs(bufI); bufI += 1
          i => if (!valid(vOff, vLen, i)) null
          else ty match {
            case AInt64 => le64At(bodyStart + dOff + i * 8)
            case AFloat64 =>
              java.lang.Double.longBitsToDouble(
                le64At(bodyStart + dOff + i * 8))
            case _ =>
              java.lang.Float.intBitsToFloat(
                le32At(bodyStart + dOff + i * 4))
          }
        case AUtf8 | ABinary =>
          val (oOff, _) = bufs(bufI); bufI += 1
          val (dOff, _) = bufs(bufI); bufI += 1
          i => if (!valid(vOff, vLen, i)) null
          else {
            val s = le32At(bodyStart + oOff + i * 4)
            val e = le32At(bodyStart + oOff + (i + 1) * 4)
            val raw = java.util.Arrays.copyOfRange(bytes,
              bodyStart + dOff + s, bodyStart + dOff + e)
            if (ty == AUtf8) new String(raw, StandardCharsets.UTF_8) else raw
          }
        case AListF32 =>
          val (oOff, _) = bufs(bufI); bufI += 1
          val childGet = col(AFloat32)
          i => if (!valid(vOff, vLen, i)) null
          else {
            val s = le32At(bodyStart + oOff + i * 4)
            val e = le32At(bodyStart + oOff + (i + 1) * 4)
            (s until e).map(j => childGet(j))
          }
      }
    }
    val getters = fields.map(f => col(f.ty))
    (0 until nRows).iterator.map { i =>
      Row.fromSeq(getters.map(g => g(i)))
    }
  }

  /** Read `.arrows` shards under `path` back into a DataFrame.
    * `path` may itself be a glob (e.g. the streaming sink's
    * `dir/batch-*`), so the listing stays globStatus here — only the
    * per-shard task fan-out rides the shared [[ShardIo]] scaffolding. */
  def readShards(spark: SparkSession, path: String): DataFrame = {
    // schema from the lexicographically first shard, at the driver
    val p0 = new Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = Option(fs.globStatus(new Path(path, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.toString).sorted.toIndexedSeq
    require(shards.nonEmpty, s"no .arrows shards under $path")
    val head = {
      val in = fs.open(new Path(shards.head))
      val bytes = readFully(in)
      in.close()
      decode(bytes)._1
    }
    val sparkSchema = toSpark(head)
    val rdd = ShardIo.perShardRows(spark, shards) { (in, _) =>
      val bytes = try readFully(in) finally in.close()
      decode(bytes)._2
    }
    spark.createDataFrame(rdd, sparkSchema)
  }
}
