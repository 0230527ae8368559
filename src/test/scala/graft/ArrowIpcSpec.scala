package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ArrowIpc

class ArrowIpcSpec extends SparkSpec {

  private def fixtureBytes: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/fixtures/interop.arrows")
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  test("decodes the pyarrow-written interop fixture row-for-row") {
    val (fields, rows) = ArrowIpc.decode(fixtureBytes)
    assert(fields.map(f => (f.name, f.ty)) == Seq(
      ("id", ArrowIpc.AInt64), ("score", ArrowIpc.AFloat64),
      ("ratio", ArrowIpc.AFloat32), ("text", ArrowIpc.AUtf8),
      ("payload", ArrowIpc.ABinary), ("emb", ArrowIpc.AListF32)))
    val r = rows.toSeq
    assert(r.length == 5) // two batches: 3 + 2 rows
    // batch 1 (see tools/make_arrow_fixture.py)
    assert(r(0).getLong(0) == 1L && r(1).get(0) == null &&
      r(2).getLong(0) == 3L)
    assert(r(0).getDouble(1) == 1.5 && r(1).getDouble(1) == -2.25 &&
      r(2).get(1) == null)
    assert(r(0).getFloat(2) == 0.5f && r(1).get(2) == null &&
      r(2).getFloat(2) == 7.75f)
    assert(r(0).getString(3) == "hello" && r(1).getString(3) == "" &&
      r(2).get(3) == null)
    assert(r(0).getAs[Array[Byte]](4).toSeq ==
      Seq(0x00.toByte, 0x01.toByte, 0xff.toByte))
    assert(r(1).get(4) == null)
    assert(r(2).getAs[Array[Byte]](4).length == 0)
    assert(r(0).getSeq[Float](5) == Seq(1.0f, 2.5f))
    assert(r(1).get(5) == null)
    assert(r(2).getSeq[Float](5) == Seq.empty)
    // batch 2: unicode survives, values exact
    assert(r(3).getLong(0) == 42L && r(4).getLong(0) == 43L)
    assert(r(3).getString(3) == "naïve 日本語" && r(4).getString(3) == "z")
    assert(r(4).getSeq[Float](5) == Seq(9.0f, -8.5f, 7.0f))
  }

  test("writer round-trips through its own reader, multi-partition, " +
      "with nulls and empty lists") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("emb", ArrayType(FloatType, containsNull = true),
        nullable = true)))
    val rows = (0 until 500).map { i =>
      Row(
        if (i % 7 == 0) null else i.toLong,
        if (i % 5 == 0) null else i * 0.25,
        if (i % 11 == 0) null else s"doc-$i-héllo",
        if (i % 13 == 0) null
        else if (i % 13 == 1) Seq.empty[Float]
        else Seq(i * 1.5f, -i * 0.5f))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = Files.createTempDirectory("graft-arrow").toString
    val manifest = ArrowIpc.writeShards(df, dir, batchRows = 64)
    assert(manifest.agg(sum(col("n_rows"))).head.getLong(0) == 500)
    assert(manifest.count() == 3)
    val back = ArrowIpc.readShards(spark, dir)
    assert(back.schema == schema)
    def key(r: Row): String = r.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")
    assert(back.collect().map(key).sorted.toSeq ==
      rows.map(key).sorted)
  }

  test("writer output batches at the requested granularity and ends " +
      "with the EOS marker") {
    val s = spark
    import s.implicits._
    val df = (0 until 10).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .coalesce(1)
    val dir = Files.createTempDirectory("graft-arrow2").toString
    ArrowIpc.writeShards(df, dir, batchRows = 4)
    val bytes = Files.readAllBytes(
      Paths.get(dir, "part-00000.arrows"))
    // trailing EOS marker
    val n = bytes.length
    assert(bytes.slice(n - 8, n).toSeq ==
      Seq[Byte](-1, -1, -1, -1, 0, 0, 0, 0))
    // 10 rows at batchRows=4 → 3 record batches: schema + 3 + EOS
    val (_, rows) = ArrowIpc.decode(bytes)
    assert(rows.size == 10)
  }

  test("truncated and corrupted streams fail loudly") {
    val bytes = fixtureBytes
    intercept[Exception] {
      ArrowIpc.decode(bytes.take(16))._2.toList
    }
    val corrupt = bytes.clone()
    corrupt(0) = 0x42 // break the continuation marker
    intercept[Exception] { ArrowIpc.decode(corrupt)._2.toList }
  }

  test("unsupported Spark types are rejected with a clear error") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "x")).toDF("i", "t") // IntegerType unsupported
    val e = intercept[IllegalArgumentException] {
      ArrowIpc.fromSpark(df.schema)
    }
    assert(e.getMessage.contains("unsupported Spark type"))
  }
}
