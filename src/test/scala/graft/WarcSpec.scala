package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.sources.Warc

/** WARC ingestion: a hand-built Common-Crawl-style fixture (response
  * records with HTTP envelopes, per-member gzip), the uncompressed
  * variant, HTTP-envelope edge cases, and the writer round-trip. */
class WarcSpec extends SparkSpec {

  private def rec(headers: Seq[(String, String)],
                  block: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("WARC/1.0\r\n".getBytes("US-ASCII"))
    (headers :+ ("Content-Length" -> block.length.toString)).foreach {
      case (k, v) => out.write(s"$k: $v\r\n".getBytes("ISO-8859-1")) }
    out.write("\r\n".getBytes); out.write(block)
    out.write("\r\n\r\n".getBytes)
    out.toByteArray
  }

  private def httpBlock(status: String, ct: String,
                        body: String): Array[Byte] =
    (s"HTTP/1.1 $status\r\nContent-Type: $ct\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n$body").getBytes("ISO-8859-1")

  private def ccFixture: Seq[Array[Byte]] = Seq(
    rec(Seq("WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:test:info>",
      "Content-Type" -> "application/warc-fields"),
      "software: test\r\n".getBytes),
    rec(Seq("WARC-Type" -> "request",
      "WARC-Record-ID" -> "<urn:test:req1>",
      "WARC-Target-URI" -> "http://example.com/a",
      "Content-Type" -> "application/http; msgtype=request"),
      "GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes),
    rec(Seq("WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:test:resp1>",
      "WARC-Target-URI" -> "http://example.com/a",
      "WARC-Date" -> "2024-01-01T00:00:00Z",
      "Content-Type" -> "application/http; msgtype=response"),
      httpBlock("200 OK", "text/html; charset=utf-8",
        "<html>hello warc</html>")),
    rec(Seq("WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:test:resp2>",
      "WARC-Target-URI" -> "http://example.com/b",
      "Content-Type" -> "application/http; msgtype=response"),
      httpBlock("404 Not Found", "text/plain", "nope")),
    // response with a BROKEN http envelope (no \r\n\r\n) — must
    // degrade to null status with the whole block as payload
    rec(Seq("WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:test:resp3>",
      "WARC-Target-URI" -> "http://example.com/c",
      "Content-Type" -> "application/http; msgtype=response"),
      "HTTP/1.1 200 OK\r\nTruncated".getBytes))

  test("reads a per-member-gzipped CC-style shard") {
    val dir = Files.createTempDirectory("warcgz")
    val out = new ByteArrayOutputStream()
    ccFixture.foreach { r =>
      val gz = new GZIPOutputStream(out); gz.write(r); gz.finish()
    }
    Files.write(dir.resolve("shard-00000.warc.gz"), out.toByteArray)
    val df = Warc.read(spark, dir.toString)
    val rows = df.orderBy("record_idx").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("warcinfo", "request", "response", "response", "response"))
    val r200 = rows(2)
    assert(r200.getInt(8) == 200)
    assert(r200.getString(9) == "text/html; charset=utf-8")
    assert(new String(r200.getAs[Array[Byte]](10)) ==
      "<html>hello warc</html>")
    assert(r200.getString(4) == "http://example.com/a")
    assert(r200.getString(5) == "2024-01-01T00:00:00Z")
    assert(rows(3).getInt(8) == 404)
    // broken envelope degrades, never crashes
    assert(rows(4).isNullAt(8))
    assert(new String(rows(4).getAs[Array[Byte]](10))
      .startsWith("HTTP/1.1 200 OK"))
  }

  test("reads the uncompressed variant identically") {
    val dir = Files.createTempDirectory("warcplain")
    val out = new ByteArrayOutputStream()
    ccFixture.foreach(out.write)
    Files.write(dir.resolve("shard-00000.warc"), out.toByteArray)
    val df = Warc.read(spark, dir.toString)
    assert(df.count() == 5)
    assert(df.filter(col("http_status") === 200).count() == 1)
  }

  test("header continuation lines fold per spec") {
    val dir = Files.createTempDirectory("warcfold")
    val folded = ("WARC/1.0\r\nWARC-Type: metadata\r\n" +
      "WARC-Target-URI: http://example.com/\r\n very/long/path\r\n" +
      "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("ISO-8859-1")
    Files.write(dir.resolve("f.warc"), folded)
    val r = Warc.read(spark, dir.toString).collect()(0)
    assert(r.getString(4) == "http://example.com/ very/long/path")
  }

  test("writer round-trips through the reader, warcinfo led") {
    val dir = Files.createTempDirectory("warcrt").toString + "/out"
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(concat(lit("urn:doc:"), col("doc_id")).as("uri"),
        col("text").cast("binary").as("payload"))
      .repartition(3, col("uri"))
    val manifest = Warc.writeShards(docs, "uri", "payload", dir,
      "2024-06-01T00:00:00Z")
    assert(manifest.count() == 3)
    val back = Warc.read(spark, dir)
    val n = docs.count()
    assert(back.filter(col("warc_type") === "resource").count() == n)
    // every shard leads with its warcinfo record at idx 0
    assert(back.filter(col("warc_type") === "warcinfo").count() == 3)
    assert(back.filter(col("warc_type") === "warcinfo")
      .filter(col("record_idx") =!= 0).count() == 0)
    // payload bytes survive exactly
    val got = back.filter(col("warc_type") === "resource")
      .select(col("target_uri"),
        col("payload").cast("string").as("text"))
    val want = docs.select(col("uri").as("target_uri"),
      col("payload").cast("string").as("text"))
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }
}
