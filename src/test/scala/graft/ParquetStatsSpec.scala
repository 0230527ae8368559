package graft

import org.apache.spark.sql.SaveMode

import graft.sources.ParquetStats

/** Unit contract of the zero-job footer-statistics reader the dense
  * dispatch guards depend on: exact counts and ranges from written
  * parquet, and STRICT None on anything unknown — a guard must never
  * mistake "statistic unavailable" for "range is safe". */
class ParquetStatsSpec extends SparkSpec {

  private def write(rows: Seq[(Long, Long)], parts: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    rows.toDF("a", "b").repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  test("rowCount and longMinMax are exact across multiple files") {
    val rows = (1L to 5000L).map(i => (i * 3 - 2, 7000L - i))
    val p = write(rows, 4)
    assert(ParquetStats.rowCount(spark, p).contains(5000L))
    assert(ParquetStats.longMinMax(spark, p, "a").contains((1L, 14998L)))
    assert(ParquetStats.longMinMax(spark, p, "b").contains((2000L, 6999L)))
  }

  test("negative and boundary values survive the statistics round-trip") {
    val p = write(Seq((-5L, Long.MaxValue), (0L, Long.MinValue + 1)), 1)
    assert(ParquetStats.longMinMax(spark, p, "a").contains((-5L, 0L)))
    assert(ParquetStats.longMinMax(spark, p, "b")
      .contains((Long.MinValue + 1, Long.MaxValue)))
  }

  test("unknowns are None, never a guess") {
    val p = write(Seq((1L, 2L)), 1)
    assert(ParquetStats.longMinMax(spark, p, "no_such_col").isEmpty)
    assert(ParquetStats.rowCount(spark, "/nonexistent/path.parquet").isEmpty)
    assert(ParquetStats
      .longMinMax(spark, "/nonexistent/path.parquet", "a").isEmpty)
  }

  test("nested/partitioned layouts are fully counted (recursive walk)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    (1L to 300L).map(i => (i, i % 3)).toDF("a", "pk")
      .write.mode(SaveMode.Overwrite).partitionBy("pk")
      .parquet(s"$dir/t.parquet")
    // every file under pk=0/, pk=1/, pk=2/ must be seen: a non-recursive
    // listing would report 0 rows here and a dense guard could admit a
    // collect whose unseen files hold keys past the pack range
    assert(ParquetStats.rowCount(spark, s"$dir/t.parquet").contains(300L))
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "a")
      .contains((1L, 300L)))
    // the partition column lives in directory names, not footers:
    // still None (unknown), never a guess
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "pk").isEmpty)
  }

  test("hidden/temporary entries are ignored, like Spark readers do") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    (1L to 10L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    // a crashed write's leftovers: Spark ignores '_'/'.' names, so the
    // footer count must too — over-counting could flip a dispatch
    // branch the oracle's logical COUNT(*) doesn't take
    (1L to 90L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$dir/t.parquet/_temporary/0/part.parquet")
    (1L to 7L).map(i => (i, i)).toDF("a", "b").coalesce(1)
      .write.parquet(s"$dir/t.parquet/.hidden/part.parquet")
    assert(ParquetStats.rowCount(spark, s"$dir/t.parquet").contains(10L))
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "a")
      .contains((1L, 10L)))
  }

  test("non-long columns return None (the pack guard needs int64)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pstats").toString
    Seq(("x", 1.5), ("y", 2.5)).toDF("s", "d")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "s").isEmpty)
    assert(ParquetStats.longMinMax(spark, s"$dir/t.parquet", "d").isEmpty)
  }

  test("pre-epoch TIMESTAMP(NANOS) events: session_window_overlap gives " +
      "the same rows from the footer t0 as from the scan t0") {
    // Tables.events truncates nanos toward zero (`div 1000`); the footer
    // t0 must too. Event 1 at −1500 ns is ts_us −1 (floor division would
    // give −2); event 2 starts exactly 1 µs before the end of window 0
    // under the true t0, so a 1 µs shift moves it out of that window.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("""message events {
      optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false));
      optional int64 user_id; optional binary event_type (STRING);
      optional double value; optional binary props (STRING); }""")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-preepoch").toString
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    Seq((0L, -1500L, 1L), (1L, -700L, 1L),
        (2L, 5399999998123L, 2L)).foreach { case (id, ns, user) =>
      w.write(f.newGroup().append("event_id", id).append("ts", ns)
        .append("user_id", user).append("event_type", "view")
        .append("value", 1.0).append("props", "{}"))
    }
    w.close()
    try {
      val rel = graft.queries.Relational
      assert(rel.footerT0(spark, dir).contains(-1L))
      val footer = rel.sessionWindowOverlapAt(spark, dir,
        rel.footerT0(spark, dir)).collect().toSeq
      val scan = rel.sessionWindowOverlapAt(spark, dir, None).collect().toSeq
      assert(footer == scan)
      assert(footer.head.getLong(0) == 0L && footer.head.getLong(1) == 2L,
        s"window 0 must hold both sessions: $footer")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
