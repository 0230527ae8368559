package graft

import graft.operators.IntervalJoin

class IntervalJoinSpec extends SparkSpec {

  test("point-in-interval: half-open boundaries, multi-bucket spans, " +
      "bucket-edge points — exact match vs brute force") {
    import spark.implicits._
    // points straddle bucket edges (bucket = 10): 0, 9, 10, 11, 25, 99
    val pts = Seq(0L, 9L, 10L, 11L, 25L, 99L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pid", "pt")
    // intervals: within one bucket, spanning several, zero-length-ish,
    // and starting exactly on a bucket edge
    val ivs = Seq(
      (100L, 0L, 10L),   // [0,10): catches 0, 9 — NOT 10
      (101L, 10L, 11L),  // [10,11): catches exactly 10
      (102L, 5L, 35L),   // spans buckets 0..3: 9, 10, 11, 25
      (103L, 90L, 100L), // [90,100): catches 99
      (104L, 40L, 50L))  // catches nothing
      .toDF("iid", "s", "e")
    val got = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 10L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val brute = (for {
      p <- Seq((0L, 0L), (1L, 9L), (2L, 10L), (3L, 11L), (4L, 25L), (5L, 99L))
      iv <- Seq((100L, 0L, 10L), (101L, 10L, 11L), (102L, 5L, 35L),
        (103L, 90L, 100L), (104L, 40L, 50L))
      if p._2 >= iv._2 && p._2 < iv._3
    } yield (p._1, iv._1)).toSet
    assert(got == brute)
    assert(brute.contains((1L, 100L)) && !brute.contains((2L, 100L)),
      "sanity: half-open semantics in the reference set itself")
  }

  test("interval overlap: exact match vs brute force, exactly one row " +
      "per overlapping pair even when the pair shares many buckets") {
    import spark.implicits._
    val as = Seq((1L, 0L, 100L), (2L, 10L, 20L), (3L, 95L, 105L),
      (4L, 200L, 201L), (5L, 50L, 50L)) // zero-length: overlaps nothing
      .toDF("aid", "as_", "ae")
    val bs = Seq((10L, 5L, 15L), (11L, 0L, 300L), (12L, 100L, 110L),
      (13L, 19L, 96L)).toDF("bid", "bs_", "be")
    val got = IntervalJoin.intervalOverlap(as, "as_", "ae", bs, "bs_", "be",
        bucket = 8L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      a <- Seq((1L, 0L, 100L), (2L, 10L, 20L), (3L, 95L, 105L),
        (4L, 200L, 201L), (5L, 50L, 50L))
      b <- Seq((10L, 5L, 15L), (11L, 0L, 300L), (12L, 100L, 110L),
        (13L, 19L, 96L))
      if a._2 < b._3 && b._2 < a._3
    } yield (a._1, b._1))
    // exactly one row per true pair: compare as multisets
    assert(got.sorted.toSeq == brute.sorted.toSeq)
    // (1, 11) shares 13 buckets yet appears once — implied by the
    // multiset equality, spelled out for the reader
    assert(got.count(_ == ((1L, 11L))) == 1)
  }

  test("overlapping intervals each match; a point in one bucket never " +
      "duplicates within one interval") {
    import spark.implicits._
    val pts = Seq((1L, 15L)).toDF("pid", "pt")
    val ivs = Seq((1L, 0L, 100L), (2L, 10L, 20L), (3L, 14L, 16L))
      .toDF("iid", "s", "e")
    val rows = IntervalJoin.pointInInterval(pts, "pt", ivs, "s", "e", 7L)
      .select("iid").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L)) // one row per matching interval
  }
}
