package graft

import graft.operators.SuffixRanks

/** Pins the suffix-rank repeat profile: the driver-local dense form
  * (the default under the position guard), the distributed dense-
  * broadcast walk, and the distributed join walk agree row for row
  * (the dispatch guards can change plans, never answers), and
  * hand-built corpora hit known exact lengths. */
class SuffixRanksSpec extends SparkSpec {

  test("local, distributed-dense and join-walk forms agree on corpora") {
    for (d <- Seq(sf("sf0.001"), sf("sf0.01"))) {
      val docs = Tables.documents(spark, d)
      val a = SuffixRanks.maxRepeatProfile(docs, "doc_id", "text")
        .collect().map(_.toSeq).toSeq
      val b = SuffixRanks.maxRepeatProfileJoinWalk(docs, "doc_id", "text")
        .collect().map(_.toSeq).toSeq
      val c = SuffixRanks
        .maxRepeatProfileDistributed(docs, "doc_id", "text")
        .collect().map(_.toSeq).toSeq
      assert(a == b && a.nonEmpty, s"local vs join walk diverge at $d")
      assert(a == c, s"local vs distributed dense walk diverge at $d")
    }
  }

  test("known exact repeat lengths on a planted corpus, all forms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h q r"), // shares c..h (6) with doc 1
      (3L, "z z z"),               // self-overlap: max 2
      (4L, "solo unique tokens only here")
    ).toDF("doc_id", "text")
    val want = Map(1L -> 6L, 2L -> 6L, 3L -> 2L, 4L -> 0L)
    type Form = org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame
    for (f <- Seq[Form](
        SuffixRanks.maxRepeatProfile(_, "doc_id", "text"),
        SuffixRanks.maxRepeatProfileDistributed(_, "doc_id", "text"),
        SuffixRanks.maxRepeatProfileJoinWalk(_, "doc_id", "text"))) {
      val got = f(docs)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == want, got.toString)
    }
  }

  test("repeats spanning the 16 and 64 boundaries, local vs distributed") {
    import spark.implicits._
    // one 80-token run duplicated verbatim across two docs → capped 64;
    // a 17-token run duplicated within one doc → exactly 17
    val run80 = (0 until 80).map(i => s"t$i").mkString(" ")
    val run17 = (0 until 17).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, run80 + " endone"),
      (2L, "lead " + run80),
      (3L, run17 + " mid " + run17),
      (4L, "")
    ).toDF("doc_id", "text")
    val want = Map(1L -> 64L, 2L -> 64L, 3L -> 17L, 4L -> 0L)
    val local = SuffixRanks.maxRepeatProfile(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val dist = SuffixRanks
      .maxRepeatProfileDistributed(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(local == want, s"local: $local")
    assert(dist == want, s"distributed: $dist")
  }

  test("seeded random repeat-heavy corpora: local == distributed == " +
      "a brute-force oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      // tiny alphabet + copied spans force dense repeat structure,
      // including runs crossing the 16 boundary and self-overlaps
      val alphabet = Vector("a", "b", "c", "d")
      val docs = (1 to 30).map { id =>
        val n = 1 + rnd.nextInt(40)
        val base = Array.fill(n)(alphabet(rnd.nextInt(alphabet.size)))
        // splice a span copied from another position half the time
        if (n > 8 && rnd.nextBoolean()) {
          val len = 2 + rnd.nextInt(n / 2)
          val from = rnd.nextInt(n - len)
          val to = rnd.nextInt(n - len)
          System.arraycopy(base, from, base, to, len)
        }
        (id.toLong, base.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val local = SuffixRanks.maxRepeatProfile(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val dist = SuffixRanks
        .maxRepeatProfileDistributed(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(local == dist, s"trial $trial: local vs distributed")
      // brute force: for every position, the max common prefix with
      // any other position (capped at 64, never across doc ends)
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
      val all = for ((id, a) <- toks; p <- a.indices) yield (id, a, p)
      val brute = toks.map { case (id, a) =>
        val best = new Array[Long](a.length)
        for (p <- a.indices; (jd, b, q) <- all
             if jd != id || q != p) {
          var l = 0
          while (l < 64 && p + l < a.length && q + l < b.length &&
            a(p + l) == b(q + l)) l += 1
          if (l > best(p)) best(p) = l
        }
        id -> (best.max, best.count(_ >= 16).toLong)
      }.toMap
      assert(local == brute, s"trial $trial: engine vs brute force")
    }
  }

  test("rankWithin assigns exact dense ranks across partition boundaries") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("k%03d".format(i % 97), i)).toDF("k", "v")
    val ranked = SuffixRanks.rankWithin(df, Seq("k"), "r")
      .select("k", "r").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // 97 distinct keys → ranks exactly 0..96 in key order
    assert(ranked.map(_._2).toSeq == (0L until 97L))
  }

  test("uniform-lead block ranking equals the sampled range ranking") {
    import spark.implicits._
    // lead is a dense value in [0, 50); secondary key has duplicates
    val df = (0 until 5000)
      .map(i => ((i * 7919) % 50).toLong -> ((i * 31) % 11).toLong)
      .toDF("lead", "sub")
    val a = SuffixRanks.rankWithinTotal(df, Seq("lead", "sub"), "r",
        Some(50L))
    val b = SuffixRanks.rankWithinTotal(df, Seq("lead", "sub"), "r", None)
    assert(a._2 == b._2)
    val am = a._1.select("lead", "sub", "r").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val bm = b._1.select("lead", "sub", "r").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(am == bm)
  }
}
