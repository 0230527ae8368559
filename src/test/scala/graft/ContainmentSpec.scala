package graft

import scala.util.Random

import graft.pipeline.Dedup

/** Properties of the asymmetric containment join: completeness and
  * exactness against a test-side brute force over randomized corpora
  * with PLANTED containments — the same treatment the fuzzy join's
  * FastSS construction gets in FuzzyJoinSpec. BOTH strategy paths
  * (dense bitmap popcount, sparse prefix-filtered index) are checked
  * against the same brute force, pinning the auto dispatcher's
  * identical-results contract.
  */
class ContainmentSpec extends SparkSpec {

  private val T = 0.8

  /** brute-force containment over word-bigram shingle SETS (the
    * operator's contract), computed with plain Scala collections */
  private def brute(docs: Seq[(Long, String)]): Set[(Long, Long)] = {
    def shingleSet(t: String): Set[(String, String)] = {
      val w = t.split(" ", -1)
      if (w.length < 2) Set.empty
      else w.sliding(2).map(a => (a(0), a(1))).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      sa = sets(a); sb = sets(b)
      if sa.nonEmpty && sb.nonEmpty
      common = (sa & sb).size
      c = BigDecimal(common.toDouble / math.min(sa.size, sb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= T
    } yield (a, b)).toSet
  }

  test("completeness + exactness: prefix-filtered containment equals " +
      "brute force on corpora with planted containments") {
    import spark.implicits._
    val rnd = new Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // base docs + planted cases: exact quote inside a longer doc,
    // partial overlap near the threshold, and unrelated noise
    val base = (0L until 30L).map(i => (i, doc(8 + rnd.nextInt(20))))
    val planted = base.take(8).zipWithIndex.map { case ((_, t), k) =>
      (100L + k, s"${doc(3 + k)} $t ${doc(2)}") // t quoted wholesale
    }
    val corpus = base ++ planted
    val df = corpus.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text")
    val nShingleVocab = sh.select("s").distinct().count().toInt
    val gotPrefix = Dedup.containmentPairsPrefix(sh, T)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotBitmap = Dedup.containmentPairsBitmap(sh, nShingleVocab, T)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = brute(corpus)
    assert(want.nonEmpty, "planted containments must produce pairs")
    assert(gotPrefix == want, "prefix path: " +
      s"missing=${(want -- gotPrefix).take(5)} extra=${(gotPrefix -- want).take(5)}")
    assert(gotBitmap == want, "bitmap path: " +
      s"missing=${(want -- gotBitmap).take(5)} extra=${(gotBitmap -- want).take(5)}")
    // the planted quotes specifically must all be found
    planted.zip(base.take(8)).foreach { case ((pid, _), (bid, _)) =>
      assert(gotPrefix.contains((bid, pid)),
        s"planted containment ($bid, $pid) missed")
    }
  }

  test("contained_id points at the smaller shingle set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h"),           // 7 shingles
      (2L, "x y a b c d e f g h z w"))   // superset + noise
    val row = Dedup.containmentPairsAuto(
        corpus.toDF("doc_id", "text"), "doc_id", "text", T)
      .collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("contained_id") == 1L)
    assert(row(0).getAs[Double]("containment") == 1.0)
  }
}
