package graft

import graft.operators.ExactPercentile

/** Exercises the iterative-narrowing percentile operator on the
  * distributions the oracle queries don't reach: heavy ties (bins that
  * refuse to shrink), all-equal columns (zero-width ranges), inputs
  * smaller than a sliver, and rank boundaries landing exactly on
  * integers. Truth is the in-memory type-1 quantile. */
class ExactPercentileSpec extends SparkSpec {

  private def truth(vs: Seq[Long], pm: Long): (Long, Long) = {
    val sorted = vs.sorted
    val r = (pm * vs.size + 999L) / 1000L
    (r, sorted((r - 1).toInt))
  }

  private def check(vs: Seq[Long], pms: Seq[Long]): Unit = {
    import spark.implicits._
    val df = vs.toDF("v")
    val got = ExactPercentile.percentiles(df, "v", pms)
      .select("p", "rank", "value").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(got.length == pms.size)
    pms.zip(got.sortBy(_._1)).foreach { case (pm, (p, rank, value)) =>
      val (er, ev) = truth(vs, pm)
      assert(p == pm / 1000.0 && rank == er && value == ev,
        s"pm=$pm got ($p,$rank,$value) want ($er,$ev) over n=${vs.size}")
    }
  }

  test("uniform longs, exact ranks on integer boundaries") {
    check((1L to 1000L), Seq(500L, 900L, 990L, 1000L))
  }

  test("heavy ties: one value holds 90% of the mass") {
    val vs = Seq.fill(9000)(42L) ++ (1L to 500L) ++ (9000L to 9499L)
    check(vs, Seq(10L, 500L, 950L, 999L))
  }

  test("all values equal (zero-width range)") {
    check(Seq.fill(500)(7L), Seq(500L, 990L))
  }

  test("input smaller than one sliver") {
    check(Seq(5L, 3L, 9L, 1L), Seq(250L, 500L, 1000L))
  }

  test("wide sparse domain forces multiple narrowing rounds") {
    // values spread over ~2^48 with a dense cluster: a single
    // 2048-bin histogram cannot isolate a sliver in one round when
    // SliverRows is tiny relative to the cluster — emulate by using
    // many duplicate points far apart
    val vs = (0 until 2000).map(i => (i.toLong << 36) + (i % 7)) ++
      Seq.fill(3000)((999L << 36))
    check(vs, Seq(500L, 900L))
  }
}
