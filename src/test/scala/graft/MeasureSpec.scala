package graft

import graft.Measure.{Run, Series}
import graft.queries.QuerySpec

class MeasureSpec extends SparkSpec {
  private lazy val dir = sf("sf0.001")

  test("jobsDuring: a body that starts no job reports 0 jobs, a count its one") {
    val (v, none) = jobsDuring(41 + 1)
    assert(v == 42 && none.isEmpty)
    val (n, some) = jobsDuring(spark.range(10).count())
    assert(n == 10 && some.nonEmpty)
  }

  test("the jobs Measure records equal jobsDuring around the same noop run") {
    val byName = SparkEntry.specs.map(q => q.name -> q).toMap
    for (name <- Seq("q1_pricing_summary", "graph_bfs_levels_dist")) {
      val q = byName(name)
      val s = Measure.series(spark, q, dir, 2)
      assert(s.ok && s.runs.size == 2, name)
      spark.catalog.clearCache()
      val (_, jobs) = jobsDuring(Measure.sink(q.run(spark, dir)))
      assert(jobs.nonEmpty && s.jobs == jobs.size, s"$name: ${s.runs}")
    }
  }

  test("a throwing query is reported as failed, never as a time") {
    val boom = QuerySpec("boom",
      (_, _) => throw new IllegalStateException("boom"), None)
    val failed = Measure.series(spark, boom, dir, 3)
    assert(!failed.ok && failed.runs.isEmpty)
    // a run that throws is dropped; the others keep their times
    var calls = 0
    val flaky = QuerySpec("flaky", (s, _) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second run")
      s.range(5).toDF()
    }, None)
    val some = Measure.series(spark, flaky, dir, 3)
    assert(calls == 3 && some.ok && some.runs.size == 2)
    assert(some.runs.forall(r => r.sec > 0 && r.jobs > 0))
  }

  test("median, min and jobs of a series; the run count is clamped to 1") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val s = Series("q", Seq(Run(3.0, 7), Run(1.0, 6), Run(2.0, 5), Run(5.0, 4)))
    assert(s.median == 2.5 && s.min == 1.0 && s.mean == 2.75 && s.jobs == 4)
    assert(Measure.runs("K", 3, Map.empty) == 3)
    assert(Measure.runs("K", 2, Map("K" -> "0")) == 1)
    assert(Measure.runs("K", 2, Map("K" -> "5")) == 5)
  }

  test("scaling check: one threshold, expected rows exempt, failures fail") {
    val rows = Seq(Scaling.Row("flat", 1.0, 9.0), Scaling.Row("steep", 1.0, 13.0))
    assert(Scaling.check(rows, Nil, Map.empty))
    assert(!Scaling.check(rows, Nil, Map("steep" -> "output-bound")))
    assert(Scaling.check(rows.take(1), Seq("broken"), Map.empty))
    assert(!Scaling.check(Seq(Scaling.Row("edge", 1.0, Scaling.SuperLinear)),
      Nil, Map.empty))
    assert(Scaling.summary(rows, Seq("broken"), Map("steep" -> "why")) ==
      """"worst":{"name":"flat","ratio":9.00},"failed":["broken"]""")
    assert(Scaling.summary(Nil, Nil, Map.empty) == """"worst":null,"failed":[]""")
  }
}
