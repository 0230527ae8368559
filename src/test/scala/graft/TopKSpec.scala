package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKBuffer

/** Grouped top-k aggregate: buffer algebra, window-form equivalence,
  * and the partial-aggregate plan shape. */
class TopKSpec extends SparkSpec {

  test("reduce keeps the buffer best-first and bounded") {
    val pairs = Seq((5L, 1L), (7L, 2L), (5L, 0L), (9L, 9L), (9L, 3L),
      (1L, 4L), (7L, 7L))
    val buf = pairs.foldLeft(Array.emptyLongArray) {
      case (b, (v, id)) => TopKBuffer.reduce(3)(b, v, id)
    }
    val got = (0 until buf.length / 2).map(i => (buf(2 * i), buf(2 * i + 1)))
    assert(got == Seq((9L, 3L), (9L, 9L), (7L, 2L)))
  }

  test("merge equals feeding both sides through reduce, any split") {
    val all = (1 to 40).map(i => ((i * 37 % 11).toLong, i.toLong))
    for (cut <- Seq(0, 7, 20, 40)) {
      val (l, r) = all.splitAt(cut)
      def fold(xs: Seq[(Long, Long)]) = xs.foldLeft(Array.emptyLongArray) {
        case (b, (v, id)) => TopKBuffer.reduce(5)(b, v, id)
      }
      val merged = TopKBuffer.merge(5)(fold(l), fold(r))
      assert(merged.toSeq == fold(all).toSeq, s"cut=$cut")
    }
  }

  test("aggregate equals the window-rank formulation on real data") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val agg = graft.queries.ScaleOpsQueries.groupedTopk(
      spark, sf("sf0.001")).collect()
    val cents = expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(cents.desc, col("o_orderkey"))
    val win = orders
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderpriority", "rnk")
      .collect()
    assert(agg.length == win.length && agg.nonEmpty)
    agg.zip(win).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getInt(1) == b.getInt(1))
      assert(a.getLong(2) == b.getLong(2))
      assert(a.getDouble(3) == b.getDouble(3))
    }
  }

  test("plan shape: partial aggregate before the exchange, no window, " +
      "no full-input sort") {
    val q = graft.queries.ScaleOpsQueries.groupedTopk(spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "top-k must not plan a window")
    val s = plan.toString
    assert(s.contains("ObjectHashAggregate") || s.contains("SortAggregate"),
      "expected an aggregate-based plan:\n" + s.take(1000))
    assert(s.contains("partial_topkaggregator") ||
      s.contains("partial_TopKAggregator") ||
      s.toLowerCase.contains("partial_topk"),
      "map-side partial aggregation missing:\n" + s.take(1500))
  }
}
