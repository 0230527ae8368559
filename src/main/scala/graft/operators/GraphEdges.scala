package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-order-safe co-purchase pair expansion — the shared edge builder
  * behind the graph queries (link prediction, triangles, communities,
  * association rules).
  *
  * The naive (o,p)⨯(o,p) self-join on the order key is quadratic PER
  * ORDER: one hot order with 10⁴ parts emits 5·10⁷ pairs inside a
  * single task (the join key is the order id, so no partitioning can
  * split it), and at real-corpus skew that is the task that OOMs while
  * 31 cores idle. TPC-H order fan-out is bounded (≤ 7 lines), which is
  * why the hazard never fires at the test SFs — this module is the
  * 100 TB posture.
  *
  * Shape: a one-aggregate probe (raw rows per order — a conservative
  * overestimate of distinct parts) decides. The probe is one
  * map-side-combinable aggregate action over the (o, p) projection —
  * not free, but the only cost the cold path pays: with no hot orders
  * the expansion plan itself is byte-identical to the naive
  * co-partitioned self-join, and callers that share a corpus can share
  * the probe's verdict via `memoKey` (the four co-purchase queries
  * do), so the scan+aggregate runs once per dataset, not once per
  * query. With hot orders, cold orders keep
  * the naive join and each hot order's pair space is CHUNK-PARTITIONED:
  * parts hash into ⌈k/Chunk⌉ buckets, the x-side replicates each row to
  * its (ci, cj ≥ ci) target cells, the y-side to (ci ≤ cj, cj), and the
  * join key becomes (o, ci, cj) — every shuffle cell carries ≈ Chunk²
  * candidate pairs regardless of k, so the quadratic work spreads over
  * the cluster instead of one task. Each unordered pair surfaces
  * exactly once per order (cross-cell pairs once by construction,
  * in-cell pairs deduped by the p<q filter), so downstream
  * distinct/count semantics are unchanged — GraphEdgesSpec pins the
  * planted-hot-order expansion to the naive rows.
  */
object GraphEdges {

  /** distinct parts per order above which the pair expansion is
    * chunk-partitioned (TPC-H orders have ≤ 7; real baskets with 10³+
    * items are exactly the hot-key regime) */
  val HotOrderParts = 1024

  /** chunk side length for hot orders: each shuffle cell carries
    * ≈ Chunk² ≈ 2.6·10⁵ candidate pairs — seconds of work per task */
  val Chunk = 512

  /** Memoized probe verdicts (hot orders present?) per `memoKey`. The
    * verdict only ROUTES between two row-identical plans, so a stale
    * entry can never change results — callers key it to an immutable
    * dataset snapshot (here: the sf directory). */
  private[graft] val probeMemo =
    new graft.Lru[String, Boolean](graft.Lru.Verdicts)

  /** One row per (order, unordered part pair): columns (o, a, b) with
    * a < b — exactly what the naive self-join emits, hot-order-safe.
    * `op` must already be the DISTINCT (o, p) projection; `probeRaw`
    * is the same projection BEFORE the distinct — the probe counts
    * raw rows per order (map-side-combinable, no distinct exchange,
    * nothing persisted on the cold path), which can only OVERestimate
    * the distinct part count, so the guard stays conservative while
    * the no-hot-orders plan is byte-identical to the naive join. On
    * the hot path the SAME raw-count frame drives the chunk layout
    * (persisted once the probe says it is needed): the overestimate
    * only splits a hot order into slightly more, emptier chunks —
    * never an under-split — and the exact distinct-count aggregate
    * disappears from the plan. `memoKey` (an immutable-snapshot
    * identity, e.g. the dataset directory) shares the probe verdict
    * across queries over the same corpus.
    * Returns the pair frame plus any persisted intermediates for the
    * caller to release after materializing. */
  def coPurchasePairs(op: DataFrame, probeRaw: DataFrame,
                      memoKey: Option[String] = None)
      : (DataFrame, Seq[DataFrame]) = {
    val kRaw = probeRaw.groupBy(col("o")).agg(count(lit(1)).as("k"))
    def probe = kRaw.filter(col("k") > HotOrderParts).limit(1).count() > 0
    val anyHot = memoKey.fold(probe)(k => probeMemo.getOrLoad(k)(probe))
    if (!anyHot) {
      val pairs = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.o").as("o"), col("x.p").as("a"),
          col("y.p").as("b"))
      (pairs, Nil)
    } else {
      // the probe's raw-count frame, persisted now that the layout
      // needs it — conservative chunk counts, no second aggregate
      val k = kRaw.persist()
      val withK = op.join(k, Seq("o")).persist()
      val cold = withK.filter(col("k") <= HotOrderParts)
        .select("o", "p")
      val coldPairs = cold.as("x").join(cold.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.o").as("o"), col("x.p").as("a"),
          col("y.p").as("b"))
      val hot = withK.filter(col("k") > HotOrderParts)
        .withColumn("nb",
          ceil(col("k").cast("double") / Chunk).cast("int"))
        .withColumn("c", pmod(xxhash64(col("p")), col("nb")).cast("int"))
      val xrep = hot
        .withColumn("cj", explode(expr("sequence(c, nb - 1)")))
        .select(col("o"), col("p").as("pa"), col("c").as("ci"), col("cj"))
      val yrep = hot
        .withColumn("ci", explode(expr("sequence(0, c)")))
        .select(col("o"), col("p").as("pb"), col("ci"),
          col("c").as("cj"))
      val hotPairs = xrep
        .join(yrep, Seq("o", "ci", "cj"))
        // cross-cell (ci<cj) pairs appear exactly once, unnormalized;
        // in-cell (ci=cj) pairs appear in both orders — keep pa<pb
        .filter(col("ci") < col("cj") || col("pa") < col("pb"))
        .select(col("o"), least(col("pa"), col("pb")).as("a"),
          greatest(col("pa"), col("pb")).as("b"))
      (coldPairs.unionByName(hotPairs), Seq(withK, k))
    }
  }
}
