package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dense-regime kernels for the iterative fixpoints on the
  * part–supplier bipartite graph (pagerank, HITS, BFS levels, k-core
  * peeling).
  *
  * The bipartite graph is SMALL relative to the corpus it summarizes:
  * its edge set is the distinct (part, supplier) relation — bounded by
  * the catalogue (TPC-H: 4 suppliers/part, i.e. ~0.13% of lineitem
  * rows), not by the fact table. Up to the dispatch guard the right
  * plan for a 2–3-round fixpoint is therefore NOT 10–30 scheduled jobs
  * of join+aggregate over a 23 k-node graph (per-round exchange
  * latency dominates by 100×), but one bounded collect of the distinct
  * pair relation and a driver CSR loop that replays the SAME integer
  * recurrence bit-for-bit — the dense/distributed auto-dispatch shape
  * already used by [[DenseGraph]] and
  * [[graft.operators.SuffixRanks]]. Above the guard the callers fall
  * back to the fully distributed one-exchange-per-round forms, which
  * stay separately oracle-checked (`graph_*_dist`) and decade-measured.
  *
  * Every kernel is integer-only (Long truncating division on
  * non-negative operands = Spark `div` = DuckDB `//`), so the dense and
  * distributed branches are row-identical, not approximately equal —
  * BipartiteFixpointSpec pins all four pairs on real testdata.
  *
  * Reference semantics: the fixpoint recurrences mirror the
  * distributed definitions in PipelineQueries (graphPagerankSql etc.);
  * node ids are parity-encoded (part → 2k, supplier → 2k+1) exactly as
  * there.
  */
object BipartiteFixpoint {

  /** Max distinct (part, supplier) pairs for the dense branch — same
    * bound as [[DenseGraph.DenseMaxPairs]]: 2²² pairs ≈ 64 MB of
    * driver arrays, CSR well under a broadcast-sized footprint. Real
    * TPC-H (partsupp = 800 k/sf·0.8) crosses it near sf5; the
    * driver's synthetic corpus assigns suppliers ~independently of
    * parts (~1 distinct pair per lineitem row), so there the boundary
    * sits just under sf1 — the decade panel therefore measures the
    * `_dist` twins, never a wrapper that would smear the dispatch. */
  val DenseMaxPairs: Long = DenseGraph.DenseMaxPairs

  /** Memoized guard verdicts per (corpus SNAPSHOT, bound) — same
    * result contract as [[GraphEdges]] (a verdict only routes between
    * row-identical plans, so a stale entry can never change results),
    * but the key hashes path + length + mtime like the band-mass
    * probe memo: on a dir whose data grew IN PLACE, a stale ACCEPT
    * would otherwise re-collect a now-oversized distinct relation to
    * the driver — a heap risk, not a wrong answer. A snapshot change
    * is a clean memo miss. */
  private val guardMemo = new graft.Lru[String, Boolean](graft.Lru.Verdicts)

  /** Immutable driver-side bipartite graph: parity-encoded node ids
    * (sorted; index = dense id), CSR offsets + neighbor indices, and
    * the raw distinct (p, s) pair list for the peel kernel. */
  final case class BiGraph(ids: Array[Long], off: Array[Int],
                           adj: Array[Int], ps: Array[Long],
                           ss: Array[Long]) {
    def n: Int = ids.length
    def deg(v: Int): Int = off(v + 1) - off(v)
  }

  /** Raw lineitem rows admitted to the zero-exchange fast path: one
    * packed collect of the raw (p, s) projection (2²⁴ rows = 128 MB of
    * longs) with dedup on the driver — cheaper than a distinct
    * exchange whenever the raw relation itself is collectable, and the
    * guard reads parquet FOOTERS only (no Spark job at all). */
  val RawCollectMax: Long = 1L << 24

  /** Collect the distinct (p, s) relation if it fits `maxPairs`.
    * Fast path: footer row count ≤ [[RawCollectMax]] and key ranges
    * 32-bit-safe (footer min/max — zero jobs) → ONE packed collect of
    * the raw projection, sort + dedup on the driver. Fallback (footers
    * unavailable, or raw too big while the distinct may still fit): a
    * memoized distinct count, then a distinct-exchange collect.
    * Returns None → caller takes the distributed form. */
  private def collectIfFits(s: SparkSession, d: String, maxPairs: Long)
      : Option[(Array[Long], Array[Long])] = {
    import s.implicits._
    val path = s"$d/lineitem.parquet"
    val fast = PackedPairs.footerFits(s, path, "l_partkey", "l_suppkey",
      RawCollectMax).getOrElse(false)
    val key = "lineitem-bipartite|" + d + "|" +
      graft.sources.ParquetStats.snapshotToken(s, path) + "|" + maxPairs
    // a memoized REJECT short-circuits both paths: at sfs where the raw
    // relation is collectable but its distinct exceeds the CSR bound,
    // the fast path would otherwise pay the ~raw·8B collect on EVERY
    // fixpoint call before falling back — one wasted collect per
    // (dir, bound) at most, and a stale verdict only routes between
    // row-identical plans (same contract as the accept memo below).
    if (guardMemo.get(key).contains(false)) return None
    if (fast) {
      val raw = PackedPairs.collectDistinct(graft.Tables.lineitem(s, d),
        "l_partkey", "l_suppkey")
      if (raw.isEmpty) return None // empty: distributed form decides
      if (raw.length > maxPairs) { // distinct still too big for a CSR
        guardMemo.put(key, false)
        return None
      }
      return Some((raw.map(_ >>> 32), raw.map(_ & 0xffffffffL)))
    }
    val pairs = graft.Tables.lineitem(s, d)
      .select(col("l_partkey").cast("long").as("p"),
        col("l_suppkey").cast("long").as("s"))
      .distinct()
    val fits = guardMemo.getOrLoad(key)(
      pairs.limit((maxPairs + 1).toInt).count() <= maxPairs)
    if (!fits) None
    else {
      val rows = pairs.as[(Long, Long)].collect()
      // empty relation: the dense kernels would divide by n = 0 /
      // call min on an empty frontier — mirror the fast path's
      // raw.isEmpty and let the distributed twin return its empty
      // frame gracefully.
      if (rows.isEmpty) None
      else Some((rows.map(_._1), rows.map(_._2)))
    }
  }

  /** Build the parity-encoded CSR from the distinct pair columns. */
  def build(ps: Array[Long], ss: Array[Long]): BiGraph = {
    val m = ps.length
    val idsArr = new Array[Long](2 * m)
    var i = 0
    while (i < m) {
      idsArr(2 * i) = ps(i) * 2
      idsArr(2 * i + 1) = ss(i) * 2 + 1
      i += 1
    }
    java.util.Arrays.sort(idsArr)
    var n = 0
    i = 0
    while (i < idsArr.length) {
      if (n == 0 || idsArr(n - 1) != idsArr(i)) { idsArr(n) = idsArr(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(idsArr, n)
    def idx(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val deg = new Array[Int](n)
    i = 0
    while (i < m) {
      deg(idx(ps(i) * 2)) += 1
      deg(idx(ss(i) * 2 + 1)) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val cursor = off.clone()
    i = 0
    while (i < m) {
      val a = idx(ps(i) * 2); val b = idx(ss(i) * 2 + 1)
      adj(cursor(a)) = b; cursor(a) += 1
      adj(cursor(b)) = a; cursor(b) += 1
      i += 1
    }
    BiGraph(ids, off, adj, ps, ss)
  }

  /** Emit a driver-computed node table as a DataFrame, sorted by
    * node_id (the ids array is already sorted, so the rows come out in
    * final order; the orderBy documents the contract and is a no-op
    * sort of small data). `nullableCols` mirrors the distributed
    * twin's schema exactly — columns derived from parquet keys are
    * nullable there, computed columns are not — so the dispatch is
    * invisible to the schema gate, not just to the row values. */
  private def nodeFrame[A <: Product : scala.reflect.runtime.universe.TypeTag
                                      : scala.reflect.ClassTag](
      s: SparkSession, rows: Seq[A], names: Seq[String],
      nullableCols: Set[String]): DataFrame = {
    // ONE partition, sorted within it: rows arrive already in node-id
    // order (the ids array is sorted), so the sort is a verified no-op
    // and — unlike orderBy — no range-sampling job + shuffle is paid
    // just to re-establish an order the driver already has. A single
    // partition is exactly right for a guard-bounded result table.
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1))
      .toDF(names: _*)
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields.map(f => f.copy(nullable = nullableCols(f.name))))
    s.createDataFrame(df.rdd, schema).sortWithinPartitions(names.head)
  }

  /** Two exact integer pagerank rounds (same recurrence as
    * graphPagerankSql): p₀ = 10⁹ div n; share(u) = pr(u) div deg(u);
    * pr'(v) = 1.5·10⁸ div n + 85·Σ_{u∈adj(v)} share(u) div 100. */
  def pagerank(s: SparkSession, d: String,
               maxPairs: Long = DenseMaxPairs): Option[DataFrame] =
    collectIfFits(s, d, maxPairs).map { case (ps, ss) =>
      val g = build(ps, ss)
      val n = g.n; val nL = n.toLong
      val pr = new Array[Long](n)
      java.util.Arrays.fill(pr, 1000000000L / nL)
      val share = new Array[Long](n)
      var round = 0
      while (round < 2) {
        var u = 0
        while (u < n) { share(u) = pr(u) / g.deg(u); u += 1 }
        var v = 0
        while (v < n) {
          var inflow = 0L
          var j = g.off(v)
          while (j < g.off(v + 1)) { inflow += share(g.adj(j)); j += 1 }
          pr(v) = 150000000L / nL + 85L * inflow / 100L
          v += 1
        }
        round += 1
      }
      nodeFrame(s, (0 until n).map(v => (g.ids(v), g.ids(v) % 2 == 1, pr(v))),
        Seq("node_id", "is_supplier", "pr_ppb"),
        nullableCols = Set("node_id", "is_supplier", "pr_ppb"))
    }

  /** One exact integer HITS round (same recurrence as graphHitsSql):
    * h₀ = 10⁹ div n; auth = rescale(push(h₀)); hub = rescale(push(auth))
    * with rescale(x) = x div max(1, Σx div 10⁹). */
  def hits(s: SparkSession, d: String,
           maxPairs: Long = DenseMaxPairs): Option[DataFrame] =
    collectIfFits(s, d, maxPairs).map { case (ps, ss) =>
      val g = build(ps, ss)
      val n = g.n
      def push(x: Array[Long]): Array[Long] = {
        val out = new Array[Long](n)
        var v = 0
        while (v < n) {
          var acc = 0L
          var j = g.off(v)
          while (j < g.off(v + 1)) { acc += x(g.adj(j)); j += 1 }
          out(v) = acc
          v += 1
        }
        out
      }
      def rescale(x: Array[Long]): Array[Long] = {
        var tot = 0L
        var v = 0
        while (v < n) { tot += x(v); v += 1 }
        val q = math.max(1L, tot / 1000000000L)
        x.map(_ / q)
      }
      val h0 = Array.fill(n)(1000000000L / n.toLong)
      val auth = rescale(push(h0))
      val hub = rescale(push(auth))
      nodeFrame(s,
        (0 until n).map(v => (g.ids(v), g.ids(v) % 2 == 1, auth(v), hub(v))),
        Seq("node_id", "is_supplier", "auth_ppb", "hub_ppb"),
        nullableCols = Set("node_id", "is_supplier"))
    }

  /** Three BFS rounds from the minimum part node (same frontier
    * semantics as graphBfsLevelsSql: dist = first round a node is
    * reached). Emits only reached nodes. */
  def bfsLevels(s: SparkSession, d: String,
                maxPairs: Long = DenseMaxPairs): Option[DataFrame] =
    collectIfFits(s, d, maxPairs).map { case (ps, ss) =>
      val g = build(ps, ss)
      val n = g.n
      val dist = new Array[Int](n)
      java.util.Arrays.fill(dist, -1)
      val seed = java.util.Arrays.binarySearch(g.ids, ps.min * 2)
      dist(seed) = 0
      var frontier = Array(seed)
      var k = 1
      while (k <= 3 && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuffer[Int]()
        frontier.foreach { v =>
          var j = g.off(v)
          while (j < g.off(v + 1)) {
            val w = g.adj(j)
            if (dist(w) < 0) { dist(w) = k; next += w }
            j += 1
          }
        }
        frontier = next.toArray
        k += 1
      }
      nodeFrame(s,
        (0 until n).filter(dist(_) >= 0)
          .map(v => (g.ids(v), g.ids(v) % 2 == 1, dist(v))),
        Seq("node_id", "is_supplier", "dist"),
        nullableCols = Set("node_id", "is_supplier"))
    }

  /** Three synchronous k-core peel rounds over the pair relation
    * (same trajectory as graphKcorePeelSql): k = (13·|E|) div
    * (10·|P|) + 1 from round 0; each round drops edges whose part OR
    * supplier endpoint has induced degree < k, both counted on the
    * round's INPUT edge set. Emits the 4-row trajectory. */
  def kcorePeel(s: SparkSession, d: String,
                maxPairs: Long = DenseMaxPairs): Option[DataFrame] =
    collectIfFits(s, d, maxPairs).map { case (ps, ss) =>
      val m = ps.length
      val pIds = ps.distinct.sorted
      val sIds = ss.distinct.sorted
      val pIdx = ps.map(p => java.util.Arrays.binarySearch(pIds, p))
      val sIdx = ss.map(x => java.util.Arrays.binarySearch(sIds, x))
      val kk = 13L * m / (10L * pIds.length) + 1L
      val alive = Array.fill(m)(true)
      def summary(r: Int): (Int, Long, Long, Long) = {
        var ne = 0L
        val seenP = new Array[Boolean](pIds.length)
        val seenS = new Array[Boolean](sIds.length)
        var np = 0L; var ns = 0L
        var i = 0
        while (i < m) {
          if (alive(i)) {
            ne += 1
            if (!seenP(pIdx(i))) { seenP(pIdx(i)) = true; np += 1 }
            if (!seenS(sIdx(i))) { seenS(sIdx(i)) = true; ns += 1 }
          }
          i += 1
        }
        (r, ne, np, ns)
      }
      val rows = scala.collection.mutable.ArrayBuffer(summary(0))
      var r = 1
      while (r <= 3) {
        val cp = new Array[Long](pIds.length)
        val cs = new Array[Long](sIds.length)
        var i = 0
        while (i < m) {
          if (alive(i)) { cp(pIdx(i)) += 1; cs(sIdx(i)) += 1 }
          i += 1
        }
        i = 0
        while (i < m) {
          if (alive(i) && (cp(pIdx(i)) < kk || cs(sIdx(i)) < kk))
            alive(i) = false
          i += 1
        }
        rows += summary(r)
        r += 1
      }
      nodeFrame(s, rows.toSeq,
        Seq("round", "n_edges", "n_parts", "n_suppliers"),
        nullableCols = Set())
    }
}
