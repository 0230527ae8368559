package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dense-regime graph kernels over the part co-purchase graph:
  * common-neighbor link prediction and per-node triangle counting.
  *
  * The part co-purchase graph is DENSE in the graph-theory sense that
  * matters here: few vertices (one per part), high average degree, and
  * an adjacency structure that fits comfortably in a broadcast (CSR of
  * m edges = ~8 B/edge). In that regime the right plan is not a 41 M-row
  * wedge exchange but a vertex-parallel counting pass against the
  * broadcast adjacency: each task owns a range of endpoint vertices
  * `y`, walks `u ∈ adj(y), rank(u) < rank(y)` then `z ∈ adj(u),
  * rank(z) > rank(y)`, and bumps a dense per-task counter — exactly the
  * oriented-wedge support of the SQL formulation, with ZERO shuffled
  * wedge rows. Each task keeps a bounded top-20 under the final total
  * order (support desc, part_a, part_b), computes the EXACT
  * common-neighbor count for its own winners by sorted-adjacency
  * intersection, and emits ≤ 20 rows; the global top-20 is a
  * TakeOrdered over 20·P rows.
  *
  * The dispatch guard ([[DenseMaxPairs]]) bounds the driver collect and
  * the broadcast; above it the caller falls back to the fully
  * distributed sort-RLE formulation (one 8 B/row exchange), the same
  * honest dense/sparse auto-dispatch shape as
  * [[graft.pipeline.Dedup.jaccardPairsAuto]].
  */
object DenseGraph {

  /** Max distinct (order, part) rows for the broadcast-CSR path:
    * 2²² rows ≈ 4 M pairs → a driver collect of ~30 MB and a CSR
    * broadcast well under executor memory. Above this the distributed
    * path takes over. */
  val DenseMaxPairs: Long = 1L << 22

  /** Max Σ_orders k·(k−1)/2 per-order pair fan-out admitted to the
    * dense branch: 2²⁶ candidate edges ≈ 512 MB of packed longs. The
    * row-count guard alone cannot see ONE mega-order whose quadratic
    * expansion blows the driver even though total rows sit under
    * [[DenseMaxPairs]] — real basket data has exactly that shape. */
  val DenseMaxFanout: Long = 1L << 26

  /** Memoized guard verdicts per `memoKey` — same contract as
    * [[GraphEdges.probeMemo]]: the verdict only routes between two
    * row-identical plans (dense CSR vs distributed fallback), so a
    * stale entry can never change results; callers key it to an
    * immutable dataset snapshot. */
  private val guardMemo = new graft.Lru[String, Boolean](graft.Lru.Verdicts)

  /** Source-parquet footer hint for the zero-job guard:
    * (path, orderCol, partCol). With footers present, the row count
    * and key ranges come straight from row-group metadata, so the
    * dense dispatch decides without ANY cluster action. */
  type FooterHint = (String, String, String)

  /** Collect the distinct (o, p) relation PACKED (o·2³² | p, sorted) if
    * the guards fit; None → caller takes the distributed form.
    *
    * Fast path (footer hint with statistics): raw row count ≤
    * [[DenseMaxPairs]] and both keys inside the 32-bit pack — checked
    * from parquet footers with NO Spark job — then ONE packed collect
    * of the raw projection; dedup, per-order grouping, and the
    * Σ k·(k−1)/2 fan-out check all run on the driver (the true
    * distinct fan-out, not the raw overestimate). This replaces the
    * old guard aggregate + groupBy/collect_set chain (two jobs and an
    * all-rows exchange) with one scan-and-collect: measured 2–4 s →
    * ~1 s at sf0.1 on the co-purchase projection.
    *
    * Fallback (no footers — derived frames, tests): the memoized
    * one-aggregate guard (raw rows, raw fan-out overestimate, key
    * ranges), then the same packed collect. The fan-out term catches
    * the one-mega-order quadratic shape the row guard cannot see;
    * raw counts only OVERestimate, so a conservative reject just
    * routes to the distributed form. */
  private def collectPackedIfFits(s: SparkSession, pairs: DataFrame,
                                  memoKey: Option[String],
                                  footer: Option[FooterHint])
      : Option[Array[Long]] = {
    val fastVerdict = footer.flatMap { case (path, ocol, pcol) =>
      PackedPairs.footerFits(s, path, ocol, pcol, DenseMaxPairs)
    }
    def guard: Boolean = {
      // row guard caps k at 2²², so k·(k−1) stays far below Long
      // overflow; the product is even, so the shift is exact
      val st = pairs.groupBy(col("o"))
        .agg(count(lit(1)).as("k"), max(col("p")).as("mp"),
          min(col("p")).as("np"))
        .agg(sum(col("k")),
          sum(shiftright(col("k") * (col("k") - lit(1L)), 1)),
          max(col("o")), min(col("o")), max(col("mp")),
          min(col("np"))).first()
      !st.isNullAt(0) &&
        st.getLong(0) <= DenseMaxPairs &&
        st.getLong(1) <= DenseMaxFanout &&
        st.getLong(3) >= 0 && st.getLong(2) < (1L << 31) &&
        st.getLong(5) >= 0 && st.getLong(4) < (1L << 32)
    }
    val fits = fastVerdict.getOrElse(
      memoKey.fold(guard)(k => guardMemo.getOrLoad(k)(guard)))
    if (!fits) return None
    val op = PackedPairs.collectDistinct(pairs, "o", "p")
    if (op.isEmpty) return None // empty graph: distributed form decides
    val m = op.length
    // true per-order fan-out over the DISTINCT relation (the CSR edge
    // expansion this actually bounds); reject = one wasted bounded
    // collect, never an unbounded driver build
    var fanout = 0L
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && (op(j) >>> 32) == (op(i) >>> 32)) j += 1
      val k = (j - i).toLong
      fanout += k * (k - 1) / 2
      i = j
    }
    if (fanout > DenseMaxFanout) None else Some(op)
  }

  /** Immutable broadcastable adjacency: vertex ids (sorted, index =
    * dense id), per-vertex degree, CSR offsets + neighbor indices
    * (neighbors sorted by index), and the (degree, id) rank key. */
  final case class Csr(ids: Array[Long], deg: Array[Int],
                       off: Array[Int], adj: Array[Int],
                       rank: Array[Long]) extends Serializable

  /** Build the co-purchase CSR on the driver from the sorted distinct
    * packed (o·2³² | p) relation ([[collectPackedIfFits]]'s output):
    * per-order runs are contiguous with part ids ascending, so each
    * run expands its pairs directly — no per-order set arrays ever
    * materialize. */
  def buildCsr(op: Array[Long]): Csr = {
    // distinct undirected edges as packed id pairs; capacity from the
    // per-run fan-out, summed in LONG (k·(k−1)/2 overflows Int past
    // 2¹⁶ parts in one order) and capped at the dispatch guard's
    // fan-out bound — only a hint, the builder still grows if exceeded.
    // ArrayBuilder.ofLong keeps the backing array PRIMITIVE: a generic
    // ArrayBuffer[Long] boxes every element (~32 B each), which at the
    // 2²⁶ guard bound is ~2 GB of java.lang.Long — the 8 B/edge budget
    // the guard math promises only holds unboxed.
    var hint = 0L
    var r = 0
    while (r < op.length) {
      var q = r + 1
      while (q < op.length && (op(q) >>> 32) == (op(r) >>> 32)) q += 1
      val k = (q - r).toLong
      hint += k * (k - 1) / 2
      r = q
    }
    val raw = new scala.collection.mutable.ArrayBuilder.ofLong
    raw.sizeHint(math.min(hint, DenseMaxFanout).toInt)
    r = 0
    while (r < op.length) {
      var q = r + 1
      while (q < op.length && (op(q) >>> 32) == (op(r) >>> 32)) q += 1
      var i = r
      while (i < q) {
        var j = i + 1
        while (j < q) { // part ids are 32-bit-safe (guarded)
          raw += ((op(i) & 0xffffffffL) << 32) | (op(j) & 0xffffffffL)
          j += 1
        }
        i += 1
      }
      r = q
    }
    val edges = raw.result()
    java.util.Arrays.sort(edges)
    var m = 0
    var i = 0
    while (i < edges.length) {
      if (m == 0 || edges(m - 1) != edges(i)) { edges(m) = edges(i); m += 1 }
      i += 1
    }
    // vertex ids
    val idsArr = new Array[Long](2 * m)
    i = 0
    while (i < m) {
      idsArr(2 * i) = edges(i) >>> 32
      idsArr(2 * i + 1) = edges(i) & 0xffffffffL
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
      deg(idx(edges(i) >>> 32)) += 1
      deg(idx(edges(i) & 0xffffffffL)) += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val cursor = off.clone()
    i = 0
    while (i < m) {
      val a = idx(edges(i) >>> 32); val b = idx(edges(i) & 0xffffffffL)
      adj(cursor(a)) = b; cursor(a) += 1
      adj(cursor(b)) = a; cursor(b) += 1
      i += 1
    }
    // neighbors sorted by index (ids are sorted, so index order = id order)
    i = 0
    while (i < n) {
      java.util.Arrays.sort(adj, off(i), off(i + 1))
      i += 1
    }
    // rank key: (degree, id) total order, packed — deg < 2³¹, idx < 2³²
    val rank = new Array[Long](n)
    i = 0
    while (i < n) { rank(i) = (deg(i).toLong << 32) | i.toLong; i += 1 }
    Csr(ids, deg, off, adj, rank)
  }

  /** Per-task bounded top-K entry: (part_a, part_b, support). */
  private val worstFirst = new java.util.Comparator[Array[Long]] {
    def compare(a: Array[Long], b: Array[Long]): Int = {
      if (a(2) != b(2)) java.lang.Long.compare(a(2), b(2))
      else if (a(0) != b(0)) java.lang.Long.compare(b(0), a(0))
      else java.lang.Long.compare(b(1), a(1))
    }
  }

  /** Oriented-wedge support counting + exact re-rank for the vertex
    * index range [from, until): returns ≤ k rows
    * (part_a, part_b, support, common, degSum). */
  def countRange(csr: Csr, from: Int, until: Int, k: Int)
      : Iterator[(Long, Long, Long, Long, Long)] = {
    val n = csr.ids.length
    val cnt = new Array[Int](n)
    val touched = new Array[Int](n)
    val pq = new java.util.PriorityQueue[Array[Long]](k + 1, worstFirst)
    var y = from
    while (y < until) {
      var nTouched = 0
      val ry = csr.rank(y)
      var ui = csr.off(y)
      while (ui < csr.off(y + 1)) {
        val u = csr.adj(ui)
        if (csr.rank(u) < ry) {
          var zi = csr.off(u)
          while (zi < csr.off(u + 1)) {
            val z = csr.adj(zi)
            if (csr.rank(z) > ry) {
              if (cnt(z) == 0) { touched(nTouched) = z; nTouched += 1 }
              cnt(z) += 1
            }
            zi += 1
          }
        }
        ui += 1
      }
      var t = 0
      while (t < nTouched) {
        val z = touched(t)
        val support = cnt(z).toLong
        cnt(z) = 0
        val ia = csr.ids(math.min(y, z)); val ib = csr.ids(math.max(y, z))
        val pa = math.min(ia, ib); val pb = math.max(ia, ib)
        val cand = Array(pa, pb, support)
        val admit =
          if (pq.size < k) true
          else if (worstFirst.compare(cand, pq.peek) > 0) true
          else false
        // anti filter: drop pairs that are already edges
        if (admit &&
            java.util.Arrays.binarySearch(
              csr.adj, csr.off(y), csr.off(y + 1), z) < 0) {
          if (pq.size == k) pq.poll()
          pq.add(cand)
        }
        t += 1
      }
      y += 1
    }
    // exact metrics for this task's winners only
    val out = new ArrayBuffer[(Long, Long, Long, Long, Long)](pq.size)
    val it = pq.iterator()
    while (it.hasNext) {
      val a = it.next()
      val yi = java.util.Arrays.binarySearch(csr.ids, a(0))
      val zi = java.util.Arrays.binarySearch(csr.ids, a(1))
      var i = csr.off(yi); var j = csr.off(zi); var common = 0L
      while (i < csr.off(yi + 1) && j < csr.off(zi + 1)) {
        val d = csr.adj(i) - csr.adj(j)
        if (d == 0) { common += 1; i += 1; j += 1 }
        else if (d < 0) i += 1
        else j += 1
      }
      out += ((a(0), a(1), a(2), common,
        csr.deg(yi).toLong + csr.deg(zi).toLong))
    }
    out.iterator
  }

  /** Full dense-path query: a zero-job (footer) or one-aggregate
    * guard, ONE bounded packed collect of the raw (o, p) projection
    * (driver dedup — see [[collectPackedIfFits]]), and a
    * vertex-parallel counting stage over the broadcast CSR. Returns
    * None (fall back to the distributed form) when the corpus is too
    * big to collect or one mega-order would make the CSR edge
    * expansion quadratic. */
  def densePath(s: SparkSession, pairs: DataFrame, k: Int = 20,
                memoKey: Option[String] = None,
                footer: Option[FooterHint] = None)
      : Option[DataFrame] = {
    import s.implicits._
    val opOpt = collectPackedIfFits(s, pairs, memoKey, footer)
    if (opOpt.isEmpty) return None
    val csr = buildCsr(opOpt.get)
    val bc = s.sparkContext.broadcast(csr)
    val par = math.max(1, s.sparkContext.defaultParallelism)
    val local = s.range(0, par.toLong, 1, par)
      .mapPartitions { it =>
        it.flatMap { p =>
          val c = bc.value
          val nn = c.ids.length
          val from = (p * nn / par).toInt
          val until = (((p + 1) * nn) / par).toInt
          countRange(c, from, until, k)
        }
      }.toDF("part_a", "part_b", "support", "common", "deg_sum")
    val ranked = local
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(k)
      .select(col("part_a"), col("part_b"), col("support"), col("common"),
        round(col("common").cast("double") /
          (col("deg_sum") - col("common")), 6).as("jaccard"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
    // mirror the distributed twin's nullability (see trianglesDense)
    val schema = org.apache.spark.sql.types.StructType(ranked.schema.fields
      .map(f => f.copy(nullable =
        f.name == "part_a" || f.name == "part_b" || f.name == "jaccard")))
    Some(s.createDataFrame(ranked.rdd, schema))
  }

  /** Market-basket association statistics (the assoc_rules recurrence)
    * in the dense regime: expand per-order pair instances from the
    * packed distinct (o, p) relation (bounded by the fan-out guard,
    * exactly like the CSR build), run-length count pairs and items,
    * and compute support / confidence / lift / PMI with Spark's OWN
    * scalar semantics — `round(double, s)` is
    * BigDecimal.valueOf(x).setScale(s, HALF_UP) and `log` is
    * StrictMath.log (both probe-verified; Math.log differs on ~0.7% of
    * inputs) — so the dense branch is bit-identical to the distributed
    * join+aggregate form, which stays oracle-checked as
    * `assoc_rules_dist`. Returns the top-k by (n_ab desc, a, b) with
    * support floor `minCount`. */
  def assocRulesDense(s: SparkSession, pairs: DataFrame, k: Int = 25,
                      minCount: Long = 3L,
                      memoKey: Option[String] = None,
                      footer: Option[FooterHint] = None)
      : Option[DataFrame] = {
    val opOpt = collectPackedIfFits(s, pairs, memoKey, footer)
    if (opOpt.isEmpty) return None
    val op = opOpt.get
    val m = op.length
    // item counts over the distinct relation: sorted distinct part ids
    // + a parallel count array (op is sorted by (o, p), so p's need one
    // extraction + sort)
    val pAll = new Array[Long](m)
    var i = 0
    while (i < m) { pAll(i) = op(i) & 0xffffffffL; i += 1 }
    java.util.Arrays.sort(pAll)
    var nItems = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && pAll(j) == pAll(i)) j += 1
      nItems += 1
      i = j
    }
    val itemId = new Array[Long](nItems)
    val itemCnt = new Array[Long](nItems)
    var t = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && pAll(j) == pAll(i)) j += 1
      itemId(t) = pAll(i); itemCnt(t) = (j - i).toLong; t += 1
      i = j
    }
    // pair instances per order run (capacity ≤ DenseMaxFanout by
    // guard); primitive builder — see the boxing note in buildCsr
    var nOrders = 0L
    val inst = new scala.collection.mutable.ArrayBuilder.ofLong
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && (op(j) >>> 32) == (op(i) >>> 32)) j += 1
      nOrders += 1
      var a = i
      while (a < j) {
        var b = a + 1
        while (b < j) {
          inst += ((op(a) & 0xffffffffL) << 32) | (op(b) & 0xffffffffL)
          b += 1
        }
        a += 1
      }
      i = j
    }
    val pe = inst.result()
    java.util.Arrays.sort(pe)
    // run-length pair counts with the support floor, then the final
    // total order (n_ab desc, a, b)
    val winners = new ArrayBuffer[(Long, Long)]() // (packed pair, n_ab)
    i = 0
    while (i < pe.length) {
      var j = i + 1
      while (j < pe.length && pe(j) == pe(i)) j += 1
      if ((j - i).toLong >= minCount) winners += ((pe(i), (j - i).toLong))
      i = j
    }
    // (n_ab desc, part_a, part_b): the packed key must compare
    // UNSIGNED — the guard admits part ids up to 2^32, and a signed
    // compare would sort ids in [2^31, 2^32) (sign bit set) first,
    // diverging from the distributed ORDER BY at the top-k cutoff.
    val top = winners.sortWith { case ((p1, c1), (p2, c2)) =>
      if (c1 != c2) c1 > c2
      else java.lang.Long.compareUnsigned(p1, p2) < 0
    }.take(k)
    def r(x: Double, sc: Int): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ln(x: Long): Double = java.lang.StrictMath.log(x.toDouble)
    val rows = top.map { case (pp, nab) =>
      val a = pp >>> 32
      val b = pp & 0xffffffffL
      val na = itemCnt(java.util.Arrays.binarySearch(itemId, a))
      val nb = itemCnt(java.util.Arrays.binarySearch(itemId, b))
      (a, b, nab, na, nb,
        r(nab.toDouble / nOrders.toDouble, 6),
        r(nab.toDouble / na.toDouble, 6),
        r(nab.toDouble / nb.toDouble, 6),
        r(nab.toDouble * nOrders.toDouble / (na.toDouble * nb.toDouble), 6),
        r(r(ln(nab), 9) + r(ln(nOrders), 9) - r(ln(na), 9) - r(ln(nb), 9),
          6))
    }.toSeq
    val df = s.createDataFrame(rows).toDF("part_a", "part_b", "n_ab",
      "n_a", "n_b", "support", "conf_a_b", "conf_b_a", "lift", "pmi")
    val nullable = Set("part_a", "part_b",
      "support", "conf_a_b", "conf_b_a", "lift", "pmi")
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields
      .map(f => f.copy(nullable = nullable(f.name))))
    Some(s.createDataFrame(df.rdd.coalesce(1), schema)
      .sortWithinPartitions(col("n_ab").desc, col("part_a"), col("part_b")))
  }

  /** Two synchronous label-propagation rounds (the graph_communities
    * recurrence) in the dense regime: labels start at the vertex id;
    * each round every vertex adopts its neighbors' most frequent label,
    * ties to the SMALLEST label — evaluated per vertex by sorting the
    * neighbor-label scratch and scanning runs (ascending label order
    * makes "first run with the max count" exactly the min-label
    * tiebreak). Integer counts on an identical edge set ⇒ bit-identical
    * to the distributed join+argmax form. Returns the top-k communities
    * by (members desc, label). */
  def communitiesDense(s: SparkSession, pairs: DataFrame, k: Int = 20,
                       memoKey: Option[String] = None,
                       footer: Option[FooterHint] = None)
      : Option[DataFrame] = {
    val opOpt = collectPackedIfFits(s, pairs, memoKey, footer)
    if (opOpt.isEmpty) return None
    val csr = buildCsr(opOpt.get)
    val n = csr.ids.length
    var lab: Array[Long] = csr.ids.clone()
    var maxDeg = 0
    var v = 0
    while (v < n) { maxDeg = math.max(maxDeg, csr.deg(v)); v += 1 }
    val buf = new Array[Long](maxDeg)
    var round = 0
    while (round < 2) {
      val next = new Array[Long](n)
      v = 0
      while (v < n) {
        val d0 = csr.off(v); val d1 = csr.off(v + 1)
        var j = d0
        while (j < d1) { buf(j - d0) = lab(csr.adj(j)); j += 1 }
        val len = d1 - d0
        java.util.Arrays.sort(buf, 0, len)
        var best = buf(0); var bestCnt = 0
        var i = 0
        while (i < len) {
          var run = 1
          while (i + run < len && buf(i + run) == buf(i)) run += 1
          if (run > bestCnt) { bestCnt = run; best = buf(i) }
          i += run
        }
        next(v) = best
        v += 1
      }
      lab = next
      round += 1
    }
    // final community sizes: sort the label array, run-length count
    java.util.Arrays.sort(lab)
    val out = new ArrayBuffer[(Long, Long)]()
    var i = 0
    while (i < n) {
      var run = 1
      while (i + run < n && lab(i + run) == lab(i)) run += 1
      out += ((lab(i), run.toLong))
      i += run
    }
    val top = out.sortBy { case (label, cnt) => (-cnt, label) }.take(k).toSeq
    val df = s.createDataFrame(top).toDF("community", "n_members")
    // the distributed twin's label column is parquet-derived, hence
    // nullable — mirror it so the dispatch is invisible to schema gates
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields
      .map(f => f.copy(nullable = f.name == "community")))
    Some(s.createDataFrame(df.rdd.coalesce(1), schema)
      .sortWithinPartitions(col("n_members").desc, col("community")))
  }

  /** Per-node triangle counts, dense regime: iterate ORIENTED edges
    * (u→w), merge-intersect outAdj(u) ∩ outAdj(w) — every triangle is
    * found exactly once at its lowest-rank edge, with work
    * Σ_edges (outdeg(u)+outdeg(w)) and zero shuffled wedge rows — and
    * bump all three corners in a per-task dense counter. Tasks emit
    * their nonzero (vertex, count) partials (≤ n rows each); one tiny
    * keyed sum merges them. Returns the top-20 by
    * (n_triangles desc, part_id). */
  def trianglesDense(s: SparkSession, pairs: DataFrame, k: Int = 20,
                     memoKey: Option[String] = None,
                     footer: Option[FooterHint] = None)
      : Option[DataFrame] = {
    import s.implicits._
    val opOpt = collectPackedIfFits(s, pairs, memoKey, footer)
    if (opOpt.isEmpty) return None
    val csr = buildCsr(opOpt.get)
    val bc = s.sparkContext.broadcast(csr)
    val par = math.max(1, s.sparkContext.defaultParallelism)
    val partials = s.range(0, par.toLong, 1, par)
      .mapPartitions { it =>
        it.flatMap { p =>
          val c = bc.value
          val nn = c.ids.length
          val from = (p * nn / par).toInt
          val until = (((p + 1) * nn) / par).toInt
          val cnt = new Array[Long](nn)
          var u = from
          while (u < until) {
            val ru = c.rank(u)
            var wi = c.off(u)
            while (wi < c.off(u + 1)) {
              val w = c.adj(wi)
              if (c.rank(w) > ru) {
                // z ∈ outAdj(u) ∩ outAdj(w): rank(z) > rank(w) > rank(u)
                val rw = c.rank(w)
                var i = c.off(u); var j = c.off(w)
                while (i < c.off(u + 1) && j < c.off(w + 1)) {
                  val zi = c.adj(i); val zj = c.adj(j)
                  if (zi == zj) {
                    if (c.rank(zi) > rw) {
                      cnt(u) += 1; cnt(w) += 1; cnt(zi) += 1
                    }
                    i += 1; j += 1
                  } else if (zi < zj) i += 1
                  else j += 1
                }
              }
              wi += 1
            }
            u += 1
          }
          // NOTE: cnt(u)/cnt(w) updates above may touch vertices outside
          // [from, until) only via the z corner — cnt is task-local and
          // merged below, so that is exactly the partial-aggregate shape
          (0 until nn).iterator.filter(cnt(_) > 0)
            .map(v => (c.ids(v), cnt(v), c.deg(v).toLong))
        }
      }.toDF("part_id", "n_partial", "degree")
    val agg = partials.groupBy("part_id", "degree")
      .agg(sum(col("n_partial")).as("n_triangles"))
      .select(col("part_id"), col("degree"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part_id"))
      .limit(k)
    // mirror the distributed twin's nullability (parquet-derived key
    // nullable, counted metrics not) so the dispatch is invisible to
    // schema equality, not just to the row values
    val schema = org.apache.spark.sql.types.StructType(agg.schema.fields
      .map(f => f.copy(nullable = f.name == "part_id")))
    Some(s.createDataFrame(agg.rdd, schema))
  }
}
