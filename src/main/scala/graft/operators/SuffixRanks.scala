package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed suffix ranks by prefix doubling, and the repeat-profile
  * operator built on them: for every document, the EXACT length of the
  * longest token span that also occurs anywhere else in the corpus
  * (capped at [[Cap]]) — the memorization / contamination fingerprint
  * that span-HASHING fundamentally cannot produce (hashes answer "is
  * this fixed-length window duplicated", never "how long is the
  * longest duplicated run here").
  *
  * Dispatch (the [[DenseGraph]] pattern): when the corpus has at most
  * [[DenseMaxPositions]] token positions — the same bound under which
  * the old LCP walk already collected every position to the driver —
  * the whole profile is computed by a driver-local suffix sort
  * (Manber–Myers with counting sorts, O(n·log Cap)); above the guard
  * the distributed form runs. SuffixRanksSpec pins all forms to
  * identical rows; the `substring_repeat_profile_dist` registry entry
  * keeps the distributed form oracle-checked every round.
  *
  * Distributed algorithm (prefix QUADRUPLING — half the rounds of the
  * classic doubling, because each round ranks the 4-tuple
  * (r[i], r[i+g], r[i+2g], r[i+3g]) instead of a pair):
  *
  *  1. dense-rank the token column itself ([[rankWithin]] — the only
  *     exchange that ever carries token text, and each token rides it
  *     exactly once);
  *  2. log₄(Cap) quadrupling rounds: one doc-partitioned pass fetches
  *     the ranks at +g, +2g, +3g ([[shiftFetchMulti]] — per-doc
  *     positions are dense 1..n, so the shifted ranks are in-memory
  *     array lookups, no join), then ONE [[rankWithinTotal]]
  *     range-partitioned sort dense-ranks the 4-tuple into the
  *     granularity-4g label. The in-between granularity-2g label is
  *     FREE: (r_g+1)·(T+2) + (r_g[+g]+1) is equality-preserving and
  *     computed in the same projection, so the binary LCP walk still
  *     has a label at every power of 2. Rounds stop early when every
  *     rank is already distinct (no two suffixes share the prefix —
  *     the classic Manber–Myers exit) or when the granularity covers
  *     max(doc length). Exchanges carry (doc, pos, ranks…) longs only.
  *  3. order suffixes by the top label (dense tuple ranks are
  *     order-preserving at every level, so this IS the lexicographic
  *     suffix order capped at Cap tokens), assign a global ordinal the
  *     same way, and pair each suffix with its order neighbor;
  *  4. binary LCP walk over the materialized levels: if the label at
  *     granularity g matches at the current offset, advance g; then
  *     clip to the suffixes' remaining lengths (end-of-document
  *     structure is part of the padded label; the clip restores exact
  *     span semantics). Auto-dispatched: under [[DenseWalkMaxRows]]
  *     the walk is ONE map-side pass per neighbor pair against a
  *     broadcast rank map; above it, one int-keyed join per level.
  *  5. per-position max LCP = max(prev, next neighbor) — the classic
  *     suffix-array property that the best match of a suffix is one
  *     of its order neighbors; per-doc aggregate.
  *
  * Exact and engine-independent: the DuckDB oracle sorts the literal
  * 64-token prefixes and compares neighbors token by token, and the
  * per-doc results hash-match.
  */
object SuffixRanks {

  /** max repeat length measured; 2^6 — callers wanting longer runs pay
    * one more quadrupling round per factor of 4 */
  val Cap = 64

  /** Corpus positions above which the driver-local suffix sort gives
    * way to the distributed build: 2²² positions is the same bound
    * under which the distributed form's own LCP walk broadcasts every
    * position anyway, so the dense branch adds no new driver exposure
    * — it just skips the ~20 Spark stages whose fixed overhead
    * dominates at that size. */
  val DenseMaxPositions: Long = 1L << 22

  /** Byte-shaped companion to [[DenseMaxPositions]]: the driver-local
    * branch collects the corpus TEXT (plus a per-token String array
    * and an intern map — several× the raw bytes in JVM heap), so a
    * position-shaped guard alone under-counts long-token corpora the
    * same way the dedup_substring_cut row guard did before its
    * byte-shaped term. 256 MB of text keeps the collected heap
    * comfortably inside a plain driver. */
  val DenseMaxTextBytes: Long = 256L << 20

  /** Rows above which the distributed form's LCP walk uses joins
    * instead of a broadcast rank map: 2²² positions × ~9·8 B ≈ 300 MB
    * — the same dense/sparse dispatch shape as
    * [[DenseGraph.DenseMaxPairs]]. */
  val DenseWalkMaxRows: Long = 1L << 22

  /** Dense rank (0-based) of `keyCols` appended to EVERY row of `df`
    * as `outCol`, with no distinct pass and no join-back: range-
    * partition by the keys, sort within partitions, collect P
    * per-partition summaries (distinct count, first/last key — driver
    * state is P rows), stitch boundary-continued keys on the driver,
    * and assign `base(p) + localDistinctIdx` in a second lazy pass
    * over the same shuffle output. */
  def rankWithin(df: DataFrame, keyCols: Seq[String],
                 outCol: String): DataFrame =
    rankWithinTotal(df, keyCols, outCol, None)._1

  /** As [[rankWithin]], also returning the number of distinct keys.
    * When `uniformLead = Some(domain)` the LEADING key column is known
    * to be a dense rank in [0, domain) — true for every quadrupling
    * round after the first — so range boundaries are a closed formula
    * (`lead·P / domain`) and the range-partitioner's SAMPLING pass is
    * skipped entirely: one shuffle, one stats pass per round. */
  def rankWithinTotal(df: DataFrame, keyCols: Seq[String], outCol: String,
                      uniformLead: Option[Long]): (DataFrame, Long) = {
    val s = df.sparkSession
    val cols = keyCols.map(col)
    val others = df.columns.filterNot(keyCols.contains).map(col)
    val proj = df.select(cols ++ others: _*)
    val nk = keyCols.length
    uniformLead match {
      case Some(domain) =>
        // equal keys share a lead, a lead maps to exactly one block, so
        // blocks never split across partitions and no boundary
        // stitching is needed: rank = base(block) + index-in-block.
        // The shuffle itself stays a SQL hash exchange (UnsafeRow),
        // only the two scan passes drop to the RDD.
        val p = math.max(1, s.sparkContext.defaultParallelism)
        val dom = math.max(1L, domain)
        val blk = least(lit(p - 1L),
          col(keyCols.head).cast("long") * p / dom).cast("int").as("__blk")
        val sorted = proj.withColumn("__blk", blk)
          .repartition(p, col("__blk"))
          .sortWithinPartitions(col("__blk") +: cols: _*)
        val rdd = sorted.rdd
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nf = proj.schema.length // __blk is the LAST field
        def keyOf(r: Row): Seq[Any] = r.toSeq.take(nk)
        val stats = rdd.mapPartitions { it =>
          val counts = scala.collection.mutable.LinkedHashMap
            .empty[Int, Long]
          var last: Seq[Any] = null
          var lastBlk = -1
          it.foreach { r =>
            val b = r.getInt(nf)
            val k = keyOf(r)
            if (b != lastBlk || last == null || k != last) {
              counts(b) = counts.getOrElse(b, 0L) + 1
            }
            last = k; lastBlk = b
          }
          counts.iterator
        }.collect()
        val perBlk = stats.groupBy(_._1).map { case (b, xs) =>
          b -> xs.map(_._2).sum
        }
        val blocks = perBlk.keys.toArray.sorted
        val base = new java.util.HashMap[Int, Long]()
        var total = 0L
        blocks.foreach { b => base.put(b, total); total += perBlk(b) }
        val bcBase = s.sparkContext.broadcast(base)
        val ranked = rdd.mapPartitions { it =>
          val bm = bcBase.value
          var idx = -1L
          var last: Seq[Any] = null
          var lastBlk = -1
          it.map { r =>
            val b = r.getInt(nf)
            if (b != lastBlk) { idx = -1L; lastBlk = b }
            val k = keyOf(r)
            if (last == null || k != last || idx < 0) { idx += 1; last = k }
            Row.fromSeq(r.toSeq.take(nf) :+ (bm.get(b) + idx))
          }
        }
        // cache the assigned output: later rounds and the LCP walk
        // re-read each level several times, and without this every
        // consumer replays the whole reduce-side chain back to round 0
        // (RDD-level cache — reaped by the ContextCleaner when the
        // level goes out of scope, no cacheManager entry to leak)
        ranked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = s.createDataFrame(ranked,
          proj.schema.add(outCol, org.apache.spark.sql.types.LongType,
            nullable = false))
        rdd.unpersist(blocking = false)
        (out, total)
      case None =>
        val sorted = proj.repartitionByRange(cols: _*)
          .sortWithinPartitions(cols: _*)
        val rdd = sorted.rdd
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def keyOf(r: Row): Seq[Any] = r.toSeq.take(nk)
        val stats = rdd.mapPartitionsWithIndex { (p, it) =>
          var n = 0L
          var first: Seq[Any] = null
          var last: Seq[Any] = null
          it.foreach { r =>
            val k = keyOf(r)
            if (last == null || k != last) {
              n += 1
              if (first == null) first = k
            }
            last = k
          }
          Iterator((p, n, first, last))
        }.collect().sortBy(_._1)
        val base = new Array[Long](stats.length)
        var total = 0L
        var lastKey: Seq[Any] = null
        stats.foreach { case (p, n, first, last) =>
          if (n > 0) {
            val cont = lastKey != null && first == lastKey
            base(p) = total - (if (cont) 1L else 0L)
            total = base(p) + n
            lastKey = last
          } else base(p) = total
        }
        val ranked = rdd.mapPartitionsWithIndex { (p, it) =>
          var idx = -1L
          var last: Seq[Any] = null
          it.map { r =>
            val k = keyOf(r)
            if (last == null || k != last) { idx += 1; last = k }
            Row.fromSeq(r.toSeq :+ (base(p) + idx))
          }
        }
        // createDataFrame over an RDD is already a LEAF logical plan:
        // no Catalyst lineage to blow up downstream joins. Cached for
        // the same multi-consumer reason as the fast path above.
        ranked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = s.createDataFrame(ranked,
          proj.schema.add(outCol, org.apache.spark.sql.types.LongType,
            nullable = false))
        rdd.unpersist(blocking = false)
        (out, total)
    }
  }

  /** Per-document repeat profile: (doc_id, n_tokens, max_repeat,
    * n_pos_rep16). Eager; dispatches driver-local vs distributed on
    * the corpus position count. */
  def maxRepeatProfile(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val (nPos, maxLen, nBytes) = corpusStats(docs, textCol)
    if (nPos <= DenseMaxPositions && nBytes <= DenseMaxTextBytes)
      localProfile(docs, idCol, textCol)
    else distributedImpl(docs, idCol, textCol, nPos, maxLen,
      forceJoinWalk = false)
  }

  /** The distributed form regardless of size (the at-scale path;
    * oracle-checked every round as `substring_repeat_profile_dist`). */
  def maxRepeatProfileDistributed(docs: DataFrame, idCol: String,
                                  textCol: String): DataFrame = {
    val (nPos, maxLen, _) = corpusStats(docs, textCol)
    distributedImpl(docs, idCol, textCol, nPos, maxLen,
      forceJoinWalk = false)
  }

  /** Test seam: the distributed form with the join-walk forced. */
  def maxRepeatProfileJoinWalk(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    val (nPos, maxLen, _) = corpusStats(docs, textCol)
    distributedImpl(docs, idCol, textCol, nPos, maxLen,
      forceJoinWalk = true)
  }

  /** (total token positions, max doc length, total text bytes) — one
    * cheap scan. */
  private def corpusStats(docs: DataFrame, textCol: String)
      : (Long, Int, Long) = {
    val st = docs.agg(
      sum(size(split(col(textCol), " ")).cast("long")),
      max(size(split(col(textCol), " "))),
      sum(octet_length(col(textCol)).cast("long"))).first()
    val nPos = if (st.isNullAt(0)) 0L else st.getLong(0)
    val maxLen = if (st.isNullAt(1)) 1 else math.max(1, st.getInt(1))
    val nBytes = if (st.isNullAt(2)) 0L else st.getLong(2)
    (nPos, maxLen, nBytes)
  }

  // ------------------------------------------------------------------
  // dense branch: driver-local suffix sort (Manber–Myers, counting
  // sorts, O(n log Cap)) over the concatenated corpus with one unique
  // separator symbol per document — a suffix can never falsely match
  // across a document boundary, so adjacent-suffix LCPs are exact
  // without any clipping step.
  // ------------------------------------------------------------------
  private def localProfile(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val s = docs.sparkSession
    val collected = docs.select(col(idCol), col(textCol)).collect()
    val nd = collected.length
    val docIds = new Array[Any](nd)
    val toks = new Array[Array[String]](nd)
    var nPos = 0
    var d = 0
    while (d < nd) {
      docIds(d) = collected(d).get(0)
      // split(regex, -1): trailing empty tokens kept — exactly Spark's
      // split(col, " ") and DuckDB's string_split
      toks(d) = collected(d).getString(1).split(" ", -1)
      nPos += toks(d).length
      d += 1
    }
    val intern = new java.util.HashMap[String, Integer](1 << 16)
    val n = nPos + nd
    val seqIds = new Array[Int](n)
    val docOf = new Array[Int](n)
    val posOf = new Array[Int](n) // 1-based token position; 0 = separator
    var w = 0
    d = 0
    while (d < nd) {
      val a = toks(d)
      var i = 0
      while (i < a.length) {
        var t = intern.get(a(i))
        if (t == null) {
          t = Integer.valueOf(intern.size)
          intern.put(a(i), t)
        }
        seqIds(w) = t.intValue
        docOf(w) = d; posOf(w) = i + 1
        w += 1; i += 1
      }
      seqIds(w) = -1 - d // provisional separator; renumbered below
      docOf(w) = d; posOf(w) = 0
      w += 1; d += 1
    }
    val vocab = intern.size
    var i = 0
    while (i < n) { // separators get ids vocab..vocab+nd-1 (all unique)
      if (seqIds(i) < 0) seqIds(i) = vocab + (-seqIds(i) - 1)
      i += 1
    }
    val sigma = vocab + nd
    // --- suffix order capped at Cap tokens: counting-sort doubling ---
    val rank = seqIds.clone()
    val sa = new Array[Int](n)
    if (n > 0) {
      val cnt0 = new Array[Int](sigma)
      var j = 0
      while (j < n) { cnt0(rank(j)) += 1; j += 1 }
      var run = 0; j = 0
      while (j < sigma) { val t = cnt0(j); cnt0(j) = run; run += t; j += 1 }
      j = 0
      while (j < n) { sa(cnt0(rank(j))) = j; cnt0(rank(j)) += 1; j += 1 }
      var distinct = sigma
      var k = 1
      val tmpSa = new Array[Int](n)
      val newRank = new Array[Int](n)
      while (k < Cap && distinct < n) {
        // tmpSa = indices sorted by the SECOND key rank[i+k]
        // (missing = smallest): tail indices first, then sa order
        var p = 0
        j = n - k
        while (j < n) { tmpSa(p) = j; p += 1; j += 1 }
        j = 0
        while (j < n) {
          val x = sa(j) - k
          if (x >= 0) { tmpSa(p) = x; p += 1 }
          j += 1
        }
        // stable counting sort by the FIRST key
        val cnt = new Array[Int](distinct)
        j = 0
        while (j < n) { cnt(rank(j)) += 1; j += 1 }
        run = 0; j = 0
        while (j < distinct) { val t = cnt(j); cnt(j) = run; run += t; j += 1 }
        j = 0
        while (j < n) {
          val x = tmpSa(j)
          sa(cnt(rank(x))) = x; cnt(rank(x)) += 1
          j += 1
        }
        // re-rank by the (first, second) pair along the new order
        var r = 0
        newRank(sa(0)) = 0
        j = 1
        while (j < n) {
          val a = sa(j); val b = sa(j - 1)
          val a2 = if (a + k < n) rank(a + k) else -1
          val b2 = if (b + k < n) rank(b + k) else -1
          if (rank(a) != rank(b) || a2 != b2) r += 1
          newRank(a) = r
          j += 1
        }
        System.arraycopy(newRank, 0, rank, 0, n)
        distinct = r + 1
        k <<= 1
      }
    }
    // --- adjacent-suffix LCPs by direct comparison, capped at Cap ---
    val lcpArr = new Array[Int](math.max(0, n - 1))
    var j = 0
    while (j < n - 1) {
      val a = sa(j); val b = sa(j + 1)
      var l = 0
      while (l < Cap && a + l < n && b + l < n &&
          seqIds(a + l) == seqIds(b + l)) l += 1
      lcpArr(j) = l
      j += 1
    }
    // --- per-position best = max(prev, next neighbor); per-doc agg ---
    val maxRep = new Array[Long](nd)
    val cnt16 = new Array[Long](nd)
    j = 0
    while (j < n) {
      val i0 = sa(j)
      if (posOf(i0) > 0) {
        val m = math.max(if (j > 0) lcpArr(j - 1) else 0,
          if (j < n - 1) lcpArr(j) else 0)
        val dd = docOf(i0)
        if (m > maxRep(dd)) maxRep(dd) = m
        if (m >= 16) cnt16(dd) += 1
      }
      j += 1
    }
    import org.apache.spark.sql.types._
    val idField = docs.schema(docs.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      StructField("doc_id", idField.dataType, idField.nullable),
      StructField("n_tokens", LongType, nullable = false),
      StructField("max_repeat", LongType, nullable = false),
      StructField("n_pos_rep16", LongType, nullable = false)))
    val rows: Seq[Row] = (0 until nd).map { dd =>
      Row(docIds(dd), toks(dd).length.toLong, maxRep(dd), cnt16(dd))
    }
    val parts = math.max(1, math.min(32, nd / 4096 + 1))
    s.createDataFrame(s.sparkContext.parallelize(rows, parts), outSchema)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // distributed branch: quadrupling rank build + binary LCP walk
  // ------------------------------------------------------------------
  private def distributedImpl(docs: DataFrame, idCol: String,
                              textCol: String, nPos: Long, maxLen: Int,
                              forceJoinWalk: Boolean): DataFrame = {
    val s = docs.sparkSession
    val capEff = math.min(Cap, maxLen)
    val toks = docs.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("p0", "tok")))
      .select(col("doc"), (col("p0") + 1).as("pos"), col("tok"))
    var (rk, total) = rankWithinTotal(toks, Seq("tok"), "r1", None)
    rk = rk.drop("tok")
    // levels carried for the walk, DESCENDING granularity at the head;
    // r-levels are dense tuple ranks, c-levels are the free combined
    // pair labels (equality-preserving longs) materialized in the same
    // projection as the shifts
    var levels: List[(Long, String)] = List((1L, "r1"))
    var g = 1L
    while (g < capEff && total < nPos) {
      val base = shiftFetchMulti(rk, s"r$g", Array(g, 2 * g, 3 * g))
        .withColumnRenamed(s"r$g", "rcur")
      // granularity-2g label: injective in (r_g[i], r_g[i+g]); the
      // +1 folds the −1 past-end sentinel into the value range, and
      // (total+2) keeps it injective. Fits a long while total+2 ≤
      // √Long.Max ≈ 3.03e9 ranks; above that the level is skipped and
      // the LCP walk probes the next-finer level up to 3 times instead
      // (mixed-radix descent — same exact answer, two extra probes).
      val cOk = total + 2L <= 3037000499L
      val paired = if (cOk)
        base.withColumn(s"c${2 * g}",
          (col("rcur") + 1L) * lit(total + 2L) + (col("rs1") + 1L))
      else base
      val (next, t) = rankWithinTotal(paired,
        Seq("rcur", "rs1", "rs2", "rs3"), s"r${4 * g}", Some(total))
      rk = next.withColumnRenamed("rcur", s"r$g")
        .drop("rs1", "rs2", "rs3")
      total = t
      levels =
        if (cOk) (4 * g, s"r${4 * g}") :: (2 * g, s"c${2 * g}") :: levels
        else (4 * g, s"r${4 * g}") :: levels
      g *= 4
    }
    val wide = rk // one flat table with all levels (RDD-cached per level)
    val top = levels.head._2
    // suffix order by top label; global ordinal; neighbor pairs.
    val (ordT, _) = rankWithinTotal(
      wide.select(col(top), col("doc"), col("pos")),
      Seq(top, "doc", "pos"), "o", Some(total))
    val ord = ordT.select(col("doc"), col("pos"), col("o"))
    val adj = ord.as("a").join(
        ord.select((col("o") - 1).as("o"), col("doc").as("dj"),
          col("pos").as("pj")),
        Seq("o"))
      .select(col("a.doc").as("di"), col("a.pos").as("pi"),
        col("dj"), col("pj"))
    val walked =
      if (!forceJoinWalk && nPos <= DenseWalkMaxRows)
        denseWalk(s, wide, adj, levels)
      else joinWalk(wide, adj, levels)
    // clip to remaining doc lengths (padded labels treat end-of-doc as
    // structure; the true common prefix never exceeds either remainder)
    val nTok = docs.select(col(idCol).as("doc"),
      size(split(col(textCol), " ")).cast("long").as("n"))
    val lcp = walked
      .join(nTok.select(col("doc").as("di"), col("n").as("ni")), Seq("di"))
      .join(nTok.select(col("doc").as("dj"), col("n").as("nj")), Seq("dj"))
      .select(col("di"), col("pi"), col("dj"), col("pj"),
        least(col("l"), lit(Cap.toLong),
          col("ni") - col("pi") + 1, col("nj") - col("pj") + 1).as("lcp"))
    // per-position max over (prev, next) neighbors
    val perPos = lcp.select(col("di").as("doc"), col("pi").as("pos"),
        col("lcp"))
      .unionByName(lcp.select(col("dj").as("doc"), col("pj").as("pos"),
        col("lcp")))
      .groupBy("doc", "pos").agg(max(col("lcp")).as("m"))
    nTok.join(
        perPos.groupBy("doc").agg(max(col("m")).as("max_repeat"),
          sum(when(col("m") >= 16, 1L).otherwise(0L)).as("n_pos_rep16")),
        Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n").as("n_tokens"),
        coalesce(col("max_repeat"), lit(0L)).as("max_repeat"),
        coalesce(col("n_pos_rep16"), lit(0L)).as("n_pos_rep16"))
      .orderBy("doc_id")
  }

  /** Appends `rs1..rsN` = values of `rankCol` at (doc, pos + offs(i)),
    * −1 beyond the document end — computed by buffering each
    * document's rows inside a doc-partitioned pos-sorted pass (per-doc
    * positions are dense 1..n by construction), so all shifted fetches
    * cost ONE hash exchange and zero joins. Per-task memory is one
    * document's rows at a time. */
  private def shiftFetchMulti(df: DataFrame, rankCol: String,
                              offs: Array[Long]): DataFrame = {
    val s = df.sparkSession
    val p = math.max(1, s.sparkContext.defaultParallelism)
    val sorted = df.repartition(p, col("doc"))
      .sortWithinPartitions("doc", "pos")
    val schema = sorted.schema
    val di = schema.fieldIndex("doc")
    val pi = schema.fieldIndex("pos")
    val ri = schema.fieldIndex(rankCol)
    val no = offs.length
    val rdd = sorted.rdd.mapPartitions { it =>
      new Iterator[Row] {
        val buf = new scala.collection.mutable.ArrayBuffer[Row]()
        var out: Iterator[Row] = Iterator.empty
        var pending: Row = null
        def flush(): Unit = {
          val n = buf.length
          val ranks = new Array[Long](n)
          var i = 0
          while (i < n) { ranks(i) = buf(i).getLong(ri); i += 1 }
          out = buf.toIndexedSeq.iterator.map { r =>
            val pos = r.getAs[Number](pi).intValue()
            val sh = new Array[Any](no)
            var j = 0
            while (j < no) {
              val at = pos - 1 + offs(j)
              sh(j) = if (at < n) ranks(at.toInt) else -1L
              j += 1
            }
            Row.fromSeq(r.toSeq ++ sh)
          }
          buf.clear()
        }
        def hasNext: Boolean = {
          while (!out.hasNext && (pending != null || it.hasNext)) {
            val r = if (pending != null) { val x = pending; pending = null; x }
              else it.next()
            if (buf.nonEmpty && buf.last.get(di) != r.get(di)) {
              pending = r
              flush()
            } else buf += r
          }
          if (!out.hasNext && buf.nonEmpty) flush()
          out.hasNext
        }
        def next(): Row = { hasNext; out.next() }
      }
    }
    var outSchema = schema
    var j = 0
    while (j < no) {
      outSchema = outSchema.add(s"rs${j + 1}",
        org.apache.spark.sql.types.LongType, nullable = false)
      j += 1
    }
    s.createDataFrame(rdd, outSchema)
  }

  /** Per-level probe budget for the greedy mixed-radix LCP descent:
    * the head level gets one probe (its granularity is ≥ the effective
    * cap, so a hit saturates); every later level gets ratio−1 probes,
    * where ratio is the granularity step down from the previous level
    * (1 for the usual ×2 chain, 3 when a combined level was skipped).
    * Greedy digit extraction over these budgets computes the padded
    * LCP exactly whenever it is below the representable maximum, and
    * saturates at ≥ cap otherwise — which the remainder clip then
    * resolves, exactly like the classic binary walk. */
  private def stepBudget(levels: List[(Long, String)]): Array[Int] = {
    val gs = levels.map(_._1).toArray
    Array.tabulate(gs.length) { i =>
      if (i == 0) 1 else ((gs(i - 1) / gs(i)) - 1).toInt
    }
  }

  /** Dense-regime walk: broadcast (doc,pos) → label vector, one
    * map-side pass over the neighbor pairs. `levels` is descending by
    * granularity (a label at granularity g matches iff the padded
    * prefixes of length l+g agree). */
  private def denseWalk(s: org.apache.spark.sql.SparkSession,
                        wide: DataFrame, adj: DataFrame,
                        levels: List[(Long, String)]): DataFrame = {
    import s.implicits._
    val gs = levels.map(_._1).toArray
    val cols = levels.map(_._2).toArray
    val steps = stepBudget(levels)
    val nl = gs.length
    val rows = wide.collect()
    val m = new java.util.HashMap[Long, Array[Long]](rows.length * 2)
    rows.foreach { r =>
      val key = (r.getAs[Number]("doc").longValue() << 32) |
        r.getAs[Number]("pos").longValue()
      m.put(key, Array.tabulate(nl)(i => r.getAs[Long](cols(i))))
    }
    val bc = s.sparkContext.broadcast(m)
    adj.select(col("di").cast("long"), col("pi").cast("long"),
        col("dj").cast("long"), col("pj").cast("long"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val mm = bc.value
        it.map { case (di, pi, dj, pj) =>
          var l = 0L
          var i = 0
          while (i < nl) {
            var st = 0
            var go = true
            while (go && st < steps(i)) {
              val a = mm.get((di << 32) | (pi + l))
              val b = mm.get((dj << 32) | (pj + l))
              val ra = if (a == null) -1L else a(i)
              val rb = if (b == null) -1L else b(i)
              if (ra == rb) l += gs(i) else go = false
              st += 1
            }
            i += 1
          }
          (di, pi, dj, pj, l)
        }
      }.toDF("di", "pi", "dj", "pj", "l")
  }

  /** At-scale walk: one int-keyed join per probe against the wide
    * label table (one probe per level on the usual ×2 chain). */
  private def joinWalk(wide: DataFrame, adj: DataFrame,
                       levels: List[(Long, String)]): DataFrame = {
    val steps = stepBudget(levels)
    var cur = adj.withColumn("l", lit(0L))
    levels.zipWithIndex.foreach { case ((g, c), i) =>
      val la = wide.select(col("doc").as("di"), col("pos").as("ka"),
        col(c).as("rka"))
      val lb = wide.select(col("doc").as("dj"), col("pos").as("kb"),
        col(c).as("rkb"))
      cur = cur.withColumn("go", lit(true))
      var st = 0
      while (st < steps(i)) {
        cur = cur
          .withColumn("ka", col("pi") + col("l"))
          .withColumn("kb", col("pj") + col("l"))
          .join(la, Seq("di", "ka"), "left")
          .join(lb, Seq("dj", "kb"), "left")
          .withColumn("hit", col("go") &&
            coalesce(col("rka"), lit(-1L)) ===
              coalesce(col("rkb"), lit(-1L)))
          .withColumn("l", when(col("hit"), col("l") + g)
            .otherwise(col("l")))
          .withColumn("go", col("hit"))
          .drop("ka", "kb", "rka", "rkb", "hit")
        st += 1
      }
      cur = cur.drop("go")
    }
    cur
  }
}
