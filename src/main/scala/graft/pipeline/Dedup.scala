package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale corpus curation:
  * exact, n-gram Jaccard (set-similarity join), MinHash+LSH, SimHash.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash-partitioned groupBy — the canonical
  *    map-side-combinable shuffle;
  *  - the Jaccard join is an inverted-index self-join on shingles: cost
  *    is Σ df(s)² over shingle doc-frequencies, so extremely common
  *    shingles dominate; `maxShingleDocFreq` drops those "stop
  *    shingles" (standard prefix-filtering surrogate) before the join;
  *  - MinHash/LSH replaces the quadratic candidate space with
  *    `bands` hash-partitioned equality joins on band keys, then
  *    verifies only candidates exactly — the classic
  *    shingle→minhash→band→bucket-join pipeline, all shuffle-local;
  *  - SimHash reduces each doc to one 32-bit signature; the pair scan
  *    joins on signature bands or (small n) brute-forces bit_count(xor).
  */
object Dedup {

  /** Default driver-heap budget for [[boundedBloom]]: 2^30 bits =
    * 128 MiB — ~112M elements at 1% fpp. Small enough to live on any
    * driver, large enough that the prefilter stays useful well past
    * the test scale. */
  val DefaultBloomBits: Long = 1L << 30

  /** Driver-side Bloom sketch with a BOUNDED bit budget.
    *
    * `df.stat.bloomFilter(col, n, fpp)` sizes the sketch proportionally
    * to `n` (~9.6 bits/element at 1% fpp) — ~120 GB of driver heap at a
    * 100 TB corpus. Here the bit count is capped at `maxBits` instead
    * and the fpp degrades GRACEFULLY as the true element count passes
    * the budget: a Bloom filter never false-negatives, so callers that
    * follow the probe with an exact verify (every graft use does) stay
    * correct — extra false positives only grow the candidate set the
    * verify join absorbs. `estItems` may be a crude overestimate (e.g.
    * from file sizes): it only tunes the hash count k, never the
    * memory. Past ~10^9 elements, shard per-hash-range sub-Blooms
    * across probes rather than raising the cap. */
  def boundedBloom(df: DataFrame, colName: String, estItems: Long,
      maxBits: Long = DefaultBloomBits)
      : org.apache.spark.util.sketch.BloomFilter = {
    val n = math.max(estItems, 1L)
    val ideal = math.ceil(n * 9.585).toLong // optimal bits at 1% fpp
    val bits = math.min(math.max(ideal, 1L << 16), maxBits)
    // Spark's stat.bloomFilter NPEs on an EMPTY input (its aggregate
    // returns a null buffer and readFrom(null) throws — hit by a
    // degenerate corpus whose edge/pair set is empty); an empty filter
    // (nothing inserted → every probe false) is the exact semantics
    if (df.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(n, bits)
    else df.stat.bloomFilter(colName, n, bits)
  }

  /** Exact dedup: representative id + multiplicity per distinct key.
    * Groups by the RAW key — only for keys that are already narrow
    * (ids, short strings). For document text use [[exactHashed]]: this
    * variant ships the full key through the exchange. */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Exact content dedup keyed by the 128-bit two-seed xxhash64 of the
    * key column, so the groupBy exchange carries 16 bytes per row
    * instead of the document text (the dedup_paragraph contract;
    * collision odds are the birthday bound ~N²/2¹²⁹ over N distinct
    * texts — < 10⁻²⁰ even at 10⁹ docs — and an oracle comparing
    * literal-text groups would surface one as a hash mismatch).
    * The second half is `xxhash64(lit(1L), key)` — the literal FIRST,
    * so the key bytes fold under the derived seed hashLong(1, 42) ≠ 42
    * and the two halves are independent; `xxhash64(key, lit(1L))` is
    * hashLong(1, h1), a pure function of h1 that silently narrowed the
    * key to 64 real bits. Equality of counts
    * with [[exact]] is asserted in PipelineSpec. */
  def exactHashed(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(xxhash64(col(keyCol)).as("h1"),
        xxhash64(lit(1L), col(keyCol)).as("h2"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-bigram shingle hashes per doc: (id, shingle).
    *
    * One codegen scan per document (graft.functions.ShingleHashes —
    * tight JVM loop, no Catalyst lambda: the higher-order-function
    * formulation is interpreted per element and ~20× slower at sf0.1),
    * deduplicated IN-kernel: repeats can only occur WITHIN a doc, so
    * the exploded (id, s) pairs are globally distinct already — ZERO
    * shuffles here. The previous posexplode → window(lead) → distinct
    * formulation shuffled every token-hash row (the per-doc sort) and
    * every shingle row (the distinct) to pair values that were
    * adjacent in the document to begin with. */
  def shingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.HashF.shingleHashes(col(textCol))).as("s"))

  /** All-pairs n-gram Jaccard ≥ threshold via inverted-index self-join.
    * Output: (id_a, id_b, common, jaccard) with id_a < id_b.
    *
    * The shingle table is persisted: Spark's higher-order lambda
    * expressions (the polynomial hashes) are CodegenFallback —
    * interpreted — and projection collapse would otherwise inline the
    * hash pipeline into both join sides and the count aggregation,
    * recomputing it 3-4×. One materialization, three codegen'd reuses. */
  /** Strategy-adaptive all-pairs Jaccard: when the distinct-shingle
    * vocabulary is small (dense corpora — every doc pair shares
    * shingles and the inverted index degenerates to Ω(Σ df²) join
    * rows), switch to per-doc bitsets + a broadcast pair scan with the
    * codegen'd AND-popcount kernel: |pairs| × words work instead of a
    * quarter-billion-row shuffle. Identical results either way. */
  /** Bounded vocabulary probe (r17-opt): collect up to `limit + 1`
    * distinct long shingle hashes in ONE job; `Some(sortedDict)` when
    * the whole vocabulary fits (`limit(n)` returns ALL rows whenever
    * fewer exist — the subset is only arbitrary past the limit, which
    * is exactly the None case), `None` when it overflows or `s` is not
    * a long column. Replaces the expand-×2 countDistinct stats
    * aggregate AND the distributed distinct→sort→zipWithIndex
    * dictionary chain: the dict is the probe's own result, driver
    * memory bounded by the dense-vocab guard by construction. */
  private[pipeline] def vocabDictLong(sh: DataFrame, limit: Long)
      : Option[Array[Long]] = {
    if (sh.schema("s").dataType !=
        org.apache.spark.sql.types.LongType) return None
    // a limit at or above Int.MaxValue cannot be probed with limit(n)
    // (and could never be driver-collected anyway): report overflow
    if (limit + 1 > Int.MaxValue) return None
    val vals = sh.select("s").distinct()
      .limit((limit + 1).toInt).collect().map(_.getLong(0))
    if (vals.length > limit) None else Some(vals.sorted)
  }

  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       denseVocabLimit: Long = 1 << 16,
                       denseBroadcastBytes: Long = 1L << 26): DataFrame = {
    val sh = shingles(df, idCol, textCol).persist()
    // The dense path broadcasts every doc's packed bitset — guard the
    // broadcast SIZE, not just the vocabulary: a billion-doc corpus with
    // a 60k vocab must NOT take the dense path (its broadcast would be
    // docs × words × 8 bytes). Note a dense corpus (tiny vocabulary →
    // every pair shares shingles) is inherently Ω(docs²) for EXACT
    // all-pairs Jaccard — no index prunes anything when everything
    // collides — so past the broadcast bound the honest answers are the
    // prefix join (still exact, costs Σ df_prefix²) or MinHash+LSH
    // (approximate, [[minhashLshPairs]]).
    // both paths return an already-materialized result (they release
    // their own intermediates), so the shingle cache can go immediately
    val out = vocabDictLong(sh, denseVocabLimit) match {
      case Some(dict) =>
        val words = (dict.length + 63) / 64
        val docs = sh.agg(countDistinct(col("id"))).head().getLong(0)
        if (docs * words.toLong * 8 <= denseBroadcastBytes)
          jaccardPairsBitmapDict(sh, dict, threshold)
        else jaccardPairsPrefix(sh, threshold)
      case None => jaccardPairsPrefix(sh, threshold)
    }
    sh.unpersist()
    out
  }

  /** Exact all-pairs shingle CONTAINMENT via the asymmetric prefix
    * bound: C = common / min(n_a, n_b) — catches a short document
    * quoted wholesale inside a long one, which symmetric Jaccard
    * misses (the union term dilutes it). Completeness argument as in
    * [[jaccardPairsPrefix]], applied to the smaller (contained) side:
    * a pair with C ≥ t shares ≥ ⌈t·n_min⌉ shingles, so the min-side
    * doc's rarest-first prefix of size n − ⌈t·n⌉ + 1 must intersect
    * the other doc's FULL shingle set; every doc's prefix joins
    * against the full inverted index (one side pruned — Σ df_prefix·df
    * candidate rows instead of Σ df²), then candidates verify exactly.
    * Output: (id_a < id_b, contained_id, common, containment ≥ t). */
  def containmentPairsPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "s")
    val tEff = threshold - 1e-6
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n")).persist()
    val prefix = sh.join(dfreq, Seq("s"))
      .withColumn("r", row_number().over(w))
      .join(counts, Seq("id"))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(tEff)) + 1)
      .select("id", "s")
    val cand = prefix.toDF("id_c", "s")
      .join(sh.toDF("id_o", "s"), Seq("s"))
      .filter(col("id_c") =!= col("id_o"))
      .select(least(col("id_c"), col("id_o")).as("id_a"),
        greatest(col("id_c"), col("id_o")).as("id_b"))
      .distinct()
    val out = cand
      .join(sh.toDF("id_a", "s"), Seq("id_a"))
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("containment",
        round(col("common") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"),
        col("common"), col("containment"))
    Caching.materializeAndRelease(out, counts)
  }

  /** Exact all-pairs Jaccard via prefix filtering (Bayardo et al.
    * "Scaling Up All Pairs Similarity Search", WWW'07): under a global
    * rarest-first shingle order, any pair with J ≥ t must share at
    * least one shingle among the first `n - ceil(t·n) + 1` (rarest)
    * shingles of each doc. Only those prefixes enter the self-join, so
    * the candidate shuffle is Σ df_prefix² over RARE shingles instead
    * of Σ df² over all shingles (common "stop shingles" never join);
    * candidates are then verified exactly against the full shingle
    * sets. Identical output to the unfiltered self-join.
    *
    * The threshold is loosened by 1e-6 when sizing prefixes because the
    * published jaccard is rounded to 6 dp before the ≥ t comparison —
    * a pair at 0.4999996 rounds up to 0.5 and must not be pruned. */
  def jaccardPairsPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("df", "s")
    val tEff = threshold - 1e-6
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n")).persist()
    val prefix = sh.join(dfreq, Seq("s"))
      .withColumn("r", row_number().over(w))
      .join(counts, Seq("id"))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(tEff)) + 1)
      .select("id", "s")
      .persist()
    val cand = prefix.toDF("id_a", "s")
      .join(prefix.toDF("id_b", "s"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val out = cand
      .join(sh.toDF("id_a", "s"), Seq("id_a"))
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard", round(
        col("common") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
    Caching.materializeAndRelease(out, counts, prefix)
  }

  /** Dense-vocab path: dictionary-encode shingles to bit positions,
    * pack per-doc bitsets (one array<bigint> of vocab/64 words), then a
    * broadcast pair scan: the packed table (bounded by the caller's
    * broadcast-bytes guard) ships to every executor as plain JVM arrays
    * and each partition's docs scan it with a tight long[] AND-popcount
    * loop. This is the one genuinely per-partition-imperative operator
    * in the module — Ω(docs²) work with a ~100-byte payload per doc —
    * where join machinery (BroadcastNestedLoopJoin row copies, Unsafe
    * array decoding per comparison) costs 10× the kernel; mapPartitions
    * over the packed Dataset keeps the scan distributed (each task owns
    * a slice of the pair matrix) with zero per-pair allocation.
    *
    * A size prefilter skips the popcount when min(n_a,n_b) <
    * t·max(n_a,n_b) (Jaccard can never reach t); rounding matches SQL
    * ROUND (HALF_UP) exactly. Ids may be any Comparable type; `id_a <
    * id_b` orientation uses natural ordering (= Spark's for numeric and
    * BMP strings). */
  /** dictionary-encode shingles to bit positions and pack per-doc
    * bitsets: the shared front half of the dense bitmap kernels.
    * Returns the PERSISTED (id, bm: array<bigint>, n) table.
    *
    * The dictionary is a distributed sort + zipWithIndex (deterministic
    * bit per shingle); an unpartitioned row_number window would funnel
    * the vocabulary through ONE task — harmless under the vocab guard
    * but a needless serial stage at every size. */
  private def packBitsets(sh: DataFrame, vocab: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = sh.sparkSession
    val words = (vocab + 63) / 64
    val sType = sh.schema("s").dataType
    val dict = spark.createDataFrame(
      sh.select("s").distinct().orderBy("s").rdd.zipWithIndex().map {
        case (r, i) => Row(r.get(0), i.toInt)
      },
      StructType(Seq(StructField("s", sType),
        StructField("bit", IntegerType))))
    val toBitset = udf((bits: Seq[Int]) => {
      val arr = new Array[Long](words)
      bits.foreach(b => arr(b >> 6) |= (1L << (b & 63)))
      arr
    })
    sh.join(broadcast(dict), Seq("s"))
      .groupBy("id").agg(collect_list(col("bit")).as("bits"),
        count(lit(1)).as("n"))
      .select(col("id"), toBitset(col("bits")).as("bm"), col("n"))
      .persist()
  }

  /** Driver-dictionary packing (r17-opt): `dict` is the FULL sorted
    * shingle vocabulary (bounded by the dense-vocab guard, typically
    * collected by [[vocabDictLong]]'s probe), so the bit of a shingle
    * is its binary-search rank — identical assignment to the
    * distributed distinct→sort→zipWithIndex chain [[packBitsets]]
    * runs, minus its three dictionary jobs and the corpus-scale dict
    * join: the pack is ONE groupBy exchange. */
  private def packBitsetsDict(sh: DataFrame, dict: Array[Long])
      : DataFrame = {
    val words = (dict.length + 63) / 64
    val bc = sh.sparkSession.sparkContext.broadcast(dict)
    val toBitset = udf((ss: Seq[Long]) => {
      val d = bc.value
      val arr = new Array[Long](words)
      ss.foreach { v =>
        val b = java.util.Arrays.binarySearch(d, v)
        if (b < 0) sys.error(
          s"packBitsetsDict: shingle $v not in dictionary (caller must " +
            "pass the complete vocabulary)")
        arr(b >> 6) |= (1L << (b & 63))
      }
      arr
    })
    sh.groupBy("id").agg(collect_list(col("s")).as("ss"),
        count(lit(1)).as("n"))
      .select(col("id"), toBitset(col("ss")).as("bm"), col("n"))
      .persist()
  }

  /** Packed frame for the public bitmap entry points, WITH the word
    * count the pack actually used: long shingle columns take the
    * driver-dict pack (the caller's vocab guard bounds the collect) —
    * whose bitsets are sized by the ACTUAL distinct count, so the scan
    * must use that width, not the caller's `vocab` estimate (an over-
    * estimate would read past the arrays, an under-estimate would
    * silently ignore high bits); anything else the distributed chain,
    * which pads to the caller's width. */
  private def packFor(sh: DataFrame, vocab: Int): (DataFrame, Int) =
    if (sh.schema("s").dataType == org.apache.spark.sql.types.LongType) {
      val dict = sh.select("s").distinct().collect().map(_.getLong(0)).sorted
      require(dict.length <= vocab,
        s"vocab estimate $vocab < actual distinct shingles ${dict.length}")
      (packBitsetsDict(sh, dict), (dict.length + 63) / 64)
    } else (packBitsets(sh, vocab), (vocab + 63) / 64)

  def jaccardPairsBitmap(sh: DataFrame, vocab: Int,
                         threshold: Double): DataFrame = {
    val (packed, words) = packFor(sh, vocab)
    jaccardScanPacked(packed, words, threshold)
  }

  /** [[jaccardPairsBitmap]] with the vocabulary already collected by
    * the caller's probe (r17-opt fast path — no dictionary jobs). */
  def jaccardPairsBitmapDict(sh: DataFrame, dict: Array[Long],
                             threshold: Double): DataFrame =
    jaccardScanPacked(packBitsetsDict(sh, dict), (dict.length + 63) / 64,
      threshold)

  private def jaccardScanPacked(docs: DataFrame, words: Int,
                                threshold: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    val idType = docs.schema("id").dataType
    val all = docs.collect().map { r =>
      (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2))
    }
    val bcast = spark.sparkContext.broadcast(all)
    val t = threshold
    // prefilter threshold loosened by 1e-6 like the prefix path: the
    // published jaccard is rounded to 6 dp before the >= t comparison,
    // so a pair at J = t - 4e-7 rounds UP to t and must not be pruned
    val tPre = threshold - 1e-6
    // The scan work is QUADRATIC in docs (n²/2 popcount loops) while
    // the table's byte size is tiny (bounded by the broadcast guard) —
    // AQE coalesces it to one partition by size and would serialize
    // the whole O(n²) kernel into a single task. An explicit RDD
    // repartition to defaultParallelism is immune to AQE and costs one
    // round-robin pass over a bounded table at any scale.
    val pairs = docs.rdd
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
      val ref = bcast.value
      it.flatMap { r =>
        val idA = r.get(0)
        val bmA = r.getSeq[Long](1).toArray
        val nA = r.getLong(2)
        val cmpA = idA.asInstanceOf[Comparable[Any]]
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var j = 0
        while (j < ref.length) {
          val (idB, bmB, nB) = ref(j)
          if (cmpA.compareTo(idB) < 0 &&
              math.min(nA, nB) >= tPre * math.max(nA, nB)) {
            var c = 0L
            var w = 0
            while (w < words) {
              c += java.lang.Long.bitCount(bmA(w) & bmB(w)); w += 1
            }
            val jac = java.math.BigDecimal.valueOf(c / (nA + nB - c).toDouble)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (jac >= t) out += Row(idA, idB, c, jac)
          }
          j += 1
        }
        out.iterator
      }
    }
    val out = spark.createDataFrame(pairs, StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("common", LongType), StructField("jaccard", DoubleType))))
    Caching.materializeAndRelease(out, docs)
  }

  /** Dense-vocab containment: the same broadcast AND-popcount scan as
    * [[jaccardPairsBitmap]] scoring common/min(n_a, n_b). NO size
    * prefilter is possible — a tiny doc fully inside a huge one is
    * exactly what qualifies, at any size ratio — so every ordered pair
    * popcounts; that is the honest cost of exact all-pairs containment
    * on a dense corpus (where the prefix filter prunes nothing because
    * every pair shares stop-shingles: measured at sf0.1, the prefix
    * path generated 5.6M candidates out of 12.5M possible pairs and
    * re-expanded them 40×, 34 s vs ~1 s here). */
  def containmentPairsBitmap(sh: DataFrame, vocab: Int,
                             threshold: Double): DataFrame = {
    val (packed, words) = packFor(sh, vocab)
    containmentScanPacked(packed, words, threshold)
  }

  /** [[containmentPairsBitmap]] with the caller-collected vocabulary
    * (r17-opt fast path). */
  def containmentPairsBitmapDict(sh: DataFrame, dict: Array[Long],
                                 threshold: Double): DataFrame =
    containmentScanPacked(packBitsetsDict(sh, dict),
      (dict.length + 63) / 64, threshold)

  private def containmentScanPacked(docs: DataFrame, words: Int,
                                    threshold: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    val idType = docs.schema("id").dataType
    val all = docs.collect().map { r =>
      (r.get(0), r.getSeq[Long](1).toArray, r.getLong(2))
    }
    val bcast = spark.sparkContext.broadcast(all)
    val t = threshold
    val pairs = docs.rdd
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val ref = bcast.value
        it.flatMap { r =>
          val idA = r.get(0)
          val bmA = r.getSeq[Long](1).toArray
          val nA = r.getLong(2)
          val cmpA = idA.asInstanceOf[Comparable[Any]]
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var j = 0
          while (j < ref.length) {
            val (idB, bmB, nB) = ref(j)
            if (cmpA.compareTo(idB) < 0) {
              var c = 0L
              var w = 0
              while (w < words) {
                c += java.lang.Long.bitCount(bmA(w) & bmB(w)); w += 1
              }
              val cont = java.math.BigDecimal
                .valueOf(c / math.min(nA, nB).toDouble)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (cont >= t)
                out += Row(idA, idB, if (nA <= nB) idA else idB, c, cont)
            }
            j += 1
          }
          out.iterator
        }
      }
    val out = spark.createDataFrame(pairs, StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("contained_id", idType),
      StructField("common", LongType),
      StructField("containment", DoubleType))))
    Caching.materializeAndRelease(out, docs)
  }

  /** Strategy-adaptive containment, the asymmetric sibling of
    * [[jaccardPairsAuto]] with the identical dense/sparse dispatch:
    * dense corpora (bounded vocabulary → the inverted index
    * degenerates) take the bitmap popcount scan; sparse corpora take
    * the prefix-filtered index join ([[containmentPairsPrefix]]),
    * where rare-first prefixes genuinely prune. Identical results
    * either way. */
  def containmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double,
                           denseVocabLimit: Long = 1 << 16,
                           denseBroadcastBytes: Long = 1L << 26): DataFrame = {
    val sh = shingles(df, idCol, textCol).persist()
    // same probe + guard structure as [[jaccardPairsAuto]] (r17-opt)
    val out = vocabDictLong(sh, denseVocabLimit) match {
      case Some(dict) =>
        val words = (dict.length + 63) / 64
        val docsN = sh.agg(countDistinct(col("id"))).head().getLong(0)
        if (docsN * words.toLong * 8 <= denseBroadcastBytes)
          containmentPairsBitmapDict(sh, dict, threshold)
        else containmentPairsPrefix(sh, threshold)
      case None => containmentPairsPrefix(sh, threshold)
    }
    sh.unpersist()
    out
  }

  /** Sparse-vocab path: classic inverted-index self-join. */
  def jaccardPairsInverted(sh: DataFrame, threshold: Double): DataFrame = {
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = sh.toDF("id_a", "s")
    val b = sh.toDF("id_b", "s")
    a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard", round(
        col("common") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double,
                   maxShingleDocFreq: Option[Long] = None): DataFrame = {
    val sh0 = shingles(df, idCol, textCol).persist()
    val sh = maxShingleDocFreq match {
      case Some(limit) =>
        val dfreq = sh0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= limit)
        sh0.join(dfreq.select("s"), Seq("s"))
      case None => sh0
    }
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = sh.toDF("id_a", "s")
    val b = sh.toDF("id_b", "s")
    val out = a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard", round(
        col("common") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
    Caching.materializeAndRelease(out, sh0)
  }

  /** MinHash signatures as plain aggregates over the shingle rows:
    * mh_k = min((a_k*s + b_k) % P) — k codegen'd min-aggregates in one
    * groupBy, no arrays, no lambdas. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map { k =>
      val (a, b) = TextHash.coeffs(k)
      min((col("s") * lit(a) + lit(b)) % lit(TextHash.P)).as(s"mh$k")
    }
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash+LSH near-dup pairs: band-bucket candidate join, then exact
    * Jaccard verification of the candidates only (a join back to the
    * shingle rows — candidates are few, so the verify cost is bounded
    * by real near-dups, not by the corpus). rowsPerBand = numHashes /
    * bands. */
  /** Raw LSH candidate pairs (band-bucket collisions, PRE-verify):
    * exposed separately so index quality can be measured against the
    * exact truth (`lsh_recall_eval`) — a production index ships with
    * its recall number, not a hope. */
  /** LSH band rows per doc: (id, band, key) — `bands` rows per doc,
    * key = the folded hash of that band's minhash components. The
    * join-ready form a persisted near-dup index stores
    * ([[DedupIndex]]) and the band-bucket candidate join consumes. */
  def minhashBands(sh: DataFrame, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    val sigs = minhashSignatures(sh, numHashes)
    val bandKey = (b: Int) =>
      (0 until rows).foldLeft(lit(0L)) { (acc, r) =>
        acc * 131L + col(s"mh${b * rows + r}")
      }
    sigs.select(col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
  }

  def minhashLshCandidates(sh: DataFrame, numHashes: Int = 16,
                           bands: Int = 4): DataFrame = {
    val banded = minhashBands(sh, numHashes, bands)
    banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 16,
                      bands: Int = 4): DataFrame = {
    val sh = shingles(df, idCol, textCol).persist()
    val cand = minhashLshCandidates(sh, numHashes, bands)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val out = cand
      .join(sh.toDF("id_a", "s"), Seq("id_a"))
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("id_a", "n_a"), Seq("id_a"))
      .join(counts.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard", round(col("common") /
        (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
    Caching.materializeAndRelease(out, sh)
  }

  /** One batch of the every-snapshot NEAR-dup loop (the CCNet shape)
    * against the persisted [[DedupIndex]] sidecar, WITH the fold-in
    * that closes the snapshot chain:
    *
    *  1. load (or, first time only, build from `old`) the index —
    *     base corpus plus every previously kept batch's segment;
    *  2. band-join the batch's MinHash band rows against the index
    *     and verify candidates by EXACT Jaccard on the index's
    *     shingle rows (identical candidate/verify plan to
    *     `dedup_incremental_minhash`; the old corpus contributes
    *     sidecar parquet reads only, its text is never touched);
    *  3. APPEND the batch's KEPT docs (no index near-dup at
    *     `threshold`) to the sidecar as segment `batchId`
    *     ([[DedupIndex.appendNearDup]], marker-last crash-safe) — so
    *     batch N+2 sees batch N+1's survivors with still-zero
    *     old-corpus rescans.
    *
    * Returns the batch's near-dup pairs (new_id, old_id, common,
    * jaccard). Within-batch duplicates are deliberately out of scope
    * (run the batch through the in-flight dedup family first); `old`
    * is by-name and never evaluated on a sidecar hit. RETRY-SAFE: the
    * index load EXCLUDES this batch's own segment (without that, a
    * retry would report every prior survivor as a near-dup of itself
    * and fold in an EMPTY segment, silently dropping survivors), and
    * the append is a no-op on a complete segment. A retry's KEPT set
    * is provably identical to the first run's even if LATER batches
    * appended in between (a later survivor Y cannot near-dup a kept
    * doc D of this batch — D was in the index when Y's batch ran, so
    * Y surviving implies no match, and Jaccard is symmetric); only
    * the returned pair REPORT can gain extra true pairs for docs this
    * batch had already dropped, matched against those later
    * survivors. */
  def incrementalNearDupBatch(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, variant: String, old: => DataFrame,
      batch: DataFrame, idCol: String, textCol: String, batchId: String,
      threshold: Double): DataFrame = {
    // key computed ONCE and shared by load + append (one
    // getContentSummary walk, no load/append key race)
    val key = DedupIndex.snapshotKey(spark, corpusPath, variant)
    val (oldBands, oldSh) = DedupIndex.loadOrBuildNearDupKeyed(
      spark, key, old, idCol, textCol,
      excludeSegments = Set(batchId))
    val newSh = shingles(batch, idCol, textCol).persist()
    val cand = minhashBands(newSh).toDF("new_id", "band", "key")
      .join(oldBands.toDF("old_id", "band", "key"), Seq("band", "key"))
      .select("new_id", "old_id").distinct()
    val nNew = newSh.groupBy("id").agg(count(lit(1)).as("n_new"))
      .toDF("new_id", "n_new")
    val nOld = oldSh.groupBy("id").agg(count(lit(1)).as("n_old"))
      .toDF("old_id", "n_old")
    val common = cand
      .join(newSh.toDF("new_id", "s"), Seq("new_id"))
      .join(oldSh.toDF("old_id", "s"), Seq("old_id", "s"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("common"))
    val pairs = common
      .join(nNew, Seq("new_id")).join(nOld, Seq("old_id"))
      .withColumn("jaccard", round(col("common") /
        (col("n_new") + col("n_old") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"),
        col("common").cast("long").as("common"), col("jaccard"))
      .persist()
    // fold-in: kept = batch docs with no index near-dup; their band +
    // shingle rows append as this batch's segment (the writes run over
    // BATCH data only — the index sides above stay sidecar reads)
    val keptSh = newSh.join(
      pairs.select(col("new_id").as("id")).distinct(), Seq("id"),
      "left_anti").persist()
    DedupIndex.appendNearDup(spark, key, batchId,
      minhashBands(keptSh), keptSh)
    Caching.materializeAndRelease(pairs, newSh, keptSh, pairs)
  }

  /** One batch of the every-snapshot EXACT paragraph-dedup loop — the
    * exact sibling of [[incrementalNearDupBatch]], closing the same
    * snapshot chain for the (h1, h2) hash index behind
    * `dedup_incremental`:
    *
    *  1. ensure the base sidecar exists (first time only: ONE pass
    *     over `old` builds the bounded Bloom + distinct hash index —
    *     [[DedupIndex.save]]); then load the CHAIN (base/newest
    *     compaction + every complete segment,
    *     [[DedupIndex.loadExactChain]]), EXCLUDING this batch's own
    *     segment so a retry never reads its own prior fold-in;
    *  2. probe the OR of the per-root Blooms (codegen, no false
    *     negatives) and verify the maybe-rows exactly against the
    *     union hash index — the old corpus contributes sidecar
    *     parquet reads only, its text is never rescanned;
    *  3. APPEND the batch's NOVEL hashes as segment `batchId`
    *     ([[DedupIndex.appendExact]], staged + renamed) — batch N+2
    *     then dedups against old ∪ novel(N+1) ∪ … with zero
    *     old-corpus rescans; [[DedupIndex.compactExact]] periodically
    *     folds the chain back to one Bloom + one hash table.
    *
    * `batch` must carry BIGINT `h1`/`h2` columns (the two-seed
    * paragraph hashes — any other columns ride along into the
    * report); the returned frame is `batch` plus an `is_dup` flag
    * (true = the pair exists in the index chain). Within-batch
    * duplicates are out of scope, exactly like the near-dup loop. */
  def incrementalExactBatch(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, variant: String, old: => DataFrame,
      estOldItems: Long, batch: DataFrame, batchId: String): DataFrame = {
    val key = DedupIndex.snapshotKey(spark, corpusPath, variant)
    if (DedupIndex.load(spark, key).isEmpty) {
      val oldDf = old
      // project BEFORE distinct: the base parquet must be distinct in
      // (h1, h2) — the projection loadExactChain reads back — not in
      // whatever extra columns `old` happens to carry, or duplicate
      // pairs land in the index and multiply the report join below
      DedupIndex.save(spark, key,
        boundedBloom(oldDf, "h1", estOldItems),
        oldDf.select("h1", "h2").distinct())
    }
    val (blooms, index) = DedupIndex
      .loadExactChain(spark, key, excludeSegments = Set(batchId))
      .getOrElse(throw new IllegalStateException(
        s"exact sidecar missing after build: $key"))
    val might = blooms
      .map(b => graft.functions.HashF.bloomMightContain(col("h1"), b))
      .reduce(_ || _)
    val bt = batch.persist()
    val cands = bt.filter(might).select("h1", "h2").distinct()
    // DISTINCT the verified dups before the LEFT join below: the union
    // index can legitimately hold a pair twice (concurrent appends of
    // different batches can both fold the same then-novel hash — the
    // semi-join PROBES are immune, but this report join is a left
    // join, and a duplicate match row would multiply batch rows).
    // Cheap: bounded by the candidate count, already broadcast-sized.
    val dup = index.join(broadcast(cands), Seq("h1", "h2"), "left_semi")
      .distinct()
    val report = bt
      .join(broadcast(dup.withColumn("gdup", lit(true))),
        Seq("h1", "h2"), "left")
      .withColumn("is_dup", coalesce(col("gdup"), lit(false)))
      .drop("gdup")
      .persist()
    val novel = report.filter(!col("is_dup"))
      .select("h1", "h2").distinct().persist()
    DedupIndex.appendExact(spark, key, batchId, novel,
      math.max(novel.count(), 1L))
    Caching.materializeAndRelease(report, bt, novel, report)
  }

  /** 32-bit SimHash from per-occurrence token hashes: bit j of the
    * signature is set iff Σ_tokens (±1 by bit j of tokenHash) > 0.
    *
    * ONE codegen kernel evaluation per document
    * ([[graft.functions.HashKernels.simhash]] — tokenize, hash and
    * bit-vote in a single tight loop), value-identical to the previous
    * explode → 32-conditional-sum-aggregate formulation (integer sums
    * are order-independent) but with ZERO shuffles and no token-row
    * blow-up: the aggregate form shuffled and aggregated every token
    * occurrence (~20M rows × 32 sum columns at sf1 — the decade
    * panel's dedup_simhash pole; this form is one linear scan). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.HashF.simhash(col(textCol), bits).as("simhash"))

  /** Duplicate clusters from near-dup pairs: connected components by
    * iterative min-label propagation (each node adopts the smallest id
    * reachable; loop to fixpoint). The label table is tiny relative to
    * the corpus (only docs that appear in some pair), each iteration is
    * one join + groupBy, and the iteration count is the component
    * diameter — the standard Spark shape for dedup clustering at scale.
    * Returns (id, cluster) with cluster = min doc id of the component.
    */
  def clusterPairs(pairs: DataFrame, maxIters: Int = 20,
                   driverEdgeLimit: Long = 1L << 20): DataFrame = {
    // Adaptive small-graph path: near-dup pair graphs are usually tiny
    // relative to the corpus (only docs with a near-duplicate appear).
    // Under the edge limit (~32 MB at 1M edges) a driver union-find
    // replaces O(log diameter) iterative Spark rounds — same labels.
    // r18: the probe IS the collect — `limit(n + 1)` returns every row
    // whenever fewer exist (the vocabDictLong discipline), so one
    // bounded job yields both the verdict and the union-find input; the
    // old shape paid a pairs persist + an edges persist + a count job
    // + a second collect for the same decision. Only an overflowing
    // graph pays the distributed path's materialization below.
    if (driverEdgeLimit + 1 <= Int.MaxValue) {
      val probe = pairs.select("id_a", "id_b")
        .limit((driverEdgeLimit + 1).toInt).collect()
      if (probe.length <= driverEdgeLimit)
        return clusterOnDriver(pairs.sparkSession, probe,
          pairs.schema("id_a").dataType)
    }
    // Persist the INPUT, not just the edge view: without this cache the
    // first propagation round would run the whole upstream
    // pair-generation plan — typically an LSH or IVF candidate join —
    // a second time from scratch.
    val p = pairs.persist()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    edges.count() // materialize before dropping the input cache
    p.unpersist() // large path: pairs are materialized inside `edges`
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .persist()
    // The pointer-jumping step (cluster := label[cluster]) doubles
    // propagation distance per round, so rounds are O(log diameter),
    // not O(diameter). Convergence is detected by carrying the old
    // label through the round and counting decreases — type-agnostic
    // (ids may be strings) and overflow-free, unlike a Σlabels check.
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster")).as("n_min"))
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("n_min"), col("cluster")))
            .as("cluster"))
      val jump = prop.select(col("id").as("cluster"), col("cluster").as("pj"))
      // eager localCheckpoint, not persist: `prop` appears TWICE in the
      // jump join, so without lineage truncation the logical plan
      // doubles every round (2^rounds nodes — explain/reoptimize blow
      // up long before the data does). Checkpointing replaces the plan
      // with a LogicalRDD each round, the standard iterative-algorithm
      // shape.
      val stepped = prop.join(jump, Seq("cluster"), "left")
        .select(col("id"), col("old"),
          least(col("cluster"), coalesce(col("pj"), col("cluster")))
            .as("cluster"))
        .localCheckpoint(true)
      // cheap second job over the checkpointed RDD, no recompute
      val changes = stepped.filter(col("cluster") =!= col("old")).count()
      labels.unpersist()
      labels = stepped.select("id", "cluster")
      converged = changes == 0
      i += 1
    }
    edges.unpersist()
    if (!converged) System.err.println(
      s"[graft] clusterPairs: iteration cap $maxIters hit before " +
        "convergence — labels may not be component minima")
    labels
  }

  /** Driver union-find over a collected pair list (the small-graph
    * branch of [[clusterPairs]]): path-halving find, union by keeping
    * the smaller root under natural ordering, so each component's root
    * IS its min id — identical labels to min-label propagation. */
  private def clusterOnDriver(spark: SparkSession,
                              rows: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = rows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    val out = nodes.map(n => Row(n, find(n))).toSeq
    spark.createDataFrame(
      out.asJava,
      StructType(Seq(StructField("id", idType), StructField("cluster", idType))))
  }

  /** SimHash near-dup pairs within a Hamming radius, via pigeonhole
    * banding: split the signature into `maxHamming + 1` contiguous bit
    * bands — any pair within the radius differs in ≤ maxHamming bits,
    * so at least one band is bit-identical. Candidates come from
    * hash-partitioned equality joins on (band, band-bits) — no cross
    * join — then are verified with the exact popcount(xor) distance.
    * Output is identical to the brute-force pair scan. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, bits: Int = 32): DataFrame = {
    val sigs = simhash(df, idCol, textCol, bits).persist()
    val nBands = maxHamming + 1
    // The 8-byte signature rides ALONG with each band row, so the band
    // join emits (id_a, id_b, hamming) directly — no join-back to the
    // signature table per side, and the cross-band duplicate-pair
    // distinct runs AFTER the hamming filter (on true near-dup pairs
    // only) instead of over the full candidate multiset.
    val banded = sigs.select(col("id"), col("simhash"), explode(array(
      (0 until nBands).map { b =>
        val lo = b * bits / nBands
        val hi = (b + 1) * bits / nBands
        struct(lit(b).as("band"),
          shiftright(col("simhash"), lo)
            .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    val out = banded.toDF("id_a", "sig_a", "band", "key")
      .join(banded.toDF("id_b", "sig_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(expr("sig_a ^ sig_b")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
    Caching.materializeAndRelease(out, sigs)
  }
}
