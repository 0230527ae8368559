package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecF

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The (small) query set is
  *    broadcast against the corpus — one corpus scan, no shuffle of the
  *    corpus itself; the per-pair kernel is the codegen'd
  *    [[graft.functions.FloatVectorDot]]. This is the correctness
  *    baseline and is already the right plan when |queries| is small.
  *  - [[annTopK]]: random-hyperplane LSH buckets. Corpus and queries
  *    hash to a bucket id (deterministic integer-derived planes), the
  *    join is an equality join on the bucket (hash-partitioned, scales
  *    out), and only in-bucket candidates pay the exact-cosine kernel.
  *    At 100 TB the bucketed corpus is written partitioned by bucket so
  *    probes prune to one partition per plane-signature.
  */
object Similarity {

  /** splitmix64 finalizer — full avalanche, so consecutive indices
    * yield effectively independent values. */
  private def mix64(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplanes: component (j,i) =
    * (splitmix64(j·dim + i) mod 1001) / 1000 ∈ [-1, 1] (Java's signed
    * remainder spans [-1000, 1000], endpoints included). Integer-exact
    * and engine-independent (the SQL mirrors embed the values as
    * literals). The mixer matters: the previous linear-congruence
    * formula ((1009j + 9176i) % 2001) left the planes MASSIVELY
    * correlated — planes 0 and 2 were identical (cos = 1.000),
    * neighbors sat at |cos| ≈ 0.5–0.9 — so a 16-bit signature carried
    * only ~4 effective bits and band keys concentrated on EVERY
    * corpus, quietly degrading banded-LSH candidate quality (the
    * oracle replays the same planes, so parity hid it). Avalanche-
    * mixed components make the planes near-orthogonal in expectation,
    * which is the entire premise of sign-LSH. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes)(j => Array.tabulate(dim)(i =>
      (mix64(j.toLong * dim + i) % 1001).toDouble / 1000.0))

  def withNorm(emb: DataFrame, vecCol: String): DataFrame =
    emb.withColumn("norm", VecF.normF(col(vecCol)))

  /** Exact cosine top-k: for each query row, the k nearest corpus rows
    * (self excluded by id). Cosine is rounded to 6 dp before ranking so
    * ordering is reproducible; ties break by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("norm").as("c_norm"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("norm").as("q_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        VecF.dotF(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** Hyperplane-LSH bucket id for a float-vector column: bit j set iff
    * dot(vec, plane_j) > 0. One codegen'd pass over the vector
    * ([[graft.functions.HyperplaneBucket]]) — arithmetic identical to
    * the per-plane SQL fold (float-upcast multiply, in-order double
    * accumulation), so the DuckDB oracle's replication still matches
    * bit-for-bit. */
  def bucketCol(vecCol: String, ps: Array[Array[Double]]): Column =
    VecF.hyperplaneBucket(col(vecCol), ps)

  /** ANN via LSH buckets + exact rerank of in-bucket candidates. */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val ps = planes(numPlanes, dim)
    val c = withNorm(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("norm").as("c_norm"), bucketCol(vecCol, ps).as("bucket"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("norm").as("q_norm"), bucketCol(vecCol, ps).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        VecF.dotF(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("int").as("rank"))
  }

  /** Embedding near-dup pairs at scale: banded hyperplane-LSH candidate
    * generation + exact cosine verification. The plane signature is cut
    * into `bands` bit-groups; a pair is a candidate iff at least one
    * band matches exactly, so candidates come from hash-partitioned
    * equality joins on (band, band-bits) — no cross join anywhere. Only
    * candidates pay the exact [[graft.functions.FloatVectorDot]]
    * kernel. The planes are deterministic integer-derived values
    * ([[planes]]), so any engine reproduces the same candidate set —
    * the DuckDB oracle mirrors the banding bit-for-bit. */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numPlanes: Int = 16,
                     bands: Int = 4, dim: Int = 64): DataFrame = {
    val ps = planes(numPlanes, dim)
    val rows = numPlanes / bands
    val e = withNorm(emb, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        col("norm").as("nrm"), bucketCol(vecCol, ps).as("bucket"))
      .persist()
    val banded = e.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("bucket"), b * rows)
            .bitwiseAND(lit((1L << rows) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val cand = banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val out = cand
      .join(e.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos",
        round(VecF.dotF(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    Caching.materializeAndRelease(out, e)
  }

  /** Max banded candidate pairs per corpus row before
    * [[cosinePairsAuto]] abandons banding for IVF cells. The celled
    * route generates ≈ Target/2 = 64 verify pairs per row by
    * construction; banding must stay within 2× of that to keep its
    * (higher-recall) seat. */
  val BandCandidateFactor = 128

  /** Band-overload probe for [[cosinePairsAuto]]: true iff the banded
    * candidate mass Σ_{band,key} c·(c−1)/2 — EXACTLY the number of
    * ordered candidate pairs the equality join will generate — exceeds
    * [[BandCandidateFactor]] pairs per corpus row. A fixed band width
    * (16 keys/band) makes banded candidates inherently quadratic in n,
    * so every corpus crosses this line at SOME size; concentrated
    * (dominant-direction) corpora just cross it ~16² times sooner.
    * One pruned corpus scan + one tiny aggregate (≤ bands·2^rows
    * groups, map-side combined). The test is INTEGER
    * (Σc(c−1) > 2·factor·n), so the DuckDB oracle replays the
    * dispatch with zero float-parity risk. */
  def bandsOverloaded(emb: DataFrame, idCol: String, vecCol: String,
                      numPlanes: Int = 16, bands: Int = 4,
                      dim: Int = 64): Boolean = {
    val ps = planes(numPlanes, dim)
    val rows = numPlanes / bands
    val banded = emb
      .select(col(idCol).as("id"), bucketCol(vecCol, ps).as("bucket"))
      .select(explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("bucket"), b * rows)
            .bitwiseAND(lit((1L << rows) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("bk.band"), col("bk.key"))
    val r = banded.groupBy("band", "key").count()
      .agg(sum(col("count") * (col("count") - 1)).as("mass"),
        sum(col("count")).as("tot"))
      .head()
    // empty corpus: SUM over zero rows is null — not overloaded (both
    // routes return the empty frame; banded is the cheaper no-op)
    if (r.isNullAt(0)) false
    // tot = n·bands (each row lands in every band exactly once)
    else r.getLong(0) > 2L * BandCandidateFactor * (r.getLong(1) / bands)
  }

  /** IVF-celled near-dup pairs: the SAME exact-cosine verify as
    * [[cosinePairsLsh]], but candidates are same-cell pairs under the
    * data-driven [[IvfIndex]] assignment (k = ceil(n/128) sampled
    * two-level cells, oversized cells re-split) — the SemDeDup shape.
    * Cell populations are bounded, so total pair work is O(n·128),
    * LINEAR in the corpus even when every sign band collapses into
    * one bucket (a dominant-direction corpus). The trade is recall
    * across cell boundaries — near-dups that straddle two cells are
    * not candidates — which is the documented SemDeDup contract and
    * exactly why [[cosinePairsAuto]] only routes here when banding
    * degenerates. Deterministic end to end (stride-sampled centroids,
    * left-fold float math), mirrored by [[IvfIndex.cellsSqlCtes]]. */
  def cosinePairsCells(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val base = IvfIndex.withCells(
      withNorm(emb, vecCol).select(col(idCol).as("id"),
        col(vecCol).as("v"), col("norm").as("nrm")),
      "id", "v").persist()
    val a = base.select(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("cell"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val out = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(VecF.dotF(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    Caching.materializeAndRelease(out, base)
  }

  /** Auto-dispatched near-dup pairs: [[bandsOverloaded]] probes the
    * banded candidate mass; while it stays bounded the corpus takes
    * the banded route ([[cosinePairsLsh]] — highest recall), and once
    * banding goes quadratic (large corpora, and dominant-direction
    * corpora ~16² times sooner) the candidate source switches to the
    * IVF-celled route ([[cosinePairsCells]] — candidates bounded by
    * cell caps at ANY corpus size, because the cell count grows with
    * n). The probe is one cheap aggregate, integer-exact, and
    * replayed verbatim by the DuckDB oracle, so the dispatched result
    * stays oracle-checked on either side of the boundary; the
    * `_banded` / `_cells` twins keep both routes independently gated
    * at every SF. At serving scale the celled route's assignment
    * rides the persisted cell sidecar ([[IvfIndex.cellsSidecar]] —
    * the `sim_ann_ivf_persisted` / `bitext_mine_ivf` pattern); here
    * it stays in-flight so the measured rows include the assignment
    * work they'd pay on a fresh snapshot. */
  /** Probe verdicts memoized per corpus SNAPSHOT (the caller passes a
    * [[DedupIndex.snapshotKey]]-style key hashing path + length +
    * mtime): the probe is one corpus scan, and a repeat query over the
    * same snapshot must not pay it again. Unlike the GraphEdges memo
    * this verdict routes between DIFFERENT-result plans, so the key
    * MUST change when the corpus does — snapshot keys do, an
    * unchanged-corpus hit is exact, and with no key the probe simply
    * runs live. */
  private val overloadMemo =
    new graft.Lru[String, Boolean](graft.Lru.Verdicts)

  def cosinePairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double,
                      probeMemoKey: Option[String] = None): DataFrame = {
    def probe = bandsOverloaded(emb, idCol, vecCol)
    val overloaded =
      probeMemoKey.fold(probe)(k => overloadMemo.getOrLoad(k)(probe))
    if (overloaded) cosinePairsCells(emb, idCol, vecCol, threshold)
    else cosinePairsLsh(emb, idCol, vecCol, threshold)
  }

  /** Two-stage binary retrieval: sign-quantize every vector to a
    * 32-bits-per-word signature ([[graft.functions.SignPack]], 16×
    * smaller than float32), rank the whole corpus per query by Hamming
    * distance ([[graft.functions.HammingDist]] — two instructions per
    * word, whole-stage codegen), keep the `prefilter` closest, then
    * rerank only those survivors with the exact cosine kernel.
    *
    * The engine shape is what makes this the 100 TB fast path:
    *  - the Hamming scan reads (id, signature) only — the float
    *    vectors never enter stage 1, so the scan is 16× less I/O and
    *    the exchange carries longs;
    *  - per-query candidate selection is the bounded mergeable
    *    [[graft.functions.TopKAggregator]], so each map partition
    *    reduces to ≤ prefilter rows per query BEFORE any shuffle — no
    *    global sort, no skewed per-query window over the corpus;
    *  - the rerank joins the tiny survivor set (|q|·prefilter rows)
    *    back to the corpus by id — point lookups, broadcast from the
    *    survivor side.
    *
    * Determinism: Hamming is integral; ties break by neighbor id, so
    * the survivor set — and therefore the reranked answer — is
    * bit-reproducible cross-engine (the DuckDB oracle rebuilds the
    * same signatures with its own checked 32-bit shifts). */
  /** (id, vec, norm, sig) prep shared by multiple [[binaryTopKPrepped]]
    * passes over one corpus (r17-opt): both bitext directions used to
    * re-derive signatures and norms per side per direction — six scans
    * of the embedding table; a caller persists ONE prepped frame and
    * every pass reads it. Arithmetic identical to [[binaryTopK]]'s
    * inline derivation (same expressions). Extra columns ride along. */
  def prep(emb: DataFrame, vecCol: String): DataFrame =
    emb.withColumn("norm", VecF.normF(col(vecCol)))
      .withColumn("sig", VecF.signPack(col(vecCol)))

  def binaryTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, prefilter: Int): DataFrame =
    binaryTopKPrepped(prep(corpus, vecCol), prep(queries, vecCol),
      idCol, vecCol, k, prefilter)

  /** [[binaryTopK]] over frames already carrying (norm, sig) from
    * [[prep]] — the shared-scan form. */
  def binaryTopKPrepped(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        prefilter: Int): DataFrame = {
    val sigs = corpus.select(col(idCol).as("neighbor_id"), col("sig"))
    val qSide = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("norm").as("q_norm"), col("sig").as("q_sig"))
    val hits = sigs
      .crossJoin(broadcast(qSide.select(col("query_id"), col("q_sig"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        (-VecF.hamming(col("sig"), col("q_sig"))).cast("long").as("negham"),
        col("neighbor_id"))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topKBy(prefilter)(
        col("negham"), col("neighbor_id")).as("short_list"))
      .select(col("query_id"), explode(col("short_list")).as("h"))
      .select(col("query_id"), col("h.id").as("neighbor_id"),
        (-col("h.value_cents")).cast("int").as("hamming"))
    val reranked = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("norm").as("c_norm"))
      .join(broadcast(hits), Seq("neighbor_id"))
      .join(broadcast(qSide.drop("q_sig")), Seq("query_id"))
      .withColumn("cos", round(
        VecF.dotF(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")),
        6))
      // drop the vectors BEFORE the ranking window so its exchange
      // carries only (query_id, neighbor_id, hamming, cos)
      .select("query_id", "neighbor_id", "hamming", "cos")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    reranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cos"), col("rank").cast("int").as("rank"))
  }

  /** Rows above which [[cosinePairs]] refuses to run un-forced: 10⁴
    * rows ≈ 5·10⁷ candidate pairs — the point where the O(n²) cross
    * join stops being a "baseline" and starts being an outage. */
  val CosinePairsGuardRows: Long = 10000L

  /** All near-duplicate pairs by cosine ≥ threshold — exact brute
    * force, for small inputs or as the recall baseline for
    * [[cosinePairsLsh]] (which is the 100 TB path).
    *
    * GUARDED: this is an all-pairs cross join; above
    * [[CosinePairsGuardRows]] rows it fails loudly unless `force=true`,
    * so the baseline can never silently become a production path. The
    * guard's count() is one cheap columnar scan of the id column —
    * negligible next to the n² join it is protecting against. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, force: Boolean = false): DataFrame = {
    if (!force) {
      val n = emb.select(idCol).count()
      require(n <= CosinePairsGuardRows,
        s"cosinePairs is O(n^2) brute force and got n=$n rows " +
          s"(> $CosinePairsGuardRows); use cosinePairsLsh for scale, or " +
          "pass force=true if this is a deliberate small-sample baseline")
    }
    val e = withNorm(emb, vecCol)
    val a = e.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("norm").as("na"))
    val b = e.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("norm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(VecF.dotF(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
