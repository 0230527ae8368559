package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.pipeline.{Dedup, Similarity, TextAnalysis, TextHash}

/** Training-data-pipeline operators as oracle-checked queries:
  * dedup family (exact / n-gram Jaccard / MinHash+LSH / SimHash /
  * embedding-cosine), similarity search (exact top-k + hyperplane-LSH
  * ANN), and text analysis (quality, language-ID, token stats,
  * fingerprints). The DuckDB oracles replicate every hash with the same
  * integer arithmetic (graft.pipeline.TextHash), so results are
  * bit-identical, not approximately equal.
  */
object PipelineQueries {

  private val J = 0.5 // Jaccard near-dup threshold

  // ------------------------------------------------------------- dedup
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactHashed(Tables.documents(s, d), "doc_id", "text")
      .select(col("rep_id"), col("n_copies"))
      .orderBy("rep_id")

  val dedupExactSql: String = """
    SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text ORDER BY rep_id"""

  def dedupJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairsAuto(Tables.documents(s, d), "doc_id", "text", J)
      .orderBy("id_a", "id_b")

  private val CT = 0.8 // containment threshold (fraction of smaller set)

  /** Asymmetric containment dedup ([[Dedup.containmentPairsAuto]]):
    * the quoted-wholesale case Jaccard's union term dilutes away. */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairsAuto(Tables.documents(s, d), "doc_id",
        "text", CT)
      .orderBy("id_a", "id_b")

  val dedupContainmentSql: String = s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      CASE WHEN ca.n <= cb.n THEN id_a ELSE id_b END AS contained_id,
      common,
      ROUND(common / LEAST(ca.n, cb.n), 6) AS containment
    FROM pairs JOIN counts ca ON id_a = ca.doc_id
      JOIN counts cb ON id_b = cb.doc_id
    WHERE ROUND(common / LEAST(ca.n, cb.n), 6) >= $CT
    ORDER BY id_a, id_b"""

  // defs, not vals: interpolated into oracle strings that may
  // initialize earlier in declaration order
  private def thCte =
    s"th AS (SELECT doc_id, ${TextHash.tokenHashesSql("text")} AS th FROM documents)"
  private def shCte =
    s"""sh AS (SELECT DISTINCT doc_id, unnest(${TextHash.shingleHashesSql("th")}) AS s FROM th)"""

  val dedupJaccardSql: String = s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, common,
      ROUND(common / (ca.n + cb.n - common), 6) AS jaccard
    FROM pairs JOIN counts ca ON id_a = ca.doc_id
      JOIN counts cb ON id_b = cb.doc_id
    WHERE ROUND(common / (ca.n + cb.n - common), 6) >= $J
    ORDER BY id_a, id_b"""

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text", J)
      .select(col("id_a"), col("id_b"), col("common").cast("long").as("common"),
        col("jaccard"))
      .orderBy("id_a", "id_b")

  val dedupMinhashSql: String = {
    val sigCols = (0 until 16)
      .map(k => s"${TextHash.minhashSql("sh", k)} AS m$k").mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}")
        .reduce((acc, m) => s"($acc * 131 + $m)")
      s"SELECT doc_id, sh, $b AS band, $key AS key FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH $thCte,
    shl AS (SELECT doc_id,
      list_distinct(${TextHash.shingleHashesSql("th")}) AS sh FROM th),
    sig AS (SELECT doc_id, sh, $sigCols FROM shl),
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        a.sh AS sha, b.sh AS shb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
      CAST(len(list_intersect(sha, shb)) AS BIGINT) AS common,
      ROUND(len(list_intersect(sha, shb)) /
        (len(sha) + len(shb) - len(list_intersect(sha, shb))), 6) AS jaccard
    FROM cand
    WHERE ROUND(len(list_intersect(sha, shb)) /
        (len(sha) + len(shb) - len(list_intersect(sha, shb))), 6) >= $J
    ORDER BY id_a, id_b"""
  }

  /** LSH index-quality evaluation: recall of the RAW MinHash band
    * candidates (pre-verify) against the exact Jaccard ≥ J truth, plus
    * the candidate fraction of all pairs — the two numbers that decide
    * whether a banding configuration ships. Truth and candidates reuse
    * the registered machinery; the (truth ∩ candidates) check is a
    * key-only semi join, and the five scalar counts combine through
    * broadcast cross joins (single-row sides). */
  def lshRecallEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sh = Dedup.shingles(docs, "doc_id", "text").persist()
    val cand = Dedup.minhashLshCandidates(sh).persist()
    // the exact all-pairs Jaccard truth is the eval's DENOMINATOR, not
    // the operator under eval — it rides the snapshot-keyed sidecar
    // (built once per corpus snapshot, loaded job-free after; the
    // Σ df² inverted-index join was the bench tail at 1.78 s)
    val truth = graft.pipeline.DedupIndex.tableSidecar(
      s, s"$d/documents.parquet", s"jaccard-truth-$J-v1",
      "id_a BIGINT, id_b BIGINT",
      Dedup.jaccardPairsAuto(docs, "doc_id", "text", J)
        .select("id_a", "id_b")).persist()
    val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    val out = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_docs"), col("n_truth"), col("n_candidates"),
        col("n_hits"),
        round(col("n_hits") / col("n_truth"), 6).as("recall"),
        round(col("n_candidates") * 2.0 /
          (col("n_docs") * (col("n_docs") - 1)), 6).as("candidate_frac"))
    graft.pipeline.Caching.materializeAndRelease(out, sh, cand, truth)
  }

  val lshRecallEvalSql: String = {
    val sigCols = (0 until 16)
      .map(k => s"${TextHash.minhashSql("sh", k)} AS m$k").mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}")
        .reduce((acc, m) => s"($acc * 131 + $m)")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    px AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (SELECT id_a, id_b FROM px
      JOIN counts ca ON id_a = ca.doc_id
      JOIN counts cb ON id_b = cb.doc_id
      WHERE ROUND(common / (ca.n + cb.n - common), 6) >= $J),
    shl AS (SELECT doc_id,
      list_distinct(${TextHash.shingleHashesSql("th")}) AS sh FROM th),
    sig AS (SELECT doc_id, $sigCols FROM shl),
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    hits AS (SELECT * FROM truth INTERSECT SELECT * FROM cand),
    k AS (SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(*) FROM truth) AS n_truth,
      (SELECT COUNT(*) FROM cand) AS n_candidates,
      (SELECT COUNT(*) FROM hits) AS n_hits)
    SELECT n_docs, n_truth, n_candidates, n_hits,
      ROUND(CAST(n_hits AS DOUBLE) / n_truth, 6) AS recall,
      ROUND(n_candidates * 2.0 / (n_docs * (n_docs - 1.0)), 6)
        AS candidate_frac
    FROM k"""
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 1)
      .orderBy("id_a", "id_b")

  /** `sigs` CTE: per-doc 32-bit SimHash, the SQL mirror of
    * [[graft.pipeline.Dedup.simhash]] (bit j set iff the ±1 vote fold
    * over token-hash bit j is positive) — shared by the pair query
    * and the clusters query. */
  private def simhashSigsCte: String = {
    // bit j sum: fold ±1 per token by bit j of its hash
    val bitSums = (0 until 32).map { j =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         | list_transform(th, h -> CASE WHEN (h >> $j) % 2 = 1
         |   THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
         | (a, b) -> a + b)""".stripMargin
    }
    val sig = (0 until 32).map(j =>
      s"(CASE WHEN ${bitSums(j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM th)"
  }

  val dedupSimhashSql: String = s"""
    WITH $thCte,
    $simhashSigsCte
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 1
    ORDER BY id_a, id_b"""

  /** The at-scale OUTPUT SHAPE for SimHash dedup: one row per near-dup
    * CLUSTER (connected components of the hamming ≤ 1 pair graph),
    * not one row per pair. On a concentrated corpus the pair LIST is
    * quadratic in the duplicate-group sizes — dedup_simhash at the
    * sf1 decade emits 37.6M true pairs, and at 100× the emission
    * itself is the outage even though candidate generation stays
    * banded — while the cluster surface is what a curation pipeline
    * actually consumes (keep one representative per cluster, drop
    * n_members − 1 docs).
    *
    * The engine shape makes it SUB-QUADRATIC EVERYWHERE, not just on
    * output: docs collapse to their distinct signature first (one
    * scan + one ~|distinct sigs| shuffle), the hamming ≤ 1 edges are
    * found between DISTINCT SIGNATURES via the same two-band
    * pigeonhole as [[graft.pipeline.Dedup.simhashPairs]], components
    * run on the signature graph (nodes = distinct sigs, tiny), and
    * membership counts come from the per-signature group sizes — no
    * doc-level pair is ever materialized. Output: (representative =
    * min doc_id of the cluster, n_members), clusters of size ≥ 2. */
  def dedupSimhashClusters(s: SparkSession, d: String): DataFrame = {
    val sigs = graft.pipeline.Dedup
      .simhash(Tables.documents(s, d), "doc_id", "text")
    val groups = sigs.groupBy(col("simhash").as("sig"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_doc"))
      .persist()
    // hamming ≤ 1 ⇒ one 16-bit half is bit-identical (pigeonhole):
    // equality joins on (band, half), exact popcount verify after
    val banded = groups.select(col("sig"), explode(array(
        struct(lit(0).as("band"),
          col("sig").bitwiseAND(lit(0xffffL)).as("key")),
        struct(lit(1).as("band"),
          shiftright(col("sig"), 16).bitwiseAND(lit(0xffffL)).as("key"))))
        .as("bk"))
      .select(col("sig"), col("bk.band"), col("bk.key"))
    val sigPairs = banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .filter(bit_count(expr("id_a ^ id_b")) <= 1)
      .select("id_a", "id_b").distinct()
    val comp = graft.pipeline.Dedup.clusterPairs(sigPairs)
      .toDF("sig", "comp")
    val out = groups.join(comp, Seq("sig"), "left")
      .withColumn("comp", coalesce(col("comp"), col("sig")))
      .groupBy("comp")
      .agg(sum(col("n")).as("n_members"), min(col("min_doc")).as("representative"))
      .filter(col("n_members") >= 2)
      .select(col("representative"), col("n_members"))
      .orderBy("representative")
    graft.pipeline.Caching.materializeAndRelease(out, groups)
  }

  val dedupSimhashClustersSql: String = s"""
    WITH $thCte,
    $simhashSigsCte,
    groups AS (SELECT sig, COUNT(*) AS n, MIN(doc_id) AS min_doc
      FROM sigs GROUP BY sig),
    spairs AS (SELECT a.sig AS sa, b.sig AS sb
      FROM groups a JOIN groups b
      ON a.sig < b.sig AND bit_count(xor(a.sig, b.sig)) <= 1),
    edges AS (SELECT sa AS src, sb AS dst FROM spairs
      UNION ALL SELECT sb, sa FROM spairs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
      SELECT a, b FROM r),
    comp AS (SELECT id AS sig, MIN(lbl) AS comp FROM (
        SELECT src AS id, src AS lbl FROM edges
        UNION ALL SELECT a, b FROM reach)
      GROUP BY id),
    labeled AS (SELECT g.sig, g.n, g.min_doc,
        COALESCE(c.comp, g.sig) AS comp
      FROM groups g LEFT JOIN comp c ON g.sig = c.sig),
    clusters AS (SELECT comp, CAST(SUM(n) AS BIGINT) AS n_members,
        MIN(min_doc) AS representative
      FROM labeled GROUP BY comp)
    SELECT representative, n_members FROM clusters
    WHERE n_members >= 2 ORDER BY representative"""

  /** Near-dup clusters: connected components over the Jaccard pair
    * graph (what a dedup pipeline keeps: one representative per
    * cluster). Oracle: recursive-CTE transitive closure. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.clusterPairs(
        Dedup.jaccardPairsAuto(Tables.documents(s, d), "doc_id", "text", J))
      .orderBy("id")

  val dedupClustersSql: String = s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    near AS (
      SELECT id_a, id_b FROM pairs
        JOIN counts ca ON id_a = ca.doc_id
        JOIN counts cb ON id_b = cb.doc_id
      WHERE ROUND(common / (ca.n + cb.n - common), 6) >= $J),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near
      UNION ALL SELECT id_b, id_a FROM near),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
      SELECT a, b FROM r)
    SELECT id, MIN(lbl) AS cluster FROM (
      SELECT src AS id, src AS lbl FROM edges
      UNION ALL SELECT a, b FROM reach)
    GROUP BY id ORDER BY id"""

  /** Embedding near-dup, AUTO-DISPATCHED between the two candidate
    * regimes ([[graft.pipeline.Similarity.cosinePairsAuto]]): a cheap
    * integer candidate-mass probe keeps small/balanced corpora on
    * banded hyperplane LSH (equality joins on band bits — highest
    * recall) and routes corpora whose banded candidate mass has gone
    * quadratic (fixed 16-key bands make that inevitable at SOME size;
    * dominant-direction corpora — the 97.5×/decade regime the
    * round-14 panel measured — get there ~16² times sooner) to the
    * IVF-celled route (cell count grows with n ⇒ O(n·128) pair work
    * at any size). Both routes end in the same exact-cosine verify;
    * the oracle replays the probe AND both routes, so the dispatched
    * result is oracle-checked wherever the corpus lands. Each route
    * also stays independently gated via the `dedup_emb_cosine_banded`
    * / `dedup_emb_cosine_cells` twins. */
  def dedupEmbCosine(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairsAuto(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4,
        // snapshot-keyed probe memo: the band-mass scan runs once per
        // corpus snapshot, not once per query (key hashes path +
        // length + mtime, so a corpus change is a clean miss)
        probeMemoKey = Some(graft.pipeline.DedupIndex.snapshotKey(
          s, s"$d/embeddings.parquet", "band-mass-probe-v1")))
      .orderBy("id_a", "id_b")

  /** The banded-LSH route, un-dispatched — keeps the bounded-corpus
    * plan oracle-checked at every SF regardless of where the wrapper's
    * dispatch lands (the same twin convention as `graph_*_dist`). */
  def dedupEmbCosineBanded(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairsLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** The IVF-celled route, un-dispatched — the at-scale twin. */
  def dedupEmbCosineCells(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairsCells(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** sequential-fold dot product of two embedding expressions (1-based
    * element access), bit-identical to FloatVectorDot's loop. */
  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | [CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)
       |  FOR i IN range(1, len($a) + 1)]),
       | (x, y) -> x + y)""".stripMargin

  /** Shared CTE prologue for the emb-cosine oracles: `e` (vector +
    * norm + 16-bit sign bucket) and `bands` (4×4-bit band keys) —
    * bit-identical to [[Similarity.cosinePairsLsh]]'s banding. */
  private def embBandCtes: String = {
    val ps = Similarity.planes(16, 64)
    def planeDot(v: String, j: Int): String = {
      val terms = ps(j).zipWithIndex.map { case (c, i) =>
        s"CAST($v[${i + 1}] AS DOUBLE) * ($c)"
      }
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [${terms.mkString(", ")}]), (x, y) -> x + y)""".stripMargin
    }
    val bucket = (0 until 16).map(j =>
      s"(CASE WHEN ${planeDot("embedding", j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT vec_id, $b AS band, (bucket >> ${b * 4}) & 15 AS key FROM e")
      .mkString("\n      UNION ALL ")
    s"""e AS (SELECT vec_id, embedding,
      sqrt(${dotSql("embedding", "embedding")}) AS norm,
      CAST($bucket AS BIGINT) AS bucket FROM embeddings),
    bands AS ($bandRows)"""
  }

  /** banded-route result CTE body (id_a, id_b, cos ≥ 0.4) */
  private def embLshResultCte: String = s"""
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
    lsh_res AS (SELECT id_a, id_b,
      ROUND(${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6) AS cos
    FROM cand JOIN e a ON id_a = a.vec_id JOIN e b ON id_b = b.vec_id
    WHERE ROUND(${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6) >= 0.4)"""

  val dedupEmbCosineBandedSql: String = s"""
    WITH $embBandCtes,
    ${embLshResultCte.trim}
    SELECT id_a, id_b, cos FROM lsh_res ORDER BY id_a, id_b"""

  /** celled-route result CTE body — the
    * [[graft.pipeline.IvfIndex.cellsSqlCtes]] replay + same-cell
    * pairs with the exact-cosine verify */
  private def embCellResultCtes: String = s"""
    ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    ce AS (SELECT emb.vec_id, emb.embedding,
      sqrt(${dotSql("emb.embedding", "emb.embedding")}) AS norm,
      ivf_cells.cell
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    cell_res AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      ROUND(${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6) AS cos
    FROM ce a JOIN ce b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND(${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6) >= 0.4)"""

  val dedupEmbCosineCellsSql: String = s"""
    WITH ${embCellResultCtes.trim}
    SELECT id_a, id_b, cos FROM cell_res ORDER BY id_a, id_b"""

  /** Dispatched oracle: replays [[Similarity.bandsOverloaded]]'s
    * INTEGER probe (Σ c·(c−1) over the band-key histogram vs
    * 2·128·n) and selects the same branch the engine takes — banded
    * LSH or the IVF-celled route — so the gate stays green at every
    * SF on either side of the dispatch. Known cost: the probe is a
    * runtime scalar, so DuckDB evaluates BOTH branch CTEs; fine at
    * the sf0.01 gate, and each branch is independently gated at
    * every SF by its `_banded` / `_cells` twin. */
  val dedupEmbCosineSql: String = s"""
    WITH $embBandCtes,
    probe AS (SELECT SUM(c * (c - 1)) >
        2 * ${Similarity.BandCandidateFactor} *
        (SELECT COUNT(*) FROM embeddings) AS overloaded FROM
      (SELECT band, key, COUNT(*) AS c FROM bands GROUP BY 1, 2)),
    ${embLshResultCte.trim},
    ${embCellResultCtes.trim}
    SELECT id_a, id_b, cos FROM lsh_res
      WHERE NOT (SELECT overloaded FROM probe)
    UNION ALL
    SELECT id_a, id_b, cos FROM cell_res
      WHERE (SELECT overloaded FROM probe)
    ORDER BY id_a, id_b"""

  /** Gopher-style repetition quality signals (arXiv:2112.11446 §A.1.1
    * adapted to the token-stream corpus): most-frequent-token fraction
    * and duplicate-bigram fraction per document. Highly repetitive
    * documents are the classic low-quality web text; both signals are
    * pure integer counting until the final division, so the oracle is
    * exact. One explode + two partial-aggregated groupBys, no joins
    * wider than doc_id. */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    val top = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"),
        sum(col("c")).as("n_tokens"))
    val bi = Dedup.shingles(docs, "doc_id", "text")
      .groupBy("id").agg(count(lit(1)).as("n_distinct_bi"))
    // LEFT join: a single-token doc has no bigrams but must still be
    // scored (dup fraction 0), not silently dropped
    top.join(bi, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_c").cast("double") / col("n_tokens"), 6)
          .as("top_token_frac"),
        when(col("n_tokens") > 1, round(lit(1.0) -
            coalesce(col("n_distinct_bi"), lit(0L)).cast("double") /
              (col("n_tokens") - 1), 6))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String = s"""
    WITH $thCte, $shCte,
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents),
    tc AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top_c,
              CAST(SUM(c) AS BIGINT) AS n_tokens
            FROM tc GROUP BY doc_id),
    bi AS (SELECT doc_id, COUNT(*) AS n_distinct_bi FROM sh GROUP BY doc_id)
    SELECT top.doc_id, n_tokens,
      ROUND(CAST(top_c AS DOUBLE) / n_tokens, 6) AS top_token_frac,
      CASE WHEN n_tokens > 1 THEN
        ROUND(1.0 - CAST(COALESCE(n_distinct_bi, 0) AS DOUBLE)
          / (n_tokens - 1), 6)
      ELSE 0.0 END AS dup_bigram_frac
    FROM top LEFT JOIN bi ON top.doc_id = bi.doc_id
    ORDER BY top.doc_id"""

  private val ContamK = 3 // flag docs sharing >= K benchmark shingles

  /** Benchmark decontamination: remove training documents that leak
    * evaluation data. The benchmark set (deterministic subset here:
    * doc_id % 97 == 0) contributes its distinct word-bigram shingles;
    * corpus documents sharing >= K of them get flagged with their hit
    * count. The benchmark side is small by nature, so it BROADCASTS —
    * the corpus shingle table never shuffles, which is what makes this
    * viable against a 100 TB corpus. */
  /** the un-materialized plan + its cached shingle input — split out so
    * ScaleSpec can assert the broadcast shape before localCheckpoint
    * collapses the executed plan to a Scan of the result RDD */
  private[graft] def decontaminateLazy(s: SparkSession,
                                       d: String): (DataFrame, DataFrame) = {
    // both join sides derive from the shingle table; persist so the
    // interpreted hash pipeline runs once, not once per side (the
    // Dedup.jaccardPairs lesson)
    val sh = Dedup.shingles(Tables.documents(s, d), "doc_id", "text")
      .persist()
    val bench = sh.filter(col("id") % 97 === 0).select("s").distinct()
    val out = sh.filter(col("id") % 97 =!= 0)
      .join(broadcast(bench), Seq("s"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= ContamK)
      .select(col("id").as("doc_id"), col("n_hits"))
      .orderBy("doc_id")
    (out, sh)
  }

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val (out, sh) = decontaminateLazy(s, d)
    graft.pipeline.Caching.materializeAndRelease(out, sh)
  }

  val decontaminateSql: String = s"""
    WITH $thCte, $shCte,
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
    SELECT sh.doc_id, COUNT(*) AS n_hits
    FROM sh JOIN bench ON sh.s = bench.s
    WHERE sh.doc_id % 97 != 0
    GROUP BY sh.doc_id HAVING COUNT(*) >= $ContamK
    ORDER BY doc_id"""

  private val SemContamTau = 0.3 // max-cosine flag threshold

  /** Semantic decontamination: the embedding-space complement of the
    * n-gram [[decontaminate]] — paraphrased or re-worded benchmark
    * leakage shares no 13-gram but still sits next to the eval set in
    * embedding space. Benchmark vectors (same deterministic
    * `id % 97 == 0` split as the n-gram screen) BROADCAST — eval
    * suites are thousands of rows, never corpus-scale — so the corpus
    * scans ONCE, each row paying only the codegen
    * [[graft.functions.FloatVectorDot]] kernel against the broadcast
    * list; flagged rows aggregate map-side per vec_id. No corpus-side
    * shuffle carries a vector. */
  def decontaminateSemantic(s: SparkSession, d: String): DataFrame = {
    val e = Similarity.withNorm(Tables.embeddings(s, d), "embedding")
    val bench = e.filter(col("vec_id") % 97 === 0)
      .select(col("embedding").as("b_vec"), col("norm").as("b_norm"))
    val corpus = e.filter(col("vec_id") % 97 =!= 0)
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos", round(
        graft.functions.VecF.dotF(col("embedding"), col("b_vec")) /
          (col("norm") * col("b_norm")), 6))
      .filter(col("cos") >= SemContamTau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
      .orderBy("vec_id")
  }

  val decontaminateSemanticSql: String = s"""
    WITH e AS (SELECT vec_id, embedding,
      sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings),
    b AS (SELECT embedding AS b_vec, norm AS b_norm FROM e
          WHERE vec_id % 97 = 0),
    hits AS (SELECT vec_id,
        ROUND(${dotSql("c.embedding", "b_vec")} / (c.norm * b_norm), 6)
          AS cos
      FROM e c CROSS JOIN b WHERE c.vec_id % 97 != 0)
    SELECT vec_id, COUNT(*) AS n_hits, MAX(cos) AS max_cos
    FROM hits WHERE cos >= $SemContamTau
    GROUP BY vec_id ORDER BY vec_id"""

  /** KMV (k-minimum-values) distinct-count sketch over user ids per
    * event type. The sketch state is the k smallest distinct hash
    * values — a few hundred bytes per group regardless of cardinality,
    * mergeable across partitions (min-merge), and because the hash is
    * the house polynomial the estimate is DETERMINISTIC: the oracle
    * checks the sketch bit-for-bit, not approximately. Estimator:
    * (k-1) * P / h_k (hashes uniform on [0, P)); groups with fewer
    * than k distinct hashes report exactly. */
  def sketchKmv(s: SparkSession, d: String): DataFrame = {
    val k = 64
    // NULL ids: COUNT(DISTINCT) excludes them in both engines — keep
    // them out of the sketch too. The KmvAggregator dedups internally,
    // so raw rows feed it directly: partial sketches build map-side
    // and min-merge across partitions (k longs per group on the wire,
    // not the distinct-hash table).
    val summary = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"),
        graft.functions.HashF.polyHash(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(graft.functions.KmvF.kmv(k)(col("h")).as("kmv"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(summary, Seq("event_type"))
      .withColumn("kmv_estimate",
        when(col("kmv.kk") < k, col("kmv.kk").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble * TextHash.P) / col("kmv.hk"), 2)))
      .select("event_type", "n_exact", "kmv_estimate")
      .orderBy("event_type")
  }

  val sketchKmvSql: String = {
    val v = "CAST(user_id AS VARCHAR)"
    val h = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      | [CAST(ascii(substr($v, CAST(i AS INT), 1)) AS BIGINT)
      |  FOR i IN range(1, length($v)+1)]),
      | (a, b) -> (a * 31 + b) % ${TextHash.P})""".stripMargin
    s"""
    WITH hashes AS (SELECT DISTINCT event_type, $h AS h FROM events
      WHERE user_id IS NOT NULL),
    ranked AS (SELECT event_type, h,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashes),
    kth AS (SELECT event_type, MAX(h) AS hk, COUNT(*) AS kk
      FROM ranked WHERE rn <= 64 GROUP BY event_type),
    exact AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type)
    SELECT exact.event_type, n_exact,
      CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)
           ELSE ROUND(${63.0 * TextHash.P} / hk, 2) END AS kmv_estimate
    FROM exact JOIN kth ON exact.event_type = kth.event_type
    ORDER BY exact.event_type"""
  }

  private val SemT = 0.35 // semantic near-dup cosine threshold

  /** Semantic dedup (the SemDeDup shape, arXiv:2303.09540): partition
    * the embedding space into IVF cells, compare pairs ONLY within a
    * cell, connect cos ≥ τ pairs, report each duplicate cluster with
    * its kept representative (min id) and members. The cell count is
    * DERIVED FROM INPUT STATISTICS ([[graft.pipeline.IvfIndex]]:
    * k = ceil(n/128), sampled two-level centroids, oversized cells
    * re-split), so the per-cell quadratic scan stays bounded and total
    * pair work is O(n·128) — linear in the corpus; the equality join
    * on `cell` is one shuffle. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    // persisted: both sides of the within-cell self-join consume the
    // assignment join, which would otherwise run once per side; the
    // assignment itself rides the session-scoped per-snapshot cache
    // (shared with knn_classify / hard_negatives)
    val base = graft.pipeline.IvfIndex.withCellsSession(
      s, s"$d/embeddings.parquet",
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        graft.functions.VecF.normF(col("embedding")).as("norm")),
      "vec_id", "embedding").persist()
    val a = base.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = base.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(
        graft.functions.VecF.dotF(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6))
      .filter(col("cos") >= SemT)
      .select("id_a", "id_b")
    val out = Dedup.clusterPairs(pairs)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("members"))
      .orderBy("cluster")
    graft.pipeline.Caching.materializeAndRelease(out, base)
  }

  val dedupSemanticSql: String = {
    s"""
    WITH ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    e AS (SELECT emb.vec_id, emb.embedding,
      sqrt(${dotSql("emb.embedding", "emb.embedding")}) AS norm,
      ivf_cells.cell
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    near AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(${dotSql("a.embedding", "b.embedding")} /
        (a.norm * b.norm), 6) >= $SemT),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near
      UNION ALL SELECT id_b, id_a FROM near),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e2.dst FROM r JOIN edges e2 ON r.b = e2.src)
      SELECT a, b FROM r),
    clusters AS (
      SELECT id, MIN(lbl) AS cluster FROM (
        SELECT src AS id, src AS lbl FROM edges
        UNION ALL SELECT a, b FROM reach)
      GROUP BY id)
    SELECT cluster, COUNT(*) AS n_members,
      string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
    FROM clusters GROUP BY cluster ORDER BY cluster"""
  }

  /** Cluster-representative selection: among each near-dup cluster keep
    * the highest-quality document (the step after clustering in every
    * curation pipeline — dedup keeps the BEST copy, not an arbitrary
    * one). Composition: jaccard pairs → connected components → quality
    * join → per-cluster argmax (quality desc, doc_id asc tiebreak). */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val clusters = Dedup.clusterPairs(
      Dedup.jaccardPairsAuto(docs, "doc_id", "text", J))
    val quality = graft.pipeline.TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc_id").as("id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("quality_score").desc, col("id"))
    clusters.join(quality, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("id").as("best_doc"), col("quality_score"))
      .orderBy("cluster")
  }

  val dedupKeepBestSql: String = {
    val stop = graft.pipeline.TextAnalysis.Stopwords
      .map(w => s"'$w'").mkString(", ")
    // the dedup_clusters CTE chain + quality + per-cluster argmax
    s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    near AS (
      SELECT id_a, id_b FROM pairs
        JOIN counts ca ON id_a = ca.doc_id
        JOIN counts cb ON id_b = cb.doc_id
      WHERE ROUND(common / (ca.n + cb.n - common), 6) >= $J),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near
      UNION ALL SELECT id_b, id_a FROM near),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
      SELECT a, b FROM r),
    clusters AS (
      SELECT id, MIN(lbl) AS cluster FROM (
        SELECT src AS id, src AS lbl FROM edges
        UNION ALL SELECT a, b FROM reach)
      GROUP BY id),
    q AS (SELECT doc_id AS id,
      ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) *
        (1.0 - CAST(len(list_filter(string_split(text, ' '),
           x -> x IN ($stop))) AS DOUBLE) / len(string_split(text, ' '))), 6)
        AS quality_score
      FROM documents),
    ranked AS (
      SELECT c.cluster, c.id, q.quality_score, ROW_NUMBER() OVER
        (PARTITION BY c.cluster ORDER BY q.quality_score DESC, c.id) AS rn
      FROM clusters c JOIN q ON c.id = q.id)
    SELECT cluster, id AS best_doc, quality_score
    FROM ranked WHERE rn = 1 ORDER BY cluster"""
  }

  /** Deterministic stratified sampling (training-data mixing): each
    * source keeps a per-source quota by thresholding a cross-engine
    * arithmetic hash of doc_id — reproducible on any engine, no RNG
    * state, trivially distributable (a pure filter). Output: per-source
    * totals and kept counts. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val h = pmod(col("doc_id") * lit(2654435761L), lit(100L))
    val rate = when(col("source").isin("src1", "src2", "src3"), lit(50L))
      .otherwise(lit(10L))
    docs.select(col("source"), h.as("h"), rate.as("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("h") < col("rate"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  val sampleStratifiedSql: String = """
    SELECT source, COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 <
        (CASE WHEN source IN ('src1','src2','src3') THEN 50 ELSE 10 END)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY source ORDER BY source"""

  /** Per-source mixing weights (the Pile-style companion to
    * [[sampleStratified]]): source `srcN` carries weight N%4 + 1 and
    * keeps the top `n_src * w / 4` of its documents under a
    * deterministic hash priority — a reproducible weighted draw with
    * no RNG state. One shuffle (the per-source window); the rank and
    * the per-source count share it. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h", "doc_id")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        (substring(col("source"), 4, 10).cast("int") % 4 + 1).as("wt"),
        pmod(col("doc_id") * lit(2654435761L) + lit(40503L),
          lit(1000000007L)).as("h"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .filter(col("rn") <= floor(col("n_src") * col("wt") / 4))
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }

  val sampleWeightedSql: String = """
    WITH t AS (
      SELECT source, doc_id,
        (CAST(substr(source, 4) AS INT) % 4) + 1 AS wt,
        (doc_id * 2654435761 + 40503) % 1000000007 AS h
      FROM documents),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM t)
    SELECT source, doc_id FROM r
    WHERE rn <= FLOOR(n_src * wt / 4)
    ORDER BY source, doc_id"""

  /** URL/HTML boilerplate stripping over a deterministically "dirtied"
    * corpus (the synthetic documents carry no markup, so the query
    * injects tags/URLs/entities reproducibly per doc_id, then cleans
    * them with [[graft.pipeline.TextAnalysis.cleanText]] — both
    * engines build and clean the identical dirty text). */
  def textClean(s: SparkSession, d: String): DataFrame = {
    val dirty = when(col("doc_id") % 3 === 0,
        concat(lit("<html><body><p>"), col("text"),
          lit("</p><a href=\"http://example.com/"), col("doc_id"),
          lit("\">link</a> &amp; more</body></html>")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("see https://example.org/page?id="), col("doc_id"),
          lit(" &lt;ok&gt; "), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"), col("dirty"),
        graft.pipeline.TextAnalysis.cleanText(col("dirty")).as("clean_text"))
      .select(col("doc_id"),
        length(col("dirty")).cast("long").as("n_dirty"),
        length(col("clean_text")).cast("long").as("n_clean"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  val textCleanSql: String = """
    WITH dirty AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN
          '<html><body><p>' || text || '</p><a href="http://example.com/'
            || doc_id || '">link</a> &amp; more</body></html>'
        WHEN doc_id % 3 = 1 THEN
          'see https://example.org/page?id=' || doc_id || ' &lt;ok&gt; ' || text
        ELSE text END AS dirty
      FROM documents),
    clean AS (
      SELECT doc_id, dirty,
        TRIM(regexp_replace(
          replace(
            replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(dirty, '<[^>]*>', ' ', 'g'),
                'https?://[^ ]+', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', ''''), '&nbsp;', ' '),
            '&amp;', '&'),
          '\s+', ' ', 'g')) AS clean_text
      FROM dirty)
    SELECT doc_id, CAST(length(dirty) AS BIGINT) AS n_dirty,
      CAST(length(clean_text) AS BIGINT) AS n_clean, clean_text
    FROM clean ORDER BY doc_id"""

  /** The WHOLE curation pipeline as one plan — shingles → jaccard
    * pairs → connected components → per-cluster best-quality
    * representative → curated-corpus summary. The standalone dedup
    * queries each re-pay the shingle chain under Bench's clearCache;
    * composed, every stage is shared (the persisted shingle/bitset
    * stage feeds pairs once, clusters and representatives reuse the
    * pair graph), which is the shape a real pipeline runs. Output:
    * per-source totals, clustered/kept counts, exact-decimal mean
    * quality of the kept set. */
  def pipelineCurate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val clusters = Dedup.clusterPairs(
      Dedup.jaccardPairsAuto(docs, "doc_id", "text", J))
    val quality = graft.pipeline.TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("quality_score").desc, col("id"))
    val best = clusters
      .join(quality.select(col("doc_id").as("id"), col("quality_score")),
        Seq("id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id").as("doc_id"), lit(true).as("is_best"))
    docs.select("doc_id", "source")
      .join(quality, Seq("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .withColumn("kept", col("cluster").isNull || col("is_best").isNotNull)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        Q.davg(when(col("kept"), col("quality_score"))).as("kept_quality"))
      .orderBy("source")
  }

  val pipelineCurateSql: String = {
    val stop = graft.pipeline.TextAnalysis.Stopwords
      .map(w => s"'$w'").mkString(", ")
    s"""
    WITH $thCte, $shCte,
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    near AS (
      SELECT id_a, id_b FROM pairs
        JOIN counts ca ON id_a = ca.doc_id
        JOIN counts cb ON id_b = cb.doc_id
      WHERE ROUND(common / (ca.n + cb.n - common), 6) >= $J),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM near
      UNION ALL SELECT id_b, id_a FROM near),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
      SELECT a, b FROM r),
    clusters AS (
      SELECT id, MIN(lbl) AS cluster FROM (
        SELECT src AS id, src AS lbl FROM edges
        UNION ALL SELECT a, b FROM reach)
      GROUP BY id),
    q AS (SELECT doc_id,
      ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) *
        (1.0 - CAST(len(list_filter(string_split(text, ' '),
           x -> x IN ($stop))) AS DOUBLE) / len(string_split(text, ' '))), 6)
        AS quality_score
      FROM documents),
    ranked AS (
      SELECT c.cluster, c.id, ROW_NUMBER() OVER
        (PARTITION BY c.cluster ORDER BY q.quality_score DESC, c.id) AS rn
      FROM clusters c JOIN q ON c.id = q.doc_id),
    best AS (SELECT id FROM ranked WHERE rn = 1)
    SELECT d.source,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN c.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clustered,
      CAST(SUM(CASE WHEN c.id IS NULL OR b.id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_kept,
      ${Sql.davg("CASE WHEN c.id IS NULL OR b.id IS NOT NULL " +
        "THEN q.quality_score END")} AS kept_quality
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    LEFT JOIN clusters c ON d.doc_id = c.id
    LEFT JOIN best b ON d.doc_id = b.id
    GROUP BY d.source ORDER BY d.source"""
  }

  // ------------------------------------------------------------- similarity
  /** Matryoshka-style truncated retrieval: rank on the first 16 dims
    * only (renormalized). The modern cheap-retrieval trick — a prefix
    * of an MRL-trained embedding is itself a valid embedding; at scale
    * the truncated scan reads/computes 1/4 of the vector bytes and a
    * full-dim rerank (sim_cosine_topk) follows on the short list. */
  def simTopKMrl(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("embedding", slice(col("embedding"), 1, 16))
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  val simTopKMrlSql: String = {
    def dot16(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)
         |  FOR i IN range(1, 17)]),
         | (x, y) -> x + y)""".stripMargin
    s"""
    WITH e AS (SELECT vec_id, embedding,
      sqrt(${dot16("embedding", "embedding")}) AS norm FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dot16("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q, e c WHERE q.vec_id < 30 AND c.vec_id != q.vec_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM pairs)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""
  }

  def simTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  val simTopKSql: String = s"""
    WITH e AS (SELECT vec_id, embedding,
      sqrt(${dotSql("embedding", "embedding")}) AS norm FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q, e c WHERE q.vec_id < 30 AND c.vec_id != q.vec_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM pairs)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""

  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.annTopK(emb, emb.filter(col("vec_id") < 30),
        "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  val simAnnLshSql: String = {
    val ps = Similarity.planes(8, 64)
    def planeDot(v: String, j: Int): String = {
      val terms = ps(j).zipWithIndex.map { case (c, i) =>
        s"CAST($v[${i + 1}] AS DOUBLE) * ($c)"
      }
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [${terms.mkString(", ")}]), (x, y) -> x + y)""".stripMargin
    }
    val bucket = (v: String) => (0 until 8).map(j =>
      s"(CASE WHEN ${planeDot(v, j)} > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""
    WITH e AS (SELECT vec_id, embedding,
      sqrt(${dotSql("embedding", "embedding")}) AS norm,
      CAST(${bucket("embedding")} AS BIGINT) AS bucket FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q JOIN e c ON q.bucket = c.bucket
      WHERE q.vec_id < 30 AND c.vec_id != q.vec_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM pairs)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3 ORDER BY query_id, rank"""
  }

  // ------------------------------------------------------------- text
  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val textQualitySql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
      FROM documents)
    SELECT doc_id, length(text) AS n_chars,
      CAST(len(tk) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
      ROUND(CAST(length(text) - (len(tk) - 1) AS DOUBLE) / len(tk), 6)
        AS avg_token_len,
      ROUND(CAST(len(list_filter(tk, x -> x IN ($stop))) AS DOUBLE) / len(tk), 6)
        AS stop_ratio,
      ROUND(LEAST(1.0, CAST(len(tk) AS DOUBLE) / 100.0) *
        (1.0 - CAST(len(list_filter(tk, x -> x IN ($stop))) AS DOUBLE) / len(tk)), 6)
        AS quality_score
    FROM t ORDER BY doc_id"""
  }

  def textLangId(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.langId(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("is_match",
        (col("pred_lang") === col("lang")).cast("int"))
      .select("doc_id", "pred_lang", "score", "lang", "is_match")
      .orderBy("doc_id")
  }

  val textLangIdSql: String = {
    val scoreRows = TextAnalysis.LangMarkers.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id, lang, '$lang' AS cand,
         | len(list_filter(tk, x -> x IN ($lst))) AS score FROM t""".stripMargin
    }.mkString("\n      UNION ALL ")
    s"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
      FROM documents),
    scores AS ($scoreRows),
    best AS (SELECT doc_id, lang, cand, score, ROW_NUMBER() OVER
      (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM scores)
    SELECT doc_id, cand AS pred_lang, CAST(score AS BIGINT) AS score, lang,
      CAST(CASE WHEN cand = lang THEN 1 ELSE 0 END AS INT) AS is_match
    FROM best WHERE rn = 1 ORDER BY doc_id"""
  }

  def textTopTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topTokens(Tables.documents(s, d), "text", 20)

  val textTopTokensSql: String = """
    SELECT tok AS token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 20"""

  def textFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val textFingerprintSql: String = {
    val terms = (0 until 8).map { k =>
      val pw = TextAnalysis.pow31(7 - k)
      s"CAST(ascii(substr(text, CAST(i AS INT) + $k, 1)) AS BIGINT) * $pw"
    }.mkString(" + ")
    s"""
    WITH h AS (SELECT doc_id,
      [($terms) % ${TextHash.P} FOR i IN range(1, length(text) - 6)] AS hs
      FROM documents)
    SELECT doc_id, list_min(hs) AS fingerprint,
      CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct_grams
    FROM h ORDER BY doc_id"""
  }

  // ------------------------------------------------------------ tf-idf
  /** Per-document top-3 TF-IDF terms (the classic keyword extraction a
    * corpus-curation pipeline runs for topical mixing): tf per
    * (doc, term) and df per term are both map-side-combinable
    * aggregations; the scalar doc count broadcasts; the tf⋈df join
    * shuffles on term (AQE broadcasts the df side when the vocabulary
    * fits). Ranking orders by the ROUNDED score with the term as
    * tie-break, so cross-engine double ulps can't flip ranks. */
  def textTfidfTop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfT, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  val textTfidfTopSql: String = """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
      GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, term, tf, df,
        ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, term) AS INT) AS rank FROM scored)
    SELECT doc_id, rank, term, tf, df, tfidf
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""

  // ---------------------------------------------- unigram LM quality
  /** Unigram-LM surprisal per document (the perplexity-proxy quality
    * signal: documents of improbable tokens score high, boilerplate
    * scores low): corpus token frequencies → p(w), score =
    * -avg ln p(w). The frequency table is a map-side-combinable
    * aggregation, the totals scalar broadcasts, and the per-doc sum
    * goes through DECIMAL(38,12) so the float sum is order-independent
    * across engines (the repo's oracle-determinism convention). */
  def textUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Spread(s, s"$d/documents.parquet",
      Tables.documents(s, d), col("doc_id"))
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("t"))
    toks.join(freq, "tok").crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(log(col("c").cast("double") / col("t"))
          .cast("decimal(38,12)")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("s").cast("double") / col("n_tokens"), 6)
          .as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  val textUnigramLogprobSql: String = """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq)
    SELECT doc_id, COUNT(*) AS n_tokens,
      ROUND(-CAST(SUM(CAST(ln(CAST(c AS DOUBLE) / t) AS DECIMAL(38,12)))
        AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------- boilerplate removal
  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line-
    * dedup rule: a paragraph appearing in ≥ 2 DISTINCT documents is
    * boilerplate — nav bars, license footers, cookie banners — and is
    * struck from every document that carries it, unlike
    * `dedup_paragraph` which keeps the first occurrence). Shape: ONE
    * corpus scan explodes 20-word paragraphs to 128-bit two-seed
    * hashes; a single map-side-combinable aggregate per
    * (hash, source) carries instance counts AND per-source distinct-doc
    * counts, so the corpus-wide document frequency is a window SUM over
    * the much smaller distinct-paragraph table (hash-keyed — no second
    * corpus pass, and doc_ids never span sources so per-source distinct
    * counts add up exactly). No exchange ever carries paragraph text —
    * only 16-byte hashes plus the source key — which is what keeps the
    * shuffle feasible when the corpus is 100 TB of text. */
  def textBoilerplate(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nPar = ceil(size(words) / lit(20.0)).cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => array_join(slice(words, i * 20 + 1, lit(20)), " "))
    val exploded = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(paras).as("para"))
      .select(col("doc_id"), col("source"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
    val perSrc = exploded.groupBy("h1", "h2", "source")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    perSrc.withColumn("nd_tot", sum(col("nd")).over(w))
      .groupBy("source")
      .agg(sum(col("n")).as("n_paras"),
        sum(when(col("nd_tot") >= 2, col("n")).otherwise(0L))
          .as("n_boiler"))
      .withColumn("n_kept", col("n_paras") - col("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_paras"), 6))
      .select("source", "n_paras", "n_boiler", "n_kept", "boiler_frac")
      .orderBy("source")
  }

  val textBoilerplateSql: String = """
    WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS words
      FROM documents),
    paras AS (SELECT doc_id, source,
        array_to_string(list_slice(words, i * 20 + 1, i * 20 + 20), ' ')
          AS para
      FROM base,
        UNNEST(range(CAST(ceil(len(words) / 20.0) AS BIGINT))) AS t(i)),
    f AS (SELECT para, COUNT(DISTINCT doc_id) AS nd
      FROM paras GROUP BY para)
    SELECT source, COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      CAST(COUNT(*) - SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_kept,
      ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS boiler_frac
    FROM paras JOIN f USING (para)
    GROUP BY source ORDER BY source"""

  // ----------------------------------------------- bigram LM quality
  /** Interpolated bigram-LM surprisal per document (the KenLM-style
    * perplexity filter CCNet runs, reduced to its distributed shape:
    * train pass builds the model, score pass joins it back). score =
    * -avg ln(0.7·p(w₂|w₁) + 0.3·p(w₂)). Unlike every broadcast-stats
    * operator here, the bigram table is NOT broadcastable at corpus
    * scale — the probability join is a genuine big×big hash join on the
    * bigram key, the canonical distributed-LM-scoring shape. Costs are
    * contained by pre-aggregating bigram INSTANCES per (doc, bigram)
    * first (map-side combinable; the multiplicity rides as a weight),
    * so the model aggregate and the scoring probe both consume that one
    * exchange (ReuseExchange — one bigram-side corpus scan), and join
    * traffic is distinct-bigrams-per-doc, not positions. The unigram
    * side reuses its aggregate for both context and target counts (same
    * canonical subtree → one exchange). Per-doc sums go through
    * DECIMAL(38,12) so float addition order can't leak cross-engine. */
  def textBigramLogprob(s: SparkSession, d: String): DataFrame = {
    // r17-opt: the corpus is tokenized twice (bigrams + unigrams) and
    // the bigram side re-derived for the final join — all in the scan
    // stage; Spread parallelizes every pass (no-op at scale)
    val docs = graft.Spread(s, s"$d/documents.parquet",
      Tables.documents(s, d), col("doc_id"))
    val w = split(col("text"), " ")
    val g = docs.select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("n"))
    val uni = docs.select(explode(w).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum(col("cu")).as("t"))
    val big = g.groupBy("w1", "w2").agg(sum(col("n")).as("cb"))
    val probs = big
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        log(lit(0.7) * (col("cb").cast("double") / col("cu1")) +
          lit(0.3) * (col("cu2").cast("double") / col("t"))).as("lp"))
    g.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"),
        sum((col("n").cast("double") * col("lp"))
          .cast("decimal(38,12)")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s").cast("double") / col("n_bigrams"), 6)
          .as("avg_neg_logprob"))
      .orderBy("doc_id")
  }

  val textBigramLogprobSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w
      FROM documents),
    g AS (SELECT doc_id, w[CAST(i AS INT)] AS w1,
        w[CAST(i + 1 AS INT)] AS w2, COUNT(*) AS n
      FROM base, UNNEST(range(1, len(w))) AS t(i)
      GROUP BY doc_id, w1, w2),
    uni AS (SELECT unnest(w) AS tok FROM base),
    freq AS (SELECT tok, COUNT(*) AS cu FROM uni GROUP BY tok),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS t FROM freq),
    big AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS cb
      FROM g GROUP BY w1, w2),
    probs AS (SELECT w1, w2,
        ln(CAST(0.7 AS DOUBLE) * (CAST(cb AS DOUBLE) / u1.cu) +
           CAST(0.3 AS DOUBLE) * (CAST(u2.cu AS DOUBLE) / t)) AS lp
      FROM big JOIN freq u1 ON big.w1 = u1.tok
        JOIN freq u2 ON big.w2 = u2.tok CROSS JOIN tot)
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
      ROUND(-CAST(SUM(CAST(n * lp AS DECIMAL(38,12))) AS DOUBLE)
        / SUM(n), 6) AS avg_neg_logprob
    FROM g JOIN probs USING (w1, w2)
    GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------- chunk windows
  /** Overlapping token-window chunking (the RAG/packing shape: 50-token
    * windows, stride 40): pure per-row array arithmetic — no shuffle at
    * all until the output sort, so it scales with the scan. */
  def textChunkWindows(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("w"), size(words).as("n"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / 40).cast("int"))).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        least(lit(50), col("n") - col("ci") * 40).cast("long")
          .as("n_tokens"),
        element_at(col("w"), col("ci") * 40 + 1).as("first_token"),
        element_at(col("w"), least(col("ci") * 40 + 50, col("n")))
          .as("last_token"))
      .orderBy("doc_id", "chunk_idx")
  }

  val textChunkWindowsSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      CAST(least(50, n - i * 40) AS BIGINT) AS n_tokens,
      w[CAST(i * 40 + 1 AS INT)] AS first_token,
      w[CAST(least(i * 40 + 50, n) AS INT)] AS last_token
    FROM base, UNNEST(range((n - 1) // 40 + 1)) AS t(i)
    ORDER BY doc_id, chunk_idx"""

  // ------------------------------------------ CCNet perplexity buckets
  /** CCNet's hallmark head/middle/tail split: per-SOURCE perplexity
    * tertiles of the unigram-LM surprisal (head = lowest third =
    * cleanest text, the slice CCNet ships; tail = candidate discard).
    * The per-source thresholds are an exact percentile over the
    * ROUNDED 6dp score domain — the quality_gate_p75 trick that keeps
    * the percentile map-side-combinable at any corpus size — and come
    * back as a source-count-sized table that BROADCASTS to label every
    * document. The per-doc score aggregate is consumed by both the
    * threshold branch and the labeling branch as the same canonical
    * subtree, so ReuseExchange computes it once. */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("t"))
    val ppl = toks.join(freq, "tok").crossJoin(broadcast(tot))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"),
        sum(log(col("c").cast("double") / col("t"))
          .cast("decimal(38,12)")).as("s"))
      .select(col("doc_id"), col("source"),
        round(-col("s").cast("double") / col("n"), 6).as("ppl"))
    val thr = ppl.groupBy("source")
      .agg(round(expr("percentile(ppl, 0.33333)"), 6).as("p33"),
        round(expr("percentile(ppl, 0.66667)"), 6).as("p66"))
    ppl.join(broadcast(thr), "source")
      .withColumn("bucket",
        when(col("ppl") <= col("p33"), lit("head"))
          .when(col("ppl") <= col("p66"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), Q.davg(col("ppl")).as("avg_ppl"))
      .select("source", "bucket", "n_docs", "avg_ppl")
      .orderBy("source", "bucket")
  }

  val ccnetBucketsSql: String = s"""
    WITH toks AS (SELECT doc_id, source,
        unnest(string_split(text, ' ')) AS tok FROM documents),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
    ppl AS (SELECT doc_id, source,
        ROUND(-CAST(SUM(CAST(ln(CAST(c AS DOUBLE) / t)
          AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS ppl
      FROM toks JOIN freq USING (tok) CROSS JOIN tot
      GROUP BY doc_id, source),
    thr AS (SELECT source, ROUND(quantile_cont(ppl, 0.33333), 6) AS p33,
        ROUND(quantile_cont(ppl, 0.66667), 6) AS p66
      FROM ppl GROUP BY source)
    SELECT p.source,
      CASE WHEN ppl <= p33 THEN 'head'
           WHEN ppl <= p66 THEN 'middle' ELSE 'tail' END AS bucket,
      COUNT(*) AS n_docs, ${Sql.davg("ppl")} AS avg_ppl
    FROM ppl p JOIN thr USING (source)
    GROUP BY 1, 2 ORDER BY source, bucket"""

  // ------------------------------------------------- readability
  /** Flesch reading-ease scoring — the classic shallow quality signal
    * corpus filters run alongside stopword/length heuristics: words =
    * `\S+` runs, sentences = `[.!?]+` runs, syllables ≈ vowel-group
    * runs (the standard dictionary-free proxy). Entirely map-side
    * (three codegen'd regex counters per row, no shuffle but the final
    * order), and every arithmetic step — integer counts, two exact
    * IEEE divisions, fused multiply-subtract-free formula — is
    * correctly rounded, so both engines emit bit-identical scores. */
  def textReadability(s: SparkSession, d: String): DataFrame = {
    val w = greatest(regexp_count(col("text"), lit("\\S+")), lit(1))
      .cast("long")
    val sents = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      .cast("long")
    val syl = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")),
      lit(1)).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), w.as("n_words"), sents.as("n_sents"),
        syl.as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          4))
      .withColumn("band",
        when(col("flesch") >= 60, "easy")
          .when(col("flesch") >= 30, "standard").otherwise("difficult"))
      .orderBy("doc_id")
  }

  val textReadabilitySql: String = """
    WITH c AS (SELECT doc_id,
        CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS BIGINT)
          AS n_words,
        CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
          AS n_sents,
        CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
          AS BIGINT) AS n_syllables
      FROM documents),
    f AS (SELECT doc_id, n_words, n_sents, n_syllables,
        ROUND(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
          - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
      FROM c)
    SELECT doc_id, n_words, n_sents, n_syllables, flesch,
      CASE WHEN flesch >= 60 THEN 'easy'
           WHEN flesch >= 30 THEN 'standard'
           ELSE 'difficult' END AS band
    FROM f ORDER BY doc_id"""

  // ------------------------------------------------- mixture weights
  /** Per-source sampling weights for training-mixture planning (the
    * temperature-sampling rule w ∝ share^(1/2), the multilingual/
    * multi-domain rebalancing convention): per-source token counts are
    * one map-side-combinable aggregation over a handful of groups; the
    * scalars broadcast. sqrt is correctly rounded IEEE (identical
    * cross-engine) and the tiny weight sum goes through DECIMAL so
    * addition order can't leak into the rounded output. */
  def sourceMixWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("t"))
    val sh = per.crossJoin(broadcast(tot))
      .withColumn("share", col("n_tokens").cast("double") / col("t"))
      .withColumn("wr", sqrt(col("share")).cast("decimal(38,12)"))
    val z = sh.agg(sum(col("wr")).as("z"))
    sh.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("wr").cast("double") / col("z").cast("double"), 6)
          .as("weight"))
      .orderBy("source")
  }

  val sourceMixWeightsSql: String = """
    WITH per AS (SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per),
    sh AS (SELECT source, n_docs, n_tokens,
        CAST(n_tokens AS DOUBLE) / t AS share,
        CAST(sqrt(CAST(n_tokens AS DOUBLE) / t) AS DECIMAL(38,12)) AS wr
      FROM per CROSS JOIN tot),
    z AS (SELECT SUM(wr) AS z FROM sh)
    SELECT source, n_docs, n_tokens, ROUND(share, 6) AS share,
      ROUND(CAST(wr AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight
    FROM sh CROSS JOIN z ORDER BY source"""

  // ------------------------------------------------------------- quantization
  /** int8 symmetric quantization of the embedding column: per-vector
    * scale = max|v|/127, quant = round(v/scale) clamped to [-127,127];
    * reports reconstruction error — the compression step before
    * shipping embeddings to an ANN index. */
  def embQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("scale", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          |  (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"""
          .stripMargin))
      .withColumn("qerr", expr(
        """aggregate(transform(embedding, x ->
          |    abs(CAST(x AS DOUBLE) -
          |      greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
          |        CAST(round(CAST(x AS DOUBLE) / scale, 0) AS BIGINT)))
          |        * scale)),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / size(embedding)"""
          .stripMargin))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(col("qerr"), 6).as("mean_abs_err"))
      .orderBy("vec_id")

  val embQuantizeSql: String = """
    WITH q AS (
      SELECT vec_id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [abs(CAST(x AS DOUBLE)) FOR x IN embedding]),
          (m, x) -> greatest(m, x)) / 127.0 AS scale,
        embedding
      FROM embeddings)
    SELECT vec_id, ROUND(scale, 6) AS scale,
      ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        [abs(CAST(x AS DOUBLE) -
           greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
             CAST(round(CAST(x AS DOUBLE) / scale, 0) AS BIGINT)))
             * scale)
         FOR x IN embedding]),
        (acc, x) -> acc + x) / len(embedding), 6) AS mean_abs_err
    FROM q ORDER BY vec_id"""

  /** BPE-ish regex token counting (lowercase runs, digits, and symbol
    * singletons — a subword-style segmentation) alongside whitespace
    * token counts. */
  /** Token counting with the REAL merges-table BPE
    * ([[graft.pipeline.Bpe]]: rank-ordered pair merging over the
    * embedded GPT-2-format merges), as a codegen'd expression; the
    * pre-tokenizer count rides along for comparison. The oracle
    * replays the identical merges as an ordered replace-to-fixpoint
    * fold — equivalent to the rank loop because the table is
    * well-formed (see Bpe scaladoc). */
  def textTokenBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(text, " +
            s"'${graft.pipeline.Bpe.PreTokenRegex}', 0)"))
          .cast("long").as("n_pre_tokens"),
        graft.functions.HashF.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  val textTokenBpeSql: String = {
    // the same merges, same order, 4 fixpoint passes each — exactly
    // sufficient because the shared pre-tokenizer caps word runs at 16
    // chars and a string pass halves a same-pair run (16 → 8 → 4 → 2
    // → 1); an uncapped 32-char run would need a 5th pass and diverge
    val merges = graft.pipeline.Bpe.Merges
      .map { case (a, b) => s"'$a $b'" }.mkString("[", ", ", "]")
    s"""
    WITH pre AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        regexp_extract_all(text, '${graft.pipeline.Bpe.PreTokenRegex}')
          AS words
      FROM documents),
    sym AS (SELECT doc_id, n_ws_tokens,
        CAST(len(words) AS BIGINT) AS n_pre_tokens,
        ' ' || array_to_string([array_to_string(regexp_extract_all(w, '(?s).'),
          ' ') FOR w IN words], ' ¶ ') || ' ' AS s0
      FROM pre),
    folded AS (SELECT doc_id, n_ws_tokens, n_pre_tokens,
        list_reduce(list_prepend(s0,
          flatten([[m, m, m, m] FOR m IN $merges])),
          (acc, m) -> replace(acc, ' ' || m || ' ',
            ' ' || replace(m, ' ', '') || ' ')) AS s1
      FROM sym)
    SELECT doc_id, n_ws_tokens, n_pre_tokens,
      CASE WHEN n_pre_tokens = 0 THEN 0 ELSE
        CAST(len(list_filter(string_split(trim(s1), ' '), x -> x != '¶'))
          AS BIGINT) END AS n_bpe_tokens
    FROM folded ORDER BY doc_id"""
  }

  // ------------------------------------------------------------- multimodal
  /** SQL-expressible slice of the multimodal plumbing: byte length and
    * a deterministic header checksum of the payload treated as opaque
    * bytes (the decode stub itself is exercised in ScalaTest —
    * graft.pipeline.Multimodal). */
  def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      expr("""aggregate(sequence(1, 16), 0L,
             (acc, i) -> acc + ascii(substr(text, i, 1)))""").as("header_sum"),
      (expr("""aggregate(sequence(1, 16), 0L,
             (acc, i) -> acc + ascii(substr(text, i, 1)))""") % 256)
        .as("stub_feature"))
      .orderBy("doc_id")

  val multimodalMetaSql: String = """
    WITH t AS (SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        [CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
         FOR i IN range(1, 17)]), (a, b) -> a + b) AS header_sum
      FROM documents)
    SELECT doc_id, n_bytes, header_sum, header_sum % 256 AS stub_feature
    FROM t ORDER BY doc_id"""

  /** Committed media fixtures for [[multimodalDecodeStats]]: real PNG /
    * 16-bit-PCM WAV / MJPEG-AVI payloads plus corrupt bytes per kind
    * (each ≥16 bytes — the retired byte-length proxy would have called
    * every one of them "decoded ok"). */
  private val mediaFixtures = Seq(
    (1L, "image", "png_gradient.png"),
    (2L, "image", "png_gray.png"),
    (3L, "audio", "wav_sine.wav"),
    (4L, "audio", "wav_stereo.wav"),
    (5L, "video", "avi_clip.avi"),
    (6L, "image", "corrupt_image.bin"),
    (7L, "audio", "corrupt_audio.bin"),
    (8L, "video", "corrupt_video.bin"),
    // flac_sine is the SAME PCM as wav_sine re-encoded losslessly with
    // graft.pipeline.Flac (FIXED+rice frames), so its decoded feature
    // row must equal wav_sine's exactly — any FLAC decode drift breaks
    // the hash
    (9L, "audio", "flac_sine.flac"),
    // LOSSY re-encodes of the same PCM: rows 10/11 are wav_sine /
    // wav_stereo through graft.pipeline.Adpcm (IMA 0x11, decoded by
    // graft's own pure-JVM decoder); rows 12/13 are wav_sine through
    // the graft G.711 µ-law/A-law ENCODERS decoded by the JDK's own
    // converters — a cross-implementation check where an encoder
    // sign/bias/chord bug cannot cancel. The pinned stats sit within
    // quantization noise of the source (RMS 0.3535 → 0.3535/0.3551/
    // 0.3528; ADPCM's 0.52 peak is the classic slope-overload
    // transient overshoot).
    (10L, "audio", "adpcm_sine.wav"),
    (11L, "audio", "adpcm_stereo.wav"),
    (12L, "audio", "ulaw_sine.wav"),
    (13L, "audio", "alaw_sine.wav"),
    // row 14 is the SAME PCM as wav_sine inside a QuickTime 'sowt'
    // PCM MP4, decoded through the ISO-BMFF sample-table walk
    // (MediaMeta.mp4PcmToWav) — its stats must equal row 3's exactly
    (14L, "audio", "mp4_pcm_sine.mp4"),
    // MPEG-1 Layer I tone through the spec-formula SUBBAND decode
    // (MediaMeta.decodeMp3L1): amplitude 0.5 planted in subband 4 →
    // peak 0.5 (within the 15-bit step), RMS 0.5/√32 = 0.0884,
    // mean|s| 0.5/32 = 0.0156, dominant-subband share exactly 1.0
    (15L, "audio", "mp3_l1_tone.mp3"),
    // H.264 I_PCM pixel decode (MediaMeta.decodeH264IPcm): raw
    // macroblocks — the formula-defined slice of the codec — carrying
    // constant-luma frames 40/120/200 → mean 120, std √(12800/3)
    (16L, "video", "h264_ipcm.264"))

  private val phashFixtures = Seq(
    (1L, "png_scene.png"), (2L, "png_scene_bright.png"),
    (3L, "png_scene_shift.png"), (4L, "png_checker.png"),
    (5L, "png_gray.png"), (6L, "corrupt_image.bin"))

  /** Perceptual image near-dup detection over the REAL decode path:
    * dHash64 each committed fixture (ImageIO pixels → bit-stable
    * box-filter 9×8 luma grid, [[graft.pipeline.Multimodal.dhash64]]),
    * generate candidates by 4×16-bit BAND equality — the SimHash-style
    * LSH join, an equality join on (band, value), never an all-pairs
    * cross join — then keep candidates with XOR-popcount Hamming ≤ 8.
    * On the planted set the near-dup pairs land at distance 0
    * (brightness shift — dHash is gradient-based, so uniform
    * brightness change is INVISIBLE, which is the point of the hash)
    * and 6 (1-pixel translation), unrelated images at 31–37;
    * banded recall on the planted pairs is 3/3. Corrupt payloads drop
    * at decode, loudly countable. The oracle is the precomputed
    * physics of the committed fixtures (the decode-stats pattern:
    * fixture bytes are the one input a SQL engine cannot derive).
    * At corpus scale the identical plan runs over billions of images:
    * the exchange carries (band, 16-bit value, id) longs. */
  def multimodalPhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = phashFixtures.flatMap { case (id, name) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      val bytes = try in.readAllBytes() finally in.close()
      graft.pipeline.Multimodal.dhash64(bytes).map(h => (id, h))
    }
    val hdf = s.createDataset(hashes).toDF("media_id", "h")
    val bands = hdf.select(col("media_id"), col("h"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          (shiftrightunsigned(col("h"), 16 * i) % 65536).as("bv"))): _*))
        .as("b"))
      .select(col("media_id"), col("h"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = bands.select(col("band"), col("bv"),
      col("media_id").as("id_a"), col("h").as("ha"))
    val b = bands.select(col("band"), col("bv"),
      col("media_id").as("id_b"), col("h").as("hb"))
    a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("id_a", "id_b")
  }

  /** Precomputed dHash physics of the committed fixtures: scene vs
    * +6-brightness = 0 bits, scene vs 1-px shift = 6 bits (band 3
    * equal → candidate), all unrelated pairs ≥ 31 bits (no shared
    * band), corrupt payload decodes to None and cannot pair. */
  val multimodalPhashDedupSql: String = """
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      CAST(hamming AS BIGINT) AS hamming
    FROM (VALUES (1, 2, 0), (1, 3, 6), (2, 3, 6)) t(id_a, id_b, hamming)
    ORDER BY id_a, id_b"""

  private val audioFpFixtures = Seq(
    (1L, "wav_melody.wav"), (2L, "wav_melody_quiet.wav"),
    (3L, "wav_melody_stereo.wav"), (4L, "wav_melody_shift.wav"),
    (5L, "wav_noise.wav"), (6L, "wav_sine.wav"),
    (7L, "corrupt_audio.bin"))

  /** Audio duplicate detection over the REAL javax.sound decode path:
    * energy-envelope fingerprint per committed fixture
    * ([[graft.pipeline.Multimodal.audioFingerprint64]] — window k's
    * energy vs the global mean, so volume scaling and channel
    * re-encodes hash IDENTICALLY), banded 4×16-bit candidate join,
    * Hamming ≤ 8 keeps. The planted copies (half-volume, mono→stereo
    * re-encode) land at distance 0; a 5%-trimmed copy lands at 25 —
    * positional envelope bits are translation-sensitive BY DESIGN
    * (catching trims needs overlap-and-search, a different cost
    * class), and the fixture pins that boundary honestly. Corrupt
    * payloads drop at decode. Oracle = precomputed fixture physics. */
  def multimodalAudioDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = audioFpFixtures.flatMap { case (id, name) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      val bytes = try in.readAllBytes() finally in.close()
      graft.pipeline.Multimodal.audioFingerprint64(bytes).map(h => (id, h))
    }
    val hdf = s.createDataset(hashes).toDF("media_id", "h")
    val bands = hdf.select(col("media_id"), col("h"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          (shiftrightunsigned(col("h"), 16 * i) % 65536).as("bv"))): _*))
        .as("b"))
      .select(col("media_id"), col("h"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val a = bands.select(col("band"), col("bv"),
      col("media_id").as("id_a"), col("h").as("ha"))
    val b = bands.select(col("band"), col("bv"),
      col("media_id").as("id_b"), col("h").as("hb"))
    a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("id_a", "id_b")
  }

  /** Precomputed fingerprint physics of the committed fixtures: the
    * half-volume and stereo re-encodes of the melody are bit-identical
    * to it (pairwise 0), everything else ≥ 25 bits with no shared
    * band; the corrupt payload decodes to None. */
  val multimodalAudioDedupSql: String = """
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      CAST(hamming AS BIGINT) AS hamming
    FROM (VALUES (1, 2, 0), (1, 3, 0), (2, 3, 0)) t(id_a, id_b, hamming)
    ORDER BY id_a, id_b"""

  /** REAL decode, oracle-gated: run the distributed decode path
    * ([[graft.pipeline.Multimodal.extractMediaFeatures]] — ImageIO
    * pixels, javax.sound PCM samples, RIFF/MJPEG frame parse) over the
    * committed fixtures and emit every decoded feature (width/height/
    * channel means for images; rate/channels/duration/RMS/ZCR/peak for
    * audio; geometry/frame-count/fps/luma for video; the -1 sentinel +
    * byte-stub features for the corrupt payloads). The oracle is the
    * precomputed fixture table, so any decode regression breaks the
    * hash — this replaces the round-8/9 `n_bytes >= 16` proxy. The
    * corpus dir is unused by design: fixture bytes are the one input a
    * SQL engine cannot derive, so they ship with the library. */
  def multimodalDecodeStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = mediaFixtures.map { case (id, kind, name) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      val bytes = try in.readAllBytes() finally in.close()
      graft.pipeline.Multimodal.MediaItem(id, kind, bytes,
        Map("src" -> name))
    }
    val feats = graft.pipeline.Multimodal
      .extractMediaFeatures(s.createDataset(items))
    val featCols = (1 to 8).map(i =>
      round(element_at(col("features"), i).cast("double"), 4).as(s"f$i"))
    feats.select(Seq(col("id").as("media_id"), col("kind"),
        col("nBytes").cast("long").as("n_bytes"),
        (element_at(col("features"), 1) =!= lit(-1f)).as("decode_ok")) ++
        featCols: _*)
      .orderBy("media_id")
  }

  /** Precomputed decode outputs of the committed fixtures. The numbers
    * are physics, not copies: wav_sine RMS = 0.5/√2 = 0.3535, ZCR =
    * 2·440/8000 = 0.11, mean|x| = 0.5·2/π = 0.3183; png_gradient 16×8
    * channel means (120, 112, 88); avi_clip 3 frames / 0.3 s / 10 fps;
    * row 15 is the Layer-I subband decode physics (peak 0.5, RMS
    * 0.5/√32, mean|s| 0.5/32, one dominant subband → share 1.0);
    * row 16 is the H.264 I_PCM pixel decode physics (constant lumas
    * 40/120/200 → mean 120, std √(12800/3) = 65.3197, 3 frames at
    * 10 fps → 0.3 s).
    * PNG and PCM decode are bit-stable; the two JPEG-derived luma
    * cells (f6/f7 of row 5) are stable for the pinned container JDK. */
  val multimodalDecodeStatsSql: String = """
    SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      CAST(n_bytes AS BIGINT) AS n_bytes, decode_ok,
      CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
      CAST(f3 AS DOUBLE) AS f3, CAST(f4 AS DOUBLE) AS f4,
      CAST(f5 AS DOUBLE) AS f5, CAST(f6 AS DOUBLE) AS f6,
      CAST(f7 AS DOUBLE) AS f7, CAST(f8 AS DOUBLE) AS f8
    FROM (VALUES
      (1, 'image', 328, true, 16.0, 8.0, 120.0, 112.0, 88.0, 111.656, 52.212, 2.0),
      (2, 'image', 93, true, 8.0, 8.0, 128.0, 128.0, 128.0, 128.0, 0.0, 1.0),
      (3, 'audio', 4044, true, 8000.0, 1.0, 0.25, 0.3535, 0.11, 0.5, 0.3183, 16.0),
      (4, 'audio', 4044, true, 16000.0, 2.0, 0.0625, 0.1768, 0.11, 0.25, 0.1591, 16.0),
      (5, 'video', 2162, true, 16.0, 8.0, 3.0, 0.3, 10.0, 97.0, 48.9898, 2.0),
      (6, 'image', 32, false, -1.0, 0.0313, 0.0625, 0.0938, 0.5625, 0.0625, 0.0625, 0.0313),
      (7, 'audio', 32, false, -1.0, 0.0313, 0.0625, 0.0938, 0.5625, 0.0938, 0.0625, 0.0313),
      (8, 'video', 32, false, -1.0, 0.0313, 0.0625, 0.0938, 0.5625, 0.0938, 0.0313, 0.0625),
      (9, 'audio', 3218, true, 8000.0, 1.0, 0.25, 0.3535, 0.11, 0.5, 0.3183, 16.0),
      (10, 'audio', 1084, true, 8000.0, 1.0, 0.25, 0.3535, 0.11, 0.52, 0.3179, 16.0),
      (11, 'audio', 1084, true, 16000.0, 2.0, 0.0625, 0.1762, 0.11, 0.2574, 0.1581, 16.0),
      (12, 'audio', 2058, true, 8000.0, 1.0, 0.25, 0.3551, 0.11, 0.5116, 0.3196, 8.0),
      (13, 'audio', 2058, true, 8000.0, 1.0, 0.25, 0.3528, 0.1095, 0.4922, 0.3177, 8.0),
      (14, 'audio', 4501, true, 8000.0, 1.0, 0.25, 0.3535, 0.11, 0.5, 0.3183, 16.0),
      (15, 'audio', 1008, true, 32000.0, 1.0, 0.252, 0.0884, 1.0, 0.5, 0.0156, 15.0),
      (16, 'video', 2367, true, 32.0, 16.0, 3.0, 0.3, 10.0, 120.0, 65.3197, 2.0))
      AS t(media_id, kind, n_bytes, decode_ok, f1, f2, f3, f4, f5, f6, f7, f8)
    ORDER BY media_id"""

  private val sceneCutFixtures = Seq(
    (1L, "avi_scenes.avi"), (2L, "avi_clip.avi"),
    (3L, "corrupt_video.bin"))

  /** Temporal video analysis over the REAL MJPEG decode path: per
    * clip, decode every frame (RIFF walk → JPEG stills → ImageIO),
    * take the mean-luma series, and call a scene CUT wherever the
    * frame-to-frame luma delta exceeds 24 — the shot-boundary
    * heuristic a video curation pipeline uses to pick per-scene
    * keyframes. Frame lumas are extracted at decode (driver-side over
    * the committed fixtures, exactly like the dHash/audio paths); the
    * TEMPORAL detection is the distributed part — one keyed window
    * per clip, then a keyed aggregate. The committed `avi_scenes.avi`
    * plants two cuts (dark→bright at frame 5, bright→mid at 9; ±3
    * in-scene jitter keeps within-scene deltas ≤ 1); `avi_clip`'s
    * gray staircase steps 60 luma per frame, so every transition is
    * honestly a cut; the corrupt payload decodes to None and emits
    * nothing. Oracle = that pinned fixture physics
    * ([[graft.FixtureGen]] reprints the luma series). */
  def multimodalSceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lumas = sceneCutFixtures.flatMap { case (id, name) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      val bytes = try in.readAllBytes() finally in.close()
      graft.pipeline.Multimodal.parseAvi(bytes).toSeq.flatMap { v =>
        v.frames.flatMap(graft.pipeline.Multimodal.decodeImage)
          .zipWithIndex.map { case (img, f) =>
            (id, f,
              graft.pipeline.Multimodal.imageFeatures(img)(5).toDouble)
          }
      }
    }
    val df = s.createDataset(lumas).toDF("media_id", "fidx", "luma")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("fidx")
    df.withColumn("delta", abs(col("luma") - lag(col("luma"), 1).over(w)))
      .withColumn("cut",
        when(col("delta") > 24.0, 1L).otherwise(0L))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("cut")).as("n_cuts"),
        min(when(col("cut") === 1L, col("fidx"))).as("first_cut"))
      .orderBy("media_id")
  }

  /** Pinned physics: avi_scenes 12 frames, cuts at 5 and 9;
    * avi_clip's 3-frame 60-luma staircase → both transitions cut;
    * corrupt payload absent. */
  val multimodalSceneCutsSql: String = """
    SELECT CAST(media_id AS BIGINT) AS media_id,
      CAST(n_frames AS BIGINT) AS n_frames,
      CAST(n_cuts AS BIGINT) AS n_cuts,
      CAST(first_cut AS INTEGER) AS first_cut
    FROM (VALUES (1, 12, 2, 5), (2, 3, 2, 1))
      t(media_id, n_frames, n_cuts, first_cut)
    ORDER BY media_id"""

  /** Committed COMPRESSED-media fixtures for
    * [[multimodalCompressedMeta]]: spec-exact MPEG-1 Layer III frame
    * chains (CBR; VBR behind an ID3v2 tag) and H.264 Annex-B streams
    * (baseline 320×240; high-profile 1920×1080 via the 1088→1080
    * bottom crop, with VUI 29.97 fps), an ISO-BMFF MP4 (avcC-embedded
    * SPS, two tracks, mvhd/stts timing) plus the per-kind corrupt
    * payloads. */
  private val compressedFixtures = Seq(
    (1L, "audio", "mp3_cbr.mp3"),
    (2L, "audio", "mp3_vbr.mp3"),
    (3L, "video", "h264_base.h264"),
    (4L, "video", "h264_high.h264"),
    (5L, "audio", "corrupt_audio.bin"),
    (6L, "video", "corrupt_video.bin"),
    (7L, "video", "mp4_clip.mp4"),
    // ADTS AAC-LC, variable frame lengths: 12 × 1024 samples at
    // 48 kHz = 256 ms; measured bitrate (6·200+6·300)·8/256 = 93.75
    (8L, "audio", "aac_lc.aac"))

  /** REAL compressed-media metadata, oracle-gated: run the distributed
    * header-parse path ([[graft.pipeline.Multimodal
    * .extractCompressedMeta]] — MP3 frame-chain walk, H.264 SPS
    * Exp-Golomb parse incl. emulation-prevention unescape, cropping
    * and VUI timing) over the committed fixtures. Feature layout:
    * audio [sampleRate, channels, frames, avgKbps, durationMs, vbr,
    * version×10, layer]; video [width, height, profile, level, fps,
    * nIdr, nNonIdr, 0]. This is the layer a mixed-media pipeline uses
    * to filter/bucket/cost-model items BEFORE any GPU decode stage —
    * full sample/pixel decode of these codecs stays out of scope
    * (documented stub boundary in [[graft.pipeline.Multimodal]]). */
  def multimodalCompressedMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = compressedFixtures.map { case (id, kind, name) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      val bytes = try in.readAllBytes() finally in.close()
      graft.pipeline.Multimodal.MediaItem(id, kind, bytes,
        Map("src" -> name))
    }
    val feats = graft.pipeline.Multimodal
      .extractCompressedMeta(s.createDataset(items))
    val featCols = (1 to 8).map(i =>
      round(element_at(col("features"), i).cast("double"), 4).as(s"f$i"))
    feats.select(Seq(col("id").as("media_id"), col("kind"),
        col("nBytes").cast("long").as("n_bytes"),
        (element_at(col("features"), 1) =!= lit(-1f)).as("parse_ok")) ++
        featCols: _*)
      .orderBy("media_id")
  }

  /** Precomputed header-parse outputs of the committed fixtures — all
    * spec arithmetic: mp3_cbr = 10 CBR frames of 144·128000/44100 =
    * 417 B → 10·1152/44100 s = 261 ms; mp3_vbr avg = (2·(64+224) +
    * 4·128)/8 = 128 kbps at 32 kHz mono; h264_high = 120×68
    * macroblocks minus a 4-unit (8-pixel, 4:2:0) bottom crop →
    * 1920×1080, VUI 59940/2000 = 29.97 fps; aac_lc = 12 ADTS AAC-LC
    * frames (alternating 200/300 B) → 12·1024/48000 = 256 ms at a
    * measured 3000·8/256 = 93.75 kbps, variable-rate. Corrupt payloads
    * carry the −1 sentinel + byte-stub features. */
  val multimodalCompressedMetaSql: String = """
    SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      CAST(n_bytes AS BIGINT) AS n_bytes, parse_ok,
      CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
      CAST(f3 AS DOUBLE) AS f3, CAST(f4 AS DOUBLE) AS f4,
      CAST(f5 AS DOUBLE) AS f5, CAST(f6 AS DOUBLE) AS f6,
      CAST(f7 AS DOUBLE) AS f7, CAST(f8 AS DOUBLE) AS f8
    FROM (VALUES
      (1, 'audio', 4170, true, 44100.0, 2.0, 10.0, 128.0, 261.0, 0.0, 10.0, 3.0),
      (2, 'audio', 4682, true, 32000.0, 1.0, 8.0, 128.0, 288.0, 1.0, 10.0, 3.0),
      (3, 'video', 44, true, 320.0, 240.0, 66.0, 31.0, 0.0, 1.0, 2.0, 0.0),
      (4, 'video', 113, true, 1920.0, 1080.0, 100.0, 31.0, 29.97, 2.0, 8.0, 0.0),
      (5, 'audio', 32, false, -1.0, 0.0313, 0.0625, 0.0938, 0.5625, 0.0938, 0.0625, 0.0313),
      (6, 'video', 32, false, -1.0, 0.0313, 0.0625, 0.0938, 0.5625, 0.0938, 0.0313, 0.0625),
      (7, 'video', 763, true, 1280.0, 720.0, 100.0, 31.0, 30.0, 2000.0, 2.0, 1.0),
      (8, 'audio', 3000, true, 48000.0, 2.0, 12.0, 93.75, 256.0, 1.0, 2.0, 0.0))
      AS t(media_id, kind, n_bytes, parse_ok, f1, f2, f3, f4, f5, f6, f7, f8)
    ORDER BY media_id"""

  // ------------------------------------------------------------- PII
  /** PII redaction ([[TextAnalysis.redactPii]]) with per-kind audit
    * counts. The corpus text is plain words, so both engines append
    * the same deterministic synthetic PII (email/IP/phone derived from
    * doc_id) before redacting — the operator chain, counts and
    * redacted output are then oracle-checked end to end. */
  def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com ip 10.0."),
      col("doc_id") % 256, lit("."), col("doc_id") % 100,
      lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        TextAnalysis.piiCount(col("t"), "email").as("n_emails"),
        TextAnalysis.piiCount(col("t"), "phone").as("n_phones"),
        TextAnalysis.piiCount(col("t"), "ip").as("n_ips"),
        TextAnalysis.redactPii(col("t")).as("redacted"))
      .orderBy("doc_id")
  }

  val textPiiRedactSql: String = {
    val Seq(email, phone, ip) = TextAnalysis.PiiPatterns.map(_._2)
    def cnt(re: String) =
      s"CAST(len(string_split_regex(t, '$re')) - 1 AS BIGINT)"
    s"""
    WITH aug AS (SELECT doc_id,
      text || ' contact user' || CAST(doc_id AS VARCHAR)
        || '@mail.example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        || '.' || CAST(doc_id % 100 AS VARCHAR)
        || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents)
    SELECT doc_id,
      ${cnt(email)} AS n_emails, ${cnt(phone)} AS n_phones,
      ${cnt(ip)} AS n_ips,
      regexp_replace(regexp_replace(regexp_replace(t,
        '$email', '<EMAIL>', 'g'),
        '$phone', '<PHONE>', 'g'),
        '$ip', '<IP>', 'g') AS redacted
    FROM aug ORDER BY doc_id"""
  }

  // -------------------------------------------------------- URL dedup
  /** URL-level dedup ([[graft.pipeline.Urls]]): the corpus text has no
    * URL column, so both engines attach the SAME deterministic
    * synthetic URL per doc — scheme/host case noise, an explicit :443
    * on every third doc, parameter-order noise plus a utm_ tracker on
    * even docs, a fragment on every fifth — then canonicalize and
    * group. 500 raw URLs collapse to 200 canonical pages (host from
    * doc_id mod 40, path from doc_id div 40 mod 5); the groupBy
    * exchange carries the short canonical string. Scale shape: one
    * codegen'd regexp/array projection + one partial-aggregated
    * shuffle, the same plan at any corpus size. */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("HTTPS://WWW.Site"),
      (col("doc_id") % 40).cast("string"), lit(".Example.COM"),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), expr("(doc_id div 40) % 5").cast("string"),
      when(col("doc_id") % 2 === 0, lit("?b=2&a=1&utm_source=feed"))
        .otherwise(lit("?a=1&b=2")),
      when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        graft.pipeline.Urls.canonicalUrl(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("url")).as("n_raw_variants"))
      .orderBy("canon_url")
  }

  /** The synthetic-URL CTE shared by the two URL oracles. */
  private val urlCte: String = """
    u AS (SELECT doc_id,
      'HTTPS://WWW.Site' || CAST(doc_id % 40 AS VARCHAR) || '.Example.COM'
        || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        || '/docs/' || CAST((doc_id // 40) % 5 AS VARCHAR)
        || CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed'
                ELSE '?a=1&b=2' END
        || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
      FROM documents),
    canon AS (SELECT doc_id, url,
      lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
        AS scheme,
      CASE
        WHEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
          = 'https' THEN regexp_replace(regexp_replace(lower(
            regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
            '^www\.', ''), ':443$', '')
        WHEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
          = 'http' THEN regexp_replace(regexp_replace(lower(
            regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
            '^www\.', ''), ':80$', '')
        ELSE regexp_replace(lower(
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
          '^www\.', '')
      END AS host,
      CASE WHEN regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = '' THEN '/'
        ELSE regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) END AS path,
      array_to_string(list_sort(list_filter(
        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        x -> NOT regexp_matches(x, '^utm_') AND x <> '')), '&') AS q
      FROM u),
    cu AS (SELECT doc_id, url, host,
      scheme || '://' || host || path ||
        CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
      FROM canon)"""

  val urlDedupSql: String = s"""
    WITH $urlCte
    SELECT canon_url, MIN(doc_id) AS rep_id,
      COUNT(*) AS n_copies,
      CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
    FROM cu GROUP BY canon_url ORDER BY canon_url"""

  /** Per-domain crawl accounting over the same synthetic URLs: docs,
    * distinct canonical pages, and the duplication ratio a crawl
    * scheduler uses to down-weight mirror-heavy hosts. */
  def urlDomainStats(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("HTTPS://WWW.Site"),
      (col("doc_id") % 40).cast("string"), lit(".Example.COM"),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), expr("(doc_id div 40) % 5").cast("string"),
      when(col("doc_id") % 2 === 0, lit("?b=2&a=1&utm_source=feed"))
        .otherwise(lit("?a=1&b=2")),
      when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(graft.pipeline.Urls.canonicalHost(col("url")).as("domain"),
        graft.pipeline.Urls.canonicalUrl(col("url")).as("canon_url"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_pages"))
      .withColumn("dup_ratio",
        round(col("n_docs") / col("n_pages"), 4))
      .orderBy("domain")
  }

  val urlDomainStatsSql: String = s"""
    WITH $urlCte
    SELECT host AS domain, COUNT(*) AS n_docs,
      CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_pages,
      ROUND(COUNT(*) / CAST(COUNT(DISTINCT canon_url) AS DOUBLE), 4)
        AS dup_ratio
    FROM cu GROUP BY host ORDER BY host"""

  // --------------------------------------------------- shard planning
  /** Export-shard manifest: assign every document to one of 16 output
    * shards by an affine id hash (NOT modulo-of-id — consecutive ids
    * land on different shards, the property a dataloader wants) and
    * report the per-shard manifest a webdataset-style export writes:
    * doc count, whitespace-token count, byte size, and token skew vs
    * the mean shard. One map-side-combinable aggregate; the real
    * export would partitionBy this shard id. Skew ≈ 1.0 across shards
    * is the test that the hash spreads the corpus evenly. */
  def shardManifest(s: SparkSession, d: String, nShards: Int = 16)
      : DataFrame = {
    val shard = ((col("doc_id") * 40503L + 1299721L) % 1048576L
      % nShards).cast("int")
    val toks = (size(split(col("text"), " "))).cast("long")
    val agg = Tables.documents(s, d)
      .select(shard.as("shard"), toks.as("n_toks"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_bytes")).as("total_bytes"))
    val mean = agg.agg(avg(col("n_tokens")).as("mean_tokens"))
    agg.crossJoin(broadcast(mean))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("total_bytes"),
        round(col("n_tokens") / col("mean_tokens"), 4).as("token_skew"))
      .orderBy("shard")
  }

  val shardManifestSql: String = """
    WITH per AS (SELECT
        CAST((doc_id * 40503 + 1299721) % 1048576 % 16 AS INT) AS shard,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents),
    agg AS (SELECT shard, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
        SUM(n_bytes) AS total_bytes
      FROM per GROUP BY shard),
    m AS (SELECT AVG(n_tokens) AS mean_tokens FROM agg)
    SELECT shard, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(total_bytes AS BIGINT) AS total_bytes,
      ROUND(n_tokens / mean_tokens, 4) AS token_skew
    FROM agg CROSS JOIN m ORDER BY shard"""

  // ---------------------------------------------------- snapshot diff
  /** Cross-snapshot delta (the crawl-delta pass that pairs with
    * [[dedupIncremental]]): which documents were added, removed, or
    * changed between two corpus snapshots. Snapshot A = doc_id%4 ≠ 0,
    * snapshot B = doc_id%4 ≠ 1 (50% overlap), with B's copy of every
    * doc_id%8 = 2 doc textually modified — both engines derive the two
    * snapshots from the same corpus, so the delta is fully
    * oracle-checked. Scale shape: ONE full outer hash join on doc_id
    * whose exchanges carry (id, source, 128-bit content hash) — the
    * Spark side compares two-seed xxhash64 pairs, never text (the
    * oracle compares raw text; equal verdicts absent a 2⁻¹²⁸
    * collision); 'unchanged' rows — the overwhelming majority in a
    * real delta — are filtered before the result materializes. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("source").as("src_a"),
        xxhash64(col("text")).as("ha1"),
        xxhash64(lit(1L), col("text")).as("ha2"))
    val bt = when(col("doc_id") % 8 === 2,
      concat(col("text"), lit(" updated"))).otherwise(col("text"))
    val b = docs.filter(col("doc_id") % 4 =!= 1)
      .select(col("doc_id"), col("source").as("src_b"),
        xxhash64(bt).as("hb1"), xxhash64(lit(1L), bt).as("hb2"))
    a.join(b, Seq("doc_id"), "full")
      .withColumn("status",
        when(col("hb1").isNull, lit("removed"))
          .when(col("ha1").isNull, lit("added"))
          .when(col("ha1") =!= col("hb1") || col("ha2") =!= col("hb2"),
            lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"),
        coalesce(col("src_a"), col("src_b")).as("source"), col("status"))
      .orderBy("doc_id")
  }

  val snapshotDiffSql: String = """
    WITH a AS (SELECT doc_id, text, source FROM documents
      WHERE doc_id % 4 <> 0),
    b AS (SELECT doc_id,
      CASE WHEN doc_id % 8 = 2 THEN text || ' updated' ELSE text END
        AS text, source
      FROM documents WHERE doc_id % 4 <> 1)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      COALESCE(a.source, b.source) AS source,
      CASE WHEN b.doc_id IS NULL THEN 'removed'
           WHEN a.doc_id IS NULL THEN 'added'
           ELSE 'changed' END AS status
    FROM a FULL JOIN b ON a.doc_id = b.doc_id
    WHERE b.doc_id IS NULL OR a.doc_id IS NULL OR a.text <> b.text
    ORDER BY doc_id"""

  // ------------------------------------------- distribution drift
  /** Token-distribution drift between two corpus snapshots (same A/B
    * derivation as snapshot_diff): add-1-smoothed unigram KL in both
    * directions — the monitoring statistic that tells a pipeline
    * whether a recrawl actually shifted the data or just grew it.
    * Numerics: with smoothing denominators D = N + V constant per
    * side, KL(B‖A) = (1/D_B)·Σ(c_b+1)(ln(c_b+1) − ln(c_a+1)) +
    * ln D_A − ln D_B, so every libm call is ln on an INTEGER count —
    * rounded to 9dp before the exact DECIMAL(38,12) sum (the
    * text_entropy convention), making both engines bit-exact. Scale
    * shape: two map-side-combinable token aggregations + ONE full
    * outer hash join keyed by token; the drift reduce is a
    * constant-size partial per partition and the four scalars
    * broadcast. */
  def klSnapshotDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def freq(df: DataFrame, cnt: String): DataFrame = df
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as(cnt))
    val fa = freq(docs.filter(col("doc_id") % 4 =!= 0), "ca")
    val btext = when(col("doc_id") % 8 === 2,
      concat(col("text"), lit(" updated"))).otherwise(col("text"))
    val fb = freq(docs.filter(col("doc_id") % 4 =!= 1)
      .select(btext.as("text")), "cb")
    val j = fa.join(fb, Seq("tok"), "full")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val lnA = round(log(col("ca") + 1), 9)
    val lnB = round(log(col("cb") + 1), 9)
    j.agg(
        count(lit(1)).as("n_vocab_joint"),
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("n_vocab_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("n_vocab_b"),
        sum(((col("cb") + 1) * (lnB - lnA)).cast("decimal(38,12)"))
          .as("sb"),
        sum(((col("ca") + 1) * (lnA - lnB)).cast("decimal(38,12)"))
          .as("sa"))
      .select(col("n_vocab_a"), col("n_vocab_b"), col("n_vocab_joint"),
        col("na").as("n_tokens_a"), col("nb").as("n_tokens_b"),
        round(col("sb").cast("double") / (col("nb") + col("n_vocab_joint"))
          + round(log(col("na") + col("n_vocab_joint")), 9)
          - round(log(col("nb") + col("n_vocab_joint")), 9), 6)
          .as("kl_new_from_old"),
        round(col("sa").cast("double") / (col("na") + col("n_vocab_joint"))
          + round(log(col("nb") + col("n_vocab_joint")), 9)
          - round(log(col("na") + col("n_vocab_joint")), 9), 6)
          .as("kl_old_from_new"))
  }

  val klSnapshotDriftSql: String = """
    WITH a AS (SELECT text FROM documents WHERE doc_id % 4 <> 0),
    b AS (SELECT CASE WHEN doc_id % 8 = 2 THEN text || ' updated'
        ELSE text END AS text
      FROM documents WHERE doc_id % 4 <> 1),
    fa AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS ca
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM a)
      GROUP BY tok),
    fb AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cb
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM b)
      GROUP BY tok),
    j AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      FROM fa FULL JOIN fb USING (tok)),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_joint,
        CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_vocab_a,
        CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_vocab_b,
        SUM(CAST((cb + 1) * (ROUND(ln(cb + 1), 9) - ROUND(ln(ca + 1), 9))
          AS DECIMAL(38,12))) AS sb,
        SUM(CAST((ca + 1) * (ROUND(ln(ca + 1), 9) - ROUND(ln(cb + 1), 9))
          AS DECIMAL(38,12))) AS sa
      FROM j)
    SELECT n_vocab_a, n_vocab_b, n_vocab_joint,
      na AS n_tokens_a, nb AS n_tokens_b,
      ROUND(CAST(sb AS DOUBLE) / (nb + n_vocab_joint)
        + ROUND(ln(na + n_vocab_joint), 9)
        - ROUND(ln(nb + n_vocab_joint), 9), 6) AS kl_new_from_old,
      ROUND(CAST(sa AS DOUBLE) / (na + n_vocab_joint)
        + ROUND(ln(nb + n_vocab_joint), 9)
        - ROUND(ln(na + n_vocab_joint), 9), 6) AS kl_old_from_new
    FROM g"""

  // ------------------------------------------------ paragraph dedup
  /** Paragraph-level dedup (the RefinedWeb/CCNet pass: drop repeated
    * paragraphs corpus-wide, keep the first occurrence): fixed 20-word
    * paragraphs, global first-occurrence by (doc_id, para_idx), per-doc
    * retention stats. The heavy op is one hash shuffle on the
    * paragraph key — partial-aggregated, no driver state. The shuffle
    * carries a 128-bit paragraph hash (two-seed xxhash64), NOT the raw
    * 20-word string: the explode + window exchange moves 16 bytes per
    * paragraph instead of ~100+, an order of magnitude of shuffle IO
    * at corpus scale, and 128 bits is collision-free for any real
    * corpus (birthday bound ~2^64 paragraphs). */
  def dedupParagraph(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nPar = ceil(size(words) / lit(20.0)).cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => array_join(slice(words, i * 20 + 1, lit(20)), " "))
    val exploded = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h1", "h2").orderBy("doc_id", "para_idx")
    exploded
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_frac", round(col("n_kept") / col("n_paras"), 6))
      .orderBy("doc_id")
  }

  val dedupParagraphSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS words
      FROM documents),
    paras AS (SELECT doc_id, CAST(i AS INT) AS para_idx,
        array_to_string(list_slice(words, i * 20 + 1, i * 20 + 20), ' ')
          AS para
      FROM base,
        UNNEST(range(CAST(ceil(len(words) / 20.0) AS BIGINT))) AS t(i)),
    ranked AS (SELECT doc_id,
        ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, para_idx)
          AS rn
      FROM paras)
    SELECT doc_id, COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      ROUND(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS kept_frac
    FROM ranked GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------ k-means
  /** Distributed embedding k-means (Lloyd's, k = 8, two iterations) —
    * the clustering pass curation pipelines run before per-cluster
    * dedup/sampling (SemDeDup clusters with k-means first;
    * cluster-balanced mixing needs the assignments). Spark shape is
    * MLlib's own: centroids are DRIVER state (k × dim doubles),
    * assignment is one codegen pass per row against the broadcast
    * matrix ([[graft.functions.SqDistToCentroids]] — the data never
    * shuffles to be assigned), and the update is a map-side-combinable
    * groupBy over (cluster, dimension) with exact-decimal means so the
    * refit centroids are order-independent and the DuckDB replay lands
    * on identical doubles. Deterministic init: the k lowest vec_ids
    * (seeding strategy is orthogonal to the distributed shape); empty
    * clusters keep their previous centroid. */
  /** Two-iteration Lloyd's assignment (the shared shape): returns
    * (vec_id, cluster, dist) unordered — callers add their own
    * ordering/rounding. */
  private def kmeansAssigned(s: SparkSession, d: String,
                             k: Int = 8): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents0: Seq[Seq[Double]] = emb.filter(col("vec_id") < k)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val dim = cents0.head.length
    def assigned(cents: Seq[Seq[Double]]): DataFrame =
      emb.withColumn("dists",
          graft.functions.VecF.sqDistToCentroids(col("embedding"), cents))
        // argmin with first-occurrence (= lowest cluster id) tie-break
        .withColumn("dist", expr("array_min(dists)"))
        .withColumn("cluster",
          (expr("array_position(dists, array_min(dists))") - 1).cast("int"))
    // iteration 1: assign against the init centroids, then refit —
    // exact DECIMAL(38,6) per-dimension means (order-independent)
    val refit = assigned(cents0)
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("cluster", "i")
      .agg(Q.davg(col("v").cast("double")).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val cents1: Seq[Seq[Double]] = (0 until k).map(c =>
      if (refit.contains((c, 0))) (0 until dim).map(i => refit((c, i)))
      else cents0(c))
    // iteration 2: final assignment against the refit centroids
    assigned(cents1)
  }

  def embKmeans(s: SparkSession, d: String): DataFrame =
    kmeansAssigned(s, d)
      .select(col("vec_id"), col("cluster"),
        round(col("dist"), 6).as("dist"))
      .orderBy("vec_id")

  val embKmeansSql: String = {
    // squared-L2 as the same sequential fold the codegen kernel runs
    def sqDist(e: String, c: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [(CAST($e[CAST(i AS INT)] AS DOUBLE) - $c[CAST(i AS INT)]) *
         |  (CAST($e[CAST(i AS INT)] AS DOUBLE) - $c[CAST(i AS INT)])
         |  FOR i IN range(1, len($e) + 1)]),
         | (x, y) -> x + y)""".stripMargin
    s"""
    WITH c0 AS (
      SELECT vec_id AS cid,
             [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
      FROM embeddings WHERE vec_id < 8),
    d1 AS (
      SELECT e.vec_id, c0.cid, ${sqDist("e.embedding", "c0.cvec")} AS dist
      FROM embeddings e CROSS JOIN c0),
    a1 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
      WHERE rn = 1),
    x1 AS (
      SELECT a1.cluster,
             unnest(range(1, len(e.embedding) + 1)) AS i,
             unnest([CAST(x AS DOUBLE) FOR x IN e.embedding]) AS v
      FROM embeddings e JOIN a1 USING (vec_id)),
    m1 AS (
      SELECT cluster, i, ${Sql.davg("v")} AS c
      FROM x1 GROUP BY cluster, i),
    c1 AS (
      SELECT cluster AS cid, list(c ORDER BY i) AS cvec
      FROM m1 GROUP BY cluster),
    cf AS (
      SELECT cid, cvec FROM c1
      UNION ALL
      SELECT cid, cvec FROM c0
      WHERE cid NOT IN (SELECT cid FROM c1)),
    d2 AS (
      SELECT e.vec_id, cf.cid, ${sqDist("e.embedding", "cf.cvec")} AS dist
      FROM embeddings e CROSS JOIN cf)
    SELECT vec_id, CAST(cluster AS INT) AS cluster,
           ROUND(dist, 6) AS dist
    FROM (
      SELECT vec_id, cid AS cluster, dist, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)
    WHERE rn = 1 ORDER BY vec_id"""
  }

  // ---------------------------------------- cluster-balanced sampling
  /** Cluster-balanced sampling (the DataComp/SemDeDup follow-up step):
    * target 25% of the corpus drawn EVENLY across the k = 8 k-means
    * clusters — per-cluster quota q = ceil(N/32), per-cluster keep
    * rate min(1, q/n_c), membership decided by a deterministic Knuth
    * hash threshold on vec_id. The rate table is DRIVER state exactly
    * like the centroids (k rows, collected once), so the final plan is
    * one scan + one 8-group aggregate with the rates inlined as a
    * literal map — no join, no second corpus pass in the plan, and no
    * per-cluster rank window (ranking would funnel the whole corpus
    * through k partitions; hash thresholding keeps the filter
    * scan-shaped at any size). All threshold arithmetic is integer
    * (ppm), so the oracle replays it exactly. */
  def sampleClusterBalanced(s: SparkSession, d: String): DataFrame = {
    val k = 8
    val a = kmeansAssigned(s, d, k).select(col("vec_id"), col("cluster"))
    val counts = a.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val q = (total + 4 * k - 1) / (4 * k) // ceil(0.25 * N / k)
    val ratePpm: Map[Int, Long] = (0 until k).map(c =>
      c -> counts.get(c).map(n => math.min(1000000L, q * 1000000L / n))
        .getOrElse(1000000L)).toMap
    val rateCol = element_at(
      map(ratePpm.toSeq.sortBy(_._1)
        .flatMap { case (c, r) => Seq(lit(c), lit(r)) }: _*),
      col("cluster"))
    val h = pmod(col("vec_id") * lit(2654435761L), lit(1000000L))
    a.groupBy("cluster")
      .agg(count(lit(1)).as("n_total"),
        sum(when(h < rateCol, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate_ppm", rateCol)
      .select("cluster", "n_total", "n_kept", "rate_ppm")
      .orderBy("cluster")
  }

  val sampleClusterBalancedSql: String = s"""
    WITH a AS ($embKmeansSql),
    n AS (SELECT cluster, COUNT(*) AS n_total FROM a GROUP BY cluster),
    t AS (SELECT CAST(SUM(n_total) AS BIGINT) AS nn FROM n),
    r AS (SELECT cluster, n_total,
        CAST(LEAST(1000000, ((nn + 31) // 32) * 1000000 // n_total)
          AS BIGINT) AS rate_ppm
      FROM n CROSS JOIN t)
    SELECT a.cluster, r.n_total,
      CAST(SUM(CASE WHEN (a.vec_id * 2654435761) % 1000000 < r.rate_ppm
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      r.rate_ppm
    FROM a JOIN r USING (cluster)
    GROUP BY a.cluster, r.n_total, r.rate_ppm
    ORDER BY a.cluster"""

  // ------------------------------------------- incremental (snapshot) dedup
  /** Incremental dedup at PARAGRAPH granularity: a NEW crawl snapshot
    * (a deterministic 25% hash split of doc_ids) against the EXISTING
    * kept corpus — the every-snapshot CCNet shape, where re-shuffling
    * the full corpus per batch is the thing you must never do. Shape:
    * (1) one scan of the old corpus — its ONLY scan; the sketch is
    * sized from file statistics, not a counting action — builds a
    * driver-side Bloom filter over 64-bit paragraph hashes with a
    * BOUNDED bit budget ([[graft.pipeline.Dedup.boundedBloom]]: fpp
    * degrades gracefully past the budget instead of the sketch growing
    * with the corpus; the exact verify in (3) absorbs any fpp, so
    * correctness never depends on the sizing); (2) the new batch probes it
    * with the codegen [[graft.functions.BloomMightContain]] at scan
    * speed, leaving only CANDIDATES (true dups + fpp-bounded false
    * positives — ~1% of the batch, broadcastable; past the broadcast
    * budget the same plan degrades to a hash-only shuffle join, the
    * Dedup.scala:90 guard pattern); (3) candidates broadcast back
    * against the old corpus for EXACT verification on the 128-bit
    * two-seed hash, so false positives drop out and the result equals
    * text-equality dedup (the dedup_paragraph contract — text itself
    * never shuffles); (4) one scan of the new batch joins the
    * confirmed-dup hash set (broadcast) and aggregates per source.
    * Neither side ever shuffles its text, and the old corpus is never
    * hash-partitioned at all. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nPar = ceil(size(words) / lit(20.0)).cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => array_join(slice(words, i * 20 + 1, lit(20)), " "))
    val exploded = Tables.documents(s, d)
      .withColumn("isnew",
        pmod(col("doc_id") * lit(2654435761L), lit(100L)) >= 75)
      .select(col("source"), col("isnew"), explode(paras).as("para"))
      .select(col("source"), col("isnew"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
    val old = exploded.filter(!col("isnew")).select("h1", "h2")
    // Old-paragraph count estimate from metadata only (no Spark job):
    // compressed file bytes / 40 as the crude guess, FLOORED by the
    // parquet footers' row count (~¾ of rows are old, each ≥ 1
    // paragraph) — a duplicate-heavy corpus compresses far below
    // 40 bytes per 20-word paragraph, and undercounting would inflate
    // the sketch's hash count and fpp. The estimate tunes k only; the
    // exact verify below absorbs any fpp either way.
    val docPath = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val docBytes = docPath.getFileSystem(s.sessionState.newHadoopConf())
      .getContentSummary(docPath).getLength
    val rowFloor = graft.sources.ParquetStats
      .rowCount(s, s"$d/documents.parquet").getOrElse(0L) * 3 / 4
    val estOldParas = math.max(math.max(docBytes / 40L, rowFloor), 1024L)
    // Snapshot sidecar (round-9 "Missing #4"): the first batch over a
    // corpus snapshot builds bloom + exact hash index and persists
    // them; every later batch (and the streaming twin) loads both and
    // launches NO job over the old corpus — ScaleSpec asserts it.
    val (bloom, oldIndex) = graft.pipeline.DedupIndex.loadOrBuild(
      s, s"$d/documents.parquet", "incr-para-v1", old, "h1", estOldParas)
    val neu = exploded.filter(col("isnew"))
    val cands = neu
      .filter(graft.functions.HashF.bloomMightContain(col("h1"), bloom))
      .select("h1", "h2").distinct()
    val dup = oldIndex.join(broadcast(cands), Seq("h1", "h2"), "left_semi")
    neu.join(broadcast(dup.withColumn("dup", lit(1L))),
        Seq("h1", "h2"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_paras"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup"))
      .withColumn("n_fresh", col("n_paras") - col("n_dup"))
      .select("source", "n_paras", "n_dup", "n_fresh")
      .orderBy("source")
  }

  val dedupIncrementalSql: String = """
    WITH base AS (SELECT source,
        (doc_id * 2654435761) % 100 >= 75 AS isnew,
        string_split(text, ' ') AS words FROM documents),
    paras AS (SELECT source, isnew,
        array_to_string(list_slice(words, i * 20 + 1, i * 20 + 20), ' ')
          AS para
      FROM base,
        UNNEST(range(CAST(ceil(len(words) / 20.0) AS BIGINT))) AS t(i)),
    oldp AS (SELECT DISTINCT para FROM paras WHERE NOT isnew)
    SELECT source, COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN para IN (SELECT para FROM oldp)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      CAST(COUNT(*) - SUM(CASE WHEN para IN (SELECT para FROM oldp)
        THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh
    FROM paras WHERE isnew GROUP BY source ORDER BY source"""

  /** Incremental NEAR-dup — the missing quadrant of the dedup matrix
    * next to [[dedupIncremental]]'s exact-hash form: a NEW crawl
    * snapshot's near-duplicates of the EXISTING kept corpus (the
    * CCNet/RefinedWeb every-snapshot need), without ever rescanning or
    * re-shuffling the old corpus. The persisted
    * [[graft.pipeline.DedupIndex]] sidecar stores, per old doc, its 4
    * MinHash band rows (the candidate-join side) and its distinct
    * shingle hashes (the exact-verify side) — ~16 B/shingle, text
    * never stored. Per batch: (1) shingle + sign the NEW docs only;
    * (2) band-equality join new band rows against the index — the
    * classic LSH bucket join, never all-pairs, and the only thing the
    * old corpus contributes is sidecar parquet reads; (3) candidates
    * verify by EXACT Jaccard against the index's shingle rows, so the
    * result equals text-level near-dup (threshold [[J]]) with zero old
    * text touched. ScaleSpec pins the second batch to zero old-corpus
    * jobs and hash-only exchanges. */
  def dedupIncrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("isnew",
        pmod(col("doc_id") * lit(2654435761L), lit(100L)) >= 75)
    val oldDocs = docs.filter(!col("isnew")).select("doc_id", "text")
    val (oldBands, oldSh) = graft.pipeline.DedupIndex.loadOrBuildNearDup(
      s, s"$d/documents.parquet", "incr-minhash-v1", oldDocs,
      "doc_id", "text")
    val newSh = Dedup.shingles(docs.filter(col("isnew")),
      "doc_id", "text").persist()
    val cand = Dedup.minhashBands(newSh)
      .toDF("new_id", "band", "key")
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
    val out = common
      .join(nNew, Seq("new_id")).join(nOld, Seq("old_id"))
      .withColumn("jaccard", round(col("common") /
        (col("n_new") + col("n_old") - col("common")), 6))
      .filter(col("jaccard") >= J)
      .select(col("new_id"), col("old_id"),
        col("common").cast("long").as("common"), col("jaccard"))
      .orderBy("new_id", "old_id")
    graft.pipeline.Caching.materializeAndRelease(out, newSh)
  }

  val dedupIncrementalMinhashSql: String = {
    val sigCols = (0 until 16)
      .map(k => s"${TextHash.minhashSql("sh", k)} AS m$k").mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}")
        .reduce((acc, m) => s"($acc * 131 + $m)")
      s"SELECT doc_id, isnew, sh, $b AS band, $key AS key FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH base AS (SELECT doc_id, text,
        (doc_id * 2654435761) % 100 >= 75 AS isnew FROM documents),
    th AS (SELECT doc_id, isnew,
      ${TextHash.tokenHashesSql("text")} AS th FROM base),
    shl AS (SELECT doc_id, isnew,
      list_distinct(${TextHash.shingleHashesSql("th")}) AS sh FROM th),
    sig AS (SELECT doc_id, isnew, sh, $sigCols FROM shl),
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id,
        n.sh AS shn, o.sh AS sho
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.key = o.key AND n.isnew AND NOT o.isnew)
    SELECT new_id, old_id,
      CAST(len(list_intersect(shn, sho)) AS BIGINT) AS common,
      ROUND(len(list_intersect(shn, sho)) /
        (len(shn) + len(sho) - len(list_intersect(shn, sho))), 6)
        AS jaccard
    FROM cand
    WHERE ROUND(len(list_intersect(shn, sho)) /
        (len(shn) + len(sho) - len(list_intersect(shn, sho))), 6) >= $J
    ORDER BY new_id, old_id"""
  }

  // ------------------------------------------------- BPE merge training
  /** Distributed BPE training (Sennrich et al. 2016): learn the top-6
    * merge rules FROM the corpus. ONE corpus scan builds the
    * word-frequency vocabulary (the classic trick — training runs on
    * the ~|V|-row vocab table, never the corpus again); each iteration
    * is then a map-side-combinable pair-frequency aggregate over the
    * vocab plus a driver argmax (merge rules are DRIVER state, like
    * the k-means centroids), exactly the shape a 100 TB tokenizer
    * training job has. Merge application is a fixed 4-pass
    * spaced-string replace fold, identical pass-for-pass to the DuckDB
    * oracle's replay, so learned rules and counts are bit-exact
    * cross-engine (ties break on the pair string; the 12-char word cap
    * bounds same-pair runs so 4 halving passes always suffice). */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = bpeLearnMerges(s, d).toDF("step", "pair", "merged", "cnt")
      .orderBy("step")
    graft.pipeline.Caching.materializeAndRelease(out)
  }

  /** Learned-merge memo for the APPLICATION queries (r17-opt).
    * tokenize_learned and tokenizer_fertility consume the rules the
    * way knn_classify consumes the session IVF assignment (the
    * r16-approved pattern): the rules are a deterministic pure
    * function of the corpus snapshot, so they are memoized per
    * (dir, documents snapshot token) and the application queries
    * measure tokenization economics, not training. Training cost
    * stays on bpe_train's own row — it calls [[bpeLearnMerges]]
    * live, never this memo. A republished corpus changes the
    * snapshot token and retrains. */
  private val bpeMergesMemo =
    new graft.Lru[String, Seq[(Int, String, String, Long)]](64)

  private def bpeMergesFor(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long)] = {
    val key = d + "|" + graft.sources.ParquetStats
      .snapshotToken(s, s"$d/documents.parquet")
    bpeMergesMemo.getOrLoad(key)(bpeLearnMerges(s, d))
  }

  /** The 6-step training loop shared by bpe_train and
    * tokenize_learned: the learned rules come back as DRIVER state
    * (the vocab cache is released before returning). */
  private def bpeLearnMerges(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long)] = {
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")).between(1, 12))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .withColumn("w", concat_ws(" ", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
      .persist()
    var cur: DataFrame = vocab
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to 6) {
      // CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead
      // of yielding empty, so single-token words need an explicit
      // empty-array branch
      val top = cur.select(col("f"), explode(expr(
          "CASE WHEN size(split(w, ' ')) < 2 THEN array() " +
          "ELSE transform(sequence(1, size(split(w, ' ')) - 1), i -> " +
          "concat(element_at(split(w, ' '), i), ' ', " +
          "element_at(split(w, ' '), i + 1))) END")).as("pr"))
        .groupBy("pr").agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("pr").asc).limit(1).collect()(0)
      val pr = top.getString(0)
      merges += ((step, pr, pr.replace(" ", ""), top.getLong(1)))
      val pat = lit(" " + pr + " ")
      val rep = lit(" " + pr.replace(" ", "") + " ")
      var e: org.apache.spark.sql.Column =
        concat(lit(" "), col("w"), lit(" "))
      (1 to 4).foreach(_ => e = call_function("replace", e, pat, rep))
      cur = cur.withColumn("w", trim(e))
    }
    vocab.unpersist()
    merges.result()
  }

  // -------------------------------------- learned-tokenizer application
  /** Close the train→apply loop: tokenize the WHOLE corpus with the
    * merge rules [[bpeTrain]] just learned from it (not the embedded
    * table), and report per-source token economics — the accounting a
    * mixture planner actually consumes. The learned rules are driver
    * state feeding the codegen [[graft.functions.BpeTokenCountTable]]
    * kernel, so application is ONE scan + a per-source
    * map-side-combinable aggregate: training cost is amortized over an
    * arbitrarily large corpus, and nothing but (source, counts) rows
    * ever shuffle. The oracle replays training AND application as the
    * same ordered replace folds, so the per-source totals are
    * bit-exact. */
  /** SentencePiece-style unigram-LM tokenizer training
    * ([[graft.pipeline.UnigramLm]]): substring seeding + 2 EM rounds
    * (E-step = the [[graft.functions.UnigramSegment]] codegen Viterbi
    * kernel over the distinct-word table, M-step = a usage aggregate +
    * driver re-cost). Emits the final vocabulary with usages and
    * integer micro-nat costs. The oracle REPLAYS the whole training —
    * seeding, both EM rounds, char flooring — in SQL: the Viterbi DP
    * is unrolled over the ≤MaxWordLen positions as materialized CTE
    * steps (each step carries dp(j)..dp(j−3) plus their winning
    * segmentations; ties prefer the smallest split point = the longest
    * last piece, matching the engine's ascending strict-< scan), and
    * all costs are integer micro-nats so the DP compares longs
    * bit-for-bit. UnigramLmSpec still carries the kernel-level load
    * (tie-breaking, round-trip, flooring). */
  def unigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.pipeline.UnigramLm.train(s, d)
      .toDF("piece", "usage", "cost_unats")
      .orderBy("piece")
  }

  val unigramTrainSql: String = {
    import graft.pipeline.UnigramLm.{MaxPieceLen, MaxWordLen, VocabSize}
    // one Viterbi DP step: advance every word's dp window from
    // position j-1 to j under the round's cost table
    def viterbiCtes(pfx: String, costCte: String): Seq[String] = {
      val init = s"""${pfx}_0 AS MATERIALIZED (SELECT word, f,
      len(word) AS n,
      CAST(0 AS BIGINT) AS d1, '' AS g1,
      CAST(NULL AS BIGINT) AS d2, CAST(NULL AS VARCHAR) AS g2,
      CAST(NULL AS BIGINT) AS d3, CAST(NULL AS VARCHAR) AS g3,
      CAST(NULL AS BIGINT) AS d4, CAST(NULL AS VARCHAR) AS g4,
      CAST(NULL AS VARCHAR) AS seg
    FROM words)"""
      init +: (1 to MaxWordLen).map { j =>
        def gnew(k: Int) =
          s"g$k || ' ' || substring(word, ${j - k + 1}, $k)"
        // ties prefer the smallest split i == the LARGEST piece k
        val pickG =
          s"""CASE WHEN c4 IS NOT NULL AND c4 = bc THEN ${gnew(4)}
           WHEN c3 IS NOT NULL AND c3 = bc THEN ${gnew(3)}
           WHEN c2 IS NOT NULL AND c2 = bc THEN ${gnew(2)}
           ELSE ${gnew(1)} END"""
        val joins = (1 to MaxPieceLen).map { k =>
          s"""LEFT JOIN $costCte k$k ON n >= $j AND
          k$k.piece = substring(word, ${j - k + 1}, $k)"""
        }.mkString(" ")
        s"""${pfx}_$j AS MATERIALIZED (
    SELECT word, f, n,
      CASE WHEN n >= $j THEN bc ELSE d1 END AS d1,
      CASE WHEN n >= $j THEN $pickG ELSE g1 END AS g1,
      CASE WHEN n >= $j THEN d1 ELSE d2 END AS d2,
      CASE WHEN n >= $j THEN g1 ELSE g2 END AS g2,
      CASE WHEN n >= $j THEN d2 ELSE d3 END AS d3,
      CASE WHEN n >= $j THEN g2 ELSE g3 END AS g3,
      CASE WHEN n >= $j THEN d3 ELSE d4 END AS d4,
      CASE WHEN n >= $j THEN g3 ELSE g4 END AS g4,
      CASE WHEN n = $j THEN $pickG ELSE seg END AS seg
    FROM (SELECT *, LEAST(c1, c2, c3, c4) AS bc FROM (
      SELECT ${pfx}_${j - 1}.*, d1 + k1.cost AS c1, d2 + k2.cost AS c2,
        d3 + k3.cost AS c3, d4 + k4.cost AS c4
      FROM ${pfx}_${j - 1} $joins)))"""
      }
    }
    // integer micro-nat costs: round(1e6·ln(Σu/u)) — UnigramLm.costsOf
    def costCte(name: String, vcte: String) =
      s"""$name AS MATERIALIZED (SELECT piece,
      CAST(ROUND(1e6 * ln(
      CAST((SELECT SUM(u) FROM $vcte) AS DOUBLE) / u), 0) AS BIGINT)
      AS cost FROM $vcte)"""
    def usageCte(name: String, tpfx: String) =
      s"""$name AS MATERIALIZED (SELECT piece,
      CAST(SUM(f) AS BIGINT) AS u
    FROM (SELECT f, unnest(string_split(trim(seg), ' ')) AS piece
          FROM ${tpfx}_$MaxWordLen) GROUP BY piece)"""
    // M-step vocab update: chars floored to 1, unused multis pruned
    def vocabNext(name: String, vprev: String, ucte: String) =
      s"""$name AS MATERIALIZED (SELECT $vprev.piece,
      CASE WHEN len($vprev.piece) = 1
           THEN GREATEST(COALESCE($ucte.u, 0), 1) ELSE $ucte.u END AS u
    FROM $vprev LEFT JOIN $ucte USING (piece)
    WHERE len($vprev.piece) = 1 OR $ucte.u IS NOT NULL)"""
    val ctes = Seq(
      s"""words AS MATERIALIZED (SELECT word,
      CAST(COUNT(*) AS BIGINT) AS f FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE len(word) BETWEEN 1 AND $MaxWordLen GROUP BY word)""",
      s"""seeds AS MATERIALIZED (SELECT substring(word, i, l) AS sub,
      CAST(SUM(f) AS BIGINT) AS c
    FROM words, UNNEST(range(1, len(word) + 1)) AS a(i),
      UNNEST(range(1, ${MaxPieceLen + 1})) AS b(l)
    WHERE i + l <= len(word) + 1 GROUP BY 1)""",
      """chars AS MATERIALIZED (SELECT sub, c FROM seeds
    WHERE len(sub) = 1)""",
      s"""multi AS MATERIALIZED (SELECT sub, c FROM (
      SELECT sub, c, ROW_NUMBER() OVER (ORDER BY c DESC, sub) AS rn
      FROM seeds WHERE len(sub) > 1)
    WHERE rn <= $VocabSize - (SELECT COUNT(*) FROM chars))""",
      """v0 AS MATERIALIZED (SELECT sub AS piece, c AS u FROM chars
    UNION ALL SELECT sub, c FROM multi)""",
      costCte("c0", "v0")) ++
      viterbiCtes("ta", "c0") ++
      Seq(usageCte("u1", "ta"), vocabNext("v1", "v0", "u1"),
        costCte("c1", "v1")) ++
      viterbiCtes("tb", "c1") ++
      Seq(usageCte("u2", "tb"), vocabNext("v2", "v1", "u2"),
        costCte("c2", "v2"))
    s"""WITH ${ctes.mkString(",\n")}
    SELECT v2.piece, v2.u AS usage, c2.cost AS cost_unats
    FROM v2 JOIN c2 USING (piece) ORDER BY piece"""
  }

  def tokenizeLearned(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergesFor(s, d).map(m => (m._2.split(' ')(0),
      m._2.split(' ')(1)))
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"),
        graft.functions.HashF.bpeTokenCountTable(col("text"), merges)
          .as("n_tok"),
        size(expr(s"regexp_extract_all(text, " +
          s"'${graft.pipeline.Bpe.PreTokenRegex}', 0)"))
          .cast("long").as("n_pre"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_pre")).as("n_pre_tokens"),
        sum(col("n_chars")).as("nc"))
      .withColumn("chars_per_token",
        round(col("nc").cast("double") / col("n_tokens"), 6))
      .select("source", "n_docs", "n_tokens", "n_pre_tokens",
        "chars_per_token")
      .orderBy("source")
  }

  /** the training CTE chain (words/w0 … p6/m6/w6), shared by the
    * bpe_train and tokenize_learned oracles */
  private val bpeTrainCtes: String = {
    def rep4(x: String, m: String): String =
      (1 to 4).foldLeft(x)((acc, _) =>
        s"replace($acc, ' ' || $m.pr || ' ', " +
          s"' ' || replace($m.pr, ' ', '') || ' ')")
    val sb = new StringBuilder
    sb ++= """words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE len(word) BETWEEN 1 AND 12 GROUP BY word),
    w0 AS (SELECT word, f,
        array_to_string([substring(word, i, 1)
          FOR i IN range(1, len(word) + 1)], ' ') AS w FROM words)"""
    for (k <- 1 to 6) {
      val prev = s"w${k - 1}"
      sb ++= s""",
    p$k AS (SELECT pr, CAST(SUM(f) AS BIGINT) AS c
      FROM $prev, UNNEST([string_split(w, ' ')[i] || ' ' ||
          string_split(w, ' ')[i + 1]
        FOR i IN range(1, len(string_split(w, ' ')))]) AS t(pr)
      GROUP BY pr),
    m$k AS (SELECT pr, c FROM p$k ORDER BY c DESC, pr LIMIT 1),
    w$k AS (SELECT word, f,
        trim(${rep4("' ' || w || ' '", s"m$k")}) AS w
      FROM $prev CROSS JOIN m$k)"""
    }
    sb.toString
  }

  val bpeTrainSql: String = s"""
    WITH $bpeTrainCtes
    SELECT step, pr AS pair, replace(pr, ' ', '') AS merged, c AS cnt
    FROM (${(1 to 6).map(k => s"SELECT $k AS step, pr, c FROM m$k")
      .mkString(" UNION ALL ")})
    ORDER BY step"""

  val tokenizeLearnedSql: String = {
    val learned = (1 to 6).map(k => s"(SELECT pr FROM m$k)")
      .mkString("[", ", ", "]")
    s"""
    WITH $bpeTrainCtes,
    pre AS (SELECT doc_id, source, n_chars,
        regexp_extract_all(text, '${graft.pipeline.Bpe.PreTokenRegex}')
          AS wlist
      FROM documents),
    sym AS (SELECT doc_id, source, n_chars,
        CAST(len(wlist) AS BIGINT) AS n_pre,
        ' ' || array_to_string([array_to_string(
          regexp_extract_all(x, '(?s).'), ' ') FOR x IN wlist], ' ¶ ')
          || ' ' AS s0
      FROM pre),
    folded AS (SELECT doc_id, source, n_chars, n_pre,
        list_reduce(list_prepend(s0,
          flatten([[m, m, m, m] FOR m IN $learned])),
          (acc, m) -> replace(acc, ' ' || m || ' ',
            ' ' || replace(m, ' ', '') || ' ')) AS s1
      FROM sym),
    cnt AS (SELECT doc_id, source, n_chars, n_pre,
        CASE WHEN n_pre = 0 THEN 0 ELSE
          CAST(len(list_filter(string_split(trim(s1), ' '),
            x -> x != '¶')) AS BIGINT) END AS n_tok
      FROM folded)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(n_pre) AS BIGINT) AS n_pre_tokens,
      ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tok), 6)
        AS chars_per_token
    FROM cnt GROUP BY source ORDER BY source"""
  }

  // --------------------------------------------- tokenizer fertility
  /** Per-LANGUAGE tokenizer fertility — learned-BPE tokens per
    * whitespace word. The number a multilingual pipeline watches when
    * choosing/validating a tokenizer: a language whose fertility is
    * 2× another's pays 2× the sequence length (and compute) for the
    * same text, so fertility drives vocabulary allocation and
    * per-language token budgets. Same distributed shape as
    * tokenize_learned (driver-state merges → codegen count kernel →
    * one scan + map-side-combinable per-lang aggregate); the oracle
    * replays training + application as the identical ordered replace
    * folds, per-lang instead of per-source. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergesFor(s, d).map(m => (m._2.split(' ')(0),
      m._2.split(' ')(1)))
    Tables.documents(s, d)
      .select(col("lang"),
        graft.functions.HashF.bpeTokenCountTable(col("text"), merges)
          .as("n_tok"),
        size(split(col("text"), " ")).cast("long").as("n_w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_w")).as("n_words"))
      .withColumn("fertility",
        expr("ROUND(CAST(n_tokens AS DOUBLE) / n_words, 6)"))
      .select("lang", "n_docs", "n_tokens", "n_words", "fertility")
      .orderBy("lang")
  }

  val tokenizerFertilitySql: String = {
    val learned = (1 to 6).map(k => s"(SELECT pr FROM m$k)")
      .mkString("[", ", ", "]")
    s"""
    WITH $bpeTrainCtes,
    pre AS (SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_w,
        regexp_extract_all(text, '${graft.pipeline.Bpe.PreTokenRegex}')
          AS wlist
      FROM documents),
    sym AS (SELECT doc_id, lang, n_w,
        CAST(len(wlist) AS BIGINT) AS n_pre,
        ' ' || array_to_string([array_to_string(
          regexp_extract_all(x, '(?s).'), ' ') FOR x IN wlist], ' ¶ ')
          || ' ' AS s0
      FROM pre),
    folded AS (SELECT doc_id, lang, n_w, n_pre,
        list_reduce(list_prepend(s0,
          flatten([[m, m, m, m] FOR m IN $learned])),
          (acc, m) -> replace(acc, ' ' || m || ' ',
            ' ' || replace(m, ' ', '') || ' ')) AS s1
      FROM sym),
    cnt AS (SELECT doc_id, lang, n_w,
        CASE WHEN n_pre = 0 THEN 0 ELSE
          CAST(len(list_filter(string_split(trim(s1), ' '),
            x -> x != '¶')) AS BIGINT) END AS n_tok
      FROM folded),
    agg AS (SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(n_w) AS BIGINT) AS n_words
      FROM cnt GROUP BY lang)
    SELECT lang, n_docs, n_tokens, n_words,
      ROUND(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility
    FROM agg ORDER BY lang"""
  }

  // ------------------------------------ quality-classifier training step
  /** Distributed training of the quality classifier (the CCNet /
    * fastText-filter step, done ON the cluster): two full-batch
    * gradient-descent steps of a logistic model over cheap text
    * features (bias, length, stopword ratio), target domain `src1`,
    * then one inference pass scoring every source. Spark shape is the
    * ML-training shape: the gradient is ONE map-side-combinable
    * aggregate per step (per-feature DECIMAL(38,6) sums of 6dp-rounded
    * per-row gradients — order-independent, so the replayed weights
    * are bit-identical), the weight vector is DRIVER state exactly
    * like the k-means centroids, and inference is a pure scan with the
    * weights inlined as literals. The link is the HARD sigmoid
    * clamp(0.5 + z/4, 0, 1): piecewise-rational, so no transcendental
    * whose libm rounding could diverge cross-engine — step 1 from
    * w = 0 reduces to p = 0.5 exactly. Positive examples carry the
    * inverse-prevalence class weight 19 (src1 is 1 source in 20), the
    * standard imbalance correction — without it the minority gradient
    * drowns and the trained model degenerately predicts 'not target'
    * for every document. */
  def qualityLogreg(s: SparkSession, d: String): DataFrame =
    logregScoredRows(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Q.davg(col("p")).as("mean_score"),
        sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pred_target"))
      .orderBy("source")

  /** Per-document (source, y, p) after the two shared training steps —
    * the scored corpus both [[qualityLogreg]] and [[calibrationEce]]
    * summarize. */
  private def logregScoredRows(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopHits =
      size(filter(toks, t => t.isInCollection(TextAnalysis.Stopwords)))
    val feats = Tables.documents(s, d).select(
      col("source"),
      lit(1.0).as("x0"),
      least(lit(1.0), nTok.cast("double") / 100.0).as("x1"),
      (stopHits.cast("double") / nTok).as("x2"),
      when(col("source") === "src1", 1.0).otherwise(0.0).as("y"))
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pCol(w: Seq[Double]): org.apache.spark.sql.Column =
      least(lit(1.0), greatest(lit(0.0), lit(0.5) +
        (lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2")) / 4.0))
    val cw = when(col("y") === 1.0, 19.0).otherwise(1.0)
    def step(w: Seq[Double]): Seq[Double] = {
      val p = pCol(w)
      val g = feats.agg(
        Q.davg(round((p - col("y")) * cw * col("x0"), 6)).as("g0"),
        Q.davg(round((p - col("y")) * cw * col("x1"), 6)).as("g1"),
        Q.davg(round((p - col("y")) * cw * col("x2"), 6)).as("g2"))
        .collect()(0)
      (0 until 3).map(j => r6(w(j) - g.getDouble(j)))
    }
    val w2 = step(step(Seq(0.0, 0.0, 0.0)))
    feats.select(col("source"), col("y"), round(pCol(w2), 6).as("p"))
  }

  /** Reliability analysis of the trained quality classifier —
    * calibration-error accounting (the eval step a filtering pipeline
    * runs before trusting model scores as keep-probabilities). The
    * scored corpus is bucketed into 10 confidence bins; per bin the
    * mean confidence is compared to the empirical positive rate, and
    * ECE = Σ n_b/N · |acc_b − conf_b| rides along as an exact-decimal
    * scalar. Shape: one scan + one 10-row aggregate + two broadcast
    * scalars — nothing new shuffles at any corpus size. Bin edges are
    * `floor(p·10)` on the SAME IEEE double in both engines, so
    * boundary values land identically by construction. */
  def calibrationEce(s: SparkSession, d: String): DataFrame = {
    val rows = logregScoredRows(s, d)
    val binned = rows.withColumn("bin",
      least(floor(col("p") * 10), lit(9)).cast("long"))
    // the scored-corpus scan happens ONCE: the 10-row bin table is
    // persisted and both scalars (decimal gap total, N) derive from it
    val ba = binned.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        Q.davg(col("p")).as("conf"),
        Q.davg(col("y")).as("acc"))
      .persist()
    val tot = ba.agg(
      Q.dsum(abs(col("acc") - col("conf")) * col("n_docs"), 6).as("tot"))
    val n = ba.agg(sum(col("n_docs")).as("nn"))
    val res = ba.crossJoin(broadcast(tot)).crossJoin(broadcast(n))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
      .withColumn("ece", round(col("tot") / col("nn"), 6))
      .select("bin", "n_docs", "conf", "acc", "gap", "ece")
      .orderBy("bin")
    graft.pipeline.Caching.materializeAndRelease(res, ba)
  }

  val qualityLogregSql: String = s"""
    WITH $logregCtes
    SELECT source, COUNT(*) AS n_docs, ${Sql.davg("p")} AS mean_score,
      CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_pred_target
    FROM pfy GROUP BY source ORDER BY source"""

  val calibrationEceSql: String = s"""
    WITH $logregCtes,
    b AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin, y, p
      FROM pfy),
    ba AS (SELECT bin, COUNT(*) AS n_docs, ${Sql.davg("p")} AS conf,
        ${Sql.davg("y")} AS acc
      FROM b GROUP BY bin),
    e AS (SELECT ${Sql.dsum("ABS(acc - conf) * n_docs", 6)} AS tot FROM ba),
    nn AS (SELECT COUNT(*) AS nn FROM pfy)
    SELECT bin, n_docs, conf, acc,
      ROUND(ABS(acc - conf), 6) AS gap,
      ROUND(tot / nn, 6) AS ece
    FROM ba CROSS JOIN e CROSS JOIN nn ORDER BY bin"""

  // ----------------------------------------------------- ROC / AUC eval
  /** ROC curve + tie-corrected AUC for the trained quality classifier —
    * the discrimination half of the eval whose calibration half is
    * [[calibrationEce]] (a filtering pipeline needs BOTH: a model can
    * rank perfectly yet be miscalibrated, and vice versa). Shape: the
    * scored corpus reduces ONCE to a per-distinct-score table — p is
    * rounded to 6dp in [0, 1], so that aggregate is bounded by the
    * VALUE DOMAIN (≤1e6+1 rows) at any corpus size and stays map-side
    * combinable, exactly the quality_gate_p75 argument. AUC is then
    * the tie-corrected Mann-Whitney statistic computed from the score
    * table in INTEGER arithmetic (ties count half, so the doubled sum
    * U2 = Σ_s np(s)·(2·neg_below(s) + nn(s)) stays integral and the
    * one division at the end is the only float op), and the 10-point
    * ROC curve is a cumulative sum over the 10-row bin rollup. Both
    * cumsums are global windows over bounded aggregates — the
    * sanctioned class, never corpus rows. */
  def rocAuc(s: SparkSession, d: String): DataFrame = {
    val st = logregScoredRows(s, d)
      .groupBy("p")
      .agg(sum(col("y")).cast("long").as("np"),
        sum(lit(1.0) - col("y")).cast("long").as("nn"))
      .persist()
    val below = org.apache.spark.sql.expressions.Window.orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val u = st
      .withColumn("negbelow",
        coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(sum(col("np") * (lit(2L) * col("negbelow") + col("nn")))
        .as("u2"))
    val tot = st.agg(sum(col("np")).as("pos"), sum(col("nn")).as("neg"))
    val fromTop = org.apache.spark.sql.expressions.Window
      .orderBy(desc("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val curve = st
      .groupBy(least(floor(col("p") * 10), lit(9)).cast("long").as("bin"))
      .agg(sum(col("np")).as("bp"), sum(col("nn")).as("bn"))
      .withColumn("pos_ge", sum(col("bp")).over(fromTop))
      .withColumn("neg_ge", sum(col("bn")).over(fromTop))
    val res = curve.crossJoin(broadcast(u)).crossJoin(broadcast(tot))
      .select(col("bin"),
        round(col("pos_ge").cast("double") / col("pos"), 6).as("tpr"),
        round(col("neg_ge").cast("double") / col("neg"), 6).as("fpr"),
        round(col("u2").cast("double") /
          (lit(2.0) * col("pos") * col("neg")), 6).as("auc"))
      .orderBy("bin")
    graft.pipeline.Caching.materializeAndRelease(res, st)
  }

  val rocAucSql: String = s"""
    WITH $logregCtes,
    st AS (SELECT p, CAST(SUM(y) AS BIGINT) AS np,
        CAST(SUM(1.0 - y) AS BIGINT) AS nn
      FROM pfy GROUP BY p),
    cum AS (SELECT p, np, nn,
        COALESCE(SUM(nn) OVER (ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS negbelow
      FROM st),
    u AS (SELECT CAST(SUM(np * (2 * negbelow + nn)) AS BIGINT) AS u2
      FROM cum),
    tot AS (SELECT CAST(SUM(np) AS BIGINT) AS pos,
        CAST(SUM(nn) AS BIGINT) AS neg FROM st),
    bins AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
        SUM(np) AS bp, SUM(nn) AS bn
      FROM st GROUP BY 1),
    curve AS (SELECT bin,
        SUM(bp) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos_ge,
        SUM(bn) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS neg_ge
      FROM bins)
    SELECT bin, ROUND(CAST(pos_ge AS DOUBLE) / pos, 6) AS tpr,
      ROUND(CAST(neg_ge AS DOUBLE) / neg, 6) AS fpr,
      ROUND(CAST(u2 AS DOUBLE) / (2.0 * pos * neg), 6) AS auc
    FROM curve CROSS JOIN u CROSS JOIN tot ORDER BY bin"""

  /** The shared logistic-training CTE chain (two exact-decimal
    * gradient steps from w = 0), ending in `pfy(source, y, p)` — the
    * SQL twin of [[logregScoredRows]]. */
  private lazy val logregCtes: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    def p(w0: String, w1: String, w2: String): String =
      s"LEAST(1.0, GREATEST(0.0, 0.5 + ($w0 * x0 + $w1 * x1 + $w2 * x2) / 4.0))"
    s"""f AS (SELECT source,
        CAST(1.0 AS DOUBLE) AS x0,
        LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
          AS x1,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stop)))
          AS DOUBLE) / len(string_split(text, ' ')) AS x2,
        CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END AS y
      FROM documents),
    fw AS (SELECT f.*, CASE WHEN y = 1.0 THEN 19.0 ELSE 1.0 END AS cw
      FROM f),
    ga AS (SELECT ${Sql.davg("ROUND((0.5 - y) * cw * x0, 6)")} AS g0,
        ${Sql.davg("ROUND((0.5 - y) * cw * x1, 6)")} AS g1,
        ${Sql.davg("ROUND((0.5 - y) * cw * x2, 6)")} AS g2 FROM fw),
    wa AS (SELECT ROUND(0.0 - g0, 6) AS a0, ROUND(0.0 - g1, 6) AS a1,
        ROUND(0.0 - g2, 6) AS a2 FROM ga),
    f2 AS (SELECT fw.*, ${p("wa.a0", "wa.a1", "wa.a2")} AS p
      FROM fw CROSS JOIN wa),
    gb AS (SELECT ${Sql.davg("ROUND((p - y) * cw * x0, 6)")} AS g0,
        ${Sql.davg("ROUND((p - y) * cw * x1, 6)")} AS g1,
        ${Sql.davg("ROUND((p - y) * cw * x2, 6)")} AS g2 FROM f2),
    wb AS (SELECT ROUND(wa.a0 - gb.g0, 6) AS b0,
        ROUND(wa.a1 - gb.g1, 6) AS b1,
        ROUND(wa.a2 - gb.g2, 6) AS b2 FROM wa CROSS JOIN gb),
    pfy AS (SELECT f.source, f.y,
        ROUND(${p("wb.b0", "wb.b1", "wb.b2")}, 6) AS p
      FROM f CROSS JOIN wb)"""
  }

  // ------------------------------------------------ sequence packing
  /** Concat-and-chunk packing accounting (the pretraining shape: each
    * source's documents concatenate into one token stream cut into
    * fixed 2048-token contexts). One running-sum window per source is
    * the only shuffle; everything else is integer arithmetic, exact on
    * any engine. Reports how many contexts each source fills and how
    * many documents straddle a context boundary — the loss-masking /
    * attention-fragmentation concern packing introduces. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        sum(expr("CASE WHEN (cum - tok) div 2048 <> (cum - 1) div 2048 " +
          "THEN 1 ELSE 0 END")).as("n_spanning"))
      .withColumn("n_bins", expr("(n_tokens + 2047) div 2048"))
      .select("source", "n_docs", "n_tokens", "n_bins", "n_spanning")
      .orderBy("source")
  }

  val packSequencesSql: String = """
    WITH t AS (SELECT source, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
    c AS (SELECT source, doc_id, tok,
        SUM(tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
      CAST((SUM(tok) + 2047) // 2048 AS BIGINT) AS n_bins,
      CAST(SUM(CASE WHEN (cum - tok) // 2048 <> (cum - 1) // 2048
        THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
    FROM c GROUP BY source ORDER BY source"""

  // ------------------------------------------- percentile quality gate
  /** Corpus-wide p75 quality gate. The score domain is rounded to 1e-6
    * and bounded in [0, 1], so Spark's exact `percentile` — which
    * aggregates a value→count map, not raw rows — stays map-side-
    * combinable with ≤1e6+1 map entries at ANY corpus size; the
    * threshold then broadcasts as a scalar and the gate is a pure
    * filter. DuckDB's `quantile_cont` shares the linear-interpolation
    * definition on identical rounded doubles, so the threshold is
    * bit-identical cross-engine. */
  def qualityGateP75(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopHits =
      size(filter(toks, t => t.isInCollection(TextAnalysis.Stopwords)))
    val score = round(least(lit(1.0), nTok.cast("double") / 100.0) *
      (lit(1.0) - stopHits.cast("double") / nTok), 6)
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), score.as("q"))
    val thr = scored.agg(round(expr("percentile(q, 0.75)"), 6).as("p75"))
    scored.crossJoin(broadcast(thr))
      .groupBy("lang", "p75")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("q") >= col("p75"), 1L).otherwise(0L)).as("n_kept"))
      .select("lang", "n_total", "n_kept", "p75")
      .orderBy("lang")
  }

  val qualityGateP75Sql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""
    WITH q AS (SELECT doc_id, lang,
        ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) *
          (1.0 - CAST(len(list_filter(string_split(text, ' '),
             x -> x IN ($stop))) AS DOUBLE) / len(string_split(text, ' '))), 6)
          AS q
      FROM documents),
    thr AS (SELECT ROUND(quantile_cont(q, 0.75), 6) AS p75 FROM q)
    SELECT lang, COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN q >= p75 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, p75
    FROM q CROSS JOIN thr GROUP BY lang, p75 ORDER BY lang"""
  }

  // --------------------------------------------- DSIR importance weights
  /** DSIR-style importance weights (Xie et al. 2023): hashed-unigram
    * bucket counts for a target domain (source `src1`) vs the raw
    * corpus, per-document weight = Σ n_b · log(p_target(b)/p_raw(b))
    * with add-one smoothing over B=256 buckets. ONE pass over the
    * corpus: the (doc, bucket) counts are the only corpus-sized
    * aggregation, and the per-bucket raw/target counts, the corpus
    * totals, and the log-ratio table all derive from that ≤256-row
    * side (then broadcast back), so the operator is scan-shaped at
    * 100 TB. Per-bucket log-ratios are rounded to 9dp and the per-doc
    * sum runs in DECIMAL(38,12), so addition order can't leak into the
    * rounded output. */
  def dsirImportance(s: SparkSession, d: String): DataFrame = {
    val B = 256
    // one codegen pass per document (HashKernels.dsirBuckets): per-word
    // polyHash mod B counted in-kernel — value-identical to exploding
    // every word occurrence through the interpreted aggregate lambda
    // and re-grouping (integer counts, order-independent). The old
    // form's word-level (doc, bucket) shuffle disappears; the per-doc
    // count table PERSISTS so its two consumers share one corpus scan
    // (the column-pruned subtrees differ, so ReuseExchange can't — the
    // shingle-table precedent), and the only corpus-scale exchange
    // left is the final per-doc aggregate's.
    val perDocBucket = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.HashF.dsirBuckets(col("text"), B)).as("x"))
      .select(col("doc_id"), col("source"),
        col("x.b").as("b"), col("x.n").as("n"))
      .persist()
    // corpus totals via a GLOBAL window over the ≤256-row bucket table
    // (not a separate aggregate branch — a second branch re-derives
    // perDocBucket with different pushed-down predicates and defeats
    // ReuseExchange, doubling the corpus scan)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val bucketStats = perDocBucket.groupBy("b")
      .agg(sum(col("n")).as("cr"),
        sum(when(col("source") === "src1", col("n")).otherwise(0L)).as("ct"))
      .withColumn("nr", sum(col("cr")).over(wAll))
      .withColumn("nt", sum(col("ct")).over(wAll))
    val num = (col("ct").cast("double") + lit(1.0)) /
      (col("nt") + lit(B.toLong)).cast("double")
    val den = (col("cr").cast("double") + lit(1.0)) /
      (col("nr") + lit(B.toLong)).cast("double")
    val lw = bucketStats.select(col("b"), round(log(num / den), 9).as("lw"))
    val out = perDocBucket.join(broadcast(lw), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"),
        round(sum((col("n") * col("lw")).cast("decimal(38,12)"))
          .cast("double"), 6).as("weight"))
      .orderBy("doc_id")
    graft.pipeline.Caching.materializeAndRelease(out, perDocBucket)
  }

  val dsirImportanceSql: String = s"""
    WITH w AS (
      SELECT doc_id, source, word FROM (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
        FROM documents)
      WHERE length(word) > 0),
    wb AS (SELECT doc_id, source,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          [CAST(ascii(substr(word, CAST(i AS INT), 1)) AS BIGINT)
           FOR i IN range(1, length(word) + 1)]),
          (acc, c) -> (acc * 31 + c) % ${TextHash.P}) % 256 AS b
      FROM w),
    pdb AS (SELECT doc_id, b, COUNT(*) AS n FROM wb GROUP BY doc_id, b),
    raw AS (SELECT b, COUNT(*) AS cr FROM wb GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS ct FROM wb WHERE source = 'src1'
      GROUP BY b),
    tot AS (SELECT COUNT(*) AS nr,
        CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
          AS nt FROM wb),
    lw AS (SELECT raw.b,
        ROUND(ln(((COALESCE(ct, 0) + 1.0) / CAST(nt + 256 AS DOUBLE)) /
                 ((cr + 1.0) / CAST(nr + 256 AS DOUBLE))), 9) AS lw
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot)
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
      ROUND(CAST(SUM(CAST(n * lw AS DECIMAL(38,12))) AS DOUBLE), 6) AS weight
    FROM pdb JOIN lw ON pdb.b = lw.b
    GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------ substring dedup
  /** Cross-document duplicated 8-token spans — the suffix-array
    * substring-dedup mechanic (Lee et al. 2022) at shingle granularity.
    * Every shuffle carries a 128-bit two-seed xxhash64 of the span,
    * never the text (collision odds ~2^-128; the DuckDB oracle groups
    * the literal span text, so a collision would surface as a hash
    * mismatch). Duplicated spans are rare, so AQE broadcasts the
    * dup-key side of the count-back join at scale. */
  def dedupSubstring(s: SparkSession, d: String): DataFrame = {
    // one codegen pass per doc: window hashes straight off the text
    // bytes (split/join identity — see HashKernels.spanHashes), two
    // independent seeds = a REAL 128-bit dup key
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.HashF.tokenCount(col("text")).as("n"),
        col("text"))
    val spans = base.filter(col("n") >= 8)
      .select(col("doc_id"),
        explode(graft.functions.HashF.spanHashes(col("text"), 8)).as("sp"))
      .select(col("doc_id"), col("sp.h1").as("h1"), col("sp.h2").as("h2"))
    val dup = spans.groupBy("h1", "h2")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("h1", "h2")
    val perDoc = spans.join(dup, Seq("h1", "h2"))
      .groupBy("doc_id").agg(count(lit(1)).as("ndw"))
    base.select(col("doc_id"),
        greatest(col("n") - 7, lit(0)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("ndw"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("ndw"), lit(0L)).cast("double") /
            col("n_windows"), 6)).otherwise(lit(0.0)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** The OTHER HALF of Lee et al. 2022: don't just measure duplicated
    * spans — CUT them and emit the cleaned corpus. Duplicated 8-token
    * windows (cross-document, same criterion as `dedup_substring`)
    * are merged into maximal per-doc intervals (lag-based island
    * detection — windows overlapping or ≤ L apart fuse), and every
    * covered token is removed from the rebuilt text. Output is the
    * cleaned corpus itself plus removal accounting, which is what a
    * pipeline actually writes back out.
    *
    * Plan: the span pass shuffles (doc_id, start, 128-bit hash) — no
    * text; island merge is one doc-keyed window over HIT rows only
    * (duplicated spans, a vanishing fraction); the rebuild joins the
    * per-doc interval lists (docs-with-dups rows, AQE-broadcastable)
    * back to the corpus scan, so full text never rides an exchange.
    */
  def dedupSubstringCut(s: SparkSession, d: String): DataFrame = {
    val L = 8
    // same one-pass byte-range span kernel as dedup_substring, keeping
    // the 1-based window index the island merge needs; `w` stays for
    // the rebuild side only (column pruning keeps the span scan on
    // (doc_id, text) and the rebuild scan on (doc_id, w))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
    val spans = base.filter(col("n") >= L)
      .select(col("doc_id"),
        explode(graft.functions.HashF.spanHashes(col("text"), L)).as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"),
        col("sp.h1").as("h1"), col("sp.h2").as("h2"))
      .persist() // consumed twice: dup-key aggregate + hit join
    val dup = spans.groupBy("h1", "h2")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select("h1", "h2")
    val hits = spans.join(dup, Seq("h1", "h2")).select("doc_id", "i")
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val iv = hits
      .withColumn("brk",
        when(lag(col("i"), 1).over(w1).isNull ||
          col("i") - lag(col("i"), 1).over(w1) > L, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(w1))
      .groupBy("doc_id", "island")
      .agg(min(col("i")).as("st"), (max(col("i")) + L).as("en"))
    val perDoc = iv.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en"))))
          .as("ivs"),
        sum(col("en") - col("st")).as("n_removed"))
      .persist()
    // guarded dispatch: the interval side is docs-WITH-duplicates —
    // usually a sliver, so broadcasting it keeps the corpus text off
    // every exchange (the registry plan audit pins this). The guard is
    // BYTE-shaped, not row-shaped: each row carries an unbounded
    // interval array, so a dup-heavy corpus can be few rows yet
    // gigabytes — estimate ~24 B per interval + ~48 B per row and cap
    // at 256 MB. Above the guard the plain join shuffles the text side
    // once, which is the irreducible cost of rewriting a corpus.
    val ivStats = perDoc
      .agg(count(lit(1)).as("rows"), sum(size(col("ivs"))).as("nivs"))
      .first()
    val ivBytes =
      if (ivStats.isNullAt(1)) 0L
      else ivStats.getLong(0) * 48L + ivStats.getLong(1) * 24L
    val ivSide = if (ivBytes <= (256L << 20)) broadcast(perDoc)
      else perDoc
    val out = base.join(ivSide, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("ivs").isNull, concat_ws(" ", col("w"))).otherwise(
          expr("concat_ws(' ', filter(transform(w, (t, p) -> " +
            "CASE WHEN exists(ivs, v -> p + 1 >= v.st AND p + 1 < v.en) " +
            "THEN NULL ELSE t END), x -> x IS NOT NULL))"))
          .as("clean_text"))
      .orderBy("doc_id")
    graft.pipeline.Caching.materializeAndRelease(out, spans, perDoc)
  }

  /** Exact longest-duplicated-span profile per document via SUFFIX
    * RANKS ([[graft.operators.SuffixRanks]]): under the dense guard
    * (2²² corpus positions — the bound at which the distributed
    * form's own LCP walk would broadcast every position anyway) a
    * driver-local Manber–Myers suffix sort; above it, prefix-
    * QUADRUPLING rank rounds, a range-partitioned global ordinal, and
    * an LCP rank-walk — the memorization/contamination fingerprint
    * span hashing cannot produce (a hash answers "is this fixed
    * window duplicated", never "how LONG is the longest duplicated
    * run here"). Capped at 64 tokens. The oracle sorts the literal
    * 64-token prefixes and compares neighbors token-wise;
    * `substring_repeat_profile_dist` keeps the at-scale form
    * oracle-checked every round. */
  def substringRepeatProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixRanks.maxRepeatProfile(
      Tables.documents(s, d), "doc_id", "text")

  /** The at-scale (distributed) form of the repeat profile, forced
    * past the dense dispatch guard — same oracle. */
  def substringRepeatProfileDist(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixRanks.maxRepeatProfileDistributed(
      Tables.documents(s, d), "doc_id", "text")

  val substringRepeatProfileSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
    suf AS (SELECT doc_id, p,
        w[CAST(p AS INT):CAST(LEAST(p + 63, n) AS INT)] AS pref
      FROM base, UNNEST(range(1, n + 1)) AS t(p)),
    srt AS (SELECT doc_id, p, pref,
        LAG(pref) OVER (ORDER BY pref, doc_id, p) AS prv,
        LEAD(pref) OVER (ORDER BY pref, doc_id, p) AS nxt
      FROM suf),
    l AS (SELECT doc_id, p,
        GREATEST(
          CASE WHEN prv IS NULL THEN 0 ELSE
            COALESCE(list_min([CASE WHEN pref[i] != prv[i] THEN i-1 END
              FOR i IN range(1, LEAST(len(pref), len(prv)) + 1)]),
              LEAST(len(pref), len(prv))) END,
          CASE WHEN nxt IS NULL THEN 0 ELSE
            COALESCE(list_min([CASE WHEN pref[i] != nxt[i] THEN i-1 END
              FOR i IN range(1, LEAST(len(pref), len(nxt)) + 1)]),
              LEAST(len(pref), len(nxt))) END) AS m
      FROM srt)
    SELECT b.doc_id, b.n AS n_tokens,
      CAST(COALESCE(MAX(l.m), 0) AS BIGINT) AS max_repeat,
      CAST(COALESCE(SUM(CASE WHEN l.m >= 16 THEN 1 ELSE 0 END), 0) AS BIGINT)
        AS n_pos_rep16
    FROM base b LEFT JOIN l ON b.doc_id = l.doc_id
    GROUP BY b.doc_id, b.n ORDER BY b.doc_id"""

  val dedupSubstringCutSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
    spans AS (SELECT doc_id, i,
        array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS span
      FROM base, UNNEST(range(1, n - 6)) AS t(i)
      WHERE n >= 8),
    dup AS (SELECT span FROM spans GROUP BY span
      HAVING COUNT(DISTINCT doc_id) > 1),
    hits AS (SELECT doc_id, i FROM spans JOIN dup USING (span)),
    brks AS (SELECT doc_id, i,
        CASE WHEN LAG(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
          OR i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
          THEN 1 ELSE 0 END AS brk
      FROM hits),
    isl AS (SELECT doc_id, i,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM brks),
    iv AS (SELECT doc_id, MIN(i) AS st, MAX(i) + 8 AS en
      FROM isl GROUP BY doc_id, island),
    rem AS (SELECT doc_id, SUM(en - st) AS n_removed FROM iv GROUP BY 1),
    toks AS (SELECT doc_id, p, w[CAST(p AS INT)] AS t
      FROM base, UNNEST(range(1, n + 1)) AS u(p)),
    kept AS (SELECT t.doc_id, t.p, t.t
      FROM toks t LEFT JOIN iv
        ON t.doc_id = iv.doc_id AND t.p >= iv.st AND t.p < iv.en
      WHERE iv.st IS NULL),
    clean AS (SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id, b.n AS n_tokens,
      CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
      COALESCE(c.clean_text, '') AS clean_text
    FROM base b
    LEFT JOIN rem r ON b.doc_id = r.doc_id
    LEFT JOIN clean c ON b.doc_id = c.doc_id
    ORDER BY b.doc_id"""

  val dedupSubstringSql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
    spans AS (SELECT doc_id,
        array_to_string(w[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS span
      FROM base, UNNEST(range(1, n - 6)) AS t(i)
      WHERE n >= 8),
    dup AS (SELECT span FROM spans GROUP BY span
      HAVING COUNT(DISTINCT doc_id) > 1),
    pd AS (SELECT doc_id, COUNT(*) AS ndw
      FROM spans JOIN dup USING (span) GROUP BY doc_id)
    SELECT b.doc_id, CAST(GREATEST(b.n - 7, 0) AS BIGINT) AS n_windows,
      CAST(COALESCE(pd.ndw, 0) AS BIGINT) AS n_dup_windows,
      CASE WHEN b.n - 7 > 0
        THEN ROUND(CAST(COALESCE(pd.ndw, 0) AS DOUBLE) / (b.n - 7), 6)
        ELSE 0.0 END AS dup_ratio
    FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
    ORDER BY b.doc_id"""

  // ------------------------------------------- epoch-order global shuffle
  /** Deterministic global training-order shuffle (the epoch-ordering
    * step before packing: a stable pseudo-random permutation of the
    * corpus, reproducible run-to-run and engine-to-engine). Order key =
    * Knuth multiplicative hash of doc_id; the global position is
    * computed WITHOUT a corpus-wide single-partition window: buckets
    * are hash RANGES (so sorting by (bucket, h) equals sorting by h),
    * each bucket ranks locally under one 256-way hash exchange, and
    * bucket start offsets come from a ≤256-row count table whose
    * cumulative sum is the only empty-partition window — metadata
    * scale, never corpus scale. A uniform hash keeps buckets uniform,
    * so the same plan holds at 100 TB with zero skew and no driver
    * collect. */
  def shuffleEpoch(s: SparkSession, d: String): DataFrame = {
    val h = pmod(col("doc_id") * lit(2654435761L), lit(1000000007L))
    // ceil(1000000007 / 256) = 3906251 → bucket ∈ [0, 255], a RANGE of h
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("bucket", expr("h div 3906251"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("h"), col("doc_id"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = docs.groupBy("bucket").agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        coalesce(sum(col("n")).over(wOff), lit(0L)).as("off"))
    docs.withColumn("rn", row_number().over(wB))
      .join(broadcast(offs), "bucket")
      .select((col("off") + col("rn") - 1).as("pos"), col("doc_id"),
        col("source"))
      .orderBy("pos")
  }

  val shuffleEpochSql: String = """
    SELECT ROW_NUMBER() OVER (
        ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) - 1 AS pos,
      doc_id, source
    FROM documents ORDER BY pos"""

  // --------------------------------------- learnability-based selection
  /** Dual-scorer data selection (the RHO-loss / DataComp shape: keep
    * examples that are hard for a reference model but not junk): a
    * document's learnability = z-score of its unigram-LM surprisal
    * minus z-score of its cheap quality heuristic; the top 20% per
    * source survive. Corpus mean/std of both scores are ONE exact
    * DECIMAL aggregate broadcast as a scalar row; per-source ranking is
    * one partitioned window. Rounded score domains make the z-scores
    * and ranks bit-identical cross-engine. */
  def selectLearnability(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val stopHits =
      size(filter(toks, t => t.isInCollection(TextAnalysis.Stopwords)))
    val q = round(least(lit(1.0), nTok.cast("double") / 100.0) *
      (lit(1.0) - stopHits.cast("double") / nTok), 6)
    val quality = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), q.as("q"))
    val srp = textUnigramLogprob(s, d)
      .select(col("doc_id"), col("avg_neg_logprob").as("srp"))
    val joined = quality.join(srp, "doc_id")
    val stats = joined.agg(
      Q.davg(col("q")).as("mq"), Q.davg(round(col("q") * col("q"), 6)).as("q2"),
      Q.davg(col("srp")).as("ms"),
      Q.davg(round(col("srp") * col("srp"), 6)).as("s2"))
      .select(col("mq"), col("ms"),
        round(sqrt(greatest(lit(0.0), col("q2") - col("mq") * col("mq"))), 6)
          .as("sq"),
        round(sqrt(greatest(lit(0.0), col("s2") - col("ms") * col("ms"))), 6)
          .as("ss"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("learn").desc, col("doc_id").asc)
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("source")
    joined.crossJoin(broadcast(stats))
      .withColumn("learn", round(
        (col("srp") - col("ms")) / col("ss") -
          (col("q") - col("mq")) / col("sq"), 6))
      .withColumn("rank", row_number().over(wR))
      .withColumn("n_src", count(lit(1)).over(wN))
      .filter(col("rank") <= expr("CAST(ceil(n_src / 5.0) AS BIGINT)"))
      .select(col("source"), col("rank"), col("doc_id"), col("learn"))
      .orderBy("source", "rank")
  }

  val selectLearnabilitySql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
    srp AS (SELECT doc_id,
        ROUND(-CAST(SUM(CAST(ln(CAST(c AS DOUBLE) / t) AS DECIMAL(38,12)))
          AS DOUBLE) / COUNT(*), 6) AS srp
      FROM toks JOIN freq USING (tok) CROSS JOIN tot GROUP BY doc_id),
    q AS (SELECT doc_id, source,
        ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
          * (1.0 - CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ($stop))) AS DOUBLE)
            / len(string_split(text, ' '))), 6) AS q
      FROM documents),
    j AS (SELECT q.doc_id, q.source, q.q, srp.srp
      FROM q JOIN srp USING (doc_id)),
    st AS (SELECT ${Sql.davg("q")} AS mq, ${Sql.davg("ROUND(q * q, 6)")} AS q2,
        ${Sql.davg("srp")} AS ms, ${Sql.davg("ROUND(srp * srp, 6)")} AS s2
      FROM j),
    st2 AS (SELECT mq, ms,
        ROUND(sqrt(GREATEST(0.0, q2 - mq * mq)), 6) AS sq,
        ROUND(sqrt(GREATEST(0.0, s2 - ms * ms)), 6) AS ss FROM st),
    z AS (SELECT j.source, j.doc_id,
        ROUND((j.srp - ms) / ss - (j.q - mq) / sq, 6) AS learn
      FROM j CROSS JOIN st2),
    r AS (SELECT source, doc_id, learn,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY learn DESC, doc_id) AS INT) AS rank,
        COUNT(*) OVER (PARTITION BY source) AS n_src FROM z)
    SELECT source, rank, doc_id, learn FROM r
    WHERE rank <= CAST(ceil(n_src / 5.0) AS BIGINT)
    ORDER BY source, rank"""
  }

  // ---------------------------------------- JL random projection (ANN)
  /** Johnson-Lindenstrauss random projection of the embedding column,
    * 64 → 16 dims (the dim-reduction step before large-scale ANN: a
    * 4× smaller index with bounded distance distortion, no training
    * pass at all). The ±1 sign matrix derives from integer hashing on
    * the DRIVER and rides the plan as a reference object inside the
    * codegen [[graft.functions.MatVecProduct]] kernel — the projection
    * is a pure scan (zero corpus shuffle; the output sort is the only
    * exchange), so it scales with read bandwidth. Output: first 4
    * projected components + the projected L2 norm, 6dp-rounded; the
    * oracle replays the same hash-sign fold per component. */
  def embRpProject(s: SparkSession, d: String): DataFrame = {
    val outDim = 16
    val mat: Array[Array[Double]] = Array.tabulate(outDim, 64)((k, j) =>
      if (((k.toLong * 997 + j) * 2654435761L) % 2 == 0) 1.0 else -1.0)
    val p = graft.functions.VecF.matVec(col("embedding"), mat)
    Tables.embeddings(s, d)
      .select(col("vec_id"), p.as("p"))
      .select(col("vec_id"),
        round(element_at(col("p"), 1) / 4.0, 6).as("p0"),
        round(element_at(col("p"), 2) / 4.0, 6).as("p1"),
        round(element_at(col("p"), 3) / 4.0, 6).as("p2"),
        round(element_at(col("p"), 4) / 4.0, 6).as("p3"),
        round(sqrt(aggregate(transform(col("p"), x => x * x / 16.0),
          lit(0.0), (a, b) => a + b)), 6).as("pnorm"))
      .orderBy("vec_id")
  }

  val embRpProjectSql: String = """
    WITH p AS (SELECT vec_id,
        [list_reduce([CASE WHEN ((k * 997 + j) * 2654435761) % 2 = 0
            THEN CAST(embedding[j + 1] AS DOUBLE)
            ELSE -CAST(embedding[j + 1] AS DOUBLE) END
          FOR j IN range(0, len(embedding))], (a, b) -> a + b)
        FOR k IN range(0, 16)] AS pr
      FROM embeddings)
    SELECT vec_id,
      ROUND(pr[1] / 4.0, 6) AS p0, ROUND(pr[2] / 4.0, 6) AS p1,
      ROUND(pr[3] / 4.0, 6) AS p2, ROUND(pr[4] / 4.0, 6) AS p3,
      ROUND(sqrt(list_reduce([x * x / 16.0 FOR x IN pr],
        (a, b) -> a + b)), 6) AS pnorm
    FROM p ORDER BY vec_id"""

  // ---------------------------------------------- PCA power iteration
  /** Top principal direction of the embedding corpus by two rounds of
    * covariance-free power iteration — v ← Σᵢ (eᵢ·v)·eᵢ — the
    * distributed-linear-algebra shape (one corpus scan per round, no
    * d×d Gram matrix materialized) that mean-centering diagnostics,
    * ABTT ("all-but-the-top") embedding post-processing, and spectral
    * initialization all reduce to. Each round: the codegen MatVec
    * kernel computes cᵢ = eᵢ·v map-side, and the per-dimension
    * accumulation Σᵢ cᵢ·eᵢ[d] goes through DECIMAL(38,12) sums (64
    * groups — map-side combinable, order-free, so both engines land
    * the identical vector bit-for-bit). The 64-double iterate is
    * DRIVER state between rounds (the emb_kmeans centroid pattern);
    * norms and the Rayleigh-style λ estimate fold sequentially in
    * dimension order (sqrt is IEEE-exact). The oracle replays both
    * rounds in SQL with the same ordered folds. */
  def embPcaPower(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val e = Tables.embeddings(s, d).select(col("embedding"))
    def step(v: Array[Double]): Array[Double] = {
      val c = element_at(
        graft.functions.VecF.matVec(col("embedding"), Array(v)), 1)
      val sums = e.select(c.as("c"),
          posexplode(col("embedding")).as(Seq("dimm", "x")))
        .groupBy("dimm")
        .agg(sum((col("c") * col("x").cast("double"))
          .cast("decimal(38,12)")).as("s"))
        .collect()
      val out = new Array[Double](dim)
      sums.foreach(r => out(r.getInt(0)) = r.getDecimal(1).doubleValue)
      out
    }
    val v0 = Array.fill(dim)(0.125) // 1/sqrt(64), exact in binary
    val v1 = step(v0)
    val v2 = step(v1)
    def norm(v: Array[Double]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    val (n1, n2) = (norm(v1), norm(v2))
    val rows = (0 until dim).map { i =>
      (i.toLong,
        BigDecimal(v2(i) / n2).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(n2 / n1).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    s.createDataFrame(rows).toDF("dim", "loading", "lambda_est")
      .orderBy("dim")
  }

  val embPcaPowerSql: String = {
    // dot(embedding, vl) with vl an ordered 64-list from a CTE —
    // same index-ordered fold as the MatVec kernel
    def dotList(vl: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [CAST(embedding[CAST(i AS INT)] AS DOUBLE) * $vl[CAST(i AS INT)]
         |  FOR i IN range(1, 65)]), (x, y) -> x + y)""".stripMargin
    def sumSq(vl: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [$vl[CAST(i AS INT)] * $vl[CAST(i AS INT)]
         |  FOR i IN range(1, 65)]), (x, y) -> x + y)""".stripMargin
    s"""
    WITH c0 AS (SELECT embedding,
        ${dotList("[0.125 FOR q IN range(64)]")} AS c FROM embeddings),
    v1 AS (SELECT dimm,
        CAST(SUM(CAST(c * CAST(embedding[CAST(dimm AS INT)] AS DOUBLE)
          AS DECIMAL(38,12))) AS DOUBLE) AS val
      FROM c0, UNNEST(range(1, 65)) AS t(dimm) GROUP BY dimm),
    v1l AS (SELECT list(val ORDER BY dimm) AS vl FROM v1),
    c1 AS (SELECT embedding, ${dotList("vl")} AS c
      FROM embeddings, v1l),
    v2 AS (SELECT dimm,
        CAST(SUM(CAST(c * CAST(embedding[CAST(dimm AS INT)] AS DOUBLE)
          AS DECIMAL(38,12))) AS DOUBLE) AS val
      FROM c1, UNNEST(range(1, 65)) AS t(dimm) GROUP BY dimm),
    v2l AS (SELECT list(val ORDER BY dimm) AS vl FROM v2),
    norms AS (SELECT sqrt(${sumSq("v1l.vl")}) AS n1,
        sqrt(${sumSq("v2l.vl")}) AS n2
      FROM v1l, v2l)
    SELECT dimm - 1 AS dim, ROUND(v2.val / n2, 6) AS loading,
      ROUND(n2 / n1, 4) AS lambda_est
    FROM v2, norms ORDER BY dim"""
  }

  // ------------------------------------------------ embedding outliers
  /** Embedding-space outlier audit: squared distance of every vector
    * to the corpus MEAN embedding, top 20 — the quick screen for
    * mis-embedded / out-of-distribution rows before clustering or ANN
    * indexing trusts the space. The mean is one per-dimension
    * DECIMAL(38,12) aggregate (64 groups, map-side combinable, exact →
    * both engines derive the identical mean vector), held as driver
    * state like the kmeans centroids; the distance pass is the codegen
    * [[graft.functions.SqDistToCentroids]] kernel against that single
    * constant centroid — one scan, no shuffle of vectors, and the
    * top-20 is a tiny ordered aggregate. */
  def embOutliers(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val e = Tables.embeddings(s, d)
    val sums = e.select(posexplode(col("embedding")).as(Seq("dimm", "x")))
      .groupBy("dimm")
      .agg(sum(col("x").cast("double").cast("decimal(38,12)")).as("sx"),
        count(lit(1)).as("n"))
      .collect()
    val mean = new Array[Double](dim)
    sums.foreach(r =>
      mean(r.getInt(0)) = r.getDecimal(1).doubleValue / r.getLong(2))
    val dist = element_at(
      graft.functions.VecF.sqDistToCentroids(col("embedding"),
        Seq(mean.toSeq)), 1)
    e.select(col("vec_id"), round(dist, 6).as("sq_dist"))
      .orderBy(desc("sq_dist"), col("vec_id"))
      .limit(20)
  }

  val embOutliersSql: String = """
    WITH sums AS (SELECT dimm,
        CAST(SUM(CAST(CAST(embedding[CAST(dimm AS INT)] AS DOUBLE)
          AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        COUNT(*) AS n
      FROM embeddings, UNNEST(range(1, 65)) AS t(dimm) GROUP BY dimm),
    m AS (SELECT list(sx / n ORDER BY dimm) AS ml FROM sums),
    dists AS (SELECT vec_id,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          [(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - ml[CAST(i AS INT)])
            * (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
               - ml[CAST(i AS INT)])
           FOR i IN range(1, 65)]), (x, y) -> x + y) AS sd
      FROM embeddings, m)
    SELECT vec_id, ROUND(sd, 6) AS sq_dist FROM dists
    ORDER BY sq_dist DESC, vec_id LIMIT 20"""

  // ------------------------------------------------ mixture epoch plan
  /** Token-budget epoch planning (the step AFTER choosing mixture
    * weights: turn weights into per-source repeat factors for a fixed
    * training budget, the Pile/DoReMi recipe). Reuses the exact
    * sqrt-share weight computation of source_mix_weights, then pure
    * scalar math per source: target tokens, epochs (>1 = upsample by
    * repetition, <1 = subsample), full passes, and the fractional last
    * pass. One corpus aggregate + two broadcast scalars — the plan a
    * 100 TB mixing job has. */
  def mixEpochPlan(s: SparkSession, d: String): DataFrame = {
    val budget = 1000000L
    val per = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("t"))
    val sh = per.crossJoin(broadcast(tot))
      .withColumn("wr",
        sqrt(col("n_tokens").cast("double") / col("t")).cast("decimal(38,12)"))
    val z = sh.agg(sum(col("wr")).as("z"))
    sh.crossJoin(broadcast(z))
      .withColumn("weight",
        round(col("wr").cast("double") / col("z").cast("double"), 6))
      .withColumn("target_tokens",
        round(lit(budget.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs", round(
        col("target_tokens").cast("double") / col("n_tokens"), 6))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("epochs"),
        expr("CAST(ceil(epochs) AS BIGINT)").as("n_passes"),
        round(col("epochs") - floor(col("epochs")), 6).as("last_pass_frac"))
      .orderBy("source")
  }

  val mixEpochPlanSql: String = """
    WITH per AS (SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per),
    sh AS (SELECT source, n_tokens,
        CAST(sqrt(CAST(n_tokens AS DOUBLE) / t) AS DECIMAL(38,12)) AS wr
      FROM per CROSS JOIN tot),
    z AS (SELECT SUM(wr) AS z FROM sh),
    w AS (SELECT source, n_tokens,
        ROUND(CAST(wr AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight
      FROM sh CROSS JOIN z),
    p AS (SELECT source, n_tokens, weight,
        CAST(ROUND(1000000.0 * weight) AS BIGINT) AS target_tokens FROM w),
    e AS (SELECT *, ROUND(CAST(target_tokens AS DOUBLE) / n_tokens, 6)
        AS epochs FROM p)
    SELECT source, n_tokens, weight, target_tokens, epochs,
      CAST(ceil(epochs) AS BIGINT) AS n_passes,
      ROUND(epochs - floor(epochs), 6) AS last_pass_frac
    FROM e ORDER BY source"""

  // ------------------------------- projected-space two-stage ANN
  /** Two-stage ANN through the JL projection (what emb_rp_project is
    * FOR): stage 1 shortlists 20 candidates per query by cosine in the
    * 16-dim projected space (4× less arithmetic and index footprint),
    * stage 2 exact-reranks only the shortlist at full 64 dims and
    * keeps the top 5. The shortlist window shuffles (query, neighbor,
    * score) triples ONLY — embeddings and projections never leave the
    * scan (ScaleSpec-asserted); the 600-row shortlist then broadcasts
    * back against the corpus for the rerank. Both stages replay
    * bit-identically in the oracle (in-order double folds, rounded
    * scores, id tie-breaks). */
  def simTopKRp(s: SparkSession, d: String): DataFrame = {
    val mat: Array[Array[Double]] = Array.tabulate(16, 64)((k, j) =>
      if (((k.toLong * 997 + j) * 2654435761L) % 2 == 0) 1.0 else -1.0)
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val emb = Tables.embeddings(s, d)
    val proj = emb.select(col("vec_id"),
      graft.functions.VecF.matVec(col("embedding"), mat).as("p"))
    val pq = proj.filter(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), col("p").as("pq"))
    val pairs = proj.select(col("vec_id").as("neighbor_id"), col("p").as("pc"))
      .crossJoin(broadcast(pq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotD(col("pq"), col("pc")) /
          (sqrt(dotD(col("pq"), col("pq"))) *
            sqrt(dotD(col("pc"), col("pc")))), 6).as("pcos"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("pcos").desc, col("neighbor_id"))
    val short = pairs.withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= 20).select("query_id", "neighbor_id")
    val qSide = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val exact = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ec"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qSide), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VecF.dotF(col("eq"), col("ec")) /
          (graft.functions.VecF.normF(col("eq")) *
            graft.functions.VecF.normF(col("ec"))), 6).as("cos"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos", "rank")
      .orderBy("query_id", "rank")
  }

  val simTopKRpSql: String = {
    def pdot(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [$a[CAST(i AS INT)] * $b[CAST(i AS INT)]
         |  FOR i IN range(1, 17)]),
         | (x, y) -> x + y)""".stripMargin
    s"""
    WITH pr AS (SELECT vec_id,
        [list_reduce([CASE WHEN ((k * 997 + j) * 2654435761) % 2 = 0
            THEN CAST(embedding[j + 1] AS DOUBLE)
            ELSE -CAST(embedding[j + 1] AS DOUBLE) END
          FOR j IN range(0, len(embedding))], (a, b) -> a + b)
        FOR k IN range(0, 16)] AS p
      FROM embeddings),
    pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${pdot("q.p", "c.p")} /
          (sqrt(${pdot("q.p", "q.p")}) * sqrt(${pdot("c.p", "c.p")})), 6)
          AS pcos
      FROM pr q, pr c WHERE q.vec_id < 30 AND c.vec_id != q.vec_id),
    short AS (SELECT query_id, neighbor_id FROM (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY pcos DESC, neighbor_id) AS prank FROM pairs)
      WHERE prank <= 20),
    exact AS (SELECT s.query_id, s.neighbor_id,
        ROUND(${dotSql("q.embedding", "c.embedding")} /
          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
            sqrt(${dotSql("c.embedding", "c.embedding")})), 6) AS cos
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM exact)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""
  }

  // ------------------------------------- product-quantization ANN
  /** Product-quantization ANN (Jégou et al. 2011, the IVF-PQ family's
    * compression half): train per-subspace codebooks (m = 8 subspaces
    * of 8 dims, 16 centroids each — one exact-decimal Lloyd refit, the
    * emb_kmeans convention), encode the corpus into 8 small codes with
    * the codegen [[graft.functions.PqEncode]] kernel (ONE scan — at
    * 100 TB this is the step that turns 256-byte vectors into 8-byte
    * codes an executor can hold billions of), then answer 30 queries
    * by asymmetric distance: per-query subspace-distance tables are
    * DRIVER state riding the plan via addReferenceObj, so scoring is m
    * table lookups per (row, query) inside whole-stage codegen
    * ([[graft.functions.AdcLookup]]) — no float math against the
    * corpus at all. ADC shortlists 50 (the 10×k refinement factor;
    * rounded, tie-broken), exact cosine re-ranks the top 5 — the
    * two-stage contract shared with
    * sim_topk_rp/sim_ann_ivf, so the final scores are EXACT while only
    * the shortlist is approximate. Every distance is a sequential
    * index-order double fold, so the DuckDB oracle replays training,
    * encoding, and ADC bit-identically. */
  def simTopKPq(s: SparkSession, d: String): DataFrame = {
    val m = 8; val sd = 8; val k = 16; val nq = 30
    val emb = Tables.embeddings(s, d)
    // codebook init: subvectors of the k lowest vec_ids (driver state)
    val base: Array[Array[Double]] = emb.filter(col("vec_id") < k)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cents0: Seq[Seq[Seq[Double]]] = (0 until m).map(j =>
      (0 until k).map(c => base(c).slice(j * sd, j * sd + sd).toSeq))
    // one Lloyd refit: per-subspace assignment against the init
    // codebooks, then exact-decimal per-dimension means (empty
    // clusters keep their init centroid)
    var asg = emb.select((col("vec_id") +: (0 until m).map(j =>
      expr(s"slice(embedding, ${j * sd + 1}, $sd)").as(s"sv$j"))): _*)
    for (j <- 0 until m)
      asg = asg.withColumn(s"dists$j",
        graft.functions.VecF.sqDistToCentroids(col(s"sv$j"), cents0(j)))
    val subRows = asg.select(explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          (array_position(col(s"dists$j"), array_min(col(s"dists$j"))) - 1)
            .cast("int").as("cid"),
          col(s"sv$j").as("sv"))): _*)).as("s"))
      .select(col("s.j"), col("s.cid"),
        posexplode(col("s.sv")).as(Seq("i", "v")))
    val refit = subRows.groupBy("j", "cid", "i")
      .agg(Q.davg(col("v").cast("double")).as("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    val cents1: Seq[Seq[Seq[Double]]] = (0 until m).map(j =>
      (0 until k).map(c =>
        if (refit.contains((j, c, 0))) (0 until sd).map(i => refit((j, c, i)))
        else cents0(j)(c)))
    // per-query ADC tables: same index-order fold as the encode kernel
    val qbase: Array[Array[Double]] = emb.filter(col("vec_id") < nq)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(qbase.length == nq, s"expected $nq query vectors")
    val dt: Seq[Seq[Seq[Double]]] = qbase.toSeq.map { qv =>
      (0 until m).map { j =>
        (0 until k).map { c =>
          var acc = 0.0
          var i = 0
          while (i < sd) {
            val dd = qv(j * sd + i) - cents1(j)(c)(i); acc += dd * dd; i += 1
          }
          acc
        }: Seq[Double]
      }
    }
    val codes = emb.select(col("vec_id"),
      graft.functions.VecF.pqEncode(col("embedding"), cents1).as("codes"))
    val scored = codes
      .select(col("vec_id").as("neighbor_id"), col("codes"),
        explode(sequence(lit(0), lit(nq - 1))).as("query_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id").cast("long").as("query_id"),
        col("neighbor_id"),
        round(graft.functions.VecF.adcLookup(col("codes"),
          col("query_id"), dt), 6).as("radc"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("radc").asc, col("neighbor_id"))
    val short = scored.withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= 50).select("query_id", "neighbor_id")
    val qSide = emb.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"))
    val exact = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ec"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qSide), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VecF.dotF(col("eq"), col("ec")) /
          (graft.functions.VecF.normF(col("eq")) *
            graft.functions.VecF.normF(col("ec"))), 6).as("cos"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos", "rank")
      .orderBy("query_id", "rank")
  }

  val simTopKPqSql: String = {
    def sqd(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         | [($a[CAST(i AS INT)] - $b[CAST(i AS INT)]) *
         |  ($a[CAST(i AS INT)] - $b[CAST(i AS INT)])
         |  FOR i IN range(1, 9)]),
         | (x, y) -> x + y)""".stripMargin
    s"""
    WITH sv AS (SELECT vec_id, j,
        [CAST(x AS DOUBLE) FOR x IN
          list_slice(embedding, j * 8 + 1, j * 8 + 8)] AS sv
      FROM embeddings, UNNEST(range(8)) AS t(j)),
    c0 AS (SELECT j, vec_id AS cid, sv AS cvec FROM sv WHERE vec_id < 16),
    d1 AS (SELECT sv.vec_id, sv.j, c0.cid, ${sqd("sv.sv", "c0.cvec")} AS dist
      FROM sv JOIN c0 ON sv.j = c0.j),
    a1 AS (SELECT vec_id, j, cid FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, j ORDER BY dist, cid) AS rn FROM d1)
      WHERE rn = 1),
    x1 AS (SELECT a1.j, a1.cid, i, sv.sv[CAST(i AS INT)] AS v
      FROM sv JOIN a1 USING (vec_id, j), UNNEST(range(1, 9)) AS u(i)),
    m1 AS (SELECT j, cid, i, ${Sql.davg("v")} AS c
      FROM x1 GROUP BY j, cid, i),
    c1 AS (SELECT j, cid, list(c ORDER BY i) AS cvec FROM m1 GROUP BY j, cid),
    cf AS (SELECT j, cid, cvec FROM c1
      UNION ALL
      SELECT c0.j, c0.cid, c0.cvec FROM c0 LEFT JOIN c1
        ON c0.j = c1.j AND c0.cid = c1.cid WHERE c1.cid IS NULL),
    d2 AS (SELECT sv.vec_id, sv.j, cf.cid, ${sqd("sv.sv", "cf.cvec")} AS dist
      FROM sv JOIN cf ON sv.j = cf.j),
    codes AS (SELECT vec_id, j, cid AS code FROM (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) AS rn
      FROM d2) WHERE rn = 1),
    dtq AS (SELECT sv.vec_id AS query_id, cf.j, cf.cid,
        ${sqd("sv.sv", "cf.cvec")} AS dq
      FROM sv JOIN cf ON sv.j = cf.j WHERE sv.vec_id < 30),
    adc AS (SELECT dtq.query_id, codes.vec_id AS neighbor_id,
        ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(dq ORDER BY dtq.j)), (x, y) -> x + y), 6) AS radc
      FROM codes JOIN dtq ON codes.j = dtq.j AND codes.code = dtq.cid
      WHERE codes.vec_id != dtq.query_id
      GROUP BY dtq.query_id, codes.vec_id),
    short AS (SELECT query_id, neighbor_id FROM (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY radc, neighbor_id) AS prank FROM adc)
      WHERE prank <= 50),
    exact AS (SELECT s.query_id, s.neighbor_id,
        ROUND(${dotSql("q.embedding", "c.embedding")} /
          (sqrt(${dotSql("q.embedding", "q.embedding")}) *
            sqrt(${dotSql("c.embedding", "c.embedding")})), 6) AS cos
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM exact)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""
  }

  // ------------------------------------------- cross-source overlap matrix
  /** Pairwise source-overlap (contamination) matrix: for every pair of
    * corpus sources, the number of DISTINCT 20-word paragraphs they
    * share — the audit that tells you two crawls or vendors shipped
    * the same content before you pay to dedup or double-weight it.
    * One shuffle, keyed by the 128-bit paragraph hash (text never
    * rides an exchange — the dedup_paragraph contract); each hash
    * group carries at most one row per source, so `collect_set` is
    * bounded by the source count (dozens in production, never corpus
    * scale), and pair expansion happens map-side AFTER the aggregate
    * on those tiny arrays. The result is ≤ |sources|² rows from one
    * corpus scan at any corpus size. */
  def overlapMatrix(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nPar = ceil(size(words) / lit(20.0)).cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => array_join(slice(words, i * 20 + 1, lit(20)), " "))
    val sp = Tables.documents(s, d)
      .select(col("source"), explode(paras).as("para"))
      .select(col("source"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
      .distinct()
    sp.groupBy("h1", "h2")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    b -> named_struct('src_a', a, 'src_b', b))))""".stripMargin))
        .as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  val overlapMatrixSql: String = """
    WITH base AS (SELECT source, string_split(text, ' ') AS words
      FROM documents),
    paras AS (SELECT source,
        array_to_string(list_slice(words, i * 20 + 1, i * 20 + 20), ' ')
          AS para
      FROM base,
        UNNEST(range(CAST(ceil(len(words) / 20.0) AS BIGINT))) AS t(i)),
    sp AS (SELECT DISTINCT source, para FROM paras)
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
    FROM sp a JOIN sp b ON a.para = b.para AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------------- BM25 retrieval
  /** BM25 top-k retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75)
    * for a fixed query set over the corpus — the lexical-retrieval
    * complement of the embedding ANN family (and the standard first
    * stage of retrieval-augmented data curation). The term filter
    * (`isin` over the query vocabulary) sits ON the corpus scan, so
    * only matching postings ever shuffle; doc length rides the explode
    * as a group key (no separate doclen join), and the df
    * (document-frequency) branch is a plain `count` over the tf rows —
    * (doc_id, t) is unique there, and keeping it an aggregate OVER tf
    * (not `countDistinct` from the scan, which Catalyst rewrites into
    * a different subtree) makes both consumers' exchange subtrees
    * identical, so ReuseExchange runs the postings scan+shuffle ONCE.
    * df/query/scalar sides all broadcast. Top-k per query is a single
    * ranked window: Spark's WindowGroupLimit already evaluates a
    * PARTIAL top-k per input partition before the query_id exchange —
    * the two-stage top-k is built into the engine, so no task ever
    * sorts a query's full posting list (ScaleSpec-asserted). The one
    * ln() per term rounds to 9dp before the exact DECIMAL sum (the
    * dsir_importance cross-engine determinism pattern). */
  def bm25Topk(s: SparkSession, d: String): DataFrame = {
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    bm25Scored(s, d).withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** The scored-but-unranked BM25 list (query_id, doc_id, score) —
    * shared by [[bm25Topk]] (top-5 cut) and [[retrievalRrfFusion]]
    * (top-20 lexical arm). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    // r17-opt: Spread parallelizes the two tokenize passes (postings +
    // length stats) that otherwise run on the single scan task
    import s.implicits._
    val queryTerms: Seq[(String, String)] = Seq(
      "q1" -> "spark", "q1" -> "join",
      "q2" -> "window", "q2" -> "agg",
      "q3" -> "hash", "q3" -> "table", "q3" -> "scan")
    val qt = queryTerms.toDF("query_id", "t")
    val terms = queryTerms.map(_._2).distinct
    val docs = graft.Spread(s, s"$d/documents.parquet",
      Tables.documents(s, d), col("doc_id"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("tot_len"))
    val tf = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "dl", "t")
      .agg(count(lit(1)).as("tf"))
    // df = row count per term ((doc_id, t) is unique in tf). The
    // always-true `tf >= 1` keeps the tf column REFERENCED: with a
    // bare count(1), Catalyst prunes the count function out of the df
    // branch's copy of the inner aggregate, the two subtrees stop
    // being identical, and ReuseExchange no longer shares the postings
    // scan+shuffle (observed: three corpus scans instead of two).
    val dfreq = tf.groupBy("t")
      .agg(count(when(col("tf") >= 1, 1)).as("df"))
    val scored = tf
      .join(broadcast(qt), Seq("t"))
      .join(broadcast(dfreq), Seq("t"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(log(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)), 9))
      .withColumn("avgdl", col("tot_len").cast("double") / col("n_docs"))
      .withColumn("c", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("c").cast("decimal(38,12)")).cast("double"), 6)
        .as("score"))
    scored
  }

  /** The BM25 CTE chain ending in `scored(query_id, doc_id, score)` —
    * the SQL twin of [[bm25Scored]]. */
  private val bm25ScoredCtes: String = """qt AS (SELECT * FROM (VALUES
        ('q1', 'spark'), ('q1', 'join'),
        ('q2', 'window'), ('q2', 'agg'),
        ('q3', 'hash'), ('q3', 'table'), ('q3', 'scan'))
      AS v(query_id, t)),
    stats AS (SELECT COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot_len
      FROM documents),
    toks AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS dl,
        unnest(string_split(text, ' ')) AS t
      FROM documents),
    tf AS (SELECT doc_id, dl, t, COUNT(*) AS tf FROM toks
      WHERE t IN (SELECT DISTINCT t FROM qt)
      GROUP BY doc_id, dl, t),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    contrib AS (SELECT qt.query_id, tf.doc_id,
        ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 9) *
          (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * dl /
            (CAST(tot_len AS DOUBLE) / n_docs))) AS c
      FROM tf JOIN qt ON tf.t = qt.t
      JOIN dfreq ON tf.t = dfreq.t CROSS JOIN stats),
    scored AS (SELECT query_id, doc_id,
        ROUND(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
      FROM contrib GROUP BY query_id, doc_id)"""

  val bm25TopkSql: String = s"""
    WITH $bm25ScoredCtes,
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rank FROM scored)
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  // --------------------------------------- hybrid retrieval (RRF fusion)
  /** Reciprocal-rank fusion of lexical and dense retrieval — the
    * standard hybrid-search combiner (Cormack, Clarke & Buettcher,
    * SIGIR 2009: rrf = Σ_arms 1/(60 + rank)). Arm 1 is the shared
    * BM25 list cut at top-20; arm 2 is cosine retrieval for the same
    * three queries, each carrying an exemplar embedding
    * (query-by-example: vec_id 0/1/2 ↔ q1/q2/q3, the embeddings table
    * aligning vec_id = doc_id). The scale story is the real hybrid-
    * search architecture: each arm independently produces a k-BOUNDED
    * per-query list under partial top-k (WindowGroupLimit evaluates
    * per-partition top-k before the exchange; the dense arm broadcasts
    * the 3 query vectors), so the fusion full-outer join runs over
    * ≤ 2k rows per query — metadata-sized at any corpus size. Rank
    * arithmetic is integer; 1/(60+r) is one IEEE division on identical
    * operands, so fused scores are bit-equal cross-engine. */
  def retrievalRrfFusion(s: SparkSession, d: String): DataFrame = {
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(s, d)
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(s, d)
    val dense = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id").isin(0L, 1L, 2L)),
        "vec_id", "embedding", k = 20)
      .select(concat(lit("q"), (col("query_id") + 1).cast("string"))
          .as("query_id"),
        col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val wFused = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)), 6))
      .withColumn("fused_rank", row_number().over(wFused))
      .filter(col("fused_rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), col("rrf"), col("fused_rank"))
      .orderBy("query_id", "fused_rank")
  }

  val retrievalRrfFusionSql: String = s"""
    WITH $bm25ScoredCtes,
    lexr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS lex_rank
      FROM scored),
    lex AS (SELECT query_id, doc_id, CAST(lex_rank AS INT) AS lex_rank
      FROM lexr WHERE lex_rank <= 20),
    e AS (SELECT vec_id, embedding,
        sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    dpairs AS (SELECT q.vec_id AS qv, c.vec_id AS doc_id,
        ROUND(${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm),
          6) AS cos
      FROM e q, e c
      WHERE q.vec_id IN (0, 1, 2) AND c.vec_id != q.vec_id),
    dranked AS (SELECT 'q' || CAST(qv + 1 AS VARCHAR) AS query_id, doc_id,
        ROW_NUMBER() OVER (PARTITION BY qv ORDER BY cos DESC, doc_id)
          AS dense_rank
      FROM dpairs),
    dense AS (SELECT query_id, doc_id, CAST(dense_rank AS INT)
        AS dense_rank
      FROM dranked WHERE dense_rank <= 20),
    fused AS (SELECT COALESCE(l.query_id, de.query_id) AS query_id,
        COALESCE(l.doc_id, de.doc_id) AS doc_id,
        l.lex_rank, de.dense_rank,
        ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0.0) +
          COALESCE(CAST(1.0 AS DOUBLE) / (60 + de.dense_rank), 0.0), 6)
          AS rrf
      FROM lex l FULL OUTER JOIN dense de
        ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
    fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rrf DESC, doc_id) AS fused_rank FROM fused)
    SELECT query_id, doc_id, lex_rank, dense_rank, rrf,
      CAST(fused_rank AS INT) AS fused_rank
    FROM fr WHERE fused_rank <= 10 ORDER BY query_id, fused_rank"""

  // -------------------------------------------- count-min sketch
  /** Count-min sketch heavy-hitter probe (Cormode & Muthukrishnan
    * 2005): token frequencies estimated from a FIXED 4×256-cell sketch
    * instead of a corpus-wide per-token groupBy — the shape for "how
    * often does X occur in 100 TB" questions where the distinct-token
    * table itself is too big to materialize per probe. The sketch
    * build is one corpus scan aggregating into ≤1024 (row, cell)
    * groups — map-side partial combine flattens it to almost nothing
    * on the wire, and the sketch size is CONSTANT in the corpus size
    * (the KMV-sketch companion, §sketch_kmv_distinct). Cells come from
    * the codegen [[graft.functions.HashF.polyHash]] base hash pushed
    * through 4 fixed affine permutations mod P (the standard pairwise-
    * independent family; same [[graft.pipeline.TextHash.coeffs]]
    * arithmetic the minhash family uses, so the oracle replays every
    * cell exactly — the sketch is checked bit-for-bit, not
    * approximately). Candidate probes then broadcast-join the tiny
    * sketch: est = min over the 4 rows, an upper bound that the
    * emitted exact count verifies (`overcount` ≥ 0 by construction).
    * The exact branch prunes to the candidate list ON the scan, so it
    * stays cheap at any corpus size. */
  def sketchCmsHeavy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cands = Seq("spark", "join", "window", "agg", "hash", "table",
      "scan", "data", "the", "row")
    val ks = 50 to 53 // affine-permutation ids (TextHash.coeffs)
    def cellCols(h: org.apache.spark.sql.Column) = ks.map { k =>
      val (a, b) = graft.pipeline.TextHash.coeffs(k)
      ((lit(a) * h + lit(b)) % lit(graft.pipeline.TextHash.P)) % lit(256)
    }
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
    val cms = toks
      .select(graft.functions.HashF.polyHash(col("t")).as("h"))
      .select(posexplode(array(cellCols(col("h")): _*))
        .as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(count(lit(1)).as("c"))
    val candh = cands.toDF("token")
      .withColumn("h", graft.functions.HashF.polyHash(col("token")))
    val est = candh
      .select(col("token"), posexplode(array(cellCols(col("h")): _*))
        .as(Seq("r", "cell")))
      .join(broadcast(cms), Seq("r", "cell"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
    val exact = toks.filter(col("t").isin(cands: _*))
      .groupBy(col("t").as("token")).agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("token"), "left")
      .select(col("token"), col("est"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (col("est") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
      .orderBy("token")
  }

  val sketchCmsHeavySql: String = {
    val P = graft.pipeline.TextHash.P
    val params = (50 to 53).zipWithIndex.map { case (k, r) =>
      val (a, b) = graft.pipeline.TextHash.coeffs(k)
      s"($r, $a, $b)"
    }.mkString(", ")
    val candVals = Seq("spark", "join", "window", "agg", "hash", "table",
      "scan", "data", "the", "row").map(t => s"('$t')").mkString(", ")
    def hashOf(x: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         | [CAST(ascii(substr($x, CAST(i AS INT), 1)) AS BIGINT)
         |  FOR i IN range(1, length($x)+1)]),
         | (a, b) -> (a * 31 + b) % $P)""".stripMargin
    s"""
    WITH params AS (SELECT * FROM (VALUES $params) AS p(r, a, b)),
    toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
    th AS (SELECT t, ${hashOf("t")} AS h FROM toks),
    cms AS (SELECT r, ((a * h + b) % $P) % 256 AS cell, COUNT(*) AS c
      FROM th CROSS JOIN params GROUP BY 1, 2),
    cand AS (SELECT token, ${hashOf("token")} AS h
      FROM (VALUES $candVals) AS c(token)),
    est AS (SELECT token, MIN(COALESCE(c, 0)) AS est
      FROM (SELECT token, r, ((a * h + b) % $P) % 256 AS cell
            FROM cand CROSS JOIN params) cc
      LEFT JOIN cms USING (r, cell) GROUP BY token),
    exact AS (SELECT t AS token, COUNT(*) AS n_exact FROM toks
      WHERE t IN (SELECT token FROM cand) GROUP BY t)
    SELECT est.token, est,
      CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
      CAST(est - COALESCE(n_exact, 0) AS BIGINT) AS overcount
    FROM est LEFT JOIN exact ON est.token = exact.token
    ORDER BY est.token"""
  }

  // --------------------------------------------------- graph PageRank
  /** PageRank centrality, two damped iterations (d = 0.85), over the
    * part↔supplier bipartite graph from lineitem (~52k edges at
    * sf0.01, part degrees 13-41, supplier degrees 467-558 — a graph
    * with real rank differentiation; the shared-paragraph document
    * graph is pure cliques on this corpus, where uniform rank is the
    * exact fixed point). The same iteration machinery serves dedup
    * canonicalization: rank the near-dup graph, keep the most-central
    * copy. ALL arithmetic is INTEGER parts-per-billion — integer sums
    * are order-independent, so the oracle replays both iterations
    * bit-exactly with no decimal or float divergence anywhere. Scale
    * shape: the distinct edge list and the degree table persist across
    * iterations; each iteration is one hash join (rank onto edges by
    * src) and one groupBy(dst) sum — two bounded shuffles per
    * iteration, rank state lives in the cluster, never on the driver
    * (contrast bpe_train/emb_kmeans, where the learned state is
    * deliberately driver-side because it is tiny; a rank vector is
    * corpus-sized). Node ids are parity-encoded (part → 2k,
    * supplier → 2k+1) so one rank vector spans both sides. */
  /** Distinct part↔supplier edge list from lineitem, parity-encoded
    * (part → 2k, supplier → 2k+1) and materialized both directions.
    * Shared by [[graphPagerank]] and [[graphHits]]; both sides
    * persisted, released by the callers via materializeAndRelease. */
  private def partSupplierGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct().persist()
    val edges = pairs
      .select((col("p") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("s") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
      .persist()
    (pairs, edges)
  }

  /** Dense-first dispatch: up to [[graft.operators.BipartiteFixpoint]]'s
    * 2²² distinct-pair guard the 2-round fixpoint runs as one bounded
    * collect + driver CSR loop (bit-identical integer recurrence);
    * above it, the distributed one-exchange-per-round form below. The
    * `_dist` twin keeps the at-scale plan oracle-checked at every SF. */
  def graphPagerank(s: SparkSession, d: String): DataFrame =
    graft.operators.BipartiteFixpoint.pagerank(s, d)
      .getOrElse(graphPagerankDistributed(s, d))

  def graphPagerankDistributed(s: SparkSession, d: String): DataFrame = {
    val (pairs, edges) = partSupplierGraph(s, d)
    // degrees come straight from the persisted pair table (a part's
    // out-degree IS its distinct supplier count and vice versa) — two
    // side-sized groupBys instead of re-grouping the 2×-wider edge
    // union; and since every node has >= 1 edge here, the node set is
    // just the degree table's keys — no extra distincts over pairs.
    val deg = pairs.groupBy("p").agg(count(lit(1)).as("deg"))
      .select((col("p") * 2).as("node_id"), col("deg"))
      .unionByName(pairs.groupBy("s").agg(count(lit(1)).as("deg"))
        .select((col("s") * 2 + 1).as("node_id"), col("deg")))
      .persist()
    val nodes = deg.select("node_id")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    def step(p: DataFrame): DataFrame = {
      val contrib = p.join(deg, Seq("node_id"))
        .join(edges, col("node_id") === col("src"))
        .select(col("dst").as("node_id"), expr("pr div deg").as("share"))
        .groupBy("node_id").agg(sum(col("share")).as("inflow"))
      nodes.join(contrib, Seq("node_id"), "left")
        .crossJoin(broadcast(nNodes))
        .select(col("node_id"),
          (expr("150000000L div n_nodes") +
            expr("85L * coalesce(inflow, 0L) div 100")).as("pr"))
    }
    val p0 = nodes.crossJoin(broadcast(nNodes))
      .select(col("node_id"), expr("1000000000L div n_nodes").as("pr"))
    val out = step(step(p0))
      .select(col("node_id"), (col("node_id") % 2 === 1).as("is_supplier"),
        col("pr").as("pr_ppb"))
      .orderBy("node_id")
    graft.pipeline.Caching.materializeAndRelease(out, pairs, edges, deg)
  }

  val graphPagerankSql: String = """
    WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem),
    edges AS (SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT s * 2 + 1, p * 2 FROM pairs),
    deg AS (SELECT src AS node_id, COUNT(*) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT p * 2 AS node_id FROM pairs
      UNION SELECT DISTINCT s * 2 + 1 FROM pairs),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    p0 AS (SELECT node_id, 1000000000 // n_nodes AS pr
      FROM nodes CROSS JOIN nn),
    c1 AS (SELECT e.dst AS node_id,
        CAST(SUM(p.pr // d.deg) AS BIGINT) AS inflow
      FROM p0 p JOIN deg d USING (node_id)
      JOIN edges e ON p.node_id = e.src
      GROUP BY e.dst),
    p1 AS (SELECT n.node_id,
        150000000 // n_nodes + 85 * COALESCE(inflow, 0) // 100 AS pr
      FROM nodes n LEFT JOIN c1 USING (node_id) CROSS JOIN nn),
    c2 AS (SELECT e.dst AS node_id,
        CAST(SUM(p.pr // d.deg) AS BIGINT) AS inflow
      FROM p1 p JOIN deg d USING (node_id)
      JOIN edges e ON p.node_id = e.src
      GROUP BY e.dst),
    p2 AS (SELECT n.node_id,
        150000000 // n_nodes + 85 * COALESCE(inflow, 0) // 100 AS pr
      FROM nodes n LEFT JOIN c2 USING (node_id) CROSS JOIN nn)
    SELECT node_id, node_id % 2 = 1 AS is_supplier,
      CAST(pr AS BIGINT) AS pr_ppb
    FROM p2 ORDER BY node_id"""

  /** HITS hubs & authorities (Kleinberg 1999) on the same graph — the
    * mutual-reinforcement companion to [[graphPagerank]]: authority =
    * Σ hub of in-neighbors, hub = Σ authority of out-neighbors, one
    * full round from a uniform start, each vector rescaled to a 10⁹
    * total through an integer quotient of the broadcast sum (scale =
    * max(1, Σ div 10⁹)) — every operation is integer, so the oracle
    * replays bit-exactly. Each push is one hash join of the score
    * vector onto the persisted edge list plus one groupBy sum; the
    * normalizer is a single-row broadcast, never a global window. */
  /** Dense-first dispatch — see [[graphPagerank]]. */
  def graphHits(s: SparkSession, d: String): DataFrame =
    graft.operators.BipartiteFixpoint.hits(s, d)
      .getOrElse(graphHitsDistributed(s, d))

  def graphHitsDistributed(s: SparkSession, d: String): DataFrame = {
    val (pairs, edges) = partSupplierGraph(s, d)
    val nodes = edges.select("src").distinct()
      .withColumnRenamed("src", "node_id").persist()
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    // each push result is PERSISTED before rescale: the normalizer's
    // sum branch and the next push both re-consume it, and without the
    // persist the un-materialized push subtree re-executes once per
    // consumer — lineage doubling per level (measured 10.8 s vs 4 s)
    def push(x: DataFrame): DataFrame =
      x.join(edges, col("node_id") === col("src"))
        .select(col("dst"), col("v"))
        .groupBy(col("dst").as("node_id")).agg(sum(col("v")).as("raw"))
        .persist()
    def rescale(y: DataFrame): DataFrame = {
      val tot = y.agg(sum(col("raw")).as("tot"))
      y.crossJoin(broadcast(tot))
        .select(col("node_id"),
          expr("raw div greatest(1L, tot div 1000000000L)").as("v"))
    }
    val h0 = nodes.crossJoin(broadcast(nNodes))
      .select(col("node_id"), expr("1000000000L div n_nodes").as("v"))
    val a1r = push(h0)
    val a1 = rescale(a1r)
    val h1r = push(a1)
    val h1 = rescale(h1r)
    val out = nodes
      .join(a1.withColumnRenamed("v", "auth"), Seq("node_id"), "left")
      .join(h1.withColumnRenamed("v", "hub"), Seq("node_id"), "left")
      .select(col("node_id"), (col("node_id") % 2 === 1).as("is_supplier"),
        coalesce(col("auth"), lit(0L)).as("auth_ppb"),
        coalesce(col("hub"), lit(0L)).as("hub_ppb"))
      .orderBy("node_id")
    graft.pipeline.Caching.materializeAndRelease(out, pairs, edges, nodes,
      a1r, h1r)
  }

  val graphHitsSql: String = """
    WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem),
    edges AS (SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT s * 2 + 1, p * 2 FROM pairs),
    nodes AS (SELECT DISTINCT src AS node_id FROM edges),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    h0 AS (SELECT node_id, 1000000000 // n_nodes AS v
      FROM nodes CROSS JOIN nn),
    a1r AS (SELECT e.dst AS node_id, CAST(SUM(x.v) AS BIGINT) AS raw
      FROM h0 x JOIN edges e ON x.node_id = e.src GROUP BY e.dst),
    a1t AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM a1r),
    a1 AS (SELECT node_id, raw // GREATEST(1, tot // 1000000000) AS v
      FROM a1r CROSS JOIN a1t),
    h1r AS (SELECT e.dst AS node_id, CAST(SUM(x.v) AS BIGINT) AS raw
      FROM a1 x JOIN edges e ON x.node_id = e.src GROUP BY e.dst),
    h1t AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM h1r),
    h1 AS (SELECT node_id, raw // GREATEST(1, tot // 1000000000) AS v
      FROM h1r CROSS JOIN h1t)
    SELECT n.node_id, n.node_id % 2 = 1 AS is_supplier,
      CAST(COALESCE(a1.v, 0) AS BIGINT) AS auth_ppb,
      CAST(COALESCE(h1.v, 0) AS BIGINT) AS hub_ppb
    FROM nodes n LEFT JOIN a1 ON n.node_id = a1.node_id
    LEFT JOIN h1 ON n.node_id = h1.node_id
    ORDER BY n.node_id"""

  // ------------------------------------------------- triangle counting
  /** Degree-ordered triangle counting on the part co-purchase graph
    * (parts sharing an order are adjacent) — the clustering-structure
    * probe behind community detection and co-occurrence analysis. The
    * naive wedge join explodes on hubs (a degree-d node emits d²
    * wedges); orienting every edge from its lower-(degree, id) endpoint
    * to the higher one caps out-degree at O(√m), bounding total wedge
    * volume by O(m^1.5) regardless of skew — the standard
    * distributed-triangle formulation, and the entire reason this
    * survives power-law graphs at scale. Plan shape: per-order pair
    * expansion is bounded by the ≤7-line order fanout (never quadratic
    * in the corpus), every exchange carries integer ids only, and the
    * wedge-closure probe is one hash join keyed by the oriented edge
    * pair. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // two-axis dense guard inside trianglesDense — see graphLinkPredict
    graft.operators.DenseGraph.trianglesDense(s, proj,
        memoKey = Some("lineitem-densegraph|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")),
        footer = Some((s"$d/lineitem.parquet", "l_orderkey", "l_partkey")))
      .getOrElse(graphTrianglesDistributed(s, d))
  }

  /** Fully distributed formulation (the 100 TB shape) — see
    * [[graft.operators.DenseGraph]] for the broadcast-CSR twin and the
    * dispatch guard; LinkPredictSpec pins both paths to identical
    * rows. */
  def graphTrianglesDistributed(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val op = raw.distinct()
    val (opPairs, probed) =
      graft.operators.GraphEdges.coPurchasePairs(op, raw,
        memoKey = Some("lineitem-copurchase|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")))
    val e = opPairs.select(col("a"), col("b"))
      .distinct().persist()
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg")).persist()
    val da = deg.select(col("v").as("a"), col("dg").as("da"))
    val db = deg.select(col("v").as("b"), col("dg").as("db"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oe = e.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("dw"))
      .persist()
    val o1 = oe.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val wedges = o1.join(oe, "u")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u").as("x"), col("v").as("y"), col("w").as("z"))
    // Bloom semi-join reduction (the join_bloom_prune pattern): most
    // wedges do not close, so a bounded driver Bloom over the packed
    // oriented edges drops definite non-triangles with a map-side
    // codegen probe BEFORE the closure exchange — false positives are
    // absorbed by the exact join, false negatives are impossible, and
    // the shuffle carries ~triangles·(1+fpp) rows instead of the full
    // O(m^1.5) wedge stream
    val m = oe.count()
    def packYz(y: org.apache.spark.sql.Column,
               z: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      shiftleft(y.cast("long"), 32).bitwiseOR(z.cast("long"))
    val bloom = graft.pipeline.Dedup.boundedBloom(
      oe.select(packYz(col("u"), col("w")).as("yz")), "yz", m)
    val wedgesPre = wedges.filter(graft.functions.HashF
      .bloomMightContain(packYz(col("y"), col("z")), bloom))
    // shuffle-hash hint: the closure probe streams the surviving wedge
    // rows against the m-row edge set — a sort-merge join would SORT
    // the wedge side (the dominant cost); hashing the small edge side
    // keeps the wedge side a streaming pass
    val closing = oe.select(col("u").as("y"), col("w").as("z"))
      .hint("shuffle_hash")
    // one consumer: explode each triangle to its 3 corners in the same
    // stage as the closure join (no persist, no 3-way union re-read)
    val tri = wedgesPre.join(closing, Seq("y", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    val out = perNode.join(deg, "v")
      .select(col("v").as("part_id"), col("dg").as("degree"),
        col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part_id"))
      .limit(20)
    graft.pipeline.Caching.materializeAndRelease(out,
      (Seq(e, deg, oe) ++ probed): _*)
  }

  val graphTrianglesSql: String = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem),
    e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS dg
      FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
    oe AS (SELECT
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN e.a ELSE e.b END AS u,
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN e.b ELSE e.a END AS w,
        CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
          THEN db.dg ELSE da.dg END AS dw
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
    tri AS (SELECT o1.u AS x, o1.w AS y, o2.w AS z
      FROM oe o1 JOIN oe o2 ON o1.u = o2.u
        AND (o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w))
      JOIN oe o3 ON o3.u = o1.w AND o3.w = o2.w),
    pn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) GROUP BY v)
    SELECT pn.v AS part_id, deg.dg AS degree, pn.n_triangles
    FROM pn JOIN deg ON deg.v = pn.v
    ORDER BY n_triangles DESC, part_id LIMIT 20"""

  // ------------------------------------------------ label propagation
  /** Community detection by two rounds of synchronous label
    * propagation (Raghavan et al. 2007) on the part co-purchase graph:
    * each vertex adopts its neighbors' most frequent label, ties
    * broken by smallest label — fully deterministic, unlike classic
    * async LPA, so the oracle replays the rounds exactly. Round 1
    * degenerates to min-neighbor (every neighbor label is unique);
    * round 2 propagates real label frequencies, which is where
    * communities (not just components — cf. dedup_clusters' CC)
    * start to form.
    *
    * Scale shape: each round is ONE hash join (edges × labels, both
    * keyed by vertex id) and two hash aggregations with map-side
    * combine — linear in edges per round, the same iteration shape as
    * graph_pagerank; exchanges carry integer ids only. The argmax per
    * vertex is a single max(struct(cnt, −label)) aggregate, not a
    * rank window. */
  /** Dense-first dispatch: same guard + memo key as [[graphTriangles]]
    * (the co-purchase CSR is shared machinery), so one verdict
    * aggregate covers both; above the guard the distributed LPA below
    * runs, oracle-checked at every SF via `graph_communities_dist`. */
  def graphCommunities(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    graft.operators.DenseGraph.communitiesDense(s, proj,
        memoKey = Some("lineitem-densegraph|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")),
        footer = Some((s"$d/lineitem.parquet", "l_orderkey", "l_partkey")))
      .getOrElse(graphCommunitiesDistributed(s, d))
  }

  def graphCommunitiesDistributed(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val op = raw.distinct()
    val (opPairs, probed) =
      graft.operators.GraphEdges.coPurchasePairs(op, raw,
        memoKey = Some("lineitem-copurchase|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")))
    val e = opPairs.select(col("a"), col("b")).distinct()
    val edges = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    var lab = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
    // argmax per vertex as max over ONE packed long —
    // cnt·2³² + (2³²−1−label): max pack ⇔ (max cnt, then MIN label),
    // exactly max(struct(cnt, −label)), but the fixed-width buffer
    // keeps the aggregate in HashAggregate; the struct form fell back
    // to SortAggregate and paid two sorts per round. Fits while
    // label < 2³² and cnt < 2³¹ — part keys and degrees are both far
    // inside that here; a wider id domain would densify ids first.
    for (_ <- 1 to 2) {
      lab = edges
        .join(lab.select(col("v").as("dst"), col("label")), "dst")
        .groupBy("src", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("src")
        .agg(max(shiftleft(col("cnt"), 32)
          .bitwiseOR(lit(0xffffffffL) - col("label"))).as("m"))
        .select(col("src").as("v"),
          (lit(0xffffffffL) - col("m").bitwiseAND(lit(0xffffffffL)))
            .as("label"))
    }
    val out = lab.groupBy("label").agg(count(lit(1)).as("n_members"))
      .select(col("label").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
    graft.pipeline.Caching.materializeAndRelease(out,
      (Seq(edges) ++ probed): _*)
  }

  val graphCommunitiesSql: String = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem),
    e AS (SELECT DISTINCT x.p AS a, y.p AS b
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
    edges AS (SELECT a AS src, b AS dst FROM e
      UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
    n1 AS (SELECT ed.src, l.label, COUNT(*) AS cnt
      FROM edges ed JOIN l0 l ON ed.dst = l.v GROUP BY 1, 2),
    r1 AS (SELECT src AS v, label FROM (SELECT src, label,
        ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, label)
          AS rn FROM n1) WHERE rn = 1),
    n2 AS (SELECT ed.src, l.label, COUNT(*) AS cnt
      FROM edges ed JOIN r1 l ON ed.dst = l.v GROUP BY 1, 2),
    r2 AS (SELECT src AS v, label FROM (SELECT src, label,
        ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, label)
          AS rn FROM n2) WHERE rn = 1)
    SELECT label AS community, COUNT(*) AS n_members
    FROM r2 GROUP BY label
    ORDER BY n_members DESC, community LIMIT 20"""

  // ------------------------------------------------- association rules
  /** Market-basket association mining over order baskets: for each
    * co-purchased part pair, support, directed confidences, lift and
    * PMI — the co-occurrence statistics behind "related items" and
    * behind PMI-weighted phrase/entity mining on text corpora. Scale
    * shape: the pair expansion is bounded by the per-order line fanout
    * (never corpus-quadratic), both count tables hash-aggregate with
    * map-side combine, the basket-count scalar broadcasts, and the
    * support floor prunes the pair table before the per-item joins.
    * PMI uses ln on INTEGER counts (9dp-rounded, the repo convention)
    * and lift divides exact-integer-valued doubles in one fixed
    * expression tree, so both engines emit bit-identical statistics. */
  /** Dense-first dispatch — same packed-collect guard and footer hint
    * as [[graphTriangles]]; the dense kernel replays Spark's exact
    * scalar semantics (probe-verified round/StrictMath.log), pinned
    * bit-for-bit by BipartiteFixpointSpec and oracle-checked at every
    * SF via `assoc_rules_dist`. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    graft.operators.DenseGraph.assocRulesDense(s, proj,
        memoKey = Some("lineitem-densegraph|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")),
        footer = Some((s"$d/lineitem.parquet", "l_orderkey", "l_partkey")))
      .getOrElse(assocRulesDistributed(s, d))
  }

  def assocRulesDistributed(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val op = raw.distinct().persist()
    val nOrders = op.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val item = op.groupBy("p").agg(count(lit(1)).as("n_item"))
    // one row per (order, pair) from the hot-order-safe expansion, so
    // the per-pair count is the co-purchase order count as before
    val (opPairs, probed) =
      graft.operators.GraphEdges.coPurchasePairs(op, raw,
        memoKey = Some("lineitem-copurchase|" + d + "|" +
          graft.sources.ParquetStats.snapshotToken(s, s"$d/lineitem.parquet")))
    val pairs = opPairs
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    val out = pairs
      .join(item.select(col("p").as("a"), col("n_item").as("n_a")), "a")
      .join(item.select(col("p").as("b"), col("n_item").as("n_b")), "b")
      .crossJoin(broadcast(nOrders))
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_orders"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_a"),
        round(col("n_ab").cast("double") * col("n_orders") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"),
        round(round(log(col("n_ab")), 9) + round(log(col("n_orders")), 9)
          - round(log(col("n_a")), 9) - round(log(col("n_b")), 9), 6)
          .as("pmi"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(25)
    graft.pipeline.Caching.materializeAndRelease(out,
      (Seq(op) ++ probed): _*)
  }

  val assocRulesSql: String = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      FROM lineitem),
    nn AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM op GROUP BY p),
    pairs AS (SELECT x.p AS a, y.p AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
    SELECT a AS part_a, b AS part_b, n_ab,
      ia.n_item AS n_a, ib.n_item AS n_b,
      ROUND(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
      ROUND(CAST(n_ab AS DOUBLE) / ia.n_item, 6) AS conf_a_b,
      ROUND(CAST(n_ab AS DOUBLE) / ib.n_item, 6) AS conf_b_a,
      ROUND(CAST(n_ab AS DOUBLE) * n_orders /
        (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift,
      ROUND(ROUND(ln(n_ab), 9) + ROUND(ln(n_orders), 9)
        - ROUND(ln(ia.n_item), 9) - ROUND(ln(ib.n_item), 9), 6) AS pmi
    FROM pairs JOIN item ia ON ia.p = a JOIN item ib ON ib.p = b
    CROSS JOIN nn
    ORDER BY n_ab DESC, part_a, part_b LIMIT 25"""

  // ------------------------------------------------- character entropy
  /** Character-level Shannon entropy per document (nats, 6dp) — the
    * gibberish/boilerplate screen that catches what token-level
    * signals miss (base64 blobs, key-mash, single-char floods score
    * near 0 or far above text's ~2.9-3.2 nats). Identity:
    * H = ln(n) − (Σ c·ln c)/n over per-character counts c, so the only
    * libm call is ln on INTEGER counts — rounded to 9dp before the
    * exact DECIMAL sum (the dsir pattern), making the oracle replay
    * bit-exact. One explode + one (doc, char) groupBy, map-side
    * combinable; the per-doc reduce is the second tiny aggregate. */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct_chars"),
        sum((round(log(col("c")), 9) * col("c")).cast("decimal(38,12)"))
          .as("clogc"))
      .select(col("doc_id"), col("n").as("n_chars"),
        col("n_distinct_chars"),
        round(round(log(col("n")), 9) -
          col("clogc").cast("double") / col("n"), 6).as("entropy_nats"))
      .orderBy("doc_id")

  val textEntropySql: String = """
    WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents),
    cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch
      WHERE ch != '' GROUP BY 1, 2),
    agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        COUNT(*) AS n_distinct_chars,
        SUM(CAST(ROUND(ln(c), 9) * c AS DECIMAL(38,12))) AS clogc
      FROM cc GROUP BY doc_id)
    SELECT doc_id, n AS n_chars, n_distinct_chars,
      ROUND(ROUND(ln(n), 9) - CAST(clogc AS DOUBLE) / n, 6)
        AS entropy_nats
    FROM agg ORDER BY doc_id"""

  // ------------------------------------------------- n-gram novelty
  /** First-occurrence novelty: the fraction of a document's word
    * trigrams whose corpus-wide FIRST carrier (smallest doc_id) is the
    * document itself — the data-valuation signal that separates docs
    * contributing new content from docs rehashing what an earlier
    * crawl already supplied (dedup tells you "is it a copy"; novelty
    * tells you "how much of it is new"). One shuffle keyed by the
    * 128-bit trigram hash computes min(doc_id) per distinct trigram
    * (map-side combinable min); the per-doc join back is on the same
    * hash key, so ReuseExchange shares the instance exchange and text
    * never rides a shuffle. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val tg = Tables.documents(s, d)
      .filter(graft.functions.HashF.tokenCount(col("text")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.HashF.spanHashes(col("text"), 3)).as("sp"))
      .select(col("doc_id"), col("sp.h1").as("h1"), col("sp.h2").as("h2"))
    val firstCarrier = tg.groupBy("h1", "h2")
      .agg(min(col("doc_id")).as("first_doc"))
    tg.join(firstCarrier, Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_trigrams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_trigrams"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
    tg AS (SELECT doc_id,
        array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS tri
      FROM base, UNNEST(range(1, n - 1)) AS t(i)
      WHERE n >= 3),
    fc AS (SELECT tri, MIN(doc_id) AS first_doc FROM tg GROUP BY tri)
    SELECT tg.doc_id, COUNT(*) AS n_trigrams,
      CAST(SUM(CASE WHEN fc.first_doc = tg.doc_id THEN 1 ELSE 0 END)
        AS BIGINT) AS n_novel,
      ROUND(CAST(SUM(CASE WHEN fc.first_doc = tg.doc_id THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM tg JOIN fc USING (tri)
    GROUP BY tg.doc_id ORDER BY tg.doc_id"""

  // ------------------------------------------------- split leakage audit
  /** Train/val/test split with a cross-split LEAKAGE audit: documents
    * split 80/10/10 by a deterministic key hash (split assignment must
    * never depend on content, or filtering skews the held-out sets),
    * then every pair of splits is audited for shared 20-word
    * paragraphs — near-dup leakage across the train/test boundary is
    * how held-out perplexity quietly turns into memorization
    * measurement. Output per ordered split pair: distinct shared
    * paragraphs and distinct leaking held-out docs. Scale shape: every
    * exchange is keyed by the 128-bit paragraph hash and carries only
    * (split, doc_id, hash) rows — text never rides a shuffle
    * (registry-audited); the split-side dedup joins the doc-side table
    * on the hash key, both map-side partial-aggregated. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val nPar = ceil(size(words) / lit(20.0)).cast("int")
    val paras = transform(sequence(lit(0), nPar - 1),
      i => array_join(slice(words, i * 20 + 1, lit(20)), " "))
    val sp = Tables.documents(s, d)
      .withColumn("bucket", pmod(col("doc_id") * lit(2654435761L), lit(10L)))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .select(col("split"), col("doc_id"), explode(paras).as("para"))
      .select(col("split"), col("doc_id"),
        xxhash64(col("para")).as("h1"),
        xxhash64(lit(1L), col("para")).as("h2"))
      .distinct()
    val a = sp.select(col("split").as("split_a"), col("h1"), col("h2"))
      .distinct()
    val b = sp.select(col("split").as("split_b"), col("doc_id"),
      col("h1"), col("h2"))
    a.join(b, Seq("h1", "h2"))
      .filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(countDistinct(col("h1"), col("h2")).as("n_shared_paras"),
        countDistinct(col("doc_id")).as("n_leaking_docs"))
      .orderBy("split_a", "split_b")
  }

  val splitLeakageSql: String = """
    WITH base AS (SELECT doc_id,
        CASE WHEN (doc_id * 2654435761) % 10 < 8 THEN 'train'
             WHEN (doc_id * 2654435761) % 10 = 8 THEN 'val'
             ELSE 'test' END AS split,
        string_split(text, ' ') AS words
      FROM documents),
    paras AS (SELECT split, doc_id,
        array_to_string(list_slice(words, i * 20 + 1, i * 20 + 20), ' ')
          AS para
      FROM base,
        UNNEST(range(CAST(ceil(len(words) / 20.0) AS BIGINT))) AS t(i)),
    sp AS (SELECT DISTINCT split, doc_id, para FROM paras),
    ap AS (SELECT DISTINCT split AS split_a, para FROM sp)
    SELECT split_a, sp.split AS split_b,
      COUNT(DISTINCT sp.para) AS n_shared_paras,
      COUNT(DISTINCT sp.doc_id) AS n_leaking_docs
    FROM ap JOIN sp ON ap.para = sp.para AND ap.split_a < sp.split
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------------------------- BFS
  /** Breadth-first shortest-path levels from a seed node over the
    * part–supplier bipartite graph — the iterative frontier-expansion
    * shape none of the other graph operators exercise (pagerank/HITS
    * iterate over ALL nodes; BFS's working set is the frontier).
    *
    * Scale shape: depth is fixed (3 — the bipartite diameter here), so
    * the distributed form is ONE plan over the distinct (p, s) pairs,
    * with no per-round persist or materialisation. On a bipartite graph
    * a node can only be reached again at a level of the same parity, so
    * the visited check per level is one anti-join against the level two
    * back:
    *   S1 = suppliers of the seed part;
    *   P2 = parts ⋉ S1, minus the seed;
    *   S3 = suppliers ⋉ P2, minus S1.
    * Each level is a semi-join of the pair table against a frontier
    * bounded by the node set (AQE broadcasts the small ones); distances
    * are exact integers. The DuckDB oracle is a recursive CTE with
    * UNION-dedup — a genuinely different evaluation strategy
    * (semi-naive fixpoint) arriving at the identical level sets, which
    * is the point of the check. */
  /** Dense-first dispatch — see [[graphPagerank]]. */
  def graphBfsLevels(s: SparkSession, d: String): DataFrame =
    graft.operators.BipartiteFixpoint.bfsLevels(s, d)
      .getOrElse(graphBfsLevelsDistributed(s, d))

  def graphBfsLevelsDistributed(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val seed = Tables.lineitem(s, d).agg(min(col("l_partkey")).as("p"))
    val s1 = pairs.join(seed, Seq("p"), "left_semi").select("s")
    val p2 = pairs.join(s1, Seq("s"), "left_semi").select("p").distinct()
      .join(seed, Seq("p"), "left_anti")
    val s3 = pairs.join(p2, Seq("p"), "left_semi").select("s").distinct()
      .join(s1, Seq("s"), "left_anti")
    def parts(df: DataFrame, k: Int) =
      df.select((col("p") * 2).as("node_id"), lit(k).as("dist"))
    def suppliers(df: DataFrame, k: Int) =
      df.select((col("s") * 2 + 1).as("node_id"), lit(k).as("dist"))
    parts(seed, 0).unionByName(suppliers(s1, 1))
      .unionByName(parts(p2, 2)).unionByName(suppliers(s3, 3))
      .select(col("node_id"), (col("node_id") % 2 === 1).as("is_supplier"),
        col("dist"))
      .orderBy("node_id")
  }

  val graphBfsLevelsSql: String = """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    edges AS (SELECT p * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL SELECT s * 2 + 1, p * 2 FROM pairs),
    seed AS (SELECT MIN(l_partkey) * 2 AS src_node FROM lineitem),
    walk(node_id, dist) AS (
      SELECT src_node, 0 FROM seed
      UNION
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN edges e ON w.node_id = e.src
      WHERE w.dist < 3),
    lv AS (SELECT node_id, MIN(dist) AS dist FROM walk GROUP BY node_id)
    SELECT node_id, node_id % 2 = 1 AS is_supplier,
      CAST(dist AS INT) AS dist
    FROM lv ORDER BY node_id"""

  // ------------------------------------------------------ join-size CMS
  /** Join-cardinality estimation from mergeable CMS sketches — the
    * planner-statistics use case: |A ⋈ B| on a key equals the inner
    * product of the two frequency vectors, and the CMS row-wise inner
    * product min-estimates it WITHOUT executing the join (AMS/CMS
    * inner-product estimator, Cormode & Muthukrishnan §4.2). At 100 TB
    * each side reduces to a constant 4×4096-cell sketch (128 KB,
    * map-side partial, mergeable across partitions/days); the estimate
    * is a 16k-row join of the two sketches. The exact join count is
    * emitted alongside (the estimator is an upper bound — collisions
    * only add), and the sketch cells use the same affine-permutation
    * family as the minhash/CMS queries so the oracle replays every
    * cell bit-exactly. */
  def sketchJoinSize(s: SparkSession, d: String): DataFrame = {
    val w = 4096
    val ks = 54 to 57
    def cellCols(h: org.apache.spark.sql.Column) = ks.map { k =>
      val (a, b) = graft.pipeline.TextHash.coeffs(k)
      ((lit(a) * h + lit(b)) % lit(graft.pipeline.TextHash.P)) % lit(w)
    }
    def cms(df: DataFrame, cname: String) = df
      .select(graft.functions.HashF
        .polyHash(col("l_partkey").cast("string")).as("h"))
      .select(posexplode(array(cellCols(col("h")): _*))
        .as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(count(lit(1)).as(cname))
    val li = Tables.lineitem(s, d)
    val cmsA = cms(li, "ca")
    val cmsB = cms(li.filter(col("l_returnflag") === "R"), "cb")
    val est = cmsA.join(cmsB, Seq("r", "cell"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_join_rows"))
    val fa = li.groupBy("l_partkey").agg(count(lit(1)).as("fa"))
    val fb = li.filter(col("l_returnflag") === "R")
      .groupBy("l_partkey").agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, Seq("l_partkey"))
      .agg(sum(col("fa") * col("fb")).as("exact_join_rows"))
    est.crossJoin(broadcast(exact))
      .select(col("est_join_rows"), col("exact_join_rows"),
        round(col("est_join_rows").cast("double") /
          col("exact_join_rows"), 4).as("overestimate_ratio"))
  }

  val sketchJoinSizeSql: String = {
    val P = graft.pipeline.TextHash.P
    val params = (54 to 57).zipWithIndex.map { case (k, r) =>
      val (a, b) = graft.pipeline.TextHash.coeffs(k)
      s"($r, $a, $b)"
    }.mkString(", ")
    def hashOf(x: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         | [CAST(ascii(substr($x, CAST(i AS INT), 1)) AS BIGINT)
         |  FOR i IN range(1, length($x)+1)]),
         | (a, b) -> (a * 31 + b) % $P)""".stripMargin
    s"""
    WITH params AS (SELECT * FROM (VALUES $params) AS p(r, a, b)),
    ha AS (SELECT ${hashOf("CAST(l_partkey AS VARCHAR)")} AS h
      FROM lineitem),
    cmsa AS (SELECT r, ((a * h + b) % $P) % 4096 AS cell, COUNT(*) AS ca
      FROM ha CROSS JOIN params GROUP BY 1, 2),
    hb AS (SELECT ${hashOf("CAST(l_partkey AS VARCHAR)")} AS h
      FROM lineitem WHERE l_returnflag = 'R'),
    cmsb AS (SELECT r, ((a * h + b) % $P) % 4096 AS cell, COUNT(*) AS cb
      FROM hb CROSS JOIN params GROUP BY 1, 2),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM
      (SELECT r, SUM(ca * cb) AS ip
       FROM cmsa JOIN cmsb USING (r, cell) GROUP BY r)),
    fa AS (SELECT l_partkey, COUNT(*) AS fa FROM lineitem GROUP BY 1),
    fb AS (SELECT l_partkey, COUNT(*) AS fb FROM lineitem
      WHERE l_returnflag = 'R' GROUP BY 1),
    exact AS (SELECT CAST(SUM(fa.fa * fb.fb) AS BIGINT)
        AS exact_join_rows
      FROM fa JOIN fb USING (l_partkey))
    SELECT est_join_rows, exact_join_rows,
      ROUND(CAST(est_join_rows AS DOUBLE) / exact_join_rows, 4)
        AS overestimate_ratio
    FROM est CROSS JOIN exact"""
  }

  // ----------------------------------------------------- k-core peeling
  /** Fixed-round k-core peeling of the part–supplier graph: repeatedly
    * drop nodes whose degree in the INDUCED subgraph falls below k —
    * the classic dense-substructure extraction whose working set
    * shrinks every round (unlike pagerank's fixed node set and BFS's
    * growing visited set). k is data-driven — 1.3× the mean part
    * degree, in exact integer arithmetic ((13·|E|) div (10·|P|) + 1) —
    * so the peel stays meaningful at any scale factor. Per round: two
    * keyed degree aggregates + two semi-joins; the threshold is a
    * one-row broadcast. Output is the peeling trajectory
    * (edges/parts/suppliers per round), the shape a curation pipeline
    * reads to pick a core cut-off. */
  /** Dense-first dispatch — see [[graphPagerank]]. */
  def graphKcorePeel(s: SparkSession, d: String): DataFrame =
    graft.operators.BipartiteFixpoint.kcorePeel(s, d)
      .getOrElse(graphKcorePeelDistributed(s, d))

  def graphKcorePeelDistributed(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct().persist()
    val kdf = pairs
      .agg(count(lit(1)).as("ne"), countDistinct(col("p")).as("np"))
      .select(expr("(13L * ne) div (10L * np) + 1L").as("kk"))
    def peel(e: DataFrame): DataFrame = {
      val keepP = e.groupBy("p").agg(count(lit(1)).as("cp"))
        .crossJoin(broadcast(kdf)).filter(col("cp") >= col("kk"))
        .select("p")
      val keepS = e.groupBy("s").agg(count(lit(1)).as("cs"))
        .crossJoin(broadcast(kdf)).filter(col("cs") >= col("kk"))
        .select("s")
      e.join(keepP, Seq("p"), "left_semi").join(keepS, Seq("s"), "left_semi")
    }
    val e1 = peel(pairs).persist()
    val e2 = peel(e1).persist()
    val e3 = peel(e2).persist()
    def summary(r: Int, e: DataFrame) = e
      .agg(count(lit(1)).as("n_edges"), countDistinct(col("p")).as("n_parts"),
        countDistinct(col("s")).as("n_suppliers"))
      .select(lit(r).as("round"), col("n_edges"), col("n_parts"),
        col("n_suppliers"))
    val out = summary(0, pairs).unionByName(summary(1, e1))
      .unionByName(summary(2, e2)).unionByName(summary(3, e3))
      .orderBy("round")
    graft.pipeline.Caching.materializeAndRelease(out, pairs, e1, e2, e3)
  }

  val graphKcorePeelSql: String = """
    WITH pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    kk AS (SELECT (13 * COUNT(*)) // (10 * COUNT(DISTINCT p)) + 1 AS k
      FROM pairs),
    e1 AS (SELECT p, s FROM pairs
      WHERE p IN (SELECT p FROM pairs GROUP BY p
                  HAVING COUNT(*) >= (SELECT k FROM kk))
        AND s IN (SELECT s FROM pairs GROUP BY s
                  HAVING COUNT(*) >= (SELECT k FROM kk))),
    e2 AS (SELECT p, s FROM e1
      WHERE p IN (SELECT p FROM e1 GROUP BY p
                  HAVING COUNT(*) >= (SELECT k FROM kk))
        AND s IN (SELECT s FROM e1 GROUP BY s
                  HAVING COUNT(*) >= (SELECT k FROM kk))),
    e3 AS (SELECT p, s FROM e2
      WHERE p IN (SELECT p FROM e2 GROUP BY p
                  HAVING COUNT(*) >= (SELECT k FROM kk))
        AND s IN (SELECT s FROM e2 GROUP BY s
                  HAVING COUNT(*) >= (SELECT k FROM kk)))
    SELECT * FROM (
      SELECT CAST(0 AS INT) AS round, COUNT(*) AS n_edges,
        CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts,
        CAST(COUNT(DISTINCT s) AS BIGINT) AS n_suppliers FROM pairs
      UNION ALL
      SELECT CAST(1 AS INT), COUNT(*), CAST(COUNT(DISTINCT p) AS BIGINT),
        CAST(COUNT(DISTINCT s) AS BIGINT) FROM e1
      UNION ALL
      SELECT CAST(2 AS INT), COUNT(*), CAST(COUNT(DISTINCT p) AS BIGINT),
        CAST(COUNT(DISTINCT s) AS BIGINT) FROM e2
      UNION ALL
      SELECT CAST(3 AS INT), COUNT(*), CAST(COUNT(DISTINCT p) AS BIGINT),
        CAST(COUNT(DISTINCT s) AS BIGINT) FROM e3)
    ORDER BY round"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sketch_join_size", sketchJoinSize, Some(sketchJoinSizeSql)),
    QuerySpec("graph_kcore_peel", graphKcorePeel, Some(graphKcorePeelSql)),
    QuerySpec("graph_kcore_peel_dist", graphKcorePeelDistributed,
      Some(graphKcorePeelSql), bench = false),
    QuerySpec("graph_bfs_levels", graphBfsLevels, Some(graphBfsLevelsSql)),
    QuerySpec("graph_bfs_levels_dist", graphBfsLevelsDistributed,
      Some(graphBfsLevelsSql), bench = false),
    QuerySpec("sim_topk_pq", simTopKPq, Some(simTopKPqSql)),
    QuerySpec("overlap_matrix", overlapMatrix, Some(overlapMatrixSql)),
    QuerySpec("split_leakage", splitLeakage, Some(splitLeakageSql)),
    QuerySpec("text_entropy", textEntropy, Some(textEntropySql)),
    QuerySpec("ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    QuerySpec("bm25_topk", bm25Topk, Some(bm25TopkSql)),
    QuerySpec("retrieval_rrf_fusion", retrievalRrfFusion,
      Some(retrievalRrfFusionSql)),
    QuerySpec("sketch_cms_heavy", sketchCmsHeavy, Some(sketchCmsHeavySql)),
    QuerySpec("graph_pagerank", graphPagerank, Some(graphPagerankSql)),
    QuerySpec("graph_pagerank_dist", graphPagerankDistributed,
      Some(graphPagerankSql), bench = false),
    QuerySpec("graph_hits", graphHits, Some(graphHitsSql)),
    QuerySpec("graph_hits_dist", graphHitsDistributed,
      Some(graphHitsSql), bench = false),
    QuerySpec("graph_triangles", graphTriangles, Some(graphTrianglesSql)),
    QuerySpec("graph_triangles_dist", graphTrianglesDistributed,
      Some(graphTrianglesSql), bench = false),
    QuerySpec("graph_communities", graphCommunities,
      Some(graphCommunitiesSql)),
    QuerySpec("graph_communities_dist", graphCommunitiesDistributed,
      Some(graphCommunitiesSql), bench = false),
    QuerySpec("assoc_rules", assocRules, Some(assocRulesSql)),
    QuerySpec("assoc_rules_dist", assocRulesDistributed,
      Some(assocRulesSql), bench = false),
    QuerySpec("mix_epoch_plan", mixEpochPlan, Some(mixEpochPlanSql)),
    QuerySpec("sim_topk_rp", simTopKRp, Some(simTopKRpSql)),
    QuerySpec("shuffle_epoch", shuffleEpoch, Some(shuffleEpochSql)),
    QuerySpec("select_learnability", selectLearnability,
      Some(selectLearnabilitySql)),
    QuerySpec("emb_rp_project", embRpProject, Some(embRpProjectSql)),
    QuerySpec("emb_pca_power", embPcaPower, Some(embPcaPowerSql)),
    QuerySpec("emb_outliers", embOutliers, Some(embOutliersSql)),
    QuerySpec("pack_sequences", packSequences, Some(packSequencesSql)),
    QuerySpec("quality_gate_p75", qualityGateP75, Some(qualityGateP75Sql)),
    QuerySpec("dsir_importance", dsirImportance, Some(dsirImportanceSql)),
    QuerySpec("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    QuerySpec("dedup_substring_cut", dedupSubstringCut,
      Some(dedupSubstringCutSql)),
    QuerySpec("substring_repeat_profile", substringRepeatProfile,
      Some(substringRepeatProfileSql)),
    QuerySpec("substring_repeat_profile_dist", substringRepeatProfileDist,
      Some(substringRepeatProfileSql), bench = false),
    QuerySpec("emb_kmeans", embKmeans, Some(embKmeansSql)),
    QuerySpec("sample_cluster_balanced", sampleClusterBalanced,
      Some(sampleClusterBalancedSql)),
    QuerySpec("dedup_incremental", dedupIncremental,
      Some(dedupIncrementalSql)),
    QuerySpec("dedup_incremental_minhash", dedupIncrementalMinhash,
      Some(dedupIncrementalMinhashSql)),
    QuerySpec("quality_logreg", qualityLogreg, Some(qualityLogregSql)),
    QuerySpec("calibration_ece", calibrationEce, Some(calibrationEceSql)),
    QuerySpec("roc_auc", rocAuc, Some(rocAucSql)),
    QuerySpec("bpe_train", bpeTrain, Some(bpeTrainSql)),
    QuerySpec("unigram_train", unigramTrain, Some(unigramTrainSql)),
    QuerySpec("tokenize_learned", tokenizeLearned, Some(tokenizeLearnedSql)),
    QuerySpec("tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
    QuerySpec("text_tfidf_top", textTfidfTop, Some(textTfidfTopSql)),
    QuerySpec("text_chunk_windows", textChunkWindows,
      Some(textChunkWindowsSql)),
    QuerySpec("source_mix_weights", sourceMixWeights,
      Some(sourceMixWeightsSql)),
    QuerySpec("text_unigram_logprob", textUnigramLogprob,
      Some(textUnigramLogprobSql)),
    QuerySpec("text_boilerplate", textBoilerplate, Some(textBoilerplateSql)),
    QuerySpec("ccnet_buckets", ccnetBuckets, Some(ccnetBucketsSql)),
    QuerySpec("text_bigram_logprob", textBigramLogprob,
      Some(textBigramLogprobSql)),
    QuerySpec("text_pii_redact", textPiiRedact, Some(textPiiRedactSql)),
    QuerySpec("text_readability", textReadability, Some(textReadabilitySql)),
    QuerySpec("url_dedup", urlDedup, Some(urlDedupSql)),
    QuerySpec("url_domain_stats", urlDomainStats, Some(urlDomainStatsSql)),
    QuerySpec("snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QuerySpec("kl_snapshot_drift", klSnapshotDrift,
      Some(klSnapshotDriftSql)),
    QuerySpec("shard_manifest", shardManifest(_, _), Some(shardManifestSql)),
    QuerySpec("dedup_paragraph", dedupParagraph, Some(dedupParagraphSql)),
    QuerySpec("multimodal_decode_stats", multimodalDecodeStats,
      Some(multimodalDecodeStatsSql)),
    QuerySpec("multimodal_scene_cuts", multimodalSceneCuts,
      Some(multimodalSceneCutsSql)),
    QuerySpec("multimodal_phash_dedup", multimodalPhashDedup,
      Some(multimodalPhashDedupSql)),
    QuerySpec("multimodal_audio_dedup", multimodalAudioDedup,
      Some(multimodalAudioDedupSql)),
    QuerySpec("multimodal_compressed_meta", multimodalCompressedMeta,
      Some(multimodalCompressedMetaSql)),
    QuerySpec("dedup_exact", dedupExact, Some(dedupExactSql)),
    QuerySpec("dedup_jaccard", dedupJaccard, Some(dedupJaccardSql)),
    QuerySpec("dedup_containment", dedupContainment,
      Some(dedupContainmentSql)),
    QuerySpec("dedup_minhash_lsh", dedupMinhash, Some(dedupMinhashSql)),
    QuerySpec("lsh_recall_eval", lshRecallEval, Some(lshRecallEvalSql)),
    QuerySpec("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    QuerySpec("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    QuerySpec("dedup_simhash_clusters", dedupSimhashClusters,
      Some(dedupSimhashClustersSql)),
    QuerySpec("dedup_emb_cosine", dedupEmbCosine, Some(dedupEmbCosineSql)),
    // the un-dispatched route twins — keep BOTH candidate plans
    // oracle-checked at every SF regardless of where the wrapper's
    // probe lands (twin convention; bench=false: the wrapper is the
    // benched surface)
    QuerySpec("dedup_emb_cosine_banded", dedupEmbCosineBanded,
      Some(dedupEmbCosineBandedSql), bench = false),
    QuerySpec("dedup_emb_cosine_cells", dedupEmbCosineCells,
      Some(dedupEmbCosineCellsSql), bench = false),
    QuerySpec("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    QuerySpec("dedup_semantic", dedupSemantic, Some(dedupSemanticSql)),
    QuerySpec("decontaminate", decontaminate, Some(decontaminateSql)),
    QuerySpec("decontaminate_semantic", decontaminateSemantic,
      Some(decontaminateSemanticSql)),
    QuerySpec("text_repetition", textRepetition, Some(textRepetitionSql)),
    QuerySpec("sketch_kmv_distinct", sketchKmv, Some(sketchKmvSql)),
    QuerySpec("pipeline_curate", pipelineCurate, Some(pipelineCurateSql)),
    QuerySpec("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QuerySpec("sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    QuerySpec("text_clean", textClean, Some(textCleanSql)),
    QuerySpec("sim_cosine_topk", simTopK, Some(simTopKSql)),
    QuerySpec("sim_topk_mrl", simTopKMrl, Some(simTopKMrlSql)),
    QuerySpec("sim_ann_lsh", simAnnLsh, Some(simAnnLshSql)),
    QuerySpec("text_quality", textQuality, Some(textQualitySql)),
    QuerySpec("text_langid", textLangId, Some(textLangIdSql)),
    QuerySpec("text_top_tokens", textTopTokens, Some(textTopTokensSql)),
    QuerySpec("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
    QuerySpec("emb_quantize", embQuantize, Some(embQuantizeSql)),
    QuerySpec("text_token_bpe", textTokenBpe, Some(textTokenBpeSql)),
    QuerySpec("multimodal_meta", multimodalMeta, Some(multimodalMetaSql)))
}
