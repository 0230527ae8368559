package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.cube.Cube
import graft.functions.VecF

/** Second coverage batch: catalogue scans, 'current'-time selection,
  * strided decimation, valid-range masking, antimeridian windows,
  * multi-geometry fan-out, IVF-style ANN. */
object ExtraQueries {

  // --------------------------------------------------------------- §3.3
  /** Catalogue scan: one row per registered table with cardinality —
    * the relational analogue of the reference's open-every-dataset
    * catalogue pass (wmts.py:122-124). */
  def catalogueCounts(s: SparkSession, d: String): DataFrame = {
    val frames = Tables.names.map { n =>
      Tables.table(s, d, n).agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"))
    }
    frames.reduce(_ unionByName _).orderBy("table_name")
  }

  val catalogueCountsSql: String =
    Tables.names.map(n =>
      s"SELECT '$n' AS table_name, COUNT(*) AS n_rows FROM $n")
      .mkString("", "\n    UNION ALL ", "\n    ORDER BY table_name")

  // ------------------------------------------------------------- S6/U1
  /** SQL-text computed dataset, end-to-end through the server registry
    * (reference ComputedMultiLevelDataset, mldataset.py:308-382): the
    * events-derived cube registers as dataset `base`, a computed
    * dataset declares its derived variable as config SQL TEXT
    * (ServiceContext's `Function: sql` arm — Catalyst-parsed and
    * analyzer-validated at registration, no runtime code execution),
    * and the query aggregates the DERIVED cube per day. The oracle
    * replays the declared SQL inline, so the whole
    * register → runtime-eval → serve chain is hash-checked. */
  def computedSqlView(s: SparkSession, d: String): DataFrame = {
    val ctx = new graft.server.ServiceContext(s)
    val base = CubeQueries.cube(s, d).select(
      col("ts").as("time"), col("y_idx"), col("x_idx"),
      col("lat"), col("lon"), col("value"))
    ctx.register(graft.server.RegisteredDataset("base", "Base",
      graft.cube.CubeFrame(base, CubeQueries.grid, Seq("value")), None))
    ctx.registerComputed("derived", "Derived", "sql", Seq("base"), Map(
      "sql" -> ("SELECT time, y_idx, x_idx, lat, lon, " +
        "value * 2.0 + 1.0 AS v2, date_format(time, 'yyyy-MM-dd') AS day " +
        "FROM base")))
    ctx.dataset("derived").get.cube.df
      .groupBy("day")
      .agg(count(lit(1)).as("n_cells"), Q.davg(col("v2")).as("mean_v2"))
      .orderBy("day")
  }

  val computedSqlViewSql: String = s"""
    WITH ${CubeQueries.cubeCte},
    derived AS (SELECT day, value * 2.0 + 1.0 AS v2 FROM cube)
    SELECT day, COUNT(*) AS n_cells, ${Sql.davg("v2")} AS mean_v2
    FROM derived GROUP BY day ORDER BY day"""

  // --------------------------------------------------------------- J5
  /** 'current' selection (context.py:437-438): latest event per user —
    * deterministic arg-max via one window pass. */
  def dimCurrent(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  val dimCurrentSql: String = """
    SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
           value AS last_value
    FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 ORDER BY user_id"""

  // --------------------------------------------------------------- P5
  /** Extra-dim indexer (reference get_var_indexers, context.py:420-451
    * + `sel(method='nearest')`, tiles.py:77): the event grid gains a
    * depth axis (5 coordinate values); a request for depth=37.5
    * nearest-matches to 50, and only that plane aggregates. The Spark
    * side resolves the indexer the way the server does — against the
    * STATIC axis on the driver (coordinate metadata, no scan) — while
    * the oracle re-derives it relationally, so the coercion rule itself
    * is what the hash compare checks. */
  def dimIndexerDepth(s: SparkSession, d: String): DataFrame = {
    val depthCase = "CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 0.0 " +
      "WHEN 1 THEN 10.0 WHEN 2 THEN 20.0 WHEN 3 THEN 50.0 " +
      "ELSE 100.0 END"
    val axis = Array(0.0, 10.0, 20.0, 50.0, 100.0)
    val want = 37.5
    // nearest coercion, value tie-break — identical to the server's
    // extraSelections and the reference's sel(method='nearest')
    val sel = axis.minBy(v => (math.abs(v - want), v))
    Tables.events(s, d)
      .withColumn("depth", expr(depthCase))
      .filter(col("depth") === sel)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_obs"),
        Q.davg(col("value")).as("avg_value"),
        max(col("depth")).as("depth"))
      .orderBy("event_type")
  }

  val dimIndexerDepthSql: String = {
    val depthCase = "CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 0.0 " +
      "WHEN 1 THEN 10.0 WHEN 2 THEN 20.0 WHEN 3 THEN 50.0 " +
      "ELSE 100.0 END"
    // the axis is STATIC metadata on both sides (the server resolves
    // indexers against the coordinate axis, never a data scan) — a
    // DISTINCT-derived axis would diverge whenever a residue class is
    // absent from the data
    s"""
    WITH planes AS (SELECT *, $depthCase AS depth FROM events),
    sel AS (SELECT d FROM (VALUES (0.0), (10.0), (20.0), (50.0), (100.0))
            AS axis(d) ORDER BY ABS(d - 37.5), d LIMIT 1)
    SELECT event_type, COUNT(*) AS n_obs,
           ${Sql.davg("value")} AS avg_value, MAX(depth) AS depth
    FROM planes WHERE depth = (SELECT d FROM sel)
    GROUP BY event_type ORDER BY event_type"""
  }

  // --------------------------------------------------------------- P8
  /** Strided decimation (array[::2, ::2]) on the event grid: keep every
    * 2nd row/col, per-cell stats. */
  def strideDecimate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("y_idx", expr("CAST(event_id % 20 AS INT)"))
      .withColumn("x_idx", expr("CAST((event_id div 20) % 40 AS INT)"))
      .filter(pmod(col("y_idx"), lit(2)) === 0 &&
        pmod(col("x_idx"), lit(2)) === 0)
      .groupBy("y_idx", "x_idx")
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
      .orderBy("y_idx", "x_idx")

  val strideDecimateSql: String = s"""
    SELECT CAST(event_id % 20 AS INT) AS y_idx,
           CAST((event_id // 20) % 40 AS INT) AS x_idx,
           COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
    FROM events
    WHERE (event_id % 20) % 2 = 0 AND ((event_id // 20) % 40) % 2 = 0
    GROUP BY 1, 2 ORDER BY y_idx, x_idx"""

  // --------------------------------------------------------------- F5/F6
  /** Valid-range + fill masking before aggregation (the reference's
    * masking trio, tiledimage.py:398-413): values outside [10, 400] or
    * equal to the fill sentinel become null, then null-skipping stats. */
  def maskValidRange(s: SparkSession, d: String): DataFrame = {
    val masked = Cube.maskInvalid(col("value"),
      fillValue = Some(0.0), validMin = Some(10.0), validMax = Some(400.0))
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("total_count"),
        count(masked).as("valid_count"),
        Q.davg(masked).as("avg_valid"))
      .orderBy("event_type")
  }

  val maskValidRangeSql: String = s"""
    WITH m AS (SELECT event_type,
      CASE WHEN isnan(value) OR value = 0.0 OR value < 10.0
             OR value > 400.0 THEN NULL ELSE value END AS mv
      FROM events)
    SELECT event_type, COUNT(*) AS total_count, COUNT(mv) AS valid_count,
      ${Sql.davg("mv")} AS avg_valid
    FROM m GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------------------- F10
  /** Antimeridian-style wrapped window: a lon range with max < min
    * splits into OR-of-ranges (utils.py:56-70). Grid lon ∈ [0,4); the
    * wrapped box [3.05, 0.95] selects both edges. */
  def antimeridianWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("lon",
        (expr("CAST((event_id div 20) % 40 AS DOUBLE)") + lit(0.5)) * lit(0.1))
      .filter(col("lon") >= 3.05 || col("lon") <= 0.95)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
      .orderBy("day")

  val antimeridianWindowSql: String = s"""
    WITH c AS (SELECT value,
      (CAST((event_id // 20) % 40 AS DOUBLE) + 0.5) * 0.1 AS lon,
      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
      FROM events)
    SELECT day, COUNT(*) AS n_obs, ${Sql.davg("value")} AS avg_value
    FROM c WHERE lon >= 3.05 OR lon <= 0.95
    GROUP BY day ORDER BY day"""

  // --------------------------------------------------------------- ts multi-geom
  /** Multi-geometry time-series fan-out (time_series.py:208-219): one
    * unioned plan, geometry_index column. */
  def tsMultiGeom(s: SparkSession, d: String): DataFrame = {
    def one(idx: Int, lonLo: Double, lonHi: Double): DataFrame =
      Tables.events(s, d)
        .withColumn("lon",
          (expr("CAST((event_id div 20) % 40 AS DOUBLE)") + lit(0.5)) * lit(0.1))
        .filter(col("lon") >= lonLo && col("lon") <= lonHi)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
        .withColumn("geometry_index", lit(idx))
    one(0, 0.05, 1.95).unionByName(one(1, 2.05, 3.95))
      .select("geometry_index", "day", "n_obs", "avg_value")
      .orderBy("geometry_index", "day")
  }

  val tsMultiGeomSql: String = {
    def one(idx: Int, lo: Double, hi: Double) = s"""
      SELECT $idx AS geometry_index, day, COUNT(*) AS n_obs,
        ${Sql.davg("value")} AS avg_value
      FROM (SELECT value,
        (CAST((event_id // 20) % 40 AS DOUBLE) + 0.5) * 0.1 AS lon,
        strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events)
      WHERE lon >= $lo AND lon <= $hi GROUP BY day"""
    s"""${one(0, 0.05, 1.95)}
    UNION ALL ${one(1, 2.05, 3.95)}
    ORDER BY geometry_index, day"""
  }

  /** Per-feature time-series fan-out (the POST /ts/{ds}/{var}/places
    * chain, reference time_series.py:101-119 → 208-219): each "place"
    * is a box geometry; one unioned plan computes every feature's daily
    * series in a single job. 2-D window predicates (lon AND lat) — the
    * spatial fan-out shape that J1 feeds into A1. */
  def tsPlaces(s: SparkSession, d: String): DataFrame = {
    def one(idx: Int, lonLo: Double, lonHi: Double,
            latLo: Double, latHi: Double): DataFrame =
      Tables.events(s, d)
        .withColumn("lon",
          (expr("CAST((event_id div 20) % 40 AS DOUBLE)") + lit(0.5)) * lit(0.1))
        .withColumn("lat",
          (expr("CAST((event_id div 7) % 30 AS DOUBLE)") + lit(0.5)) * lit(0.1))
        .filter(col("lon") >= lonLo && col("lon") <= lonHi &&
          col("lat") >= latLo && col("lat") <= latHi)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_obs"), Q.davg(col("value")).as("avg_value"))
        .withColumn("feature_index", lit(idx))
    one(0, 0.05, 1.95, 0.05, 1.45)
      .unionByName(one(1, 1.05, 2.95, 0.55, 2.45))
      .unionByName(one(2, 3.05, 3.95, 2.05, 2.95))
      .select("feature_index", "day", "n_obs", "avg_value")
      .orderBy("feature_index", "day")
  }

  val tsPlacesSql: String = {
    def one(idx: Int, lonLo: Double, lonHi: Double,
            latLo: Double, latHi: Double) = s"""
      SELECT $idx AS feature_index, day, COUNT(*) AS n_obs,
        ${Sql.davg("value")} AS avg_value
      FROM (SELECT value,
        (CAST((event_id // 20) % 40 AS DOUBLE) + 0.5) * 0.1 AS lon,
        (CAST((event_id // 7) % 30 AS DOUBLE) + 0.5) * 0.1 AS lat,
        strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events)
      WHERE lon >= $lonLo AND lon <= $lonHi
        AND lat >= $latLo AND lat <= $latHi GROUP BY day"""
    s"""${one(0, 0.05, 1.95, 0.05, 1.45)}
    UNION ALL ${one(1, 1.05, 2.95, 0.55, 2.45)}
    UNION ALL ${one(2, 3.05, 3.95, 2.05, 2.95)}
    ORDER BY feature_index, day"""
  }

  // --------------------------------------------------------------- IVF ANN
  /** IVF-style ANN: assign every vector to its coarse cell via the
    * data-driven [[graft.pipeline.IvfIndex]] (k = ceil(n/128) sampled
    * two-level cells, oversized cells re-split), probe only the query's
    * cell, exact-cosine rerank. The scale path: the corpus is written
    * partitioned by cell, so probes read one partition (vs LSH's hash
    * buckets — both ship in graft). */
  def simAnnIvf(s: SparkSession, d: String): DataFrame =
    ivfCellTopK(graft.pipeline.IvfIndex.withCells(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        VecF.normF(col("embedding")).as("norm")),
      "vec_id", "embedding"))

  /** The score+rank contract EVERY cell-probe rerank shares (this
    * module's IVF rankers and [[EngineQueries]]' bitext miner): exact
    * cosine via the codegen dot kernel, rounded to 6 dp BEFORE
    * ranking, rank by (cos desc, neighbor_id) — the arithmetic and
    * tie-break the DuckDB mirrors replay bit-for-bit, kept as ONE
    * definition so a change can never leave a second copy on the old
    * arithmetic. `joined` carries (query_id, neighbor_id, q_vec,
    * c_vec, q_norm, c_norm); join shape (broadcast 20 queries vs
    * co-partitioned half-corpus, self-exclusion) stays caller-owned —
    * it is a scale decision, not part of the contract. Vectors are
    * dropped before the ranking window so its exchange carries only
    * (query_id, neighbor_id, cos). */
  private[queries] def cellScoreTopK(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined.withColumn("cos", round(
        VecF.dotF(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")), 6))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** cell-probe + exact-cosine rerank over an assigned (vec_id,
    * embedding, norm, cell) corpus — shared by the in-flight and the
    * persisted-sidecar index variants (same plan, same oracle). */
  private def ivfCellTopK(base: DataFrame): DataFrame = {
    val queries = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        col("norm").as("q_norm"), col("cell"))
    val joined = base.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"), col("norm").as("c_norm"))
      .join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    cellScoreTopK(joined, 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** [[simAnnIvf]] through the persisted index sidecar
    * ([[graft.pipeline.IvfIndex.cellsSidecar]]): the first query over a
    * corpus snapshot builds and persists the cell assignment
    * (partitioned by cell); every later query loads it with zero jobs
    * over embeddings.parquet and probes only the queried cells'
    * partitions — the build-once/query-many contract a 100 TB ANN
    * service actually runs (asserted plan-level in ScaleSpec). Results
    * are identical to the in-flight variant, so it shares its oracle. */
  def simAnnIvfPersisted(s: SparkSession, d: String): DataFrame =
    ivfCellTopK(graft.pipeline.IvfIndex.cellsSidecar(
      s, s"$d/embeddings.parquet", "ivf-cells-v1",
      "vec_id BIGINT, embedding ARRAY<FLOAT>, norm DOUBLE, cell BIGINT",
      graft.pipeline.IvfIndex.withCells(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
          VecF.normF(col("embedding")).as("norm")),
        "vec_id", "embedding")))

  /** IVF index-quality evaluation: per-query overlap of the IVF top-3
    * against the brute-force cosine truth — the vector-side sibling of
    * `lsh_recall_eval` (an ANN index ships with its recall measured,
    * not assumed). The brute-force side is the sanctioned broadcast
    * baseline (20 query vectors broadcast; the corpus scans once).
    *
    * What it shows on THIS corpus is the point of having it: the
    * driver's synthetic embeddings are near-uniform, and near-uniform
    * high-dimensional data has essentially no neighbor structure
    * (cosine similarities concentrate — the curse of dimensionality),
    * so EVERY sublinear index degrades: measured here, single-probe
    * IVF ≈ 0.32 recall@3, single-bucket LSH ≈ 0.32, and even
    * Hamming-≤2 multi-probe LSH (37 buckets/query) only reaches 0.44.
    * On clustered corpora — the workload ANN indexes exist for — the
    * same shipped parameters measure ≥ 0.9 (SimilarityRecallSpec,
    * n=200 and n=2000). The eval tells a deployment which regime it is
    * in; in the no-structure regime the exact broadcast baseline
    * (`sim_cosine_topk`) is the correct tool, and no index parameter
    * will rescue recall. */
  def ivfRecallEval(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 20)
    // exact-truth denominator through the snapshot-keyed sidecar —
    // built once per corpus snapshot, job-free after (same rationale
    // as lsh_recall_eval's truth side)
    val truth = graft.pipeline.DedupIndex.tableSidecar(
      s, s"$d/embeddings.parquet", "cos-top3-q20-v1",
      "query_id BIGINT, neighbor_id BIGINT",
      graft.pipeline.Similarity
        .bruteForceTopK(emb, probes, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id"))
    // candidate side through the session-scoped assignment (same
    // cells, same results): an EVAL measures the index's recall, not
    // its build time — the in-flight build cost stays sim_ann_ivf's
    // own row, exactly like the truth side riding its sidecar
    val ivf = ivfCellTopK(graft.pipeline.IvfIndex.withCellsSession(
        s, s"$d/embeddings.parquet",
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
          VecF.normF(col("embedding")).as("norm")),
        "vec_id", "embedding"))
      .select("query_id", "neighbor_id")
    val overlap = truth.join(ivf, Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    truth.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(overlap, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_truth"), 6)
          .as("recall_at_3"))
      .orderBy("query_id")
  }

  val ivfRecallEvalSql: String = {
    // ONE definition of the DuckDB dot fold per package: the fold text
    // is the bit-exactness contract with FloatVectorDot — a drifted
    // copy would diverge one oracle's float arithmetic from the engine
    def dot(a: String, b: String): String = PipelineQueries.dotSql(a, b)
    s"""
    WITH ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    e AS (SELECT emb.vec_id, emb.embedding,
      sqrt(${dot("emb.embedding", "emb.embedding")}) AS norm,
      ivf_cells.cell
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    bf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dot("q.embedding", "c.embedding")} / (q.norm * c.norm), 6)
          AS cos
      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id != q.vec_id),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM bf) WHERE rn <= 3),
    ip AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dot("q.embedding", "c.embedding")} / (q.norm * c.norm), 6)
          AS cos
      FROM e q JOIN e c ON q.cell = c.cell
      WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
    ivf AS (SELECT query_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id) AS rn FROM ip) WHERE rn <= 3),
    hits AS (SELECT query_id, COUNT(*) AS n_hit FROM (
      SELECT * FROM truth INTERSECT SELECT * FROM ivf) GROUP BY 1)
    SELECT t.query_id AS query_id, COUNT(*) AS n_truth,
      COALESCE(MAX(n_hit), 0) AS n_hit,
      ROUND(CAST(COALESCE(MAX(n_hit), 0) AS DOUBLE) / COUNT(*), 6)
        AS recall_at_3
    FROM truth t LEFT JOIN hits ON t.query_id = hits.query_id
    GROUP BY 1 ORDER BY 1"""
  }

  val simAnnIvfSql: String = {
    // shared fold text — see ivfRecallEvalSql
    def dotSelf(a: String): String = PipelineQueries.dotSql(a, a)
    def dotAb(a: String, b: String): String = PipelineQueries.dotSql(a, b)
    s"""
    WITH ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    e AS (SELECT emb.vec_id, emb.embedding,
      sqrt(${dotSelf("emb.embedding")}) AS norm,
      ivf_cells.cell
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(${dotAb("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q JOIN e c ON q.cell = c.cell
      WHERE q.vec_id < 20 AND c.vec_id != q.vec_id),
    ranked AS (SELECT *, ROW_NUMBER() OVER
      (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn FROM pairs)
    SELECT query_id, neighbor_id, cos, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3 ORDER BY query_id, rank"""
  }

  // --------------------------------------------------------------- windows
  /** Ranking-window suite: rank, dense_rank, ntile over order values
    * per customer segment (beyond-reference §2.5 coverage). */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .filter(col("rnk") <= 5)
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        col("rnk"), col("drnk"), col("quartile"))
      .orderBy("c_mktsegment", "rnk", "o_orderkey")
  }

  val windowRankSql: String = """
    SELECT c_mktsegment, o_orderkey, o_totalprice,
      CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk,
      CAST(quartile AS INT) AS quartile
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
        RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
        NTILE(4) OVER w AS quartile
      FROM orders JOIN customer ON o_custkey = c_custkey
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey))
    WHERE rnk <= 5
    ORDER BY c_mktsegment, rnk, o_orderkey"""

  /** Correlated-aggregate comparison: orders ≥ 1.5× their customer's
    * average spend (scalar-subquery semantics, computed as a window to
    * stay one-pass). */
  def aboveAvgOrders(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, d)
      .withColumn("cust_avg",
        round(sum(col("o_totalprice").cast(Q.Dec)).over(w).cast("double") /
          count(lit(1)).over(w), 6))
      .filter(col("o_totalprice") >= lit(1.5) * col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("cust_avg"))
      .orderBy("o_orderkey")
  }

  val aboveAvgOrdersSql: String = """
    SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
        ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
          / COUNT(*) OVER w, 6) AS cust_avg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey))
    WHERE o_totalprice >= 1.5 * cust_avg
    ORDER BY o_orderkey"""

  /** Exact distinct aggregates per group. */
  def distinctAggs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        countDistinct(expr("ts_us div 86400000000")).as("n_active_days"))
      .orderBy("event_type")

  val distinctAggsSql: String = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      COUNT(*) AS n_events,
      COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_active_days
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** JSON property extraction from the events.props column (dependency-
    * free substring parse — identical in both engines on the fixed
    * '{"k": N}' shape; the engine-native JSON path functions differ
    * between Spark and DuckDB's extension). */
  def propsExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", expr(
        "CAST(substr(props, 7, length(props) - 7) AS INT)"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), Q.davg(col("value")).as("avg_value"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("k_bucket")

  val propsExtractSql: String = s"""
    WITH p AS (SELECT value,
      CAST(substr(props, 7, length(props) - 7) AS INT) AS k FROM events)
    SELECT k % 10 AS k_bucket, COUNT(*) AS n,
      ${Sql.davg("value")} AS avg_value,
      MIN(k) AS k_min, MAX(k) AS k_max
    FROM p GROUP BY 1 ORDER BY k_bucket"""

  /** Flag-variable bitmask semantics (reference §1.2: quality_flags /
    * c2rcc_flags uint vars tested bitwise): per event_type, how many
    * rows have each of the low 4 bits of a derived flag word set. */
  def flagsBitmask(s: SparkSession, d: String): DataFrame = {
    val flags = expr("event_id % 16")
    Tables.events(s, d)
      .withColumn("flags", flags)
      .groupBy("event_type")
      .agg(
        sum(when(expr("flags % 2") === 1, 1L).otherwise(0L)).as("bit0"),
        sum(when(expr("(flags div 2) % 2") === 1, 1L).otherwise(0L)).as("bit1"),
        sum(when(expr("(flags div 4) % 2") === 1, 1L).otherwise(0L)).as("bit2"),
        sum(when(expr("(flags div 8) % 2") === 1, 1L).otherwise(0L)).as("bit3"))
      .orderBy("event_type")
  }

  val flagsBitmaskSql: String = """
    WITH f AS (SELECT event_type, event_id % 16 AS flags FROM events)
    SELECT event_type,
      CAST(SUM(CASE WHEN flags % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bit0,
      CAST(SUM(CASE WHEN (flags // 2) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bit1,
      CAST(SUM(CASE WHEN (flags // 4) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bit2,
      CAST(SUM(CASE WHEN (flags // 8) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bit3
    FROM f GROUP BY event_type ORDER BY event_type"""

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition;
    * rounded for fp parity). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  val percentilesSql: String = """
    SELECT event_type,
      ROUND(quantile_cont(value, 0.5), 6) AS p50,
      ROUND(quantile_cont(value, 0.9), 6) AS p90,
      ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Fixed-width value histogram (floor-bucketing, shared arithmetic). */
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(floor(col("value") / 25.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value"), 4).as("sum_value"))
      .orderBy("bucket")

  val histogramSql: String = s"""
    SELECT CAST(FLOOR(value / 25.0) AS INT) AS bucket, COUNT(*) AS n,
      ${Sql.dsum("value", 4)} AS sum_value
    FROM events GROUP BY 1 ORDER BY bucket"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("computed_sql_view", computedSqlView, Some(computedSqlViewSql)),
    QuerySpec("catalogue_counts", catalogueCounts, Some(catalogueCountsSql)),
    QuerySpec("dim_current", dimCurrent, Some(dimCurrentSql)),
    QuerySpec("dim_indexer_depth", dimIndexerDepth,
      Some(dimIndexerDepthSql)),
    QuerySpec("stride_decimate", strideDecimate, Some(strideDecimateSql)),
    QuerySpec("mask_valid_range", maskValidRange, Some(maskValidRangeSql)),
    QuerySpec("antimeridian_window", antimeridianWindow,
      Some(antimeridianWindowSql)),
    QuerySpec("ts_multi_geom", tsMultiGeom, Some(tsMultiGeomSql)),
    QuerySpec("ts_places", tsPlaces, Some(tsPlacesSql)),
    QuerySpec("sim_ann_ivf", simAnnIvf, Some(simAnnIvfSql)),
    QuerySpec("sim_ann_ivf_persisted", simAnnIvfPersisted,
      Some(simAnnIvfSql)),
    QuerySpec("ivf_recall_eval", ivfRecallEval, Some(ivfRecallEvalSql)),
    QuerySpec("window_rank", windowRank, Some(windowRankSql)),
    QuerySpec("above_avg_orders", aboveAvgOrders, Some(aboveAvgOrdersSql)),
    QuerySpec("distinct_aggs", distinctAggs, Some(distinctAggsSql)),
    QuerySpec("props_extract", propsExtract, Some(propsExtractSql)),
    QuerySpec("flags_bitmask", flagsBitmask, Some(flagsBitmaskSql)),
    QuerySpec("percentiles", percentiles, Some(percentilesSql)),
    QuerySpec("value_histogram", histogram, Some(histogramSql)))
}
