package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.Skew

/** Second-tier analytics coverage: gaps-and-islands streaks, robust
  * statistics (winsorization, MAD outlier gates), GROUPING SETS,
  * an explicitly salted skew join, and Z-order (Morton) layout keys.
  *
  * Same determinism contract as [[Relational]]: every aggregate is
  * decimal-exact or integer, every output ordered by a unique key,
  * every column aliased identically in Spark and oracle SQL.
  */
object AnalyticsQueries {

  private val UsPerDay = 86400000000L

  // ------------------------------------------------- gaps and islands
  /** Consecutive-day activity streaks per user (the classic
    * gaps-and-islands shape). `day - row_number()` is constant within
    * a run of consecutive days, so one window pass + one groupBy finds
    * every streak — no self-join, no iteration. Scale: the window
    * partitions by user_id (millions of small partitions, never a
    * global sort) and the distinct + window + groupBy all share the
    * user_id hash partitioning, so Catalyst plans a single exchange. */
  def gapsIslands(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    ud.withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(min(col("day")).as("start_day"), count(lit(1)).as("streak_len"))
      .filter(col("streak_len") >= 2)
      .select("user_id", "start_day", "streak_len")
      .orderBy("user_id", "start_day")
  }

  val gapsIslandsSql: String = s"""
    WITH ud AS (SELECT DISTINCT user_id,
        epoch_us(ts) // $UsPerDay AS day FROM events),
    r AS (SELECT user_id, day,
        day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
          AS island
      FROM ud)
    SELECT user_id, MIN(day) AS start_day, COUNT(*) AS streak_len
    FROM r GROUP BY user_id, island
    HAVING COUNT(*) >= 2
    ORDER BY user_id, start_day"""

  // ------------------------------------------------------ winsorize
  /** Per-segment winsorization at [p05, p95]: the robust-clipping gate
    * a curation pipeline applies to heavy-tailed quality scores before
    * averaging. Two passes over the fact: an exact-percentile
    * aggregate (5 segments → tiny result, broadcast back) and the
    * clip+sum pass. Spark `percentile` and DuckDB `quantile_cont`
    * share the linear-interpolation definition; bounds are rounded
    * once and BOTH engines clip against the rounded bounds, so the
    * comparison stays bit-identical. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    // r17-opt: Spread parallelizes both percentile passes AND lets the
    // second pass reuse the first's exchange (identical subtree) —
    // one orders scan instead of two
    val oc = graft.Spread(s, s"$d/orders.parquet", Tables.orders(s, d),
        col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_totalprice").as("x"))
    val bounds = oc.groupBy("segment")
      .agg(round(expr("percentile(x, 0.05)"), 6).as("lo"),
        round(expr("percentile(x, 0.95)"), 6).as("hi"))
    oc.join(broadcast(bounds), Seq("segment"))
      .groupBy("segment")
      .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        count(lit(1)).as("n"),
        count(when(col("x") < col("lo"), 1)).as("n_clipped_lo"),
        count(when(col("x") > col("hi"), 1)).as("n_clipped_hi"),
        Q.dsum(greatest(col("lo"), least(col("hi"), col("x"))))
          .as("sum_winsorized"))
      .orderBy("segment")
  }

  val winsorizeSql: String = s"""
    WITH oc AS (SELECT c_mktsegment AS segment, o_totalprice AS x
        FROM orders JOIN customer ON o_custkey = c_custkey),
    b AS (SELECT segment, ROUND(quantile_cont(x, 0.05), 6) AS lo,
        ROUND(quantile_cont(x, 0.95), 6) AS hi
      FROM oc GROUP BY segment)
    SELECT oc.segment AS segment, MAX(lo) AS lo, MAX(hi) AS hi,
      COUNT(*) AS n,
      COUNT(CASE WHEN x < lo THEN 1 END) AS n_clipped_lo,
      COUNT(CASE WHEN x > hi THEN 1 END) AS n_clipped_hi,
      ${Sql.dsum("GREATEST(lo, LEAST(hi, x))")} AS sum_winsorized
    FROM oc JOIN b ON oc.segment = b.segment
    GROUP BY oc.segment ORDER BY 1"""

  // ---------------------------------------------------- MAD outliers
  /** Median-absolute-deviation outlier gate per segment: robust to the
    * very outliers it hunts (unlike z-scores, whose mean/stddev the
    * outliers drag). Inherently two-pass — MAD needs the median first —
    * so the fact is scanned twice with a 5-row broadcast between; both
    * aggregates are exact percentiles. The 1.4826 factor scales MAD to
    * σ under normality; > 3σ-equivalent flags the outlier. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    // r18 (guide §2.3): MAD is algebraically two-pass, but med, mad
    // AND the outlier count are all functions of the SAME per-segment
    // value multiset — so ONE sorted-values aggregate per segment
    // replaces three full fact scans plus two percentile
    // broadcast-join rounds. The per-group state is NOT the exact
    // `percentile` buffer: that one keeps a (value → count) map, one
    // entry per DISTINCT value, while `collect_list` buffers EVERY row
    // of the segment (and ships every row through the exchange into
    // the 5 reducer groups), so per-task memory grows with rows, not
    // distinct values. The documented 100 TB swap point
    // (approx_percentile) still applies.
    // `interp` replicates PercentileBase.getPercentile bit-for-bit:
    //   pos = p·(n−1); (ceil(pos)−pos)·lo + (pos−floor(pos))·hi
    // (o_totalprice is DECIMAL(12,2) — exact in double, so the cast
    // neither reorders values nor changes toDoubleValue). The
    // MadOutliersSpec equivalence test pins new == old on every SF.
    val oc = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_totalprice").cast("double").as("x"))
    def interp(arr: Column, n: Column): Column = {
      val pos = lit(0.5) * (n - lit(1)).cast("double")
      val li = floor(pos)
      val hi = ceil(pos)
      val lo = element_at(arr, li.cast("int") + 1)
      val hv = element_at(arr, hi.cast("int") + 1)
      when(hi === li, lo)
        .otherwise((hi.cast("double") - pos) * lo +
          (pos - li.cast("double")) * hv)
    }
    oc.groupBy("segment")
      .agg(sort_array(collect_list(col("x"))).as("xs"))
      .withColumn("n", size(col("xs")))
      .withColumn("med", round(interp(col("xs"), col("n")), 6))
      .withColumn("ads", array_sort(transform(col("xs"),
        v => abs(v - col("med")))))
      .withColumn("mad", round(interp(col("ads"), col("n")), 6))
      .select(col("segment"), col("med"), col("mad"),
        col("n").cast("long").as("n"),
        size(filter(col("ads"),
          v => v > lit(3.0) * lit(1.4826) * col("mad")))
          .cast("long").as("n_outliers"))
      .orderBy("segment")
  }

  val madOutliersSql: String = """
    WITH oc AS (SELECT c_mktsegment AS segment, o_totalprice AS x
        FROM orders JOIN customer ON o_custkey = c_custkey),
    m AS (SELECT segment, ROUND(quantile_cont(x, 0.5), 6) AS med
      FROM oc GROUP BY segment),
    dev AS (SELECT oc.segment, ABS(x - med) AS ad, med
      FROM oc JOIN m ON oc.segment = m.segment),
    md AS (SELECT segment, ROUND(quantile_cont(ad, 0.5), 6) AS mad
      FROM dev GROUP BY segment)
    SELECT dev.segment AS segment, MAX(dev.med) AS med, MAX(mad) AS mad,
      COUNT(*) AS n,
      COUNT(CASE WHEN ad > 3.0 * 1.4826 * mad THEN 1 END) AS n_outliers
    FROM dev JOIN md ON dev.segment = md.segment
    GROUP BY dev.segment ORDER BY 1"""

  // -------------------------------------------------- GROUPING SETS
  /** Explicit GROUPING SETS (nation × year, nation, grand total) with
    * `grouping_id` — the general form of [[Relational.aggRollup]]'s
    * ROLLUP. One aggregation pass: Catalyst expands the sets via a
    * single Expand node (3× map-side rows, still partial-aggregated),
    * not three scans. */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("n_name"), col("yr")), Seq(col("n_name")), Seq.empty),
        col("n_name"), col("yr"))
      .agg(grouping_id().cast("bigint").as("gid"),
        Q.dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("yr"), lit(-1)).as("yr"),
        col("gid"), col("revenue"), col("n_orders"))
      .orderBy("gid", "nation", "yr")

  val aggGroupingSetsSql: String = s"""
    WITH base AS (SELECT n_name,
        CAST(year(o_orderdate) AS INT) AS yr, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey)
    SELECT COALESCE(n_name, 'ALL') AS nation,
      COALESCE(yr, -1) AS yr,
      CAST(GROUPING(n_name, yr) AS BIGINT) AS gid,
      ${Sql.dsum("o_totalprice")} AS revenue,
      COUNT(*) AS n_orders
    FROM base
    GROUP BY GROUPING SETS ((n_name, yr), (n_name), ())
    ORDER BY gid, nation, yr"""

  // -------------------------------------------------- salted skew join
  /** Power-law fact⋈dim with an explicit 16-way salt
    * ([[graft.operators.Skew.saltedJoin]], the always-on explicit form
    * of the probe-gated auto-salting): events (skewed by user) against
    * a per-user cohort dimension. The salt is plan-visible — the join
    * keys become (user_id, __salt) — and the result is row-identical
    * to the unsalted join, which is exactly what the oracle checks:
    * the SQL below is the PLAIN join, so the gate proves the rewrite
    * changes the physics, not the answer. */
  def skewSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        expr(s"ts_us div $UsPerDay").as("day"))
    val profile = ev.groupBy("user_id")
      .agg(min(col("day")).as("cohort_day"))
    Skew.saltedJoin(ev, profile, "user_id", "event_id", 16)
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Q.dsum(col("value"), 4).as("sum_value"))
      .orderBy("cohort_day")
  }

  val skewSaltedJoinSql: String = s"""
    WITH ev AS (SELECT event_id, user_id, value,
        epoch_us(ts) // $UsPerDay AS day FROM events),
    p AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
    SELECT cohort_day, COUNT(*) AS n_events,
      COUNT(DISTINCT ev.user_id) AS n_users,
      ${Sql.dsum("value", 4)} AS sum_value
    FROM ev JOIN p USING (user_id)
    GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------- Z-order layout
  /** Morton (Z-order) layout keys over (partkey, suppkey): interleave
    * the bits of two 10-bit range-binned dimensions so that sorting by
    * the single zkey co-locates rows that are close in BOTH dimensions
    * — the standard multi-dimensional clustering trick (Delta/Iceberg
    * `ZORDER BY`) that turns two-column range predicates into file
    * skips. The query emits, per 64th of the z-range, the bounding
    * rectangle (min/max of each dimension) — small and bounded is the
    * whole point: each z-run covers a compact rect, so per-file
    * min/max stats prune both columns. The interleave is the codegen
    * constant-time mask cascade [[graft.functions.MortonInterleave]] —
    * pure map-side arithmetic fused into the scan's codegen stage, no
    * shuffle until the 64-row aggregate. */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
    val mx = li.agg(max(col("l_partkey")).as("mp"),
      max(col("l_suppkey")).as("ms"))
    li.crossJoin(broadcast(mx))
      .select(expr("(l_partkey * 1024) div (mp + 1)").as("xb"),
        expr("(l_suppkey * 1024) div (ms + 1)").as("yb"))
      .withColumn("zkey",
        graft.functions.Morton.interleave(col("xb"), col("yb"), 10))
      .groupBy(expr("shiftright(zkey, 14)").cast("int").as("zrange"))
      .agg(count(lit(1)).as("n"),
        min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
        min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
      .orderBy("zrange")
  }

  val zorderLayoutSql: String = """
    WITH m AS (SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms
        FROM lineitem),
    b AS (SELECT (l_partkey * 1024) // (mp + 1) AS xb,
                 (l_suppkey * 1024) // (ms + 1) AS yb
      FROM lineitem CROSS JOIN m),
    z AS (SELECT xb, yb, CAST(list_sum(
        [(((xb >> CAST(i AS INT)) & 1) << CAST(2 * i AS INT))
         + (((yb >> CAST(i AS INT)) & 1) << CAST(2 * i + 1 AS INT))
         FOR i IN range(0, 10)]) AS BIGINT) AS zkey
      FROM b)
    SELECT CAST(zkey >> 14 AS INT) AS zrange, COUNT(*) AS n,
      MIN(xb) AS x_min, MAX(xb) AS x_max,
      MIN(yb) AS y_min, MAX(yb) AS y_max
    FROM z GROUP BY 1 ORDER BY zrange"""

  // --------------------------------------------- last-touch attribution
  /** Last-touch attribution: each purchase is credited to the user's
    * most recent NON-purchase event at-or-before it, if that touch is
    * within a 1-hour lookback — else 'none'. One window pass per user
    * (`last(..., ignoreNulls)` over rows-unbounded-preceding carries
    * the running last touch), so unlike a purchases×touches as-of
    * join there is no second shuffle and no range join: the classic
    * streaming-style "carry state down the partition" formulation.
    * Ordering ties (same ts) break by event_id identically in both
    * engines. */
  def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col("event_type") =!= "purchase", col("ts_us"))
    val touchType = when(col("event_type") =!= "purchase", col("event_type"))
    ev.withColumn("t_ts", last(touch, ignoreNulls = true).over(w))
      .withColumn("t_type", last(touchType, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        when(col("t_ts").isNotNull &&
          col("t_ts") >= col("ts_us") - lit(3600000000L), col("t_type"))
          .otherwise(lit("none")))
      .groupBy("attributed")
      .agg(count(lit(1)).as("n_purchases"),
        Q.dsum(col("value"), 4).as("sum_value"))
      .orderBy("attributed")
  }

  val eventsAttributionSql: String = s"""
    WITH ev AS (SELECT event_id, user_id, event_type,
        epoch_us(ts) AS ts_us, value FROM events),
    tr AS (SELECT event_type, ts_us, value,
        last_value(CASE WHEN event_type <> 'purchase' THEN ts_us END
          IGNORE NULLS) OVER w AS t_ts,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
          IGNORE NULLS) OVER w AS t_type
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CASE WHEN t_ts IS NOT NULL AND t_ts >= ts_us - 3600000000
        THEN t_type ELSE 'none' END AS attributed,
      COUNT(*) AS n_purchases,
      ${Sql.dsum("value", 4)} AS sum_value
    FROM tr WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY attributed"""

  // ------------------------------------------- content-keyed splits
  /** Deterministic train/val/test assignment keyed by CONTENT hash
    * (bucket = polyhash(text) mod 100 → 80/10/10): byte-identical
    * documents always land in the same split, so exact duplicates can
    * never leak across the train/test boundary — the property an
    * id- or random-keyed split silently lacks, and the reason
    * [[PipelineQueries]]'s split_leakage audit exists. The hash is the
    * codegen [[graft.functions.PolyHash]] scan kernel: assignment adds
    * zero shuffles, the only exchange is the small (source × split)
    * aggregate. */
  def splitAssign(s: SparkSession, d: String): DataFrame = {
    val b = pmod(graft.functions.HashF.polyHash(col("text")), lit(100L))
    Tables.documents(s, d)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source", "split")
  }

  val splitAssignSql: String = {
    val b = s"(${graft.pipeline.TextHash.polyHashSql("text")}) % 100"
    s"""
    WITH assigned AS (SELECT source, lang, n_chars,
        CASE WHEN $b < 80 THEN 'train'
             WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
      FROM documents)
    SELECT source, split, COUNT(*) AS n_docs,
      COUNT(DISTINCT lang) AS n_langs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY source, split ORDER BY source, split"""
  }

  // ------------------------------------------------ kNN label spread
  /** kNN label propagation (the standard semi-supervised labeling
    * pass): unlabeled vectors (ids ≥ 400 play that role) take the
    * majority label of their 5 nearest labeled neighbors by cosine.
    * Neighbor candidates come from the SAME data-driven IVF cells as
    * dedup_semantic ([[graft.pipeline.IvfIndex]]) — an equality join
    * on `cell`, never an all-pairs scan, so candidate work stays
    * n·cellPop at any corpus size. Vote ties break toward the smaller
    * label; `correct` compares against the held-out true label. */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    // session-scoped assignment reuse: same cells as dedup_semantic /
    // hard_negatives, built once per corpus snapshot per JVM
    val base = graft.pipeline.IvfIndex.withCellsSession(
      s, s"$d/embeddings.parquet",
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        col("label"),
        graft.functions.VecF.normF(col("embedding")).as("norm")),
      "vec_id", "embedding")
    val q = base.filter(col("vec_id") >= 400)
      .select(col("cell"), col("vec_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("label").as("actual"))
    val l = base.filter(col("vec_id") < 400)
      .select(col("cell"), col("vec_id").as("nbr_id"),
        col("embedding").as("le"), col("norm").as("ln"),
        col("label").as("nbr_label"))
    val wTop = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("nbr_id"))
    val wVote = Window.partitionBy("vec_id")
      .orderBy(col("votes").desc, col("nbr_label"))
    q.join(l, Seq("cell"))
      .withColumn("cos", round(
        graft.functions.VecF.dotF(col("qe"), col("le")) /
          (col("qn") * col("ln")), 6))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 5)
      .groupBy("vec_id", "actual", "nbr_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("vec_id"), col("nbr_label").as("predicted"),
        col("actual"),
        (col("nbr_label") === col("actual")).as("correct"))
      .orderBy("vec_id")
  }

  val knnClassifySql: String = s"""
    WITH ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    e AS (SELECT emb.vec_id, emb.embedding, emb.label, ivf_cells.cell,
      sqrt(${PipelineQueries.dotSql("emb.embedding", "emb.embedding")}) AS norm
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    pairs AS (SELECT q.vec_id, q.label AS actual,
        c.vec_id AS nbr_id, c.label AS nbr_label,
        ROUND(${PipelineQueries.dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q JOIN e c ON q.cell = c.cell
      WHERE q.vec_id >= 400 AND c.vec_id < 400),
    top5 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY cos DESC, nbr_id) AS rn FROM pairs QUALIFY rn <= 5),
    votes AS (SELECT vec_id, actual, nbr_label, COUNT(*) AS votes
      FROM top5 GROUP BY 1, 2, 3),
    winner AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY votes DESC, nbr_label) AS vr FROM votes QUALIFY vr = 1)
    SELECT vec_id, nbr_label AS predicted, actual,
      nbr_label = actual AS correct
    FROM winner ORDER BY vec_id"""

  // --------------------------------------------- histogram quantiles
  /** Mergeable fixed-width histogram quantile sketch: 1024 equi-width
    * buckets per group (two passes: a global min/max scalar, then one
    * map-side-combinable (type, bucket) count), quantile estimate =
    * upper edge of the first bucket whose cumulative count reaches
    * q·n. Unlike the exact `percentiles` query — which shuffles every
    * VALUE to sort inside each group — the sketch ships at most
    * 1024 counts per group regardless of corpus size, the same
    * constant-state contract as the KMV/CMS sketches; the oracle
    * replays the identical bucket arithmetic AND pins the estimate's
    * error against the exact quantile. */
  def sketchQuantile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val mm = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val hist = ev.crossJoin(broadcast(mm))
      .withColumn("b", least(lit(1023), floor(
        (col("value") - col("mn")) * lit(1024.0) / (col("mx") - col("mn"))))
        .cast("int"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy("b")
    val wTot = Window.partitionBy("event_type")
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wTot))
      .crossJoin(broadcast(mm))
    def est(q: Double) = round(
      max(col("mn")) + (min(when(col("cum") >= lit(q) * col("tot"), col("b")))
        + 1) * (max(col("mx")) - max(col("mn"))) / lit(1024.0), 6)
    val sk = cum.groupBy("event_type")
      .agg(est(0.5).as("p50_est"), est(0.9).as("p90_est"),
        est(0.99).as("p99_est"))
    val exact = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
        round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
        round(expr("percentile(value, 0.99)"), 6).as("p99_exact"))
    sk.join(exact, Seq("event_type"))
      .select(col("event_type"), col("p50_est"), col("p50_exact"),
        col("p90_est"), col("p90_exact"), col("p99_est"), col("p99_exact"),
        round(abs(col("p50_est") - col("p50_exact")), 6).as("p50_err"))
      .orderBy("event_type")
  }

  val sketchQuantileSql: String = """
    WITH mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    hist AS (SELECT event_type,
        CAST(LEAST(1023, FLOOR((value - mn) * 1024.0 / (mx - mn)))
          AS INT) AS b, COUNT(*) AS c
      FROM events CROSS JOIN mm GROUP BY 1, 2),
    cum AS (SELECT event_type, b, c,
        SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
        SUM(c) OVER (PARTITION BY event_type) AS tot
      FROM hist),
    sk AS (SELECT event_type,
        ROUND(mn + (MIN(CASE WHEN cum >= 0.5 * tot THEN b END) + 1)
          * (mx - mn) / 1024.0, 6) AS p50_est,
        ROUND(mn + (MIN(CASE WHEN cum >= 0.9 * tot THEN b END) + 1)
          * (mx - mn) / 1024.0, 6) AS p90_est,
        ROUND(mn + (MIN(CASE WHEN cum >= 0.99 * tot THEN b END) + 1)
          * (mx - mn) / 1024.0, 6) AS p99_est
      FROM cum CROSS JOIN mm GROUP BY event_type, mn, mx),
    exact AS (SELECT event_type,
        ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
        ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
        ROUND(quantile_cont(value, 0.99), 6) AS p99_exact
      FROM events GROUP BY event_type)
    SELECT sk.event_type AS event_type, p50_est, p50_exact,
      p90_est, p90_exact, p99_est, p99_exact,
      ROUND(ABS(p50_est - p50_exact), 6) AS p50_err
    FROM sk JOIN exact ON sk.event_type = exact.event_type
    ORDER BY 1"""

  // ------------------------------------------------ z-order pruning
  /** Quantifies what the [[zorderLayout]] key buys: partition lineitem
    * into 64 files under two layouts — Z-ORDER (zkey range per file)
    * vs LINEAR (range-partitioned on the leading column xb) — compute
    * each file's min/max column stats, and count the files a reader
    * must scan for (a) a yb-only range predicate and (b) an xb AND yb
    * rectangle. The point the numbers make: linear layout prunes
    * nothing for a predicate on the non-leading column (64/64 files),
    * z-order bounds both dimensions in every file (~⅛ of files for an
    * ⅛-range predicate). Stats-building is one aggregate per layout;
    * the evaluation is arithmetic over 64-row stat tables. */
  def zorderPruneEval(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
    val mx = li.agg(max(col("l_partkey")).as("mp"),
      max(col("l_suppkey")).as("ms"))
    val binned = li.crossJoin(broadcast(mx))
      .select(expr("(l_partkey * 1024) div (mp + 1)").as("xb"),
        expr("(l_suppkey * 1024) div (ms + 1)").as("yb"))
      .withColumn("zkey",
        graft.functions.Morton.interleave(col("xb"), col("yb"), 10))
      .withColumn("zfile", expr("shiftright(zkey, 14)").cast("int"))
    // predicates: (a) yb in [512, 639]; (b) that AND xb in [256, 383]
    def stats(fileCol: Column, layout: String) = binned
      .groupBy(fileCol.as("f"))
      .agg(min(col("xb")).as("x0"), max(col("xb")).as("x1"),
        min(col("yb")).as("y0"), max(col("yb")).as("y1"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("y1") >= 512 && col("y0") <= 639, 1L).otherwise(0L))
          .as("scanned_y_range"),
        sum(when(col("y1") >= 512 && col("y0") <= 639 &&
          col("x1") >= 256 && col("x0") <= 383, 1L).otherwise(0L))
          .as("scanned_xy_rect"))
      .select(lit(layout).as("layout"), col("n_files"),
        col("scanned_y_range"), col("scanned_xy_rect"))
    stats(col("zfile"), "zorder")
      .unionByName(stats(expr("shiftright(xb, 4)").cast("int"), "linear_x"))
      .orderBy("layout")
  }

  val zorderPruneEvalSql: String = """
    WITH m AS (SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms
        FROM lineitem),
    b AS (SELECT (l_partkey * 1024) // (mp + 1) AS xb,
                 (l_suppkey * 1024) // (ms + 1) AS yb
      FROM lineitem CROSS JOIN m),
    z AS (SELECT xb, yb, CAST(CAST(list_sum(
        [(((xb >> CAST(i AS INT)) & 1) << CAST(2 * i AS INT))
         + (((yb >> CAST(i AS INT)) & 1) << CAST(2 * i + 1 AS INT))
         FOR i IN range(0, 10)]) AS BIGINT) >> 14 AS INT) AS zfile,
        CAST(xb >> 4 AS INT) AS lfile
      FROM b),
    zs AS (SELECT zfile AS f, MIN(xb) AS x0, MAX(xb) AS x1,
        MIN(yb) AS y0, MAX(yb) AS y1 FROM z GROUP BY 1),
    ls AS (SELECT lfile AS f, MIN(xb) AS x0, MAX(xb) AS x1,
        MIN(yb) AS y0, MAX(yb) AS y1 FROM z GROUP BY 1),
    ev AS (
      SELECT 'zorder' AS layout, COUNT(*) AS n_files,
        CAST(SUM(CASE WHEN y1 >= 512 AND y0 <= 639 THEN 1 ELSE 0 END)
          AS BIGINT) AS scanned_y_range,
        CAST(SUM(CASE WHEN y1 >= 512 AND y0 <= 639
          AND x1 >= 256 AND x0 <= 383 THEN 1 ELSE 0 END)
          AS BIGINT) AS scanned_xy_rect
      FROM zs
      UNION ALL
      SELECT 'linear_x', COUNT(*),
        CAST(SUM(CASE WHEN y1 >= 512 AND y0 <= 639 THEN 1 ELSE 0 END)
          AS BIGINT),
        CAST(SUM(CASE WHEN y1 >= 512 AND y0 <= 639
          AND x1 >= 256 AND x0 <= 383 THEN 1 ELSE 0 END) AS BIGINT)
      FROM ls)
    SELECT layout, n_files, scanned_y_range, scanned_xy_rect
    FROM ev ORDER BY layout"""

  // --------------------------------------------------- RFM segments
  /** RFM (recency / frequency / monetary) customer segmentation: one
    * aggregate builds the per-customer profile, quartile THRESHOLDS
    * come from an exact-percentile aggregate over that profile (4-row
    * broadcast) and scores are threshold comparisons — deliberately
    * NOT `ntile`, whose global-ordering window cannot scale past one
    * partition. Output is the (r, f, m) score-cell summary. Recency is
    * in days before the corpus's last order date (integer — no tz
    * arithmetic). */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val prof = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(expr(
          // NTZ→LTZ is a wall-clock identity under the pinned UTC session
          "unix_micros(cast(o_orderdate as timestamp_ltz)) div 86400000000"))
          .as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast(graft.Q.Dec)).as("monetary"))
    val maxDay = prof.agg(max(col("last_day")).as("max_day"))
    val p = prof.crossJoin(broadcast(maxDay))
      .select((col("max_day") - col("last_day")).as("recency"),
        col("freq"), col("monetary"))
    val th = p.agg(
      round(expr("percentile(recency, 0.5)"), 6).as("r_med"),
      round(expr("percentile(freq, 0.5)"), 6).as("f_med"),
      round(expr("percentile(cast(monetary as double), 0.5)"), 6)
        .as("m_med"))
    p.crossJoin(broadcast(th))
      .select(
        when(col("recency") <= col("r_med"), 2).otherwise(1).as("r_score"),
        when(col("freq") > col("f_med"), 2).otherwise(1).as("f_score"),
        when(col("monetary").cast("double") > col("m_med"), 2)
          .otherwise(1).as("m_score"),
        col("monetary"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("monetary")), 2).cast("double").as("sum_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSegmentsSql: String = """
    WITH prof AS (SELECT o_custkey,
        MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        COUNT(*) AS freq,
        SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS monetary
      FROM orders GROUP BY 1),
    md AS (SELECT MAX(last_day) AS max_day FROM prof),
    p AS (SELECT max_day - last_day AS recency, freq, monetary
      FROM prof CROSS JOIN md),
    th AS (SELECT ROUND(quantile_cont(recency, 0.5), 6) AS r_med,
        ROUND(quantile_cont(freq, 0.5), 6) AS f_med,
        ROUND(quantile_cont(CAST(monetary AS DOUBLE), 0.5), 6) AS m_med
      FROM p)
    SELECT CASE WHEN recency <= r_med THEN 2 ELSE 1 END AS r_score,
      CASE WHEN freq > f_med THEN 2 ELSE 1 END AS f_score,
      CASE WHEN CAST(monetary AS DOUBLE) > m_med THEN 2 ELSE 1 END
        AS m_score,
      COUNT(*) AS n_customers,
      CAST(ROUND(SUM(monetary), 2) AS DOUBLE) AS sum_monetary
    FROM p CROSS JOIN th
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ------------------------------------------------ snapshot upsert
  /** CDC-style MERGE between corpus snapshots: a change feed of
    * updates (docs truncated to their first 20 words), deletes and
    * inserts resolves against the old snapshot in ONE full-outer hash
    * join on doc_id. Scale contract: the change rows carry (id, op,
    * new_len) — lengths computed map-side on the scan — so NO exchange
    * carries document text (the registry audit enforces this); a
    * production merge that must move payloads co-locates both
    * snapshots bucketed by id instead (ScaleSpec's bucketed-join
    * property). Output is the per-(source, op) merge audit. */
  def snapshotUpsert(s: SparkSession, d: String): DataFrame = {
    val old = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val mid = Tables.documents(s, d).agg(max(col("doc_id")).as("mid"))
    val truncLen = length(array_join(
      slice(split(col("text"), " "), 1, 20), " ")).cast("long")
    val upd = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("update").as("op"),
        truncLen.as("new_len"))
    val del = Tables.documents(s, d).filter(col("doc_id") % 10 === 1)
      .select(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("long").as("new_len"))
    val ins = Tables.documents(s, d).filter(col("doc_id") % 10 === 2)
      .crossJoin(broadcast(mid))
      .select((col("doc_id") + col("mid") + 1).as("doc_id"),
        lit("insert").as("op"), col("n_chars").as("new_len"))
    val changes = upd.unionByName(del).unionByName(ins)
    old.join(changes, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("op"), lit("keep")).as("op"),
        coalesce(col("source"), lit("new")).as("source"),
        when(col("op").isNull, col("n_chars"))
          .when(col("op") === "delete", lit(0L))
          .otherwise(col("new_len")).as("chars_after"))
      .groupBy("source", "op")
      .agg(count(lit(1)).as("n"), sum(col("chars_after")).as("sum_chars"))
      .orderBy("source", "op")
  }

  val snapshotUpsertSql: String = """
    WITH mid AS (SELECT MAX(doc_id) AS mid FROM documents),
    upd AS (SELECT doc_id, 'update' AS op,
        CAST(length(array_to_string(
          list_slice(string_split(text, ' '), 1, 20), ' ')) AS BIGINT)
          AS new_len
      FROM documents WHERE doc_id % 10 = 0),
    del AS (SELECT doc_id, 'delete' AS op, CAST(NULL AS BIGINT) AS new_len
      FROM documents WHERE doc_id % 10 = 1),
    ins AS (SELECT doc_id + mid + 1 AS doc_id, 'insert' AS op,
        CAST(n_chars AS BIGINT) AS new_len
      FROM documents CROSS JOIN mid WHERE doc_id % 10 = 2),
    changes AS (SELECT * FROM upd UNION ALL SELECT * FROM del
      UNION ALL SELECT * FROM ins),
    old AS (SELECT doc_id, source, n_chars FROM documents)
    SELECT COALESCE(old.source, 'new') AS source,
      COALESCE(changes.op, 'keep') AS op,
      COUNT(*) AS n,
      CAST(SUM(CASE WHEN changes.op IS NULL THEN old.n_chars
        WHEN changes.op = 'delete' THEN 0
        ELSE changes.new_len END) AS BIGINT) AS sum_chars
    FROM old FULL OUTER JOIN changes ON old.doc_id = changes.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------- CUSUM change points
  /** CUSUM change-point detection per event type: cumulative sum of
    * (hourly count − mean hourly count); the hour where |CUSUM| peaks
    * is the classic Page-test estimate of where the rate shifted. The
    * corpus-scale work is one (type, hour) count aggregate; the CUSUM
    * runs over the per-type HOURLY table (already thousands of rows
    * per year, not corpus-sized) under a type-partitioned window.
    * Deviations are rounded once and summed in DECIMAL, so the running
    * sum is order-exact in both engines. */
  def eventsCusum(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("ts_us div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy("event_type")
    val wCum = Window.partitionBy("event_type").orderBy("hour")
    val dev = hourly
      .withColumn("mean_n", round(
        sum(col("n")).over(wTot).cast("double") /
          count(lit(1)).over(wTot), 6))
      .withColumn("cusum",
        sum(round(col("n") - col("mean_n"), 6).cast(graft.Q.Dec))
          .over(wCum))
    dev.withColumn("max_abs", max(abs(col("cusum"))).over(wTot))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(max(col("max_abs")).cast("double"), 6).as("max_cusum"),
        min(when(abs(col("cusum")) === col("max_abs"), col("hour")))
          .as("cp_hour"))
      .orderBy("event_type")
  }

  val eventsCusumSql: String = """
    WITH hourly AS (SELECT event_type,
        epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    dev AS (SELECT event_type, hour, n,
        ROUND(CAST(SUM(n) OVER w AS DOUBLE)
          / COUNT(*) OVER w, 6) AS mean_n
      FROM hourly WINDOW w AS (PARTITION BY event_type)),
    cs AS (SELECT event_type, hour,
        SUM(CAST(ROUND(n - mean_n, 6) AS DECIMAL(38,6)))
          OVER (PARTITION BY event_type ORDER BY hour) AS cusum
      FROM dev),
    mx AS (SELECT event_type, hour, cusum,
        MAX(ABS(cusum)) OVER (PARTITION BY event_type) AS max_abs
      FROM cs)
    SELECT event_type, COUNT(*) AS n_hours,
      ROUND(CAST(MAX(max_abs) AS DOUBLE), 6) AS max_cusum,
      MIN(CASE WHEN ABS(cusum) = max_abs THEN hour END) AS cp_hour
    FROM mx GROUP BY event_type ORDER BY event_type"""

  // ------------------------------------------------- set operators
  /** Churn/retention via genuine set operators: customers active in
    * 1995 EXCEPT 1996 (churned), INTERSECT (retained), 1996 EXCEPT
    * 1995 (new) — Spark plans except/intersect as left-anti /
    * left-semi hash joins over the distinct sets, so the shape is two
    * aggregates + key-only joins (no payload movement). */
  def setOpsChurn(s: SparkSession, d: String): DataFrame = {
    def active(yr: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === yr)
      .select("o_custkey").distinct()
    val a = active(1995)
    val b = active(1996)
    val churned = a.except(b).withColumn("status", lit("churned"))
    val retained = a.intersect(b).withColumn("status", lit("retained"))
    val fresh = b.except(a).withColumn("status", lit("new"))
    churned.unionByName(retained).unionByName(fresh)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("status", "c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("status", "c_mktsegment")
  }

  val setOpsChurnSql: String = """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
      WHERE year(o_orderdate) = 1995),
    b AS (SELECT DISTINCT o_custkey FROM orders
      WHERE year(o_orderdate) = 1996),
    labeled AS (
      SELECT o_custkey, 'churned' AS status FROM (
        SELECT * FROM a EXCEPT SELECT * FROM b)
      UNION ALL
      SELECT o_custkey, 'retained' FROM (
        SELECT * FROM a INTERSECT SELECT * FROM b)
      UNION ALL
      SELECT o_custkey, 'new' FROM (
        SELECT * FROM b EXCEPT SELECT * FROM a))
    SELECT status, c_mktsegment, COUNT(*) AS n_customers
    FROM labeled JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------- unpivot
  /** UNPIVOT (wide → long): per-segment aggregate metrics stacked to
    * (segment, metric, value) rows via `stack` — one Expand node, no
    * join; the inverse of events_pivot's PIVOT. */
  def unpivotMetrics(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
        Q.dsum(col("o_totalprice")).as("revenue"),
        Q.davg(col("o_totalprice"), 2).as("avg_price"))
      .select(col("segment"), expr(
        """stack(3, 'n_orders', n_orders, 'revenue', revenue,
          |'avg_price', avg_price) AS (metric, value)""".stripMargin))
      .orderBy("segment", "metric")

  val unpivotMetricsSql: String = s"""
    WITH wide AS (SELECT c_mktsegment AS segment,
        CAST(COUNT(*) AS DOUBLE) AS n_orders,
        ${Sql.dsum("o_totalprice")} AS revenue,
        ${Sql.davg("o_totalprice", 2)} AS avg_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1)
    SELECT segment, metric, value FROM wide
    UNPIVOT (value FOR metric IN (n_orders, revenue, avg_price))
    ORDER BY segment, metric"""

  // --------------------------------------------- data-quality report
  /** Expectation-suite audit (the Great-Expectations shape): each rule
    * is one aggregate — key uniqueness, null rate, value range,
    * referential integrity (orphan orders via left-anti join) — and
    * the report is their union: (rule, n_checked, n_violations).
    * Every rule is map-side-combinable or a key-only anti join; no
    * rule ships payload columns, so the audit costs about one scan per
    * table at any corpus size. */
  def dataQualityReport(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def rule(name: String, checked: DataFrame): DataFrame =
      checked.select(lit(name).as("rule"), col("n_checked"),
        col("n_violations"))
    val keyUnique = rule("orders.o_orderkey unique",
      orders.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_checked"),
          sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
            .as("n_violations")))
    val notNull = rule("lineitem.l_quantity not null",
      li.agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
          .as("n_violations")))
    val range = rule("lineitem.l_discount in [0, 0.1]",
      li.agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("n_violations")))
    val refInt = rule("lineitem.l_orderkey references orders",
      li.select(col("l_orderkey")).agg(count(lit(1)).as("n_checked"))
        .crossJoin(broadcast(
          li.select("l_orderkey")
            .join(orders.select("o_orderkey"),
              col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("n_violations")))))
    keyUnique.unionByName(notNull).unionByName(range).unionByName(refInt)
      .orderBy("rule")
  }

  val dataQualityReportSql: String = """
    SELECT * FROM (
      SELECT 'orders.o_orderkey unique' AS rule,
        CAST(SUM(c) AS BIGINT) AS n_checked,
        CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
          AS n_violations
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'lineitem.l_quantity not null', COUNT(*),
        CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
          AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_discount in [0, 0.1]', COUNT(*),
        CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_orderkey references orders',
        (SELECT COUNT(*) FROM lineitem),
        (SELECT COUNT(*) FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
    ORDER BY rule"""

  // -------------------------------------------- hard-negative mining
  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the 3 most-similar vectors with a DIFFERENT label — the
    * negatives that actually teach the margin (random negatives are
    * trivially separable). Candidates come from the same data-driven
    * IVF cells as dedup_semantic / knn_classify: an equality join on
    * `cell`, never an all-pairs scan; per-anchor top-3 through a
    * WindowGroupLimit partial top-k. Anchors are ids < 20 (the same
    * probe set sim_ann_ivf uses). */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    // session-scoped assignment reuse: same cells as dedup_semantic /
    // knn_classify, built once per corpus snapshot per JVM
    val base = graft.pipeline.IvfIndex.withCellsSession(
      s, s"$d/embeddings.parquet",
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        col("label"),
        graft.functions.VecF.normF(col("embedding")).as("norm")),
      "vec_id", "embedding")
    val q = base.filter(col("vec_id") < 20)
      .select(col("cell"), col("vec_id").as("anchor_id"),
        col("embedding").as("qe"), col("norm").as("qn"),
        col("label").as("anchor_label"))
    val c = base
      .select(col("cell"), col("vec_id").as("neg_id"),
        col("embedding").as("ce"), col("norm").as("cn"),
        col("label").as("neg_label"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("neg_id"))
    q.join(c, Seq("cell"))
      .filter(col("neg_label") =!= col("anchor_label"))
      .withColumn("cos", round(
        graft.functions.VecF.dotF(col("qe"), col("ce")) /
          (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("cos"), col("rn").cast("int").as("rank"))
      .orderBy("anchor_id", "rank")
  }

  val hardNegativesSql: String = s"""
    WITH ${graft.pipeline.IvfIndex.cellsSqlCtes(
        "embeddings", "vec_id", "embedding")},
    e AS (SELECT emb.vec_id, emb.embedding, emb.label, ivf_cells.cell,
      sqrt(${PipelineQueries.dotSql("emb.embedding", "emb.embedding")}) AS norm
      FROM embeddings emb JOIN ivf_cells ON emb.vec_id = ivf_cells.id),
    pairs AS (SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
        c.vec_id AS neg_id, c.label AS neg_label,
        ROUND(${PipelineQueries.dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm), 6) AS cos
      FROM e q JOIN e c ON q.cell = c.cell
      WHERE q.vec_id < 20 AND c.label <> q.label)
    SELECT anchor_id, anchor_label, neg_id, neg_label, cos,
      CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
        ORDER BY cos DESC, neg_id) AS rn FROM pairs)
    WHERE rn <= 3 ORDER BY anchor_id, rank"""

  // ------------------------------------------------- compaction planner
  /** Small-files compaction planning (the Delta/Iceberg OPTIMIZE
    * bin-packing shape): treat each document as a landing file of
    * `octet_length(text)` bytes and assign files, in (source, doc_id)
    * order, to target-size bins by EXCLUSIVE running cumsum div
    * target — order-preserving first-fit binning, the same policy
    * streaming compactors use (true FFD bin-packing is sequential and
    * order-destroying; cumsum binning parallelizes and keeps any
    * z-order/sort layout intact). A bin can exceed the target only by
    * its last file — the standard overflow contract.
    *
    * Scale shape: the plan operates on file METADATA (name, size) —
    * orders of magnitude smaller than the data — with one window
    * partitioned by source (running cumsum); no global window, no
    * shuffle of file contents. Output: per-(source, bin) file count,
    * bytes, id range — exactly what an executor compacting bin-by-bin
    * needs. */
  def compactionPlan(s: SparkSession, d: String): DataFrame = {
    val target = 4096L // bytes per compacted output file
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        octet_length(col("text")).cast("long").as("bytes"))
      // integer `div`, NOT double `/`+cast: the oracle uses integer
      // `//`, and double division drifts once the running cumsum
      // exceeds 2^53 bytes — at corpus scale the engines would
      // disagree on a bin boundary.
      .withColumn("__cum", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum div ${target}L"))
      .drop("__cum")
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  val compactionPlanSql: String = """
    WITH f AS (SELECT source, doc_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS bytes
      FROM documents),
    b AS (SELECT source, doc_id, bytes,
        CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // 4096 AS BIGINT) AS bin
      FROM f)
    SELECT source, bin, COUNT(*) AS n_files,
      CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
      MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM b GROUP BY source, bin ORDER BY source, bin"""

  // ---------------------------------------------------- cohort LTV
  /** Customer-cohort lifetime-value matrix: customers cohorted by
    * first-order month, revenue and active-customer counts by month
    * offset — the retention economics view (events_retention counts
    * USERS by day; this weights by REVENUE on the sales facts).
    * Month index is pure integer arithmetic (year·12 + month−1), no
    * calendar/timezone surface. Scale shape: the first-order aggregate
    * and the fact join both key on o_custkey, so Catalyst reuses one
    * hash partitioning (aggregate → join, no second exchange of the
    * fact); the (cohort, offset) matrix is a map-side-combinable
    * aggregate over ≤ decades×12 cells. */
  def ordersCohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("m"),
        col("o_totalprice"))
    val first = o.groupBy("o_custkey").agg(min(col("m")).as("m0"))
    o.join(first, "o_custkey")
      .groupBy(((col("m0") / 12).cast("long") * 100 + col("m0") % 12 + 1)
          .as("cohort"),
        (col("m") - col("m0")).cast("long").as("offset_m"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        Q.dsum(col("o_totalprice")).as("revenue"))
      .orderBy("cohort", "offset_m")
  }

  val ordersCohortLtvSql: String = s"""
    WITH o AS (SELECT o_custkey,
        year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS m,
        o_totalprice
      FROM orders),
    f AS (SELECT o_custkey, MIN(m) AS m0 FROM o GROUP BY 1)
    SELECT CAST((m0 // 12) * 100 + (m0 % 12) + 1 AS BIGINT) AS cohort,
      CAST(m - m0 AS BIGINT) AS offset_m,
      COUNT(DISTINCT o.o_custkey) AS n_customers,
      ${Sql.dsum("o_totalprice")} AS revenue
    FROM o JOIN f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2 ORDER BY cohort, offset_m"""

  // ---------------------------------------------------- forecast eval
  /** Forecast backtest on the daily event series: seasonal-naive
    * (ŷ_d = y_{d−7}) vs naive (ŷ_d = y_{d−1}) per event type, scored
    * by MAE and their ratio (MASE, Hyndman & Koehler 2006 — the
    * scale-free "is this model better than persistence" number every
    * forecasting pipeline gates on). The day axis is DENSIFIED first
    * (type × full day range, zero-filled) so the lags mean calendar
    * days, not observation gaps. Integer counts throughout — the only
    * floats are the final rounded divisions. Scale shape: the daily
    * aggregate is map-side combinable; the grid is types × days (tiny,
    * from a broadcast bounds scalar); the lag window partitions by
    * event_type — many independent series, never a global sort. */
  def forecastEval(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr(s"ts_us div $UsPerDay").as("day"))
      .agg(count(lit(1)).as("y"))
    val bounds = daily.agg(min(col("day")).as("dmin"),
      max(col("day")).as("dmax"))
    val grid = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
      .withColumn("l7", lag(col("y"), 7).over(w))
      .withColumn("l1", lag(col("y"), 1).over(w))
      .filter(col("l7").isNotNull && col("l1").isNotNull)
    dense.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("y") - col("l7"))).as("e7"),
        sum(abs(col("y") - col("l1"))).as("e1"))
      .select(col("event_type"), col("n_days"),
        round(col("e7").cast("double") / col("n_days"), 4)
          .as("mae_snaive"),
        round(col("e1").cast("double") / col("n_days"), 4)
          .as("mae_naive"),
        when(col("e1") === 0, lit(-1.0))
          .otherwise(round((col("e7").cast("double") / col("n_days")) /
            (col("e1").cast("double") / col("n_days")), 4)).as("mase"))
      .orderBy("event_type")
  }

  val forecastEvalSql: String = s"""
    WITH daily AS (SELECT event_type, epoch_us(ts) // $UsPerDay AS day,
        COUNT(*) AS y
      FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM daily),
    grid AS (SELECT event_type, gs.day
      FROM (SELECT DISTINCT event_type FROM daily), b,
        UNNEST(range(dmin, dmax + 1)) AS gs(day)),
    dense AS (SELECT g.event_type, g.day, COALESCE(y, 0) AS y
      FROM grid g LEFT JOIN daily dd
        ON g.event_type = dd.event_type AND g.day = dd.day),
    lagd AS (SELECT event_type, y,
        LAG(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7,
        LAG(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1
      FROM dense),
    agg AS (SELECT event_type, COUNT(*) AS n_days,
        CAST(SUM(ABS(y - l7)) AS BIGINT) AS e7,
        CAST(SUM(ABS(y - l1)) AS BIGINT) AS e1
      FROM lagd WHERE l7 IS NOT NULL AND l1 IS NOT NULL GROUP BY 1)
    SELECT event_type, n_days,
      ROUND(CAST(e7 AS DOUBLE) / n_days, 4) AS mae_snaive,
      ROUND(CAST(e1 AS DOUBLE) / n_days, 4) AS mae_naive,
      CASE WHEN e1 = 0 THEN -1.0
           ELSE ROUND((CAST(e7 AS DOUBLE) / n_days) /
                      (CAST(e1 AS DOUBLE) / n_days), 4) END AS mase
    FROM agg ORDER BY event_type"""

  // ---------------------------------------------- conversion latency
  /** Click→purchase conversion latency percentiles per day: for every
    * purchase, the same user's most recent PRIOR click (24 h horizon)
    * via a running conditional max — the as-of lookup as ONE sorted
    * window over the unioned stream, no join at all (the
    * [[graft.operators.AsOf]] trick applied to funnel latency; the
    * streaming twin is EventStreams.conversionJoin). Ties at the same
    * microsecond break on event_id in BOTH engines. Latency p50/p90
    * are exact percentiles over converted purchases only (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, the winsorize-established
    * bridge); days with no conversions report −1. Scale shape: one
    * per-user window shuffle, then a map-side-combinable daily
    * aggregate — never a global sort. */
  def conversionLatency(s: SparkSession, d: String): DataFrame = {
    val horizon = 86400000000L // 24 h in micros
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts_us"),
        col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = ev
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("conv", col("last_click").isNotNull &&
        col("ts_us") - col("last_click") <= horizon)
      .select((col("ts_us") / UsPerDay).cast("long").as("day"),
        col("conv"),
        when(col("conv"),
          (col("ts_us") - col("last_click")) / 60000000.0).as("lat_min"))
    p.groupBy("day")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"),
        coalesce(round(expr("percentile(lat_min, 0.5)"), 4), lit(-1.0))
          .as("p50_min"),
        coalesce(round(expr("percentile(lat_min, 0.9)"), 4), lit(-1.0))
          .as("p90_min"))
      .orderBy("day")
  }

  val conversionLatencySql: String = s"""
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
      FROM events WHERE user_id IS NOT NULL
        AND event_type IN ('click', 'purchase')),
    m AS (SELECT *, MAX(CASE WHEN event_type = 'click' THEN tu END)
        OVER (PARTITION BY user_id ORDER BY tu, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
      FROM ev),
    p AS (SELECT tu // $UsPerDay AS day,
        (last_click IS NOT NULL AND tu - last_click <= 86400000000)
          AS conv,
        CASE WHEN last_click IS NOT NULL
               AND tu - last_click <= 86400000000
             THEN (tu - last_click) / 60000000.0 END AS lat_min
      FROM m WHERE event_type = 'purchase')
    SELECT day, COUNT(*) AS n_purchases,
      CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        AS n_converted,
      COALESCE(ROUND(quantile_cont(lat_min, 0.5), 4), -1.0) AS p50_min,
      COALESCE(ROUND(quantile_cont(lat_min, 0.9), 4), -1.0) AS p90_min
    FROM p GROUP BY day ORDER BY day"""

  // ---------------------------------------------------- k-anonymity
  /** k-anonymity audit (Sweeney 2002) before a data release: customers
    * fall into equivalence classes by quasi-identifier (nation,
    * market segment, account-balance bucket); for each candidate k the
    * report counts classes smaller than k and the individuals those
    * classes expose — the go/no-go table an anonymization pipeline
    * gates on. Scale shape: ONE hash aggregate builds the class-size
    * table (map-side combinable); the per-k report is a broadcast
    * cross of that tiny table with the k list. */
  def kanonAudit(s: SparkSession, d: String): DataFrame = {
    val qi = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
    val cls = qi.groupBy("n_name", "c_mktsegment", "bal_bucket")
      .agg(count(lit(1)).as("sz"))
    val ks = s.createDataFrame(Seq(Tuple1(2L), Tuple1(5L), Tuple1(10L)))
      .toDF("k")
    cls.crossJoin(broadcast(ks))
      .groupBy("k")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("sz") < col("k"), 1L).otherwise(0L))
          .as("n_small_classes"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
          .as("n_at_risk"))
      .orderBy("k")
  }

  val kanonAuditSql: String = """
    WITH qi AS (SELECT n_name, c_mktsegment,
        CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket
      FROM customer JOIN nation ON c_nationkey = n_nationkey),
    cls AS (SELECT n_name, c_mktsegment, bal_bucket, COUNT(*) AS sz
      FROM qi GROUP BY 1, 2, 3),
    ks AS (SELECT UNNEST([2, 5, 10]) AS k)
    SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n_classes,
      CAST(SUM(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        AS n_small_classes,
      CAST(SUM(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        AS n_at_risk
    FROM cls CROSS JOIN ks GROUP BY k ORDER BY k"""

  // ------------------------------------------------ sequence patterns
  /** Sequence pattern matching over event streams (the MATCH_RECOGNIZE
    * / Flink-CEP capability class, reduced to its distributed shape):
    * per user-day, encode the time-ordered event sequence as a
    * character string (c/e/p/s/v) and count regex matches of the
    * funnel pattern `c v* p` (click, any views, purchase) plus the
    * error-burst pattern `e e e+`. Encoding happens in ONE ordered
    * aggregation per user-day partition — tiny strings (a user-day's
    * events), never a corpus-wide sort — and the regex runs map-side
    * on the aggregated row. Ties at the same microsecond order by
    * event_id in both engines. */
  def eventsPatternMatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day"),
        col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
    val seqs = ev
      .groupBy("user_id", "day")
      .agg(concat_ws("",
        array_sort(collect_list(struct(col("ts_us"), col("event_id"),
          col("c")))).getField("c")).as("seq"))
    val funnel = "c[v]*p"
    val burst = "eee+"
    seqs.select(col("user_id"), col("day"),
        length(col("seq")).cast("long").as("n_events"),
        size(expr(s"regexp_extract_all(seq, '$funnel', 0)")).cast("long")
          .as("n_funnel"),
        size(expr(s"regexp_extract_all(seq, '$burst', 0)")).cast("long")
          .as("n_error_burst"))
      .filter(col("n_funnel") > 0 || col("n_error_burst") > 0)
      .orderBy("user_id", "day")
  }

  val eventsPatternMatchSql: String = s"""
    WITH ev AS (SELECT user_id, epoch_us(ts) // $UsPerDay AS day,
        epoch_us(ts) AS tu, event_id, substr(event_type, 1, 1) AS c
      FROM events WHERE user_id IS NOT NULL),
    seqs AS (SELECT user_id, day,
        string_agg(c, '' ORDER BY tu, event_id) AS seq
      FROM ev GROUP BY 1, 2)
    SELECT user_id, day, CAST(length(seq) AS BIGINT) AS n_events,
      CAST(len(regexp_extract_all(seq, 'c[v]*p')) AS BIGINT) AS n_funnel,
      CAST(len(regexp_extract_all(seq, 'eee+')) AS BIGINT)
        AS n_error_burst
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'c[v]*p')) > 0
       OR len(regexp_extract_all(seq, 'eee+')) > 0
    ORDER BY user_id, day"""

  // ----------------------------------------------------- ABC analysis
  /** Per-brand ABC (Pareto) classification of parts by revenue:
    * cumulative revenue share within brand → A (≤ 70%), B (≤ 90%),
    * C (rest) — the inventory-prioritization classic. The cumulative
    * window runs over the per-part AGGREGATE, partitioned by brand —
    * thousands of small partitions, never a global sort; revenue sums
    * are DECIMAL-exact and the share divides the two exact decimals
    * once, so class boundaries are bit-stable cross-engine. */
  def ordersAbc(s: SparkSession, d: String): DataFrame = {
    val rev = graft.Spread(s, s"$d/lineitem.parquet",
        Tables.lineitem(s, d), col("l_orderkey"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("p_partkey").as("part_id"))
      .agg(sum(col("l_extendedprice").cast("decimal(38,6)")).as("rev"))
    val w = Window.partitionBy("brand")
      .orderBy(col("rev").desc, col("part_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("brand")
    val classed = rev
      .withColumn("cum", sum(col("rev")).over(w))
      .withColumn("tot", sum(col("rev")).over(wAll))
      .withColumn("share", (col("cum").cast("double") /
        col("tot").cast("double")))
      .withColumn("abc", when(col("share") <= 0.7, "A")
        .when(col("share") <= 0.9, "B").otherwise("C"))
    classed.groupBy("brand", "abc")
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("rev")).cast("double"), 2).as("class_revenue"))
      .orderBy("brand", "abc")
  }

  val ordersAbcSql: String = """
    WITH rev AS (SELECT p_brand AS brand, p_partkey AS part_id,
        SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2),
    c AS (SELECT brand, part_id, rev,
        SUM(rev) OVER (PARTITION BY brand ORDER BY rev DESC, part_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(rev) OVER (PARTITION BY brand) AS tot
      FROM rev),
    k AS (SELECT brand, part_id, rev,
        CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.7
          THEN 'A'
          WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.9
          THEN 'B' ELSE 'C' END AS abc
      FROM c)
    SELECT brand, abc, COUNT(*) AS n_parts,
      ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue
    FROM k GROUP BY 1, 2 ORDER BY brand, abc"""

  // -------------------------------------------------- velocity rules
  /** Trailing-window velocity flags (the fraud/rate-limit rule shape):
    * for each event, the count of the SAME user's events in the
    * preceding 10 minutes via a RANGE frame on epoch-micros — the
    * event-time sliding window that row frames cannot express (events
    * are irregular). Flag when ≥ 5 precede; report per day. The
    * window partitions by user (millions of small partitions); counts
    * are integers end-to-end. */
  def eventsVelocityFlags(s: SparkSession, d: String): DataFrame = {
    val horizon = 600000000L // 10 min in micros
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-horizon, -1)
    Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts_us"))
      .withColumn("n_prev", count(lit(1)).over(w))
      .select(expr(s"ts_us div $UsPerDay").as("day"),
        col("n_prev"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("n_prev") >= 5, 1L).otherwise(0L)).as("n_flagged"),
        max(col("n_prev")).as("max_burst"))
      .orderBy("day")
  }

  val eventsVelocityFlagsSql: String = s"""
    WITH v AS (SELECT user_id, epoch_us(ts) AS tu,
        COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 600000000 PRECEDING AND 1 PRECEDING) AS n_prev
      FROM events WHERE user_id IS NOT NULL)
    SELECT tu // $UsPerDay AS day, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN n_prev >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged,
      CAST(MAX(n_prev) AS BIGINT) AS max_burst
    FROM v GROUP BY 1 ORDER BY day"""

  // ------------------------------------------------------ SCD type 2
  /** Slowly-changing-dimension type-2 build from an event history: a
    * user's "status" is their event type; consecutive duplicates
    * collapse, each retained change opens a validity interval
    * [valid_from, valid_to) closed by the NEXT change (the current row
    * keeps valid_to = −1 and is_current = true) — the warehouse
    * dimension-versioning classic, built with two per-user window
    * passes (lag to drop consecutive repeats, lead to close
    * intervals); no self-join, no global sort. Ties at the same
    * microsecond order by event_id in both engines. */
  def scd2Build(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val changes = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("status"))
      .withColumn("prev", lag(col("status"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
    val w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes
      .withColumn("valid_to",
        coalesce(lead(col("ts_us"), 1).over(w2), lit(-1L)))
      .select(col("user_id"), col("status"),
        col("ts_us").as("valid_from"), col("valid_to"),
        (col("valid_to") === -1L).as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  val scd2BuildSql: String = """
    WITH h AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
        event_type AS status,
        LAG(event_type, 1) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id) AS prev
      FROM events WHERE user_id IS NOT NULL),
    ch AS (SELECT user_id, tu, event_id, status FROM h
      WHERE prev IS NULL OR prev != status)
    SELECT user_id, status, tu AS valid_from,
      COALESCE(LEAD(tu, 1) OVER (PARTITION BY user_id
        ORDER BY tu, event_id), -1) AS valid_to,
      (COALESCE(LEAD(tu, 1) OVER (PARTITION BY user_id
        ORDER BY tu, event_id), -1) = -1) AS is_current
    FROM ch ORDER BY user_id, valid_from"""

  // --------------------------------------------- SCD2 point-in-time lookup
  /** Consumption side of the type-2 dimension: enrich every purchase
    * with the user's activity state AS OF the purchase instant — the
    * point-in-time lookup that keeps feature pipelines leak-free
    * (attributing revenue to a state the user entered later is label
    * leakage). Rather than an interval join against
    * [valid_from, valid_to) — an inequality join that degrades to
    * per-row interval scans — the dimension's CHANGE rows and the
    * facts take ONE shared as-of pass: union, one sort per key, carry
    * the state forward ([[graft.operators.AsOf]], the sort-merge-join
    * shape). Ties resolve to the highest change event_id, matching
    * the SCD2 build's window order. */
  def scd2Lookup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val changes = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("status"))
      .withColumn("prev", lag(col("status"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .select(col("user_id"), col("status"), col("ts_us"), col("event_id"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts"), col("value"))
    graft.operators.AsOf
      .joinAsOf(facts, changes, "user_id", "p_ts", "ts_us", "event_id")
      .select(coalesce(col("asof.status"), lit("none")).as("status"),
        col("value"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_purchases"),
        Q.dsum(col("value")).as("revenue"))
      .orderBy("status")
  }

  val scd2LookupSql: String = """
    WITH h AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
        event_type AS status,
        LAG(event_type, 1) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id) AS prev
      FROM events WHERE user_id IS NOT NULL AND event_type != 'purchase'),
    ch AS (SELECT user_id, tu, event_id, status FROM h
      WHERE prev IS NULL OR prev != status),
    p AS (SELECT user_id, epoch_us(ts) AS ptu, value FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase'),
    pit AS (SELECT p.value,
        (SELECT status FROM ch
          WHERE ch.user_id = p.user_id AND ch.tu <= p.ptu
          ORDER BY tu DESC, event_id DESC LIMIT 1) AS status
      FROM p)
    SELECT COALESCE(status, 'none') AS status, COUNT(*) AS n_purchases,
      CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
        AS revenue
    FROM pit GROUP BY 1 ORDER BY status"""

  // --------------------------------------------------- Benford audit
  /** Benford first-digit audit of order totals: observed first-digit
    * counts vs the Benford expectation n·log10(1+1/d), with the χ²
    * statistic — the forensic-accounting screen for fabricated
    * numerics, and a one-aggregate map-side-combinable scan. The
    * expected counts and χ² terms are fixed-form double expressions
    * over exact integer counts, identical in both engines. */
  def benfordAudit(s: SparkSession, d: String): DataFrame = {
    val digit = substring(col("o_totalprice").cast("string"), 1, 1)
      .cast("int")
    val obs = Tables.orders(s, d)
      .filter(col("o_totalprice") >= 1)
      .select(digit.as("d"))
      .groupBy("d").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    obs.crossJoin(broadcast(tot))
      .withColumn("n_exp",
        round(col("n") * (log(lit(1.0) + lit(1.0) / col("d")) /
          log(lit(10.0))), 2))
      .select(col("d"), col("n_obs"), col("n_exp"),
        round(pow(col("n_obs") - col("n_exp"), 2) / col("n_exp"), 4)
          .as("chi2_term"))
      .orderBy("d")
  }

  val benfordAuditSql: String = """
    WITH obs AS (SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1)
          AS INT) AS d,
        COUNT(*) AS n_obs
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT d, n_obs,
      ROUND(n * (ln(1.0 + 1.0 / d) / ln(10.0)), 2) AS n_exp,
      ROUND(POW(n_obs - ROUND(n * (ln(1.0 + 1.0 / d) / ln(10.0)), 2), 2)
        / ROUND(n * (ln(1.0 + 1.0 / d) / ln(10.0)), 2), 4) AS chi2_term
    FROM obs CROSS JOIN tot ORDER BY d"""

  // ----------------------------------------------- correlation matrix
  /** Pairwise Pearson correlation of the lineitem measures — the
    * profiling matrix feature stores compute before model training.
    * The 2-dp measures are scaled to LONGs once (`round(x·100)` — the
    * events_acf integer-moment pattern), so every per-row product is a
    * codegen long multiply; only the 15 moment SUMS accumulate as
    * exact DECIMAL(20,0)→(30,0) (DuckDB: BIGINT→HUGEINT — both exact
    * integers, so the doubles they cast to are identical). Pearson r
    * is scale-invariant, and the closing IEEE expression is textually
    * shared, so ROUND(r, 6) matches bit-for-bit. One scan, one
    * map-side-combinable wide aggregate; per-row products stay under
    * 2⁶³ at any corpus size (the sums are where the magnitude goes,
    * and those are decimal). */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- i + 1 until cols.length
    } yield (cols(i), cols(j))
    def lx(c: String): Column = round(col(c) * 100, 0).cast("long")
    def dsum(e: Column) = sum(e.cast("decimal(20,0)"))
    val aggs = cols.flatMap { c =>
      Seq(dsum(lx(c)).as(s"s_$c"), dsum(lx(c) * lx(c)).as(s"ss_$c"))
    } ++ pairs.map { case (x, y) =>
      dsum(lx(x) * lx(y)).as(s"sp_${x}_$y")
    }
    val allAggs = count(lit(1)).as("n") +: aggs
    // r17-opt: 15 exact-decimal sums per row, single-threaded on a
    // 1-row-group layout — Spread heals scan parallelism (no-op at scale)
    val m = graft.Spread(s, s"$d/lineitem.parquet", Tables.lineitem(s, d),
      col("l_orderkey")).agg(allAggs.head, allAggs.tail: _*)
    // all six r's from the ONE aggregate row, then unpivot — a single
    // corpus scan, not one per pair
    val pairStructs = pairs.map { case (x, y) =>
      val n = col("n").cast("double")
      val (sx, sy, sxy, sxx, syy) = (
        col(s"s_$x").cast("double"), col(s"s_$y").cast("double"),
        col(s"sp_${x}_$y").cast("double"),
        col(s"ss_$x").cast("double"),
        col(s"ss_$y").cast("double"))
      struct(lit(x).as("x"), lit(y).as("y"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6).as("r"))
    }
    m.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("p.r").as("r"))
      .orderBy("x", "y")
  }

  val corrMatrixSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- i + 1 until cols.length
    } yield (cols(i), cols(j))
    def lx(c: String) = s"CAST(ROUND($c * 100, 0) AS BIGINT)"
    // one wide-aggregate CTE (single scan), tiny per-pair selects over
    // it; BIGINT sums promote to HUGEINT in DuckDB — exact like
    // Spark's DECIMAL(30,0) accumulator, so the double casts agree
    val sums = cols.flatMap(c => Seq(
      s"CAST(SUM(${lx(c)}) AS DOUBLE) AS s_$c",
      s"CAST(SUM(${lx(c)} * ${lx(c)}) AS DOUBLE) AS ss_$c")) ++
      pairs.map { case (x, y) =>
        s"CAST(SUM(${lx(x)} * ${lx(y)}) AS DOUBLE) AS sp_${x}_$y"
      }
    val selects = pairs.map { case (x, y) =>
      s"""SELECT '$x' AS x, '$y' AS y,
         ROUND((n * sp_${x}_$y - s_$x * s_$y) /
           (sqrt(n * ss_$x - s_$x * s_$x) *
            sqrt(n * ss_$y - s_$y * s_$y)), 6) AS r
         FROM m"""
    }
    s"""WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       ${sums.mkString(",\n       ")}
       FROM lineitem)
       ${selects.mkString("", " UNION ALL ", " ORDER BY x, y")}"""
  }

  // ------------------------------------------------- decile windows
  /** Per-segment revenue deciles via ntile(10) — the quantile-bucket
    * window (percent_rank/cume_dist family) with per-decile aggregate
    * roll-up. The tie-break on o_orderkey makes ntile's row
    * assignment, and therefore every downstream number, deterministic
    * cross-engine. Window partitions by segment; the roll-up is
    * map-side combinable. */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val oc = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
        col("o_totalprice"))
    val w = Window.partitionBy("segment")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    oc.withColumn("decile", ntile(10).over(w))
      .groupBy("segment", "decile")
      .agg(count(lit(1)).as("n_orders"),
        Q.dsum(col("o_totalprice")).as("revenue"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("segment", "decile")
  }

  val windowNtileSql: String = s"""
    WITH oc AS (SELECT c_mktsegment AS segment, o_orderkey, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey),
    t AS (SELECT segment, o_totalprice,
        NTILE(10) OVER (PARTITION BY segment
          ORDER BY o_totalprice, o_orderkey) AS decile
      FROM oc)
    SELECT segment, CAST(decile AS INT) AS decile, COUNT(*) AS n_orders,
      ${Sql.dsum("o_totalprice")} AS revenue,
      ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
    FROM t GROUP BY 1, 2 ORDER BY segment, decile"""

  // ------------------------------------------------- DAU/WAU sticky
  /** Engagement stickiness: daily active users vs trailing-7-day
    * actives, per day — the DAU/WAU product metric. Distinct-over-
    * window doesn't exist, so the trailing-7d distinct builds as the
    * standard expansion: the (day, user) DISTINCT table joins a 7-row
    * offset grid (each active user-day votes into the 7 windows ending
    * ≤ 6 days later) and re-distincts per window — row volume is
    * 7 × active-user-days, linear, and every exchange carries (day,
    * user) longs. Days with no history shorter than 7 report the
    * partial window honestly. */
  def eventsStickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(expr(s"ts_us div $UsPerDay").as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val offsets = s.createDataFrame(
      (0L to 6L).map(Tuple1(_))).toDF("off")
    val wau = ud.crossJoin(broadcast(offsets))
      .select((col("day") + col("off")).as("wday"), col("user_id"))
      .join(broadcast(dau.select(col("day").as("wday"))), Seq("wday"))
      .distinct()
      .groupBy("wday").agg(count(lit(1)).as("wau"))
    dau.join(wau.withColumnRenamed("wday", "day"), Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  val eventsStickinessSql: String = s"""
    WITH ud AS (SELECT DISTINCT epoch_us(ts) // $UsPerDay AS day, user_id
      FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    wau AS (SELECT wday, COUNT(*) AS wau FROM
      (SELECT DISTINCT ud.day + off AS wday, user_id
       FROM ud CROSS JOIN (SELECT UNNEST(range(0, 7)) AS off)
       WHERE ud.day + off IN (SELECT day FROM dau))
      GROUP BY wday)
    SELECT dau.day AS day, dau, wau,
      ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.wday
    ORDER BY day"""

  // ----------------------------------------------------- bounce rate
  /** Session bounce rate per day: sessions assigned by the 30-minute
    * inactivity gap (lag flag → running cumsum per user — the
    * gaps-and-islands session id, one per-user window), then one
    * aggregate per session and a daily roll-up of single-event
    * ("bounce") sessions. A session's day is its FIRST event's day.
    * Integer arithmetic end-to-end except the final rounded rate. */
  def sessionBounce(s: SparkSession, d: String): DataFrame = {
    val gap = 1800000000L // 30 min in micros
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gap ||
          lag(col("ts_us"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .groupBy("user_id", "sess_id")
      .agg(min(col("ts_us")).as("t0"), count(lit(1)).as("n_events"))
    sess.groupBy(expr(s"t0 div $UsPerDay").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("bounce_rate"))
      .orderBy("day")
  }

  val sessionBounceSql: String = s"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_id
      FROM events WHERE user_id IS NOT NULL),
    f AS (SELECT user_id, tu, event_id,
        CASE WHEN tu - LAG(tu, 1) OVER (PARTITION BY user_id
            ORDER BY tu, event_id) > 1800000000
          OR LAG(tu, 1) OVER (PARTITION BY user_id
            ORDER BY tu, event_id) IS NULL
          THEN 1 ELSE 0 END AS new_sess
      FROM e),
    sid AS (SELECT user_id, tu,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tu, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM f),
    sess AS (SELECT user_id, sess_id, MIN(tu) AS t0, COUNT(*) AS n_events
      FROM sid GROUP BY 1, 2)
    SELECT t0 // $UsPerDay AS day, COUNT(*) AS n_sessions,
      CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bounce,
      ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS bounce_rate
    FROM sess GROUP BY 1 ORDER BY day"""

  // ------------------------------------------------------ WoW growth
  /** Week-over-week growth per event type: epoch-week buckets (pure
    * integer division of epoch-micros — calendar-free), lag-1 window
    * per type, percentage change rounded once. The reporting staple;
    * the window partitions by type over the tiny weekly aggregate. */
  def eventsWowGrowth(s: SparkSession, d: String): DataFrame = {
    val usPerWeek = UsPerDay * 7
    val weekly = Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts_us div $usPerWeek").as("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly.withColumn("prev", lag(col("n"), 1).over(w))
      .select(col("event_type"), col("week"), col("n"),
        coalesce(col("prev"), lit(-1L)).as("prev_n"),
        when(col("prev").isNotNull && col("prev") > 0,
          round((col("n") - col("prev")).cast("double") * 100.0 /
            col("prev"), 4)).otherwise(lit(null)).as("wow_pct"))
      .orderBy("event_type", "week")
  }

  val eventsWowGrowthSql: String = s"""
    WITH weekly AS (SELECT event_type,
        epoch_us(ts) // ${UsPerDay * 7} AS week, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, week, n,
        LAG(n, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev
      FROM weekly)
    SELECT event_type, week, n, COALESCE(prev, -1) AS prev_n,
      CASE WHEN prev IS NOT NULL AND prev > 0
        THEN ROUND(CAST(n - prev AS DOUBLE) * 100.0 / prev, 4) END
        AS wow_pct
    FROM l ORDER BY event_type, week"""

  // --------------------------------------------------- IVM merge proof
  /** Incremental-view-maintenance merge: an aggregate maintained from
    * per-batch partials must equal the from-scratch aggregate — which
    * holds ONLY for algebraically mergeable state. The fact is split
    * into base/delta by a hash (the snapshot-vs-new-batch shape);
    * each side aggregates to (decimal sum, count) partials, the
    * partials merge by re-aggregation, and ONLY the merged result
    * rounds — so merged ≡ full bit-for-bit, which the query emits as a
    * checked column. This is the contract that lets a 100 TB warehouse
    * maintain its rollups from daily deltas without rescanning
    * history; raw double sums would fail it (order-dependent), which
    * is exactly why every graft aggregate goes through DECIMAL. */
  def ivmMergeAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("isdelta",
        pmod(col("l_orderkey") * lit(2654435761L), lit(100L)) >= 75)
    def partial(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast(Q.Dec)).as("sq"),
        count(lit(1)).as("n"))
    val merged = partial(li.filter(!col("isdelta")))
      .unionByName(partial(li.filter(col("isdelta"))))
      .groupBy("l_returnflag")
      .agg(round(sum(col("sq")), 2).cast("double").as("sum_qty_merged"),
        sum(col("n")).as("n_merged"))
    val full = Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(Q.dsum(col("l_quantity")).as("sum_qty_full"),
        count(lit(1)).as("n_full"))
    merged.join(full, Seq("l_returnflag"))
      .withColumn("consistent",
        col("sum_qty_merged") === col("sum_qty_full") &&
          col("n_merged") === col("n_full"))
      .select("l_returnflag", "sum_qty_merged", "sum_qty_full",
        "n_merged", "n_full", "consistent")
      .orderBy("l_returnflag")
  }

  val ivmMergeAggSql: String = s"""
    WITH li AS (SELECT l_returnflag, l_quantity,
        (l_orderkey * 2654435761) % 100 >= 75 AS isdelta FROM lineitem),
    pb AS (SELECT l_returnflag,
        SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sq, COUNT(*) AS n
      FROM li WHERE NOT isdelta GROUP BY 1),
    pd AS (SELECT l_returnflag,
        SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sq, COUNT(*) AS n
      FROM li WHERE isdelta GROUP BY 1),
    merged AS (SELECT l_returnflag,
        CAST(ROUND(SUM(sq), 2) AS DOUBLE) AS sum_qty_merged,
        CAST(SUM(n) AS BIGINT) AS n_merged
      FROM (SELECT * FROM pb UNION ALL SELECT * FROM pd)
      GROUP BY l_returnflag),
    tot AS (SELECT l_returnflag,
        ${Sql.dsum("l_quantity")} AS sum_qty_full, COUNT(*) AS n_full
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, sum_qty_merged, sum_qty_full, n_merged, n_full,
      sum_qty_merged = sum_qty_full AND n_merged = n_full AS consistent
    FROM merged JOIN tot USING (l_returnflag)
    ORDER BY l_returnflag"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ivm_merge_agg", ivmMergeAgg, Some(ivmMergeAggSql)),
    QuerySpec("events_wow_growth", eventsWowGrowth,
      Some(eventsWowGrowthSql)),
    QuerySpec("session_bounce", sessionBounce, Some(sessionBounceSql)),
    QuerySpec("window_ntile", windowNtile, Some(windowNtileSql)),
    QuerySpec("events_stickiness", eventsStickiness,
      Some(eventsStickinessSql)),
    QuerySpec("scd2_build", scd2Build, Some(scd2BuildSql)),
    QuerySpec("scd2_lookup", scd2Lookup, Some(scd2LookupSql)),
    QuerySpec("benford_audit", benfordAudit, Some(benfordAuditSql)),
    QuerySpec("corr_matrix", corrMatrix, Some(corrMatrixSql)),
    QuerySpec("events_pattern_match", eventsPatternMatch,
      Some(eventsPatternMatchSql)),
    QuerySpec("orders_abc", ordersAbc, Some(ordersAbcSql)),
    QuerySpec("events_velocity_flags", eventsVelocityFlags,
      Some(eventsVelocityFlagsSql)),
    QuerySpec("kanon_audit", kanonAudit, Some(kanonAuditSql)),
    QuerySpec("conversion_latency", conversionLatency,
      Some(conversionLatencySql)),
    QuerySpec("forecast_eval", forecastEval, Some(forecastEvalSql)),
    QuerySpec("orders_cohort_ltv", ordersCohortLtv,
      Some(ordersCohortLtvSql)),
    QuerySpec("gaps_islands", gapsIslands, Some(gapsIslandsSql)),
    QuerySpec("events_attribution", eventsAttribution,
      Some(eventsAttributionSql)),
    QuerySpec("split_assign", splitAssign, Some(splitAssignSql)),
    QuerySpec("knn_classify", knnClassify, Some(knnClassifySql)),
    QuerySpec("winsorize", winsorize, Some(winsorizeSql)),
    QuerySpec("mad_outliers", madOutliers, Some(madOutliersSql)),
    QuerySpec("agg_grouping_sets", aggGroupingSets,
      Some(aggGroupingSetsSql)),
    QuerySpec("skew_salted_join", skewSaltedJoin,
      Some(skewSaltedJoinSql)),
    QuerySpec("zorder_layout", zorderLayout, Some(zorderLayoutSql)),
    QuerySpec("sketch_quantile", sketchQuantile, Some(sketchQuantileSql)),
    QuerySpec("zorder_prune_eval", zorderPruneEval,
      Some(zorderPruneEvalSql)),
    QuerySpec("rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    QuerySpec("snapshot_upsert", snapshotUpsert, Some(snapshotUpsertSql)),
    QuerySpec("events_cusum", eventsCusum, Some(eventsCusumSql)),
    QuerySpec("set_ops_churn", setOpsChurn, Some(setOpsChurnSql)),
    QuerySpec("unpivot_metrics", unpivotMetrics, Some(unpivotMetricsSql)),
    QuerySpec("data_quality_report", dataQualityReport,
      Some(dataQualityReportSql)),
    QuerySpec("hard_negatives", hardNegatives, Some(hardNegativesSql)),
    QuerySpec("compaction_plan", compactionPlan, Some(compactionPlanSql)))


}
