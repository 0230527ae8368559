package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.operators.AsOf

/** Core relational operator coverage: scan + pushdown filter, hash/
  * broadcast joins, semi/anti joins, group-by aggregation, rollup,
  * window functions, top-k, sessionization, as-of join.
  *
  * Every query is written scale-first: filters sit directly on the scan
  * (parquet pushdown), small dimensions are broadcast explicitly, and
  * aggregates are partial-aggregated map-side by Catalyst. The decimal
  * casts (graft.Q) exist for oracle hash-parity, not correctness.
  */
object Relational {

  private val Cut = "1998-01-01"

  /** TPC-H Q1-shaped pricing summary: scan + filter + groupBy agg.
    * Demonstrates A1/A2-style null-skipping aggregation at scale. */
  def q1(s: SparkSession, d: String): DataFrame =
    // r17-opt: 8 exact-decimal aggregates per row ran single-threaded
    // on the 1-row-group local layout — Spread heals scan parallelism
    // (no-op when footers show enough row groups)
    graft.Spread(s, s"$d/lineitem.parquet", Tables.lineitem(s, d),
        col("l_orderkey"))
      .filter(col("l_shipdate") <= lit(Cut).cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Q.dsum(col("l_quantity")).as("sum_qty"),
        Q.dsum(col("l_extendedprice")).as("sum_base_price"),
        Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        Q.davg(col("l_quantity")).as("avg_qty"),
        Q.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${Sql.dsum("l_quantity")} AS sum_qty,
      ${Sql.dsum("l_extendedprice")} AS sum_base_price,
      ${Sql.dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${Sql.davg("l_quantity")} AS avg_qty,
      ${Sql.davg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '$Cut'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** TPC-H Q3-shaped: 3-way join (broadcast dim + shuffle fact), agg,
    * exact-ordered top-k. */
  def q3(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(Cut).cast("timestamp"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit(Cut).cast("timestamp"))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .select(col("o_orderkey"), Q.iso(col("o_orderdate")).as("o_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String = s"""
    SELECT o_orderkey,
      strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS o_date,
      ${Sql.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '$Cut'
      AND l_shipdate > TIMESTAMP '$Cut'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10"""

  /** TPC-H Q5-shaped: 6-way star join, regional revenue rollup. */
  def q5(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val l = Tables.lineitem(s, d)
    l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String = s"""
    SELECT n_name,
      ${Sql.dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** TPC-H Q6 (forecast revenue change): the pure filter-aggregate
    * query — every predicate (date range, discount band, quantity cap)
    * must reach the parquet scan as a pushed filter, and the single
    * DECIMAL-exact sum partial-aggregates map-side; at 100 TB this is
    * a scan-rate benchmark, nothing else. */
  def q6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(Q.dsum(col("l_extendedprice") * col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  val q6Sql: String = s"""
    SELECT ${Sql.dsum("l_extendedprice * l_discount")} AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24"""

  /** TPC-H Q12 adapted to the reduced schema (no l_shipmode /
    * commitdate in the driver's tables): per return flag, line counts
    * split by high vs low order priority for a ship-date year — the
    * join + conditional-aggregate shape (orders side broadcasts at
    * dimension scale; at fact-scale both sides it is the classic
    * shuffle equi-join with map-side partials). */
  def q12(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q12Sql: String = """
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Left-semi join (EXISTS): customers holding at least one big order. */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 150000.0)
    Tables.customer(s, d)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")
  }

  val joinSemiSql: String = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
    ORDER BY c_custkey"""

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")

  val joinAntiSql: String = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey"""

  /** ROLLUP grouping sets over (returnflag, linestatus).
    *
    * r17-opt: `.rollup` plans an Expand that replicates EVERY fact row
    * once per grouping set — 3× the rows through the partial
    * aggregate, in the (unsplittable) scan stage. Decimal sums and
    * counts are exact and associative, so the two coarser levels are
    * now re-aggregated from the leaf (returnflag, linestatus) groups —
    * a ≤ 6-row frame — and each level rounds the SAME exact decimal
    * total the rollup would have produced. One pass over the fact,
    * identical rows out (data nulls, were any present, stay their own
    * groups exactly like rollup's, since coalesce is applied after the
    * re-aggregation). */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    val leaf = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(Q.Dec)).as("qd"),
        count(lit(1)).as("n_rows"))
    val perFlag = leaf.groupBy("l_returnflag")
      .agg(lit(null).cast("string").as("l_linestatus"),
        sum(col("qd")).as("qd"), sum(col("n_rows")).as("n_rows"))
    val total = leaf
      .agg(sum(col("qd")).as("qd"), sum(col("n_rows")).as("n_rows"))
      .select(lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus"),
        col("qd"), col("n_rows"))
    leaf.select(col("l_returnflag"), col("l_linestatus"), col("qd"),
        col("n_rows"))
      .unionByName(perFlag.select(col("l_returnflag"), col("l_linestatus"),
        col("qd"), col("n_rows")))
      .unionByName(total)
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        round(col("qd"), 2).cast("double").as("sum_qty"), col("n_rows"))
      .orderBy("returnflag", "linestatus")
  }

  val aggRollupSql: String = s"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ${Sql.dsum("l_quantity")} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus"""

  /** Distributed top-k with total order: TakeOrderedAndProject, no full
    * sort materialization. */
  def topkOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)

  val topkOrdersSql: String = """
    SELECT o_orderkey, o_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15"""

  /** Window functions: row_number, lag, running exact sum per customer. */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("run_spend", Q.dsumOver(col("o_totalprice"),
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_custkey"), col("o_orderkey"), col("rn"),
        col("prev_price"), col("run_spend"))
      .orderBy("o_custkey", "rn")
  }

  val windowRunningSql: String = """
    SELECT o_custkey, o_orderkey,
      CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      LAG(o_totalprice, 1) OVER w AS prev_price,
      CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        AS DOUBLE) AS run_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn"""

  /** Sessionization of the event stream: 30-minute inactivity gap starts
    * a new session; per-session stats. One shuffle (by user), two window
    * passes over the same sort order — Catalyst reuses the exchange. */
  /** [[sessionize]] without its output ORDER BY — for consumers that
    * re-aggregate (r18: the orderBy is NOT eliminated under the
    * overlap consumer's explode+join; it survived as a range exchange
    * + sampling job the consumer never needed). */
  private[queries] def sessionizeCore(s: SparkSession, d: String)
      : DataFrame = {
    val GapNs = 30L * 60 * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > GapNs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_ns"),
        max(col("ts_us")).as("end_ns"),
        Q.dsum(col("value"), 4).as("sum_value"))
  }

  def sessionize(s: SparkSession, d: String): DataFrame =
    sessionizeCore(s, d).orderBy("user_id", "session_idx")

  val sessionizeSql: String = s"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w
                  > ${30L * 60 * 1000000L}
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sessions AS (
      SELECT user_id, ts_us, value,
        CAST(SUM(is_new) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
      MIN(ts_us) AS start_ns, MAX(ts_us) AS end_ns,
      ${Sql.dsum("value", 4)} AS sum_value
    FROM sessions
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx"""

  /** Interval×interval overlap join
    * ([[graft.operators.IntervalJoin.intervalOverlap]]): user sessions
    * against the derived maintenance windows — "how many active
    * sessions did each window touch", the capacity-planning join. A
    * session is the half-open [start_ns, end_ns + 1) (single-event
    * sessions are 1 µs, still joinable); the match is emitted only in
    * the first overlap bucket, so no pair-set distinct exists in the
    * plan. */
  def sessionWindowOverlap(s: SparkSession, d: String): DataFrame =
    sessionWindowOverlapAt(s, d, footerT0(s, d))

  /** t0 = min(ts_us) from the parquet FOOTER statistic (r18: zero jobs —
    * the DenseGraph/BipartiteFixpoint longMinMax pattern — instead of a
    * second full events scan + broadcast-build job); the stored unit
    * (nanos under nanosAsLong ⇒ LongType, else micros) follows the same
    * dispatch Tables.events uses, and nanos convert with the same
    * truncating `div 1000` (pre-epoch nanos truncate toward zero, not
    * down). None when the footer lacks the statistic. */
  private[graft] def footerT0(s: SparkSession, d: String): Option[Long] =
    graft.sources.ParquetStats
      .longMinMax(s, s"$d/events.parquet", "ts").map { case (mn, _) =>
        graft.Tables.table(s, d, "events").schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            mn / 1000L // stored nanos → ts_us
          case _ => mn // stored micros
        }
      }

  /** [[sessionWindowOverlap]] with a known t0, or — given None — t0
    * from a scan of events. */
  private[graft] def sessionWindowOverlapAt(s: SparkSession, d: String,
                                            t0Lit: Option[Long])
      : DataFrame = {
    // r18: sessionizeCore, not sessionize — the output ORDER BY was
    // not eliminated under this consumer's explode+join and survived
    // as a range exchange + sampling job the overlap never needed.
    val sess = sessionizeCore(s, d).select(col("user_id"),
      col("session_idx"), col("start_ns"), (col("end_ns") + 1).as("end_x"))
    val t0Row = t0Lit match {
      case Some(t0) => s.range(1).select(lit(t0).as("t0"))
      case None => Tables.events(s, d).agg(min(col("ts_us")).as("t0"))
    }
    val windows = t0Row
      .select(explode(sequence(lit(0L), lit(19L))).as("window_id"),
        col("t0"))
      .select(col("window_id"),
        (col("t0") + col("window_id") * lit(7200000000L)).as("ws"),
        (col("t0") + col("window_id") * lit(7200000000L) +
          lit(5400000000L)).as("we"))
    graft.operators.IntervalJoin
      .intervalOverlap(sess, "start_ns", "end_x", windows, "ws", "we",
        bucket = 1800000000L)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_id")
  }

  val sessionWindowOverlapSql: String = s"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CASE WHEN LAG(epoch_us(ts), 1) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w
                  > ${30L * 60 * 1000000L}
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sessions AS (
      SELECT user_id, ts_us,
        CAST(SUM(is_new) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_idx
      FROM flagged
    ), sess AS (
      SELECT user_id, session_idx, MIN(ts_us) AS start_ns,
        MAX(ts_us) + 1 AS end_x
      FROM sessions GROUP BY user_id, session_idx
    ), t AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
    w AS (SELECT CAST(k AS BIGINT) AS window_id,
        t0 + k * 7200000000 AS ws,
        t0 + k * 7200000000 + 5400000000 AS we
      FROM t CROSS JOIN range(20) r(k))
    SELECT w.window_id, COUNT(*) AS n_sessions,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM sess JOIN w ON sess.start_ns < w.we AND w.ws < sess.end_x
    GROUP BY w.window_id ORDER BY w.window_id"""

  /** As-of join: each purchase event picks up the latest preceding view
    * event of the same user (graft.operators.AsOf — union + one sorted
    * window pass, a single shuffle at any scale). */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "event_id", "ts_us", "value")
    AsOf.joinAsOf(purchases, views, key = "user_id",
        leftTime = "ts_us", rightTime = "ts_us", rightTie = "event_id")
      .select(col("event_id").as("purchase_id"),
        col("user_id"),
        col("asof.event_id").as("view_id"),
        col("asof.ts_us").as("view_ts_us"),
        col("asof.value").as("view_value"))
      .orderBy("purchase_id")
  }

  val asofJoinSql: String = """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           v.event_id AS view_id, v.ts_us AS view_ts_us,
           v.value AS view_value
    FROM events p LEFT JOIN LATERAL (
      SELECT event_id, epoch_us(ts) AS ts_us, value
      FROM events
      WHERE event_type = 'view' AND user_id = p.user_id
        AND epoch_us(ts) <= epoch_us(p.ts)
      ORDER BY ts_us DESC, event_id DESC LIMIT 1) v ON TRUE
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id"""

  /** Blocked fuzzy string join (edit distance ≤ 1) via the FastSS
    * deletion-neighborhood (Bocek et al. 2007): each name emits itself
    * plus every single-character deletion as equality-join SIGNATURES.
    * Two strings within edit distance 1 always share a signature
    * (equal → the string itself; substitution at i → both strings'
    * i-deletions coincide; insert/delete → the shorter string IS a
    * deletion of the longer), so a hash equi-join on signatures plus an
    * exact levenshtein verify replaces the quadratic all-pairs scan —
    * the record-linkage shape for matching a dirty catalog against
    * master data. The probe side is a deterministically corrupted
    * sample of part names (one character dropped at a key-derived
    * position). Both sides deduplicate names BEFORE signature
    * expansion: signature volume scales with distinct names × avg
    * length, and a popular name's multiplicity never amplifies the
    * join (the 100 TB hot-key guard). The oracle brute-forces the
    * distinct-name cross join — equivalent output by the FastSS
    * completeness guarantee, quadratic only in the oracle. */
  def fuzzyJoinParts(s: SparkSession, d: String): DataFrame = {
    def sigs(df: DataFrame, nameCol: String): DataFrame =
      df.select(col(nameCol), explode(expr(
        s"""array_distinct(concat(array($nameCol),
           |  transform(sequence(1, char_length($nameCol)),
           |    i -> concat(substr($nameCol, 1, i - 1),
           |                substr($nameCol, i + 1)))))""".stripMargin))
        .as("sig"))
    val part = Tables.part(s, d)
    val probes = part.filter(col("p_partkey") % 7 === 0)
      .withColumn("k",
        (col("p_partkey") % length(col("p_name"))).cast("int") + 1)
      .select(expr(
        "concat(substr(p_name, 1, k - 1), substr(p_name, k + 1))")
        .as("q_name"))
      .distinct()
    val masters = part.select(col("p_name").as("m_name")).distinct()
    sigs(probes, "q_name").join(sigs(masters, "m_name"), "sig")
      .select("q_name", "m_name").distinct()
      .filter(levenshtein(col("q_name"), col("m_name")) <= 1)
      .select(col("q_name"), col("m_name"),
        levenshtein(col("q_name"), col("m_name")).as("dist"))
      .orderBy("q_name", "m_name")
  }

  val fuzzyJoinPartsSql: String = """
    WITH probes AS (SELECT DISTINCT
        substr(p_name, 1, k - 1) || substr(p_name, k + 1) AS q_name
      FROM (SELECT p_name,
          CAST(p_partkey % length(p_name) AS INT) + 1 AS k
        FROM part WHERE p_partkey % 7 = 0)),
    masters AS (SELECT DISTINCT p_name AS m_name FROM part)
    SELECT q_name, m_name,
      CAST(levenshtein(q_name, m_name) AS INT) AS dist
    FROM probes CROSS JOIN masters
    WHERE levenshtein(q_name, m_name) <= 1
    ORDER BY q_name, m_name"""

  /** Cohort retention: users bucketed by first-activity day, counted
    * on each later active day offset — the table behind every
    * retention curve. Days are epoch-day integers (`ts_us div 86.4e9`)
    * so no date/timezone function can diverge cross-engine. Shape: the
    * join side runs the distinct over (user, day); for the first-day
    * side Catalyst REMOVES the redundant distinct under the min
    * aggregate (min over raw rows ≡ min over distinct rows), so that
    * branch partial-aggregates straight off a second two-column scan —
    * one wide (user, day) exchange avoided at the cost of a cheap
    * column-pruned re-scan, the right trade when the exchange rows
    * outweigh two projected columns. The per-user table broadcasts
    * back; the final (cohort, k) aggregate is map-side combinable.
    * Nothing here is driver state. */
  def eventsRetention(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ud.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "k")
  }

  val eventsRetentionSql: String = """
    WITH ud AS (SELECT DISTINCT user_id,
        epoch_us(ts) // 86400000000 AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1)
    SELECT cohort_day, day - cohort_day AS k,
      COUNT(DISTINCT user_id) AS n_users
    FROM ud JOIN f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Ordered funnel: view → first click AT OR AFTER the first view →
    * first purchase at or after that click, per user — the sequence
    * constraint ("after") is what separates a funnel from three
    * independent counts, and is exactly what naive conditional
    * aggregation gets wrong. Three stage aggregates, each a map-side
    * combinable min keyed by user_id, each stage joining (and
    * shrinking) the previous stage's survivors — at scale every join
    * is a same-key hash join on user_id and AQE broadcasts the
    * later, smaller stages. Single-row summary output. */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts_us")
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("v_ts"))
    val fc = ev.filter(col("event_type") === "click")
      .join(fv, Seq("user_id"))
      .filter(col("ts_us") >= col("v_ts"))
      .groupBy("user_id").agg(min(col("ts_us")).as("c_ts"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fc, Seq("user_id"))
      .filter(col("ts_us") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("ts_us")).as("p_ts"))
    val total = ev.agg(countDistinct(col("user_id")).as("n_users"))
    total
      .crossJoin(broadcast(fv.agg(count(lit(1)).as("n_viewed"))))
      .crossJoin(broadcast(fc.agg(count(lit(1)).as("n_clicked_after"))))
      .crossJoin(broadcast(fp.agg(count(lit(1)).as("n_purchased_after"))))
      .select(col("n_users"), col("n_viewed"), col("n_clicked_after"),
        col("n_purchased_after"),
        round(col("n_purchased_after").cast("double") / col("n_viewed"), 6)
          .as("view_to_purchase"))
  }

  val eventsFunnelSql: String = """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
      FROM events),
    fv AS (SELECT user_id, MIN(ts_us) AS v_ts FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    fc AS (SELECT ev.user_id, MIN(ts_us) AS c_ts FROM ev
      JOIN fv ON ev.user_id = fv.user_id
      WHERE event_type = 'click' AND ts_us >= v_ts GROUP BY 1),
    fp AS (SELECT ev.user_id, MIN(ts_us) AS p_ts FROM ev
      JOIN fc ON ev.user_id = fc.user_id
      WHERE event_type = 'purchase' AND ts_us >= c_ts GROUP BY 1)
    SELECT (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_users,
      (SELECT COUNT(*) FROM fv) AS n_viewed,
      (SELECT COUNT(*) FROM fc) AS n_clicked_after,
      (SELECT COUNT(*) FROM fp) AS n_purchased_after,
      ROUND(CAST((SELECT COUNT(*) FROM fp) AS DOUBLE) /
        (SELECT COUNT(*) FROM fv), 6) AS view_to_purchase"""

  /** Point-in-interval join via bucket expansion
    * ([[graft.operators.IntervalJoin]]): events against 20 derived
    * maintenance windows (2 h cadence, 90 min long, anchored at the
    * corpus's first timestamp — both engines derive identical windows,
    * so the join is fully oracle-checked). The naive `ON ts >= s AND
    * ts < e` formulation plans as BroadcastNestedLoopJoin once the
    * interval side outgrows a broadcast; the bucketed form equi-joins
    * on a 30-min bucket key and re-checks the exact predicate —
    * linear, hash-partitioned, skew-free (ScaleSpec asserts no BNLJ
    * under forced-shuffle planning). */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("ts_us"))
    val windows = ev.agg(min(col("ts_us")).as("t0"))
      .select(explode(sequence(lit(0L), lit(19L))).as("window_id"),
        col("t0"))
      .select(col("window_id"),
        (col("t0") + col("window_id") * lit(7200000000L)).as("ws"),
        (col("t0") + col("window_id") * lit(7200000000L) +
          lit(5400000000L)).as("we"))
    graft.operators.IntervalJoin
      .pointInInterval(ev, "ts_us", windows, "ws", "we",
        bucket = 1800000000L)
      .select(col("event_id"), col("window_id"), col("ts_us"))
      .orderBy("event_id", "window_id")
  }

  val intervalJoinSql: String = """
    WITH t AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
    w AS (SELECT CAST(k AS BIGINT) AS window_id,
        t0 + k * 7200000000 AS ws,
        t0 + k * 7200000000 + 5400000000 AS we
      FROM t CROSS JOIN range(20) r(k)),
    e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events)
    SELECT e.event_id, w.window_id, e.ts_us
    FROM e JOIN w ON e.ts_us >= w.ws AND e.ts_us < w.we
    ORDER BY event_id, window_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("interval_join", intervalJoin, Some(intervalJoinSql)),
    QuerySpec("session_window_overlap", sessionWindowOverlap,
      Some(sessionWindowOverlapSql)),
    QuerySpec("q1_pricing_summary", q1, Some(q1Sql)),
    QuerySpec("fuzzy_join_parts", fuzzyJoinParts, Some(fuzzyJoinPartsSql)),
    QuerySpec("events_retention", eventsRetention, Some(eventsRetentionSql)),
    QuerySpec("events_funnel", eventsFunnel, Some(eventsFunnelSql)),
    QuerySpec("q3_top_revenue", q3, Some(q3Sql)),
    QuerySpec("q5_regional_revenue", q5, Some(q5Sql)),
    QuerySpec("q6_forecast_revenue", q6, Some(q6Sql)),
    QuerySpec("q12_priority_shipping", q12, Some(q12Sql)),
    QuerySpec("join_semi_exists", joinSemi, Some(joinSemiSql)),
    QuerySpec("join_anti_not_exists", joinAnti, Some(joinAntiSql)),
    QuerySpec("agg_rollup", aggRollup, Some(aggRollupSql)),
    QuerySpec("topk_orders", topkOrders, Some(topkOrdersSql)),
    QuerySpec("window_running", windowRunning, Some(windowRunningSql)),
    QuerySpec("sessionize", sessionize, Some(sessionizeSql)),
    QuerySpec("asof_join", asofJoin, Some(asofJoinSql)))
}
