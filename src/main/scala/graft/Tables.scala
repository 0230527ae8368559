package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central loaders for the driver-generated parquet tables
  * (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * All engine code reads through here so session-level parity settings
  * (UTC, nanosecond-timestamp handling) are applied exactly once.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings required for oracle (DuckDB) parity. Idempotent. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS) which Spark does not model;
    // read it as epoch-nanos LongType and convert explicitly (see events()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Let AQE re-coalesce the output partitioning of cached plans. The
    // pipeline operators persist small intermediates (edge lists, degree
    // tables, signatures); with the default (false) those caches pin the
    // pre-AQE partition count — e.g. the graph queries' persisted edges
    // kept 256 near-empty partitions, and every downstream stage over
    // the cache paid 256 tasks (graph_pagerank: 10,809 tasks / 8 s at
    // sf0.1 → 106 tasks / 3.8 s with this on). The documented trade-off
    // (a consumer needing the pre-coalesce partitioning may re-shuffle)
    // does not arise here: the caches feed joins/aggregations that
    // shuffle anyway.
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
  }

  /** Resolved-relation memo (r17-opt). `spark.read.parquet` pays
    * schema inference (a synchronous footer read) plus file listing on
    * EVERY call — measured ~90 ms per call warm — and every query
    * construction re-reads its tables, so the bench paid it ~400
    * times per sitting. A resolved Dataset is an immutable logical
    * plan (exactly what a catalog table reuses), so it is memoized per
    * (session, path, file length, mtime): no row data is cached — the
    * plan still scans parquet on every execution — and a republished
    * file (new length/mtime) misses the memo, the same snapshot-key
    * discipline as ParquetStats/DedupIndex. Bounded, because stopped
    * test sessions would otherwise pin their plans. */
  private val relCache =
    new Lru[(SparkSession, String, Long, Long), DataFrame](64)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$dir/$name.parquet"
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      (spark, path, st.getLen, st.getModificationTime)
    } catch { case _: Throwable => (spark, path, -1L, -1L) }
    if (key._3 < 0) spark.read.parquet(path)
    else relCache.getOrLoad(key)(spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts_us: BIGINT` (epoch micros) and `ts: TIMESTAMP`
    * at the same precision — the cross-engine time axis shared with the
    * DuckDB oracle's `epoch_us(ts)`.
    *
    * The driver has shipped the `ts` column under two physical types
    * across rounds — TIMESTAMP(NANOS) (read as epoch-nanos BIGINT via
    * the `nanosAsLong` session flag, truncated toward zero by `div 1000`
    * exactly as DuckDB's `epoch_us` truncates TIMESTAMP_NS) and
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) — so the reader branches
    * on the type it actually finds rather than assuming one. The
    * session timezone is pinned to UTC, so the NTZ→LTZ cast is a
    * wall-clock identity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_raw_ns")
          .withColumn("ts_us", expr("ts_raw_ns div 1000"))
          .withColumn("ts", expr("timestamp_micros(ts_us)"))
          .drop("ts_raw_ns")
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        raw.withColumnRenamed("ts", "ts_raw")
          .withColumn("ts_us", expr("unix_micros(cast(ts_raw as timestamp_ltz))"))
          .withColumn("ts", expr("timestamp_micros(ts_us)"))
          .drop("ts_raw")
      case other =>
        throw new IllegalStateException(
          s"events.parquet 'ts' has unexpected stored type $other; " +
            "expected TIMESTAMP(NANOS) (LongType under nanosAsLong) or " +
            "TIMESTAMP_NTZ/TIMESTAMP")
    }
  }
}
