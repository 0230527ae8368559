package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism heal (r17-opt; optimization-guide §2.5's
  * "unsplittable input" case).
  *
  * A parquet scan's task count is bounded by its ROW-GROUP count —
  * Spark assigns byte-range splits, but a row group is read whole by
  * the split holding its midpoint — so a table stored as one (or few)
  * row groups runs its entire scan stage (decode, per-row expressions,
  * map-side partial aggregation) on one core no matter how many the
  * session has. Measured at sf0.1: the 15-decimal-sum corr_matrix
  * aggregate runs ~0.7 s single-threaded over a 1-row-group file on a
  * 32-core session.
  *
  * When the footers show the scan cannot reach even half the session's
  * cores, [[Spread.apply]] hash-redistributes the scan output by a
  * caller-chosen deterministic key so downstream per-row work
  * parallelizes. Any input with row groups ≥ cores/2 — every
  * production-sized table — is returned untouched, so no exchange is
  * ever added at scale; the heal only fires where the input layout has
  * already made the scan serial. Hash (not round-robin) partitioning:
  * keyless round-robin pays a per-partition sort
  * (spark.sql.execution.sortBeforeRepartition, SPARK-23207) the heal
  * does not need, because the caller's key is deterministic per row.
  *
  * The footer verdict is memoized per snapshot token and session
  * parallelism (zero jobs on a hit — the ParquetStats dispatch-guard
  * discipline used across the engine).
  */
object Spread {

  /** Session conf that disables the heal ("true" by default). The
    * plan-shape tests pin the AT-SCALE plan contracts — where the
    * footer guard makes Spread a structural no-op — so they set this
    * false instead of faking a many-row-group layout; SpreadSpec owns
    * the local firing behavior (guard verdicts, result equality, the
    * reused exchange). */
  val EnabledConf = "spark.graft.spread"

  private val memo = new Lru[String, Boolean](Lru.Verdicts)

  /** Heal width: the session's advertised parallelism capped at the
    * cgroup-aware core count the JVM can actually use (r18, VERDICT
    * r17 #2). `local[32]` advertises 32 regardless of the host's CPU
    * quota or background load, and a 32-task memory-heavy wave on
    * fewer effective cores oversubscribes — the r17 driver host ran
    * ngram_hot's healed 5-gram explode at 7.6 s vs 0.7 s quiet.
    * `availableProcessors` reflects the cgroup CPU quota on modern
    * JVMs, so the heal never launches more simultaneous heavy tasks
    * than the host can actually run. */
  private[graft] def width(defaultParallelism: Int, availableProcs: Int)
      : Int = math.max(1, math.min(defaultParallelism, availableProcs))

  private def width(s: SparkSession): Int =
    width(s.sparkContext.defaultParallelism,
      Runtime.getRuntime.availableProcessors)

  /** True iff the path's parquet layout bounds scan parallelism below
    * half the heal width (the cores the JVM can actually use).
    * Unreadable footers report false (never add an exchange on unknown
    * layout). */
  def narrow(s: SparkSession, path: String): Boolean = {
    val par = width(s)
    val key = path + "|" +
      sources.ParquetStats.snapshotToken(s, path) + "|" + par
    memo.getOrLoad(key)(
      sources.ParquetStats.rowGroupCount(s, path).exists(_ < par / 2))
  }

  /** `df` hash-redistributed across the heal width by `key` iff
    * `path`'s footers bound the scan below half of it; `df`
    * unchanged otherwise. Row order is not part of any caller's
    * contract (aggregates/joins downstream); results are identical
    * either way. */
  def apply(s: SparkSession, path: String, df: DataFrame, key: Column)
      : DataFrame =
    if (s.conf.get(EnabledConf, "true") == "true" && narrow(s, path))
      df.repartition(width(s), key)
    else df
}
