package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution has hot keys
  * (SURVEY "Partitioning & shuffle": salting for skew; AQE's skew-join
  * handles sort-merge spills, but a replicated-broadcast salt is the
  * deterministic fix when one side is small enough to replicate).
  *
  * `saltedJoin(big, small, key, f)`: the big side gets a random-ish but
  * DETERMINISTIC salt in [0, f) derived from a companion column (no
  * rand(): keeps retries/speculative tasks consistent), the small side
  * is exploded f× with every salt value, and the join key becomes
  * (key, salt) — hot keys now spread over f partitions.
  */
object Skew {

  /** Join types whose semantics survive salting: each BIG row carries
    * exactly one salt, so big-side multiplicity is unchanged; the
    * SMALL side is replicated factor×, so any join type that can emit
    * unmatched small rows (right/full outer) would emit them factor
    * times — silently wrong, hence rejected. */
  private val SaltSafeJoinTypes = Set(
    "inner", "cross", "left", "leftouter", "left_outer",
    "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti")

  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFrom: String, factor: Int,
                 joinType: String = "inner"): DataFrame = {
    require(
      SaltSafeJoinTypes(joinType.toLowerCase(java.util.Locale.ROOT).replace(" ", "")),
      s"saltedJoin: join type '$joinType' would duplicate unmatched " +
        s"small-side rows $factor times (the small side is replicated " +
        "per salt); use inner/left/left_semi/left_anti")
    val salted = big.withColumn("_salt",
      pmod(xxhash64(col(saltFrom)), lit(factor)).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(array((0 until factor).map(lit(_)): _*)))
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** What a cheap sample said about one key column's distribution.
    * `topShare` is the hot key's fraction of sampled rows. */
  final case class SkewReport(sampledRows: Long, approxDistinct: Long,
                              topKey: Option[String], topShare: Double) {
    /** hot = the top key alone would overfill one shuffle partition by
      * more than `slack`× a uniform spread — the point where AQE's
      * skew split stops helping a hash aggregation/join and salting
      * pays for its replication */
    def hot(partitions: Int, slack: Double = 4.0): Boolean =
      sampledRows > 0 && topShare * partitions > slack
  }

  /** Key-skew probe: ONE pass over a small sample (top key + count +
    * approx-distinct in a single aggregation tree), so deciding
    * whether to salt costs a fraction of the shuffle it guards. The
    * dedup/shingle shuffles call this before choosing a plan — nothing
    * measures skew for free in a declarative plan, and salting
    * unconditionally doubles the small side for corpora that don't
    * need it. */
  def probe(df: DataFrame, key: String,
            sampleFraction: Double = 0.05): SkewReport = {
    val s = df.select(col(key).cast("string").as("k"))
      .sample(withReplacement = false, sampleFraction, seed = 42)
    val counted = s.groupBy("k").agg(count(lit(1)).as("n"))
    val row = counted.agg(sum(col("n")).as("rows"),
        approx_count_distinct(col("k")).as("nd"),
        max_by(col("k"), col("n")).as("top"),
        max(col("n")).as("topN"))
      .head()
    if (row.isNullAt(0)) SkewReport(0L, 0L, None, 0.0)
    else {
      val rows = row.getLong(0)
      SkewReport(rows, row.getLong(1), Option(row.getString(2)),
        if (rows == 0) 0.0 else row.getLong(3).toDouble / rows)
    }
  }

  /** Probe-gated salted join: salts only when the sampled distribution
    * is actually hot. Returns the plan plus whether the salted path
    * activated (callers log/assert it). */
  def autoSaltedJoin(big: DataFrame, small: DataFrame, key: String,
                     saltFrom: String, factor: Int, partitions: Int,
                     sampleFraction: Double = 0.05,
                     joinType: String = "inner"): (DataFrame, Boolean) = {
    // validate up front, not only on the (data-dependent) hot path —
    // a 'full_outer' caller must fail on every corpus, not just hot ones
    require(
      SaltSafeJoinTypes(joinType.toLowerCase(java.util.Locale.ROOT).replace(" ", "")),
      s"autoSaltedJoin: join type '$joinType' is not salt-safe; " +
        "use inner/left/left_semi/left_anti")
    val report = probe(big, key, sampleFraction)
    if (report.hot(partitions))
      (saltedJoin(big, small, key, saltFrom, factor, joinType), true)
    else (big.join(small, Seq(key), joinType), false)
  }
}
