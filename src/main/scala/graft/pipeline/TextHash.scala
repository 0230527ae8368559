package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible text hashing primitives used
  * by the dedup family. Everything is integer arithmetic mod a prime, so
  * Spark and any ANSI-ish SQL engine (the DuckDB oracle) compute
  * bit-identical values — no dependence on engine-internal hash
  * functions.
  *
  *   tokenHash(t) = fold over chars: acc*31 + ascii(c)  (mod P)
  *   shingleHash(h1, h2) = h1*8191 + h2                 (mod P)
  *   minhash_k(S) = min over s∈S of (a_k*s + b_k)       (mod P)
  */
object TextHash {

  val P: Long = 1000003L

  /** Spark-side: array<bigint> of per-token polynomial hashes. */
  def tokenHashesCol(text: String): Column = expr(
    s"""transform(split($text, ' '),
       |  t -> aggregate(sequence(1, length(t)), 0L,
       |         (acc, i) -> (acc * 31 + ascii(substr(t, i, 1))) % $P))""".stripMargin)

  /** Spark-side: array<bigint> of word-bigram shingle hashes; empty
    * array for texts with fewer than two tokens (`sequence(1, 0)`
    * DESCENDS in Spark, so the single-token case must short-circuit). */
  def shingleHashesCol(tokenHashes: Column): Column = {
    val th = tokenHashes
    // (th[i]*8191 + th[i+1]) % P for i in 1..n-1 (element_at is 1-based)
    when(size(th) < 2, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(th) - 1),
        i => (element_at(th, i) * lit(8191L) + element_at(th, i + 1)) % lit(P)))
  }

  /** Spark-side: one minhash value over a shingle-hash array. */
  def minhashCol(shingles: Column, k: Int): Column = {
    val (a, b) = coeffs(k)
    array_min(transform(shingles, h => (lit(a) * h + lit(b)) % lit(P)))
  }

  /** permutation coefficients for minhash k (shared with SQL gen). */
  def coeffs(k: Int): (Long, Long) = (37L + 2L * k, 101L * k + 7L)

  // ------------------------------------------------------------ SQL mirrors

  /** DuckDB: array of per-token hashes for column `text`. */
  def tokenHashesSql(text: String): String =
    s"""list_transform(string_split($text, ' '),
       | t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        [CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT)
       |         FOR i IN range(1, length(t)+1)]),
       |      (a, b) -> (a * 31 + b) % $P))""".stripMargin

  /** DuckDB: word-bigram shingle hashes from a token-hash array expr. */
  def shingleHashesSql(th: String): String =
    s"""[($th[CAST(i AS INT)] * 8191 + $th[CAST(i AS INT) + 1]) % $P
       | FOR i IN range(1, len($th))]""".stripMargin

  def minhashSql(shingles: String, k: Int): String = {
    val (a, b) = coeffs(k)
    s"list_min(list_transform($shingles, h -> ($a * h + $b) % $P))"
  }

  /** DuckDB: whole-string polynomial hash of expression `v` — the SQL
    * mirror of the codegen [[graft.functions.PolyHash]] kernel (both
    * fold code points, so they agree on all Unicode text incl.
    * surrogate pairs). */
  def polyHashSql(v: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       | [CAST(ascii(substr($v, CAST(i AS INT), 1)) AS BIGINT)
       |  FOR i IN range(1, length($v)+1)]),
       | (a, b) -> (a * 31 + b) % $P)""".stripMargin
}
