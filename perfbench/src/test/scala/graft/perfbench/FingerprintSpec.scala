package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The query fingerprint must depend on the result's content only: not
  * on row order, partitioning or the reduction order of a floating sum,
  * and it must change when a value changes. */
class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fingerprint(df: DataFrame): (Long, String) = {
    val (o, obs) = Fingerprint.observed(df, "t")
    o.write.mode("overwrite").format("noop").save()
    Fingerprint.read(obs)
  }

  /** a tiny aggregate query: per-key sums of values whose floating
    * total depends on the order they are added in */
  private def tinyQuery(partitions: Int, ascending: Boolean): DataFrame = {
    val base = spark.range(0, 3000, 1, partitions)
      .select((col("id") % 7).as("k"),
        (lit(0.1) * col("id") + lit(1e-3) / (col("id") + 1)).as("v"),
        array(col("id").cast("double")).as("a"))
    // a repeated column name, as some registry results have
    val agg = base.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"),
      max("a").as("a"))
      .select(col("k"), col("s"), col("n"), col("a"), col("k").as("s"))
    agg.orderBy(if (ascending) col("k") else col("k").desc)
  }

  test("order, partitioning and summation order do not change it") {
    val a = fingerprint(tinyQuery(1, ascending = true))
    val b = fingerprint(tinyQuery(7, ascending = false))
    assert(a._1 == 7L)
    assert(a == b)
  }

  test("the same query fingerprints the same twice") {
    val q = tinyQuery(4, ascending = true)
    assert(fingerprint(q) == fingerprint(q))
  }

  test("a changed value or a missing row changes it") {
    val q = tinyQuery(4, ascending = true)
    val base = fingerprint(q)
    val changed = fingerprint(q.withColumn("n",
      when(col("k") === 3, col("n") + 1).otherwise(col("n"))))
    val fewer = fingerprint(q.filter(col("k") =!= 3))
    assert(changed._1 == base._1 && changed._2 != base._2)
    assert(fewer._1 == base._1 - 1 && fewer._2 != base._2)
  }

  test("empty results and map columns fingerprint without error") {
    assert(fingerprint(tinyQuery(2, ascending = true).filter(lit(false))) ==
      ((0L, "0")))
    assert(fingerprint(spark.range(3).select(map(lit("a"), col("id")))
      .toDF("m"))._1 == 3L)
  }
}
