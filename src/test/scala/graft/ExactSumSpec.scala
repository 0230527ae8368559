package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{ExactSum, ExactSumKernel}

/** Pins the [[ExactSum]] kernel to the formulation it replaces:
  * `sum(CAST(x AS DECIMAL(38,6)))`, value for value, NULL for NULL and
  * error for error, on both arms of the kernel (fast long lane and
  * delegated decimal slot), through the partial merge, and in windows.
  */
class ExactSumSpec extends SparkSpec {
  import ExactSumSpec._

  private def reference(x: org.apache.spark.sql.Column) =
    sum(x.cast(Q.Dec))

  /** Per-group ExactSum and reference sum plans over `df(g, x)`. */
  private def plans(df: DataFrame): (DataFrame, DataFrame) = {
    def agg(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.groupBy("g").agg(f(col("x")).as("s")).orderBy("g")
    val (got, want) = (agg(ExactSum(_)), agg(reference))
    assert(got.schema == want.schema)
    (got, want)
  }

  private def bothWays(df: DataFrame): (Array[Row], Array[Row]) = {
    val (got, want) = plans(df)
    (got.collect(), want.collect())
  }

  private def frame(groups: Seq[Seq[Option[Double]]]): DataFrame = {
    val rows = groups.zipWithIndex.flatMap { case (xs, g) =>
      xs.map(x => Row(g, x.map(Double.box).orNull))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("g", IntegerType),
        StructField("x", DoubleType))))
  }

  private def assertSame(df: DataFrame): Unit = {
    val (got, want) = bothWays(df)
    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a == b, s"group ${b.get(0)}: exact_sum ${a.get(1)} != " +
        s"sum(cast) ${b.get(1)}")
    }
  }

  test("property: exact_sum == sum(cast(x AS DECIMAL(38,6))) on " +
      "generated groups (half-unit ties, edges, nulls), single " +
      "partition and after a repartition") {
    val params = Gen.Parameters.default
    val groups = (0 until 300).flatMap(i => group(params, Seed(i.toLong)))
    val df = frame(groups)
    // a generated-code compile error must fail here, not fall back
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assertSame(df.coalesce(1))
      assertSame(df.repartition(7))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // both arms of the kernel were exercised
    val xs = groups.flatten.flatten
    assert(xs.count(ExactSumKernel.lane(_) != ExactSumKernel.NotFast) > 500)
    assert(xs.count(ExactSumKernel.lane(_) == ExactSumKernel.NotFast) > 500)
  }

  test("named edge values, alone and mixed into one group") {
    val alone = Edges.map(x => Seq(Some(x)))
    val mixed = Seq(Edges.map(Some(_)) ++ Seq(Some(0.25), Some(17.5), None))
    val df = frame(alone ++ mixed)
    assertSame(df)
    assertSame(df.repartition(5))
    // the mixed group holds fast and delegated rows
    assert(Edges.exists(ExactSumKernel.lane(_) != ExactSumKernel.NotFast))
    assert(Edges.exists(ExactSumKernel.lane(_) == ExactSumKernel.NotFast))
  }

  test("all-null and empty groups are NULL") {
    val df = frame(Seq(Seq(None, None), Seq(Some(1.5))))
    val (got, want) = bothWays(df)
    assert(got === want)
    assert(got(0).isNullAt(1))
    // empty input, global and grouped
    val empty = df.filter(lit(false))
    val g = empty.agg(ExactSum(col("x"))).collect()
    assert(g === empty.agg(reference(col("x"))).collect())
    assert(g.head.isNullAt(0))
    assert(bothWays(empty)._1.isEmpty)
  }

  test("NaN, ±Inf, out-of-range values and sum overflow: the same " +
      "outcome (value, NULL or error condition) with ANSI on and off") {
    def outcome(f: => Array[Row]): Either[String, Seq[Row]] =
      try Right(f.toSeq) catch {
        case e: Exception =>
          val t = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .collectFirst { case t: org.apache.spark.SparkThrowable => t }
          Left(t.map(_.getCondition).getOrElse(e.toString))
      }
    val cases = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e40).map(bad =>
        Seq(Seq(Some(1.25), Some(bad), Some(2.0)), Seq(Some(bad)))) :+
      Seq(Seq(Some(9e31), Some(0.5), Some(9e31), Some(-9e31)))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false"); groups <- cases) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val df = frame(groups).repartition(2)
      val (g, w) = plans(df)
      val (got, want) = (outcome(g.collect()), outcome(w.collect()))
      assert(got == want, s"ansi=$ansi $groups")
      if (ansi == "true" && groups.flatten.contains(Some(1e40)))
        assert(got.isLeft, "an out-of-range cast must fail under ANSI")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("DECIMAL(12,2) and BIGINT inputs take the delegated slot and " +
      "match") {
    val df = frame(Seq(Seq(Some(1.25), Some(-3.5), None),
      Seq(Some(1e9), Some(123456.78)), Seq(None)))
    for (t <- Seq(DecimalType(12, 2), LongType)) {
      assertSame(df.withColumn("x", col("x").cast(t)).repartition(3))
    }
  }

  test("dsumOver: running and sliding frames match the cast-and-sum " +
      "window") {
    val params = Gen.Parameters.default
    val groups = (0 until 40).flatMap(i => group(params, Seed(i.toLong)))
    val df = frame(groups).withColumn("i", monotonically_increasing_id())
    val running = Window.partitionBy("g").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = Window.partitionBy("g").orderBy("i").rowsBetween(-2, 1)
    for (w <- Seq(running, sliding)) {
      val got = df.select(col("g"), col("i"), ExactSum(col("x")).over(w),
        Q.dsumOver(col("x"), w)).orderBy("g", "i").collect()
      val want = df.select(col("g"), col("i"), reference(col("x")).over(w),
        round(reference(col("x")).over(w), 2).cast("double"))
        .orderBy("g", "i").collect()
      assert(got === want)
    }
  }

  test("q1 plans the kernel, not a per-row decimal cast") {
    val plan = graft.queries.Relational.q1(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("exact_sum(") && !plan.contains("as decimal(38,6)"),
      plan.take(1500))
  }
}

object ExactSumSpec {
  val Edges: Seq[Double] = Seq(5e-7, -5e-7, 12345.6789125, -12345.6789125,
    -0.0, 1099511.627776, -1099511.627776, 1099511.6277761,
    -1099511.6277761, 4.5e12, -4.5e12, 1e20, 1e-300, 0.1, 1.0000005)

  /** A value with a 5 in the 7th decimal: x.xxxxxx5, either sign. */
  private val halfUnit: Gen[Double] = for {
    k <- Gen.choose(0L, 10000000000L)
    neg <- Gen.oneOf(false, true)
  } yield (if (neg) -1 else 1) * (k * 10 + 5) / 1e7

  private val money: Gen[Double] =
    Gen.choose(-10000000L, 10000000L).map(_ / 100.0)

  private val anyFinite: Gen[Double] = for {
    m <- Gen.choose(-1.0, 1.0)
    e <- Gen.choose(-9, 14)
  } yield m * math.pow(10, e)

  private val value: Gen[Option[Double]] = Gen.frequency(
    4 -> halfUnit.map(Some(_)), 4 -> money.map(Some(_)),
    4 -> anyFinite.map(Some(_)), 2 -> Gen.oneOf(Edges).map(Some(_)),
    1 -> Gen.const(None))

  val group: Gen[Seq[Option[Double]]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, value))
}
