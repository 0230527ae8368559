package graft

import org.apache.spark.sql.SparkSession

/** Scaling-ratio probe: times the heaviest registered queries at two
  * scale factors in one JVM and records t(10×)/t(1×) per query.
  *
  * The bench answers "how fast at SF x"; this answers "what happens
  * when the data grows 10×" — the question that matters for the 100 TB
  * target. A healthy distributed plan grows ≤ ~linearly (ratio ≈ 10
  * plus log factors and fixed overheads; small-SF runs are dominated by
  * scheduling constants, so ratios well BELOW 10 are common and fine);
  * a super-linear ratio (≳12) flags a plan whose work grows faster than
  * its input — e.g. an unbounded candidate-pair join — and fails this
  * probe loudly.
  *
  * Each run goes through [[Measure]] (noop sink, per-run housekeeping);
  * a query that fails every run at either SF is listed under "failed"
  * and fails the probe.
  *
  * Usage: runMain graft.Scaling [outFile] (defaults to SCALING.json).
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALE_RUNS (default 3).
  */
object Scaling {

  /** Fixture-driven queries: committed media fixtures do not grow
    * with the scale factor, so a 10x-data ratio there measures
    * nothing. Everything else in the registry scales with the SF dir
    * and is measured. */
  val excluded: Set[String] = Set(
    "multimodal_meta", "multimodal_decode_stats",
    "multimodal_compressed_meta", "multimodal_scene_cuts",
    "multimodal_phash_dedup", "multimodal_audio_dedup")

  /** The WHOLE registry minus the fixture-driven rows — rounds 10-12
    * hand-picked the heaviest shapes; round 13 widened to the full
    * TPC-H/ANN/dedup/text/event families and round 13b went
    * exhaustive: the decade panel is the only 100x-design evidence
    * the harness records, so cover everything that can be covered. */
  def targets: Seq[String] =
    SparkEntry.specs.map(_.name).filterNot(excluded)

  /** A ratio above this on a 10× data step is super-linear growth. */
  val SuperLinear = 12.0

  /** Min-of-runs seconds of one query at the small and the big SF. */
  final case class Row(name: String, small: Double, big: Double) {
    def ratio: Double = big / small
  }

  /** Times each registered query of `names` `runs` times on `small` and
    * on `big` through [[Measure]]. Returns the rows and, apart, the
    * names of the queries that failed every run at either SF. */
  def measure(spark: SparkSession, names: Seq[String], small: String,
              big: String, runs: Int): (Seq[Row], Seq[String]) = {
    val byName = SparkEntry.specs.map(q => q.name -> q).toMap
    names.flatMap(byName.get).partitionMap { q =>
      val (a, b) = (Measure.series(spark, q, small, runs),
        Measure.series(spark, q, big, runs))
      if (!a.ok || !b.ok) Right(q.name)
      else {
        println(f"${q.name}%-28s ${a.min}%8.3f s  ${b.min}%8.3f s  ratio ${b.min / a.min}%6.2f")
        Left(Row(q.name, a.min, b.min))
      }
    }
  }

  /** The `"worst"` and `"failed"` fields of a record: the largest ratio
    * outside `expected` (the plan-defect signal), and the failed queries. */
  def summary(rows: Seq[Row], failed: Seq[String],
              expected: Map[String, String]): String = {
    val worst = rows.filterNot(r => expected.contains(r.name))
      .maxByOption(_.ratio)
      .fold("null")(w => f"""{"name":"${w.name}","ratio":${w.ratio}%.2f}""")
    s""""worst":$worst,"failed":""" +
      failed.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  /** Reports every ratio above [[SuperLinear]], with its reason when
    * `expected` names the query. True when the probe fails: a failed
    * query (logged by [[Measure.run]]) or an unexpected super-linear row. */
  def check(rows: Seq[Row], failed: Seq[String],
            expected: Map[String, String]): Boolean = {
    val over = rows.filter(_.ratio > SuperLinear)
    over.foreach { r =>
      expected.get(r.name) match {
        case Some(why) =>
          println(f"expected super-linear: ${r.name} ratio ${r.ratio}%.2f - $why")
        case None =>
          System.err.println(
            f"SUPER-LINEAR: ${r.name} ratio ${r.ratio}%.2f > $SuperLinear%.0f")
      }
    }
    failed.nonEmpty || over.exists(r => !expected.contains(r.name))
  }

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("SCALING.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = Measure.runs("SPARK_GRAFT_SCALE_RUNS", 3)
    val sfSmall = "/root/testdata/sf0.01"
    val sfBig = "/root/testdata/sf0.1"
    val spark = Session(cpus)
    Measure.warmUp(spark, sfSmall, sfBig)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val (rows, failed) = measure(spark, targets, sfSmall, sfBig, runs)
    val json = rows.map(r =>
      f""""${r.name}":{"sf001_sec":${r.small}%.3f,"sf01_sec":${r.big}%.3f,"ratio":${r.ratio}%.2f}"""
    ).mkString(",")
    val out =
      f"""{"data_ratio":10,"runs":$runs,"cpus":$cpus,""" +
        f""""load_avg_start":$loadStart%.2f,""" +
        f""""load_avg_end":${os.getSystemLoadAverage}%.2f,""" +
        summary(rows, failed, Map.empty) + s""","queries":{$json}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
    if (check(rows, failed, Map.empty)) sys.exit(1)
  }
}
