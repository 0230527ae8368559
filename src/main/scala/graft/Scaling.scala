package graft

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

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("SCALING.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val sfSmall = "/root/testdata/sf0.01"
    val sfBig = "/root/testdata/sf0.1"
    val spark = Session(cpus)
    // warm-up: JVM/codegen/FS metadata for both SF dirs
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq(sfSmall, sfBig).foreach(d =>
      Tables.names.foreach(n => Tables.table(spark, d, n).schema))

    val specs = SparkEntry.specs.filter(q => targets.contains(q.name))
    def time(name: String, dir: String): Double = {
      val q = specs.find(_.name == name).get
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        q.run(spark, dir).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val rows = targets.filter(n => specs.exists(_.name == n)).map { n =>
      val tSmall = time(n, sfSmall)
      val tBig = time(n, sfBig)
      (n, tSmall, tBig, tBig / tSmall)
    }
    val json = rows.map { case (n, a, b, r) =>
      f""""$n":{"sf001_sec":$a%.3f,"sf01_sec":$b%.3f,"ratio":$r%.2f}"""
    }.mkString(",")
    val worst = rows.maxBy(_._4)
    val out =
      f"""{"data_ratio":10,"runs":$runs,"cpus":$cpus,""" +
        f""""load_avg_start":$loadStart%.2f,""" +
        f""""load_avg_end":${os.getSystemLoadAverage}%.2f,""" +
        f""""worst":{"name":"${worst._1}","ratio":${worst._4}%.2f},""" +
        s""""queries":{$json}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
    // a ratio ≳ 12 means super-linear growth on a 10× data step
    rows.filter(_._4 > 12.0).foreach { case (n, _, _, r) =>
      System.err.println(f"SUPER-LINEAR: $n ratio $r%.2f > 12")
    }
    if (rows.exists(_._4 > 12.0)) sys.exit(1)
  }
}
