package graft.perfbench

/** Entry point of the JVM side of the benchmark (run.py launches it).
  *
  *   prepare --data DIR --sf01 DIR --work DIR --cpus N
  *   run --workload serve|queries --seed S --seconds N
  *       --trace 0|1 --cpus N --data DIR --sf01 DIR --work DIR --out FILE
  *       [--no-observe]
  *
  * `run` writes one JSON record (raw latencies, query rows, listener
  * totals) to --out; run.py turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = Set("--no-observe")
    val kv = args.drop(1).toList.foldLeft((Map.empty[String, String],
      Option.empty[String])) {
      case ((m, None), a) if flags(a) => (m + (a -> "1"), None)
      case ((m, None), a) => (m, Some(a))
      case ((m, Some(k)), a) => (m + (k -> a), None)
    }._1
    def arg(k: String) = kv.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val code = try {
      args.headOption match {
        case Some("prepare") =>
          val conf = RunConf("prepare", 0, 0, false, arg("cpus").toInt,
            arg("data"), arg("sf01"), arg("work"), "")
          val spark = Harness.session(conf)
          try Prepare.run(spark, conf.dataDir, conf.sf01) finally spark.stop()
        case Some("run") =>
          val conf = RunConf(arg("workload"), arg("seed").toLong,
            arg("seconds").toInt, arg("trace") == "1", arg("cpus").toInt,
            arg("data"), arg("sf01"), arg("work"), arg("out"),
            observe = !kv.contains("--no-observe"))
          val record = conf.workload match {
            case "serve" => Serve.run(conf)
            case "queries" => QueryPass.run(conf)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          Json.writeFile(conf.out, Map("workload" -> conf.workload,
            "seed" -> conf.seed, "seconds" -> conf.seconds,
            "trace" -> conf.trace, "cpus" -> conf.cpus,
            "master" -> s"local[${conf.cpus}]",
            "max_heap_mb" -> Harness.maxHeapMb) ++ record)
        case _ =>
          throw new IllegalArgumentException("usage: prepare|run ...")
      }
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    // the JDK HttpClient and Spark leave non-daemon threads behind
    System.exit(code)
  }
}
