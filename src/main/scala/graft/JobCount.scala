package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Round-18 optimization instrument: counts the Spark JOBS (≈ barrier
  * waves) one noop-sinked execution of each named query launches, at a
  * small SF where data cost is negligible — the wave count is the
  * scale-invariant overhead the bench pays per run (r17 measurement
  * map: ~60 % of the sf0.1 bench total). Run:
  *   sbt "runMain graft.JobCount <q1,q2,...> [sfDir] [cpus]"
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val cpus = args.lift(2).getOrElse("8")
    val spark = Session(cpus, logLevel = "ERROR")

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

    val byName = SparkEntry.specs.map(s => s.name -> s).toMap
    names.foreach { name =>
      val spec = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      // warm run: snapshot memos, codegen — we count the steady state
      spec.run(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      // listener events post async; a short settle keeps the warm
      // run's jobs out of the counted window (measurement tool only)
      Thread.sleep(500)
      jobs.set(0)
      val t0 = System.nanoTime()
      spec.run(spark, sfDir).write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"JOBS $name%-28s ${jobs.get}%4d jobs  $sec%7.3f s")
    }
    spark.stop()
  }
}
