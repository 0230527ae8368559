package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Round-17 optimization evidence: dumps `.explain("formatted")` for a
  * list of queries to `plans/r17/<query>_<suffix>.txt`. Run:
  *   sbt "runMain graft.PlanDump <suffix> <q1,q2,...> [sfDir] [outDir]"
  *
  * AQE is disabled for the dump (same rationale as [[Plans]]): the
  * static plan shows the full operator tree incl. exchange reuse that
  * AQE's iterative re-planning would hide behind AdaptiveSparkPlan
  * placeholders, and the shape is what the optimization round's
  * before/after evidence pins.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(3).getOrElse("plans/r17")
    val spark = Session("4", logLevel = "ERROR", conf = Seq(Session.AqeOff))
    graft.pipeline.Caching.inspectLazyPlans = true
    Files.createDirectories(Paths.get(outDir))

    val byName = SparkEntry.specs.map(s => s.name -> s).toMap
    names.foreach { name =>
      val spec = byName.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = spec.run(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      val clipped = txt.linesIterator
        .map(l => if (l.length > 500) l.take(500) + " ...<clipped>" else l)
        .mkString("\n")
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), clipped)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
