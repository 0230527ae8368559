package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe shared by every main and the test suites, so
  * the oracle run, the bench and the server plan queries under the same
  * config: `local[cpus]` with `cpus` shuffle partitions, AQE starting
  * wide, UTC, no UI; then the log level, the log filters and the table
  * confs ([[Tables.configure]]). `conf` entries override the shared
  * ones.
  */
object Session {

  /** AQE off: static plans for the plan dumps, not AdaptiveSparkPlan
    * placeholders (cross-subtree exchange reuse only materializes at
    * runtime, so a dumped AQE plan would show a duplicated scan). */
  val AqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  def apply(cpus: String, logLevel: String = "WARN",
            conf: Seq[(String, String)] = Nil,
            master: Option[String] = None,
            appName: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // start wide so hot-key aggregations (the shingle self-join) keep
      // per-task hash maps small; AQE coalesces the small stages back
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    appName.foreach(b.appName)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    LogFilters.muteSanctionedGlobalWindowWarning()
    Tables.configure(spark)
    spark
  }
}
