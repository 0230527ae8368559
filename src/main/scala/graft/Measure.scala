package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QuerySpec

/** The one measurement loop of the bench mains (Bench, Scaling,
  * ScalingDecade, TileBench): session warm-up, timed query runs with
  * their Spark job counts, and plain wall-clock timing. */
object Measure {

  /** One successful timed run of a query. */
  final case class Run(sec: Double, jobs: Int)

  /** The successful runs of one query, in run order. A run that threw is
    * not in `runs`: a query whose every run threw has no time at all. */
  final case class Series(name: String, runs: Seq[Run]) {
    def ok: Boolean = runs.nonEmpty
    /** the run least polluted by external load */
    def min: Double = runs.map(_.sec).min
    def mean: Double = runs.map(_.sec).sum / runs.size
    def median: Double = Measure.median(runs.map(_.sec))
    /** jobs of the last run: the warm steady state */
    def jobs: Int = runs.last.jobs
  }

  /** Run count from the environment variable `key`, `default` when it is
    * unset, and never below one. */
  def runs(key: String, default: Int,
           env: Map[String, String] = sys.env): Int =
    env.get(key).map(_.trim.toInt).getOrElse(default).max(1)

  /** Session warm-up (JVM, codegen, file-system metadata of every table
    * under `dirs`), so no query pays it inside its timed runs. */
  def warmUp(spark: SparkSession, dirs: String*): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    dirs.foreach(d => Tables.names.foreach(n => Tables.table(spark, d, n).schema))
  }

  /** `body`'s value and its wall-clock seconds. */
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` and returns its value with the Spark jobs it started,
    * in start order. The listener bus is drained before the listener
    * is added (no earlier job leaks in) and after the body (no late
    * event is missed), so the count is deterministic. */
  def jobsDuring[T](sc: SparkContext)(body: => T)
      : (T, Seq[SparkListenerJobStart]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Forces the full result through the `noop` sink: `count()` would let
    * Catalyst prune away projected columns and skip most of the work. */
  def sink(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** One timed run of `q` on `dir`, or None when it throws. */
  def run(spark: SparkSession, q: QuerySpec, dir: String): Option[Run] = {
    // drop persisted intermediates from prior runs and let the
    // ContextCleaner reap dead broadcasts (it is GC-triggered):
    // leftover blocks inflate GC pressure, skew later measurements and,
    // over a long sf1 panel in one JVM, exhaust the heap
    spark.catalog.clearCache()
    System.gc()
    try {
      val ((_, sec), jobs) =
        jobsDuring(spark.sparkContext)(seconds(sink(q.run(spark, dir))))
      Some(Run(sec, jobs.size))
    } catch { case e: Throwable =>
      System.err.println(s"[measure] ${q.name} failed: ${e.getMessage}")
      None
    }
  }

  /** `n` timed runs of `q` on `dir`. */
  def series(spark: SparkSession, q: QuerySpec, dir: String, n: Int): Series =
    Series(q.name, (1 to n).flatMap(_ => run(spark, q, dir)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
