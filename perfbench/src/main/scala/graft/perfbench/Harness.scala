package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Settings shared by every workload: one session config, one output
  * directory, one clock. */
final case class RunConf(workload: String, seed: Long, seconds: Int,
                         trace: Boolean, cpus: Int, dataDir: String,
                         sf01: String, workDir: String, out: String,
                         observe: Boolean = true)

object Harness {

  /** The single session config of every workload: `local[nproc]`,
    * shuffle partitions = nproc and the AQE settings of graft.Bench. */
  def session(conf: RunConf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogFilters.muteSanctionedGlobalWindowWarning()
    graft.Tables.configure(spark)
    spark
  }

  def nowMs: Long = System.currentTimeMillis()

  /** First-job costs (class loading, JIT of scan, exchange, join,
    * aggregate, window and sort code) on synthetic rows, so that no
    * measured operation carries them. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val a = spark.range(2000000L).select((col("id") % 1000).as("k"),
      (col("id") * 0.5).as("v"), (col("id") % 7).cast("string").as("s"))
    val b = spark.range(1000L).select(col("id").as("k"),
      (col("id") % 13).as("w"))
    a.join(b, "k").groupBy(col("s"), col("w"))
      .agg(sum("v").as("t"), countDistinct("k").as("n"))
      .withColumn("r", rank().over(Window.partitionBy("s").orderBy(col("t"))))
      .orderBy(col("t").desc)
      .write.mode("overwrite").format("noop").save()
  }

  /** Set-ups per run: the first is cold (class loading, first JIT), the
    * rest repeat the same work in a warm JVM. */
  val Setups = 3

  /** Runs `setup` [[Setups]] times and keeps the last result; each
    * earlier one is torn down first. Returns the seconds from JVM start
    * to the first set-up and the seconds of each set-up, timed from its
    * own start. */
  def repeatedSetup[T](setup: () => T)(teardown: T => Unit)
      : (T, Double, Seq[Double]) = {
    val jvmStart = (nowMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (_ <- 0 until Setups) {
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(setup())
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, jvmStart, times.toSeq)
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Driver heap in use after a full collection. Spark's ContextCleaner
    * releases shuffle and broadcast state only after a collection has
    * found its owners unreachable, so collect, let it work, and repeat. */
  def heapRetainedMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** Spark-side accounting for the traced run, from outside the program:
  * job intervals (tagged by the `perfbench.phase` / `perfbench.tag`
  * local properties the workload sets), stage and task counts and task
  * metric totals. Events arrive on the listener bus thread; read the
  * totals only after [[org.apache.spark.perfbench.Bus.drain]]. */
final class SparkTrace extends SparkListener {
  /** (job id, start ms, end ms, phase, tag, skipped stages, ok) */
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, String, String,
    Int, Boolean)]()
  private val open = mutable.Map.empty[Int, SparkTrace.Open]

  val stages, tasks, failedTasks, runMs, cpuNs, gcMs, inputBytes,
    shuffleReadBytes, shuffleWriteBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    open(e.jobId) = SparkTrace.Open(e.time, prop("perfbench.phase"),
      prop("perfbench.tag"), e.stageIds.toSet, mutable.Set.empty)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      open.valuesIterator.filter(_.stages(id)).foreach(_.submitted += id)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      jobs.add((e.jobId, o.start, e.time, o.phase, o.tag,
        (o.stages -- o.submitted).size, e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (id, s, e, ph, tag, sk, ok) =>
      Seq(id, s, e, ph, tag, sk, ok) },
    "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get,
    "task_run_s" -> runMs.get / 1e3, "task_cpu_s" -> cpuNs.get / 1e9,
    "task_gc_s" -> gcMs.get / 1e3, "input_bytes" -> inputBytes.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get)
}

object SparkTrace {
  private final case class Open(start: Long, phase: String, tag: String,
                                stages: Set[Int],
                                submitted: mutable.Set[Int])
}

/** Catalyst optimise and plan time of every executed plan, from the
  * `QueryExecution.tracker` phases. */
final class CatalystTrace extends QueryExecutionListener {
  val optimizeMs, planMs, plans = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get(QueryPlanningTracker.OPTIMIZATION)
      .foreach(p => optimizeMs.addAndGet(p.durationMs))
    ph.get(QueryPlanningTracker.PLANNING)
      .foreach(p => planMs.addAndGet(p.durationMs))
    plans.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
  def toJson: Map[String, Any] = Map("optimize_ms" -> optimizeMs.get,
    "plan_ms" -> planMs.get, "plans" -> plans.get)
}

/** Listeners of one traced session, attached and detached together. */
final class Tracing(spark: SparkSession) {
  val spark_ = new SparkTrace
  val catalyst = new CatalystTrace
  spark.sparkContext.addSparkListener(spark_)
  spark.listenerManager.register(catalyst)
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  def toJson: Map[String, Any] = {
    drain()
    Map("spark" -> spark_.toJson, "catalyst" -> catalyst.toJson)
  }
}

/** Writes the run record. Scala maps, sequences, tuples and options go
  * through jackson-module-scala; non-finite doubles are written as the
  * bare tokens `NaN` / `Infinity`, which Python's json module reads. */
object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m.configure(com.fasterxml.jackson.core.json.JsonWriteFeature
      .WRITE_NAN_AS_STRINGS.mappedFeature(), false)
    m
  }

  def writeFile(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}
