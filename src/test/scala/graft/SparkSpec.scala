package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for suites (one per JVM — local[4], UTC, AQE on). */
object TestSpark {
  lazy val spark: SparkSession = Session("4", logLevel = "ERROR",
    appName = Some("graft-test"), conf = Seq(
      // AQE starts at the 4 shuffle partitions the plan-shape tests pin,
      // not the mains' 256
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-wh").toString,
      // The plan-shape suites pin AT-SCALE contracts, where the
      // Spread scan-parallelism heal is a footer-guarded structural
      // no-op (row groups >= cores/2) — so it is off here and its
      // local firing behavior (guard verdicts, result equality, the
      // reused exchange) is owned by SpreadSpec, which re-enables it
      // per test.
      Spread.EnabledConf -> "false"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` and returns its value with the Spark jobs it started,
    * in start order. The listener bus is drained before the listener
    * is added (no earlier job leaks in) and after the body (no late
    * event is missed), so a zero-job assertion is deterministic. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
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
}
