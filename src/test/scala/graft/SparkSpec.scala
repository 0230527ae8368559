package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for suites (one per JVM — local[4], UTC, AQE on). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = session
    CodegenGuard.install()
    s
  }

  private def session: SparkSession = Session("4", logLevel = "ERROR",
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

/** Counts Spark's "Failed to compile the generated Java code" errors.
  * Spark logs them and falls back to interpreted evaluation, so the
  * results stay right and only the log shows the generated code is
  * broken; [[SparkSpec]] fails any test during which one is logged. */
object CodegenGuard {
  private val Marker = "Failed to compile the generated Java code"
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Adds the counting appender to the root logger. Runs after the
    * session is built, so Spark's own log set-up cannot replace it. */
  private[graft] def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("graft-codegen-guard", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains(Marker)) seen.add(msg + Option(e.getThrown)
          .map(t => s": ${String.valueOf(t.getMessage).linesIterator
            .take(3).mkString(" ")}")
          .getOrElse(""))
      }
    }
    appender.start()
    ctx.getConfiguration.addAppender(appender)
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** every failure logged so far, oldest first */
  def failures: Seq[String] = seen.asScala.toSeq
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** A test during which Spark logs a failed compile of generated code
    * fails, even when its assertions pass. */
  override def withFixture(test: NoArgTest): Outcome = {
    val before = CodegenGuard.failures.size
    super.withFixture(test) match {
      case Succeeded if CodegenGuard.failures.size > before =>
        Failed(s"Spark failed to compile generated code:\n" +
          CodegenGuard.failures.drop(before).mkString("\n"))
      case outcome => outcome
    }
  }

  /** [[Measure.jobsDuring]] on the suite's session. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) =
    Measure.jobsDuring(spark.sparkContext)(body)
}
