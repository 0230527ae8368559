package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a result,
  * recorded by `Dataset.observe` inside the job that writes it.
  * Doubles are hashed at float precision, so a floating sum that Spark
  * reduced in another order (last-ulp differences) hashes the same;
  * maps are hashed through their string form (Spark cannot hash maps).
  * The hash is the DECIMAL sum of per-row xxhash64 values: commutative
  * and free of overflow for any realistic row count. */
object Fingerprint {
  def normalize(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(normalize(e), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = normalize(f.dataType))))
    case _: MapType => StringType
    case other => other
  }

  /** `df` with positional column names (results may repeat a name) and
    * the fingerprint attached; read it from the observation after the
    * action has run. */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      val n = normalize(f.dataType)
      if (n == f.dataType) col(f.name) else col(f.name).cast(n)
    }
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation("fingerprint_" + name.replaceAll("\\W", "_"))
    (named.observe(obs, count(lit(1)).as("rows"),
      sum(hash.cast(DecimalType(20, 0))).as("hash")), obs)
  }

  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("hash")).map {
        case d: java.math.BigDecimal => d.toPlainString
        case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
        case other => other.toString
      }.getOrElse("0"))
  }
}

/** The `queries` workload: a panel at sf0.1, where the registry is bound
  * by job waves and driver work, plus a panel at sf1 (10× the data),
  * where task CPU, scan and shuffle bytes dominate. Each query's timed
  * execution is its first in the process (snapshot memos and codegen
  * start cold); the seed shuffles the order of all of them; results go
  * through the noop sink as in graft.Bench. */
object QueryPass {

  /** One panel entry: the scale and the registry name. `key` names it in
    * records and fingerprints. */
  final case class Entry(sf: String, name: String) {
    def key: String = if (sf == "sf1") s"sf1:$name" else name
  }

  /** sf0.1: a text function over every document (text_pii_redact), a
    * pipeline dedup (dedup_exact), the dense graph kernel with the
    * largest driver gap (graph_triangles) and the distributed arm of a
    * dense/distributed dispatch, forced (graph_bfs_levels_dist:
    * iterative job waves). */
  val Panel: Seq[String] = Seq(
    "text_pii_redact", "dedup_exact", "graph_triangles",
    "graph_bfs_levels_dist")

  /** sf1: scan + aggregate (q1) and per-group robust statistics. */
  val Sf1Panel: Seq[String] = Seq("q1_pricing_summary", "mad_outliers")

  val Entries: Seq[Entry] =
    Panel.map(Entry("sf0.1", _)) ++ Sf1Panel.map(Entry("sf1", _))

  def run(conf: RunConf): Map[String, Any] = {
    val dirs = Map("sf0.1" -> conf.sf01, "sf1" -> Prepare.sf1Path(conf.dataDir))
    val specs = graft.SparkEntry.specs.map(q => q.name -> q).toMap
    val missing = Entries.map(_.name).filterNot(specs.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val load0 = Harness.loadAverage
    val (spark, jvmStart, setups) = Harness.repeatedSetup { () =>
      val s = Harness.session(conf)
      for (dir <- dirs.values; n <- graft.Tables.names)
        graft.Tables.table(s, dir, n).schema
      Harness.warmUp(s)
      s
    }(_.stop())
    val sc = spark.sparkContext
    val tracing = if (conf.trace) Some(new Tracing(spark)) else None
    val order = new scala.util.Random(conf.seed).shuffle(Entries)
    val gc0 = Harness.gcSeconds
    val t0 = Harness.nowMs
    val rows = order.map { entry =>
      val name = entry.key
      // housekeeping outside the timed region, as graft.Bench does
      spark.catalog.clearCache()
      System.gc()
      sc.setLocalProperty("perfbench.tag", name)
      sc.setLocalProperty("perfbench.phase", "build")
      val start = Harness.nowMs
      val s0 = System.nanoTime()
      try {
        val df = specs(entry.name).run(spark, dirs(entry.sf))
        val s1 = System.nanoTime()
        sc.setLocalProperty("perfbench.phase", "action")
        val fp = if (conf.observe) {
          val (o, obs) = Fingerprint.observed(df, name)
          o.write.mode("overwrite").format("noop").save()
          Some(obs)
        } else {
          df.write.mode("overwrite").format("noop").save()
          None
        }
        val s2 = System.nanoTime()
        val end = Harness.nowMs
        val (n, h) = fp.map(Fingerprint.read).getOrElse((-1L, ""))
        Map("name" -> name, "ok" -> true, "start_ms" -> start,
          "end_ms" -> end, "build_s" -> (s1 - s0) / 1e9,
          "action_s" -> (s2 - s1) / 1e9, "wall_s" -> (s2 - s0) / 1e9,
          "rows" -> n, "hash" -> h)
      } catch { case e: Throwable =>
        val s2 = System.nanoTime()
        System.err.println(s"[perfbench] $name failed: $e")
        Map("name" -> name, "ok" -> false, "start_ms" -> start,
          "end_ms" -> Harness.nowMs, "wall_s" -> (s2 - s0) / 1e9,
          "error" -> e.toString)
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        sc.setLocalProperty("perfbench.tag", null)
      }
    }
    val t1 = Harness.nowMs
    val gc = Harness.gcSeconds - gc0
    val traceJson = tracing.map(_.toJson)
    // the last query's persisted intermediates depend on the order
    spark.catalog.clearCache()
    val heap = Harness.heapRetainedMb()
    val load1 = Harness.loadAverage
    spark.stop()
    Map("jvm_start_s" -> jvmStart, "setup_s" -> setups,
      "window_ms" -> Seq(t0, t1), "queries" -> rows, "jvm_gc_s" -> gc, "heap_retained_mb" -> heap,
      "load_avg" -> Seq(load0, load1), "trace" -> traceJson)
  }
}
