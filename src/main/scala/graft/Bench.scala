package graft

import java.lang.management.ManagementFactory

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink — `count()` would let
  * Catalyst prune away projected columns and skip most of the work, so
  * noop-writing the full result is the honest measurement.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) in one JVM
  * and the recorded figure is the per-query MIN: the build host has
  * documented bursty external load that previously landed entirely on
  * whichever query was running (BENCH_r03 recorded 38.9 s for a query
  * that measures 5.3 s isolated). The min across in-JVM repeats is the
  * run least polluted by external load; the mean and the host load
  * average are emitted alongside so the record is auditable.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)

    // LOAD GATE (not just a flag): three consecutive driver records
    // (r6-r8) were taken under pre-existing external load and merely
    // flagged. Wait — bounded — for the 1-min load average to decay
    // below the gate before starting the session; if it never does,
    // proceed anyway (the load_flagged field still marks the record).
    val gate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.5").toDouble
    // 600 s default (was 240): r15's official artifact was taken on a
    // host whose load never decayed inside the short window and its
    // 177 s read as a +28% regression that the quiet re-runs refuted —
    // ten minutes of waiting is cheaper than a round of forensics
    val gateMaxWaitSec =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_WAIT_SEC", "600").toInt
    val osBean = ManagementFactory.getOperatingSystemMXBean
    val gateDeadline = System.nanoTime() + gateMaxWaitSec * 1000000000L
    var waitedSec = 0
    while (osBean.getSystemLoadAverage > gate &&
        System.nanoTime() < gateDeadline) {
      System.err.println(f"[bench] load gate: load_avg=" +
        f"${osBean.getSystemLoadAverage}%.2f > $gate%.1f, waiting " +
        s"(${waitedSec}s/${gateMaxWaitSec}s)")
      Thread.sleep(10000); waitedSec += 10
    }

    val spark = Session(cpus)

    val os = ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = os.getSystemLoadAverage

    // pre-existing load is sampled BEFORE the warm-up: the warm-up
    // itself runs on all cores and pushes the 1-min average past the
    // flag threshold even on an idle host (observed 1.3 → 2.0)
    val loadStart = loadAvg

    // session warm-up (JVM/codegen/FS metadata), not counted per-query
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.table(spark, sfDir, n).schema)
    // local iteration: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // mid-run load samples (taken between queries, never inside a
    // timed run): load_avg_start only proves the run STARTED quiet —
    // a burst landing mid-run previously self-reported only through
    // median >> min. The max over these samples rides in the record
    // (load_avg_mid_max) so mid-run pollution is OBSERVED, not
    // inferred; bench_composite.py prefers it over load_avg_end when
    // marking polluted sittings. The samples include this bench's own
    // 32 threads, so only the EXCESS over the quietest sitting's
    // value means anything — same calibration as load_avg_end.
    var loadMidMax = 0.0
    val results = SparkEntry.specs
      .filter(q => q.bench && (only.isEmpty || only(q.name))).map { q =>
      loadMidMax = math.max(loadMidMax, loadAvg)
      val times = (1 to runs).flatMap { _ =>
        // drop persisted intermediates from prior runs and let the
        // ContextCleaner reap dead broadcasts (it is GC-triggered):
        // leftover blocks inflate GC pressure and skew later measurements
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try {
          q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          None
        }
      }
      // a query counts as failed only if every attempt failed
      (q.name, times, times.nonEmpty)
    }
    val loadEnd = loadAvg
    // r17 postmortem: the driver archives only a BOUNDED TAIL of stdout,
    // and the 235-query full line exceeded it — PERF_r17 parsed no
    // per-query data at all. Stdout therefore carries the per-query map
    // at reduced precision (1 µs — timings are 10^-1..10^1 s, so six
    // decimals is measurement-noise-free), and the full-precision
    // record still goes to the SPARK_GRAFT_BENCH_OUT file artifact.
    def fmt(v: Double): String = {
      val r = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      r.bigDecimal.toPlainString
    }
    // failed queries report -1 and are excluded from total, so the one
    // JSON line can't silently pass a failure off as a timing
    val qs = results.map { case (k, ts, ok) =>
        "\"" + k + "\":" + (if (ok) fmt(ts.min) else "-1") }
      .mkString("{", ",", "}")
    val means = results.collect { case (k, ts, true) =>
        "\"" + k + "\":" + ts.sum / ts.size }
      .mkString("{", ",", "}")
    // medians audit the spread the min hides: a min that's far under
    // its median marks a run where external load landed on the others
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val medians = results.collect { case (k, ts, true) =>
        "\"" + k + "\":" + median(ts) }
      .mkString("{", ",", "}")
    val failed = results.filter(!_._3).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // per-query successful-attempt counts: a query that failed on SOME
    // runs but not all would otherwise read as a clean timing with no
    // trace of the flake in the auditable record
    val attempts = results.collect { case (k, ts, _) if ts.size < runs =>
        "\"" + k + "\":" + ts.size }
      .mkString("{", ",", "}")
    val total = results.filter(_._3).map(_._2.min).sum
    // flag records taken under external load (BENCH_r05's driver record
    // looked like a 5× regression and was measurement: host load rose
    // 2.3→6.5 during the run) — the flag travels with the record so a
    // reader never mistakes a loaded run for a code regression
    // r6 proved 8.0 far too lax: a run started at load 4.0 recorded a
    // 2.7 s query as 52 s, unflagged. Even a few busy cores distort
    // shuffle-heavy local[32] stages, so any PRE-EXISTING load > 2
    // marks the record suspect. Only the start load counts: the end
    // load is always raised by this bench's own 32 threads, so gating
    // on it would flag every legitimate run (it still travels in the
    // record for audits).
    val loadThreshold = sys.env.getOrElse("SPARK_GRAFT_LOAD_FLAG", "2.0")
      .toDouble
    val loadFlag = loadStart > loadThreshold
    // the 5 slowest queries with min AND median: a polluted record
    // self-diagnoses (median >> min, or a known-fast query in the top 5)
    // even when only the short summary line survives a tail capture
    val slowest = results.filter(_._3).sortBy(-_._2.min).take(5)
      .map { case (k, ts, _) =>
        "\"" + k + "\":{\"min\":" + ts.min + ",\"median\":" + median(ts) + "}" }
      .mkString("{", ",", "}")
    // The contract line: total + complete per-query map. (means/medians
    // moved to the file artifact in r18 — they tripled this line to
    // ~22 KB, which is what overflowed the driver's tail capture.)
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"failed":$failed,"sf":"$sfDir"}"""
    println(fullLine)
    // Tail-survivable redundancy (r18, VERDICT r17 #1): the same
    // per-query map again, chunked into ~40-query lines so that a
    // bounded tail-only stdout capture still reconstructs per-query
    // data from whatever complete lines fall inside its window. Chunks
    // carry metric "queries_chunk" so no parser mistakes a fragment
    // for the headline record.
    val chunkRows = results.map { case (k, ts, ok) =>
      "\"" + k + "\":" + (if (ok) fmt(ts.min) else "-1") }
    val nChunks = (chunkRows.size + 39) / 40
    chunkRows.grouped(40).zipWithIndex.foreach { case (g, i) =>
      println(s"""{"metric":"queries_chunk","chunk":${i + 1},"chunks":$nChunks,"queries":${g.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    // BENCH_r04's tail capture truncated the line above and destroyed
    // the total. Repeat the headline figures in a second, short line so
    // they survive any tail-only capture of stdout.
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"slowest":$slowest,"failed":$failed,"sf":"$sfDir","summary":true}""")
    // First-class artifact path: the FULL record (per-query map at full
    // precision, means and medians included) goes straight to a file,
    // so the auditable per-query evidence never depends on how stdout
    // was captured (BENCH_r15_local.json was summary-only for exactly
    // that reason).
    val qsFull = results.map { case (k, ts, ok) =>
        "\"" + k + "\":" + (if (ok) ts.min else -1) }
      .mkString("{", ",", "}")
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"means":$means,"medians":$medians,"runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"slowest":$slowest,"failed":$failed,"sf":"$sfDir"}""" + "\n")
    }
    spark.stop()
  }
}
