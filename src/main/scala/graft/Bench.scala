package graft

import java.lang.management.ManagementFactory

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Queries run through [[Measure]]: the `noop` sink, per-run
  * housekeeping outside the timed region, and the Spark job count of
  * each run.
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
    val runs = Measure.runs("SPARK_GRAFT_BENCH_RUNS", 3)
    // local iteration: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those,
    // any registered query, including those the full bench leaves out
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = only -- SparkEntry.specs.map(_.name)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

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
    val os = ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = os.getSystemLoadAverage
    var waitedSec = 0
    while (loadAvg > gate && waitedSec < gateMaxWaitSec) {
      System.err.println(f"[bench] load gate: load_avg=" +
        f"$loadAvg%.2f > $gate%.1f, waiting " +
        s"(${waitedSec}s/${gateMaxWaitSec}s)")
      Thread.sleep(10000); waitedSec += 10
    }

    val spark = Session(cpus)

    // pre-existing load is sampled BEFORE the warm-up: the warm-up
    // itself runs on all cores and pushes the 1-min average past the
    // flag threshold even on an idle host (observed 1.3 → 2.0)
    val loadStart = loadAvg
    Measure.warmUp(spark, sfDir)
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
    // a query counts as failed only if every attempt failed
    val results = SparkEntry.specs
      .filter(q => if (only.isEmpty) q.bench else only(q.name)).map { q =>
      loadMidMax = math.max(loadMidMax, loadAvg)
      Measure.series(spark, q, sfDir, runs)
    }
    val ok = results.filter(_.ok)
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
    def obj(rows: Seq[(String, Any)]): String =
      rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failed queries report -1 and are excluded from total, so the one
    // JSON line can't silently pass a failure off as a timing
    def mins(f: Double => String): Seq[(String, String)] =
      results.map(s => s.name -> (if (s.ok) f(s.min) else "-1"))
    val minRows = mins(fmt)
    val means = obj(ok.map(s => s.name -> s.mean))
    // medians audit the spread the min hides: a min that's far under
    // its median marks a run where external load landed on the others
    val medians = obj(ok.map(s => s.name -> s.median))
    // Spark jobs of each query's last run (the warm steady state): jobs,
    // not data, dominate the sf0.1 bench
    val jobs = obj(ok.map(s => s.name -> s.jobs))
    val failed = results.filter(!_.ok).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    // per-query successful-attempt counts: a query that failed on SOME
    // runs but not all would otherwise read as a clean timing with no
    // trace of the flake in the auditable record
    val attempts = obj(results.filter(_.runs.size < runs)
      .map(s => s.name -> s.runs.size))
    val total = ok.map(_.min).sum
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
    val slowest = obj(ok.sortBy(-_.min).take(5).map(s =>
      s.name -> ("{\"min\":" + s.min + ",\"median\":" + s.median + "}")))
    // The contract line: total + complete per-query map. (means/medians
    // moved to the file artifact in r18 — they tripled this line to
    // ~22 KB, which is what overflowed the driver's tail capture.)
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(minRows)},"runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"failed":$failed,"sf":"$sfDir"}"""
    println(fullLine)
    // Tail-survivable redundancy (r18, VERDICT r17 #1): the same
    // per-query map again, chunked into ~40-query lines so that a
    // bounded tail-only stdout capture still reconstructs per-query
    // data from whatever complete lines fall inside its window. Chunks
    // carry metric "queries_chunk" so no parser mistakes a fragment
    // for the headline record.
    val nChunks = (minRows.size + 39) / 40
    minRows.grouped(40).zipWithIndex.foreach { case (g, i) =>
      println(s"""{"metric":"queries_chunk","chunk":${i + 1},"chunks":$nChunks,"queries":${obj(g)},"sf":"$sfDir"}""")
    }
    // BENCH_r04's tail capture truncated the line above and destroyed
    // the total. Repeat the headline figures in a second, short line so
    // they survive any tail-only capture of stdout.
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"slowest":$slowest,"failed":$failed,"sf":"$sfDir","summary":true}""")
    // First-class artifact path: the FULL record (per-query map at full
    // precision, means, medians and job counts included) goes straight
    // to a file, so the auditable per-query evidence never depends on
    // how stdout was captured (BENCH_r15_local.json was summary-only for
    // exactly that reason).
    val qsFull = obj(mins(_.toString))
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"means":$means,"medians":$medians,"jobs":$jobs,"runs":$runs,"attempts":$attempts,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"load_avg_mid_max":$loadMidMax,"load_flagged":$loadFlag,"load_gate_waited_sec":$waitedSec,"slowest":$slowest,"failed":$failed,"sf":"$sfDir"}""" + "\n")
    }
    spark.stop()
  }
}
