package graft.server

/** Request-timing surface — `--traceperf` parity with the reference
  * (xcube_server/perf.py:7-66 `measure_time`, wired through
  * cli.py:58-59 and per-tile `debug=1` at controllers/tiles.py:33-35,
  * 133-140): per-stage wall-clock ms logged per request.
  *
  * Zero overhead when off: a disabled [[Perf.Trace]] runs the stage
  * body unwrapped — no nanoTime calls, no buffer appends, no string
  * formatting (the reference's `_do_not_measure_time_cm` contract).
  */
object Perf {

  /** Where trace lines go. Default stderr (the reference logs through
    * the "xcube" logger); tests swap in a capturing sink. */
  @volatile var sink: String => Unit = line => System.err.println(line)

  /** One request's trace: named stages accumulate and [[done]] emits
    * the reference-shaped lines `<prefix> <stage>: took N.NNms`. */
  final class Trace private[Perf] (val enabled: Boolean, prefix: String) {
    private val stages =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

    /** Time one named stage; identity pass-through when disabled. */
    def stage[T](tag: String)(body: => T): T =
      if (!enabled) body
      else {
        val t0 = System.nanoTime()
        try body
        finally stages += ((tag, (System.nanoTime() - t0) / 1e6))
      }

    /** Free-form trace line (the reference's `>>> tile …` markers),
      * built only when enabled. */
    def info(line: => String): Unit = if (enabled) sink(s"[perf] $line")

    /** Emit one line per stage plus the total. */
    def done(): Unit = if (enabled) {
      stages.foreach { case (tag, ms) =>
        sink(f"[perf] $prefix $tag: took $ms%.2fms")
      }
      sink(f"[perf] $prefix total: took ${stages.map(_._2).sum}%.2fms")
    }
  }

  /** A trace for one request; disabled, it is the shared [[off]] and
    * the prefix is never built. */
  def trace(enabled: Boolean, prefix: => String): Trace =
    if (enabled) new Trace(true, prefix) else off

  /** Shared disabled instance for paths that never trace. */
  val off: Trace = new Trace(false, "")
}
