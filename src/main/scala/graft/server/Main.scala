package graft.server

import org.apache.spark.sql.SparkSession

import graft.model.ServiceConfig

/** Runnable service (the reference's `xcube_server` CLI,
  * service.py:100-150): point it at a YAML config and a port.
  *
  *   sbt "runMain graft.server.Main demo/config.yml 8080"
  *
  * Config hot reload (S9): a daemon thread polls the file mtime through
  * `ServiceConfig.watching` and re-applies the config to the live
  * context on change — updated datasets/groups replace by identifier,
  * matching the reference's maybe-reload-on-request behavior.
  */
object Main {

  def build(spark: SparkSession, cfgPath: String,
            port: Int = 0): (ServiceContext, GraftServer) = {
    val baseDir = Option(java.nio.file.Paths.get(cfgPath).getParent)
      .map(_.toString).getOrElse(".")
    val ctx = new ServiceContext(spark)
    ctx.loadConfig(ServiceConfig.fromFile(cfgPath), baseDir)
    (ctx, new GraftServer(ctx, port))
  }

  def main(args: Array[String]): Unit = {
    // --traceperf (reference cli.py:58-59): per-stage request timing
    val tracePerf = args.contains("--traceperf")
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.nonEmpty,
      "usage: graft.server.Main <config.yml> [port] [--traceperf]")
    val cfgPath = pos(0)
    val port = pos.lift(1).map(_.toInt).getOrElse(8080)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session(cpus, master = sys.env.get("SPARK_MASTER"),
      appName = Some("graft-server"))
    val (ctx, server) = build(spark, cfgPath, port)
    server.tracePerf = tracePerf
    server.start()
    println(s"graft server listening on ${server.address}")

    val baseDir = Option(java.nio.file.Paths.get(cfgPath).getParent)
      .map(_.toString).getOrElse(".")
    val watcher = ServiceConfig.watching(cfgPath)
    var last = watcher()
    val reloader = new Thread(() => {
      while (true) {
        Thread.sleep(5000)
        try {
          val cur = watcher()
          if (!(cur eq last)) {
            ctx.loadConfig(cur, baseDir)
            server.invalidateTiles() // cached tiles may show old data
            last = cur
          }
        } catch {
          case e: Exception =>
            System.err.println(s"[graft] config reload failed: $e")
        }
      }
    }, "graft-config-reload")
    reloader.setDaemon(true)
    reloader.start()
    Thread.currentThread().join()
  }
}
