"""From a run record (written by the JVM side) to the benchmark's metrics,
correctness verdict and printed report."""

import json
import os

import accounting as acc

# Gated end-to-end metrics: measured on every workload (BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "heap_retained_mb": "MB",
}

# Reported end-to-end metrics of one workload (printed and kept in the
# summary file; not every workload has them, so they are not gated).
EXTENDED = {
    "serve": {"setup_cold_s": "s", "tile_samples": "count", "tile_p50_ms": "ms",
              "tile_p95_ms": "ms", "tile_p99_ms": "ms", "tile_rps": "req/s",
              "ts_samples": "count", "ts_p50_ms": "ms", "ts_mean_ms": "ms",
              "ts_p95_ms": "ms", "ts_rps": "req/s", "error_rate": "ratio"},
    "queries": {"setup_cold_s": "s", "wall_sf01_s": "s", "wall_sf1_s": "s", "query_samples": "count",
                "query_mean_s": "s",
                "query_p50_s": "s", "query_p95_s": "s", "error_rate": "ratio"},
}

PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count",
    "spark.stages_skipped": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.job_s": "s", "driver.gap_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.core_busy": "ratio", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "queries.build_s": "s",
    "queries.build_jobs": "count", "queries.action_s": "s",
    "queries.probe_share": "ratio", "jvm.gc_s": "s",
    "server.tile_cache_hit_ratio": "ratio", "server.overhead_ms": "ms",
    "sources.zarr_read_ms": "ms", "sources.parquet_read_ms": "ms",
    "sources.direct_read_failures": "count", "sources.chunk_cache_mb": "MB",
    "render.window_ms": "ms",
    "render.spark_tile_ms": "ms", "render.png_kb": "KB",
    "operators.ts_plan_ms": "ms", "operators.ts_exec_ms": "ms",
    "operators.ts_jobs_per_req": "count", "trace.wall_s": "s",
}

TILE_CLASSES = ("hit", "lru", "sweep", "spark")


def _ratio(a, b):
    return a / b if b else 0.0


def _med(values):
    return acc.median(values) if values else 0.0


def fingerprints(here, workload):
    path = os.path.join(here, "fingerprints", workload + ".json")
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def record_fingerprints(rec, here):
    """Store the fingerprints of this run's successful queries as the
    expected ones (merged into the workload's file)."""
    path = os.path.join(here, "fingerprints", rec["workload"] + ".json")
    known = fingerprints(here, rec["workload"])
    for q in rec["queries"]:
        if q["ok"] and q["hash"]:
            known[q["name"]] = {"rows": q["rows"], "hash": q["hash"]}
    with open(path, "w") as fh:
        json.dump(dict(sorted(known.items())), fh, indent=1)
        fh.write("\n")


def serve_metrics(rec):
    """(attempted, failures, wall_s, extended, per-class rows)"""
    wall = (rec["window_ms"][1] - rec["window_ms"][0]) / 1e3
    wrong = {m["op"] for m in rec["mismatches"]}
    failures = [f"{cls} op {i}: {err}" for i, cls, _, _, ok, err in rec["ops"]
                if not ok] + [m["what"] for m in rec["mismatches"]]
    ops = [(i, cls, lat, ok and i not in wrong)
           for i, cls, _, lat, ok, _ in rec["ops"]]
    tiles = [(lat, ok) for _, cls, lat, ok in ops if cls in TILE_CLASSES]
    ts = [(lat, ok) for _, cls, lat, ok in ops if cls.startswith("ts_")]
    tile_s, ts_s = acc.latency_samples(tiles), acc.latency_samples(ts)
    failed = sum(1 for *_, ok in ops if not ok)
    ext = {
        "tile_samples": len(tile_s),
        "tile_p50_ms": acc.percentile(tile_s, 0.50),
        "tile_p95_ms": acc.percentile(tile_s, 0.95),
        "tile_p99_ms": acc.percentile(tile_s, 0.99),
        "tile_rps": sum(1 for _, ok in tiles if ok) / wall,
        "ts_samples": len(ts_s),
        "ts_p50_ms": acc.percentile(ts_s, 0.50),
        "ts_mean_ms": sum(ts_s) / len(ts_s) if ts_s else None,
        "ts_p95_ms": acc.percentile(ts_s, 0.95),
        "ts_rps": sum(1 for _, ok in ts if ok) / wall,
        "error_rate": _ratio(failed, len(ops)),
    }
    classes = {}
    for _, cls, lat, ok in ops:
        classes.setdefault(cls, []).append(lat if ok else acc.INF)
    rows = {cls: {"n": len(v), "p50_ms": acc.percentile(v, 0.5),
                  "mean_ms": sum(v) / len(v)} for cls, v in sorted(classes.items())}
    return len(ops), failures, wall, ext, rows


def query_metrics(rec, expected):
    failures, walls, rows = [], [], {}
    for q in rec["queries"]:
        ok = q["ok"]
        if not ok:
            failures.append(f"{q['name']}: {q.get('error', 'failed')}")
        elif q["hash"] and q["name"] in expected:
            want = expected[q["name"]]
            if (q["rows"], q["hash"]) != (want["rows"], want["hash"]):
                ok = False
                failures.append(f"{q['name']}: fingerprint {q['rows']} rows "
                                f"{q['hash']} != recorded {want['rows']} rows "
                                f"{want['hash']}")
        elif q["hash"]:
            failures.append(f"{q['name']}: no recorded fingerprint")
            ok = False
        walls.append(q["wall_s"] if ok else acc.INF)
        rows[q["name"]] = {k: q.get(k) for k in
                           ("wall_s", "build_s", "action_s", "rows", "hash")}
        rows[q["name"]]["ok"] = ok
    wall = sum(q["wall_s"] for q in rec["queries"])
    ext = {
        "wall_sf01_s": sum(q["wall_s"] for q in rec["queries"]
                           if not q["name"].startswith("sf1:")),
        "wall_sf1_s": sum(q["wall_s"] for q in rec["queries"]
                          if q["name"].startswith("sf1:")),
        "query_samples": len(walls),
        "query_mean_s": sum(walls) / len(walls) if walls else None,
        "query_p50_s": acc.percentile(walls, 0.50),
        "query_p95_s": acc.percentile(walls, 0.95),
        "error_rate": _ratio(len(failures), len(rec["queries"]))}
    return len(rec["queries"]), failures, wall, ext, rows


def layer_metrics(rec, wall):
    tr = rec.get("trace") or {}
    sp = tr.get("spark", {})
    cat = tr.get("catalyst", {})
    jobs = [j for j in sp.get("jobs", []) if j[3] != "replay"]
    if rec["workload"] == "serve":
        windows = [rec["window_ms"]]
    else:
        windows = [(q["start_ms"], q["end_ms"]) for q in rec["queries"]]
    job_s = acc.job_time([(j[1], j[2]) for j in jobs], windows)
    build_jobs = sum(1 for j in jobs if j[3] == "build")
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": sp.get("stages", 0),
        "spark.stages_skipped": sum(j[5] for j in jobs),
        "spark.tasks": sp.get("tasks", 0),
        "spark.failed_tasks": sp.get("failed_tasks", 0),
        "spark.job_s": job_s,
        "driver.gap_s": acc.driver_gap(wall, job_s),
        "spark.task_run_s": sp.get("task_run_s", 0.0),
        "spark.task_cpu_s": sp.get("task_cpu_s", 0.0),
        "spark.task_gc_s": sp.get("task_gc_s", 0.0),
        "spark.core_busy": _ratio(sp.get("task_run_s", 0.0),
                                  job_s * rec["cpus"]),
        "spark.input_bytes": sp.get("input_bytes", 0),
        "spark.shuffle_read_bytes": sp.get("shuffle_read_bytes", 0),
        "spark.shuffle_write_bytes": sp.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": sp.get("spill_bytes", 0),
        "catalyst.optimize_ms": cat.get("optimize_ms", 0),
        "catalyst.plan_ms": cat.get("plan_ms", 0),
        "queries.build_s": 0.0, "queries.build_jobs": build_jobs,
        "queries.action_s": 0.0,
        "queries.probe_share": _ratio(build_jobs, len(jobs)),
        "jvm.gc_s": rec["jvm_gc_s"],
        "server.tile_cache_hit_ratio": 0.0, "server.overhead_ms": 0.0,
        "sources.zarr_read_ms": 0.0, "sources.parquet_read_ms": 0.0,
        "sources.direct_read_failures": 0, "sources.chunk_cache_mb": 0.0,
        "render.window_ms": 0.0,
        "render.spark_tile_ms": 0.0, "render.png_kb": 0.0,
        "operators.ts_plan_ms": 0.0, "operators.ts_exec_ms": 0.0,
        "operators.ts_jobs_per_req": 0.0, "trace.wall_s": wall,
    }
    if rec["workload"] != "serve":
        m["queries.build_s"] = sum(q.get("build_s", 0.0) for q in rec["queries"])
        m["queries.action_s"] = sum(q.get("action_s", 0.0) for q in rec["queries"])
        return m
    rp = tr.get("replay") or {}
    direct, sp_tiles, ana = rp.get("direct", []), rp.get("spark_tiles", []), \
        rp.get("analytics", [])
    client = {op[0]: op[3] for op in rec["ops"]}
    m.update({
        "server.tile_cache_hit_ratio": _ratio(tr.get("perf_cache_hits", 0),
                                              tr.get("perf_tile_requests", 0)),
        "server.overhead_ms": _med(
            [client[r["op"]] - r["read_ms"] - r["render_ms"] for r in direct] +
            [client[r["op"]] - r["render_ms"] for r in sp_tiles]),
        "sources.zarr_read_ms": _med([r["read_ms"] for r in direct
                                      if r["ds"] == "zarr"]),
        "sources.parquet_read_ms": _med([r["read_ms"] for r in direct
                                         if r["ds"] == "parquet"]),
        "sources.direct_read_failures": rp.get("direct_failures", 0),
        "sources.chunk_cache_mb": tr.get("chunk_cache_mb", 0.0),
        "render.window_ms": _med([r["render_ms"] for r in direct]),
        "render.spark_tile_ms": _med([r["render_ms"] for r in sp_tiles]),
        "render.png_kb": _ratio(sum(r["png_bytes"] for r in direct + sp_tiles),
                                1024.0 * len(direct + sp_tiles)),
        "operators.ts_plan_ms": _med([a["plan_ms"] for a in ana]),
        "operators.ts_exec_ms": _med([a["exec_ms"] for a in ana]),
        "operators.ts_jobs_per_req": _ratio(sum(a["jobs"] for a in ana),
                                            len(ana)),
    })
    return m


def evaluate(rec, here, trace):
    wl = rec["workload"]
    if wl == "serve":
        attempted, failures, wall, ext, rows = serve_metrics(rec)
    else:
        attempted, failures, wall, ext, rows = query_metrics(
            rec, fingerprints(here, wl))
    # the first set-up is cold (class loading, first JIT); setup_s is the
    # median of the warm ones, which repeat the same work
    e2e = {"setup_s": acc.median(rec["setup_s"][1:]), "wall_s": wall,
           "heap_retained_mb": rec["heap_retained_mb"]}
    ext["setup_cold_s"] = rec["setup_s"][0]
    failed = round(ext["error_rate"] * attempted)
    if trace:
        values, units = layer_metrics(rec, wall), PER_LAYER
    else:
        values, units = e2e, END_TO_END
    line = {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}
    return {"workload": wl, "trace": trace, "line": line, "end_to_end": e2e,
            "extended": ext, "extended_units": EXTENDED[wl],
            "setup_runs_s": rec["setup_s"],
            "jvm_start_s": rec.get("jvm_start_s"), "failures": failures,
            "rows": rows, "per_layer": values if trace else None,
            "chunk_cache": {k: (rec.get("trace") or {}).get("chunk_cache_" + k)
                            for k in ("peak_mb", "drops", "capacity_mb")}}


def _fmt(v):
    if v is None:
        return "n/a (too few samples)"
    return f"{v:.6g}"


def report(result, out):
    out.write(f"workload {result['workload']} "
              f"({'traced' if result['trace'] else 'untraced'})\n")
    for k, u in END_TO_END.items():
        out.write(f"  {k:<28} {_fmt(result['end_to_end'][k])} {u}\n")
    for k, u in result["extended_units"].items():
        out.write(f"  {k:<28} {_fmt(result['extended'][k])} {u}\n")
    if result["per_layer"]:
        for k, u in PER_LAYER.items():
            out.write(f"  {k:<28} {_fmt(result['per_layer'][k])} {u}\n")
        cc = result["chunk_cache"]
        if cc["capacity_mb"]:
            out.write(f"  chunk LRU during the timed phase: peak "
                      f"{cc['peak_mb']:.1f} of {cc['capacity_mb']:.0f} MB, "
                      f"{cc['drops']} evictions seen\n")
    line = result["line"]
    verdict = "correct" if line["correct"] else "NOT correct"
    out.write(f"  verdict: {verdict} ({line['failed']} of {line['attempted']} "
              "operations failed or mismatched)\n")
    for f in result["failures"][:20]:
        out.write(f"    {f}\n")
    out.flush()
