"""Benchmark of the net-spider engine: snapshot latency, traversal and
GraphML export, and RPL ingest.

Usage (from the repository root):

    python3 perfbench/run.py --workload history_deep --seed 1 \\
        --seconds 5 --trace 0

One Spark session ``local[<cores>]`` is driven closed-loop by a single
client. The run sets up (session start; workload generation, history
write and state fold; one checked warm-up query), then runs operations
for ``--seconds``, finishing the current query cycle; each operation's
outputs are checked outside the clock. With ``--trace 0``
the last stdout line is a JSON object holding the end-to-end metrics;
with ``--trace 1`` the time is split into an untraced, a traced and an
untraced phase, and the JSON holds the per-layer metrics of the traced
phase, the tracing overhead included. The line before it names every
metric with its unit, the failed-operation ratio and the snapshot
sample count. Every file the run writes stays under
``perfbench/out``; the spans of a traced run go to
``perfbench/out/trace-<workload>-s<seed>.json`` and a record of each run
(host steal time and load included) to ``perfbench/out/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# No operation starts after this many seconds of measuring, whatever
# --seconds says and even mid-cycle: it keeps a run under 180 s.
MEASURE_CAP_S = 90.0

END_TO_END = {
    "setup_s": "s",
    "snapshot_p50_s": "s",
    "snapshot_p90_s": "s",
    "export_p50_s": "s",
    "ingest_findings_per_s": "findings/s",
    "refresh_p50_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metric -> unit. Values are medians per call (per operation
# for the spark.* counters); a layer that does not run on a workload
# reports 0.
PER_LAYER = {
    "ingest.read_s": "s",
    "ingest.files_scanned": "count",
    "ingest.write_s": "s",
    "ingest.files_written": "count",
    "ingest.bytes_per_finding": "B",
    "rpl.parse_s": "s",
    "rpl.lines_per_s": "lines/s",
    "rpl.findings_per_line": "ratio",
    "snapshot.plan_s": "s",
    "snapshot.policy_s": "s",
    "snapshot.kept_ratio": "ratio",
    "findings.explode_s": "s",
    "findings.samples": "count",
    "unify.pairs": "count",
    "unify.samples_per_pair": "ratio",
    "unify.merge_negate_s": "s",
    "traverse.bfs_s": "s",
    "traverse.edges": "count",
    "traverse.visited": "count",
    "traverse.local_path": "ratio",
    "graphml.export_s": "s",
    "graphml.bytes": "B",
    "graphml.bytes_per_s": "B/s",
    "incremental.fold_s": "s",
    "incremental.state_rows": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_ms": "ms",
    "self.snapshot_s": "s",
    "self.graphml.export_s": "s",
    "self.ingest.write_s": "s",
    "self.incremental.fold_s": "s",
    "self.rpl.parse_s": "s",
    "trace.overhead_s": "s",
    "host.steal_jiffies": "jiffies",
    "host.load1": "load",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["history_deep", "rpl_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _status_kb(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def _load1() -> float:
    return os.getloadavg()[0]


def start_session(workdir: str, cores: int):
    """Spark session sized from the box: all cores, an eighth of the
    memory for the driver (1-4 GB); every scratch path under
    ``workdir``."""
    from pyspark.sql import SparkSession

    driver_mb = min(4096, max(1024, _mem_total_mb() // 8))
    tmp = os.path.join(workdir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("net_spider_perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedStages", "300")
        .config("spark.ui.retainedJobs", "300")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> int:
    """Stop Spark and wait for its JVM to exit; returns the JVM's peak
    RSS in kB, read just before it stops."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_kb = _status_kb(proc.pid, "VmHWM") if proc is not None else 0
    spark.stop()
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return jvm_kb


def _median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def _p90(xs) -> float:
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    # inclusive: interpolate between the samples, never beyond them
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def measure(wl, seconds: float, first_op: int, log, cap_s: float = MEASURE_CAP_S) -> int:
    """Closed loop for ``seconds``, finishing the current query cycle
    (at least one cycle); returns the next operation index."""
    i = first_op
    t0 = time.perf_counter()
    cycle = wl.cycle
    while True:
        elapsed = time.perf_counter() - t0
        done = i > first_op and (i - first_op) % cycle == 0
        if (elapsed >= seconds and done) or elapsed >= cap_s:
            break
        wl.attempted += 1
        try:
            wl.op(i)
        except Exception as e:  # a failed operation is counted, not fatal
            wl.failed += 1
            log(f"op {i} failed: {e!r}")
            traceback.print_exc(file=sys.stderr)
            wl.spark.catalog.clearCache()
        i += 1
    return i


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "net_spider_spark")):
        print(f"perfbench: no net_spider_spark package under {ROOT}", file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(f"[perfbench {args.workload}] {msg}", file=sys.stderr, flush=True)

    workdir = os.path.join(OUT, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, HERE, os.environ.get("PYTHONPATH")] if p
    )
    sys.path[:0] = [ROOT, HERE]

    from net_spider_spark import metrics

    import workloads as W
    from spans import NullTracer, Tracer

    cores = len(os.sched_getaffinity(0))
    steal0 = metrics.host_steal_jiffies()
    t0 = time.perf_counter()
    spark = start_session(workdir, cores)
    session_s = time.perf_counter() - t0
    jvm_kb = 0
    try:
        cls = {"history_deep": W.HistoryDeep, "rpl_ingest": W.RplIngest}[args.workload]
        # a traced run traces its set-up too: on the read-only workloads
        # the set-up is where the write layers run
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = cls(spark, args.seed, os.path.join(workdir, "data"), tracer)
        t = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t
        warmup_s = wl.validate()
        setup_s = session_s + prep_s + warmup_s
        log(f"session {session_s:.2f} s, prepare {prep_s:.2f} s, warm-up {warmup_s:.2f} s")
        if wl.name == "rpl_ingest":
            # landing rates of the timed batches only
            wl.samples["ingest_rate"].clear()
            wl.samples["refresh"].clear()

        if args.trace:
            # untraced, traced, untraced: the untraced phases bracket
            # the traced one, so warming up over the run does not pass
            # for (negative) tracing overhead
            snaps, cap = wl.samples["snapshot"], MEASURE_CAP_S / 3
            wl.tr = NullTracer()
            n = measure(wl, args.seconds / 3, 0, log, cap)
            a = len(snaps)
            wl.tr = tracer
            n = measure(wl, args.seconds / 3, n, log, cap)
            b = len(snaps)
            wl.tr = NullTracer()
            measure(wl, args.seconds / 3, n, log, cap)
            layer = per_layer(wl, tracer, snaps[a:b], snaps[:a] + snaps[b:])
        else:
            measure(wl, args.seconds, 0, log)
            s = wl.samples
            result = {
                "setup_s": setup_s,
                "snapshot_p50_s": _median(s["snapshot"]),
                "snapshot_p90_s": _p90(s["snapshot"]),
                "export_p50_s": _median(s["export"]),
                "ingest_findings_per_s": _median(s["ingest_rate"]),
                "refresh_p50_s": _median(s["refresh"]),
            }
        failed, attempted = wl.failed, wl.attempted
    finally:
        jvm_kb = stop_session(spark)
    peak_rss_mb = (_status_kb("self", "VmHWM") + jvm_kb) / 1024
    steal = metrics.host_steal_jiffies() - steal0
    load1 = _load1()
    shutil.rmtree(workdir, ignore_errors=True)

    n_snap = len(wl.samples["snapshot"])
    log(
        f"seed {args.seed}: {attempted} ops, {failed} failed "
        f"(failed_ops_ratio {failed / max(attempted, 1):.3f}), "
        f"{n_snap} snapshot samples, steal {steal} jiffies, load1 {load1:.2f}"
    )
    if args.trace:
        layer["host.steal_jiffies"] = steal
        layer["host.load1"] = load1
        tracer.write(
            os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "layer": layer},
        )
        metrics_out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        result["peak_rss_mb"] = peak_rss_mb
        metrics_out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in result.items()}
    summary = "  ".join(f"{k}={m['value']:.4g} {m['unit']}" for k, m in metrics_out.items())
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {summary}  "
        f"snapshot_samples={n_snap}  failed_ops_ratio={failed / max(attempted, 1):.4g} ratio  "
        f"host_steal={steal} jiffies  load1={load1:.2f}"
    )
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "attempted": attempted,
        "failed": failed, "snapshot_samples": n_snap, "host_steal_jiffies": steal,
        "load1": load1, "metrics": metrics_out,
    }
    with open(os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics_out,
    }), flush=True)
    return 0


def per_layer(wl, tracer, traced: list, untraced: list) -> dict:
    """Per-layer metrics of the traced phase: medians per call, 0 for a
    layer the workload does not run."""
    out = {k: _median(wl.layer.get(k, [])) for k in PER_LAYER}
    selfs = tracer.self_times()
    ops = [s for s in tracer.spans if s["name"] == "op"]
    for key in ("tasks", "shuffle_bytes", "gc_ms"):
        out[f"spark.{key}"] = _median([s["counters"][key] for s in ops])
    for name in ("snapshot", "graphml.export", "ingest.write", "incremental.fold", "rpl.parse"):
        out[f"self.{name}_s"] = _median(
            [selfs[s["id"]] for s in tracer.spans if s["name"] == name]
        )
    out["trace.overhead_s"] = _median(traced) - _median(untraced)
    return out


if __name__ == "__main__":
    sys.exit(main())
