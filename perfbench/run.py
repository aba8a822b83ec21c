#!/usr/bin/env python3
"""Benchmark harness for tropology_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed`` inside the checkout,
sets up a local Spark session ``SETUPS`` times (the median is
``setup_s``), runs the workload's closed loop for ``--seconds``, checks
every output outside the timed region, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` traces the run (module-global
rebinding plus Spark's event log) and prints the per-layer metrics.
The full record of every run lands in ``.perfbench-runs/records/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench-runs")

CORES = 4
DRIVER_MEM = "2g"
SF = 0.01
SETUPS = 3

#: Modules that register queries; each gets build/exec per-layer metrics.
QUERY_MODULES = [
    "relational", "aggregates", "analytics", "timeseries", "windows", "text",
    "similarity", "dedup", "graph", "graph_motifs", "graph_paths", "multimodal",
    "pipeline_ops", "udfs", "media_frames", "functions.scalar", "streaming.jobs",
]

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit; must run
    before pyspark is imported.  All scratch space stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # The Python workers import tropology_spark (UDFs, mapInPandas):
    # this process's sys.path does not reach them, PYTHONPATH does.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM; without this it writes /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def start_session(run, workload, app: str) -> tuple[float, float]:
    """One set-up: session plus the workload's warm-up; (get_spark_s, warmup_s)."""
    from tropology_spark import session

    t0 = time.perf_counter()
    run.spark = session.get_spark(app)  # module attribute: traced runs see the wrapper
    t1 = time.perf_counter()
    with run.span("session.warmup"):
        workload.warmup(run)
    return t1 - t0, time.perf_counter() - t1


def stop_session(run, workload) -> None:
    workload.teardown(run)
    run.spark.stop()
    run.spark = None
    gc.collect()


def shutdown_jvm() -> None:
    """End the gateway JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext
    from procstat import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = [p for p in descendants(proc.pid) if p != proc.pid]
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave it running
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def verify_queries(run, records: list[dict]) -> None:
    """Digest every collected result against its oracle (untimed)."""
    from verify import Oracle, digest

    from tropology_spark import ORACLES

    if not any("result" in r for r in records):
        return
    oracle = Oracle(run.data_dir, ORACLES, threads=CORES, temp_dir=os.path.join(run.work, "tmp"))
    try:
        for rec in records:
            result = rec.pop("result", None)
            if result is None:
                continue
            if not oracle.has(rec["name"]):
                rec["error"] = "no oracle for this query"
            elif digest(*result) != oracle.expected(rec["name"]):
                rec["error"] = "result differs from the oracle"
    finally:
        oracle.close()


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta(p(n+1),
    (1-p)(n+1))-weighted mean of all order statistics.  On the small
    samples of the slow workloads it is much steadier than the single
    order statistic a plain percentile picks."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(20_000) + 0.5) / 20_000  # midpoint rule over (0, 1)
    cdf = np.concatenate(([0.0], np.cumsum(t ** (a - 1) * (1 - t) ** (b - 1))))
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf / cdf[-1])
    return float(np.dot(np.diff(edges), x))


def per_op(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(run, records, setups, tracer, events, rec_info, gc_s, rss_mb) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: (value, unit) by name."""
    n = len(records)
    spans = tracer.totals()
    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (statistics.median(s[0] for s in setups), "s"),
        "session.warmup_s": (statistics.median(s[1] for s in setups), "s"),
    }

    def span_metrics(span: str, name: str, calls: str | None = None) -> None:
        c, secs = spans.get(span, (0, 0.0))
        out[name] = (per_op(secs, n), "s/op")
        if calls:
            out[calls] = (per_op(c, n), "count/op")

    span_metrics("session.iter_materialize", "session.iter_materialize_s", "session.iter_materialize_calls")
    lookups = spans.get("tables.view_get", (0, 0.0))[0]
    builds = spans.get("tables.view_build", (0, 0.0))[0]
    span_metrics("tables.view_build", "tables.view_build_s", "tables.view_builds")
    out["tables.view_hits"] = (per_op(lookups - builds, n), "count/op")
    out["tables.view_hit_ratio"] = (per_op(lookups - builds, lookups), "ratio")

    for mod in QUERY_MODULES:
        mine = [r for r in records if r.get("module") == mod and "build_s" in r]
        out[f"operators.{mod}.build_s"] = (per_op(sum(r["build_s"] for r in mine), len(mine)), "s/op")
        out[f"operators.{mod}.exec_s"] = (per_op(sum(r["exec_s"] for r in mine), len(mine)), "s/op")
    out["operators.build_jobs"] = (per_op(sum(r["build_jobs"] for r in records), n), "count/op")
    out["operators.exec_jobs"] = (per_op(sum(r["exec_jobs"] for r in records), n), "count/op")

    ops = [g for k, g in events.items() if k.startswith("op")]
    tot = {k: sum(g.get(k, 0.0) for g in ops) for k in (
        "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb")}
    out["spark.stages"] = (per_op(tot["stages"], n), "count/op")
    out["spark.tasks"] = (per_op(tot["tasks"], n), "count/op")
    out["spark.executor_run_s"] = (per_op(tot["run_s"], n), "s/op")
    out["spark.executor_cpu_s"] = (per_op(tot["cpu_s"], n), "s/op")
    out["spark.shuffle_write_mb"] = (per_op(tot["shuffle_write_mb"], n), "MB/op")
    out["spark.shuffle_read_mb"] = (per_op(tot["shuffle_read_mb"], n), "MB/op")
    out["spark.spill_mb"] = (per_op(tot["spill_mb"], n), "MB/op")
    out["spark.slot_busy_ratio"] = (per_op(tot["run_s"], run.busy_s * CORES), "ratio")
    out["spark.jvm_gc_s"] = (per_op(gc_s, n), "s/op")
    out["spark.failed_tasks"] = (tot["failed_tasks"], "count")
    out["spark.jvm_rss_peak_mb"] = (rss_mb, "MB")

    for span in ("crawl.frontier", "crawl.crawl_batch", "crawl.refresh_degrees",
                 "sinks.upsert_parquet", "txlog.tx_write", "txlog.tx_compact", "txlog.tx_read"):
        span_metrics(span, f"{span}_s")
    out["txlog.commits"] = (rec_info.get("txlog_commits", 0), "count")
    out["txlog.snapshot_files"] = (rec_info.get("txlog_snapshot_files", 0), "count")
    out["crawl.bytes_rewritten_mb"] = (
        per_op(sum(r.get("rewritten_bytes", 0) for r in records), n) / 2**20, "MB/op")
    out["crawl.store_bytes_per_page"] = (rec_info.get("store_bytes_per_page", 0.0), "B/page")

    self_s = tracer.self_times()
    for layer in ("operators", "session", "tables", "crawl", "sinks", "txlog"):
        out[f"self.{layer}_s"] = (per_op(self_s.get(layer, 0.0), n), "s/op")
    out["failed_ratio"] = (per_op(sum("error" in r for r in records), n), "ratio")
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tropology_spark", "__init__.py")):
        print(f"run.py: no tropology_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(RUNS, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(RUNS, "records"), exist_ok=True)
    configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    import pyspark

    import tropology_spark  # noqa: F401 - populates the registry
    from procstat import RssPeak, tree_cpu_s
    from tracing import Tracer, fold_event_log

    load_start = os.getloadavg()
    tracer = Tracer() if args.trace else None
    run = Run(args.seed, SF, work, cpu=lambda: tree_cpu_s(os.getpid()), tracer=tracer)
    workload = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    inputs = workload.prepare(run)
    datagen_s = time.perf_counter() - t0
    if tracer:
        tracer.install()

    setups = []
    for k in range(SETUPS):
        if k:
            stop_session(run, workload)
        setups.append(start_session(run, workload, f"perfbench-{args.workload}-{k}"))

    from pyspark import SparkContext

    spark = run.spark
    app_id = spark.sparkContext.applicationId
    gc0 = jvm_gc_s(spark)
    t_loop = time.perf_counter()
    with RssPeak(SparkContext._gateway.proc.pid) as rss:
        records = workload.loop(run, args.seconds)
    loop_wall = time.perf_counter() - t_loop
    gc_s = jvm_gc_s(spark) - gc0

    final_errors, info = [], {}
    if hasattr(workload, "final_check"):
        final_errors, info = workload.final_check(run)
    stop_session(run, workload)
    shutdown_jvm()
    verify_queries(run, records)
    if final_errors and records:
        records[-1].setdefault("error", "; ".join(final_errors))

    n = len(records)
    failed = sum("error" in r for r in records)
    sample = sorted(records, key=lambda r: r["op"])[: workload.sample_size]
    walls = [r["wall_s"] for r in sample]
    setup_totals = [g + w for g, w in setups]
    e2e = {
        "setup_s": statistics.median(setup_totals),
        "op_p50_s": hd_quantile(walls, 0.5),
        "op_p90_s": hd_quantile(walls, 0.9),
        "ops_per_s": n / run.busy_s,
        "cpu_s_per_op": run.cpu_s / n,
    }
    metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sf": SF, "cores": CORES, "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "datagen_s": datagen_s, "inputs": inputs, "setups": setups,
        "loop_wall_s": loop_wall, "busy_s": run.busy_s, "jvm_gc_s": gc_s,
        "jvm_rss_peak_mb": rss.peak_mb,
        "attempted": n, "failed": failed, "latency_sample": len(walls), "final_errors": final_errors, "info": info,
        "end_to_end": e2e,
        "ops": records,
    }
    if tracer:
        events = fold_event_log(os.path.join(work, "eventlog", app_id))
        layers = layer_metrics(run, records, setups, tracer, events, info, gc_s, rss.peak_mb)
        untraced = os.path.join(RUNS, "records", f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            layers["trace.overhead_p50_s"] = (e2e["op_p50_s"] - base["op_p50_s"], "s")
            record["overhead_basis"] = "untraced record of the same workload and seed"
        else:
            layers["trace.overhead_p50_s"] = (0.0, "s")
            record["overhead_basis"] = "none: run --trace 0 with this seed first"
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        record["per_layer"] = metrics
        record["self_s"] = tracer.self_times()
        record["job_groups"] = events
        tracer.dump(os.path.join(RUNS, "records", f"{tag}.spans.json"), t_loop)
    with open(os.path.join(RUNS, "records", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
