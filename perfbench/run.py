"""Benchmark of the engine as its users run it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One invocation runs one workload (see ``workloads.py`` and ``README.md``):
it writes a seeded permutation of the fixture tables, starts the session
with ``session.get_spark()`` defaults plus ``ensure_confs``, runs a fixed
set-up, then a closed loop of ops for ``--seconds``, and checks the output
of every warm-up and timed op. It prints one line per metric and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
layer functions are wrapped in spans and the per-layer metrics are reported
instead (the spans are written to ``.perfbench/traces/``).

Everything it writes goes under ``.perfbench/`` next to this directory; the
per-run directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

from spans import Tracer, cpu_seconds, hwm_mb, instrument, job_counts
from workloads import QUERIES, SETUP_OP, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
ABORT_AFTER_S = 170  # a run must end within 180 s; give up before that

# (name, unit, better); the bounds live in BENCHMARK.json
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
)
# span name -> per-layer metric: self time per timed op
LAYER_SPANS = {
    "sources.load_table": "sources.load_table_s",
    "sources.read_table": "sources.read_table_s",
    "sources.overwrite_table": "sources.overwrite_table_s",
    "sources.export_json": "sources.export_json_s",
    "plans.layers.features": "plans.layers.features_s",
    "plans.layers.dashboard": "plans.layers.dashboard_s",
}
# span name -> per-layer metric: self time within the set-up's run_all, the
# only place the raw upsert and the analytics layer run
SETUP_SPANS = {
    s: f"setup.{s}_s"
    for s in (
        "sources.load_table", "sources.read_table", "sources.upsert_partitions",
        "sources.overwrite_table", "sources.export_json", "plans.layers.raw",
        "plans.layers.analytics", "plans.layers.features", "plans.layers.dashboard",
    )
}
# span name -> per-layer metric; median duration over the timed ops that ran it
REQUEST_SPANS = {
    "mart.build": "sources.mart.build_s",
    "mart.exec": "sources.mart.exec_s",
    **{f"operators.{q}.{p}": f"operators.{q}.{p}_s" for q in QUERIES for p in ("build", "exec")},
}
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.first_action_s", "s", "lower"),
    ("session.jobs_per_op", "count", "lower"),
    ("session.stages_per_op", "count", "lower"),
    ("session.tasks_per_op", "count", "lower"),
    ("session.failed_tasks", "count", "lower"),
    ("session.jvm_cpu_s", "s", "lower"),
    ("session.driver_cpu_s", "s", "lower"),
    ("session.jvm_hwm_mb", "MB", "lower"),
    *((m, "s", "lower") for m in LAYER_SPANS.values()),
    ("sources.files_written", "count", "lower"),
    ("sources.bytes_written", "bytes", "lower"),
    *((m, "s", "lower") for m in REQUEST_SPANS.values()),
    ("setup.plans.layers.run_all_s", "s", "lower"),
    *((m, "s", "lower") for m in SETUP_SPANS.values()),
    ("traced.setup_s", "s", "lower"),
    ("traced.op_p50_s", "s", "lower"),
    ("traced.ops_per_s", "1/s", "higher"),
)


def pin_environment(run_dir: str) -> None:
    """Run the engine under its defaults: drop every SPARK_GRAFT_* knob but
    the core count, and give the run its own Spark scratch and temp
    directories."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM's temp files and perf-data file would otherwise land in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


class Run:
    """What a workload sees of the live run."""

    def __init__(self, spark, work_dir: str, tracer) -> None:
        from wnba_data_pipeline_spark.plans import layers
        from wnba_data_pipeline_spark.sources import sinks

        import __spark_entry__

        self.spark = spark
        self.sc = spark.sparkContext
        self.work_dir = work_dir
        self.layers = layers
        self.sinks = sinks
        self.entry = __spark_entry__
        self.tracer = tracer
        self.counters: dict = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op_scope(self, op_id):
        return self.tracer.op(op_id) if self.tracer else contextlib.nullcontext()


def measure(run: Run, wl, seconds: float) -> tuple[list[dict], float]:
    """Closed loop: ``wl.clients`` threads each send their next op as soon
    as the previous one returns, until ``seconds`` have passed."""
    ops: list[dict] = []
    lock = threading.Lock()
    ids = itertools.count()
    start = time.perf_counter()
    deadline = start + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(ids)
            group = f"perfbench-op-{i}"
            if run.tracer:
                run.sc.setJobGroup(group, group)
            rec = {"id": i, "out": None, "error": None}
            rec["start"] = time.perf_counter()
            try:
                with run.op_scope(i):
                    rec["out"] = wl.op(run, i)
            except Exception as e:  # an op failure is a result, not an abort
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["end"] = time.perf_counter()
            if run.tracer:
                rec.update(job_counts(run.sc, group))
            with lock:
                ops.append(rec)

    threads = [threading.Thread(target=client) for _ in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(ops, key=lambda r: r["id"]), start


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run: Run, ops: list[dict], probes: dict, e2e: dict) -> dict[str, float]:
    n = len(ops)
    ids = [r["id"] for r in ops]
    self_s = run.tracer.self_seconds(ids)
    dur = run.tracer.durations(ids)
    setup_self = run.tracer.self_seconds([SETUP_OP])
    written = [run.counters[i] for i in ids if i in run.counters]
    m = {
        "session.get_spark_s": probes["get_spark_s"],
        "session.first_action_s": probes["first_action_s"],
        "session.jobs_per_op": sum(r.get("jobs", 0) for r in ops) / n,
        "session.stages_per_op": sum(r.get("stages", 0) for r in ops) / n,
        "session.tasks_per_op": sum(r.get("tasks", 0) for r in ops) / n,
        "session.failed_tasks": sum(r.get("failed_tasks", 0) for r in ops),
        "session.jvm_cpu_s": probes["jvm_cpu_s"] / n,
        "session.driver_cpu_s": probes["driver_cpu_s"] / n,
        "session.jvm_hwm_mb": probes["jvm_hwm_mb"],
        "sources.files_written": sum(w["files_written"] for w in written) / n,
        "sources.bytes_written": sum(w["bytes_written"] for w in written) / n,
        "traced.setup_s": e2e["setup_s"],
        "traced.op_p50_s": e2e["op_p50_s"],
        "traced.ops_per_s": e2e["ops_per_s"],
        "setup.plans.layers.run_all_s": sum(run.tracer.durations([SETUP_OP])["plans.layers.run_all"]),
    }
    for span, metric in LAYER_SPANS.items():
        m[metric] = sum(self_s.get(span, ())) / n
    for span, metric in REQUEST_SPANS.items():
        m[metric] = _median(dur.get(span, ()))
    for span, metric in SETUP_SPANS.items():
        m[metric] = sum(setup_self.get(span, ()))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.1", help="fixture scale the inputs are drawn from")
    args = ap.parse_args(argv)

    from inputs import fixture_dir, generate

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "wnba_data_pipeline_spark", "session.py")):
        print(f"the engine package is not next to {HERE}", file=sys.stderr)
        return 2
    src = fixture_dir(args.scale)
    if not os.path.isdir(src):
        print(f"fixture tables not found at {src} (set PERFBENCH_TESTDATA)", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    spark = None

    def abort() -> None:
        print(f"run exceeded {ABORT_AFTER_S} s; aborting", file=sys.stderr)
        if spark is not None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    # on SIGTERM, unwind through the finally below so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(ABORT_AFTER_S, abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        wl = WORKLOADS[args.workload]()
        data_dir = os.path.join(run_dir, "inputs", args.scale)
        generate(src, data_dir, args.seed)
        wl.prepare(data_dir, args.seed, args.scale)

        # ---- set-up: everything from here to the first timed op is setup_s
        t_setup = time.perf_counter()
        from wnba_data_pipeline_spark.functions.scale import sf_of_path
        from wnba_data_pipeline_spark.session import ensure_confs, get_spark

        if f"sf{sf_of_path(data_dir):g}" != args.scale:
            raise RuntimeError(f"the engine reads scale {sf_of_path(data_dir)} from {data_dir}")
        probes: dict[str, float] = {}
        t = time.perf_counter()
        spark = ensure_confs(get_spark())
        probes["get_spark_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).collect()
        probes["first_action_s"] = time.perf_counter() - t

        tracer = Tracer() if args.trace else None
        run = Run(spark, run_dir, tracer)
        if tracer:
            from wnba_data_pipeline_spark.sources import tables

            instrument(tracer, {
                "sources.load_table": tables.load_table,
                "sources.read_table": run.sinks.read_table,
                "sources.upsert_partitions": run.sinks.upsert_partitions,
                "sources.overwrite_table": run.sinks.overwrite_table,
                "sources.export_json": run.sinks.export_json,
                "plans.layers.raw": run.layers.run_raw_layer,
                "plans.layers.analytics": run.layers.run_analytics_layer,
                "plans.layers.features": run.layers.run_features_layer,
                "plans.layers.dashboard": run.layers.run_dashboard_layer,
                "plans.layers.run_all": run.layers.run_all,
            })
        warmups = wl.setup(run)

        # ---- timed window
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cpu0 = cpu_seconds(jvm_pid), cpu_seconds()
        ops, t_first = measure(run, wl, args.seconds)
        probes["jvm_cpu_s"] = cpu_seconds(jvm_pid) - cpu0[0]
        probes["driver_cpu_s"] = cpu_seconds() - cpu0[1]
        probes["jvm_hwm_mb"] = hwm_mb(jvm_pid)
        stop_session(spark)
        spark = None

        # ---- checks, after the JVM is gone
        failures = []
        for label, out in warmups:
            err = wl.check(run, label, out)
            if err:
                failures.append(f"{label}: {err}")
        failed = 0
        for r in ops:
            err = r["error"] or wl.check(run, r["id"], r["out"])
            if err:
                failed += 1
                failures.append(f"op {r['id']}: {err}")
        for f in failures[:10]:
            print(f"CHECK FAILED {f}", file=sys.stderr)

        wall = max(r["end"] for r in ops) - t_first
        lat = [r["end"] - r["start"] for r in ops]
        e2e = {
            "setup_s": t_first - t_setup,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": len(ops) / wall,
        }
        print(f"# {args.workload} seed={args.seed} ops={len(ops)} clients={wl.clients} "
              f"window_s={wall:.3f} fail_frac={failed / len(ops):.4f}")
        if len(lat) <= 20:
            print("# op_s=" + " ".join(f"{x:.3f}" for x in lat))
        else:
            # the highest percentile with at least ten samples beyond it
            p = int(100 * (1 - 10 / len(lat)))
            print(f"# op_p{p}_s={statistics.quantiles(lat, n=100)[p - 1]:.4f} (n={len(lat)})")
        if tracer:
            raw = layer_metrics(run, ops, probes, e2e)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            raw = e2e
        metrics = {n: {"value": raw[n], "unit": u} for n, u, _ in (PER_LAYER if tracer else END_TO_END)}
        for n, m in metrics.items():
            print(f"{n} {m['value']} {m['unit']}")
        result = {"correct": not failures, "attempted": len(ops), "failed": failed, "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        watchdog.cancel()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
