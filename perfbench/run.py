"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N     # every workload

Run from the root of a checkout. One run starts one local[4] Spark
session, stages the workload's seeded inputs, warms up, measures
closed-loop passes for ``--seconds`` (the pass in flight when the time
is up is finished), checks the outputs, and prints as its LAST stdout
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, and
the spans of the run are written to ``.perfbench/traces/``. The line
before it holds the run's detail: sample counts, the workload's named
metrics and every check. All files the run writes stay under
``.perfbench/`` in the checkout; its work directory is removed at exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
START = time.perf_counter()
SETUPS = 3  # fixture staging is repeated; setup_s takes the median

E2E = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "setup.fixture_s": "s", "setup.warmup_s": "s",
    "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.jobs_per_trigger": "count",
    "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "state.rows_total": "count", "state.mem_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_removed": "count",
    "run.ingest_s": "s", "run.warehouse_load_s": "s",
    "run.user_spend_trends_s": "s", "run.category_trends_s": "s",
    "run.input_bytes": "bytes", "run.output_files": "count",
    "run.output_bytes": "bytes", "run.shuffle_bytes": "bytes", "run.spill_bytes": "bytes",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.jobs": "count",
    "queries.stages": "count", "queries.executor_cpu_s": "s",
    "queries.shuffle_bytes": "bytes", "queries.spill_bytes": "bytes",
    "self.streaming_s": "s", "self.run_s": "s",
    "self.queries_s": "s", "spark.job_s": "s",
    "trace.overhead_ratio": "ratio",
}
#: detail-line metrics every workload reports (prefixed by ``--workload all``)
PER_RUN = ("setup_s", "setup_wall_s", "full_s", "cpu_s", "failed_ratio")
WORKLOAD_NAMES = ("stream_ingest", "nightly_load", "query_mix")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny input shape (the benchmark's own tests)")
    return p.parse_args(argv)


def start_session(work: str, app: str):
    """A local[4] session whose files (Spark's, its Python workers' and
    tempfile's) all stay under ``work``."""
    import tempfile

    from smart_fraud_detection_data_pipeline_spark import get_spark

    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", "120")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return get_spark(app, master="local[4]", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.tempdir}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every process below
    it (the Spark JVM, its Python workers), reaped children included."""
    stats, kids = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        stats[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        kids.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def run_one(a) -> int:
    try:
        import pyspark  # noqa: F401

        import smart_fraud_detection_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from tracing import Tracer

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    shape = gen.TINY if a.tiny else gen.Shape()
    cpu0, started = tree_cpu_s(), time.time()
    spark = start_session(work, f"perfbench-{a.workload}")
    session_s, session_cpu = time.time() - started, tree_cpu_s() - cpu0
    try:
        tracer = Tracer(spark, enabled=bool(a.trace))
        tracer.record("session", "get_spark", started, started + session_s)
        tracer.enabled = False
        wl = workloads.WORKLOADS[a.workload](spark, tracer, a.seed, shape, work)
        fixture_s, fixture_cpu = [], []
        for k in range(SETUPS):
            t, c = time.perf_counter(), tree_cpu_s()
            wl.fixture(k)
            fixture_s.append(time.perf_counter() - t)
            fixture_cpu.append(tree_cpu_s() - c)
        t, c = time.perf_counter(), tree_cpu_s()
        wl.open()
        wl.warmup()
        warmup_s, warmup_cpu = time.perf_counter() - t, tree_cpu_s() - c

        passes, cpus = [], []
        t0 = time.perf_counter()
        tracer.enabled = bool(a.trace)
        while not passes or time.perf_counter() - t0 < a.seconds:
            c = tree_cpu_s()
            passes.append(wl.run_pass(len(passes), tracer.enabled))
            cpus.append(tree_cpu_s() - c)
        tracer.enabled = False
        measure_s = time.perf_counter() - t0
        t = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t

    ops = [x for p in passes for x in p.ops]
    fulls = [p.full_s for p in passes]
    failed = sum(p.failed for p in passes) + sum(not ok for ok in checks.values())
    attempted = len(ops) + sum(p.failed for p in passes) + len(checks)
    correct = failed == 0 and all(checks.values()) and not wl.failures
    setup_s = session_cpu + statistics.median(fixture_cpu) + warmup_cpu
    named = wl.named(passes)
    named.update(setup_s=setup_s,
                 setup_wall_s=session_s + statistics.median(fixture_s) + warmup_s,
                 full_s=statistics.median(fulls),
                 cpu_s=statistics.median(cpus), failed_ratio=failed / max(1, attempted))

    if a.trace:
        values = {k: 0.0 for k in PER_LAYER}
        for key in {k for p in passes for k in p.layers}:
            values[key] = statistics.mean(p.layers.get(key, 0.0) for p in passes)
        values.update({
            "session.start_s": session_s,
            "setup.fixture_s": statistics.median(fixture_s),
            "setup.warmup_s": warmup_s,
            "trace.overhead_ratio": tracer.cost_s / (sum(fulls) - tracer.cost_s),
        })
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        path = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}-{tracer.run_id}.jsonl")
        tracer.write(path)
    else:
        values = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(cpus),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "samples": {"ops": len(ops), "passes": len(passes), "setups": SETUPS},
        "phases_s": {"session": session_s, "fixture": sum(fixture_s), "warmup": warmup_s,
                     "measure": measure_s, "check": check_s, "stop": stop_s,
                     "wall": time.perf_counter() - START},
        "named": named, "last_pass": passes[-1].detail,
        "checks": checks, "failures": wl.failures,
        **({"trace_file": os.path.relpath(path, ROOT)} if a.trace else {}),
    }))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def run_all(a) -> int:
    """Every workload for one seed, each in its own process; prints the
    workloads' named metrics with units and one correctness verdict."""
    units = {"stream_events_per_s": "1/s", "failed_ratio": "ratio"}
    summary, ok, attempted, failed = {}, True, 0, 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.tiny:
            cmd.append("--tiny")
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            sys.stderr.write(r.stderr[-4000:])
            print(f"perfbench: workload {name} exited {r.returncode}", file=sys.stderr)
            return 1
        detail, last = json.loads(lines[-2]), json.loads(lines[-1])
        ok &= last["correct"]
        attempted += last["attempted"]
        failed += last["failed"]
        for k, v in detail["named"].items():
            key = f"{name}.{k}" if k in PER_RUN else k
            summary[key] = {"value": v, "unit": units.get(k, "s")}
            print(f"{key:36s} {v:12.4f} {summary[key]['unit']}")
    print(f"{'failed_ratio':36s} {failed / max(1, attempted):12.4f} ratio")
    print("output correctness:", "PASS" if ok else "FAIL")
    summary["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": summary}))
    return 0


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    if a.workload == "all":
        return run_all(a)
    return run_one(a)


if __name__ == "__main__":
    sys.exit(main())
