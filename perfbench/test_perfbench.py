"""The benchmark's own tests, on the TINY input shape.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the root of a checkout; takes a few minutes (every workload is
run alone, untraced and traced, each in its own Spark process).
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, run.__file__, "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_alone_and_emits_every_metric_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def _inputs(seed: int, d: str) -> None:
    gen.write_star(seed, gen.TINY, d)
    for i, t in enumerate(gen.stream_backlog(seed, gen.TINY)):
        gen.write_table(t, os.path.join(d, f"backlog-{i}.parquet"))
    for i, t in enumerate(gen.load_days(seed, gen.TINY)):
        gen.write_table(t, os.path.join(d, f"day-{i}.parquet"))
    for n, t in gen.dim_tables(seed, gen.TINY).items():
        gen.write_table(t, os.path.join(d, f"dim-{n}.parquet"))


def test_same_seed_gives_identical_inputs_and_another_seed_only_other_values(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _inputs(3, a)
    _inputs(3, b)
    _inputs(4, c)
    names = sorted(os.listdir(a))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch  # values differ ...
    for n in names:  # ... but the shape does not
        ta, tc = pq.read_table(os.path.join(a, n)), pq.read_table(os.path.join(c, n))
        assert (ta.schema, ta.num_rows) == (tc.schema, tc.num_rows)


def test_tree_cpu_counts_busy_child_processes():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy])
    child.wait()
    assert run.tree_cpu_s() - before >= 0.4


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("spark")), "perfbench-tests")
    yield s
    run.stop_session(s)


def _workload(cls, spark, tmp_path):
    wl = cls(spark, Tracer(spark, enabled=False), 5, gen.TINY, str(tmp_path))
    wl.fixture(0)
    wl.open()
    wl.warmup()
    wl.run_pass(0, False)
    checks = wl.check()
    assert checks and all(checks.values()), checks
    return wl


def _duplicate_a_file(path: str) -> None:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    f = max(files, key=os.path.getsize)  # a zero-row file would change nothing
    shutil.copy(f, f.replace(".parquet", "-dup.parquet"))


def test_corrupted_stream_output_fails_its_check(spark, tmp_path):
    wl = _workload(workloads.StreamIngest, spark, tmp_path)
    _duplicate_a_file(os.path.join(wl.out, "category_trends"))
    checks = wl.check()
    assert checks["stream_ingest.category_trends"] is False
    assert checks["stream_ingest.fraud_records"] is True


def test_corrupted_mart_fails_its_check(spark, tmp_path):
    wl = _workload(workloads.NightlyLoad, spark, tmp_path)
    _duplicate_a_file(os.path.join(wl.wh, "marts", "fraud_records"))
    checks = wl.check()
    assert checks["nightly_load.fraud_records"] is False
    assert checks["nightly_load.user_spend_trends"] is True


def test_corrupted_query_result_fails_its_check(spark, tmp_path):
    wl = _workload(workloads.QueryMix, spark, tmp_path)
    wl.results["pricing_summary"] = wl.results["pricing_summary"].limit(1)
    checks = wl.check()
    assert checks["query_mix.pricing_summary"] is False
    assert sum(not ok for ok in checks.values()) == 1
