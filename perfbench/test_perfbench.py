"""Self-test of the benchmark harness; every workload runs at toy size.

    python3 -m pytest perfbench/test_perfbench.py -q

Needs no input: each run builds its own from a seed. Takes a few minutes
(one Spark session per workload run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import run as bench_run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench_run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench_run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_mismatches_counts_perturbed_missing_and_extra_rows():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE ref AS SELECT i AS k, i * 0.5 AS x, 'a' || i AS s "
                "FROM range(10) t(i)")
    con.execute("CREATE TABLE same AS SELECT k, x * (1 + 1e-12) AS x, s FROM ref")
    assert harness.mismatches(con, "same", "ref", ["k"], float_cols=("x",)) == 0
    con.execute("CREATE TABLE bad AS SELECT k, CASE WHEN k = 3 THEN x + 1 "
                "WHEN k = 5 THEN NULL ELSE x END AS x, "
                "CASE WHEN k = 4 THEN 'b' ELSE s END AS s FROM ref "
                "WHERE k != 7 UNION ALL SELECT 99, 0.0, 'z'")
    # k=3 float, k=4 string, k=5 NULL float, k=7 missing, k=99 extra
    assert harness.mismatches(con, "bad", "ref", ["k"], float_cols=("x",)) == 5


def test_work_cpu_counts_exited_children_of_a_sigchld_ignoring_parent():
    """A parent that ignores SIGCHLD (as the Python daemon does) gets no
    CPU time from children that exit; the sampler must keep it."""
    burn = (
        "import os, signal, time\n"
        "signal.signal(signal.SIGCHLD, signal.SIG_IGN)\n"
        "if os.fork() == 0:\n"
        "    time.sleep(0.3)\n"
        "    t = time.process_time()\n"
        "    while time.process_time() - t < 0.5: pass\n"
        "    os._exit(0)\n"
        "time.sleep(2.5)\n"
    )
    p = subprocess.Popen([sys.executable, "-c", burn])
    cpu = harness.WorkCpu(p.pid, interval=0.05)
    try:
        start = cpu.read()[0]
        time.sleep(1.5)  # the worker has burnt its 0.5 s and exited
        assert cpu.read()[0] - start >= 0.4
    finally:
        cpu.close()
        p.wait()


def test_perturbed_output_fails_the_workload_check(tmp_path):
    import argparse

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from workloads.flagship import BakeFlagship

    args = argparse.Namespace(workload="bake_flagship", seed=5, seconds=1.0,
                              trace=0, scale=0.002)
    work = str(tmp_path / "work")
    spark = bench_run._start_spark(work, 2)
    run = None
    try:
        run = bench_run.Run(args, spark, work)
        wl = BakeFlagship(run)
        wl.generate()
        wl.load()
        wl.reference()
        out = str(tmp_path / "out")
        wl.iterate(out)
        assert wl.check(out) == 0
        part = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))[0]
        path = os.path.join(out, part)
        t = pq.read_table(path)
        t = t.set_column(
            t.schema.get_field_index("n_chars_max"), "n_chars_max",
            pc.add(t["n_chars_max"], 1),
        )
        pq.write_table(t, path)
        assert wl.check(out) == t.num_rows
    finally:
        if run is not None:
            run.cpu.close()
        bench_run._stop_spark(spark)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_at_toy_size(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().split("\n")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    units = bench_run.LAYER_UNITS if trace else bench_run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(lines[-2])
    assert report["error_rate"] == 0.0
    assert {"nproc", "mem_total_kb", "pyspark", "spark.driver.memory"} <= set(
        report["env"]
    )
    if trace:
        assert len(report["env"]["cpu_burn_s"]) == 2


def test_refuses_to_run_without_the_library(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "train_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
