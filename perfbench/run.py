"""Benchmark of the recipe engine through its public API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run starts one local Spark session on
``local[nproc]``, builds the workload's inputs from ``--seed`` inside the
checkout, checks one iteration's output against a DuckDB (or batch) mirror,
measures for ``--seconds`` and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans around the public calls plus Spark's status stores). The line
before it is a report with every figure the workload measured, the recorded
environment and, for traced runs, the tracing overhead. Workloads, layers
and what each layer metric should move are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric → unit; every workload reports each of them. Walls
#: (rows/s, latency) are in the report line: on a shared host they move
#: with other tenants' load far more than any bound allows
E2E_UNITS = {
    "setup_s": "s",
    "cpu_us_per_row": "us",
}

#: per-layer metric → unit; a layer a workload does not exercise reads 0.
#: corpus_curate's operator figures (corpus.*, dedup.*, packing.*) are in
#: its report line only: no workload in BENCHMARK.json exercises them
LAYER_UNITS = {
    "sources.gen_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_s": "s",
    "recipe.prep_call_s": "s",
    "recipe.fit_jobs": "count",
    "recipe.bake_call_s": "s",
    "recipe.bake_jobs": "count",
    "plan.exchanges": "count",
    "plan.windows": "count",
    "plan.sorts": "count",
    "plan.python_stages": "count",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.fetch_wait_s": "s",
    "exec.spill_bytes": "B",
    "exec.peak_mem_bytes": "B",
    "exec.task_skew": "ratio",
    "exec.python_run_s": "s",
    "exec.python_init_s": "s",
    "exec.python_bytes_sent": "B",
    "exec.python_bytes_returned": "B",
    "streaming.batch_ms": "ms",
    "streaming.batches": "count",
    "streaming.input_rows_per_s": "1/s",
    "streaming.processed_rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.watermark_lag_s": "s",
    "streaming.late_rows_dropped": "count",
    "streaming.backlog_files": "count",
    "streaming.gen_lag_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}

#: loading the generated input (open + count) is repeated and its median
#: kept in setup_s; session start, generation and warm-up happen once
LOAD_REPEATS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size multiplier (the self-test runs at toy size)",
    )
    return p.parse_args(argv)


def _start_spark(work: str, n: int):
    from recipys_spark.sources.io import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the JVMs and the Python workers inherit these; nothing lands in /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        parallelism=n,
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed set of JIT compiler threads, so that the work CPU
            # can leave all of their time out (harness.WorkCpu)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
            # Arrow and pandas UDFs import recipys_spark in the workers;
            # launched from outside the repo root they cannot find it
            "spark.executorEnv.PYTHONPATH": ROOT,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """What a workload sees of one benchmark run."""

    def __init__(self, args, spark, work: str) -> None:
        import duckdb
        from pyspark import SparkContext

        from harness import RssPeak, SparkAccounting, Tracer, WorkCpu

        self.seed = args.seed
        self.scale = args.scale
        self.spark = spark
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", False)
        self.acct = SparkAccounting(spark) if self.trace else None
        self.rss = RssPeak(SparkContext._gateway.proc.pid)
        self.cpu = WorkCpu(SparkContext._gateway.proc.pid)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        self.con.execute("SET TimeZone='UTC'")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _load_workload(name: str):
    from workloads import WORKLOADS, load

    if name not in WORKLOADS:
        raise SystemExit(
            f"unknown workload {name!r}; choose from {sorted(WORKLOADS)}"
        )
    return load(name)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark
        import recipys_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    cls = _load_workload(args.workload)
    work = os.path.join(
        ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, cls, work, pyspark.__version__)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cls, work: str, pyspark_version: str) -> int:
    import harness
    from bench import cpu_burn

    n = harness.nproc()
    # the host-health probe brackets traced runs only: two burns cost ~5 s,
    # a tenth of an untraced run, and the driver's run budget has no room
    burn_before = cpu_burn() if args.trace else None
    spark = run = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, n)
        session_s = time.perf_counter() - t0
        run = Run(args, spark, work)
        wl = cls(run)

        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        loads = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.reference()
        reference_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        bad, check_s = wl.warmup()
        warm_s = time.perf_counter() - t0 - check_s
        setup_s = session_s + gen_s + harness.median(loads) + warm_s

        m = wl.measure(args.seconds)
        rss, jvm_rss = run.rss.mb()
        env = {
            "nproc": n,
            "mem_total_kb": harness.mem_total_kb(),
            "pyspark": pyspark_version,
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "master": spark.sparkContext.master,
            "jvm_peak_rss_mb": jvm_rss,
            "session_start_s": session_s,
            "gen_s": gen_s,
            "load_s": loads,
            "warmup_s": warm_s,
            "reference_s": reference_s,
            "check_s": check_s,
        }
    finally:
        if run is not None:
            run.cpu.close()
        if spark is not None:
            _stop_spark(spark)
    if args.trace:
        env["cpu_burn_s"] = [burn_before, cpu_burn()]

    attempted = m.attempted + 1
    failed = m.failed + (1 if bad else 0)
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **m.e2e}
    report = dict(m.report)
    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        inputs=wl.sizes, check_mismatches=bad, error_rate=failed / attempted,
        end_to_end=e2e, env=env,
    )
    if args.trace:
        layers = {k: 0 for k in LAYER_UNITS}
        layers["sources.gen_s"] = gen_s
        layers.update(m.layers)
        layers["trace.spans"] = len(run.tracer.spans)
        report["layers"] = layers
        run.tracer.dump(os.path.join(
            ROOT, ".perfbench", "traces",
            f"{args.workload}-{args.seed}-{os.getpid()}.json",
        ))
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps(report))
    print(json.dumps({
        "correct": not bad and m.check_failures == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
