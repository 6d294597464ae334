"""The closed loop the batch workloads share."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import harness

#: a run measures at least two iterations even past --seconds; a traced
#: run needs one plain and one traced iteration anyway
MIN_ITERS = 2
#: unmeasured iterations after the checked one. On a 4-core host the work
#: CPU of train_serve's first iterations read 20, 7.0, 5.9, 6.3 s while the
#: JIT caught up; the timed loop starts at the third
WARM_ITERS = 1


@dataclass
class Measurement:
    attempted: int
    failed: int
    e2e: dict
    #: measured outputs that failed their check (streaming checks every
    #: leg; closed loops check the warm-up iteration)
    check_failures: int = 0
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def materialize(df) -> None:
    """Compute every column without writing anything (the noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def sql_path(path: str) -> str:
    return os.path.join(path, "*.parquet").replace("'", "''")


class ClosedLoop:
    """One iteration starts when the previous one ends. Subclasses give
    ``generate``, ``load``, ``reference``, ``iterate`` and ``check``.

    ``iterate(out_dir)`` runs one iteration and returns a dict with at least
    ``wall_s`` and ``rows``; with ``out_dir`` it writes its outputs there as
    parquet for ``check`` instead of discarding them."""

    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.spark
        self.sizes: dict = {}

    def warmup(self) -> tuple[int, float]:
        """First iteration, written out and checked. Returns the mismatch
        count and the seconds the check itself took."""
        out = self.run.path("check")
        shutil.rmtree(out, ignore_errors=True)
        self.iterate(out)
        self.run.rss.sample()
        t0 = time.perf_counter()
        bad = self.check(out)
        check_s = time.perf_counter() - t0
        for _ in range(WARM_ITERS):
            self.iterate(None)
        return bad, check_s

    def measure(self, seconds: float) -> Measurement:
        run = self.run
        plain, traced, layer_rows = [], [], []
        failed = attempted = 0
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or len(plain) + len(traced) < MIN_ITERS:
            # traced runs alternate plain and traced iterations, so the
            # difference between the two medians is the tracing overhead
            tracing = run.trace and i % 2 == 1
            run.tracer.enabled = tracing
            mark = run.acct.mark() if tracing else None
            attempted += 1
            i += 1
            cpu0 = run.cpu.read()
            try:
                with run.tracer.span("iteration"):
                    r = self.iterate(None)
                cpu1 = run.cpu.read()
                r["cpu_s"] = cpu1[0] - cpu0[0]
                r["jit_s"] = cpu1[1] - cpu0[1]
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                if attempted >= 3 and failed == attempted:
                    break
                continue
            finally:
                run.tracer.enabled = False
                run.rss.sample()
            if tracing:
                traced.append(r)
                layer_rows.append(run.acct.since(mark))
            else:
                plain.append(r)
        # the traced iterations still count toward end to end in a traced
        # run; untraced runs have only plain ones
        results = plain + traced
        m = Measurement(attempted, failed, self.e2e(results))
        m.report = {"iterations": len(results), **self.report(results)}
        if run.trace:
            m.layers = {
                k: harness.median(row[k] for row in layer_rows)
                for k in (layer_rows[0] if layer_rows else {})
            }
            m.layers.update(self.layers())
            # in CPU, like the end-to-end figure: walls move with steal
            pc = harness.median(r["cpu_s"] for r in plain)
            tc = harness.median(r["cpu_s"] for r in traced)
            m.layers["trace.overhead_pct"] = 100.0 * (tc / pc - 1.0) if pc else 0.0
        return m

    def e2e(self, results: list) -> dict:
        rows = results[0]["rows"] if results else 0
        cpu = harness.median(r["cpu_s"] for r in results)
        return {"cpu_us_per_row": 1e6 * cpu / rows if rows else 0.0}

    def report(self, results: list) -> dict:
        walls = [r["wall_s"] for r in results]
        rows = results[0]["rows"] if results else 0
        return {
            "rows_per_s": rows / harness.median(walls) if walls else 0.0,
            "latency_p50_ms": 1000.0 * harness.median(walls),
            "wall_s": walls,
            "cpu_s": [r["cpu_s"] for r in results],
            "jit_cpu_s": [r["jit_s"] for r in results],
        }

    def layers(self) -> dict:
        """Per-layer figures from the spans of the traced iterations."""
        return {}

    def call(self, name: str, fn, count_jobs: bool = False):
        """``fn()`` inside a span named ``name``. When tracing (or asked),
        the Spark jobs it launches are counted through a job group.
        Returns (result, jobs or None)."""
        run = self.run
        if not (count_jobs or run.tracer.enabled):
            with run.tracer.span(name):
                return fn(), None
        self._groups = getattr(self, "_groups", 0) + 1
        group = f"perfbench-{name}-{self._groups}"
        with run.tracer.span(name):
            with harness.job_group(self.spark, group):
                res = fn()
            jobs = harness.jobs_in_group(self.spark, group)
            run.tracer.count("jobs", jobs)
        return res, jobs

    def span_s(self, name: str) -> float:
        return harness.median(self.run.tracer.durations(name))

    def span_jobs(self, name: str) -> float:
        return harness.median(self.run.tracer.counts(name, "jobs"))
