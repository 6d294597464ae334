"""stream_features: the only workload that runs ``recipys_spark.streaming``.

Leg 1 is an open loop. One generator thread writes transcript-turn files
into a watched directory at a fixed rate, each file due at a fixed time
and every row stamped with that due time (``created_at``).
``streaming_running_features(idle_timeout=True)`` and
``streaming_session_stats`` read the directory through the file source;
the running-features ``foreachBatch`` sink stamps emission, so latency runs
from when a row was due to when its features were emitted.

Leg 2 drains a pre-written backlog with ``Trigger.AvailableNow``, through
both queries, ``DRAINS`` times from fresh checkpoints.

The compared figure is the median work CPU of a drain per backlog row: a
drain is the same work every time, while the open leg's CPU depends on
how many triggers its catch-up spans. Latency and drain throughput are
walls and go to the report line.

Both legs' running features are checked against the batch
``StepHistorical`` MEAN/MAX/COUNT over the same rows: exact for count and
max, within 1e-9 relative for the float-summed mean."""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import harness
from workloads.base import Measurement

#: conversations live at once; each lives TURNS turns, then its slot
#: starts a new conversation
SLOTS = 400
TURNS = 8
ROWS_PER_FILE = 200
#: open-loop rate, files per second (ROWS_PER_FILE rows each)
FILES_PER_S = 2.5
#: event time advances this much per file, so a conversation's turns sit
#: 25 minutes apart (one session) and closed sessions pass the 1 h
#: watermark within seconds of wall time
EVENT_S_PER_FILE = 600
BACKLOG_FILES = 20
#: measured drains of the backlog; the compared figure is their median
DRAINS = 3
WARMUP_FILES = 4
#: the open leg's trigger interval; the default back-to-back trigger lets
#: the idle timeout's no-data batches delay data batches at random
TRIGGER_S = 4
BASE_TS = 1_700_000_000


def turn_rows(seed: int, first: int, n: int, created_at: float) -> dict:
    """Rows ``first .. first+n-1`` of the seeded turn sequence: row j is
    turn (j // SLOTS) % TURNS of conversation ``s{slot}g{generation}``."""
    import numpy as np

    j = np.arange(first, first + n, dtype=np.int64)
    slot = j % SLOTS
    turn = (j // SLOTS) % TURNS
    gen = (j // SLOTS) // TURNS
    rng = np.random.default_rng([seed, first])
    value = np.round(rng.uniform(-50.0, 50.0, n), 2)
    value[rng.integers(0, 7, n) == 0] = np.nan
    file_idx = j // ROWS_PER_FILE
    ts = BASE_TS + file_idx * EVENT_S_PER_FILE + (j % ROWS_PER_FILE)
    return {
        "conv_id": [f"s{s}g{g}" for s, g in zip(slot, gen)],
        "turn_idx": turn.astype(np.int32),
        "value": value,
        "ts": ts,
        "created_at": np.full(n, created_at),
    }


def write_file(seed: int, idx: int, directory: str, created_at: float,
               staging: str) -> None:
    """File ``idx`` of the sequence, renamed into ``directory`` whole so the
    file source never lists a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = turn_rows(seed, idx * ROWS_PER_FILE, ROWS_PER_FILE, created_at)
    cols["ts"] = pa.array(cols["ts"] * 1_000_000, pa.int64()).cast(
        pa.timestamp("us", "UTC")
    )
    # NaN marks a null value
    cols["value"] = pa.array(cols["value"], from_pandas=True)
    table = pa.table(cols)
    tmp = os.path.join(staging, f"part-{idx:06d}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, f"part-{idx:06d}.parquet"))


class Generator(threading.Thread):
    """Writes file i at ``start + i / FILES_PER_S`` until told to stop; the
    schedule does not slow when the system under test does."""

    def __init__(self, seed: int, directory: str, staging: str) -> None:
        super().__init__(daemon=True)
        self.seed, self.dir, self.staging = seed, directory, staging
        self.stop_at = None
        self.start_t = None
        self.written = 0
        self.lag_s: list[float] = []
        #: this thread's own CPU, which is the benchmark's, not the program's
        self.cpu_s = 0.0
        self.error = None

    def due(self, i: int) -> float:
        return self.start_t + i / FILES_PER_S

    def run(self) -> None:
        try:
            i = 0
            while True:
                due = self.due(i)
                if self.stop_at is not None and due >= self.stop_at:
                    return
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                c0 = time.thread_time()
                write_file(self.seed, i, self.dir, due, self.staging)
                self.cpu_s += time.thread_time() - c0
                self.lag_s.append(max(0.0, time.time() - due))
                i += 1
                self.written = i
        except Exception as e:  # reported by the caller after join
            self.error = e


class ProgressLog(StreamingQueryListener):
    """Every progress report, by query id. Queries whose state has a
    processing-time timeout run a no-data batch per trigger, which pushes
    the busy batches out of ``recentProgress``."""

    def __init__(self) -> None:
        self.by_query: dict = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.by_query.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def of(self, q) -> list:
        return list(self.by_query.get(q.id, []))

    def rows_in(self, q) -> int:
        return sum(p["numInputRows"] for p in self.of(q))


def _await(cond, queries, timeout: float = 120.0) -> None:
    """Poll until ``cond()`` holds; a failed query or the timeout raises."""
    deadline = time.time() + timeout
    while not cond():
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        if time.time() > deadline:
            raise TimeoutError("stream did not catch up")
        time.sleep(0.02)


class StreamFeatures:
    def __init__(self, run) -> None:
        self.run = run
        self.spark = run.spark
        self.seed = run.seed
        self.backlog = max(4, int(BACKLOG_FILES * run.scale))
        for d in ("live", "backlog", "warm", "staging", "ckpt"):
            os.makedirs(run.path(d), exist_ok=True)
        # the backlog and warm-up files start far past the live sequence, so
        # no conversation spans two legs
        self.backlog_first = 1_000_000
        self.warm_first = 2_000_000
        self.sizes: dict = {}

    # -- setup -------------------------------------------------------------

    def generate(self) -> None:
        for i in range(self.backlog):
            write_file(self.seed, self.backlog_first + i, self.run.path("backlog"),
                       0.0, self.run.path("staging"))
        for i in range(WARMUP_FILES):
            write_file(self.seed, self.warm_first + i, self.run.path("warm"),
                       0.0, self.run.path("staging"))

    def load(self) -> None:
        self.schema = self.spark.read.parquet(self.run.path("backlog")).schema
        self.sizes = {"backlog_rows": self.backlog * ROWS_PER_FILE,
                      "rows_per_file": ROWS_PER_FILE, "files_per_s": FILES_PER_S,
                      "live_conversations": SLOTS}

    def reference(self) -> None:
        """The batch reference is built after the legs, over the rows they
        read (``_check``)."""

    def warmup(self) -> tuple[int, float]:
        """The features query once over a few files: Python workers,
        codegen and the state store start here, not in the measured legs."""
        self.log = ProgressLog()
        self.spark.streams.addListener(self.log)
        self._drain("warm", "warm", WARMUP_FILES)
        return 0, 0.0

    # -- queries -------------------------------------------------------------

    def _stream(self, directory: str):
        return self.spark.readStream.schema(self.schema).parquet(directory)

    def _start_features(self, directory: str, tag: str, sink,
                        available_now=False):
        from recipys_spark.streaming.session import streaming_running_features

        feats = streaming_running_features(
            self._stream(directory).select("conv_id", "turn_idx", "value"),
            idle_timeout=True,
        )
        w = (
            feats.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.run.path("ckpt", f"{tag}-features"))
        )
        w = (w.trigger(availableNow=True) if available_now
             else w.trigger(processingTime=f"{TRIGGER_S} seconds"))
        return w.start()

    def _start_sessions(self, directory: str, tag: str, available_now=False):
        from recipys_spark.streaming.session import streaming_session_stats

        w = (
            streaming_session_stats(self._stream(directory))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", self.run.path("ckpt", f"{tag}-sessions"))
        )
        return (w.trigger(availableNow=True) if available_now else w).start()

    def _collector(self):
        """foreachBatch sink keeping every emitted row and its emission
        time."""
        frames = []

        def sink(df, batch_id):
            pdf = df.toPandas()
            pdf["emitted_at"] = time.time()
            frames.append(pdf)
            self.run.rss.sample()

        return frames, sink

    def _drain(self, tag: str, directory: str, files: int):
        """Both queries over ``directory`` with ``Trigger.AvailableNow``.
        Returns the emitted rows, the features query's wall, its progress
        and the work CPU of the two queries.

        With the idle timeout armed, no-data batches for the
        processing-time timeouts would keep AvailableNow from ever
        terminating (nor would processAllAvailable return), and stopping
        it cancels one of them at a random point, killing Python workers.
        The drain therefore runs with no-data batches off, so it ends on
        its own after the backlog: the same work every time."""
        conf = self.spark.conf
        conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        try:
            frames, sink = self._collector()
            t0 = time.perf_counter()
            cpu0 = self.run.cpu.read()[0]
            q = self._start_features(self.run.path(directory), tag, sink,
                                     available_now=True)
            _await(lambda: not q.isActive, [q])
            wall = time.perf_counter() - t0
            features_cpu = self.run.cpu.read()[0] - cpu0
            s0 = self.run.cpu.read()[0]
            sq = self._start_sessions(self.run.path(directory), tag,
                                      available_now=True)
            _await(lambda: not sq.isActive, [sq])
            sessions_cpu = self.run.cpu.read()[0] - s0
        finally:
            conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        for query in (q, sq):
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        rows = files * ROWS_PER_FILE
        if _rows(frames) != rows:
            raise RuntimeError(f"drain emitted {_rows(frames)} of {rows} rows")
        # progress events reach the listener asynchronously
        _await(lambda: self.log.rows_in(q) >= rows, [])
        return frames, wall, self.log.of(q), (features_cpu, sessions_cpu)

    # -- measurement ---------------------------------------------------------

    def measure(self, seconds: float) -> Measurement:
        import pandas as pd

        run = self.run
        failed = 0
        mark = run.acct.mark() if run.trace else None
        run.tracer.enabled = run.trace
        t_legs = time.perf_counter()
        open_cpu0 = run.cpu.read()[0]
        # the open loop runs for the measured seconds but at least two
        # trigger intervals; the drain leg and the catch-up come on top
        open_s = max(seconds, 2 * TRIGGER_S)
        with run.tracer.span("stream.open_leg"):
            frames, sink = self._collector()
            fq = self._start_features(run.path("live"), "live", sink)
            sq = self._start_sessions(run.path("live"), "live")
            gen = Generator(self.seed, run.path("live"), run.path("staging"))
            # Spark fires processing-time triggers at multiples of the
            # interval; the first file lands just after one
            gen.start_t = (time.time() // TRIGGER_S + 1) * TRIGGER_S + 0.05
            gen.stop_at = gen.start_t + open_s
            gen.start()
            gen.join(open_s + 60)
            if gen.error is not None or gen.is_alive():
                raise RuntimeError(f"generator failed: {gen.error}")
            backlog_files = gen.written - self.log.rows_in(fq) / ROWS_PER_FILE
            total = gen.written * ROWS_PER_FILE
            _await(lambda: _rows(frames) >= total
                   and self.log.rows_in(fq) >= total
                   and self.log.rows_in(sq) >= total, [fq, sq])
            fq.stop()
            sq.stop()
            live_progress, sess_progress = self.log.of(fq), self.log.of(sq)
        live = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        open_cpu_s = run.cpu.read()[0] - open_cpu0 - gen.cpu_s
        drains = []
        with run.tracer.span("stream.drain_leg"):
            for i in range(DRAINS):
                d_frames, d_wall, d_progress, d_cpu = self._drain(
                    f"drain{i}", "backlog", self.backlog
                )
                drains.append({
                    "rows": pd.concat(d_frames, ignore_index=True),
                    "wall_s": d_wall, "progress": d_progress,
                    "cpu_s": sum(d_cpu), "features_cpu_s": d_cpu[0],
                })
        self.spark.streams.removeListener(self.log)
        legs_s = time.perf_counter() - t_legs
        run.tracer.enabled = False
        drain = drains[0]["rows"]
        drain_s = harness.median(d["wall_s"] for d in drains)
        drain_progress = drains[0]["progress"]

        bad = self._check(pd.concat([live, drain], ignore_index=True),
                          [run.path("live"), run.path("backlog")])
        # every later drain must emit what the first one did
        bad += sum(self._same(d["rows"], drain) for d in drains[1:])
        failed += bad > 0

        # a row's sequence index fixes its file, hence the due time stamped
        # in it as created_at (the emitted features do not carry it)
        lat_ms = [
            1000.0 * (emitted - gen.due(_row_index(c, t) // ROWS_PER_FILE))
            for c, t, emitted in zip(live["conv_id"], live["turn_idx"],
                                     live["emitted_at"])
        ]
        pct, tail = harness.tail_percentile(lat_ms)
        drain_rows = len(drain)
        m = Measurement(
            attempted=1 + DRAINS,
            failed=failed,
            e2e={"cpu_us_per_row": 1e6 * harness.median(
                d["cpu_s"] for d in drains) / drain_rows},
            check_failures=failed,
        )
        m.report = {
            "stream_latency_p50_ms": harness.median(lat_ms),
            "stream_latency_tail_ms": tail,
            "stream_latency_tail_percentile": pct,
            "stream_latency_samples": len(lat_ms),
            "stream_rows_per_s": drain_rows / drain_s,
            "drain_s": [d["wall_s"] for d in drains],
            "drain_cpu_s": [d["cpu_s"] for d in drains],
            "drain_features_cpu_s": [d["features_cpu_s"] for d in drains],
            "open_leg_cpu_us_per_row": 1e6 * open_cpu_s / max(1, len(live)),
            "legs_s": legs_s,
            "live_rows": len(live),
            "live_files": gen.written,
            "check_mismatches_stream": bad,
        }
        if run.trace:
            t0 = time.perf_counter()
            m.layers = run.acct.since(mark)
            m.layers.update(self._layers(live_progress, drain_progress,
                                         sess_progress, backlog_files, gen))
            # no plain legs to compare with: the overhead is the span
            # bookkeeping plus the status-store read, against the legs' wall
            m.layers["trace.overhead_pct"] = (
                100.0 * (time.perf_counter() - t0) / legs_s
            )
        return m

    def _layers(self, live_progress, drain_progress, sess_progress,
                backlog_files, gen) -> dict:
        busy = [p for p in live_progress + drain_progress
                if p.get("numInputRows", 0) > 0]
        med = harness.median

        def state(progress, key):
            if not progress:
                return 0
            return sum(op.get(key, 0) for op in progress[-1].get("stateOperators", []))

        lags = []
        for p in sess_progress:
            et = p.get("eventTime", {})
            if "max" in et and "watermark" in et:
                lags.append(_iso_s(et["max"]) - _iso_s(et["watermark"]))
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in sess_progress for op in p.get("stateOperators", [])
        )
        return {
            "streaming.batch_ms": med(p["durationMs"].get("triggerExecution", 0)
                                      for p in busy),
            "streaming.batches": len(busy),
            "streaming.input_rows_per_s": med(p.get("inputRowsPerSecond", 0)
                                              for p in busy),
            "streaming.processed_rows_per_s": med(p.get("processedRowsPerSecond", 0)
                                                  for p in busy),
            # state at the end of the open leg, both queries
            "streaming.state_rows": state(live_progress, "numRowsTotal")
            + state(sess_progress, "numRowsTotal"),
            "streaming.state_mem_bytes": state(live_progress, "memoryUsedBytes")
            + state(sess_progress, "memoryUsedBytes"),
            "streaming.watermark_lag_s": lags[-1] if lags else 0.0,
            "streaming.late_rows_dropped": dropped,
            "streaming.backlog_files": max(0.0, backlog_files),
            "streaming.gen_lag_ms": 1000.0 * max(gen.lag_s, default=0.0),
        }

    def _same(self, got, ref) -> int:
        from harness import mismatches

        con = self.run.con
        con.register("st_drain_got", got[_CHECK_COLS])
        con.register("st_drain_ref", ref[_CHECK_COLS])
        return mismatches(con, "st_drain_got", "st_drain_ref",
                          ["conv_id", "turn_idx"], float_cols=("value_mean",))

    def _check(self, got, directories: list) -> int:
        """Emitted running features of both legs against batch
        StepHistorical over the rows the legs read (their conversations
        are disjoint)."""
        from harness import mismatches
        from recipys_spark import Accumulator, Recipe
        from recipys_spark.operators import StepHistorical
        from recipys_spark.selector import all_of

        batch = self.spark.read.parquet(*directories).select(
            "conv_id", "turn_idx", "value"
        )
        rec = Recipe(batch, predictors=["value"], groups="conv_id",
                     sequences="turn_idx")
        for fun in (Accumulator.MEAN, Accumulator.MAX, Accumulator.COUNT):
            rec.add_step(StepHistorical(sel=all_of(["value"]), fun=fun))
        cols = _CHECK_COLS
        con = self.run.con
        con.register("st_ref", rec.prep().select(*cols).toPandas())
        con.register("st_got", got[cols])
        return mismatches(con, "st_got", "st_ref", ["conv_id", "turn_idx"],
                          float_cols=("value_mean",))


_CHECK_COLS = ["conv_id", "turn_idx", "value_mean", "value_max", "value_count"]


def _rows(frames: list) -> int:
    return sum(len(f) for f in frames)


def _row_index(conv_id: str, turn: int) -> int:
    """Inverse of ``turn_rows``: the sequence row of a conversation turn."""
    slot, gen = conv_id[1:].split("g")
    return (int(gen) * TURNS + int(turn)) * SLOTS + int(slot)


def _iso_s(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()
