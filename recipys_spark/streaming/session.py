"""Structured-Streaming variants of the engine's time-series operators.

The reference is batch-only (SURVEY.md §2.3 "streaming: absent"); batch
sessionization lives in operators/timeseries.py. These streaming
counterparts cover the live-ingest path of a transcript pipeline:

- ``streaming_session_stats``: per (conv_id, session) aggregates with
  ``F.session_window`` (gap-based), watermarked for late data — state
  is bounded and the session split matches the batch ts-gap rule for
  in-order data.
- ``streaming_running_features``: per-conversation running aggregates
  via ``applyInPandasWithState`` (GroupState) — the streaming analog of
  the expanding-window StepHistorical MEAN/MAX/COUNT (sum, count and max
  carried in state, Arrow-batched).

Cost model of ``streaming_running_features``. Each state partition
runs one Python pass per micro-batch, and a second one when
``idle_timeout=True`` (Spark starts a separate runner to process
timed-out state on every batch, even when no key times out). The shipped
function calls ``functions.worker.ready()`` first, so a pass no longer
pays pyspark's per-task zip-directory re-read once its worker has run
one task. Measured per Python task on a 4-core host, Python 3.11, 4000
rows over 400 conversations in four partitions: the timed-out-state
pass 1–5 ms of CPU (0.2–0.3 s before ``ready()``); a data pass of
~100–225 groups 0.16–0.44 s, most of it the per-group Arrow → pandas →
Arrow round trip of ``applyInPandasWithState``, not the numpy body; each
worker's first task ~0.9 s (imports plus the one re-read). The
partition count is ``spark.sql.shuffle.partitions`` at the checkpoint's
FIRST start and is frozen there (stateful operators skip AQE), so a
checkpoint created under an older, larger setting keeps its partitions;
``get_spark`` sizes it to one partition per core.

Under ``Trigger.AvailableNow``, ``idle_timeout=True`` terminates only with
``spark.sql.streaming.noDataMicroBatches.enabled=false``: the processing-
time timeout otherwise keeps scheduling no-data batches, and neither
``AvailableNow`` nor ``processAllAvailable`` ever finishes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from recipys_spark.functions.worker import ready


def streaming_session_stats(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    group_col: str = "conv_id",
) -> DataFrame:
    """Sessionized per-conversation aggregates over a streaming frame.

    Emits one row per closed (group, session window): turn count and
    session bounds. Append-mode compatible (watermark closes windows)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(group_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count("*").alias("n_turns"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            group_col,
            F.col("session_window.start").alias("window_start"),
            "n_turns",
            "session_start",
            "session_end",
        )
    )


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("value_mean", T.DoubleType()),
        T.StructField("value_max", T.DoubleType()),
        T.StructField("value_count", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sum", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _make_running_features(idle_timeout: bool):
    def _running_features(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ):
        ready()
        return _running_features_impl(key, batches, state, idle_timeout)

    return _running_features


def _running_features_impl(
    key, batches: Iterator[pd.DataFrame], state: GroupState, idle_timeout: bool
):
    """Expanding mean/max/count carried across micro-batches in
    GroupState — numpy over the group's arrays (no per-row Python, no
    per-group pandas Series arithmetic): a stable argsort on turn_idx,
    ``cumsum`` for count and sum, ``np.fmax.accumulate`` for the max,
    each offset by the prior state (sum, count, max), then one output
    frame. A NULL value gets a NULL mean only while nothing has been
    counted yet, and always a NULL max (batch StepHistorical MAX).

    A large group arrives as MULTIPLE Arrow chunks whose relative row
    order is arbitrary — concat and sort ONCE before accumulating, or
    a later chunk's earlier turns would fold into the running stats
    after later ones.

    With an idle timeout configured, a conversation whose state times
    out is evicted (bounded state at billions of conversations); its
    accumulators restart from zero if it ever reappears — the
    documented trade for unbounded-keyspace streams."""
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        s0, c0, m0 = state.get
    else:
        s0, c0, m0 = 0.0, 0, None
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        order = np.argsort(pdf["turn_idx"].to_numpy(), kind="stable")
        v = pdf["value"].to_numpy(dtype=np.float64)[order]
        notna = ~np.isnan(v)
        cnt = c0 + np.cumsum(notna)
        csum = s0 + np.cumsum(np.where(notna, v, 0.0))
        mean = np.full(len(v), np.nan)
        np.divide(csum, cnt, out=mean, where=cnt > 0)
        mx = np.fmax.accumulate(v)
        if m0 is not None:
            mx = np.fmax(mx, m0)
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy()[order],
                "turn_idx": pdf["turn_idx"].to_numpy()[order],
                "value": v,
                "value_mean": mean,
                "value_max": np.where(notna, mx, np.nan),
                "value_count": cnt,
            }
        )
        s0, c0 = float(csum[-1]), int(cnt[-1])
        if not np.isnan(mx[-1]):
            m0 = float(mx[-1])
    state.update((s0, c0, m0))
    if idle_timeout:
        # only when armed: a swallowed failure here would silently
        # disable the promised eviction, and calling it in NoTimeout
        # mode is an error by contract
        state.setTimeoutDuration(_IDLE_TIMEOUT_MS)


_IDLE_TIMEOUT_MS = 6 * 3600 * 1000  # eviction after 6 h idle (when enabled)


def streaming_running_features(
    stream: DataFrame, idle_timeout: bool = False
) -> DataFrame:
    """Streaming expanding accumulators per conv_id (schema: conv_id,
    turn_idx, value).

    ``idle_timeout=True`` enables processing-time state eviction
    (_IDLE_TIMEOUT_MS): without it, one GroupState row lives per
    conversation FOREVER — unbounded at billions of conversations;
    with it, state is bounded by the live-conversation working set.

    Cost: one Python pass per state partition per micro-batch, two with
    ``idle_timeout=True``. The timed-out-state pass costs milliseconds;
    a data pass is dominated by the per-group Arrow ↔ pandas round trip
    (~1.5–2 ms per group; module docstring). The partition count is
    ``spark.sql.shuffle.partitions`` when the checkpoint is first
    started and stays frozen there: a checkpoint created with 8 keeps 8.
    Under ``Trigger.AvailableNow``, ``idle_timeout=True`` terminates only
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false``."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy("conv_id").applyInPandasWithState(
        _make_running_features(idle_timeout),
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
