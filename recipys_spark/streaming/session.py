"""Structured-Streaming variants of the engine's time-series operators.

The reference is batch-only (SURVEY.md §2.3 "streaming: absent"); batch
sessionization lives in operators/timeseries.py. These streaming
counterparts cover the live-ingest path of a transcript pipeline:

- ``streaming_session_stats``: per (conv_id, session) aggregates with
  ``F.session_window`` (gap-based), watermarked for late data — state
  is bounded and the session split matches the batch ts-gap rule for
  in-order data.
- ``streaming_running_features``: per-conversation running aggregates
  via ``applyInPandasWithState`` — the streaming analog of the
  expanding-window StepHistorical MEAN/MAX/COUNT (sum, count and max
  carried in state, Arrow-batched).

Cost model of ``streaming_running_features``. The stateful operator is
keyed on a state bucket, ``pmod(xxhash64(conv_id), _STATE_BUCKETS)``,
not on the conversation: each state partition runs one Python pass per
micro-batch, and inside it one call per bucket the batch touches, which
receives every conversation of that bucket in the batch. The
per-group Arrow → pandas → Arrow round trip of ``applyInPandasWithState``
(~1 ms of fixed cost per call on a 4-core host, Python 3.11) is thus
paid at most ``_STATE_BUCKETS`` times per batch instead of once per
conversation; the body is one sort plus segmented numpy accumulators.
The shipped function calls ``functions.worker.ready()`` first, so a pass
does not re-read pyspark's zip directory once its worker has run one task.

Bucket-state trade-off. The state holds only aggregates, never rows: one
row per bucket with columnar arrays (conv ids, sum, count, max,
last-seen processing time), one entry per live conversation of the
bucket. A touched bucket rewrites its whole row, so a batch costs
O(live conversations / ``_STATE_BUCKETS``) per touched bucket on top of
its rows; an untouched bucket costs nothing. Measured on the same host,
one entry costs ~3 µs per rewrite, so up to ~300 live conversations per
bucket (~20k live at 64 buckets) a bucket's rewrite stays under one
call's fixed cost. 64 buckets also cap the operator's parallelism at 64
tasks with data per batch.

Eviction on touch. With ``idle_timeout=True`` a call first drops its
bucket's conversations whose last batch is more than ``_IDLE_TIMEOUT_MS``
of processing time old, then folds in the batch. The operator runs with
``GroupStateTimeout.NoTimeout``: there is no timer pass and no no-data
batch, so ``Trigger.AvailableNow`` ends under default confs. A
conversation idle past the timeout stays in state until its bucket is
next touched: state holds the last timeout window's conversations plus
the idle ones of buckets no batch has touched since.

Partitions and buckets. The partition count is
``spark.sql.shuffle.partitions`` at the checkpoint's FIRST start and is
frozen there (stateful operators skip AQE); ``get_spark`` sizes it to
one partition per core. The bucket count is a module constant, never
read from session conf, so a conversation's bucket is the same on every
restart of a checkpoint. Checkpoints written while the operator was
keyed per conversation (one ``(sum, cnt, mx)`` state row per conv_id)
are incompatible with this state schema: start those queries from a
fresh checkpoint.
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

#: One state row per bucket, in parallel arrays with one entry per live
#: conversation of the bucket: running sum, count and max (NaN until a
#: value is counted) and the processing time of its last batch.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.ArrayType(T.StringType())),
        T.StructField("sum", T.ArrayType(T.DoubleType())),
        T.StructField("cnt", T.ArrayType(T.LongType())),
        T.StructField("mx", T.ArrayType(T.DoubleType())),
        T.StructField("seen_ms", T.ArrayType(T.LongType())),
    ]
)

#: State buckets. A constant, never read from session conf, so a
#: conversation's bucket ``pmod(xxhash64(conv_id), _STATE_BUCKETS)``
#: cannot move between restarts of one checkpoint.
_STATE_BUCKETS = 64

_IDLE_TIMEOUT_MS = 6 * 3600 * 1000  # eviction after 6 h idle (when enabled)

#: Turns per conversation accumulated position by position across all of
#: a bucket's conversations; a longer conversation's remaining turns take
#: one ``cumsum`` each. Bounds a batch's numpy steps at
#: ``_STEP_TURNS + rows / _STEP_TURNS`` whatever the longest conversation.
_STEP_TURNS = 32


def _make_running_features(idle_timeout: bool):
    def _running_features(
        key, batches: Iterator[pd.DataFrame], state: GroupState
    ):
        ready()
        return _running_features_bucket(batches, state, idle_timeout)

    return _running_features


def _running_features_bucket(
    batches: Iterator[pd.DataFrame], state: GroupState, idle_timeout: bool
):
    """Expanding mean/max/count of every conversation of one state bucket
    in this micro-batch, carried across batches in the bucket's state.

    One ``lexsort`` on (conversation, turn_idx) over the bucket's rows,
    then a segmented running sum, count and ``fmax`` (every conversation
    one turn per numpy step, the tail of a long one in one accumulate),
    each conversation starting at zero and offset by its prior (sum,
    count, max) afterwards, exactly as a per-conversation
    ``cumsum``/``fmax.accumulate`` would: the output is bit-identical to
    computing each conversation alone. A NULL value gets a NULL mean only
    while nothing has been counted yet, and always a NULL max (batch
    StepHistorical MAX). A NULL ``conv_id`` is one conversation, like a
    NULL group key in batch.

    A bucket arrives as MULTIPLE Arrow chunks whose relative row order is
    arbitrary: concat and sort ONCE before accumulating.

    With ``idle_timeout``, a conversation whose last batch is more than
    ``_IDLE_TIMEOUT_MS`` of processing time before this one leaves the
    state before this batch's rows are folded in, so its accumulators
    restart from zero if it reappears."""
    now = state.getCurrentProcessingTimeMs()
    prior = state.get if state.exists else ([],) * 5
    ids, s0, c0, m0, seen = (
        np.array(field, dtype=dtype)
        for field, dtype in zip(prior, (object, float, np.int64, float, np.int64))
    )
    if idle_timeout:
        live = now - seen <= _IDLE_TIMEOUT_MS
        ids, s0, c0, m0, seen = (a[live] for a in (ids, s0, c0, m0, seen))
    chunks = [pdf for pdf in batches if len(pdf)]
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    conv = pdf["conv_id"].to_numpy(dtype=object)
    # one code per conversation over the prior state and the batch; a
    # NULL conv_id gets the extra last code (factorize maps it to -1)
    codes, uniq = pd.factorize(np.concatenate([ids, conv]))
    null = codes < 0
    codes[null] = len(uniq)
    n_keys = len(uniq) + int(null.any())
    keys = np.empty(n_keys, dtype=object)
    keys[: len(uniq)] = uniq
    sums = np.zeros(n_keys)
    cnts = np.zeros(n_keys, dtype=np.int64)
    mxs = np.full(n_keys, np.nan)
    seens = np.empty(n_keys, dtype=np.int64)
    had = codes[: len(ids)]
    sums[had], cnts[had], mxs[had], seens[had] = s0, c0, m0, seen

    code = codes[len(ids):]
    turn = pdf["turn_idx"].to_numpy()
    order = np.lexsort((turn, code))
    code = code[order]
    v = pdf["value"].to_numpy(dtype=np.float64)[order]
    notna = ~np.isnan(v)
    first = np.flatnonzero(np.r_[True, code[1:] != code[:-1]])
    end = np.r_[first[1:], len(v)]
    length = end - first
    csum = np.where(notna, v, 0.0)
    cnt = notna.astype(np.int64)
    mx = v.copy()
    # the first _STEP_TURNS positions one numpy step per position over
    # all conversations (position k from k-1) ...
    for k in range(1, min(int(length.max()), _STEP_TURNS)):
        at = first[length > k] + k
        csum[at] = csum[at - 1] + csum[at]
        cnt[at] = cnt[at - 1] + cnt[at]
        mx[at] = np.fmax(mx[at - 1], mx[at])
    # ... then the rest of each longer conversation in one accumulate,
    # seeded with its running value at the last stepped position
    long = length > _STEP_TURNS
    for a, b in zip(first[long] + _STEP_TURNS - 1, end[long]):
        csum[a:b] = np.cumsum(csum[a:b])
        cnt[a:b] = np.cumsum(cnt[a:b])
        mx[a:b] = np.fmax.accumulate(mx[a:b])
    csum = sums[code] + csum
    cnt = cnts[code] + cnt
    mx = np.fmax(mx, mxs[code])
    mean = np.full(len(v), np.nan)
    np.divide(csum, cnt, out=mean, where=cnt > 0)
    yield pd.DataFrame(
        {
            "conv_id": conv[order],
            "turn_idx": turn[order],
            "value": v,
            "value_mean": mean,
            "value_max": np.where(notna, mx, np.nan),
            "value_count": cnt,
        }
    )
    last = end - 1
    touched = code[first]
    sums[touched], cnts[touched], mxs[touched] = csum[last], cnt[last], mx[last]
    seens[touched] = now
    state.update(
        (keys.tolist(), sums.tolist(), cnts.tolist(), mxs.tolist(), seens.tolist())
    )


def streaming_running_features(
    stream: DataFrame, idle_timeout: bool = False
) -> DataFrame:
    """Streaming expanding accumulators per conv_id (schema: conv_id,
    turn_idx, value): the batch StepHistorical MEAN/MAX/COUNT, carried
    across micro-batches.

    State is one row per bucket ``pmod(xxhash64(conv_id), 64)`` holding
    every live conversation's (sum, count, max) and last-seen processing
    time; one Python call per touched bucket per batch computes all of
    its conversations' features (module docstring: cost model and the
    bucket-state trade-off).

    ``idle_timeout=True`` bounds state by the live-conversation working
    set: when a bucket is next called, its conversations idle longer than
    ``_IDLE_TIMEOUT_MS`` of processing time are dropped before the batch
    is folded in, so such a conversation restarts from zero if it
    reappears. Without it, an entry lives per conversation FOREVER —
    unbounded at billions of conversations. Either way the operator has
    no timeout timer, and ``Trigger.AvailableNow`` ends under default
    confs.

    The state partition count is ``spark.sql.shuffle.partitions`` when
    the checkpoint is first started and stays frozen there; the bucket
    count never changes. Checkpoints written by the per-conversation
    state layout (before state buckets) cannot be resumed: the state
    schema changed."""
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(_STATE_BUCKETS))
    keyed = stream.select("conv_id", "turn_idx", "value", bucket.alias("bucket"))
    return keyed.groupBy("bucket").applyInPandasWithState(
        _make_running_features(idle_timeout),
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
