"""Streaming point-in-time context assembly.

The live-ingest analog of ``operators/transcripts.assemble_context``:
as turns of a conversation arrive, emit each turn with the
concatenation of the prior turns that fit the token budget — the same
most-recent-suffix retention rule, the same zero-leakage guarantee
(a turn's context is built strictly from turns already seen).

State design (``applyInPandasWithState``, GroupState per conv_id):
the retained tail of the last ``max_turns`` turns as three parallel
arrays (turn_idx, token count, text). ``max_turns`` is MANDATORY here
— it is what bounds the state row for a conversation that never ends
(the batch operator's ``max_turns=None`` escape hatch has no streaming
equivalent by design). Per-conversation state is O(max_turns × turn
bytes), independent of conversation length or stream duration; with
``idle_timeout=True`` a conversation idle for 6 h is evicted entirely
(the bounded-keyspace trade documented in streaming/session.py).

Ordering contract: turns are processed in ``turn_idx`` order WITHIN
each micro-batch (sorted here) and batches are assumed to arrive in
turn order across micro-batches — the same in-order assumption
streaming_running_features documents. Out-of-order delivery needs an
upstream reorder buffer (watermark + window), not this operator.

Token semantics mirror the batch operator exactly: whitespace tokens
(split of trim/lower — '' counts 1), NULL text counts 0 tokens and
contributes '' with its separator slot. A pytest pins stream ≡ batch
equality row-for-row.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from recipys_spark.functions.worker import ready

_IDLE_TIMEOUT_MS = 6 * 3600 * 1000

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("context", T.StringType()),
        T.StructField("context_n_turns", T.LongType()),
        T.StructField("context_n_tokens", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("toks", T.ArrayType(T.LongType())),
        T.StructField("texts", T.ArrayType(T.StringType())),
    ]
)

# the engine's whitespace tokenizer (functions/text.tokens) in Python:
# Java \s is ASCII — mirror it exactly, NOT Python's Unicode \s, and
# mirror Spark's trim() too, which strips SPACES ONLY (str.strip()
# would also eat \t\n\r and change the token count of 'hello\n':
# batch 2, unicode-strip 1) (CLAUDE.md invariant; NBSP must not split)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _tok_count(text) -> int:
    if text is None:
        return 0  # the NULL-text contract of assemble_context
    return len(_WS.split(text.lower().strip(" ")))


def _make_assembler(budget: int, max_turns: int, sep: str, idle_timeout: bool):
    def assemble(key, batches: Iterator[pd.DataFrame], state: GroupState):
        ready()
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            toks, texts = (list(v) for v in state.get)
        else:
            toks, texts = [], []
        (conv_id,) = key
        # a large group arrives as MULTIPLE Arrow chunks whose relative
        # row order is arbitrary — concat and sort ONCE, or chunk 2's
        # lower turn_idx values would be assembled after chunk 1's
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("turn_idx")
            out_rows = []
            for turn_idx, text in zip(pdf["turn_idx"], pdf["text"]):
                # most-recent suffix of the retained tail under budget
                total = 0
                start = len(toks)
                while start > 0:
                    t = toks[start - 1]
                    if total + t > budget:
                        break
                    total += t
                    start -= 1
                kept = texts[start:]
                out_rows.append(
                    (
                        conv_id,
                        int(turn_idx),
                        text,
                        sep.join("" if x is None else x for x in kept),
                        len(kept),
                        total,
                    )
                )
                toks.append(_tok_count(text))
                texts.append(text)
                if len(toks) > max_turns:  # bound the state tail
                    del toks[0], texts[0]
            yield pd.DataFrame(
                out_rows,
                columns=[f.name for f in _OUT_SCHEMA.fields],
            )
        state.update((toks, texts))
        if idle_timeout:
            state.setTimeoutDuration(_IDLE_TIMEOUT_MS)

    return assemble


def streaming_assemble_context(
    stream: DataFrame,
    budget: int,
    max_turns: int = 64,
    sep: str = "\n",
    conv_col: str = "conv_id",
    idle_timeout: bool = False,
) -> DataFrame:
    """Per-turn context assembly over a streaming frame with schema
    (conv_col, turn_idx, text). Returns an append-mode streaming frame
    (conv_id, turn_idx, text, context, context_n_turns,
    context_n_tokens) — batch-equal to
    ``assemble_context(batch, budget, max_turns=max_turns)`` for
    in-order delivery."""
    if max_turns is None or max_turns < 1:
        raise ValueError(
            "streaming context assembly requires a finite max_turns >= 1 "
            "— it is what bounds per-conversation state on an unbounded "
            "stream"
        )
    if budget < 0:
        raise ValueError("budget must be >= 0")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    sel = stream.select(
        stream[conv_col].cast("string").alias("conv_id"),
        stream["turn_idx"].cast("long").alias("turn_idx"),
        stream["text"],
    )
    return sel.groupBy("conv_id").applyInPandasWithState(
        _make_assembler(int(budget), int(max_turns), sep, idle_timeout),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
