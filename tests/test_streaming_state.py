"""The bucketed body of ``streaming_running_features`` against the
per-conversation body it replaced, and its idle eviction, on a fake
``GroupState`` (no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from recipys_spark.streaming.session import (
    _IDLE_TIMEOUT_MS,
    _STEP_TURNS,
    _running_features_bucket,
)


class FakeState:
    """The slice of ``GroupState`` both bodies use. ``update`` insists on
    plain Python values, as the real state's pickle to the JVM does."""

    def __init__(self, value=None, now_ms=0):
        self.value = None if value is None else tuple(value)
        self.now_ms = now_ms

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        for field in value:
            items = field if isinstance(field, list) else [field]
            assert all(type(x) in (str, float, int, type(None)) for x in items)
        self.value = tuple(value)

    def getCurrentProcessingTimeMs(self):
        return self.now_ms


def _per_conversation_impl(batches, state):
    """Mirror of the per-conversation body (one call and one
    ``(sum, cnt, mx)`` state row per conv_id) that the bucketed body
    must reproduce bit for bit; its timeout plumbing is left out."""
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


def _chunks(pdf, rng):
    """``pdf`` cut at random row positions, as Arrow chunks arrive."""
    cuts = np.unique(rng.integers(0, len(pdf) + 1, size=rng.integers(0, 4)))
    bounds = [0, *cuts, len(pdf)]
    return [
        pdf.iloc[a:b].reset_index(drop=True)
        for a, b in zip(bounds, bounds[1:]) if b > a
    ]


def _random_bucket(rng):
    """Several conversations (maybe a NULL one), prior states for some,
    turns shuffled across the bucket with NaN runs, an occasional
    duplicate turn and an occasional long conversation; some conversations have state but no rows (the first
    always has rows: Spark calls a bucket only with data)."""
    n_conv = int(rng.integers(1, 8))
    ids = [f"c{i}" for i in rng.choice(50, n_conv, replace=False)]
    if rng.random() < 0.3:
        ids[0] = None
    prior, rows = {}, []
    for cid in ids:
        if rng.random() < 0.5:
            cnt = int(rng.integers(0, 20))
            prior[cid] = (
                (float(rng.normal(scale=1e4)), cnt, float(rng.normal(scale=1e3)))
                if cnt else (0.0, 0, None)
            )
        longest = 3 * _STEP_TURNS if rng.random() < 0.1 else 12
        n = int(rng.integers(0 if cid in prior and cid != ids[0] else 1, longest))
        turns = rng.permutation(n) + 100
        if n > 2 and rng.random() < 0.2:
            turns[0] = turns[1]
        v = rng.normal(size=n) * 10.0 ** rng.uniform(-3, 6, size=n)
        v[rng.random(n) < rng.choice([0.0, 0.3, 1.0])] = np.nan
        if n > 3:
            v[1:3] = np.nan  # a NaN run inside the conversation
        rows += [(cid, int(t), float(x)) for t, x in zip(turns, v)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "value"])
    pdf = pdf.sample(frac=1.0, random_state=rng.integers(1 << 31))
    pdf = pdf.reset_index(drop=True).astype({"turn_idx": "int32"})
    return ids, prior, pdf


def _bucket_state(prior, now_ms):
    ids = list(prior)
    return FakeState(
        (
            ids,
            [prior[c][0] for c in ids],
            [prior[c][1] for c in ids],
            [np.nan if prior[c][2] is None else prior[c][2] for c in ids],
            [now_ms - 1000] * len(ids),
        ),
        now_ms=now_ms,
    )


def _carried(state):
    ids, sums, cnts, mxs, _ = state.get
    return {c: (s, n, m) for c, s, n, m in zip(ids, sums, cnts, mxs)}


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.int64)


def _of(out, cid):
    mask = out.conv_id.isna() if cid is None else out.conv_id == cid
    return out[mask.to_numpy()].reset_index(drop=True)


@pytest.mark.parametrize("idle_timeout", [False, True])
def test_bucket_body_is_bit_identical_to_per_conversation_body(idle_timeout):
    rng = np.random.default_rng(20261017)
    now = 10 * _IDLE_TIMEOUT_MS
    for _ in range(1000):
        ids, prior, pdf = _random_bucket(rng)
        state = _bucket_state(prior, now)
        chunks = iter(_chunks(pdf, rng))
        out = pd.concat(
            list(_running_features_bucket(chunks, state, idle_timeout)),
            ignore_index=True,
        )
        assert len(out) == len(pdf)
        carried = _carried(state)
        assert set(carried) == set(ids)
        for cid in ids:
            mine = _of(pdf, cid)
            ref_state = FakeState(prior.get(cid))
            if len(mine):
                ref = pd.concat(
                    list(_per_conversation_impl(iter(_chunks(mine, rng)), ref_state)),
                    ignore_index=True,
                )
                got = _of(out, cid)
                assert list(got.conv_id) == list(ref.conv_id)
                np.testing.assert_array_equal(got.turn_idx, ref.turn_idx)
                np.testing.assert_array_equal(got.value_count, ref.value_count)
                for col in ("value", "value_mean", "value_max"):
                    np.testing.assert_array_equal(
                        _bits(got[col]), _bits(ref[col]), col
                    )
            # a conversation with state but no rows carries it unchanged
            s, c, m = carried[cid]
            s_ref, c_ref, m_ref = ref_state.get
            assert (_bits(s), c) == (_bits(s_ref), c_ref)
            assert _bits(m) == _bits(np.nan if m_ref is None else m_ref)


def _one_row(cid, turn=0, value=1.0):
    return [pd.DataFrame(
        {"conv_id": [cid], "turn_idx": np.int32([turn]), "value": [value]}
    )]


@pytest.mark.parametrize("idle_timeout", [False, True])
def test_idle_conversation_leaves_state_on_next_call(idle_timeout):
    now = 10 * _IDLE_TIMEOUT_MS
    seen = {
        "idle": now - _IDLE_TIMEOUT_MS - 1,
        "edge": now - _IDLE_TIMEOUT_MS,
        "active": now - 1,
    }
    state = FakeState(
        (list(seen), [2.0] * 3, [1] * 3, [2.0] * 3, list(seen.values())), now_ms=now
    )
    list(_running_features_bucket(iter(_one_row("new")), state, idle_timeout))
    kept = {"edge", "active", "new"} | ({"idle"} if not idle_timeout else set())
    assert set(state.get[0]) == kept
    assert dict(zip(state.get[0], state.get[4]))["new"] == now


@pytest.mark.parametrize("idle_timeout", [False, True])
def test_evicted_conversation_restarts_from_zero(idle_timeout):
    now = 10 * _IDLE_TIMEOUT_MS
    state = FakeState(
        (["a"], [10.0], [2], [7.0], [now - _IDLE_TIMEOUT_MS - 1]), now_ms=now
    )
    out = next(_running_features_bucket(iter(_one_row("a", 5, 1.0)), state, idle_timeout))
    row = out.iloc[0]
    if idle_timeout:
        assert (row.value_mean, row.value_max, row.value_count) == (1.0, 1.0, 1)
    else:
        assert (row.value_mean, row.value_max, row.value_count) == (11.0 / 3, 7.0, 3)


def test_state_plateaus_with_idle_timeout():
    """Three new conversations per batch, a batch every quarter timeout:
    with eviction the bucket holds at most the last timeout window's
    conversations; without it, every conversation ever seen."""
    step = _IDLE_TIMEOUT_MS // 4
    sizes = {}
    for idle_timeout in (False, True):
        state, sizes[idle_timeout] = FakeState(), []
        for i in range(40):
            state.now_ms = (i + 1) * step
            batch = pd.DataFrame(
                {"conv_id": [f"b{i}c{j}" for j in range(3)],
                 "turn_idx": np.int32([0, 0, 0]), "value": [1.0, 2.0, 3.0]}
            )
            list(_running_features_bucket(iter([batch]), state, idle_timeout))
            sizes[idle_timeout].append(len(state.get[0]))
    assert sizes[False] == [3 * (i + 1) for i in range(40)]
    # batches within one timeout of the current one: this one and the 4 before
    assert max(sizes[True]) == 15 and sizes[True][-10:] == [15] * 10
