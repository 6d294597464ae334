"""Point-in-time context assembly (operators/transcripts.py).

The oracle is a direct per-row Python transcription of the contract:
for turn t keep the most recent prior turns whose suffix token total
stays within the budget (and within max_turns), join oldest→newest.
"""

import pytest
from pyspark.sql import functions as F

from recipys_spark.operators.transcripts import (
    StepAssembleContext,
    assemble_context,
    conversation_text,
)
from recipys_spark.recipe import Recipe
from recipys_spark.selector import all_of
from recipys_spark.sources.io import synthetic_transcripts


def _ws_tokens(text: str) -> int:
    # the engine's token_count: split(trim(lower(x)), '\s+') — '' -> [''].
    # Mirror invariant (CLAUDE.md): Spark trim() strips SPACES only and
    # Java \s is ASCII, so the oracle must use .strip(' ') + the ASCII
    # class — the same mirror as streaming/context.py:_WS/_tok_count. A
    # bare .strip()/Unicode \s would agree on ASCII fixtures but diverge
    # on tabs/NBSP and silently mask a real mismatch.
    import re

    return len(re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower()))


def _reference(rows, budget, max_turns):
    """rows: list of (conv, turn, text) → {(conv, turn): (ctx, n_turns, n_tok)}"""
    from collections import defaultdict

    by_conv = defaultdict(list)
    for conv, turn, text in rows:
        by_conv[conv].append((turn, text))
    out = {}
    for conv, turns in by_conv.items():
        turns.sort()
        toks = [_ws_tokens(t) for _, t in turns]
        for i, (turn, _) in enumerate(turns):
            kept = []
            total = 0
            for j in range(i - 1, -1, -1):
                if max_turns is not None and (i - j) > max_turns:
                    break
                if total + toks[j] > budget:
                    break
                kept.append(j)
                total += toks[j]
            kept.reverse()
            out[(conv, turn)] = (
                "\n".join(turns[j][1] for j in kept),
                len(kept),
                sum(toks[j] for j in kept),
            )
    return out


@pytest.fixture(scope="module")
def tr_rows():
    # engineered: texts of 1..5 tokens, two conversations, shuffled input
    rows = []
    for conv in ("a", "b"):
        for turn in range(12):
            n = (turn * 7 + (3 if conv == "b" else 0)) % 5 + 1
            rows.append((conv, turn, " ".join(f"{conv}{turn}w{k}" for k in range(n))))
    return rows[::-1]  # reversed input order: result must not depend on it


def _check(spark, rows, budget, max_turns):
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"]).repartition(7)
    got = assemble_context(
        df, budget=budget, max_turns=max_turns
    ).collect()
    ref = _reference(rows, budget, max_turns)
    assert len(got) == len(rows)
    for r in got:
        ctx, n, tok = ref[(r["conv_id"], r["turn_idx"])]
        assert r["context"] == ctx, (r["conv_id"], r["turn_idx"])
        assert r["context_n_turns"] == n
        assert r["context_n_tokens"] == tok
        # leakage guard: context never contains this or any later turn's text
        for fut in range(r["turn_idx"], 12):
            assert f"{r['conv_id']}{fut}w0" not in r["context"]


def test_budget_retention(spark, tr_rows):
    _check(spark, tr_rows, budget=6, max_turns=64)


def test_zero_budget_and_large_budget(spark, tr_rows):
    _check(spark, tr_rows, budget=0, max_turns=64)
    _check(spark, tr_rows, budget=10_000, max_turns=None)


def test_max_turns_cap(spark, tr_rows):
    _check(spark, tr_rows, budget=10_000, max_turns=3)


def test_single_oversized_turn_excluded(spark):
    rows = [("c", 0, "one two three four five"), ("c", 1, "x"), ("c", 2, "y z")]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["turn_idx"]: r for r in assemble_context(df, budget=3).collect()}
    assert out[0]["context"] == "" and out[0]["context_n_turns"] == 0
    # turn 0 (5 tokens) never fits a 3-token budget; turn 1 (1 token) does
    assert out[1]["context"] == ""
    assert out[2]["context"] == "x" and out[2]["context_n_tokens"] == 1


def test_step_form_and_leakage(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    rec = Recipe(df, predictors=["text"], groups="conv_id", sequences="turn_idx")
    rec.add_step(StepAssembleContext(sel=all_of(["text"]), budget=6))
    out = rec.prep()
    assert {"context", "context_n_turns", "context_n_tokens"} <= set(out.columns)
    ref = _reference(tr_rows, 6, 64)
    for r in out.collect():
        assert r["context"] == ref[(r["conv_id"], r["turn_idx"])][0]
    # bake on UNSEEN conversations applies the same expressions (stateless)
    rows2 = [("z", 0, "alpha"), ("z", 1, "beta gamma"), ("z", 2, "delta")]
    df2 = spark.createDataFrame(rows2, ["conv_id", "turn_idx", "text"])
    baked = {r["turn_idx"]: r for r in rec.bake(df2).collect()}
    assert baked[2]["context"] == "alpha\nbeta gamma"
    # state round-trip keeps it runnable
    import json

    state = rec.steps[0].get_state()
    s2 = StepAssembleContext(sel=all_of(["text"]), budget=1)
    s2.set_state(json.loads(json.dumps(state)))
    assert s2.budget == 6 and s2.trained


def test_step_role_requirements(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    rec = Recipe(df, predictors=["text"])  # no groups/sequences
    rec.add_step(StepAssembleContext(sel=all_of(["text"]), budget=6))
    with pytest.raises(ValueError, match="group role"):
        rec.prep().count()


def test_partitioning_invariance(spark, tr_rows):
    df1 = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    a = sorted(
        (r["conv_id"], r["turn_idx"], r["context"])
        for r in assemble_context(df1.repartition(1), budget=6).collect()
    )
    b = sorted(
        (r["conv_id"], r["turn_idx"], r["context"])
        for r in assemble_context(df1.repartition(13), budget=6).collect()
    )
    assert a == b


def test_one_window_exchange(spark, tr_rows):
    """Both windows (running sum + bounded collect) must fuse behind a
    single Exchange on conv_id — the one-shuffle scale contract."""
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    plan = (
        assemble_context(df, budget=6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning(conv_id") == 1, plan


def test_skew_bounded_frame(spark):
    """A 100×-median conversation must not blow up the window buffer:
    the bounded frame holds <= max_turns structs per row regardless of
    conversation length, and results stay correct at the cap edge."""
    tr = synthetic_transcripts(spark, n_convs=40, skew=True, skew_factor=100)
    out = assemble_context(
        tr, budget=10_000, order_cols=("turn_idx",), max_turns=8
    )
    agg = out.agg(
        F.max("context_n_turns").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert agg["mx"] <= 8
    assert agg["n"] == tr.count()


def test_conversation_text_rollup(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    out = {r["conv_id"]: r for r in conversation_text(df).collect()}
    ref = _reference(tr_rows, 10**9, None)
    # full-conv text == context of a virtual turn after the last + last text
    for conv in ("a", "b"):
        full_ctx, n, _ = ref[(conv, 11)]
        last_text = [t for c, i, t in tr_rows if c == conv and i == 11][0]
        assert out[conv]["text"] == full_ctx + "\n" + last_text
        assert out[conv]["n_turns"] == 12


def test_null_text_contract(spark):
    """Review fix: a NULL turn counts 0 tokens and contributes '' (with
    its separator slot) — it must not NULL-poison the retention
    predicate and empty every context its window touches."""
    rows = [
        ("n", 0, "alpha beta"),
        ("n", 1, None),
        ("n", 2, "gamma"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["turn_idx"]: r for r in assemble_context(df, budget=100).collect()}
    assert out[1]["context"] == "alpha beta" and out[1]["context_n_turns"] == 1
    # the NULL turn keeps its slot ('' between the separators), costs 0
    assert out[2]["context"] == "alpha beta\n"
    assert out[2]["context_n_turns"] == 2
    assert out[2]["context_n_tokens"] == 2
    conv = conversation_text(df).collect()[0]
    assert conv["text"] == "alpha beta\n\ngamma" and conv["n_turns"] == 3


# -- property-based: random transcripts vs the per-row reference ------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _transcripts(draw):
    n_convs = draw(st.integers(min_value=1, max_value=3))
    rows = []
    for c in range(n_convs):
        n_turns = draw(st.integers(min_value=1, max_value=10))
        for t in range(n_turns):
            n_words = draw(st.integers(min_value=0, max_value=5))
            # 0 words -> '' (tokenizes to 1, the split quirk both
            # engines share); occasional NULL text
            text = (
                None
                if draw(st.booleans()) and draw(st.booleans())
                else " ".join(f"c{c}t{t}w{k}" for k in range(n_words))
            )
            rows.append((f"c{c}", t, text))
    budget = draw(st.integers(min_value=0, max_value=12))
    max_turns = draw(st.one_of(st.none(), st.integers(min_value=1, max_value=4)))
    return rows, budget, max_turns


def _reference_nulls(rows, budget, max_turns):
    """The _reference oracle extended with the NULL contract: NULL
    counts 0 tokens and joins as ''."""
    from collections import defaultdict

    by_conv = defaultdict(list)
    for conv, turn, text in rows:
        by_conv[conv].append((turn, text))
    out = {}
    for conv, turns in by_conv.items():
        turns.sort()
        toks = [0 if t is None else _ws_tokens(t) for _, t in turns]
        for i, (turn, _) in enumerate(turns):
            kept = []
            total = 0
            for j in range(i - 1, -1, -1):
                if max_turns is not None and (i - j) > max_turns:
                    break
                if total + toks[j] > budget:
                    break
                kept.append(j)
                total += toks[j]
            kept.reverse()
            out[(conv, turn)] = (
                "\n".join(
                    "" if turns[j][1] is None else turns[j][1] for j in kept
                ),
                len(kept),
                total,
            )
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_transcripts())
def test_property_random_transcripts(spark, case):
    rows, budget, max_turns = case
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    df = spark.createDataFrame(pdf)
    ref = _reference_nulls(rows, budget, max_turns)
    outs = [assemble_context(df, budget=budget, max_turns=max_turns).collect()]
    if max_turns is not None:
        # salted plan must agree everywhere the property sweep goes —
        # NULL texts at bucket boundaries, budget 0, single-row convs
        outs.append(
            assemble_context(
                df,
                budget=budget,
                max_turns=max_turns,
                skew_bucket_size=3,
                rows_per_bucket=max(max_turns, 2),
            ).collect()
        )
    for got in outs:
        assert len(got) == len(rows)
        for r in got:
            ctx, n, tok = ref[(r["conv_id"], r["turn_idx"])]
            assert (
                r["context"],
                r["context_n_turns"],
                r["context_n_tokens"],
            ) == (ctx, n, tok), (r["conv_id"], r["turn_idx"], budget, max_turns)


# -- salted two-phase plan (skew escape hatch) ------------------------------


def test_salted_equals_plain_on_skewed_transcripts(spark):
    """The bucketed plan (row-exact buckets + max_turns carry rows)
    must be BIT-identical to the plain single-window plan — including
    across bucket boundaries, where the carry rows supply the prior
    frame and the local cum offsets cancel."""
    tr = synthetic_transcripts(spark, n_convs=30, skew=True, skew_factor=40)
    key = lambda r: (r["conv_id"], r["turn_idx"])
    plain = sorted(
        (
            (key(r), r["context"], r["context_n_turns"], r["context_n_tokens"])
            for r in assemble_context(tr, budget=25, max_turns=6).collect()
        )
    )
    for rows_per_bucket in (16, 64):
        salted = sorted(
            (
                (key(r), r["context"], r["context_n_turns"], r["context_n_tokens"])
                for r in assemble_context(
                    tr,
                    budget=25,
                    max_turns=6,
                    skew_bucket_size=50,
                    rows_per_bucket=rows_per_bucket,
                ).collect()
            )
        )
        assert salted == plain, rows_per_bucket


def test_salted_guards(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    with pytest.raises(ValueError, match="finite max_turns"):
        assemble_context(df, budget=5, max_turns=None, skew_bucket_size=10)
    with pytest.raises(ValueError, match="rows_per_bucket"):
        assemble_context(
            df, budget=5, max_turns=8, skew_bucket_size=10, rows_per_bucket=4
        )


def test_step_salted_and_auto_skew_fallback(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])
    # explicit bucket through the step
    rec = Recipe(df, predictors=["text"], groups="conv_id", sequences="turn_idx")
    rec.add_step(
        StepAssembleContext(sel=all_of(["text"]), budget=6, skew_bucket_size=4)
    )
    salted = sorted(
        (r["conv_id"], r["turn_idx"], r["context"]) for r in rec.prep().collect()
    )
    ref = _reference(tr_rows, 6, 64)
    for conv, turn, ctx in salted:
        assert ctx == ref[(conv, turn)][0]
    # unbounded max_turns has no salted plan: a hand-set bucket fails
    # at plan build with a named error (ROADMAP aim 3) instead of
    # silently running the plain plan
    rec2 = Recipe(df, predictors=["text"], groups="conv_id", sequences="turn_idx")
    step = StepAssembleContext(
        sel=all_of(["text"]), budget=6, max_turns=None, skew_bucket_size=4
    )
    rec2.add_step(step)
    with pytest.raises(ValueError, match="no salted plan"):
        rec2.prep()


def test_salted_keeps_null_conv_rows(spark):
    """Review fix: the salted plan's row-number join must be NULL-safe
    — a NULL conv_id row used to vanish from the salted output while
    the plain window kept it (row_preserving violation)."""
    rows = [
        ("a", 0, "one two"),
        ("a", 1, "three"),
        (None, 0, "lonely words"),
        (None, 1, "more text"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    key = lambda r: (r["conv_id"], r["turn_idx"])
    plain = sorted(
        (
            (key(r), r["context"])
            for r in assemble_context(df, budget=10, max_turns=4).collect()
        ),
        key=str,
    )
    salted = sorted(
        (
            (key(r), r["context"])
            for r in assemble_context(
                df, budget=10, max_turns=4, skew_bucket_size=2, rows_per_bucket=4
            ).collect()
        ),
        key=str,
    )
    assert len(salted) == len(rows)
    assert salted == plain
    got = dict(salted)
    assert got[(None, 1)] == "lonely words"


def test_out_col_collision_raises(spark, tr_rows):
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"]).withColumn(
        "context", F.lit("x")
    )
    with pytest.raises(ValueError, match="already exist"):
        assemble_context(df, budget=5)


def test_salted_rejects_string_order_column(spark):
    rows = [("a", "t0", "one"), ("a", "t1", "two")]
    df = spark.createDataFrame(rows, ["conv_id", "ord", "text"])
    with pytest.raises(ValueError, match="numeric"):
        assemble_context(
            df, budget=5, order_cols=("ord",), skew_bucket_size=2
        )
    # the plain plan sorts any orderable type
    out = assemble_context(df, budget=5, order_cols=("ord",))
    assert out.count() == 2


def _advised(spark, rec, monkeypatch):
    """The recipe after recommend_pipeline_config(apply=True) with every
    crossover forced down to one row."""
    from recipys_spark.functions import skew
    from recipys_spark.plans.advisor import recommend_pipeline_config

    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    monkeypatch.setattr(skew, "AUTO_SKEW_ROLLING_SALT_ABOVE", 1)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        recommend_pipeline_config(rec.data.df, rec, apply=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return rec


def test_step_fallback_when_max_turns_exceeds_bucket(spark, tr_rows, monkeypatch):
    """Review fix: with max_turns > rows_per_bucket the step has no
    salted plan — the advisor leaves it on the plain plan even past the
    crossover, and a hand-set bucket fails at plan build by name."""
    df = spark.createDataFrame(tr_rows, ["conv_id", "turn_idx", "text"])

    def build(**kw):
        return Recipe(
            df, predictors=["text"], groups="conv_id", sequences="turn_idx"
        ).add_step(
            StepAssembleContext(
                sel=all_of(["text"]), budget=6, max_turns=200_000,
                rows_per_bucket=100, **kw,
            )
        )

    with pytest.raises(ValueError, match="no salted plan"):
        build(skew_bucket_size=4).prep()
    rec = _advised(spark, build(), monkeypatch)
    assert rec.steps[0].skew_bucket_size is None
    out = rec.prep()
    ref = _reference(tr_rows, 6, 200_000)
    for r in out.collect():
        assert r["context"] == ref[(r["conv_id"], r["turn_idx"])][0]


def test_step_fallback_on_string_order_column(spark, monkeypatch):
    """ADVICE r5 fix: a recipe whose sequence role is a STRING column
    has no salted context plan (no numeric bucket form): the advisor
    leaves it on the plain plan even past the crossover, and a
    hand-set bucket fails at plan build by name, not mid-transform."""
    rows = [("a", "t0", "one two"), ("a", "t1", "three"), ("b", "t0", "four")]
    df = spark.createDataFrame(rows, ["conv_id", "ord", "text"])

    def build(**kw):
        return Recipe(
            df, predictors=["text"], groups="conv_id", sequences="ord"
        ).add_step(StepAssembleContext(sel=all_of(["text"]), budget=6, **kw))

    with pytest.raises(ValueError, match="no salted plan"):
        build(skew_bucket_size=4).prep()
    rec = _advised(spark, build(), monkeypatch)
    assert rec.steps[0].skew_bucket_size is None
    got = {(r["conv_id"], r["ord"]): r["context"] for r in rec.prep().collect()}
    assert got[("a", "t1")] == "one two"
    assert got[("a", "t0")] == "" and got[("b", "t0")] == ""


def test_step_state_roundtrip_keeps_skew_config(spark, tr_rows):
    """Review fix: save/load must persist the skew configuration — a
    reloaded recipe silently ran the plain plan on the data the bucket
    was chosen for."""
    import json

    s = StepAssembleContext(
        sel=all_of(["text"]), budget=6, skew_bucket_size=500, rows_per_bucket=64
    )
    s.columns = ["text"]
    state = json.loads(json.dumps(s.get_state()))
    s2 = StepAssembleContext(sel=all_of(["text"]), budget=1)
    s2.set_state(state)
    assert s2.skew_bucket_size == 500 and s2.rows_per_bucket == 64
    # older manifests without the fields still load
    legacy = {k: v for k, v in state.items() if "bucket" not in k}
    s3 = StepAssembleContext(sel=all_of(["text"]), budget=1)
    s3.set_state(legacy)
    assert s3.skew_bucket_size is None and s3.rows_per_bucket == 100_000
