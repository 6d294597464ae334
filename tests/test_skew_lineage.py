"""Salted two-phase accumulators ≡ plain window, and checkpoint/resume."""

import glob
import json
import os

import numpy as np
import pytest

from recipys_spark import Accumulator, Recipe
from recipys_spark.operators import StepHistorical, StepImputeFill, StepScale
from recipys_spark.plans.lineage import CheckpointedPrep
from recipys_spark.selector import all_of
from recipys_spark.sources.io import synthetic_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthetic_transcripts(
        spark, n_convs=30, skew=True, skew_factor=20, with_features=True
    ).cache()


def _recipe(df, **kw):
    return Recipe(df, predictors=["value", "n_chars"], groups="conv_id", sequences="turn_idx", **kw)


@pytest.mark.parametrize(
    "fun",
    [Accumulator.MAX, Accumulator.MIN, Accumulator.MEAN, Accumulator.COUNT, Accumulator.VAR],
)
def test_salted_equals_plain(spark, transcripts, fun):
    plain = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=fun))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    salted = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=fun, skew_bucket_size=16))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    col = f"value_{fun.value}"
    np.testing.assert_allclose(
        salted[col].to_numpy(dtype=float),
        plain[col].to_numpy(dtype=float),
        equal_nan=True,
        rtol=1e-9,
    )


def test_salted_median_rejected(spark, transcripts):
    from recipys_spark.functions.skew import salted_expanding

    with pytest.raises(ValueError):
        salted_expanding(
            transcripts, ["value"], ["conv_id"], "turn_idx", Accumulator.MEDIAN, "median", 16
        )


def test_checkpointed_prep_writes_manifests(spark, transcripts, tmp_path):
    rec = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepScale(sel=all_of(["n_chars"])))
    )
    runner = CheckpointedPrep(rec, str(tmp_path))
    out = runner.run().orderBy("conv_id", "turn_idx").toPandas()

    manifests = sorted(glob.glob(str(tmp_path / "stage=*" / "manifest.json")))
    assert len(manifests) == 2
    m0 = json.load(open(manifests[0]))
    assert m0["rows"] == len(out)
    assert sum(m0["partitions"].values()) == m0["rows"]
    assert m0["step"] == "StepHistorical"
    m1 = json.load(open(manifests[1]))
    assert m1["state"]["state"]["n_chars"]["std"] > 0

    # matches the non-checkpointed run
    direct = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepScale(sel=all_of(["n_chars"])))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    np.testing.assert_allclose(
        out["value_mean"].to_numpy(), direct["value_mean"].to_numpy(), equal_nan=True
    )


def test_checkpointed_prep_resumes(spark, transcripts, tmp_path):
    def build():
        return (
            _recipe(transcripts)
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepScale(sel=all_of(["n_chars"])))
        )

    r1 = CheckpointedPrep(build(), str(tmp_path))
    a = r1.run().orderBy("conv_id", "turn_idx").toPandas()
    mtimes = {
        p: os.path.getmtime(p)
        for p in glob.glob(str(tmp_path / "stage=*" / "manifest.json"))
    }

    rec2 = build()
    r2 = CheckpointedPrep(rec2, str(tmp_path))
    b = r2.run().orderBy("conv_id", "turn_idx").toPandas()
    # resume must not rewrite any manifest
    for p, t in mtimes.items():
        assert os.path.getmtime(p) == t, f"stage recomputed: {p}"
    # fitted state restored on the resumed recipe
    assert rec2.steps[1].trained
    np.testing.assert_allclose(
        a["n_chars"].to_numpy(), b["n_chars"].to_numpy(), equal_nan=True
    )


def test_checkpoint_invalidation_on_step_change(spark, transcripts, tmp_path):
    rec = _recipe(transcripts).add_step(
        StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN)
    )
    CheckpointedPrep(rec, str(tmp_path)).run()
    m0 = json.load(open(tmp_path / "stage=000" / "manifest.json"))

    rec2 = _recipe(transcripts).add_step(
        StepHistorical(sel=all_of(["value"]), fun=Accumulator.MAX)
    )
    CheckpointedPrep(rec2, str(tmp_path)).run()
    m0b = json.load(open(tmp_path / "stage=000" / "manifest.json"))
    assert m0["signature"] != m0b["signature"]


def test_leakage_prefix_invariance(spark, transcripts):
    """North-rule zero-leakage check (FIXTURES.md oracle strategy):
    recompute features on a ts-truncated prefix of each conversation;
    surviving rows must be bit-identical — no frame touches ts' > ts."""
    rec = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
    )
    full = rec.prep().orderBy("conv_id", "turn_idx").toPandas()

    cut = transcripts.where("turn_idx < 5")
    rec2 = (
        _recipe(cut)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
    )
    prefix = rec2.prep().orderBy("conv_id", "turn_idx").toPandas()
    full_prefix = full[full.turn_idx < 5].reset_index(drop=True)
    for col in ["value", "value_mean"]:
        np.testing.assert_array_equal(
            prefix[col].to_numpy(), full_prefix[col].to_numpy(), err_msg=col
        )


def test_salted_ffill_equals_plain(spark, transcripts):
    plain = (
        _recipe(transcripts)
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    salted = (
        _recipe(transcripts)
        .add_step(
            StepImputeFill(sel=all_of(["value"]), strategy="forward", skew_bucket_size=16)
        )
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    np.testing.assert_array_equal(
        salted["value"].to_numpy(), plain["value"].to_numpy()
    )


@pytest.mark.parametrize(
    "kw",
    [
        {"strategy": "backward"},
        {"strategy": "forward", "limit": 2},
        {"strategy": "backward", "limit": 1},
    ],
    ids=["bfill", "ffill_limit2", "bfill_limit1"],
)
def test_salted_directional_fill_equals_plain(spark, transcripts, kw):
    def run(**extra):
        return (
            _recipe(transcripts)
            .add_step(StepImputeFill(sel=all_of(["value"]), **kw, **extra))
            .prep()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )

    plain = run()
    salted = run(skew_bucket_size=16)
    np.testing.assert_array_equal(
        salted["value"].to_numpy(), plain["value"].to_numpy()
    )


def test_group_stat_fill_has_no_window_exec(spark, transcripts):
    """mean/min/max fill must compile to aggregate + join-back, never an
    unordered whole-group window (one task per group = skew)."""
    out = (
        _recipe(transcripts)
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="mean"))
        .prep()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_salted_sessionize_equals_plain(spark, transcripts):
    from recipys_spark.operators import StepSessionize

    def run(step):
        rec = Recipe(
            transcripts, groups="conv_id", sequences=["turn_idx", "ts"]
        ).add_step(step)
        return (
            rec.prep()
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "session_id")
            .toPandas()
        )

    plain = run(StepSessionize(gap="30m"))
    salted = run(StepSessionize(gap="30m", skew_bucket_size=7200))
    np.testing.assert_array_equal(
        salted["session_id"].to_numpy(), plain["session_id"].to_numpy()
    )


def test_salted_mean_bit_identical_to_plain(spark, transcripts):
    """Decimal accumulation makes the salted MEAN path not just close
    but bit-identical to the plain window path."""
    plain = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    salted = (
        _recipe(transcripts)
        .add_step(
            StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN, skew_bucket_size=16)
        )
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    a = plain["value_mean"].to_numpy()
    b = salted["value_mean"].to_numpy()
    both_nan = np.isnan(a) & np.isnan(b)
    assert ((a == b) | both_nan).all()


def test_salted_lag_equals_plain(spark, transcripts):
    from recipys_spark.functions.skew import salted_lag
    from recipys_spark.operators import StepLag, StepLead

    plain = (
        _recipe(transcripts)
        .add_step(StepLag(sel=all_of(["value"]), lags=(1, 3)))
        .add_step(StepLead(sel=all_of(["value"]), leads=(2,)))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    lagged = salted_lag(
        transcripts, ["value"], ["conv_id"], "turn_idx", lags=(1, 3), bucket_size=16
    )
    led = salted_lag(
        lagged, ["value"], ["conv_id"], "turn_idx", lags=(2,), bucket_size=16, lead=True
    )
    salted = led.orderBy("conv_id", "turn_idx").toPandas()
    for col in ["value_lag_1", "value_lag_3", "value_lead_2"]:
        np.testing.assert_allclose(
            salted[col].to_numpy(dtype=float),
            plain[col].to_numpy(dtype=float),
            equal_nan=True,
        )


def test_salted_row_number(spark, transcripts):
    from recipys_spark.functions.skew import salted_row_number
    from pyspark.sql import Window, functions as F

    got = (
        salted_row_number(transcripts, ["conv_id"], "turn_idx", 16)
        .orderBy("conv_id", "turn_idx")
        .select("__rid")
        .toPandas()["__rid"]
        .to_numpy()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    exp = (
        transcripts.select(F.row_number().over(w).alias("rn"), "conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .toPandas()["rn"]
        .to_numpy()
    )
    np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize(
    "fun",
    [Accumulator.MEAN, Accumulator.MAX, Accumulator.MEDIAN],
)
def test_salted_rolling_equals_plain(spark, transcripts, fun):
    """Bounded trailing windows: row-exact buckets + carry rows ==
    plain rolling window (incl. MEDIAN — bounded frames keep it
    O(window) per row, so it salts too). Small rows_per_bucket via a
    tiny skew_bucket_size exercises several carry hops."""
    from recipys_spark.operators import StepRolling

    def run(**kw):
        return (
            _recipe(transcripts)
            .add_step(StepRolling(sel=all_of(["value"]), fun=fun, window=4, **kw))
            .prep()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )

    col = f"value_roll4_{fun.value}"
    plain = run()
    salted = run(skew_bucket_size=16, skew_rows_per_bucket=8)
    np.testing.assert_array_equal(
        salted[col].to_numpy(dtype=float), plain[col].to_numpy(dtype=float)
    )


def test_salted_rolling_rejects_empty_buckets(spark, transcripts):
    """A window of 1 needs no carry rows, but a bucket still needs a
    row: rows_per_bucket=0 is refused at plan time instead of building
    a division by zero."""
    from recipys_spark.operators import StepRolling

    rec = _recipe(transcripts).add_step(
        StepRolling(
            sel=all_of(["value"]),
            fun=Accumulator.MEAN,
            window=1,
            skew_bucket_size=16,
            skew_rows_per_bucket=0,
        )
    )
    with pytest.raises(ValueError, match="rows_per_bucket"):
        rec.prep()


def test_incremental_bake_equals_full(spark):
    """incremental_bake over the groups new rows touch == a full
    re-bake, bit for bit."""
    from recipys_spark.plans.incremental import incremental_bake

    base = synthetic_transcripts(spark, n_convs=25, skew=False, with_features=True)
    old_input = base.where("conv_id >= 'c000005' OR turn_idx < 3")
    new_rows = base.where("conv_id < 'c000005' AND turn_idx >= 3")

    def build():
        return (
            _recipe(base)
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
        )

    rec = build()
    rec.prep().count()  # fit (state frozen from the full data)
    previous = rec.bake(old_input)

    inc = (
        incremental_bake(rec, base, new_rows, previous, groups="conv_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    full = rec.bake(base).orderBy("conv_id", "turn_idx").toPandas()
    assert len(inc) == len(full)
    np.testing.assert_array_equal(
        inc["value_mean"].to_numpy(dtype=float),
        full["value_mean"].to_numpy(dtype=float),
    )
    np.testing.assert_array_equal(inc["value"].to_numpy(), full["value"].to_numpy())


def test_skew_advisor(spark, transcripts):
    """recommend_skew_bucket_size encodes the measured crossover: plain
    below the threshold, sensible sequence-unit buckets above it."""
    from recipys_spark.functions.skew import (
        group_size_stats,
        recommend_skew_bucket_size,
    )

    stats = group_size_stats(transcripts, ["conv_id"], "turn_idx")
    assert stats["max_rows"] == 160  # skew_factor=20 fixture
    assert stats["n_groups"] == 30
    assert stats["p50_rows"] <= 11

    # fixture is far below the real crossover: plain plan recommended
    assert (
        recommend_skew_bucket_size(transcripts, ["conv_id"], "turn_idx") is None
    )
    # force the threshold down: buckets in sequence units near
    # span/n_buckets, and salted == plain with that size
    size = recommend_skew_bucket_size(
        transcripts,
        ["conv_id"],
        "turn_idx",
        target_rows_per_bucket=20,
        salt_above_rows=100,
    )
    assert size is not None and size >= 1
    plain = (
        _recipe(transcripts)
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    salted = (
        _recipe(transcripts)
        .add_step(
            StepHistorical(
                sel=all_of(["value"]), fun=Accumulator.MEAN, skew_bucket_size=size
            )
        )
        .prep()
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    np.testing.assert_array_equal(
        salted["value_mean"].to_numpy(), plain["value_mean"].to_numpy()
    )


def test_prep_auto_skew_configures_and_matches_plain(spark, monkeypatch):
    """recommend_pipeline_config(apply=True): one probe pass configures
    the salted plan on skew-capable steps when the largest group
    crosses the (tunable) threshold, leaves StepRolling plain below ITS
    much higher trailing-window threshold, and the prep that follows
    produces values identical to the plain plan. An un-skewed fixture
    stays entirely on the fused single-window plan (bucket stays
    None)."""
    import pandas as pd

    from recipys_spark import Accumulator, Recipe
    from recipys_spark.functions import skew
    from recipys_spark.operators import StepHistorical
    from recipys_spark.operators.historical import StepRolling
    from recipys_spark.plans.advisor import recommend_pipeline_config
    from recipys_spark.selector import all_of

    # skewed: conv 1 has 400 rows, others 4 (threshold lowered to 100)
    n_hot = 400
    pdf = pd.DataFrame(
        {
            "conv_id": [1] * n_hot + [2, 2, 2, 2, 3, 3, 3, 3],
            "turn_idx": list(range(n_hot)) + [0, 1, 2, 3] * 2,
            "value": [float(i % 17) for i in range(n_hot + 8)],
        }
    )
    df = spark.createDataFrame(pdf)

    def build():
        return (
            Recipe(df, predictors=["value"], groups="conv_id",
                   sequences="turn_idx")
            .add_step(StepHistorical(sel=all_of(["value"]),
                                     fun=Accumulator.MEAN))
            .add_step(StepRolling(sel=all_of(["value"]),
                                  fun=Accumulator.MAX, window=3))
        )

    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 100)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    def advise(rec):
        try:
            recommend_pipeline_config(rec.data.df, rec, apply=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
        return rec

    plain_rec = build()
    plain = (
        plain_rec.prep().toPandas().sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    auto_rec = advise(build())
    auto = (
        auto_rec.prep().toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    hist, roll = auto_rec.steps
    assert hist.skew_bucket_size is not None  # salted expanding plan
    assert roll.skew_bucket_size is None  # trailing stays plain
    pd.testing.assert_frame_equal(plain, auto)

    # un-skewed fixture: nothing gets salted
    flat = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [1, 1, 2, 2, 3, 3],
                "turn_idx": [0, 1] * 3,
                "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            }
        )
    )
    rec2 = (
        Recipe(flat, predictors=["value"], groups="conv_id",
               sequences="turn_idx")
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
    )
    advise(rec2).prep()
    assert rec2.steps[0].skew_bucket_size is None


def test_salted_family_keeps_null_group_rows(spark):
    """Review fix (round 5): every salted-plan join now matches NULL
    group keys via a struct key (_ns_join) — a NULL conv_id row used to
    lose its cross-bucket carry (left-join prefix misses) or vanish
    entirely (row-number inner join), while the plain windows treat
    NULL as a regular group. Pin salted ≡ plain on a frame whose
    largest group IS the NULL group."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recipys_spark.functions.skew import (
        salted_expanding,
        salted_fill,
        salted_row_number,
    )

    rows = []
    for i in range(40):
        rows.append((None, i, float(i) if i % 3 else None))
    for i in range(5):
        rows.append(("a", i, float(10 * i)))
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    salted_mean = salted_expanding(
        df, ["value"], ["conv_id"], "turn_idx", Accumulator.MEAN, "m", 8
    )
    assert salted_mean.count() == len(rows)  # no dropped NULL-group rows
    got = {
        (r["conv_id"], r["turn_idx"]): r["value_m"] for r in salted_mean.collect()
    }
    # independent per-row oracle for the NULL group
    vals = [v for _, i, v in rows[:40]]
    run, n = 0.0, 0
    for i, v in enumerate(vals):
        if v is not None:
            run += v
            n += 1
        expect = run / n if n else None
        if expect is None:
            assert got[(None, i)] is None
        else:
            assert got[(None, i)] == pytest.approx(expect)
    # row numbers: contiguous 1..40 within the NULL group
    rid = salted_row_number(df, ["conv_id"], "turn_idx", 8)
    null_rids = sorted(
        r["__rid"] for r in rid.where(F.col("conv_id").isNull()).collect()
    )
    assert null_rids == list(range(1, 41))
    # ffill carries across buckets inside the NULL group too
    filled = salted_fill(df, ["value"], ["conv_id"], "turn_idx", 8, forward=True)
    fv = {
        (r["conv_id"], r["turn_idx"]): r["value"] for r in filled.collect()
    }
    last = None
    for i, v in enumerate(vals):
        last = v if v is not None else last
        assert fv[(None, i)] == (pytest.approx(last) if last is not None else None)


@pytest.mark.parametrize("forward", [True, False])
def test_salted_fill_null_sequence_rows_donate(spark, forward):
    """Rows with a NULL sequence value sort first in the plain window,
    so a value there fills forward into later buckets. The salted
    edge donor is picked by the whole order key (a struct, never NULL),
    so it no longer skips them: salted == plain both ways."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recipys_spark.functions.skew import salted_fill

    rows = [
        ("g", None, 5.0, 0), ("g", 1, None, 1), ("g", 50, None, 2),
        ("g", 120, 7.0, 3), ("g", 230, None, 4), ("h", None, None, 5),
        ("h", 10, None, 6),
    ]
    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("s", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("id", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    frame = (
        (Window.unboundedPreceding, Window.currentRow)
        if forward
        else (Window.currentRow, Window.unboundedFollowing)
    )
    w = Window.partitionBy("g").orderBy("s").rowsBetween(*frame)
    pick = F.last if forward else F.first
    plain = df.select("id", F.coalesce("v", pick("v", ignorenulls=True).over(w)).alias("v"))
    salted = salted_fill(df, ["v"], ["g"], "s", 100, forward=forward)
    want = {r["id"]: r["v"] for r in plain.collect()}
    assert {r["id"]: r["v"] for r in salted.collect()} == want
    if forward:
        assert want[1] == 5.0  # donated by the NULL-sequence row
