"""StepHistorical parity vs pandas expanding oracles (reference
tests/test_steps.py:127–154 re-expressed; oracle = the reference's own
pandas-backend semantics: groupby(id).expanding() with skipna)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from recipys_spark import Accumulator, Recipe
from recipys_spark.functions.windows import expanding
from recipys_spark.operators import StepHistorical
from recipys_spark.operators.historical import historical_expr
from recipys_spark.selector import all_numeric_predictors, all_of

from tests.conftest import collect_sorted, make_example_pdf


def pandas_expanding_oracle(pdf, col, fun):
    g = pdf.groupby("id")[col]
    if fun is Accumulator.MAX:
        return g.cummax()
    if fun is Accumulator.MIN:
        return g.cummin()
    if fun is Accumulator.MEAN:
        return g.expanding().mean().reset_index(drop=True)
    if fun is Accumulator.MEDIAN:
        return g.expanding().median().reset_index(drop=True)
    if fun is Accumulator.COUNT:
        return g.expanding().count().reset_index(drop=True)
    if fun is Accumulator.VAR:
        return g.expanding().var().reset_index(drop=True)
    raise AssertionError(fun)


@pytest.mark.parametrize(
    "fun",
    [
        Accumulator.MAX,
        Accumulator.MIN,
        Accumulator.MEAN,
        Accumulator.MEDIAN,
        Accumulator.COUNT,
        Accumulator.VAR,
    ],
)
@pytest.mark.parametrize("with_nan", [False, True])
def test_historical_matches_pandas(spark, fun, with_nan):
    pdf = make_example_pdf(nan_x1=with_nan)
    rec = Recipe(
        spark.createDataFrame(pdf),
        outcomes="y",
        predictors=["x1", "x2"],
        groups="id",
        sequences="time",
    )
    rec.add_step(StepHistorical(sel=all_numeric_predictors(), fun=fun))
    got = collect_sorted(rec.prep())
    for col in ["x1", "x2"]:
        expected = pandas_expanding_oracle(pdf, col, fun).to_numpy(dtype="float64")
        actual = got[f"{col}_{fun.value}"].to_numpy(dtype="float64")
        np.testing.assert_allclose(actual, expected, equal_nan=True, err_msg=f"{col} {fun}")


def test_historical_last_row_equals_group_agg(spark, example_recipe):
    """Reference invariant: at a group's last row the expanding max/min
    equal the whole-group aggregate (reference test_steps.py:137–154)."""
    example_recipe.add_step(StepHistorical(fun=Accumulator.MAX, suffix="max"))
    out = collect_sorted(example_recipe.prep())
    for gid, grp in out.groupby("id"):
        assert grp["x1_max"].iloc[-1] == pytest.approx(grp["x1"].max())


def test_historical_rejects_first_last():
    with pytest.raises(TypeError):
        StepHistorical(fun=Accumulator.LAST)
    with pytest.raises(TypeError):
        StepHistorical(fun="max")
    with pytest.raises(ValueError, match="skew_bucket_size"):
        StepHistorical(fun=Accumulator.MEDIAN, skew_bucket_size=1000)


def test_historical_suffix_stable_across_prep_bake(spark, example_recipe):
    """Normalized reference quirk (step.py:311): suffix must not mutate,
    prep then bake must emit the same column names."""
    example_recipe.add_step(StepHistorical(fun=Accumulator.MEAN))
    prepped = example_recipe.prep()
    baked = example_recipe.bake()
    assert "x1_mean" in prepped.columns
    assert prepped.columns == baked.columns


def test_prep_equals_bake(spark, example_recipe):
    """prep(X) ≡ bake(X) on the same data (reference test_recipe.py:17–21)."""
    example_recipe.add_step(StepHistorical(fun=Accumulator.VAR))
    a = collect_sorted(example_recipe.prep())
    b = collect_sorted(example_recipe.bake())
    for c in a.columns:
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy())


def test_rolling_matches_pandas(spark):
    from recipys_spark.operators import StepRolling

    pdf = make_example_pdf(nan_x1=True)
    rec = Recipe(
        spark.createDataFrame(pdf),
        outcomes="y",
        predictors=["x1", "x2"],
        groups="id",
        sequences="time",
    )
    rec.add_step(StepRolling(sel=all_numeric_predictors(), fun=Accumulator.MEAN, window=3))
    rec.add_step(StepRolling(sel=all_numeric_predictors(), fun=Accumulator.MAX, window=2))
    got = collect_sorted(rec.prep())
    g = pdf.groupby("id")
    exp_mean = g["x1"].rolling(3, min_periods=1).mean().reset_index(drop=True)
    exp_max = g["x1"].rolling(2, min_periods=1).max().reset_index(drop=True)
    np.testing.assert_allclose(
        got["x1_roll3_mean"].to_numpy(), exp_mean.to_numpy(), equal_nan=True
    )
    np.testing.assert_allclose(
        got["x1_roll2_max"].to_numpy(), exp_max.to_numpy(), equal_nan=True
    )


def median_mirror(sdf, cols, groups, seq):
    """The window-percentile expression (the SQL-oracle mirror) for
    every column in ``cols``, appended to ``sdf``."""
    frame = expanding(groups, seq)
    return sdf.select(
        "*",
        *[
            historical_expr(c, Accumulator.MEDIAN, frame).alias(f"{c}_median")
            for c in cols
        ],
    )


def test_median_equals_window(spark):
    """The streaming exact median equals the window percentile path
    (SURVEY §7 hard parts)."""
    pdf = make_example_pdf(nan_x1=True)
    sdf = spark.createDataFrame(pdf)
    rec = Recipe(
        sdf, outcomes="y", predictors=["x1", "x2"], groups="id", sequences="time",
    ).add_step(StepHistorical(sel=all_numeric_predictors(), fun=Accumulator.MEDIAN))
    a = collect_sorted(median_mirror(sdf, ["x1", "x2"], ["id"], ["time"]))
    b = collect_sorted(rec.prep())
    for c in ["x1_median", "x2_median"]:
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float), equal_nan=True
        )


def test_median_long_conversation_bounded_time(spark):
    """Scale guard: the MEDIAN plan must be the streaming mapInArrow
    pass, not the O(n²) window percentile — a 200k-turn
    single conversation completes in seconds (the quadratic plan would
    take hours)."""
    import time

    import pandas as pd

    n = 200_000
    pdf = pd.DataFrame(
        {
            "id": 1,
            "time": np.arange(n),
            "x1": np.sin(np.arange(n)) * 100,
        }
    )
    rec = Recipe(
        spark.createDataFrame(pdf), predictors=["x1"], groups="id", sequences="time"
    ).add_step(StepHistorical(sel=all_numeric_predictors(), fun=Accumulator.MEDIAN))
    t0 = time.time()
    out = rec.prep()
    got = out.where(F.col("time") == n - 1).collect()
    wall = time.time() - t0
    assert wall < 120, f"expanding median took {wall:.0f}s — quadratic plan?"
    exp = float(np.median(pdf["x1"].to_numpy()))
    np.testing.assert_allclose(got[0]["x1_median"], exp)


NAN = float("nan")
MEDIAN_KEY_CASES = {
    # NULL group and sequence keys keep their rows
    "null_keys": (
        [(1, 0.0, 10.0, "a"), (1, 1.0, 20.0, "b"), (None, 0.0, 5.0, "c"),
         (None, 1.0, 7.0, "d"), (2, 0.0, 1.0, "e"), (2, None, 3.0, "f")],
        ["id"],
    ),
    # a duplicate (group, sequence) key: 3 rows in, 3 rows out (the
    # twin rows are identical, so any tie order gives the same rows)
    "duplicate_key": (
        [(1, 0.0, 10.0, "a"), (1, 1.0, 20.0, "b"), (1, 1.0, 20.0, "b")],
        ["id"],
    ),
    # Spark orders NULL first and NaN last; both keys occur once
    "nan_null_seq_grouped": (
        [(1, None, 4.0, "a"), (1, 0.0, 10.0, "b"), (1, NAN, 100.0, "c"),
         (1, 1.0, 1.0, "d"), (2, 2.0, 5.0, "e"), (2, 3.0, None, "f"),
         (None, 4.0, 7.0, "g")],
        ["id"],
    ),
    "nan_null_seq_ungrouped": (
        [(1, None, 4.0, "a"), (1, 0.0, 10.0, "b"), (1, NAN, 100.0, "c"),
         (1, 1.0, 1.0, "d"), (2, 2.0, 5.0, "e"), (2, 3.0, None, "f"),
         (None, 4.0, 7.0, "g")],
        [],
    ),
}


def _nan_tag(v):
    return "NaN" if isinstance(v, float) and np.isnan(v) else v


def _sorted_rows(df):
    """Collected rows in a total order, NULL < numbers < NaN, with NaN
    and NULL kept apart (``toPandas`` would fold both into NaN)."""

    def key(v):
        v = _nan_tag(v)
        return (0, 0) if v is None else (2, 0) if v == "NaN" else (1, v)

    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: tuple(map(key, r))
    )


def assert_median_rows_equal(got, exp):
    """Same rows as multisets; the last column (the median) to float
    tolerance, every other column exactly."""
    got, exp = _sorted_rows(got), _sorted_rows(exp)
    assert len(got) == len(exp), (got, exp)
    for g, e in zip(got, exp):
        assert list(map(_nan_tag, g[:-1])) == list(map(_nan_tag, e[:-1])), (g, e)
    np.testing.assert_allclose(
        np.array([r[-1] for r in got], dtype=float),
        np.array([r[-1] for r in exp], dtype=float),
        equal_nan=True,
    )


@pytest.mark.parametrize("case", sorted(MEDIAN_KEY_CASES))
def test_median_null_keys_survive_both_paths(spark, case):
    """NULL, NaN and duplicate (group, sequence) keys: the median keeps
    every row one-to-one and matches the window-percentile mirror, which
    orders NULL first and NaN last. Frames come from Python rows with an
    explicit schema because ``createDataFrame(pandas)`` turns NaN into
    NULL; the string column ``s`` rides along as a passthrough."""
    rows, groups = MEDIAN_KEY_CASES[case]
    sdf = spark.createDataFrame(rows, "id long, time double, x1 double, s string")
    rec = Recipe(
        sdf, predictors=["x1"], groups=groups or None, sequences="time"
    ).add_step(StepHistorical(sel=all_of(["x1"]), fun=Accumulator.MEDIAN))
    out = rec.prep()
    assert out.count() == len(rows)
    assert_median_rows_equal(out, median_mirror(sdf, ["x1"], groups, ["time"]))


def test_median_groups_span_arrow_batches(spark):
    """Groups longer than one Arrow batch: the open group's values carry
    from batch to batch, and a group boundary may fall on a batch's
    first row. 7-row batches over ~400 rows with NULL values and NULL
    group and sequence keys, grouped and ungrouped."""
    n = 400
    rows = [
        (
            None if i % 53 == 0 else i // 37,
            None if i == 200 else float(i),
            None if i % 5 == 0 else float((i * 7919) % 101),
            "t",
        )
        for i in range(n)
    ]
    sdf = spark.createDataFrame(rows, "id long, time double, x1 double, s string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        for groups in (["id"], []):
            rec = Recipe(
                sdf, predictors=["x1"], groups=groups or None, sequences="time"
            ).add_step(StepHistorical(sel=all_of(["x1"]), fun=Accumulator.MEDIAN))
            assert_median_rows_equal(
                rec.prep(), median_mirror(sdf, ["x1"], groups, ["time"])
            )
    finally:
        spark.conf.set(conf, before)


def test_median_partition_semantics(spark):
    """The per-partition median must group exactly like Spark's groupBy
    within a shared partition: NaN float keys are ONE group (Arrow's
    NaN != NaN must not split them), NULL keys are a group of their own,
    and many groups per partition reproduce the window-percentile
    mirror."""
    # (id, time) stays unique per the engine's ordering-key requirement
    rows = [
        (NAN, 0.0, 4.0), (NAN, 1.0, 8.0), (NAN, 2.0, 3.0), (None, 0.0, 9.0),
        (1.0, 0.0, 10.0), (1.0, 1.0, 20.0), (2.0, 0.0, 1.0), (2.0, 1.0, 5.0),
        (3.0, 0.0, 7.0),
    ]
    sdf = spark.createDataFrame(rows, "id double, time double, x1 double")
    rec = Recipe(sdf, predictors=["x1"], groups="id", sequences="time").add_step(
        StepHistorical(sel=all_of(["x1"]), fun=Accumulator.MEDIAN)
    )
    out = rec.prep()
    assert_median_rows_equal(out, median_mirror(sdf, ["x1"], ["id"], ["time"]))
    # NaN keys grouped together: the NaN group's expanding median at
    # time=1 is median(4, 8) = 6 — it would be 8.0 if Arrow's
    # NaN != NaN split each NaN row into its own group
    nan_rows = sorted(
        (r["time"], r["x1_median"]) for r in out.collect()
        if r["id"] is not None and np.isnan(r["id"])
    )
    assert [m for _, m in nan_rows] == [4.0, 6.0, 4.0]
