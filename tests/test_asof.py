"""Point-in-time as-of join: correctness of both physical plans (union,
and salted when a ``skew_bucket_size`` is given), tolerance handling,
and the zero-leakage guarantee."""

import datetime

import numpy as np
import pandas as pd
import pytest

from recipys_spark import Recipe
from recipys_spark.operators import StepAsofJoin, asof_join


def _ts(h, m=0):
    return datetime.datetime(2020, 1, 1, h, m)


@pytest.fixture
def left_pdf():
    return pd.DataFrame(
        {
            "key": ["a", "a", "a", "b", "b"],
            "ts": [_ts(1), _ts(3), _ts(5), _ts(2), _ts(4)],
            "payload": [1, 2, 3, 4, 5],
        }
    )


@pytest.fixture
def right_pdf():
    return pd.DataFrame(
        {
            "key": ["a", "a", "b", "b", "c"],
            "fts": [_ts(0, 30), _ts(3), _ts(2, 30), _ts(3, 30), _ts(1)],
            "feat": [10.0, 20.0, 30.0, 40.0, 99.0],
        }
    )


def pandas_asof(left_pdf, right_pdf, tolerance=None):
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance)
    return pd.merge_asof(
        left_pdf.sort_values("ts"),
        right_pdf.sort_values("fts").rename(columns={"fts": "ts"}),
        on="ts",
        by="key",
        direction="backward",
        **kw,
    ).sort_values(["key", "ts"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["union", "salted"])
def test_asof_matches_pandas(spark, left_pdf, right_pdf, strategy):
    got = (
        asof_join(
            spark.createDataFrame(left_pdf),
            spark.createDataFrame(right_pdf),
            on="key",
            left_ts="ts",
            right_ts="fts",
            skew_bucket_size=3600 if strategy == "salted" else None,
        )
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    expected = pandas_asof(left_pdf, right_pdf)
    np.testing.assert_allclose(got["feat"].to_numpy(), expected["feat"].to_numpy(), equal_nan=True)
    assert list(got.columns) == ["key", "ts", "payload", "feat"]


@pytest.mark.parametrize("strategy", ["union", "salted"])
def test_asof_tolerance(spark, left_pdf, right_pdf, strategy):
    got = (
        asof_join(
            spark.createDataFrame(left_pdf),
            spark.createDataFrame(right_pdf),
            on="key",
            left_ts="ts",
            right_ts="fts",
            tolerance="1h",
            skew_bucket_size=3600 if strategy == "salted" else None,
        )
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    expected = pandas_asof(left_pdf, right_pdf, tolerance=3600)
    np.testing.assert_allclose(got["feat"].to_numpy(), expected["feat"].to_numpy(), equal_nan=True)


def test_asof_inclusive_at_equal_ts(spark, left_pdf, right_pdf):
    """A right row AT the left ts must match (ts' <= ts)."""
    got = asof_join(
        spark.createDataFrame(left_pdf),
        spark.createDataFrame(right_pdf),
        on="key",
        left_ts="ts",
        right_ts="fts",
    ).toPandas()
    row = got[(got.key == "a") & (got.ts == _ts(3))]
    assert row["feat"].iloc[0] == 20.0


def test_asof_zero_leakage(spark, left_pdf, right_pdf):
    """No right row with ts' > ts can ever be matched: every matched
    feat must come from a right row at-or-before the left ts."""
    got = asof_join(
        spark.createDataFrame(left_pdf),
        spark.createDataFrame(right_pdf),
        on="key",
        left_ts="ts",
        right_ts="fts",
    ).toPandas()
    r = right_pdf.set_index("feat")["fts"].to_dict()
    for _, row in got.dropna(subset=["feat"]).iterrows():
        assert r[row["feat"]] <= row["ts"], f"leaked future feature: {row}"


def test_asof_no_match_is_null(spark, left_pdf, right_pdf):
    got = asof_join(
        spark.createDataFrame(left_pdf),
        spark.createDataFrame(right_pdf),
        on="key",
        left_ts="ts",
        right_ts="fts",
    ).toPandas()
    # left 'b'@2:00 precedes all right 'b' rows (first at 2:30)
    row = got[(got.key == "b") & (got.ts == _ts(2))]
    assert row["feat"].isna().all()


def test_step_asof_join(spark, left_pdf, right_pdf):
    rec = Recipe(
        spark.createDataFrame(left_pdf),
        predictors=["payload"],
        groups="key",
        sequences="ts",
    ).add_step(
        StepAsofJoin(spark.createDataFrame(right_pdf), right_ts="fts", suffix="_pit")
    )
    out = rec.prep()
    assert "feat_pit" in out.columns
    roles = rec.steps[0].new_column_roles()
    assert roles == {"feat_pit": "predictor"}


def test_asof_suffix_collision_raises(spark, left_pdf, right_pdf):
    """Empty suffix + a right value column named like a left column must
    raise instead of silently emitting duplicate column names."""
    right = spark.createDataFrame(right_pdf.rename(columns={"feat": "payload"}))
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            spark.createDataFrame(left_pdf), right,
            on="key", left_ts="ts", right_ts="fts",
        )


def test_asof_salted_equals_union_on_skewed_transcripts(spark):
    """Salted as-of == union plan on the skewed conversation fixture
    (one conversation 20x the rest)."""
    from pyspark.sql import functions as F

    from recipys_spark.sources.io import synthetic_transcripts

    left = synthetic_transcripts(
        spark, n_convs=20, skew=True, skew_factor=20, with_features=True
    ).select("conv_id", "turn_idx", "ts", "value")
    right = (
        left.where(F.col("turn_idx") % 5 == 0)
        .select("conv_id", F.col("ts").alias("fts"), (F.col("value") * 2).alias("feat"))
    )

    def run(**kw):
        return (
            asof_join(left, right, on="conv_id", left_ts="ts", right_ts="fts", **kw)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )

    union = run()
    salted = run(skew_bucket_size=1800)
    np.testing.assert_allclose(
        salted["feat"].to_numpy(dtype=float),
        union["feat"].to_numpy(dtype=float),
        equal_nan=True,
    )

    union_t = run(tolerance="15m")
    salted_t = run(skew_bucket_size=1800, tolerance="15m")
    np.testing.assert_allclose(
        salted_t["feat"].to_numpy(dtype=float),
        union_t["feat"].to_numpy(dtype=float),
        equal_nan=True,
    )


# -- direction= (forward / nearest), round 5 --------------------------------


def _pandas_dir(left_pdf, right_pdf, direction, tolerance=None):
    kw = {}
    if tolerance is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance)
    return (
        pd.merge_asof(
            left_pdf.sort_values("ts"),
            right_pdf.sort_values("fts").rename(columns={"fts": "ts"}),
            on="ts",
            by="key",
            direction=direction,
            **kw,
        )
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("strategy", ["union"])
@pytest.mark.parametrize("tolerance", [None, 90 * 60])
def test_asof_forward_matches_pandas(spark, left_pdf, right_pdf, strategy, tolerance):
    got = (
        asof_join(
            spark.createDataFrame(left_pdf),
            spark.createDataFrame(right_pdf),
            on="key",
            left_ts="ts",
            right_ts="fts",
            direction="forward",
            tolerance=tolerance,
        )
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    expected = _pandas_dir(left_pdf, right_pdf, "forward", tolerance)
    np.testing.assert_allclose(
        got["feat"].to_numpy(), expected["feat"].to_numpy(), equal_nan=True
    )


def test_asof_nearest_matches_pandas_tie_free(spark, left_pdf, right_pdf):
    got = (
        asof_join(
            spark.createDataFrame(left_pdf),
            spark.createDataFrame(right_pdf),
            on="key",
            left_ts="ts",
            right_ts="fts",
            direction="nearest",
        )
        .toPandas()
        .sort_values(["key", "ts"])
        .reset_index(drop=True)
    )
    expected = _pandas_dir(left_pdf, right_pdf, "nearest")
    np.testing.assert_allclose(
        got["feat"].to_numpy(), expected["feat"].to_numpy(), equal_nan=True
    )


def test_asof_nearest_tie_goes_backward(spark):
    left = pd.DataFrame({"key": ["a"], "ts": [_ts(2)], "payload": [1]})
    right = pd.DataFrame(
        {"key": ["a", "a"], "fts": [_ts(1), _ts(3)], "feat": [10.0, 20.0]}
    )
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="key",
        left_ts="ts",
        right_ts="fts",
        direction="nearest",
    ).collect()
    assert got[0]["feat"] == 10.0  # equidistant → backward, deterministically


def test_asof_nearest_tolerance_per_side(spark):
    """A backward match outside tolerance must not block a forward
    match inside it (and vice versa)."""
    left = pd.DataFrame({"key": ["a"], "ts": [_ts(5)], "payload": [1]})
    right = pd.DataFrame(
        {"key": ["a", "a"], "fts": [_ts(0), _ts(5, 30)], "feat": [10.0, 20.0]}
    )
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="key",
        left_ts="ts",
        right_ts="fts",
        direction="nearest",
        tolerance="1h",
    ).collect()
    assert got[0]["feat"] == 20.0  # backward 5h away > tol; forward 30m ok


def test_asof_direction_guards(spark, left_pdf, right_pdf):
    l, r = spark.createDataFrame(left_pdf), spark.createDataFrame(right_pdf)
    with pytest.raises(ValueError, match="backward/forward/nearest"):
        asof_join(l, r, on="key", left_ts="ts", right_ts="fts", direction="up")
    for direction in ("forward", "nearest"):
        with pytest.raises(ValueError, match="salted"):
            asof_join(
                l, r, on="key", left_ts="ts", right_ts="fts",
                direction=direction, skew_bucket_size=60,
            )


def test_asof_forward_union_one_shuffle(spark, left_pdf, right_pdf):
    """forward keeps the union plan shape: ONE hash exchange on the key
    for the window; nearest's two windows share the same exchange."""
    l, r = spark.createDataFrame(left_pdf), spark.createDataFrame(right_pdf)
    for direction in ("forward", "nearest"):
        plan = (
            asof_join(
                l, r, on="key", left_ts="ts", right_ts="fts", direction=direction
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning(key") == 1, (direction, plan)


def test_asof_null_left_ts_never_matches(spark):
    """Review fix: a NULL left timestamp must yield NULL in EVERY
    direction — the forward window's following frame used to span the
    whole partition and fabricate a match."""
    left = pd.DataFrame(
        {"key": ["a", "a"], "ts": [pd.NaT, _ts(2)], "payload": [1, 2]}
    )
    right = pd.DataFrame({"key": ["a"], "fts": [_ts(3)], "feat": [10.0]})
    for direction in ("backward", "forward", "nearest"):
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on="key",
                left_ts="ts",
                right_ts="fts",
                direction=direction,
            )
            .toPandas()
            .set_index("payload")
        )
        assert pd.isna(got.loc[1, "feat"]), direction


@pytest.mark.parametrize("strategy", ["union", "salted"])
def test_asof_null_keys_match_duckdb(spark, strategy):
    """A NULL key or a NULL right timestamp never matches, as in SQL:
    both plans return what DuckDB's ASOF LEFT JOIN returns (the
    NULL-key left rows used to pick up the NULL-key right row in the
    union plan, and in the salted plan only within its first bucket)."""
    import duckdb
    from pyspark.sql import types as T

    left_rows = [(1, "a", 10), (2, None, 10), (3, None, 1000), (4, "b", 10)]
    right_rows = [("a", 5, 1.0), (None, 5, 2.0), ("b", None, 3.0)]
    con = duckdb.connect()
    con.execute("CREATE TABLE l (id INT, key VARCHAR, ts BIGINT)")
    con.execute("CREATE TABLE r (key VARCHAR, fts BIGINT, feat DOUBLE)")
    con.executemany("INSERT INTO l VALUES (?, ?, ?)", left_rows)
    con.executemany("INSERT INTO r VALUES (?, ?, ?)", right_rows)
    want = dict(
        con.execute(
            "SELECT l.id, r.feat FROM l ASOF LEFT JOIN r "
            "ON l.key = r.key AND l.ts >= r.fts"
        ).fetchall()
    )
    assert want == {1: 1.0, 2: None, 3: None, 4: None}

    left = spark.createDataFrame(
        left_rows,
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("key", T.StringType()),
                T.StructField("ts", T.LongType()),
            ]
        ),
    )
    right = spark.createDataFrame(
        right_rows,
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("fts", T.LongType()),
                T.StructField("feat", T.DoubleType()),
            ]
        ),
    )
    got = asof_join(
        left, right, on="key", left_ts="ts", right_ts="fts",
        skew_bucket_size=100 if strategy == "salted" else None,
    )
    assert {r["id"]: r["feat"] for r in got.collect()} == want
