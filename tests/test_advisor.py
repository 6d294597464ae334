"""recommend_pipeline_config (plans/advisor.py) — the docstring's
example, executed verbatim, plus the apply-path contracts."""

from __future__ import annotations

import pytest

from recipys_spark import Accumulator, Recipe
from recipys_spark.functions import skew
from recipys_spark.operators import StepHistorical, StepScale, StepSessionize
from recipys_spark.plans.advisor import recommend_pipeline_config
from recipys_spark.selector import all_of
from recipys_spark.sources.io import synthetic_transcripts


@pytest.fixture(scope="module")
def turns(spark):
    return synthetic_transcripts(spark, n_convs=50, skew=False, with_features=True)


def _apply(spark, df, rec):
    """recommend_pipeline_config(apply=True), restoring the session's
    shuffle partitions afterwards."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return recommend_pipeline_config(df, rec, apply=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_docstring_example_runs_as_written(spark, turns):
    df = turns.select("conv_id", "ts", "value")
    rec = (
        Recipe(df, predictors=["value"], groups="conv_id", sequences="ts")
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepSessionize(gap="30m"))
    )
    cfg = recommend_pipeline_config(df, rec)
    assert cfg["stats"]["total_rows"] == df.count()
    assert cfg["stats"]["n_groups"] == 50
    # small fixture sits far below the 4M-row salt crossover
    assert cfg["steps"][0]["skew_bucket_size"] is None
    assert cfg["steps"][0]["skew_capable"] and cfg["steps"][1]["skew_capable"]
    floor = spark.sparkContext.defaultParallelism
    assert cfg["shuffle_partitions"] == floor  # rows << rows_per_partition
    assert cfg["lsh"] is None and cfg["applied"] is False


def test_apply_threads_bucket_and_shuffle_partitions(spark, turns):
    df = turns.select("conv_id", "ts", "value")
    rec = Recipe(
        df, predictors=["value"], groups="conv_id", sequences="ts"
    ).add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # force a salt recommendation by dropping the crossover to 1 row
        old = skew.AUTO_SKEW_SALT_ABOVE
        skew.AUTO_SKEW_SALT_ABOVE = 1
        try:
            cfg = recommend_pipeline_config(
                df, rec, apply=True, target_rows_per_partition=100
            )
        finally:
            skew.AUTO_SKEW_SALT_ABOVE = old
        assert cfg["applied"] is True
        assert cfg["steps"][0]["skew_bucket_size"] is not None
        assert rec.steps[0].skew_bucket_size == cfg["steps"][0]["skew_bucket_size"]
        # prep() runs with the bucket the advisor wrote
        rec.prep()
        assert rec.steps[0].skew_bucket_size == cfg["steps"][0]["skew_bucket_size"]
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == str(cfg["shuffle_partitions"])
        )
        assert cfg["shuffle_partitions"] >= spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_lsh_params_from_embedding_column(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cfg = recommend_pipeline_config(emb, emb_col="embedding")
    assert cfg["lsh"] is not None
    assert cfg["lsh"]["n_planes"] >= 4 and cfg["lsh"]["n_tables"] >= 1


def test_groupless_recipe_reports_rows_only(spark, turns):
    df = turns.select("conv_id", "value")
    rec = Recipe(df, predictors=["value"]).add_step(StepScale(sel=all_of(["value"])))
    cfg = recommend_pipeline_config(df, rec)
    assert set(cfg["stats"]) == {"total_rows"}
    assert cfg["steps"][0]["skew_capable"] is False


def test_apply_respects_hand_set_bucket_size(spark, turns):
    """ADVICE r6: apply=True must not overwrite a user's explicit
    skew_bucket_size — it keeps the value and reports it."""
    df = turns.select("conv_id", "ts", "value")
    rec = Recipe(
        df, predictors=["value"], groups="conv_id", sequences="ts"
    ).add_step(
        StepHistorical(
            sel=all_of(["value"]), fun=Accumulator.MEAN, skew_bucket_size=777
        )
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        old = skew.AUTO_SKEW_SALT_ABOVE
        skew.AUTO_SKEW_SALT_ABOVE = 1
        try:
            cfg = recommend_pipeline_config(
                df, rec, apply=True, target_rows_per_partition=100
            )
        finally:
            skew.AUTO_SKEW_SALT_ABOVE = old
        assert cfg["applied"] is True
        assert rec.steps[0].skew_bucket_size == 777
        assert cfg["steps"][0]["skew_bucket_kept_user_value"] == 777
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_median_step_never_gets_a_bucket(spark, turns, monkeypatch):
    """A MEDIAN StepHistorical has no salted plan: the advisor never
    assigns it a bucket, even when the salt crossover is forced down to
    one row (the MEAN step next to it shows the crossover did fire),
    and the recipe preps with the buckets it applied."""
    df = turns.select("conv_id", "ts", "value")

    def build():
        return (
            Recipe(df, predictors=["value"], groups="conv_id", sequences="ts")
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEDIAN))
        )

    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    rec = build()
    _apply(spark, df, rec)
    rec.prep()
    mean_step, median_step = rec.steps
    assert mean_step.skew_bucket_size is not None
    assert median_step.skew_bucket_size is None

    rec = build()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cfg = recommend_pipeline_config(df, rec, apply=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert cfg["steps"][0]["skew_bucket_size"] is not None
    assert cfg["steps"][1]["skew_capable"] is False
    assert cfg["steps"][1]["skew_bucket_size"] is None
    assert rec.steps[1].skew_bucket_size is None


@pytest.mark.parametrize("rolling_above", [1, 10**9])
def test_prep_and_advisor_assign_the_same_buckets(spark, turns, monkeypatch, rolling_above):
    """One salting policy (plans/advisor.skew_buckets): the buckets
    apply=True writes, and a prep keeps, are the ones the report
    recommends for every step — an unbounded window (MEAN), a MEDIAN,
    and the two bounded frames (rolling, context assembly) — with the
    bounded-frame crossover both below and above the fixture."""
    from recipys_spark.operators import StepAssembleContext, StepRolling

    df = turns.select("conv_id", "ts", "value", "text")
    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    monkeypatch.setattr(skew, "AUTO_SKEW_ROLLING_SALT_ABOVE", rolling_above)

    def build():
        return (
            Recipe(df, predictors=["value", "text"], groups="conv_id", sequences="ts")
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEDIAN))
            .add_step(StepRolling(sel=all_of(["value"]), fun=Accumulator.MAX, window=3))
            .add_step(StepAssembleContext(sel=all_of(["text"]), budget=6))
        )

    rec = build()
    _apply(spark, df, rec)
    rec.prep()
    cfg = recommend_pipeline_config(df, build())
    buckets = [s.skew_bucket_size for s in rec.steps]
    assert [r["skew_bucket_size"] for r in cfg["steps"]] == buckets
    mean, median, rolling, context = buckets
    assert mean is not None and median is None
    assert rolling == context == (mean if rolling_above == 1 else None)


def test_apply_leaves_non_directional_fills_plain(spark, monkeypatch):
    """A mean or constant StepImputeFill has no salted plan, so apply
    leaves both buckets None and the prep equals the plain one. (A
    bucket there used to run the salted BACKWARD fill: 4.0 and NULL
    where the group mean is 6.0.)"""
    import pandas as pd

    from recipys_spark.operators import StepImputeFill

    pdf = pd.DataFrame(
        {
            "conv_id": [1, 1, 1, 1, 2, 2],
            "turn_idx": [0, 1, 2, 3, 0, 1],
            "value": [None, 4.0, 8.0, None, 1.0, None],
            "other": [None, 1.0, None, 2.0, None, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)

    def build():
        return (
            Recipe(df, predictors=["value", "other"], groups="conv_id",
                   sequences="turn_idx")
            .add_step(StepImputeFill(sel=all_of(["value"]), strategy="mean"))
            .add_step(StepImputeFill(sel=all_of(["other"]), value=0))
        )

    def rows(rec):
        return sorted(tuple(r) for r in rec.prep().collect())

    plain = rows(build())
    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    rec = build()
    cfg = _apply(spark, df, rec)
    assert [r["skew_capable"] for r in cfg["steps"]] == [False, False]
    assert [s.skew_bucket_size for s in rec.steps] == [None, None]
    got = rows(rec)
    assert got == plain
    conv1 = [r for r in got if r[0] == 1]
    assert [r[2] for r in conv1] == [6.0, 4.0, 8.0, 6.0]


def test_each_step_sized_from_its_own_sequence(spark, monkeypatch):
    """With sequences (turn_idx, ts), StepSessionize buckets by ts (in
    seconds) and StepHistorical by turn_idx, so each bucket is sized
    from the largest conversation's span of that step's own column:
    the policy's two buckets for the 800-row hot conversation. (Both
    used to get the turn_idx size, 399, which StepSessionize read as
    seconds against a span of ~180,000 s: ~450 buckets, not 2.)"""
    from pyspark.sql import functions as F

    turns_800 = synthetic_transcripts(spark, n_convs=50, with_features=True)
    df = turns_800.select("conv_id", "turn_idx", "ts", "value")
    hot = (
        df.groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            (F.max("turn_idx") - F.min("turn_idx")).alias("turn_span"),
            (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias(
                "ts_span"
            ),
        )
        .orderBy(F.desc("n"))
        .first()
    )
    assert hot.n == 800

    def build():
        return (
            Recipe(df, predictors=["value"], groups="conv_id",
                   sequences=["turn_idx", "ts"])
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepSessionize(gap="30m"))
        )

    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    rec = build()
    cfg = _apply(spark, df, rec)
    # below 500k rows per bucket the policy asks for its minimum, 2
    hist, sess = (s.skew_bucket_size for s in rec.steps)
    assert hist == int(hot.turn_span / 2)
    assert sess == int(hot.ts_span / 2)
    assert cfg["stats"]["spans"] == {
        "turn_idx": float(hot.turn_span), "ts": float(hot.ts_span)
    }
    cols = ["conv_id", "turn_idx", "value_mean", "session_id"]
    salted = rec.prep().select(*cols).orderBy("conv_id", "turn_idx").collect()
    plain = build().prep().select(*cols).orderBy("conv_id", "turn_idx").collect()
    assert salted == plain


def test_asof_step_salts_past_the_crossover(spark, monkeypatch):
    """StepAsofJoin names its timestamp as its skew_sequence, so the
    advisor salts it once the crossover is passed (and not before), and
    the salted join returns what the union plan returns."""
    from pyspark.sql import functions as F

    from recipys_spark.operators import StepAsofJoin

    left = synthetic_transcripts(
        spark, n_convs=20, skew_factor=20, with_features=True
    ).select("conv_id", "turn_idx", "ts", "value")
    right = left.where(F.col("turn_idx") % 5 == 0).select(
        "conv_id", F.col("ts").alias("fts"), (F.col("value") * 2).alias("feat")
    )

    def build():
        return Recipe(
            left, predictors=["value"], groups="conv_id", sequences="ts"
        ).add_step(StepAsofJoin(right, right_ts="fts"))

    plain_rec = build()
    assert _apply(spark, left, plain_rec)["steps"][0]["skew_bucket_size"] is None
    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 100)
    rec = build()
    cfg = _apply(spark, left, rec)
    bucket = rec.steps[0].skew_bucket_size
    assert cfg["steps"][0]["skew_capable"]
    assert bucket is not None and bucket == cfg["steps"][0]["skew_bucket_size"]
    cols = ["conv_id", "turn_idx", "feat"]
    salted = rec.prep().select(*cols).orderBy("conv_id", "turn_idx").collect()
    plain = plain_rec.prep().select(*cols).orderBy("conv_id", "turn_idx").collect()
    assert salted == plain
