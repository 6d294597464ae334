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
        # untagged = hand-chosen: prep() must NOT reset it
        assert not getattr(rec.steps[0], "_auto_skew_assigned", False)
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
    (untagged) skew_bucket_size — it keeps the value and reports it."""
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
    """A MEDIAN StepHistorical has no salted plan: neither
    prep(auto_skew=True) nor the advisor assigns it a bucket, even when
    the salt crossover is forced down to one row (the MEAN step next
    to it shows the crossover did fire)."""
    df = turns.select("conv_id", "ts", "value")

    def build():
        return (
            Recipe(df, predictors=["value"], groups="conv_id", sequences="ts")
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEDIAN))
        )

    monkeypatch.setattr(skew, "AUTO_SKEW_SALT_ABOVE", 1)
    rec = build()
    rec.prep(auto_skew=True)
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
    """One salting policy (plans/advisor.skew_buckets) behind both
    callers: prep(auto_skew=True) and recommend_pipeline_config give
    every step the same bucket — an unbounded window (MEAN), a MEDIAN,
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
    rec.prep(auto_skew=True)
    cfg = recommend_pipeline_config(df, build())
    buckets = [s.skew_bucket_size for s in rec.steps]
    assert [r["skew_bucket_size"] for r in cfg["steps"]] == buckets
    mean, median, rolling, context = buckets
    assert mean is not None and median is None
    assert rolling == context == (mean if rolling_above == 1 else None)
