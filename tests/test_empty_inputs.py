"""Degenerate-input robustness: every operator must handle an empty
frame (0 rows, full schema) without raising and return an empty result
with the right columns."""

import pandas as pd
import pytest

from pyspark.sql import types as T


@pytest.fixture(scope="module")
def empty_docs(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return spark.createDataFrame([], schema)


@pytest.fixture(scope="module")
def empty_events(spark):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.createDataFrame([], schema)


def test_dedup_ops_on_empty(spark, empty_docs, monkeypatch):
    from recipys_spark.operators import dedup
    from recipys_spark.operators.dedup import (
        exact_dedup,
        jaccard_pairs,
        minhash_dedup,
        minhash_lsh_pairs,
        simhash_clusters,
    )
    from tests.signature_mirrors import minhash_mirror_udf

    assert exact_dedup(empty_docs).count() == 0
    assert jaccard_pairs(empty_docs).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    with monkeypatch.context() as m:
        m.setattr(dedup, "minhash_signature_udf", minhash_mirror_udf)
        assert minhash_lsh_pairs(empty_docs).count() == 0
    assert simhash_clusters(empty_docs).count() == 0
    lab = minhash_dedup(empty_docs)
    assert lab.count() == 0 and set(lab.columns) == {
        "doc_id", "cluster_id", "is_duplicate"
    }


def test_corpus_and_fingerprint_on_empty(spark, empty_docs):
    from recipys_spark.operators.corpus import clean_corpus
    from recipys_spark.operators.fingerprint import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    out = clean_corpus(empty_docs)
    assert out.count() == 0
    assert {"n_tokens", "quality", "lang_id"} <= set(out.columns)
    assert winnow_fingerprints(empty_docs).count() == 0
    assert winnow_overlap_pairs(empty_docs).count() == 0


def test_timeseries_ops_on_empty(spark, empty_events):
    from recipys_spark.operators.timeseries import time_rollup
    from recipys_spark.operators.rangejoin import range_join
    from pyspark.sql import functions as F

    assert time_rollup(empty_events, group_cols=["user_id"]).count() == 0
    iv = empty_events.select(
        F.col("event_id").alias("iid"),
        "user_id",
        F.col("ts").alias("start"),
        F.col("ts").alias("end"),
    )
    pts = empty_events.select("event_id", "user_id", "ts")
    assert range_join(pts, iv, on=["user_id"]).count() == 0
    assert range_join(pts, iv, on=["user_id"], how="left").count() == 0


def test_recipe_prep_on_empty(spark, empty_events):
    from recipys_spark import Accumulator, Recipe
    from recipys_spark.operators import StepHistorical, StepImputeFill
    from recipys_spark.selector import all_of

    rec = (
        Recipe(empty_events, predictors=["value"], groups="user_id",
               sequences="ts")
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
    )
    out = rec.prep()
    assert out.count() == 0 and "value_mean" in out.columns
