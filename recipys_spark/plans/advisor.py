"""Pipeline-level sizing advisor (VERDICT r5 #6).

One call unifies the engine's scattered sizing guidance — group-skew
probing (functions/skew.group_size_stats), per-step-class salted-bucket
recommendations (recommend_skew_bucket_size under the measured BENCH.md
crossovers), ANN LSH parameters (similarity.recommend_lsh_params), and
shuffle-partition arithmetic — into one report a 100 TB operator can
read (and optionally apply) BEFORE ``Recipe.prep``. The salting policy
lives here too: each step names the column its salted plan buckets by
(``Step.skew_sequence``, None when it has no salted plan), and
``skew_buckets`` decides when that step salts and how wide each bucket
is, from the span of that column in the largest group.

Cost: ONE group-count aggregation pass over the input (the
group_size_stats probe, which also yields the exact row count) plus, if
``emb_col`` is given, one 1-row sample to read the embedding dimension.
Nothing else touches the data.

Example (the executable contract — tests/test_advisor.py runs exactly
this):

    rec = (
        Recipe(df, predictors=["value"], groups="conv_id", sequences="ts")
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepSessionize(gap="30m"))
    )
    cfg = recommend_pipeline_config(df, rec)
    cfg["stats"]["total_rows"]        # exact input rows (from the probe)
    cfg["steps"][0]["skew_bucket_size"]  # None below the salt crossover
    cfg["shuffle_partitions"]         # ceil(rows / rows_per_partition),
                                      # clamped to the cluster floor
    recommend_pipeline_config(df, rec, apply=True)  # thread it all in

``apply=True`` sets ``spark.sql.shuffle.partitions`` on the session and
writes each recommended ``skew_bucket_size`` onto its step where none
is set yet; besides the user, it is the only writer of a bucket.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame

from recipys_spark.functions import skew
from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.historical import StepRolling
from recipys_spark.operators.transcripts import StepAssembleContext
from recipys_spark.recipe import Recipe

#: shuffle sizing: aim for partitions of ~4M rows (a few hundred MB for
#: transcript-shaped rows) — small enough to sort in executor memory,
#: large enough that task overhead stays amortized; AQE coalesces the
#: slack at runtime
TARGET_ROWS_PER_PARTITION = 4_000_000


def skew_stats(ingredients: Ingredients) -> Optional[dict]:
    """The one skew probe: ``group_size_stats`` over the group roles and
    the span of every sequence role (one aggregation pass), or None
    when the data has no group or no sequence role."""
    groups = ingredients.select_roles("group")
    seqs = ingredients.select_roles("sequence")
    if not groups or not seqs:
        return None
    return skew.group_size_stats(ingredients.df, groups, seqs)


def skew_buckets(stats: Optional[dict], steps, sequences) -> list:
    """The salting policy: each step's ``skew_bucket_size`` (None = the
    plain plan) for the probe ``stats`` (None = no probe: all plain),
    where ``sequences`` holds each step's ``skew_sequence`` (None = no
    salted plan).

    A bucket is sized from the span of the step's own sequence column.
    Bounded frames (StepRolling, StepAssembleContext) salt past
    ``skew.AUTO_SKEW_ROLLING_SALT_ABOVE`` rows in the largest group,
    every other step past ``skew.AUTO_SKEW_SALT_ABOVE``. Writes
    nothing."""
    buckets = []
    for step, seq in zip(steps, sequences):
        if stats is None or seq is None:
            buckets.append(None)
            continue
        if isinstance(step, (StepRolling, StepAssembleContext)):
            above = skew.AUTO_SKEW_ROLLING_SALT_ABOVE
        else:
            above = skew.AUTO_SKEW_SALT_ABOVE
        buckets.append(
            skew.recommend_skew_bucket_size(
                None, None, seq, salt_above_rows=above, stats=stats
            )
        )
    return buckets


def recommend_pipeline_config(
    df: DataFrame,
    recipe: Optional[Recipe] = None,
    emb_col: Optional[str] = None,
    target_rows_per_partition: int = TARGET_ROWS_PER_PARTITION,
    apply: bool = False,
) -> dict:
    """Probe ``df`` once and return the unified sizing report:

    - ``stats``: group_size_stats of the recipe's group and sequence
      roles — group count, p50/p99/max group rows, the largest group's
      span of each sequence role, plus ``total_rows`` — or just
      ``total_rows`` when ``recipe`` has no group/sequence roles to
      probe.
    - ``steps``: per recipe step, its class, whether it has a salted
      plan as configured (``skew_capable``), and its
      ``skew_bucket_size`` under the salting policy
      :func:`skew_buckets` — None where the plain plan wins.
    - ``shuffle_partitions``: ceil(total_rows / target_rows_per_
      partition) clamped below by the session's default parallelism —
      the number every groupBy/join/window Exchange in the baked plan
      will use.
    - ``lsh``: recommend_lsh_params(total_rows, dim) when ``emb_col``
      names an array embedding column, else None.

    ``apply=True`` additionally sets the session's shuffle partitions
    and writes each recommended bucket onto its step where
    ``skew_bucket_size`` is None; a step that already has one keeps it
    and its row reports it as ``skew_bucket_kept_user_value``."""
    spark = df.sparkSession
    steps = list(recipe.steps) if recipe is not None else []
    probe, seqs = None, [None] * len(steps)
    if recipe is not None and recipe.data is not None:
        ingredients = Ingredients(df, recipe.data.roles, check_roles=False)
        seqs = [s.skew_sequence(ingredients) for s in steps]
        probe = skew_stats(ingredients)
    # one pass: total_rows comes out of the same group-count agg
    stats = probe or {"total_rows": df.count()}
    step_rows = [
        {
            "index": i,
            "class": type(s).__name__,
            "skew_capable": seq is not None,
            "skew_bucket_size": bucket,
        }
        for i, (s, seq, bucket) in enumerate(
            zip(steps, seqs, skew_buckets(probe, steps, seqs))
        )
    ]

    floor = spark.sparkContext.defaultParallelism
    shuffle_partitions = max(
        floor, math.ceil(stats["total_rows"] / max(1, target_rows_per_partition))
    )

    lsh = None
    if emb_col is not None:
        from recipys_spark.operators.similarity import recommend_lsh_params

        first = df.select(emb_col).where(df[emb_col].isNotNull()).head(1)
        if first:
            dim = len(first[0][0])
            lsh = recommend_lsh_params(stats["total_rows"], dim)

    out = {
        "stats": stats,
        "steps": step_rows,
        "shuffle_partitions": shuffle_partitions,
        "lsh": lsh,
        "applied": False,
    }
    if apply:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for row, s in zip(step_rows, steps):
            # a bucket already set (by the user or an earlier apply)
            # stays; the report says so instead of silently replacing it
            bucket = row["skew_bucket_size"]
            if bucket is None:
                continue
            if s.skew_bucket_size is None:
                s.skew_bucket_size = bucket
            else:
                row["skew_bucket_kept_user_value"] = s.skew_bucket_size
        out["applied"] = True
    return out
