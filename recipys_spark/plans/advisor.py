"""Pipeline-level sizing advisor (VERDICT r5 #6).

One call unifies the engine's scattered sizing guidance — group-skew
probing (functions/skew.group_size_stats), per-step-class salted-bucket
recommendations (recommend_skew_bucket_size under the measured BENCH.md
crossovers), ANN LSH parameters (similarity.recommend_lsh_params), and
shuffle-partition arithmetic — into one report a 100 TB operator can
read (and optionally apply) BEFORE ``Recipe.prep``. The salting policy
itself lives here too, for this report and for
``Recipe.prep(auto_skew=True)`` alike: ``skew_buckets`` decides every
step's bucket, and ``assign_bucket`` writes it unless the user chose
one.

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
writes each recommended ``skew_bucket_size`` onto its step as a
HAND-CHOSEN value (untagged — it survives ``prep()``; contrast
``prep(auto_skew=True)``, whose per-prep probe tags its assignments and
re-derives them every fit).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame

from recipys_spark.functions import skew
from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Accumulator
from recipys_spark.operators.historical import StepHistorical, StepRolling
from recipys_spark.operators.transcripts import StepAssembleContext
from recipys_spark.recipe import Recipe

#: shuffle sizing: aim for partitions of ~4M rows (a few hundred MB for
#: transcript-shaped rows) — small enough to sort in executor memory,
#: large enough that task overhead stays amortized; AQE coalesces the
#: slack at runtime
TARGET_ROWS_PER_PARTITION = 4_000_000


def takes_skew_bucket(step) -> bool:
    """Whether ``skew_bucket_size`` switches ``step`` to a salted plan:
    every step with the knob except an exact-MEDIAN StepHistorical,
    whose one plan has no salted form (its constructor rejects a
    bucket)."""
    return hasattr(step, "skew_bucket_size") and not (
        isinstance(step, StepHistorical) and step.fun is Accumulator.MEDIAN
    )


def skew_stats(ingredients: Ingredients) -> Optional[dict]:
    """The one skew probe: ``group_size_stats`` over the group roles and
    the first sequence role (one aggregation pass), or None when the
    data has no group or no sequence role."""
    groups = ingredients.select_roles("group")
    seqs = ingredients.select_roles("sequence")
    if not groups or not seqs:
        return None
    return skew.group_size_stats(ingredients.df, groups, seqs[0])


def skew_buckets(stats: Optional[dict], steps) -> list:
    """The salting policy: each step's ``skew_bucket_size`` (None = the
    plain plan) for the probe ``stats`` (None = no probe: all plain).

    Only steps that :func:`takes_skew_bucket` get a bucket. Bounded
    frames (StepRolling, StepAssembleContext) salt past
    ``skew.AUTO_SKEW_ROLLING_SALT_ABOVE`` rows in the largest group,
    every other step past ``skew.AUTO_SKEW_SALT_ABOVE``. Writes nothing:
    :func:`assign_bucket` does."""

    def above(rows):
        if stats is None:
            return None
        return skew.recommend_skew_bucket_size(
            None, None, None, salt_above_rows=rows, stats=stats
        )

    window = above(skew.AUTO_SKEW_SALT_ABOVE)
    rolling = above(skew.AUTO_SKEW_ROLLING_SALT_ABOVE)
    bounded = (StepRolling, StepAssembleContext)
    return [
        (rolling if isinstance(s, bounded) else window) if takes_skew_bucket(s) else None
        for s in steps
    ]


def hand_set(step) -> bool:
    """Whether the user chose ``step``'s bucket: set, and not tagged
    ``_auto_skew_assigned`` by an earlier ``Recipe.prep(auto_skew=True)``
    (a tagged bucket was derived from other data and is re-derived)."""
    return step.skew_bucket_size is not None and not step._auto_skew_assigned


def assign_bucket(step, bucket, auto: bool) -> bool:
    """Write ``bucket`` onto ``step`` unless the user chose its bucket
    (:func:`hand_set`); returns whether it wrote. ``auto=True`` tags the
    bucket as derived (``Recipe.prep``), ``auto=False`` makes it count
    as hand-chosen from then on (the advisor's ``apply=True``)."""
    if hand_set(step):
        return False
    step.skew_bucket_size = bucket
    step._auto_skew_assigned = auto
    return True


def recommend_pipeline_config(
    df: DataFrame,
    recipe: Optional[Recipe] = None,
    emb_col: Optional[str] = None,
    target_rows_per_partition: int = TARGET_ROWS_PER_PARTITION,
    apply: bool = False,
) -> dict:
    """Probe ``df`` once and return the unified sizing report:

    - ``stats``: group_size_stats of the recipe's (group, sequence)
      roles — group count, p50/p99/max group rows, largest-group span,
      plus ``total_rows`` — or just ``total_rows`` when ``recipe`` has
      no group/sequence roles to probe.
    - ``steps``: per recipe step, its class, whether it is
      skew-capable, and its ``skew_bucket_size`` under the salting
      policy :func:`skew_buckets` (the one ``Recipe.prep(auto_skew=
      True)`` applies) — None where the plain plan wins.
    - ``shuffle_partitions``: ceil(total_rows / target_rows_per_
      partition) clamped below by the session's default parallelism —
      the number every groupBy/join/window Exchange in the baked plan
      will use.
    - ``lsh``: recommend_lsh_params(total_rows, dim) when ``emb_col``
      names an array embedding column, else None.

    ``apply=True`` additionally sets the session's shuffle partitions
    and writes the recommended bucket sizes onto the steps (untagged =
    hand-chosen precedence)."""
    spark = df.sparkSession
    steps = list(recipe.steps) if recipe is not None else []
    probe = None
    if recipe is not None and recipe.data is not None:
        probe = skew_stats(Ingredients(df, recipe.data.roles, check_roles=False))
    # one pass: total_rows comes out of the same group-count agg
    stats = probe or {"total_rows": df.count()}
    step_rows = [
        {
            "index": i,
            "class": type(s).__name__,
            "skew_capable": takes_skew_bucket(s),
            "skew_bucket_size": bucket,
        }
        for i, (s, bucket) in enumerate(zip(steps, skew_buckets(probe, steps)))
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
            # a hand-chosen bucket stays; the report says so instead of
            # silently replacing it (ADVICE r6)
            bucket = row["skew_bucket_size"]
            if bucket is not None and not assign_bucket(s, bucket, auto=False):
                row["skew_bucket_kept_user_value"] = s.skew_bucket_size
        out["applied"] = True
    return out
