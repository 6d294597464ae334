"""Pipeline-level sizing advisor (VERDICT r5 #6).

One call unifies the engine's scattered sizing guidance — group-skew
probing (functions/skew.group_size_stats), per-step-class salted-bucket
recommendations (recommend_skew_bucket_size under the measured BENCH.md
crossovers), ANN LSH parameters (similarity.recommend_lsh_params), and
shuffle-partition arithmetic — into one report a 100 TB operator can
read (and optionally apply) BEFORE ``Recipe.prep``.

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

from recipys_spark.recipe import Recipe

#: shuffle sizing: aim for partitions of ~4M rows (a few hundred MB for
#: transcript-shaped rows) — small enough to sort in executor memory,
#: large enough that task overhead stays amortized; AQE coalesces the
#: slack at runtime
TARGET_ROWS_PER_PARTITION = 4_000_000


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
      skew-capable, and the recommended ``skew_bucket_size`` under the
      measured per-class crossovers (bounded trailing frames salt at
      Recipe.AUTO_SKEW_ROLLING_SALT_ABOVE, unbounded window steps at
      Recipe.AUTO_SKEW_SALT_ABOVE) — None where the plain plan wins.
    - ``shuffle_partitions``: ceil(total_rows / target_rows_per_
      partition) clamped below by the session's default parallelism —
      the number every groupBy/join/window Exchange in the baked plan
      will use.
    - ``lsh``: recommend_lsh_params(total_rows, dim) when ``emb_col``
      names an array embedding column, else None.

    ``apply=True`` additionally sets the session's shuffle partitions
    and writes the recommended bucket sizes onto the steps (untagged =
    hand-chosen precedence)."""
    from recipys_spark.functions.skew import (
        group_size_stats,
        recommend_skew_bucket_size,
    )
    from recipys_spark.ingredients import Ingredients

    spark = df.sparkSession
    steps = list(recipe.steps) if recipe is not None else []
    groups: list = []
    seqs: list = []
    if recipe is not None and recipe.data is not None:
        ing = Ingredients(df, recipe.data.roles, check_roles=False)
        groups = ing.select_roles("group")
        seqs = ing.select_roles("sequence")

    stats: dict
    if groups and seqs:
        # one pass: total_rows comes out of the same group-count agg
        stats = dict(group_size_stats(df, groups, seqs[0]))
    else:
        stats = {"total_rows": df.count()}

    step_rows = []
    window_bucket = rolling_bucket = None
    if groups and seqs:
        window_bucket = recommend_skew_bucket_size(
            df, groups, seqs[0],
            salt_above_rows=Recipe.AUTO_SKEW_SALT_ABOVE, stats=stats,
        )
        rolling_bucket = recommend_skew_bucket_size(
            df, groups, seqs[0],
            salt_above_rows=Recipe.AUTO_SKEW_ROLLING_SALT_ABOVE, stats=stats,
        )
    from recipys_spark.operators.historical import StepRolling, takes_skew_bucket
    from recipys_spark.operators.transcripts import StepAssembleContext

    for i, s in enumerate(steps):
        capable = takes_skew_bucket(s)
        bucket = None
        if capable and groups and seqs:
            bounded_frame = isinstance(s, (StepRolling, StepAssembleContext))
            bucket = rolling_bucket if bounded_frame else window_bucket
        step_rows.append(
            {
                "index": i,
                "class": type(s).__name__,
                "skew_capable": capable,
                "skew_bucket_size": bucket,
            }
        )

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
            if row["skew_capable"] and row["skew_bucket_size"] is not None:
                # respect an explicit hand-chosen setting: a step whose
                # skew_bucket_size is already set and NOT auto-tagged was
                # configured by the user — leave it and say so in the
                # report instead of silently replacing it (ADVICE r6)
                if getattr(s, "skew_bucket_size", None) is not None and not getattr(
                    s, "_auto_skew_assigned", False
                ):
                    row["skew_bucket_kept_user_value"] = s.skew_bucket_size
                    continue
                s.skew_bucket_size = row["skew_bucket_size"]
                s._auto_skew_assigned = False  # hand-chosen precedence
        out["applied"] = True
    return out
