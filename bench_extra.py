"""Ad-hoc per-query isolation bench + plan capture (guide §1.1/§1.4).

NOT the driver's metric — bench.py stays the frozen measurement
harness. This file exists so optimization work can (a) time a single
query with the noop sink without paying for the whole suite, (b) dump
``explain("formatted")`` before/after a change into plans/r07/, and
(c) label jobs so the event log is readable.

Usage (defaults: the sf0.1 testdata, local[os.cpu_count()], 3 repeats):
    python bench_extra.py q1 q2 ...            # time the named queries
    python bench_extra.py --plans q1 q2 ...    # also write plans/r07/<q>_<tag>.txt
    python bench_extra.py --bake-advisor       # flagship bake, default vs advisor sizing
    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=2 SPARK_GRAFT_BENCH_REPEATS=5 \
        python bench_extra.py --tag after impute_knn
"""

from __future__ import annotations

import json
import os
import sys
import time

import __spark_entry__ as entrymod
from recipys_spark.sources.io import get_spark


def bake_advisor(spark, repeats: int) -> None:
    """VERDICT r6 #6: exercise plans/advisor.recommend_pipeline_config
    end-to-end at bench scale — the SAME flagship bake bench.py times,
    with and without advisor-applied sizing, on the same transcripts
    parquet. bench.py is frozen, so the comparison row lives here and
    is cited in OPTIMIZATION_r07.md / BENCH.md."""
    import json as _json

    from bench import BENCH_CONVS, bake_recipe, materialize, timed_walls
    from recipys_spark.plans.advisor import recommend_pipeline_config

    tdir = f"/tmp/recipys_bench_transcripts_{BENCH_CONVS}"
    if not os.path.exists(tdir):
        from recipys_spark.sources.io import synthetic_transcripts

        synthetic_transcripts(
            spark, n_convs=BENCH_CONVS, skew=True, skew_factor=100,
            with_features=True,
        ).write.mode("overwrite").parquet(tdir)
    tdf = spark.read.parquet(tdir)
    materialize(bake_recipe(tdf))  # untimed warmup (bench.py protocol)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    default_walls = timed_walls(lambda: bake_recipe(tdf), repeats=repeats)

    def advisor_bake():
        from bench import (
            Accumulator, Recipe, StepHistorical, StepImputeFill, StepLag,
            StepSessionize, all_of,
        )

        rec = (
            Recipe(
                tdf, predictors=["value", "n_chars"], groups="conv_id",
                sequences=["turn_idx", "ts"],
            )
            .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
            .add_step(StepHistorical(sel=all_of(["n_chars"]), fun=Accumulator.MAX))
            .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
            .add_step(StepLag(sel=all_of(["value"]), lags=(1,)))
            .add_step(StepSessionize(gap="30m"))
        )
        recommend_pipeline_config(tdf, rec, apply=True)
        return rec.prep()

    advisor_walls = timed_walls(advisor_bake, repeats=repeats)
    spark.conf.set("spark.sql.shuffle.partitions", before)
    print(_json.dumps({
        "bake_default_walls": default_walls,
        "bake_advisor_walls": advisor_walls,
        "shuffle_partitions_default": before,
    }))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans = "--plans" in args
    tag = "before"
    if "--tag" in args:
        tag = args[args.index("--tag") + 1]
        args.remove("--tag")
        args.remove(tag)
    names = [a for a in args if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = get_spark(parallelism=cpus, app_name="bench_extra",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    # warmup (JVM/codegen) — same shape as bench.py
    spark.read.parquet(f"{sf_dir}/events.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    if "--bake-advisor" in args:
        bake_advisor(spark, repeats)
        spark.stop()
        return
    queries = entrymod.queries()
    out = {}
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        if plans:
            df = queries[name](spark, sf_dir)
            with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        walls = []
        for _ in range(repeats):
            df = queries[name](spark, sf_dir)
            spark.sparkContext.setJobDescription(f"{name} [{tag}]")
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        walls.sort()
        out[name] = walls
        print(name, walls, flush=True)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "walls": out}))
    spark.stop()


if __name__ == "__main__":
    main()
