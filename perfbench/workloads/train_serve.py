"""train_serve: ``prep()`` on a seeded ~80% conversation split, then
``bake()`` of the fitted recipe on the held-out rest.

The recipe starts with two consecutive scalers (their fits fuse into one
aggregation), then an ordinal encoder, the exact expanding MEDIAN (Arrow
``mapInArrow``), context assembly and an as-of join against a seeded
per-conversation feature table. Prep pays the fit jobs; bake applies frozen
state and must launch no job inside the call."""

from __future__ import annotations

import time

from workloads.base import ClosedLoop, materialize, sql_path

#: conversations at scale 1, before the split
CONVS = 5_000
CONTEXT_BUDGET = 32
CONTEXT_TURNS = 4


def make_recipe(train, side):
    from recipys_spark import Accumulator, Recipe
    from recipys_spark.operators import (
        StepAsofJoin,
        StepHistorical,
        StepMinMaxScale,
        StepOrdinalEncode,
        StepScale,
    )
    from recipys_spark.operators.transcripts import StepAssembleContext
    from recipys_spark.selector import all_of

    return (
        Recipe(
            train,
            predictors=["n_chars", "tok_s", "role", "value", "text"],
            groups="conv_id",
            sequences=["turn_idx", "ts"],
        )
        .add_step(StepScale(sel=all_of(["n_chars"])))
        .add_step(StepMinMaxScale(sel=all_of(["tok_s"])))
        .add_step(StepOrdinalEncode(sel=all_of(["role"])))
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEDIAN))
        .add_step(
            StepAssembleContext(
                sel=all_of(["text"]), budget=CONTEXT_BUDGET, max_turns=CONTEXT_TURNS
            )
        )
        .add_step(StepAsofJoin(side, right_ts="fts"))
    )


def recipe_sql(rows: str, fit: str, side: str) -> str:
    """DuckDB mirror of ``make_recipe``: scaler and encoder state fitted on
    ``fit``, applied to ``rows``."""
    from recipys_spark.functions import text as TX
    from recipys_spark.functions.deterministic import (
        sql_det_mean,
        sql_det_stddev_pop,
    )

    part = "PARTITION BY conv_id ORDER BY turn_idx, ts"
    run = f"OVER ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    tok = "CAST(" + TX.SQL_TOKEN_COUNT.format(c="text") + " AS BIGINT)"
    return (
        f"WITH st AS (SELECT {sql_det_mean('n_chars', '')} AS mu, "
        f"{sql_det_stddev_pop('n_chars', '')} AS sd, "
        f"min(tok_s) AS lo, max(tok_s) AS hi FROM {fit}), "
        "cats AS (SELECT role AS cat, CAST(row_number() OVER (ORDER BY role) - 1 "
        f"AS INT) AS idx FROM (SELECT DISTINCT role FROM {fit} "
        "WHERE role IS NOT NULL)), "
        f"t AS (SELECT *, {tok} AS tok FROM {rows}), "
        f"c AS (SELECT *, sum(tok) {run} AS cum, "
        f"quantile_cont(value, 0.5) {run} AS value_median FROM t), "
        "pairs AS (SELECT tgt.conv_id, tgt.turn_idx, src.turn_idx AS sidx, "
        "src.text AS stext, src.tok AS stok FROM c tgt JOIN c src "
        "ON tgt.conv_id = src.conv_id AND src.turn_idx < tgt.turn_idx "
        f"AND tgt.turn_idx - src.turn_idx <= {CONTEXT_TURNS} "
        f"AND (tgt.cum - tgt.tok) - (src.cum - src.tok) <= {CONTEXT_BUDGET}), "
        "ctx AS (SELECT conv_id, turn_idx, "
        "string_agg(stext, chr(10) ORDER BY sidx) AS context, "
        "CAST(count(*) AS BIGINT) AS n_turns, CAST(sum(stok) AS BIGINT) AS n_tok "
        "FROM pairs GROUP BY conv_id, turn_idx), "
        "b AS (SELECT c.conv_id, c.turn_idx, c.ts, c.text, c.tool, c.value, "
        "(c.n_chars - st.mu) / st.sd AS n_chars, "
        "(c.tok_s - st.lo) / (st.hi - st.lo) AS tok_s, "
        "cats.idx AS role, c.value_median, "
        "coalesce(x.context, '') AS context, "
        "coalesce(x.n_turns, 0) AS context_n_turns, "
        "coalesce(x.n_tok, 0) AS context_n_tokens "
        "FROM c CROSS JOIN st LEFT JOIN cats ON c.role = cats.cat "
        "LEFT JOIN ctx x ON c.conv_id = x.conv_id AND c.turn_idx = x.turn_idx) "
        f"SELECT b.*, f.feat FROM b ASOF LEFT JOIN {side} f "
        "ON b.conv_id = f.conv_id AND f.fts <= b.ts"
    )


class TrainServe(ClosedLoop):
    FLOATS = ("n_chars", "tok_s", "value_median")

    def __init__(self, run) -> None:
        super().__init__(run)
        self.convs = max(100, int(CONVS * run.scale))
        self.dirs = {
            "train": run.path("split", "held_out=false"),
            "test": run.path("split", "held_out=true"),
            "side": run.path("side"),
        }

    def generate(self) -> None:
        from pyspark.sql import functions as F

        from recipys_spark.sources.io import synthetic_transcripts

        seed = self.run.seed
        tr = synthetic_transcripts(
            self.spark, n_convs=self.convs, seed=seed, skew=True,
            skew_factor=100, with_features=True,
        ).withColumn(
            "tok_s",
            F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 5)), F.lit(5000))
            / 10.0,
        )
        held_out = F.pmod(F.xxhash64("conv_id", F.lit(seed + 3)), F.lit(5)) == 0
        # one job writes both sides of the split; the side table is drawn
        # from what it wrote rather than generating the transcripts again
        tr.withColumn("held_out", held_out).write.mode("overwrite").partitionBy(
            "held_out"
        ).parquet(self.run.path("split"))
        tr = self.spark.read.parquet(self.run.path("split"))
        h = F.xxhash64("conv_id", "turn_idx", F.lit(seed + 7))
        tr.where(F.pmod(h, F.lit(4)) == 0).select(
            "conv_id",
            (F.col("ts") - F.expr("INTERVAL 60 SECONDS")).alias("fts"),
            (F.pmod(h, F.lit(1000)) / 10.0).alias("feat"),
        ).write.mode("overwrite").parquet(self.dirs["side"])

    def load(self) -> None:
        read = self.spark.read.parquet
        n = {k: read(p).count() for k, p in self.dirs.items()}
        self.rows = n["train"] + n["test"]
        self.sizes = {"conversations": self.convs, "train_turns": n["train"],
                      "test_turns": n["test"], "side_rows": n["side"]}

    def reference(self) -> None:
        con = self.run.con
        for k, p in self.dirs.items():
            con.execute(
                f"CREATE OR REPLACE VIEW ts_{k} AS "
                f"SELECT * FROM read_parquet('{sql_path(p)}')"
            )
        for k in ("train", "test"):
            con.execute(
                f"CREATE OR REPLACE TABLE ts_ref_{k} AS "
                f"{recipe_sql(f'ts_{k}', 'ts_train', 'ts_side')}"
            )

    def iterate(self, out_dir) -> dict:
        read = self.spark.read.parquet
        check = out_dir is not None
        t0 = time.perf_counter()
        train, test = read(self.dirs["train"]), read(self.dirs["test"])
        rec = make_recipe(train, read(self.dirs["side"]))
        prepped, fit_jobs = self.call("recipe.prep", rec.prep, count_jobs=check)
        with self.run.tracer.span("materialize.prep"):
            self._sink(prepped, out_dir, "train")
        t1 = time.perf_counter()
        baked, bake_jobs = self.call("recipe.bake", lambda: rec.bake(test),
                                     count_jobs=check)
        with self.run.tracer.span("materialize.bake"):
            self._sink(baked, out_dir, "test")
        t2 = time.perf_counter()
        if check:
            self.check_jobs = {"fit_jobs": fit_jobs, "bake_jobs": bake_jobs}
        return {"wall_s": t2 - t0, "prep_s": t1 - t0, "bake_s": t2 - t1,
                "rows": self.rows}

    @staticmethod
    def _sink(df, out_dir, name) -> None:
        if out_dir:
            df.write.parquet(f"{out_dir}/{name}")
        else:
            materialize(df)

    def check(self, out_dir) -> int:
        from harness import mismatches

        con = self.run.con
        bad = 0
        for k in ("train", "test"):
            con.execute(
                f"CREATE OR REPLACE VIEW ts_got_{k} AS "
                f"SELECT * FROM read_parquet('{sql_path(f'{out_dir}/{k}')}')"
            )
            bad += mismatches(con, f"ts_got_{k}", f"ts_ref_{k}",
                              ["conv_id", "turn_idx"], float_cols=self.FLOATS)
        # frozen-state apply: bake may not fit anything
        return bad + self.check_jobs["bake_jobs"]

    def report(self, results: list) -> dict:
        from harness import median

        rep = super().report(results)
        for k in ("prep_s", "bake_s"):
            rep[k] = median(r[k] for r in results)
        rep.update(self.check_jobs)
        return rep

    def layers(self) -> dict:
        return {
            "recipe.prep_call_s": self.span_s("recipe.prep"),
            "recipe.fit_jobs": self.span_jobs("recipe.prep"),
            "recipe.bake_call_s": self.span_s("recipe.bake"),
            "recipe.bake_jobs": self.span_jobs("recipe.bake"),
        }
