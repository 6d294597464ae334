"""bake_flagship: the flagship transcript recipe, materialized to the noop
sink. All-JVM window path behind one exchange: no fit jobs, no Python
workers, no joins."""

from __future__ import annotations

import time

from workloads.base import ClosedLoop, materialize, sql_path

#: conversations at scale 1 (~7.5 turns each plus one 800-turn conversation)
CONVS = 100_000


def flagship_sql(table: str) -> str:
    """DuckDB mirror of ``bench.bake_recipe``: expanding MEAN (exact decimal
    accumulation, as the engine does) and MAX over the raw value, then the
    forward fill, the lag of the filled value, and 30-minute sessions."""
    from recipys_spark.functions.deterministic import sql_det_mean

    part = "PARTITION BY conv_id ORDER BY turn_idx, ts"
    run = f"OVER ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return (
        f"WITH a AS (SELECT *, {sql_det_mean('value', run)} AS value_mean, "
        f"max(n_chars) {run} AS n_chars_max, "
        f"coalesce(value, last_value(value IGNORE NULLS) {run}) AS value_f, "
        f"lag(ts) OVER ({part}) AS prev_ts FROM {table}) "
        "SELECT conv_id, turn_idx, role, text, tool, ts, n_chars, "
        "value_f AS value, value_mean, n_chars_max, "
        f"lag(value_f) OVER ({part}) AS value_lag_1, "
        "CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 "
        f"THEN 1 ELSE 0 END) {run} - 1 AS BIGINT) AS session_id FROM a"
    )


class BakeFlagship(ClosedLoop):
    def __init__(self, run) -> None:
        super().__init__(run)
        self.input = run.path("transcripts")
        self.convs = max(100, int(CONVS * run.scale))

    def generate(self) -> None:
        from recipys_spark.sources.io import synthetic_transcripts

        synthetic_transcripts(
            self.spark, n_convs=self.convs, seed=self.run.seed, skew=True,
            skew_factor=100, with_features=True,
        ).write.mode("overwrite").parquet(self.input)

    def load(self) -> None:
        self.rows = self.spark.read.parquet(self.input).count()
        self.sizes = {"conversations": self.convs, "turns": self.rows}

    def reference(self) -> None:
        con = self.run.con
        con.execute(
            f"CREATE OR REPLACE VIEW flagship_in AS "
            f"SELECT * FROM read_parquet('{sql_path(self.input)}')"
        )
        con.execute(
            f"CREATE OR REPLACE TABLE flagship_ref AS {flagship_sql('flagship_in')}"
        )

    def iterate(self, out_dir) -> dict:
        from bench import bake_recipe

        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.input)
        out, _ = self.call("recipe.prep", lambda: bake_recipe(df))
        with self.run.tracer.span("materialize"):
            if out_dir:
                out.write.parquet(out_dir)
            else:
                materialize(out)
        return {"wall_s": time.perf_counter() - t0, "rows": self.rows}

    def check(self, out_dir) -> int:
        con = self.run.con
        con.execute(
            f"CREATE OR REPLACE VIEW flagship_got AS "
            f"SELECT * FROM read_parquet('{sql_path(out_dir)}')"
        )
        return self._mismatches("flagship_got")

    def _mismatches(self, got: str) -> int:
        from harness import mismatches

        return mismatches(
            self.run.con, got, "flagship_ref", ["conv_id", "turn_idx"],
            float_cols=("value_mean",),
        )

    def layers(self) -> dict:
        return {
            "recipe.prep_call_s": self.span_s("recipe.prep"),
            "recipe.fit_jobs": self.span_jobs("recipe.prep"),
        }
