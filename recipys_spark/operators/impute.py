"""Group-scoped imputation steps.

Reference semantics (reference recipys/step.py:121–260): fill nulls in
the selected columns with a constant ``value`` or a ``strategy`` in
{forward, backward, mean, min, max, zero, one}, optionally bounded by
``limit`` consecutive fills; the fill never crosses a group boundary
(leading nulls in a group stay null — reference test_steps.py:158–168).

Reference quirk normalized (SURVEY.md §2.4): the pandas branch replaces
the whole frame with only the selected columns (step.py:154); the
polars branch — fill in place, keep all columns — is canonical here.

Spark mapping:
- forward: ``last(c, ignorenulls=True)`` over the expanding frame
- backward: ``first(c, ignorenulls=True)`` over current→end frame
- mean/min/max: ``groupBy(groups).agg(...)`` + join-back (one row per
  group; AQE broadcasts it) — NOT an unordered group window, which
  would funnel each group through one WindowExec task (skew)
- limit=k: for small k the donor is simply ``last(c, ignorenulls)``
  over the bounded ROWS frame [-k, 0] — the donor is in the frame iff
  its distance is <= k, one window pass. Sliding-frame aggregates
  replay the O(k) buffer per row, so above ``_LIMIT_FRAME_MAX`` the
  null-run length is instead derived from the row number of the last
  (next) non-null row — two window passes, each O(1)/row. Both plans
  are value-identical; still no Python in the hot path (SURVEY.md §7
  hard parts).
- skew_bucket_size: salted two-phase directional fill for skewed
  groups (forward/backward, with or without limit) — functions/skew.py
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import functions as F

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step
from recipys_spark.selector import Selector, all_predictors
from recipys_spark.functions.windows import (
    conv_window,
    expanding,
    following,
    trailing,
)
from recipys_spark.functions.worker import ready

_STRATEGIES = ("forward", "backward", "mean", "min", "max", "zero", "one")

# limit=k fills use one bounded [-k, 0] frame up to this k; Spark
# replays a sliding frame's O(k) row buffer per row, so past ~32 the
# two-pass row_number + donor-distance plan (O(1)/row, but one extra
# WindowExec) wins. Both plans return identical values.
_LIMIT_FRAME_MAX = 32


def ffill_expr(col: str, groups, seq) -> "F.Column":
    return F.coalesce(
        F.col(col), F.last(col, ignorenulls=True).over(expanding(groups, seq))
    )


def bfill_expr(col: str, groups, seq) -> "F.Column":
    return F.coalesce(
        F.col(col), F.first(col, ignorenulls=True).over(following(groups, seq))
    )


class StepImputeFill(Step):
    _row_preserving = True

    def __init__(
        self,
        sel: Optional[Selector] = None,
        value=None,
        strategy: Optional[str] = None,
        limit: Optional[int] = None,
        skew_bucket_size: Optional[int] = None,
    ) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        if (value is None) == (strategy is None):
            raise ValueError("Provide exactly one of value= or strategy=.")
        if strategy is not None and strategy not in _STRATEGIES:
            raise ValueError(f"strategy must be one of {_STRATEGIES}, got {strategy!r}")
        if limit is not None and strategy not in ("forward", "backward"):
            raise ValueError("limit is only meaningful for forward/backward strategies")
        if skew_bucket_size is not None and strategy not in ("forward", "backward"):
            raise ValueError(
                "skew_bucket_size applies to forward/backward strategies; "
                "mean/min/max fill is aggregate+join-back and skew-safe already"
            )
        self.value = value
        self.strategy = strategy
        self.limit = limit
        self.skew_bucket_size = skew_bucket_size
        self.desc = f"Impute with {strategy if strategy else value}"

    def stream_safe(self) -> bool:
        """Constant/zero/one fills are pure coalesce projections →
        streamable. forward/backward are windowed and mean/min/max
        recompute group stats at transform time (groupBy + join-back —
        an aggregation a streaming bake can't replay statelessly); use
        streaming/session.py's watermarked features for those."""
        return self.strategy in (None, "zero", "one")

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        groups, seq = self.group_columns, self.sequence_columns
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_fill

            if not seq:
                raise ValueError("directional fill requires a sequence role column")
            return salted_fill(
                df,
                self.columns,
                groups,
                seq[0],
                self.skew_bucket_size,
                forward=(self.strategy == "forward"),
                limit=self.limit,
            )
        if self.strategy in ("mean", "min", "max"):
            return self._group_stat_fill(df, groups)
        out = {}
        for c in self.columns:
            col = F.col(c)
            if self.strategy is None:
                filled = F.coalesce(col, F.lit(self.value))
            elif self.strategy == "zero":
                filled = F.coalesce(col, F.lit(0).cast(df.schema[c].dataType))
            elif self.strategy == "one":
                filled = F.coalesce(col, F.lit(1).cast(df.schema[c].dataType))
            elif self.strategy == "forward":
                filled = self._directional(c, groups, seq, forward=True)
            else:  # backward
                filled = self._directional(c, groups, seq, forward=False)
            out[c] = filled.alias(c)
        return df.select(
            *[out[c] if c in out else F.col(c) for c in df.columns]
        )

    def _group_stat_fill(self, df, groups):
        """mean/min/max fill via groupBy().agg() + join-back.

        An unordered whole-group window would funnel every row of a
        group through ONE WindowExec task — the exact skew failure the
        salted paths exist to avoid. The aggregate runs with map-side
        partial aggregation and the join-back side is one row per
        group, so AQE broadcasts it; skew-safe by construction and
        cheaper even unskewed."""
        from recipys_spark.functions.deterministic import det_mean

        base_cols = list(df.columns)
        targets = set(self.columns)
        aggs = []
        for c in self.columns:
            col = F.col(c)
            if self.strategy == "mean":
                aggs.append(det_mean(col).alias(f"__fill_{c}"))
            elif self.strategy == "min":
                aggs.append(F.min(col).alias(f"__fill_{c}"))
            else:
                aggs.append(F.max(col).alias(f"__fill_{c}"))
        if groups:
            # Null-safe join: groupBy treats a NULL group key as its own
            # group (matching the reference's window-partition
            # semantics), so rows in the null-key group must still
            # receive their group's fill value — a plain equi-join
            # (NULL != NULL) would leave them unfilled.
            # stats derives from df, so same-name column refs would
            # resolve to one attribute (a trivially-true predicate) —
            # rename the stats keys to break the self-join lineage
            stats = df.groupBy(*groups).agg(*aggs).select(
                *[F.col(g).alias(f"__key_{g}") for g in groups],
                *[F.col(f"__fill_{c}") for c in self.columns],
            )
            cond = None
            for g in groups:
                eq = F.col(g).eqNullSafe(F.col(f"__key_{g}"))
                cond = eq if cond is None else cond & eq
            joined = df.join(stats, cond, "left").drop(
                *[f"__key_{g}" for g in groups]
            )
        else:
            joined = df.crossJoin(F.broadcast(df.agg(*aggs)))
        return joined.select(
            *[
                F.coalesce(F.col(c), F.col(f"__fill_{c}")).alias(c)
                if c in targets
                else F.col(c)
                for c in base_cols
            ]
        )

    def _directional(self, c: str, groups, seq, forward: bool) -> "F.Column":
        if not seq:
            raise ValueError("forward/backward fill requires a sequence role column")
        col = F.col(c)
        if forward:
            base = F.last(c, ignorenulls=True).over(expanding(groups, seq))
        else:
            base = F.first(c, ignorenulls=True).over(following(groups, seq))
        if self.limit is None:
            return F.coalesce(col, base)
        lim = int(self.limit)
        if lim <= _LIMIT_FRAME_MAX:
            # The donor sits in the bounded ROWS frame iff its distance
            # is <= limit, so one bounded last/first(ignorenulls) IS the
            # null-run guard — one WindowExec pass instead of the
            # row_number + donor-distance two-pass plan below (kept for
            # large limits where replaying the O(k) sliding buffer per
            # row would cost more than the second pass).
            if forward:
                near = F.last(c, ignorenulls=True).over(
                    trailing(groups, seq, lim)
                )
            else:
                near = F.first(c, ignorenulls=True).over(
                    conv_window(groups, seq).rowsBetween(0, lim)
                )
            return F.coalesce(col, near)
        # Null-run guard: only fill if the donor row is within `limit`
        # rows. rn = position within group; donor_rn = rn of the
        # nearest non-null row in the fill direction.
        w = conv_window(groups, seq)
        rn = F.row_number().over(w)
        marked = F.when(col.isNotNull(), rn)
        if forward:
            donor_rn = F.last(marked, ignorenulls=True).over(expanding(groups, seq))
            dist = rn - donor_rn
        else:
            donor_rn = F.first(marked, ignorenulls=True).over(following(groups, seq))
            dist = donor_rn - rn
        return F.coalesce(col, F.when(dist <= F.lit(self.limit), base))


class StepImputeFastZeroFill(Step):
    """Ungrouped fill-with-zero (reference step.py:158–171). Under
    Spark the 'fast path' is just ``na.fill`` — kept for API parity."""

    _uses_groups = False
    _uses_sequence = False
    _row_preserving = True
    _stream_safe = True  # fitted state replays as a stateless projection/map

    def __init__(self, sel: Optional[Selector] = None) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        self.desc = "Impute quickly with 0"

    def do_transform(self, ingredients: Ingredients):
        return ingredients.df.na.fill(0, subset=self.columns)


class StepImputeFastForwardFill(Step):
    """Grouped forward fill (reference step.py:174–199). The reference's
    cumsum-mask trick exists because pandas grouped fillna was slow; a
    Spark window makes it unnecessary — same semantics as
    ``StepImputeFill(strategy='forward')``."""

    _row_preserving = True

    def __init__(self, sel: Optional[Selector] = None) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        self.desc = "Impute with fast ffill"

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        groups, seq = self.group_columns, self.sequence_columns
        if not seq:
            raise ValueError("forward fill requires a sequence role column")
        return df.select(
            *[
                ffill_expr(c, groups, seq).alias(c) if c in self.columns else F.col(c)
                for c in df.columns
            ]
        )


class StepImputeModel(Step):
    """Impute with a user-supplied pretrained model fn
    (reference step.py:244–260). The model receives one pandas frame
    per group batch — ``(pdf: pd.DataFrame, group_cols: list[str]) ->
    pd.DataFrame`` — via Arrow-batched ``applyInPandas`` (the sanctioned
    vectorized escape hatch; no per-row Python)."""

    def __init__(self, sel: Optional[Selector] = None, model: Optional[Callable] = None) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        if model is None:
            raise ValueError("StepImputeModel requires a model callable")
        self.model = model
        self.desc = "Impute with pretrained imputation model"

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        groups = self.group_columns
        if not groups:
            raise ValueError("StepImputeModel requires a group role column")
        model, group_cols = self.model, list(groups)
        schema = df.schema

        def apply_model(pdf):
            ready()
            return model(pdf, group_cols)

        return df.groupBy(*groups).applyInPandas(apply_model, schema=schema)
