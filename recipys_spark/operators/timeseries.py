"""Time-series steps: lag/lead, time-grid resampling, sessionization.

- ``StepLag`` / ``StepLead``: named in the north-star spec; plain
  ``F.lag/F.lead`` over the canonical conversation window.
- ``StepResampling``: the reference's two backends diverge (reference
  recipys/step.py:477–578 — polars upsamples+fills, pandas truly
  aggregates each bucket); per SURVEY.md §2.4 we adopt the pandas
  bucket-aggregation semantics: group by (groups, time bucket), apply a
  per-column accumulator map. Buckets are epoch-aligned
  ``floor(epoch/res)*res`` — sparse by default, with ``fill_gaps=True``
  building a dense per-group time spine (sequence + explode, no
  driver-side loop).
- ``StepSessionize``: north-rule addition — new session whenever the
  ts-gap to the previous turn exceeds ``gap``; session id = running sum
  of gap flags over the conversation window (batch analog of
  ``F.session_window``).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import functions as F

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Accumulator, Step
from recipys_spark.selector import Selector, all_predictors
from recipys_spark.functions.windows import conv_window

_RES_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def parse_resolution(res: str) -> int:
    """Parse '2h' / '30m' / '90s' / '1d' into seconds."""
    m = re.fullmatch(r"(\d+)\s*([smhd])", res.strip().lower())
    if not m:
        raise ValueError(f"Unparseable resolution {res!r}; expected e.g. '2h', '30m'")
    return int(m.group(1)) * _RES_UNITS[m.group(2)]


class StepLag(Step):
    """Add ``c_lag_{k}`` columns: value k rows earlier in the group."""

    def __init__(
        self,
        sel: Optional[Selector] = None,
        lags: tuple[int, ...] = (1,),
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
    ) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        self.lags = tuple(int(k) for k in lags)
        if any(k < 1 for k in self.lags):
            raise ValueError("lags must be >= 1")
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.desc = f"Lag by {self.lags}"

    def new_column_roles(self) -> dict[str, str]:
        return {f"{c}_lag_{k}": self.role for c in self.columns for k in self.lags}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        return self._first_sequence(ingredients)

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_lag

            return salted_lag(
                df,
                self.columns,
                self.group_columns,
                self.skew_sequence(ingredients),
                lags=self.lags,
                bucket_size=self.skew_bucket_size,
            )
        w = conv_window(self.group_columns, self.sequence_columns)
        exprs = [
            F.lag(c, k).over(w).alias(f"{c}_lag_{k}")
            for c in self.columns
            for k in self.lags
        ]
        return df.select("*", *exprs)


class StepLead(Step):
    """Add ``c_lead_{k}`` columns: value k rows later in the group."""

    def __init__(
        self,
        sel: Optional[Selector] = None,
        leads: tuple[int, ...] = (1,),
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
    ) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        self.leads = tuple(int(k) for k in leads)
        if any(k < 1 for k in self.leads):
            raise ValueError("leads must be >= 1")
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.desc = f"Lead by {self.leads}"

    def new_column_roles(self) -> dict[str, str]:
        return {f"{c}_lead_{k}": self.role for c in self.columns for k in self.leads}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        return self._first_sequence(ingredients)

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_lag

            return salted_lag(
                df,
                self.columns,
                self.group_columns,
                self.skew_sequence(ingredients),
                lags=self.leads,
                bucket_size=self.skew_bucket_size,
                lead=True,
            )
        w = conv_window(self.group_columns, self.sequence_columns)
        exprs = [
            F.lead(c, k).over(w).alias(f"{c}_lead_{k}")
            for c in self.columns
            for k in self.leads
        ]
        return df.select("*", *exprs)


def _bucket_agg(col: str, fun: Accumulator, seq: str) -> "F.Column":
    """Per-bucket aggregate for one column under one accumulator.

    FIRST/LAST are order-sensitive: groupBy has no row order, so they
    are expressed as min_by/max_by over the sequence among non-null
    values (matching pandas GroupBy.first/last null-skipping)."""
    c = F.col(col)
    nn_seq = F.when(c.isNotNull(), F.col(seq))
    if fun is Accumulator.LAST:
        return F.max_by(c, nn_seq)
    if fun is Accumulator.FIRST:
        return F.min_by(c, nn_seq)
    if fun is Accumulator.MAX:
        return F.max(c)
    if fun is Accumulator.MIN:
        return F.min(c)
    if fun is Accumulator.MEAN:
        # exact decimal accumulation — bucket means bit-identical at any
        # parallelism (see functions/deterministic.py)
        from recipys_spark.functions.deterministic import det_mean

        return det_mean(c)
    if fun is Accumulator.MEDIAN:
        return F.percentile(c, F.lit(0.5))
    if fun is Accumulator.COUNT:
        return F.count(c)
    if fun is Accumulator.VAR:
        return F.var_samp(c)
    raise TypeError(f"Unsupported accumulator {fun!r}")


class StepResampling(Step):
    def __init__(
        self,
        new_resolution: str = "1h",
        accumulator_dict: Optional[dict[Selector, Accumulator]] = None,
        default_accumulator: Accumulator = Accumulator.LAST,
        fill_gaps: bool = False,
    ) -> None:
        super().__init__(Selector("all columns"))
        self.new_resolution = new_resolution
        self.acc_dict = accumulator_dict if accumulator_dict is not None else {}
        self.default_accumulator = default_accumulator
        self.fill_gaps = fill_gaps
        self.desc = f"Resample to {new_resolution}"
        self._col_acc_map: dict[str, Accumulator] = {}

    def do_fit(self, ingredients: Ingredients) -> None:
        col_acc: dict[str, Accumulator] = {}
        for selector, acc in self.acc_dict.items():
            for col in selector(ingredients):
                col_acc[col] = acc
        seqs = set(self.sequence_columns)
        groups = set(self.group_columns)
        for col in ingredients.columns:
            if col in seqs or col in groups:
                continue
            col_acc.setdefault(col, self.default_accumulator)
        self._col_acc_map = col_acc

    def do_transform(self, ingredients: Ingredients):
        if not self.sequence_columns:
            raise AssertionError(
                "Sequence role has not been assigned, resampling step not possible"
            )
        seq = self.sequence_columns[0]
        df = ingredients.df
        dtype = dict(df.dtypes)[seq]
        if dtype not in ("timestamp", "timestamp_ntz", "date"):
            raise ValueError(f"Expected a temporal sequence column, got {dtype}")
        secs = parse_resolution(self.new_resolution)
        groups = self.group_columns
        bucket = F.timestamp_seconds(
            (F.unix_timestamp(F.col(seq)) / secs).cast("long") * secs
        ).alias(seq)
        aggs = [
            _bucket_agg(c, fun, seq).alias(c) for c, fun in self._col_acc_map.items()
        ]
        out = df.groupBy(*groups, bucket).agg(*aggs)
        if self.fill_gaps:
            if not groups:
                raise ValueError("fill_gaps requires group columns")
            spine = (
                df.groupBy(*groups)
                .agg(
                    F.min(F.unix_timestamp(seq)).alias("_t0"),
                    F.max(F.unix_timestamp(seq)).alias("_t1"),
                )
                .select(
                    *groups,
                    F.explode(
                        F.sequence(
                            (F.col("_t0") / secs).cast("long") * secs,
                            (F.col("_t1") / secs).cast("long") * secs,
                            F.lit(secs),
                        )
                    ).alias("_bucket_s"),
                )
                .select(*groups, F.timestamp_seconds("_bucket_s").alias(seq))
            )
            out = spine.join(out, on=[*groups, seq], how="left")
        # restore original column order
        order = [c for c in ingredients.columns if c in out.columns]
        return out.select(*order)


class StepSessionize(Step):
    """Assign ``session_col`` per row: 0-based session index within the
    group; a new session starts when the sequence-time gap to the
    previous row exceeds ``gap`` (e.g. '30m')."""

    def __init__(
        self,
        gap: str = "30m",
        session_col: str = "session_id",
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
    ) -> None:
        super().__init__(Selector("sessionize"))
        self.gap = gap
        self.session_col = session_col
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.desc = f"Sessionize with gap {gap}"

    def new_column_roles(self) -> dict[str, str]:
        return {self.session_col: self.role}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        return self._first_sequence(ingredients, temporal=True)

    def do_transform(self, ingredients: Ingredients):
        if not self.sequence_columns:
            raise ValueError("StepSessionize requires a temporal sequence role column")
        seq = self.sequence_columns
        # the first temporal sequence column drives the gap computation
        ts = self.skew_sequence(ingredients)
        if ts is None:
            raise ValueError("StepSessionize requires a timestamp sequence column")
        gap_s = parse_resolution(self.gap)
        df = ingredients.df
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_sessionize

            return salted_sessionize(
                df,
                groups=self.group_columns,
                ts=ts,
                gap_seconds=gap_s,
                bucket_size=self.skew_bucket_size,
                session_col=self.session_col,
                order_cols=seq,
            )
        w = conv_window(self.group_columns, seq)
        prev_ts = F.lag(ts).over(w)
        # fractional-second gap (unix_timestamp truncates to seconds,
        # which would disagree with epoch()-based oracles and the
        # salted path on sub-second timestamps)
        tsd = F.col(ts).cast("timestamp").cast("double")
        prevd = prev_ts.cast("timestamp").cast("double")
        is_new = (prev_ts.isNull() | ((tsd - prevd) > F.lit(float(gap_s)))).cast("long")
        from pyspark.sql import Window

        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        session = (F.sum(is_new).over(frame) - F.lit(1)).cast("long")
        return df.select("*", session.alias(self.session_col))


def time_rollup(
    df,
    ts_col: str = "ts",
    group_cols=("user_id",),
    grains=("day", "hour"),
    value_col: str = "value",
):
    """Hypertable-style continuous aggregate: one pass emits rollup rows
    at every time grain — (groups, day, hour), (groups, day), (groups)
    for the default grains — tagged with a ``grain`` label.

    ONE shuffle via GROUPING SETS (Catalyst expands the sets map-side
    and partially aggregates before the exchange), instead of one
    groupBy-and-union per grain re-scanning the fact table: at 100 TB
    that's the difference between reading the input once and
    ``len(grains)+1`` times. ``grains`` must be ordered coarse→fine
    (each finer grain nests inside the previous, the TimescaleDB
    continuous-aggregate hierarchy). Sums use exact decimal
    accumulation (functions/deterministic.py) so results are
    bit-identical at any parallelism.
    """
    from recipys_spark.functions.deterministic import det_sum

    group_cols = list(group_cols)
    # the grouping-set prefixes below are only meaningful coarse→fine;
    # ("hour","day") would silently build wrong prefixes and mislabel
    # the grain column, so violations fail loudly here
    _HIERARCHY = [
        "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    ]
    ranks = []
    for g in grains:
        if g not in _HIERARCHY:
            raise ValueError(
                f"unknown time grain {g!r}; expected one of {_HIERARCHY}"
            )
        ranks.append(_HIERARCHY.index(g))
    if ranks != sorted(ranks) or len(set(ranks)) != len(ranks):
        raise ValueError(
            f"grains must be ordered coarse→fine without repeats "
            f"(hierarchy {_HIERARCHY}); got {tuple(grains)}"
        )
    grain_cols = [f"{ts_col}_{g}" for g in grains]
    base = df.select(
        *group_cols,
        *[
            F.date_trunc(g, F.col(ts_col)).alias(c)
            for g, c in zip(grains, grain_cols)
        ],
        value_col,
    )
    # coarse→fine prefixes: (groups), (groups, day), (groups, day, hour)
    sets = [group_cols + grain_cols[:i] for i in range(len(grains) + 1)]
    v = F.col(value_col)
    grain_label = F.lit("total")
    for g, c in zip(grains, grain_cols):
        grain_label = F.when(F.grouping(c) == 0, F.lit(g)).otherwise(grain_label)
    return (
        base.groupingSets(sets, *group_cols, *grain_cols)
        .agg(
            # grouping() is only legal inside the grouping-sets agg
            grain_label.alias("grain"),
            F.count(v).alias("n"),
            det_sum(v).cast("double").alias("value_sum"),
            F.min(v).alias("value_min"),
            F.max(v).alias("value_max"),
        )
        .select(
            *group_cols,
            *grain_cols,
            "grain",
            "n",
            "value_sum",
            "value_min",
            "value_max",
        )
    )
