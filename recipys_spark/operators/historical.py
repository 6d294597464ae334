"""StepHistorical: per-group expanding (running) accumulators.

Reference semantics (reference recipys/step.py:274–363): for each
selected column ``c`` add ``c_{suffix}`` holding the accumulator over
the group's history *including the current row*; suffix defaults to the
accumulator name. Nulls are skipped (polars cum_max / pandas
``skipna=True``); VAR is sample variance (ddof=1, the polars
``rolling_var`` / pandas ``expanding().var()`` default); COUNT counts
non-nulls; MEDIAN is the exact interpolated median. FIRST/LAST raise
TypeError (reference step.py:336–337, 354–355).

Reference quirk normalized (SURVEY.md §2.4): the reference mutates
``self.suffix`` on every transform so prep→bake emits ``c__max``; here
the suffix is computed per call.

Spark mapping: one expression per (column, accumulator) over the shared
expanding row frame — all steps in a recipe reuse the identical
``Window.partitionBy(groups).orderBy(sequence)`` spec, so Catalyst
fuses them into a single shuffle + sort. For conversations long enough
to break a single window task, ``skew_bucket_size`` switches the
decomposable accumulators (MAX/MIN/MEAN/COUNT/VAR) to a salted
two-phase plan (see functions/skew.py). MEDIAN is not decomposable and
has one plan of its own: repartition by the groups, sort within
partitions by (groups, sequence), then one streaming ``mapInArrow``
pass that appends the medians to the full rows. The window
``percentile`` in ``historical_expr`` recomputes the expanding frame per
row — O(n²) per conversation — so it serves only as the SQL mirror
that tests compare against.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import functions as F

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Accumulator, Step
from recipys_spark.selector import Selector, all_numeric_predictors
from recipys_spark.functions.windows import expanding
from recipys_spark.functions.worker import ready


def historical_expr(col: str, fun: Accumulator, frame) -> "F.Column":
    """The single-window expression for one accumulator.

    MEDIAN here (``F.percentile``) is the SQL mirror of
    ``StepHistorical._expanding_median``, and the two differ on a NaN
    *value*: ``percentile`` sorts NaN above every number and counts it,
    while the step skips it, as pandas ``expanding().median()`` does.
    Compare the two on inputs whose missing values are NULL, not NaN."""
    c = F.col(col)
    # cum_max/cum_min semantics (polars cum_*, pandas cummax/cummin):
    # nulls are skipped for the running value but the OUTPUT at a
    # null-input row is null; the expanding() family (mean/median/
    # count/var) instead emits the aggregate of prior non-nulls there.
    if fun is Accumulator.MAX:
        return F.when(c.isNotNull(), F.max(c).over(frame))
    if fun is Accumulator.MIN:
        return F.when(c.isNotNull(), F.min(c).over(frame))
    if fun is Accumulator.MEAN:
        # exact decimal accumulation: bit-identical at any parallelism
        # (north-rule determinism) — see functions/deterministic.py
        from recipys_spark.functions.deterministic import det_mean

        return det_mean(c, frame)
    if fun is Accumulator.MEDIAN:
        # exact interpolated median, matching pandas expanding().median()
        return F.percentile(c, F.lit(0.5)).over(frame)
    if fun is Accumulator.COUNT:
        return F.count(c).over(frame)
    if fun is Accumulator.VAR:
        from recipys_spark.functions.deterministic import det_var_samp

        return det_var_samp(c, frame)
    raise TypeError(f"Expected a historical Accumulator, got {fun!r}")


class StepRolling(Step):
    """Trailing rolling-window accumulator over the prior ``window``
    rows *including the current row* (pandas ``rolling(window,
    min_periods=1)`` semantics): adds ``{c}_roll{window}_{fun}``.

    Engine extension beyond the reference (its windows are expanding
    only); same shared conversation window spec, bounded row frame."""

    def __init__(
        self,
        sel: Optional[Selector] = None,
        fun: Accumulator = Accumulator.MEAN,
        window: int = 3,
        suffix: Optional[str] = None,
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
        skew_rows_per_bucket: int = 100_000,
    ) -> None:
        super().__init__(sel if sel is not None else all_numeric_predictors())
        if not isinstance(fun, Accumulator):
            raise TypeError(f"Expected Accumulator enum for function, got {type(fun)}")
        if fun in (Accumulator.FIRST, Accumulator.LAST):
            raise TypeError(f"FIRST/LAST are resampling-only policies, got {fun}")
        if window < 1:
            raise ValueError("window must be >= 1")
        self.fun = fun
        self.window = window
        self.suffix = suffix if suffix is not None else f"roll{window}_{fun.value}"
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.skew_rows_per_bucket = skew_rows_per_bucket
        self.desc = f"Rolling {fun} over {window} rows"

    def new_column_roles(self) -> dict[str, str]:
        return {f"{c}_{self.suffix}": self.role for c in self.columns}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        return self._first_sequence(ingredients)

    def do_transform(self, ingredients: Ingredients):
        from recipys_spark.functions.windows import trailing

        if not self.sequence_columns:
            raise ValueError("StepRolling requires a sequence role column")
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_trailing

            return salted_trailing(
                ingredients.df,
                cols=self.columns,
                groups=self.group_columns,
                sequence=self.skew_sequence(ingredients),
                fun=self.fun,
                window=self.window,
                suffix=self.suffix,
                bucket_size=self.skew_bucket_size,
                rows_per_bucket=self.skew_rows_per_bucket,
            )
        if self.fun in (Accumulator.MEAN, Accumulator.VAR):
            # decimal accumulators over a bounded frame are recomputed
            # per row — use the exact cumsum-difference form instead
            return rolling_sum_diff(
                ingredients.df,
                self.columns,
                self.fun,
                self.window,
                self.group_columns,
                self.sequence_columns,
                self.suffix,
            )
        frame = trailing(self.group_columns, self.sequence_columns, self.window - 1)
        exprs = [
            rolling_expr(c, self.fun, frame).alias(f"{c}_{self.suffix}")
            for c in self.columns
        ]
        return ingredients.df.select("*", *exprs)


def rolling_expr(col: str, fun: Accumulator, frame) -> "F.Column":
    """Bounded-frame accumulator with pandas ``rolling(min_periods=1)``
    semantics: unlike the cum_max/cum_min expanding family, MAX/MIN
    emit the window aggregate even at null-input rows."""
    c = F.col(col)
    if fun is Accumulator.MAX:
        return F.max(c).over(frame)
    if fun is Accumulator.MIN:
        return F.min(c).over(frame)
    return historical_expr(col, fun, frame)


def rolling_sum_diff(df, cols, fun, window, part_cols, order_cols, suffix):
    """Rolling MEAN/VAR via cumsum differences instead of a bounded
    decimal frame.

    Spark recomputes a bounded ("sliding") frame's aggregation buffer
    from scratch for EVERY row; with DECIMAL(38,18) accumulators that
    is O(window) BigDecimal allocations per row — measured 4-40x slower
    than the sort itself at 10^7 rows. Expanding (unbounded-preceding)
    frames instead update incrementally, and decimal arithmetic is
    EXACT, so  sum(frame[-(w-1)..0]) == cumsum[i] - cumsum[i-w]
    bit-for-bit — two O(1)/row expanding sums plus a lag, same
    Exchange+sort, identical values to the direct bounded-frame
    det_mean/det_var_samp expressions (and therefore to the DuckDB
    oracles)."""
    from recipys_spark.functions.deterministic import DEC
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    exp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base_cols = list(df.columns)
    inter = []
    for c in cols:
        col = F.col(c)
        inter.append(F.sum(col.cast(DEC)).over(exp).alias(f"__cs_{c}"))
        inter.append(F.count(col).over(exp).alias(f"__cn_{c}"))
        if fun is Accumulator.VAR:
            sq = (col.cast("double") * col.cast("double")).cast(DEC)
            inter.append(F.sum(sq).over(exp).alias(f"__cq_{c}"))
    df2 = df.select("*", *inter)

    zero = F.lit(0).cast(DEC)
    outs = []
    for c in cols:
        cs, cn = F.col(f"__cs_{c}"), F.col(f"__cn_{c}")
        s = cs - F.coalesce(F.lag(cs, window).over(w), zero)
        n = cn - F.coalesce(F.lag(cn, window).over(w), F.lit(0))
        if fun is Accumulator.MEAN:
            e = F.when(n > 0, s.cast("double") / n)
        else:  # VAR — mirror det_var_samp's expression tree exactly
            cq = F.col(f"__cq_{c}")
            q = cq - F.coalesce(F.lag(cq, window).over(w), zero)
            sd, qd, nd = s.cast("double"), q.cast("double"), n.cast("double")
            var = (qd - sd * sd / nd) / (nd - F.lit(1.0))
            e = F.when(n > 1, F.greatest(var, F.lit(0.0)))
        outs.append(e.alias(f"{c}_{suffix}"))
    return df2.select(*base_cols, *outs)


class StepHistorical(Step):
    def __init__(
        self,
        sel: Optional[Selector] = None,
        fun: Accumulator = Accumulator.MAX,
        suffix: Optional[str] = None,
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
    ) -> None:
        super().__init__(sel if sel is not None else all_numeric_predictors())
        if not isinstance(fun, Accumulator):
            raise TypeError(f"Expected Accumulator enum for function, got {type(fun)}")
        if fun in (Accumulator.FIRST, Accumulator.LAST):
            raise TypeError(f"FIRST/LAST are resampling-only policies, got {fun}")
        if skew_bucket_size is not None and fun is Accumulator.MEDIAN:
            raise ValueError(
                "skew_bucket_size does not apply to MEDIAN: the median is not "
                "decomposable into salted buckets, and its streaming plan "
                "already holds only one group's values at a time"
            )
        self.fun = fun
        self.suffix = suffix if suffix is not None else fun.value
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.desc = f"Create historical {fun}"

    def new_column_roles(self) -> dict[str, str]:
        return {f"{c}_{self.suffix}": self.role for c in self.columns}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        if self.fun is Accumulator.MEDIAN:
            return None  # one plan, no salted form
        return self._first_sequence(ingredients)

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        groups = self.group_columns
        seq = self.sequence_columns
        if not seq:
            raise ValueError(
                "StepHistorical requires a sequence role column for deterministic ordering."
            )
        if self.fun is Accumulator.MEDIAN:
            return self._expanding_median(df, groups, seq)
        if self.skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_expanding

            return salted_expanding(
                df,
                cols=self.columns,
                groups=groups,
                sequence=self.skew_sequence(ingredients),
                fun=self.fun,
                suffix=self.suffix,
                bucket_size=self.skew_bucket_size,
            )
        frame = expanding(groups, seq)
        exprs = [
            historical_expr(c, self.fun, frame).alias(f"{c}_{self.suffix}")
            for c in self.columns
        ]
        return df.select("*", *exprs)

    def _expanding_median(self, df, groups, seq):
        """Exact expanding median in one streaming pass over sorted rows.

        The JVM groups and orders: hash-repartition by the group columns
        (one partition when there are none), then sort each partition by
        (groups, sequence). That is Spark's own ordering — NULL first,
        NaN last — so every row sees the same history as in the
        window-percentile mirror (``historical_expr``). One
        ``mapInArrow`` call per partition then appends the median
        columns to the full rows in place; with no join-back, rows with
        NULL or duplicate (group, sequence) keys stay one-to-one.

        Group boundaries are found Arrow-side, with NULL == NULL and
        NaN == NaN as in Spark's grouping, and each batch's first row is
        compared with the previous batch's last key, so a group may
        span batches. Per value column one pandas
        ``groupby(gids).expanding().median()`` (a C skiplist pass, NULL
        and NaN values skipped) runs per batch, with the still-open
        group's carried values prepended. Only that open group's sorted
        non-null values are carried, so memory is O(batch + largest
        group), not O(partition).

        A NaN value is skipped like NULL, as in pandas; the window
        mirror counts it as the largest value instead (see
        ``historical_expr``), so mirror comparisons must use NULL."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import types as T

        cols, suffix = list(self.columns), self.suffix
        float_groups = {
            f.name
            for f in df.schema
            if f.name in groups and isinstance(f.dataType, (T.FloatType, T.DoubleType))
        }
        out_schema = T.StructType(
            list(df.schema)
            + [T.StructField(f"{c}_{suffix}", T.DoubleType()) for c in cols]
        )
        names = out_schema.names

        def key_changes(col, is_float):
            """True where col[i + 1] starts a new group after col[i]."""
            a, b = col.slice(1), col.slice(0, len(col) - 1)
            same = pc.or_(
                pc.fill_null(pc.equal(a, b), False),
                pc.and_(pc.is_null(a), pc.is_null(b)),
            )
            if is_float:
                # Spark groups NaN keys together; Arrow NaN != NaN
                both_nan = pc.and_(pc.is_nan(a), pc.is_nan(b))
                same = pc.or_(same, pc.fill_null(both_nan, False))
            return np.invert(same.to_numpy(zero_copy_only=False))

        def per_partition(batches):
            ready()
            last_key = None  # previous batch's last row, per group column
            held = {c: np.empty(0) for c in cols}  # open group's sorted non-nulls
            for batch in batches:
                n = batch.num_rows
                if not n:
                    continue
                first = last_key is None
                starts = np.zeros(n, dtype=bool)
                starts[0] = first
                for g in groups:
                    col = batch.column(g)
                    if not first:
                        col = pa.concat_arrays([last_key[g], col])
                    starts[int(first):] |= key_changes(col, g in float_groups)
                gids = np.cumsum(starts)
                new = np.flatnonzero(starts)
                m = new[0] if len(new) else n  # rows that continue the open group
                meds = []
                for c in cols:
                    vals = pc.cast(batch.column(c), pa.float64(), safe=False)
                    vals = vals.to_numpy(zero_copy_only=False)
                    k = len(held[c])
                    # The next m rows' medians lie within the middle
                    # 2m + 2 carried values: dropping equally many from
                    # each end keeps the middle ranks on the same
                    # elements, and keeps a long group O(n log n) rather
                    # than re-running its whole history every batch.
                    lo = max(0, (k - 1) // 2 - m)
                    pre = held[c][lo : k - lo] if m else held[c][:0]
                    med = (
                        pd.Series(np.concatenate([pre, vals]))
                        .groupby(np.concatenate([np.zeros(len(pre), gids.dtype), gids]))
                        .expanding()
                        .median()
                        .to_numpy()[len(pre):]
                    )
                    # NaN (no non-null value yet) → NULL, as in the mirror
                    meds.append(pa.array(med, type=pa.float64(), mask=np.isnan(med)))
                    rest = vals[new[-1]:] if len(new) else vals
                    rest = np.sort(rest[~np.isnan(rest)])
                    held[c] = (
                        rest
                        if len(new)
                        else np.insert(held[c], np.searchsorted(held[c], rest), rest)
                    )
                last_key = {g: batch.column(g).slice(n - 1, 1) for g in groups}
                yield pa.RecordBatch.from_arrays([*batch.columns, *meds], names=names)

        rows = df.repartition(*groups) if groups else df.repartition(1)
        return rows.sortWithinPartitions(*groups, *seq).mapInArrow(
            per_partition, schema=out_schema
        )

