"""Point-in-time as-of join (north_rule requirement; absent in both the
reference and Spark — SURVEY.md §2.3 "joins").

``asof_join(left, right, ...)``: for every left row, attach the value
columns of the *latest* right row with ``right_ts <= left_ts`` within
the same key(s), optionally within a ``tolerance``. ``direction=``
extends this to the full pandas ``merge_asof`` surface (forward =
earliest ``right_ts >= left_ts``, nearest = closer of the two with
backward tie-break). The default backward join has zero temporal
leakage by construction: no right row with ``ts' > ts`` can ever be
matched — the property the north rule's feature engine relies on;
forward/nearest are for non-feature alignment work (next-event
attribution, nearest-reading calibration) and are deliberately NOT
reachable from StepAsofJoin's feature path unless asked for
explicitly.

Two physical plans:

- union (default, scale path): tag and union both sides, then one
  window pass ``last(donor_row_struct, ignorenulls=True)`` over
  ``partitionBy(keys).orderBy(ts, side)`` — right rows sort *before*
  left rows at equal ts, so matches are inclusive. One shuffle of
  left+right, no row blowup; this is the plan that survives 100 TB.
- salted (hot single key, selected by ``skew_bucket_size``): the union
  plan still windows on ``partitionBy(keys)`` — one task per key. The
  salted plan runs the same backward fill of the right-row donor
  struct through functions/skew.salted_fill, bucketed by time:
  intra-bucket window within (key, bucket), per-bucket edge donors
  forward-filled across buckets (tiny), join-back and coalesce.
  Exactly equal to union. StepAsofJoin names its timestamp as its
  ``skew_sequence``, so plans/advisor.skew_buckets salts it only past
  the measured crossover.
  Measured (BENCH.md): parity at a 2M-row hot key, 40x faster at 16M
  (union 400s -> salted 10s, local[32]).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step
from recipys_spark.operators.timeseries import parse_resolution

_SIDE = "__asof_side"


def _tolerance_seconds(tolerance: Union[str, int, float, None]) -> Optional[float]:
    if tolerance is None:
        return None
    if isinstance(tolerance, str):
        return float(parse_resolution(tolerance))
    return float(tolerance)


def _ts_num(col, dtype):
    """Numeric (epoch-seconds or as-is) form of a ts column for
    tolerance arithmetic. TIMESTAMP_NTZ has no direct double cast in
    Spark 4 — route through TIMESTAMP (session tz; cancels in the
    subtraction)."""
    name = dtype.simpleString()
    if name == "timestamp_ntz":
        return col.cast("timestamp").cast("double")
    if name in ("timestamp", "date"):
        return col.cast("double")
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, Sequence[str]],
    left_ts: str,
    right_ts: Optional[str] = None,
    tolerance: Union[str, int, float, None] = None,
    suffix: str = "",
    skew_bucket_size: Optional[int] = None,
    direction: str = "backward",
) -> DataFrame:
    """Columns returned: all of ``left`` + right's value columns
    (right minus keys minus ts), suffixed if ``suffix``.

    ``direction`` (the pandas ``merge_asof`` surface, all inclusive at
    equal timestamps):

    - ``backward`` (default): latest right row with ``r_ts <= l_ts``;
    - ``forward``: earliest right row with ``r_ts >= l_ts``;
    - ``nearest``: whichever of the two is closer in time; exact ties
      go BACKWARD (the deterministic rule — pandas leaves it to
      float coincidence). It costs one extra window over the SAME
      sorted exchange.

    ``skew_bucket_size`` (seconds of ``left_ts`` per bucket) selects
    the salted hot-key plan; None runs the union plan. The salted plan
    is backward-only (its cross-bucket donor forward-fill is
    direction-specific; mirror the bucketing by time-reversal upstream
    if a skewed forward join is ever needed)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    if direction != "backward" and skew_bucket_size is not None:
        raise ValueError("the salted plan supports direction='backward' only")
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    # as in SQL, a NULL key or timestamp never matches: without this the
    # window plans would pair NULL keys with each other (and a NULL-ts
    # right row would sort before every left row)
    right = right.dropna(subset=[*keys, right_ts])
    value_cols = [c for c in right.columns if c not in keys and c != right_ts]
    out_names = {c: f"{c}{suffix}" for c in value_cols}
    collisions = sorted(set(out_names.values()) & set(left.columns))
    if collisions:
        raise ValueError(
            f"as-of output column(s) {collisions} collide with left columns; "
            "pass a suffix= to disambiguate"
        )
    tol = _tolerance_seconds(tolerance)

    l_tagged = left.select(
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r_ts"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias(_SIDE),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in keys
        ],
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        F.col(right_ts).alias("__r_ts"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias(_SIDE),
    ).select(*l_tagged.columns)

    unioned = l_tagged.unionByName(r_tagged)

    # Row-level match semantics (pandas merge_asof / SQL ASOF JOIN):
    # the matched right ROW wins even where one of its value columns is
    # null — pack the row into a struct so the fill is row-atomic, not
    # per-column.
    donor_fields = [F.col("__r_ts").alias("__mts")] + [
        F.col(f"__r_{c}").alias(c) for c in value_cols
    ]
    donor = F.when(F.col(_SIDE) == 0, F.struct(*donor_fields))
    lt = left.schema[left_ts].dataType
    rt = right.schema[right_ts].dataType

    # backward window: right rows sort BEFORE left at equal ts, so the
    # expanding last() is inclusive; forward window: right rows sort
    # AFTER left at equal ts, first() over the following frame — both
    # share ONE partition exchange (Catalyst re-sorts, never reshuffles)
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col(_SIDE))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col(_SIDE).desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )

    def _in_tol(signed_diff):
        if tol is None:
            return F.lit(True)
        return signed_diff <= F.lit(tol)

    # NULL left_ts: backward naturally yields no match (NULLS FIRST →
    # empty preceding frame), but the FOLLOWING frame of the forward
    # window would span the whole partition and fabricate a match where
    # 'r_ts >= l_ts' is undefined — guard every forward candidate
    null_ts_guard = F.col("__ts").isNotNull()

    if direction in ("backward", "forward"):
        if skew_bucket_size is not None:
            from recipys_spark.functions.skew import salted_fill

            # w_back's fill, bucketed by ts so a hot key spreads out
            filled = salted_fill(
                unioned.withColumn("__match", donor), ["__match"], keys,
                "__ts", skew_bucket_size, order=["__ts", _SIDE],
                null_key_donors=False,
            )
        elif direction == "backward":
            matched = F.last(donor, ignorenulls=True).over(w_back)
            filled = unioned.select("*", matched.alias("__match"))
        else:
            matched = F.when(
                null_ts_guard, F.first(donor, ignorenulls=True).over(w_fwd)
            )
            filled = unioned.select("*", matched.alias("__match"))
        filled = filled.where(F.col(_SIDE) == 1)
        ts_n = _ts_num(F.col("__ts"), lt)
        m_n = _ts_num(F.col("__match")["__mts"], rt)
        diff = (ts_n - m_n) if direction == "backward" else (m_n - ts_n)
        vals = [
            F.when(_in_tol(diff), F.col("__match")[c]).alias(out_names[c])
            for c in value_cols
        ]
        return filled.select(*left.columns, *vals)

    # nearest: evaluate both candidates, keep the closer; exact tie →
    # backward (deterministic). Tolerance applies per side first.
    filled = unioned.select(
        "*",
        F.last(donor, ignorenulls=True).over(w_back).alias("__mb"),
        F.when(null_ts_guard, F.first(donor, ignorenulls=True).over(w_fwd)).alias(
            "__mf"
        ),
    ).where(F.col(_SIDE) == 1)
    ts_n = _ts_num(F.col("__ts"), lt)
    bd = ts_n - _ts_num(F.col("__mb")["__mts"], rt)
    fd = _ts_num(F.col("__mf")["__mts"], rt) - ts_n
    b_ok = F.col("__mb").isNotNull() & _in_tol(bd)
    f_ok = F.col("__mf").isNotNull() & _in_tol(fd)
    take_back = b_ok & (~f_ok | (bd <= fd))
    vals = [
        F.when(take_back, F.col("__mb")[c])
        .otherwise(F.when(f_ok, F.col("__mf")[c]))
        .alias(out_names[c])
        for c in value_cols
    ]
    return filled.select(*left.columns, *vals)


class StepAsofJoin(Step):
    """Recipe-step wrapper: as-of join a feature table onto the recipe
    data using the recipe's group role as keys and its (first temporal)
    sequence role as the left timestamp."""

    def __init__(
        self,
        right: DataFrame,
        right_ts: str,
        tolerance: Union[str, int, float, None] = None,
        suffix: str = "",
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
        direction: str = "backward",
    ) -> None:
        from recipys_spark.selector import Selector

        super().__init__(Selector("asof right-side"))
        self.right = right
        self.right_ts = right_ts
        self.tolerance = tolerance
        self.suffix = suffix
        self.role = role
        self.skew_bucket_size = skew_bucket_size
        self.direction = direction
        self.desc = f"Point-in-time as-of join ({direction})"

    def new_column_roles(self) -> dict[str, str]:
        keys = set(self.group_columns) | {self.right_ts}
        return {
            f"{c}{self.suffix}": self.role
            for c in self.right.columns
            if c not in keys
        }

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        if self.direction != "backward":
            return None  # the salted plan is backward-only
        return self._first_sequence(ingredients, temporal=True)

    def do_transform(self, ingredients: Ingredients):
        if not self.group_columns:
            raise ValueError("StepAsofJoin requires a group role column")
        left_ts = self._first_sequence(ingredients, temporal=True)
        if left_ts is None:
            raise ValueError("StepAsofJoin requires a timestamp sequence column")
        return asof_join(
            ingredients.df,
            self.right,
            on=self.group_columns,
            left_ts=left_ts,
            right_ts=self.right_ts,
            tolerance=self.tolerance,
            suffix=self.suffix,
            skew_bucket_size=self.skew_bucket_size,
            direction=self.direction,
        )
