"""Salted two-phase expanding aggregates for long-conversation skew.

A plain ``Window.partitionBy(conv_id)`` sorts every turn of a
conversation in ONE task — a single 10^9-turn conversation stalls the
stage (SURVEY.md §7 hard parts; north_rule requires explicit skew
handling). For the *decomposable* accumulators (MAX/MIN/COUNT/MEAN/VAR)
the expanding aggregate splits into:

  phase 1  bucket rows by the sequence value (monotone buckets), run
           the expanding window *within* (group, bucket) — bounded
           partition size;
  phase 2  per-bucket totals (tiny table), prefix-aggregate them over
           all *prior* buckets with a second window ordered by bucket;
  phase 3  join the prefix back on (group, bucket) — AQE broadcasts the
           small side — and merge prefix ⊕ intra-bucket running state
           with null-safe combine rules.

MEDIAN is not decomposable, so StepHistorical rejects a
``skew_bucket_size`` for it. Its one plan (repartition, sort, one
streaming mapInArrow pass) holds only the open group's values at a
time, so memory scales with the largest group, not the partition.

Bounded frames use row-exact buckets instead: :func:`carry_buckets`
copies each bucket its predecessor's last rows, so a frame of k prior
rows never crosses a bucket (StepRolling's :func:`salted_trailing`,
transcripts.assemble_context's salted plan). The as-of join's hot-key
plan (operators/asof.py) is :func:`salted_fill` over a donor struct.
This module owns how to salt. Each step names the column its salted
plan buckets by (``Step.skew_sequence``); when to salt, and how wide a
bucket is, is plans/advisor.py's ``skew_buckets``, from
:func:`group_size_stats` under the crossovers below.

When to salt (measured, see BENCH.md): the salted plan costs extra
shuffles and forfeits cross-step window fusion, so it LOSES below
~10^6 turns per conversation (29 s vs 61 s at a 1.6M-turn straggler)
and WINS big past ~10^7 (167 s vs 1324 s at a 16M-turn conversation,
7.9×). Set bucket_size so a bucket is ~10^5–10^6 rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recipys_spark.operators.base import Accumulator
from recipys_spark.functions.deterministic import DEC as _DEC

_BUCKET = "__skew_bucket"
_GKEY = "__skew_gkey"


def _ns_join(left: DataFrame, right: DataFrame, groups, extra, how="left"):
    """NULL-safe equi-join on the group keys (+ ``extra`` columns).

    A plain column-list join drops/misses rows whose group key is NULL
    (SQL equality), but the plain ``Window.partitionBy`` the salted
    plans must replicate treats NULL as a regular group value. Struct
    equality in Spark DOES match NULL fields, so the group columns are
    wrapped into one struct key for the join; the right frame's copies
    of the group columns are dropped."""
    groups = list(groups)
    l = left.withColumn(_GKEY, F.struct(*groups))
    r = right.withColumn(_GKEY, F.struct(*groups)).drop(*groups)
    return l.join(r, on=[_GKEY, *extra], how=how).drop(_GKEY)


def bucketable(dtype: str) -> bool:
    """True when a salted plan can bucket by a sequence column of this
    type (numeric or temporal)."""
    return dtype in ("timestamp", "timestamp_ntz", "date") or dtype.startswith(
        ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal", "long")
    )


def _seq_num(sequence: str, dtype: str):
    """The numeric form buckets are cut from: seconds for a timestamp,
    days for a date, the value itself otherwise."""
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_timestamp(F.col(sequence))
    if dtype == "date":
        return F.unix_date(F.col(sequence))
    return F.col(sequence).cast("double")


def _bucket_expr(df: DataFrame, sequence: str, bucket_size: int):
    base = _seq_num(sequence, dict(df.dtypes)[sequence])
    return F.floor(base / F.lit(float(bucket_size))).cast("long")


def salted_expanding(
    df: DataFrame,
    cols: Sequence[str],
    groups: Sequence[str],
    sequence: str,
    fun: Accumulator,
    suffix: str,
    bucket_size: int,
) -> DataFrame:
    if fun is Accumulator.MEDIAN:
        raise ValueError("MEDIAN is not decomposable; use the plain window path")
    groups = list(groups)
    base_cols = list(df.columns)
    df = df.withColumn(_BUCKET, _bucket_expr(df, sequence, bucket_size))

    intra = (
        Window.partitionBy(*groups, _BUCKET)
        .orderBy(sequence)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    run_exprs, total_aggs, combine = [], [], {}
    for c in cols:
        col = F.col(c)
        if fun is Accumulator.MAX:
            run_exprs.append(F.max(col).over(intra).alias(f"__run_max_{c}"))
            total_aggs.append(F.max(col).alias(f"__tot_max_{c}"))
        elif fun is Accumulator.MIN:
            run_exprs.append(F.min(col).over(intra).alias(f"__run_min_{c}"))
            total_aggs.append(F.min(col).alias(f"__tot_min_{c}"))
        elif fun is Accumulator.COUNT:
            run_exprs.append(F.count(col).over(intra).alias(f"__run_cnt_{c}"))
            total_aggs.append(F.count(col).alias(f"__tot_cnt_{c}"))
        elif fun is Accumulator.MEAN:
            # decimal accumulation: salted result is bit-identical to
            # the plain det_mean path (functions/deterministic.py)
            cd = col.cast(_DEC)
            run_exprs += [
                F.sum(cd).over(intra).alias(f"__run_sum_{c}"),
                F.count(col).over(intra).alias(f"__run_cnt_{c}"),
            ]
            total_aggs += [
                F.sum(cd).alias(f"__tot_sum_{c}"),
                F.count(col).alias(f"__tot_cnt_{c}"),
            ]
        elif fun is Accumulator.VAR:
            cd = col.cast(_DEC)
            sq = (col.cast("double") * col.cast("double")).cast(_DEC)
            run_exprs += [
                F.sum(cd).over(intra).alias(f"__run_sum_{c}"),
                F.count(col).over(intra).alias(f"__run_cnt_{c}"),
                F.sum(sq).over(intra).alias(f"__run_sq_{c}"),
            ]
            total_aggs += [
                F.sum(cd).alias(f"__tot_sum_{c}"),
                F.count(col).alias(f"__tot_cnt_{c}"),
                F.sum(sq).alias(f"__tot_sq_{c}"),
            ]
        else:
            raise TypeError(f"Unsupported accumulator {fun!r}")

    with_run = df.select("*", *run_exprs)

    # phase 2: per-bucket totals, then prefix over strictly-prior buckets
    totals = df.groupBy(*groups, _BUCKET).agg(*total_aggs)
    prior = (
        Window.partitionBy(*groups)
        .orderBy(_BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix_exprs = [F.col(g) for g in groups] + [F.col(_BUCKET)]
    for field in totals.columns:
        if not field.startswith("__tot_"):
            continue
        name = field.replace("__tot_", "__pre_")
        kind = field[len("__tot_"):].split("_", 1)[0]
        if kind == "max":
            prefix_exprs.append(F.max(field).over(prior).alias(name))
        elif kind == "min":
            prefix_exprs.append(F.min(field).over(prior).alias(name))
        else:  # cnt / sum / sq accumulate additively
            prefix_exprs.append(F.sum(field).over(prior).alias(name))
    prefix = totals.select(*prefix_exprs)

    joined = _ns_join(with_run, prefix, groups, [_BUCKET], how="left")

    # phase 3: merge prefix ⊕ running
    out_exprs = []
    for c in cols:
        name = f"{c}_{suffix}"
        if fun is Accumulator.MAX:
            # greatest() skips nulls: correct null-safe combine.
            # cum_max semantics: output is null where the input is null.
            out_exprs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.greatest(F.col(f"__pre_max_{c}"), F.col(f"__run_max_{c}")),
                ).alias(name)
            )
        elif fun is Accumulator.MIN:
            out_exprs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.least(F.col(f"__pre_min_{c}"), F.col(f"__run_min_{c}")),
                ).alias(name)
            )
        elif fun is Accumulator.COUNT:
            out_exprs.append(
                (
                    F.coalesce(F.col(f"__pre_cnt_{c}"), F.lit(0))
                    + F.col(f"__run_cnt_{c}")
                ).alias(name)
            )
        elif fun is Accumulator.MEAN:
            zero = F.lit(0).cast(_DEC)
            n = F.coalesce(F.col(f"__pre_cnt_{c}"), F.lit(0)) + F.col(f"__run_cnt_{c}")
            s = (
                F.coalesce(F.col(f"__pre_sum_{c}"), zero)
                + F.coalesce(F.col(f"__run_sum_{c}"), zero)
            ).cast("double")
            out_exprs.append(F.when(n > 0, s / n).alias(name))
        elif fun is Accumulator.VAR:
            zero = F.lit(0).cast(_DEC)
            n_long = (
                F.coalesce(F.col(f"__pre_cnt_{c}"), F.lit(0))
                + F.col(f"__run_cnt_{c}")
            )
            n = n_long.cast("double")
            s = (
                F.coalesce(F.col(f"__pre_sum_{c}"), zero)
                + F.coalesce(F.col(f"__run_sum_{c}"), zero)
            ).cast("double")
            sq = (
                F.coalesce(F.col(f"__pre_sq_{c}"), zero)
                + F.coalesce(F.col(f"__run_sq_{c}"), zero)
            ).cast("double")
            var = (sq - s * s / n) / (n - F.lit(1.0))
            out_exprs.append(F.when(n_long > 1, F.greatest(var, F.lit(0.0))).alias(name))

    return joined.select(*base_cols, *out_exprs)


def salted_fill(
    df: DataFrame,
    cols: Sequence[str],
    groups: Sequence[str],
    sequence: str,
    bucket_size: int,
    forward: bool = True,
    limit: "int | None" = None,
    order: "Sequence[str] | None" = None,
    null_key_donors: bool = True,
) -> DataFrame:
    """Two-phase group-scoped directional fill for skewed groups:
    forward or backward, optionally bounded to ``limit`` consecutive
    rows. Exactly equal to the single-window fill ordered by ``order``
    (default ``[sequence]``; it must start with ``sequence``, which
    alone picks the buckets — the as-of join orders by (ts, side)).

    Phase 1 fills within (group, bucket); phase 2 computes each
    bucket's edge non-null donor per column and fills THOSE across
    buckets (tiny table); phase 3 coalesces. With ``limit``, the donor
    payload is a struct carrying the donor's decomposable per-group row
    number (salted_row_number — no whole-group sort), so the null-run
    distance check needs no extra pass; row numbers follow ``sequence``
    only, so ``limit`` takes no ``order``.

    The join-back is NULL-safe (_ns_join), which costs a sort-merge
    join one more shuffle of every row. ``null_key_donors=False``
    promises that no row with a NULL group key holds a value in
    ``cols`` (the as-of join drops such right rows), so the join can
    match on the plain keys, reusing the intra window's shuffle; a
    NULL-key row then gets only in-bucket fills — none, under the
    promise."""
    groups = list(groups)
    base_cols = list(df.columns)
    order = list(order or [sequence])
    if limit is not None:
        if order != [sequence]:
            raise ValueError("salted_fill: limit= orders by sequence only")
        df = salted_row_number(df, groups, sequence, bucket_size, out_col="__rid")
    df = df.withColumn(_BUCKET, _bucket_expr(df, sequence, bucket_size))

    if forward:
        intra = (
            Window.partitionBy(*groups, _BUCKET)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cross = (
            Window.partitionBy(*groups)
            .orderBy(_BUCKET)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pick, edge_by = F.last, F.max_by
    else:
        intra = (
            Window.partitionBy(*groups, _BUCKET)
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        # "prior" buckets in fill direction = later buckets: order desc
        cross = (
            Window.partitionBy(*groups)
            .orderBy(F.col(_BUCKET).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pick, edge_by = F.first, F.min_by

    def payload(c: str):
        # a bare column (ignorenulls skips its NULLs) is windowed in
        # place; an expression would be copied into the shuffle beside it
        if limit is None:
            return F.col(c)
        rid = F.struct(F.col("__rid").alias("rid"), F.col(c).alias("v"))
        return F.when(F.col(c).isNotNull(), rid)

    mk = {c: payload(c) for c in cols}
    filled = df.select(
        "*",
        *[pick(mk[c], ignorenulls=True).over(intra).alias(f"__d_{c}") for c in cols],
    )

    # per-bucket edge donor (last non-null for forward, first for
    # backward), order-sensitively via max_by/min_by on the order key
    key = F.struct(*order)
    totals = df.groupBy(*groups, _BUCKET).agg(
        *[
            edge_by(mk[c], F.when(F.col(c).isNotNull(), key)).alias(f"__edge_{c}")
            for c in cols
        ]
    )
    prefix = totals.select(
        *groups,
        F.col(_BUCKET),
        *[
            F.last(f"__edge_{c}", ignorenulls=True).over(cross).alias(f"__pre_{c}")
            for c in cols
        ],
    )
    if null_key_donors:
        joined = _ns_join(filled, prefix, groups, [_BUCKET], how="left")
    else:
        joined = filled.join(prefix, [*groups, _BUCKET], "left")

    def result(c: str):
        donor = F.coalesce(F.col(f"__d_{c}"), F.col(f"__pre_{c}"))
        if limit is None:
            return F.coalesce(F.col(c), donor)
        dist = (
            (F.col("__rid") - donor["rid"])
            if forward
            else (donor["rid"] - F.col("__rid"))
        )
        return F.coalesce(F.col(c), F.when(dist <= F.lit(limit), donor["v"]))

    out = [
        result(c).alias(c) if c in cols else F.col(c)
        for c in base_cols
        if c != "__rid"
    ]
    return joined.select(*out)


def salted_sessionize(
    df: DataFrame,
    groups: Sequence[str],
    ts: str,
    gap_seconds: int,
    bucket_size: int,
    session_col: str = "session_id",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-phase ts-gap sessionization for skewed groups.

    New-session flags decompose: a row's flag needs only the previous
    row's ts (the bucket boundary flag uses the prior bucket's max ts
    from the summary table), and the session index is a running SUM of
    flags — prefix-sum over prior buckets + intra-bucket cumsum."""
    groups = list(groups)
    order_cols = list(order_cols) or [ts]
    base_cols = list(df.columns)
    df = df.withColumn(_BUCKET, _bucket_expr(df, ts, bucket_size))

    w_intra = Window.partitionBy(*groups, _BUCKET).orderBy(*order_cols)
    prev_ts = F.lag(ts).over(w_intra)
    tsd = F.col(ts).cast("timestamp").cast("double")
    prev_d = prev_ts.cast("timestamp").cast("double")
    intra_flag = F.when(
        prev_ts.isNull(), F.lit(None)
    ).otherwise((tsd - prev_d > F.lit(float(gap_seconds))).cast("long"))

    totals = df.groupBy(*groups, _BUCKET).agg(
        F.min(tsd).alias("__min_ts"),
        F.max(tsd).alias("__max_ts"),
    )
    w_prior = Window.partitionBy(*groups).orderBy(_BUCKET)
    prev_max = F.lag("__max_ts").over(w_prior)
    boundary_flag = F.when(prev_max.isNull(), F.lit(1)).otherwise(
        (F.col("__min_ts") - prev_max > F.lit(float(gap_seconds))).cast("long")
    )
    # intra-bucket flag sums come from the rows; compute per-bucket row
    # flag totals, then prefix-sum (boundary + intra) over prior buckets
    row_flags = df.select(
        *groups, _BUCKET, intra_flag.alias("__flag")
    ).groupBy(*groups, _BUCKET).agg(F.sum("__flag").alias("__intra_sum"))
    buckets = (
        _ns_join(totals, row_flags, groups, [_BUCKET], how="inner")
        .select(
            *groups,
            F.col(_BUCKET),
            (boundary_flag + F.coalesce(F.col("__intra_sum"), F.lit(0))).alias(
                "__bucket_sessions"
            ),
            boundary_flag.alias("__boundary_flag"),
        )
    )
    prior_sum = (
        Window.partitionBy(*groups)
        .orderBy(_BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = buckets.select(
        *groups,
        F.col(_BUCKET),
        F.coalesce(F.sum("__bucket_sessions").over(prior_sum), F.lit(0)).alias(
            "__pre_sessions"
        ),
        "__boundary_flag",
    )
    frame = Window.partitionBy(*groups, _BUCKET).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = _ns_join(df, prefix, groups, [_BUCKET], how="left")
    intra_cum = F.coalesce(F.sum(intra_flag).over(frame), F.lit(0))
    session = (
        F.col("__pre_sessions") + F.col("__boundary_flag") + intra_cum - F.lit(1)
    ).cast("long")
    return joined.select(*base_cols, session.alias(session_col))


def salted_row_number(
    df: DataFrame,
    groups: Sequence[str],
    sequence: str,
    bucket_size: int,
    out_col: str = "__rid",
) -> DataFrame:
    """Decomposable per-group row number: intra-bucket row_number +
    count of rows in all prior buckets (tiny prefix table). Equal to
    row_number() over the whole group, without a whole-group sort."""
    groups = list(groups)
    df = df.withColumn(_BUCKET, _bucket_expr(df, sequence, bucket_size))
    intra = Window.partitionBy(*groups, _BUCKET).orderBy(sequence)
    counts = df.groupBy(*groups, _BUCKET).agg(F.count("*").alias("__n"))
    prior = (
        Window.partitionBy(*groups)
        .orderBy(_BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = counts.select(
        *groups,
        F.col(_BUCKET),
        F.coalesce(F.sum("__n").over(prior), F.lit(0)).alias("__pre_n"),
    )
    return (
        _ns_join(df, prefix, groups, [_BUCKET], how="inner")
        .withColumn(out_col, F.col("__pre_n") + F.row_number().over(intra))
        .drop("__pre_n", _BUCKET)
    )


def salted_lag(
    df: DataFrame,
    cols: Sequence[str],
    groups: Sequence[str],
    sequence: str,
    lags: Sequence[int],
    bucket_size: int,
    lead: bool = False,
) -> DataFrame:
    """Skew-proof lag/lead: decomposable row number, then a shifted
    equi-join on (group, rid ± k). The join hash-partitions on the
    row id, so a 10^9-turn conversation spreads across ALL partitions
    instead of one window task; exactly equal to F.lag/F.lead."""
    groups = list(groups)
    base_cols = list(df.columns)
    word = "lead" if lead else "lag"
    with_rid = salted_row_number(df, groups, sequence, bucket_size)
    out = with_rid
    for k in lags:
        shift = -int(k) if lead else int(k)
        donor = with_rid.select(
            *groups,
            (F.col("__rid") + F.lit(shift)).alias("__rid"),
            *[F.col(c).alias(f"__d_{c}_{k}") for c in cols],
        )
        out = _ns_join(out, donor, groups, ["__rid"], how="left")
    return out.select(
        *base_cols,
        *[
            F.col(f"__d_{c}_{k}").alias(f"{c}_{word}_{k}")
            for c in cols
            for k in lags
        ],
    )


def carry_buckets(
    df: DataFrame,
    groups: Sequence[str],
    sequence: str,
    bucket_size: int,
    rows_per_bucket: int,
    carry: int,
) -> DataFrame:
    """Row-exact buckets for bounded frames: the per-group row number
    ``__rid`` (salted_row_number), the bucket ``__rbkt`` of
    ``rows_per_bucket`` rows, plus a copy of each bucket's last
    ``carry`` rows in the NEXT bucket, tagged ``__carry = 1`` (0 on the
    originals). A frame of at most ``carry`` prior rows then never
    crosses a (group, ``__rbkt``) partition; callers window over it
    ordered by ``__rid`` and keep ``__carry == 0``."""
    if rows_per_bucket < max(carry, 1):
        raise ValueError(
            f"rows_per_bucket ({rows_per_bucket}) must be >= 1 and >= the "
            f"{carry} carry rows the frame needs"
        )
    with_rid = salted_row_number(df, groups, sequence, bucket_size)
    # integer `div`, not double `/` + cast (exact at any row id — the
    # pack_sequences lesson)
    tagged = with_rid.withColumn(
        "__rbkt", F.expr(f"(__rid - 1) div {int(rows_per_bucket)}")
    )
    pos = (F.col("__rid") - 1) % F.lit(int(rows_per_bucket))
    copies = (
        tagged.where(pos >= F.lit(int(rows_per_bucket) - int(carry)))
        .withColumn("__rbkt", F.col("__rbkt") + 1)
        .withColumn("__carry", F.lit(1))
    )
    return tagged.withColumn("__carry", F.lit(0)).unionByName(copies)


def salted_trailing(
    df: DataFrame,
    cols: Sequence[str],
    groups: Sequence[str],
    sequence: str,
    fun: Accumulator,
    window: int,
    suffix: str,
    bucket_size: int,
    rows_per_bucket: int = 100_000,
) -> DataFrame:
    """Skew-proof bounded trailing window (StepRolling's escape hatch).

    Unlike the expanding case, a trailing frame of ``window`` rows only
    ever needs the previous ``window-1`` rows — so instead of a
    prefix-merge, each ROW-exact bucket gets a copy of its predecessor
    bucket's last ``window-1`` rows (:func:`carry_buckets`), the plain
    bounded window runs within (group, bucket), and carry rows are
    dropped. Every bucket except the last has exactly
    ``rows_per_bucket`` rows, so one carry hop always suffices.
    Exactly equal to the single-window rolling result; works for ALL
    accumulators (bounded frames keep MEDIAN at O(window) per row)."""
    from recipys_spark.operators.historical import rolling_expr, rolling_sum_diff

    groups = list(groups)
    base_cols = list(df.columns)
    unioned = carry_buckets(
        df, groups, sequence, bucket_size, rows_per_bucket, window - 1
    )
    if fun in (Accumulator.MEAN, Accumulator.VAR):
        out = rolling_sum_diff(
            unioned, cols, fun, window, [*groups, "__rbkt"], ["__rid"], suffix
        )
    else:
        w = (
            Window.partitionBy(*groups, "__rbkt")
            .orderBy("__rid")
            .rowsBetween(-(window - 1), Window.currentRow)
        )
        out = unioned.select(
            "*", *[rolling_expr(c, fun, w).alias(f"{c}_{suffix}") for c in cols]
        )
    return out.where(F.col("__carry") == 0).select(
        *base_cols, *[F.col(f"{c}_{suffix}") for c in cols]
    )


def group_size_stats(df: DataFrame, groups: Sequence[str], sequences) -> dict:
    """One aggregation pass over the group-count table: group count,
    p50/p99/max group sizes, and ``spans``, the span of each of
    ``sequences`` (a name or a list; :func:`bucketable` ones only)
    within the LARGEST group, in bucket units (what bucket sizing
    needs). Cheap relative to any windowed step — run it once per
    table, not per step."""
    sequences = [sequences] if isinstance(sequences, str) else list(sequences)
    dtypes = dict(df.dtypes)
    nums = {s: _seq_num(s, dtypes[s]) for s in sequences if bucketable(dtypes[s])}
    counts = df.groupBy(*groups).agg(
        F.count("*").alias("__n"),
        F.struct(*[(F.max(n) - F.min(n)).alias(s) for s, n in nums.items()]).alias(
            "__spans"
        ),
    )
    row = counts.agg(
        F.count("*").alias("n_groups"),
        F.max("__n").alias("max_rows"),
        F.percentile_approx("__n", F.array(F.lit(0.5), F.lit(0.99)), F.lit(10_000)).alias("q"),
        F.max_by("__spans", "__n").alias("spans"),
        F.sum("__n").alias("total_rows"),  # free in the same pass —
        # saves callers (plans/advisor.py) a second full-table count
    ).first()
    spans = row.spans.asDict() if row.spans is not None else {}
    return {
        "n_groups": row.n_groups,
        "p50_rows": int(row.q[0]),
        "p99_rows": int(row.q[1]),
        "max_rows": int(row.max_rows),
        "spans": {s: float(spans.get(s) or 0.0) for s in nums},
        "total_rows": int(row.total_rows),
    }


#: salt crossovers (rows in the largest group), from the BENCH.md
#: measurements: unbounded windows (expanding, fill, lag, sessionize)
#: sort a whole group in ONE task, so they salt past ~4M rows (7.9–40×
#: wins measured); bounded frames (rolling, context assembly) are
#: O(frame) per row in one sorted task and only win once a group
#: exceeds an executor's sort capacity, ~10^8 rows
AUTO_SKEW_SALT_ABOVE = 4_000_000
AUTO_SKEW_ROLLING_SALT_ABOVE = 100_000_000


def recommend_skew_bucket_size(
    df: DataFrame,
    groups: Sequence[str],
    sequence: str,
    target_rows_per_bucket: int = 500_000,
    salt_above_rows: int = AUTO_SKEW_SALT_ABOVE,
    stats: "dict | None" = None,
) -> "int | None":
    """Measured-crossover advisor (BENCH.md): below ~10^6–10^7 rows in
    the largest group the plain single-window plan WINS (salting costs
    extra shuffles and forfeits window fusion); above it, salt with
    buckets of ~10^5–10^6 rows. Returns a ``skew_bucket_size`` in units
    of ``sequence`` (seconds for a timestamp), or None when the plain
    plan is the right call. Pass precomputed ``stats`` (one
    ``group_size_stats`` per table over every sequence) to size several
    steps' buckets from a single probe pass."""
    if stats is None:
        stats = group_size_stats(df, groups, sequence)
    if stats["max_rows"] < salt_above_rows:
        return None
    n_buckets = max(2, stats["max_rows"] // target_rows_per_bucket)
    span = stats["spans"].get(sequence, 0.0)
    if span <= 0:
        return None  # degenerate (constant sequence) — salting can't bucket
    return max(1, int(span / n_buckets))
