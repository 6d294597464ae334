"""Model-based imputation: native KNN and iterative (MICE) imputers.

The reference covers these only through the sklearn escape hatch
(reference recipys/step.py:366-474 + tests/test_steps.py:249-267 use
``StepSklearn(KNNImputer())`` / ``StepSklearn(IterativeImputer())``,
which fit driver-side on collected data). These are the NATIVE,
Spark-first equivalents — fitted state is bounded, the transform is
distributed, and both are deterministic at any partitioning/cluster
size (the engine's determinism rule).

**StepImputeKNN** — sklearn ``KNNImputer`` semantics (nan-euclidean
distance, k nearest donors, uniform/distance weights, column-mean
fallback when no donor overlaps):

- fit: a BOUNDED donor pool (deterministic content-hash top-k sample,
  default 10k rows — sklearn stores the entire training matrix, which
  at 10^12 rows is impossible; KNN-imputation quality saturates with
  pool size, and parity with sklearn is exact whenever the pool covers
  the table) plus exact-decimal column means for the fallback.
- transform: one Arrow-batched ``mapInPandas`` — each batch computes
  nan-euclidean distances to the broadcast pool with chunked,
  feature-sequential numpy ops (no per-row Python). Embarrassingly
  parallel, zero shuffle.
- ``knn_impute_join`` is the same algorithm as a PURE-JVM broadcast
  join + window plan (pool as a DataFrame — no driver collect at all),
  used by the hash-verified driver oracle; a pytest pins that the two
  tiers agree bit-for-bit (the distance accumulation uses the same
  left-to-right tree and the neighbor mean the same exact-decimal sum).

Determinism/tie-break deviation from sklearn: neighbors are the k
smallest under a TOTAL order — ``(dist², donor_id)`` in the join tier,
``(dist², content-hash pool position)`` in the Arrow tier (the pool is
always sorted by the xxhash64 content hash, in the capped AND the
uncapped path, so the order is a function of the data, never of
partitioning). sklearn's ``np.argpartition`` tie-break is unspecified.
On exact distance ties the two tiers may therefore pick different
(equally-near) donors; for continuous features ties have measure zero
and the tiers agree bit-for-bit, which is what the parity pytest pins.

**StepImputeIterative** — MICE (sklearn ``IterativeImputer`` shape):
round-robin regress each missing column on the others, update, repeat.

- fit: per (sweep, target) one aggregation job builds the normal
  equations X'X / X'y from EXACT DECIMAL sums (order-independent →
  identical coefficients at any parallelism); the tiny (d+1)x(d+1)
  solve happens driver-side (closed form for one regressor — the
  exact-SQL-mirrorable path — numpy for more). Fitted state = the
  initial means + the coefficient sequence: O(sweeps * d²) numbers.
- transform: REPLAYS the stored coefficients as a pure expression
  chain — bake runs zero jobs and never re-aggregates (the
  prep/bake leakage rule).

Deviation from sklearn: the default estimator here is OLS/ridge via
normal equations, not ``BayesianRidge`` (whose evidence-maximization
loop adds nothing for imputation and has no closed SQL form); the
escape hatch ``StepSklearn(IterativeImputer())`` remains for exact
sklearn behavior on driver-sized data.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step
from recipys_spark.selector import Selector, all_predictors
from recipys_spark.functions.worker import ready


# ---------------------------------------------------------------------------
# shared arithmetic: ONE definition of the distance/mean trees so the
# Arrow tier, the JVM join tier, and the DuckDB oracle cannot drift
# ---------------------------------------------------------------------------


def _dist2_exprs(left_cols, right_cols):
    """nan-euclidean squared distance as a JVM expression with a FIXED
    left-to-right accumulation tree: dist² = (d / n_present) * Σ_j
    present_j * (x_j - y_j)². Returns (dist2, n_present) columns;
    n_present == 0 ⇒ caller must exclude the pair (sklearn: distance
    undefined without any mutually-present coordinate)."""
    d = len(left_cols)
    d2 = F.lit(0.0)
    npres = F.lit(0)
    for lc, rc in zip(left_cols, right_cols):
        both = lc.isNotNull() & rc.isNotNull()
        diff = lc.cast("double") - rc.cast("double")
        d2 = d2 + F.when(both, diff * diff).otherwise(F.lit(0.0))
        npres = npres + both.cast("int")
    dist2 = (F.lit(float(d)) / npres.cast("double")) * d2
    return dist2, npres


def _dist2_numpy(X: np.ndarray, P: np.ndarray) -> np.ndarray:
    """The numpy mirror of ``_dist2_exprs``: identical feature-sequential
    accumulation order (element-wise ops, never BLAS — dgemm's blocked
    summation would differ in the last ulps from the JVM tree), so the
    Arrow tier and the join tier produce bit-identical distances."""
    n, d = X.shape
    m = P.shape[0]
    d2 = np.zeros((n, m))
    npres = np.zeros((n, m))
    for j in range(d):
        xj = X[:, j][:, None]
        pj = P[:, j][None, :]
        mask = ~np.isnan(xj) & ~np.isnan(pj)
        diff = np.where(mask, xj - pj, 0.0)
        d2 = d2 + diff * diff
        npres = npres + mask
    with np.errstate(divide="ignore", invalid="ignore"):
        out = (float(d) / npres) * d2
    out[npres == 0] = np.inf
    return out


def _exact_mean(values) -> float:
    """Exact-decimal mean of a small value list: Decimal addition is
    associative, the final division runs in double on exact operands —
    the Python mirror of functions/deterministic.det_mean (and of the
    oracle's sum(DECIMAL)→VARCHAR→DOUBLE / n), so all three tiers
    agree bit-for-bit. det_sum casts each operand to DECIMAL(38,18),
    which rounds it to scale 18 (BigDecimal setScale HALF_UP) BEFORE
    summing — quantize identically here, or values needing more than
    18 fractional digits (|v| below ~1e-2 with a full double mantissa)
    would differ in the last ulp between the Arrow and join tiers
    (ADVICE r5)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-18)
    total = Decimal(0)
    for v in values:
        total += Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
    return float(total) / len(values)


# ---------------------------------------------------------------------------
# pure-JVM tier: broadcast-join KNN imputation (the oracle-mirrorable plan)
# ---------------------------------------------------------------------------


def _collected_pool_fill(
    probe_df: DataFrame,
    out_cols,
    feats,
    target_col: str,
    id_col: str,
    n_neighbors: int,
    pool_rows,
    cmean,
    psig_col: Optional[str] = None,
    n_planes: int = 0,
    multiprobe: bool = True,
    chunk: int = 2048,
) -> DataFrame:
    """Shared Arrow-tier KNN-impute core for a BOUNDED donor pool
    (``pool_rows``: the collected ≤pool_cap donor rows — the fit-time
    bounded-collect pattern of StepImputeKNN).

    One ``mapInPandas`` over the probe frame replaces the join tier's
    probe×donor pair materialization + per-probe row_number window +
    re-join — at sf1.0 that plan was 18 exchanges and a 7×10⁷-row
    map-side sort; this is zero exchanges and vectorized numpy per
    batch (guide §2.4 aggregate-before-shuffle, §4.2 native code inside
    the UDF, §8 move-heavy-bytes-once). Arithmetic is the pinned
    numpy mirror of the JVM expressions — ``_dist2_numpy`` reproduces
    ``_dist2_exprs`` bit-for-bit, the neighbor order is the same
    (dist², donor_id) total order via ``np.lexsort``, and the neighbor
    mean is ``_exact_mean`` (the decimal mirror of det_mean) — so the
    output is bit-identical to the join plan (parity pinned by tests).

    ``psig_col`` enables the LSH shortlist: donors whose collected
    ``__dsig`` is outside the probe's multiprobe bucket set (sig plus
    Hamming-1 neighbors when ``multiprobe``) are excluded per row,
    mirroring the bucket-equality join condition."""
    feats = list(feats)
    tj = feats.index(target_col)
    m = len(pool_rows)
    d = len(feats)
    P = np.full((m, d), np.nan, dtype=np.float64)
    # ids keep their natural dtype (int64 for longs, unicode/object for
    # string ids) — argsort and == both honor it, matching the join
    # tier's (dist², donor_id) order for any orderable id type
    dids = np.array([row["__did"] for row in pool_rows])
    dvals = np.empty(m, dtype=np.float64)
    dsigs = np.empty(m, dtype=np.int64) if psig_col is not None else None
    for i, row in enumerate(pool_rows):
        dvals[i] = row["__dval"]
        if dsigs is not None:
            dsigs[i] = row["__dsig"]
        for j, c in enumerate(feats):
            v = row[f"__d_{c}"]
            if v is not None:
                P[i, j] = float(v)
    # Pre-sort the pool by donor id: a STABLE argsort on the distance
    # row then breaks ties by pool position = ascending donor id —
    # exactly the join tier's (dist², donor_id) window order — so the
    # whole chunk's neighbor ranking is one vectorized argsort instead
    # of a per-row lexsort.
    by_id = np.argsort(dids, kind="stable")
    P, dids, dvals = P[by_id], dids[by_id], dvals[by_id]
    if dsigs is not None:
        dsigs = dsigs[by_id]
    k = int(n_neighbors)
    # Pre-quantize each donor value ONCE to a scale-18 integer (exact:
    # the same HALF_UP quantize _exact_mean applies per element). A
    # sum of scale-18 decimals IS the integer sum at scale 18, and
    # Python ints are arbitrary-precision, so per-row neighbor means
    # reduce to summing k small ints — same float result bit-for-bit
    # as _exact_mean, without re-building k Decimals per missing row.
    from decimal import ROUND_HALF_UP, Decimal

    _q = Decimal(1).scaleb(-18)
    dq = [
        int(
            Decimal(repr(float(v)))
            .quantize(_q, rounding=ROUND_HALF_UP)
            .scaleb(18)
        )
        for v in dvals
    ]
    schema = probe_df.schema
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        if f.name != target_col
        else f"`{f.name}` double"
        for f in schema.fields
        if f.name in out_cols
    )
    probe_bits = (
        np.int64(1) << np.arange(n_planes, dtype=np.int64)
        if psig_col is not None and multiprobe
        else np.zeros(0, dtype=np.int64)
    )

    def impute(batches):
        ready()
        for pdf in batches:
            X = pdf[feats].to_numpy(dtype=np.float64, copy=True)
            ids = pdf[id_col].to_numpy()
            psig = (
                pdf[psig_col].to_numpy(dtype=np.int64)
                if psig_col is not None
                else None
            )
            tcol = X[:, tj].copy()
            miss = np.where(np.isnan(tcol))[0]
            for lo in range(0, len(miss), chunk):
                rows = miss[lo : lo + chunk]
                D2 = _dist2_numpy(X[rows], P)
                # invalidate non-candidates as +inf (legit +inf rows —
                # npres == 0 — are excluded either way), then ONE stable
                # argsort per chunk ranks by (dist², donor id)
                D2[~np.isfinite(D2)] = np.inf
                D2[dids[None, :] == ids[rows][:, None]] = np.inf
                if psig is not None:
                    am = np.concatenate(
                        [
                            psig[rows][:, None],
                            psig[rows][:, None] ^ probe_bits[None, :],
                        ],
                        axis=1,
                    )
                    sig_ok = (dsigs[None, :, None] == am[:, None, :]).any(-1)
                    D2[~sig_ok] = np.inf
                order = np.argsort(D2, axis=1, kind="stable")
                nval = np.isfinite(D2).sum(axis=1)
                for ri, r in enumerate(rows):
                    nv = int(nval[ri])
                    if nv == 0:
                        if cmean is not None:
                            tcol[r] = cmean
                        continue
                    take = order[ri, : min(k, nv)]
                    tot = 0
                    for t in take:
                        tot += dq[t]
                    tcol[r] = float(Decimal(tot).scaleb(-18)) / len(take)
            res = pdf[[c for c in out_cols]].copy()
            res[target_col] = tcol
            yield res

    return probe_df.mapInPandas(impute, schema=out_fields)


def knn_impute_join(
    df: DataFrame,
    feature_cols,
    target_col: str,
    id_col: str,
    n_neighbors: int = 5,
    pool_cap: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """KNN-impute ``target_col`` as a pure DataFrame plan — no UDF, no
    driver collect: donors (rows with the target present, optionally
    capped to ``pool_cap`` by the portable md5 coin — the SAME
    deterministic top-k at any partitioning) join each missing row,
    ``row_number`` over (dist², donor id) keeps the k nearest, and the
    imputed value is their exact-decimal mean. AQE broadcasts the
    bounded pool side; per-row cost is O(pool) — the brute tier. At
    corpus scale keep ``pool_cap`` bounded (the Arrow step's default)
    or pre-bucket candidates (operators/similarity.py LSH) before the
    join.

    Returns the full frame with ``target_col`` filled (column-mean
    fallback when a missing row has no overlapping donor)."""
    feats = list(feature_cols)
    if target_col not in feats:
        raise ValueError("target_col must be one of feature_cols")
    from recipys_spark.functions.deterministic import det_mean
    from recipys_spark.operators.packing import md5_long

    donors = df.where(F.col(target_col).isNotNull())
    if pool_cap is not None:
        donors = (
            donors.withColumn("__coin", md5_long(F.col(id_col), seed))
            .orderBy("__coin", id_col)
            .limit(int(pool_cap))
            .drop("__coin")
        )
    pool = donors.select(
        F.col(id_col).alias("__did"),
        F.col(target_col).cast("double").alias("__dval"),
        *[F.col(c).alias(f"__d_{c}") for c in feats],
    )
    if pool_cap is not None:
        # bounded pool ⇒ zero-shuffle Arrow tier: collect the ≤pool_cap
        # donors (the StepImputeKNN fit-time bounded-collect pattern)
        # and impute in one vectorized mapInPandas — see
        # _collected_pool_fill. The join plan below remains the
        # unbounded-pool path (collecting an unbounded pool would
        # violate the no-unbounded-collect rule).
        pool_rows = pool.collect()
        cmean = df.agg(det_mean(F.col(target_col)).alias("__cmean")).first()[
            "__cmean"
        ]
        return _collected_pool_fill(
            df, df.columns, feats, target_col, id_col, n_neighbors,
            pool_rows, cmean,
        )
    missing = df.where(F.col(target_col).isNull()).select(id_col, *feats)
    dist2, npres = _dist2_exprs(
        [F.col(c) for c in feats], [F.col(f"__d_{c}") for c in feats]
    )
    from pyspark.sql import Window

    pairs = (
        missing.join(pool, F.col(id_col) != F.col("__did"), "inner")
        .select(
            id_col,
            "__did",
            "__dval",
            dist2.alias("__dist2"),
            npres.alias("__npres"),
        )
        .where(F.col("__npres") > 0)
    )
    w = Window.partitionBy(id_col).orderBy("__dist2", "__did")
    imputed = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_neighbors)
        .groupBy(id_col)
        .agg(det_mean(F.col("__dval")).alias("__knn"))
    )
    fallback = df.agg(det_mean(F.col(target_col)).alias("__cmean"))
    return (
        df.join(imputed, id_col, "left")
        .crossJoin(F.broadcast(fallback))
        .select(
            *[
                F.coalesce(
                    F.col(c).cast("double"), F.col("__knn"), F.col("__cmean")
                ).alias(c)
                if c == target_col
                else F.col(c)
                for c in df.columns
            ]
        )
    )


def knn_impute_lsh(
    df: DataFrame,
    feature_cols,
    target_col: str,
    id_col: str,
    n_neighbors: int = 5,
    n_planes: int = 4,
    seed: int = 42,
    weights=None,
    multiprobe: bool = True,
    pool_cap: Optional[int] = None,
    bucket_cap: Optional[int] = None,
) -> DataFrame:
    """LSH-shortlisted KNN impute — the 100 TB tier of
    :func:`knn_impute_join` (VERDICT r5 #3): donors are bucketed by a
    hyperplane signature over the NON-target features — MEAN-CENTERED
    for the projection only (one-sided raw features would otherwise
    pin every sign bit and collapse the buckets; a null feature
    projects as 0) — and
    each probe searches its own bucket — plus every Hamming-1 bucket
    with ``multiprobe`` — instead of the whole pool. Per-probe distance
    evaluations drop from O(pool) to O(pool / 2^n_planes × (n_planes+1))
    while the within-bucket arithmetic (nan-euclidean ``_dist2_exprs``,
    (dist², donor_id) total order, exact-decimal neighbor mean, column-
    mean fallback) is IDENTICAL to the exact tiers — with 1 plane +
    multiprobe the candidate set is the full pool and the output is
    bit-identical to ``knn_impute_join`` (pytest-pinned).

    Pass ``weights`` (n_planes × len(proj) literal ±1 matrix, e.g.
    ``similarity.hyperplane_weights``) for the SQL-mirrorable form —
    the DuckDB oracle replays bucketing from the same literals, like
    ``ann_lsh_topk``. Recall: a true nearest neighbor in a different,
    non-adjacent bucket is missed — the classic LSH trade; the pytest
    recall bound pins ≥0.8 agreement with the exact tier on planted
    data at the default 4 planes.

    Scale shape: one aggregation for the means (broadcast, one row),
    one shuffle for the bucket join, one for the per-probe top-k
    window, one for the final left join — no driver collect, no
    crossJoin on unbounded sides. ``bucket_cap`` bounds donors PER
    BUCKET (deterministic md5-coin top-k): on clustered data one hot
    signature bucket can hold most of the pool and restore O(pool)
    per-probe fan-out — the cap makes worst-case join cost
    O(probes × bucket_cap × (planes+1)) regardless of skew."""
    feats = list(feature_cols)
    if target_col not in feats:
        raise ValueError("target_col must be one of feature_cols")
    proj = [c for c in feats if c != target_col]
    if not proj:
        raise ValueError(
            "knn_impute_lsh needs at least one non-target feature to "
            "project onto the hyperplanes"
        )
    if n_planes < 1 or n_planes > 62:
        raise ValueError("n_planes must be in [1, 62]")
    if weights is not None:
        # a shape mismatch would null-pad the projection and silently
        # pin that plane's bit to 0 for every row (degenerate buckets,
        # divergent oracle) — fail loudly instead (ADVICE r6)
        if len(weights) != n_planes or any(
            len(w) != len(proj) for w in weights
        ):
            raise ValueError(
                f"weights must be an {n_planes}×{len(proj)} matrix "
                "(n_planes × non-target features); got "
                f"{len(weights)}×{[len(w) for w in weights]}"
            )
    from pyspark.sql import Window

    from recipys_spark.functions.deterministic import det_mean
    from recipys_spark.operators.packing import md5_long
    from recipys_spark.operators.similarity import hyperplane_signature

    means = df.agg(
        *[det_mean(F.col(c)).alias(f"__pm_{c}") for c in proj],
        det_mean(F.col(target_col)).alias("__cmean"),
    )
    base = df.crossJoin(F.broadcast(means))
    # CENTER the projection at the fitted means: raw features are often
    # one-sided (counts, magnitudes), which makes ±1-plane sign bits
    # near-constant and collapses every row into one bucket — the
    # shortlist would silently degenerate to the full pool. Centering
    # costs nothing (the means are already aggregated) and balances the
    # buckets for any distribution; a missing feature projects as 0
    # (the centered mean), contributing no signal to the bit.
    emb = F.array(
        *[
            F.coalesce(F.col(c).cast("double"), F.col(f"__pm_{c}"))
            - F.col(f"__pm_{c}")
            for c in proj
        ]
    )
    sig = hyperplane_signature(
        emb, n_planes, dim=len(proj), seed=seed, weights=weights
    )

    donors = base.where(F.col(target_col).isNotNull())
    if pool_cap is not None:
        donors = (
            donors.withColumn("__coin", md5_long(F.col(id_col), seed))
            .orderBy("__coin", id_col)
            .limit(int(pool_cap))
            .drop("__coin")
        )
    pool = donors.select(
        sig.alias("__dsig"),
        F.col(id_col).alias("__did"),
        F.col(target_col).cast("double").alias("__dval"),
        *[F.col(c).alias(f"__d_{c}") for c in feats],
    )
    if bucket_cap is not None:
        # hot-bucket guard for clustered data at 100 TB: one signature
        # bucket holding most donors would restore O(pool) per-probe
        # fan-out. Keep a deterministic md5-coin top-k PER BUCKET —
        # same donors at any partitioning; recall within the hot bucket
        # degrades gracefully (the kept subset is an unbiased sample)
        from pyspark.sql import Window as _W

        bw = _W.partitionBy("__dsig").orderBy(
            md5_long(F.col("__did"), seed + 1), "__did"
        )
        pool = (
            pool.withColumn("__brn", F.row_number().over(bw))
            .where(F.col("__brn") <= int(bucket_cap))
            .drop("__brn")
        )
    if pool_cap is not None:
        # bounded pool ⇒ zero-shuffle Arrow tier (see
        # _collected_pool_fill): the bucket-membership join condition
        # becomes a per-row shortlist filter on the probe's multiprobe
        # bucket set — identical candidate set (probe buckets are
        # distinct by construction, a donor matches at most once),
        # identical arithmetic, no bucket/window/re-join exchanges.
        # Donor signatures are JVM-computed in the collected pool and
        # the probe signature rides along as a column, so bucketing
        # bits come from the exact expression form on both sides.
        pool_rows = pool.collect()
        cmean = means.first()["__cmean"]
        probe = base.withColumn("__psig", sig).select(
            *df.columns, "__psig"
        )
        return _collected_pool_fill(
            probe, df.columns, feats, target_col, id_col, n_neighbors,
            pool_rows, cmean, psig_col="__psig", n_planes=n_planes,
            multiprobe=multiprobe,
        )
    probes = base.where(F.col(target_col).isNull()).select(
        id_col, *feats, sig.alias("__psig")
    )
    if multiprobe:
        # probe buckets are DISTINCT by construction (sig, sig^1, sig^2,
        # ...), so a donor can match a probe at most once — no dedup
        buckets = F.array(
            F.col("__psig"),
            *[
                F.col("__psig").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(n_planes)
            ],
        )
        probes = probes.withColumn("__bucket", F.explode(buckets))
    else:
        probes = probes.withColumn("__bucket", F.col("__psig"))
    dist2, npres = _dist2_exprs(
        [F.col(c) for c in feats], [F.col(f"__d_{c}") for c in feats]
    )
    pairs = (
        probes.join(
            pool,
            (F.col("__bucket") == F.col("__dsig"))
            & (F.col(id_col) != F.col("__did")),
            "inner",
        )
        .select(
            id_col,
            "__did",
            "__dval",
            dist2.alias("__dist2"),
            npres.alias("__npres"),
        )
        .where(F.col("__npres") > 0)
    )
    w = Window.partitionBy(id_col).orderBy("__dist2", "__did")
    imputed = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_neighbors)
        .groupBy(id_col)
        .agg(det_mean(F.col("__dval")).alias("__knn"))
    )
    return (
        base.join(imputed, id_col, "left")
        .select(
            *[
                F.coalesce(
                    F.col(c).cast("double"), F.col("__knn"), F.col("__cmean")
                ).alias(c)
                if c == target_col
                else F.col(c)
                for c in df.columns
            ]
        )
    )


# ---------------------------------------------------------------------------
# Arrow tier: StepImputeKNN
# ---------------------------------------------------------------------------


class StepImputeKNN(Step):
    """Native sklearn-``KNNImputer``-semantics step (see module
    docstring). Selected columns are BOTH the distance features and the
    imputation targets, as in sklearn. Ungrouped (sklearn semantics —
    for per-group model imputation use ``StepImputeModel``)."""

    _uses_groups = False
    _uses_sequence = False
    _row_preserving = True
    _stream_safe = True  # fitted state replays as a stateless projection/map

    def __init__(
        self,
        sel: Optional[Selector] = None,
        n_neighbors: int = 5,
        weights: str = "uniform",
        fit_sample_rows: Optional[int] = 10_000,
        chunk_rows: int = 256,
    ) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        if n_neighbors < 1:
            raise ValueError("n_neighbors must be >= 1")
        if weights not in ("uniform", "distance"):
            raise ValueError("weights must be 'uniform' or 'distance'")
        self.n_neighbors = n_neighbors
        self.weights = weights
        self.fit_sample_rows = fit_sample_rows
        self.chunk_rows = chunk_rows
        self.pool: Optional[list] = None  # list[list[float|None]]
        self.col_means: Optional[dict] = None
        self.desc = f"Impute with {n_neighbors}-NN (nan-euclidean)"

    def do_fit(self, ingredients: Ingredients) -> None:
        from recipys_spark.functions.deterministic import det_mean

        df = ingredients.df.select(*self.columns)
        # drop rows with EVERY feature missing — they can never donate
        keep = None
        for c in self.columns:
            nn = F.col(c).isNotNull()
            keep = nn if keep is None else (keep | nn)
        df = df.where(keep)
        # deterministic content-hash ORDER in both paths: the pool's row
        # order is the Arrow tier's distance tie-break, so it must be a
        # function of content, never of physical partitioning (the
        # engine's determinism-at-any-parallelism rule)
        h = F.xxhash64(*[F.col(c) for c in self.columns])
        df = df.withColumn("__h", h).orderBy("__h", *self.columns)
        if self.fit_sample_rows is not None:
            # bounded top-k (the StepSklearn fit-cap pattern)
            df = df.limit(int(self.fit_sample_rows))
        else:
            import warnings

            warnings.warn(
                "StepImputeKNN(fit_sample_rows=None) collects the "
                "ENTIRE table to the driver as the donor pool — a "
                "driver OOM at cluster scale. Set fit_sample_rows to a "
                "bounded cap (default 10k) unless the table is "
                "known-small.",
                stacklevel=3,
            )
        pdf = df.drop("__h").toPandas()
        self.pool = [
            [None if v is None or (isinstance(v, float) and np.isnan(v)) else float(v) for v in row]
            for row in pdf.itertuples(index=False, name=None)
        ]
        means = ingredients.df.agg(
            *[det_mean(F.col(c)).alias(c) for c in self.columns]
        ).first()
        self.col_means = {c: means[c] for c in self.columns}

    def do_transform(self, ingredients: Ingredients):
        df = ingredients.df
        cols = list(self.columns)
        k = self.n_neighbors
        weights = self.weights
        chunk = self.chunk_rows
        P = np.array(
            [[np.nan if v is None else v for v in row] for row in self.pool],
            dtype=np.float64,
        ).reshape(len(self.pool), len(cols))
        col_means = [self.col_means[c] for c in cols]
        schema = df.schema
        out_fields = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" if f.name not in cols
            else f"`{f.name}` double"
            for f in schema.fields
        )
        idx = {c: i for i, c in enumerate(cols)}
        names = list(df.columns)

        def impute(batches):
            ready()
            import pandas as pd

            for pdf in batches:
                X = pdf[cols].to_numpy(dtype=np.float64, copy=True)
                miss_rows = np.where(np.isnan(X).any(axis=1))[0]
                for lo in range(0, len(miss_rows), chunk):
                    rows = miss_rows[lo : lo + chunk]
                    D2 = _dist2_numpy(X[rows], P)
                    for ri, r in zip(range(len(rows)), rows):
                        for c in cols:
                            j = idx[c]
                            if not np.isnan(X[r, j]):
                                continue
                            dvals = P[:, j]
                            cand = np.where(
                                ~np.isnan(dvals) & np.isfinite(D2[ri])
                            )[0]
                            if len(cand) == 0:
                                X[r, j] = (
                                    np.nan
                                    if col_means[j] is None
                                    else col_means[j]
                                )
                                continue
                            order = np.lexsort((cand, D2[ri, cand]))
                            take = cand[order[:k]]
                            vals = dvals[take]
                            if weights == "uniform":
                                X[r, j] = _exact_mean(vals)
                            else:
                                dist = np.sqrt(D2[ri, take])
                                if np.any(dist == 0.0):
                                    # sklearn rule: exact matches share
                                    # the mass equally
                                    X[r, j] = _exact_mean(vals[dist == 0.0])
                                else:
                                    w = 1.0 / dist
                                    X[r, j] = float(np.sum(w * vals)) / float(
                                        np.sum(w)
                                    )
                # NaN-missing rows untouched above: write back only targets
                res = pdf.copy()
                for c in cols:
                    res[c] = X[:, idx[c]]
                yield res[names]

        return df.mapInPandas(impute, schema=out_fields)

    def get_state(self) -> dict:
        return {
            "columns": self.columns,
            "pool": self.pool,
            "col_means": self.col_means,
            "n_neighbors": self.n_neighbors,
            "weights": self.weights,
        }

    def set_state(self, state: dict) -> None:
        self.columns = state["columns"]
        self.pool = state["pool"]
        self.col_means = state["col_means"]
        self.n_neighbors = state["n_neighbors"]
        self.weights = state["weights"]
        self._trained = True


# ---------------------------------------------------------------------------
# StepImputeIterative (MICE)
# ---------------------------------------------------------------------------


def _ols_closed_form(sx, sy, sxy, sxx, n):
    """Single-regressor OLS with the FIXED expression tree mirrored by
    the oracle SQL: slope = (sxy - sx*sy/n) / (sxx - sx*sx/n),
    intercept = sy/n - slope*(sx/n). All inputs are floats converted
    from exact decimal sums, so both engines see identical operands."""
    denom = sxx - sx * sx / n
    if denom == 0.0:
        return None, None
    slope = (sxy - sx * sy / n) / denom
    intercept = sy / n - slope * (sx / n)
    return slope, intercept


class StepImputeIterative(Step):
    """Native MICE imputer (see module docstring): fit learns the
    per-(sweep, target) regression coefficients from exact-decimal
    normal equations; transform replays them as a pure expression
    chain (zero jobs at bake)."""

    _uses_groups = False
    _uses_sequence = False
    _row_preserving = True
    _stream_safe = True  # fitted state replays as a stateless projection/map

    def __init__(
        self,
        sel: Optional[Selector] = None,
        max_iter: int = 3,
        alpha: float = 0.0,
    ) -> None:
        super().__init__(sel if sel is not None else all_predictors())
        if max_iter < 1:
            raise ValueError("max_iter must be >= 1")
        if alpha < 0:
            raise ValueError("alpha must be >= 0")
        self.max_iter = max_iter
        self.alpha = alpha
        self.init_means: Optional[dict] = None
        self.coefs: Optional[list] = None  # [(target, [regressors], b0, [betas])]
        self.desc = "Impute iteratively (MICE, ridge/OLS)"

    # -- shared expression builders -------------------------------------

    def _mask_name(self, c: str) -> str:
        return f"__miss_{c}"

    def _init_frame(self, df: DataFrame, cols) -> DataFrame:
        """Append original-missingness masks and mean-fill the targets
        (the MICE initialization). Masks let later sweeps overwrite
        ONLY originally-missing cells."""
        sel = list(df.columns)
        out = df.select(
            *sel,
            *[F.col(c).isNull().alias(self._mask_name(c)) for c in cols],
        )
        exprs = {}
        for c in cols:
            m = self.init_means[c]
            filled = F.coalesce(
                F.col(c).cast("double"),
                F.lit(m).cast("double") if m is not None else F.lit(None).cast("double"),
            )
            exprs[c] = filled.alias(c)
        return out.select(
            *[exprs[c] if c in exprs else F.col(c) for c in out.columns]
        )

    def _apply_coef(self, df: DataFrame, target, regressors, b0, betas):
        pred = F.lit(b0)
        for r, b in zip(regressors, betas):
            pred = pred + F.lit(b) * F.col(r).cast("double")
        return df.select(
            *[
                F.when(F.col(self._mask_name(c)), pred)
                .otherwise(F.col(c))
                .alias(c)
                if c == target
                else F.col(c)
                for c in df.columns
            ]
        )

    # -- lifecycle ------------------------------------------------------

    def do_fit(self, ingredients: Ingredients) -> None:
        from recipys_spark.functions.deterministic import det_mean

        cols = list(self.columns)
        df = ingredients.df
        stats = df.agg(
            *[det_mean(F.col(c)).alias(f"m_{c}") for c in cols],
            *[F.count(F.col(c)).alias(f"n_{c}") for c in cols],
            F.count(F.lit(1)).alias("n_all"),
        ).first()
        self.init_means = {c: stats[f"m_{c}"] for c in cols}
        n_missing = {c: stats["n_all"] - stats[f"n_{c}"] for c in cols}
        # ENTIRELY-null columns have no mean, stay null after init, and
        # would poison every normal-equation sum (NULL decimal sums →
        # float(None) crashes) — they can be neither targets nor
        # regressors. Left untouched in the output: there is no signal
        # to impute from (sklearn's IterativeImputer likewise refuses
        # all-nan features).
        usable = [c for c in cols if n_missing[c] < stats["n_all"]]
        # sklearn default imputation_order='ascending': fewest missing
        # first; complete columns are regressors only
        targets = sorted(
            (c for c in usable if n_missing[c] > 0),
            key=lambda c: (n_missing[c], c),
        )
        self.coefs = []
        if not targets or len(usable) < 2:
            return
        current = self._init_frame(df, cols)
        for _sweep in range(self.max_iter):
            for t in targets:
                others = [c for c in usable if c != t]
                b0, betas = self._fit_one(current, t, others)
                if b0 is None:
                    continue
                self.coefs.append((t, others, b0, betas))
                current = self._apply_coef(current, t, others, b0, betas)
                # barrier: each normal-equation agg otherwise re-executes
                # the whole growing projection chain from the scan
                current = current.localCheckpoint(eager=False)

    def _fit_one(self, current: DataFrame, target: str, others):
        """Normal equations for target ~ [1, others] over rows where the
        ORIGINAL target is present, from exact decimal sums (products
        formed in double per row, accumulated exactly → deterministic
        at any parallelism). Driver-side solve: closed form for one
        regressor (the oracle-mirrorable tree), numpy for more."""
        DEC = "decimal(38,18)"
        rows = current.where(~F.col(self._mask_name(target)))
        y = F.col(target).cast("double")
        xs = [F.col(c).cast("double") for c in others]
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(y.cast(DEC)).alias("sy"),
        ]
        for i, x in enumerate(xs):
            aggs.append(F.sum(x.cast(DEC)).alias(f"sx{i}"))
            aggs.append(F.sum((x * y).cast(DEC)).alias(f"sxy{i}"))
            for j in range(i, len(xs)):
                aggs.append(
                    F.sum((x * xs[j]).cast(DEC)).alias(f"sxx{i}_{j}")
                )
        s = rows.agg(*aggs).first()
        n = float(s["n"])
        # any NULL sum ⇒ a regressor with no observed value among the
        # fit rows (or zero fit rows): the system is unsolvable for
        # this (sweep, target) — skip it rather than crash on
        # float(None)
        if n == 0 or any(v is None for v in s[1:]):
            return None, None
        if len(others) == 1:
            slope, b0 = _ols_closed_form(
                float(s["sx0"]),
                float(s["sy"]),
                float(s["sxy0"]),
                float(s["sxx0_0"]),
                n,
            )
            if slope is None:
                return None, None
            return b0, [slope]
        d = len(others)
        A = np.zeros((d + 1, d + 1))
        b = np.zeros(d + 1)
        A[0, 0] = n
        b[0] = float(s["sy"])
        for i in range(d):
            A[0, i + 1] = A[i + 1, 0] = float(s[f"sx{i}"])
            b[i + 1] = float(s[f"sxy{i}"])
            for j in range(i, d):
                A[i + 1, j + 1] = A[j + 1, i + 1] = float(s[f"sxx{i}_{j}"])
        if self.alpha:
            A[1:, 1:] += self.alpha * np.eye(d)
        try:
            beta = np.linalg.solve(A, b)
        except np.linalg.LinAlgError:
            return None, None
        return float(beta[0]), [float(v) for v in beta[1:]]

    def do_transform(self, ingredients: Ingredients):
        cols = list(self.columns)
        base = list(ingredients.df.columns)
        current = self._init_frame(ingredients.df, cols)
        for t, others, b0, betas in self.coefs or []:
            current = self._apply_coef(current, t, others, b0, betas)
        return current.select(*base)

    def get_state(self) -> dict:
        return {
            "columns": self.columns,
            "init_means": self.init_means,
            "coefs": [list(c) for c in (self.coefs or [])],
            "max_iter": self.max_iter,
            "alpha": self.alpha,
        }

    def set_state(self, state: dict) -> None:
        self.columns = state["columns"]
        self.init_means = state["init_means"]
        self.coefs = [
            (t, list(r), b0, list(bs)) for t, r, b0, bs in state["coefs"]
        ]
        self.max_iter = state["max_iter"]
        self.alpha = state["alpha"]
        self._trained = True
