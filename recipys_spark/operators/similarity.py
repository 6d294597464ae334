"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k — the exactness baseline. The dot
  product is a JVM-side ``aggregate``/``zip_with`` expression (no
  Python); the join is query×corpus, so use it when |queries| is small
  or as the verification oracle.
- ``lsh_cosine_topk``: scale path #1 — deterministic random-hyperplane
  signatures bucket the corpus; each query probes only its bucket
  (plus optional multi-probe neighbors at Hamming distance 1 and/or
  extra hash tables). Data-independent: no training pass.
- ``ivf_cosine_topk``: scale path #2 — IVF (inverted file): spherical
  k-means centroids trained on a deterministic driver sample partition
  the corpus into n_centroids cells; each query probes its ``nprobe``
  nearest cells. Data-ADAPTIVE bucketing: beats hyperplane LSH when the
  corpus is clustered (real embedding corpora are). Recall < 1 by
  construction; tested against the brute baseline.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd  # type hints of the Arrow signature UDFs
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recipys_spark.functions.worker import ready


def dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot_unrolled(a, b, dim: int):
    e = F.lit(0.0)
    for i in range(dim):
        e = e + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return e


def _norm_unrolled(a, dim: int):
    e = F.lit(0.0)
    for i in range(dim):
        x = F.get(a, i).cast("double")
        e = e + x * x
    return e


def cosine_expr(a, b, dim: "Optional[int]" = None):
    # try_divide: a zero-norm vector yields NULL cosine (sorts LAST in
    # the descending top-k) instead of raising under ANSI mode (Spark 4
    # default) or yielding NaN. nanvl: a NaN ELEMENT inside a vector
    # (poisoned embedding) also yields NULL — Spark sorts NaN ABOVE
    # every real double, so without the guard one poisoned corpus row
    # becomes the rank-1 neighbor of every query. Both guards match
    # cosine_udf (denom > 0 is False for NaN → NULL) exactly.
    #
    # ``dim``: when the embedding width is known, the dot/norm sums are
    # UNROLLED into plain arithmetic — zip_with/aggregate higher-order
    # lambdas are interpreted per element per row (no whole-stage
    # codegen) and dominated the brute/rescore tiers at bench scale.
    # The unrolled tree keeps the identical left-to-right accumulation
    # (same initial 0.0, same element order), so every double is
    # bit-identical; rows whose arrays are not exactly ``dim`` wide
    # (ragged data) fall back to the HOF form per row, preserving the
    # old padding/NULL semantics exactly.
    slow = F.nanvl(
        F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b)),
        F.lit(None).cast("double"),
    )
    if dim is None:
        return slow
    fast = F.nanvl(
        F.try_divide(
            _dot_unrolled(a, b, dim),
            F.sqrt(_norm_unrolled(a, dim)) * F.sqrt(_norm_unrolled(b, dim)),
        ),
        F.lit(None).cast("double"),
    )
    return F.when(
        (F.size(a) == F.lit(dim)) & (F.size(b) == F.lit(dim)), fast
    ).otherwise(slow)


def cosine_udf():
    """Vectorized candidate rescoring: one numpy batch per Arrow
    exchange instead of interpreted per-element HOF evaluation — at
    production dims the rescoring of LSH/IVF candidates, not the
    signature, dominates (measured 70s → seconds at dim 256 with 156k
    candidate pairs). Values agree with cosine_expr to the last ulp
    (summation order differs), exactly on integer embeddings.

    Degenerate inputs mirror the expression form exactly: a NULL
    embedding on either side → NULL (not a task failure), and a
    zero-norm vector → NULL (Spark's non-ANSI x/0), never NaN — NaN
    would sort ABOVE every real score in a descending top-k."""

    import numpy as np

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ready()
        n = len(a)
        out = [None] * n
        idx = [
            i
            for i in range(n)
            if a.iloc[i] is not None and b.iloc[i] is not None
        ]
        if idx:
            xa = np.asarray([np.asarray(a.iloc[i], dtype=np.float64) for i in idx])
            xb = np.asarray([np.asarray(b.iloc[i], dtype=np.float64) for i in idx])
            dots = (xa * xb).sum(axis=1)
            na = np.sqrt((xa * xa).sum(axis=1))
            nb = np.sqrt((xb * xb).sum(axis=1))
            denom = na * nb
            for j, i in enumerate(idx):
                if denom[j] > 0:
                    v = dots[j] / denom[j]
                    # inf elements: denom can be +inf with a NaN ratio;
                    # keep NaN → NULL parity with the nanvl'd expression
                    out[i] = float(v) if v == v else None
        return pd.Series(out, dtype=object)

    return cos


# The brute tiers (cosine_topk, dedup.embedding_neardup_pairs) are the
# verification oracles — quadratic by construction. Above this many
# candidate pairs (10^5 × 10^5) they raise instead of launching a job
# that would run for days on a cluster; the LSH/IVF tiers are the scale
# path. Pass max_pairs=None to override knowingly.
BRUTE_PAIR_BUDGET = 10_000_000_000


def _check_pair_budget(n_pairs: int, max_pairs, caller: str, alternative: str):
    if max_pairs is not None and n_pairs > max_pairs:
        raise ValueError(
            f"{caller}: candidate-pair count {n_pairs:,} exceeds the brute-force "
            f"budget {max_pairs:,}. This tier is the exactness oracle, not the "
            f"scale path — use {alternative} (bucketed, sub-quadratic) for large "
            f"corpora, or pass max_pairs=None to force the quadratic join."
        )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_pairs: Optional[int] = BRUTE_PAIR_BUDGET,
    dim: Optional[int] = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank), self-matches excluded,
    deterministic tie-break by neighbor id.

    Scale-safe by construction: a count probe raises above ``max_pairs``
    candidate pairs (default 10^10) pointing at ``lsh_cosine_topk`` /
    ``ivf_cosine_topk``; the crossJoin is the verification tier only."""
    if max_pairs is not None:
        _check_pair_budget(
            queries.count() * corpus.count(), max_pairs,
            "cosine_topk", "lsh_cosine_topk / ivf_cosine_topk",
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("__qe")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("__ce")
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_expr(F.col("__qe"), F.col("__ce"), dim=dim), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# Above this many expression nodes (planes×dim or centroids×dim), the
# interpreted-HOF / literal-chain signature forms stop being the
# measured win: plan construction goes superlinear and codegen hits the
# JVM 64KB method limit. The vectorized pandas_udf paths (broadcast
# numpy matrix, Arrow batches) take over — signatures stay
# BIT-IDENTICAL because the ±1 weights come from the same xxhash64
# (functions/xxh64.py is pinned against F.xxhash64 output).
VECTORIZE_EXPR_NODES = 4096


def hyperplane_weights(n_planes: int, dim: int, seed: int = 42):
    """The ±1 weight matrix (n_planes × dim) the expression form
    derives per row — computed once, driver-side, from the identical
    xxhash64(p, i, seed) values (IntegerType literals)."""
    import numpy as np

    from recipys_spark.functions.xxh64 import hash_ints

    w = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            w[p, i] = 1.0 if hash_ints((p, i, seed)) & 1 == 0 else -1.0
    return w


def hyperplane_signature(emb_col, n_planes: int, dim: int, seed: int = 42,
                         weights=None):
    """Deterministic random-hyperplane sign signature as a long.

    Plane p's weight for dimension i is ±1 derived from xxhash64(p, i,
    seed) — reproducible on any cluster size with no side data. Pass
    ``weights`` (n_planes × dim, e.g. from ``hyperplane_weights``) to
    inline explicit literal planes instead — the SQL-mirrorable form
    (the DuckDB oracle reproduces buckets from the same literals).

    The projection is UNROLLED into plain arithmetic (0.0 + x₀·w₀ +
    x₁·w₁ + …) instead of a zip_with/aggregate higher-order pair:
    higher-order lambdas are interpreted per element per row (no
    whole-stage codegen), which made the signature the hottest
    expression in the LSH impute at bench scale. The unrolled sum has
    the identical left-to-right tree (same initial 0.0, same element
    order) so every projection double — and therefore every sign bit —
    is bit-identical to the aggregate form and to the SQL mirrors.
    ``F.get`` (NULL on out-of-range, even under ANSI) reproduces
    zip_with's null-padding on a short embedding: a NULL element nulls
    the projection, and a NULL projection sets no bit in both forms."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        if weights is not None:
            ws = [F.lit(float(x)) for x in weights[p]]
        else:
            ws = [
                F.when(
                    F.pmod(F.xxhash64(F.lit(p), F.lit(i), F.lit(seed)), F.lit(2)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0))
                for i in range(dim)
            ]
        proj = F.lit(0.0)
        for i, w in enumerate(ws):
            proj = proj + F.get(emb_col, i).cast("double") * w
        # zip_with pads to the LONGER array, so an over-length embedding
        # nulled the projection (no bit); keep that exact behavior
        proj = F.when(F.size(emb_col) <= F.lit(len(ws)), proj)
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    # NULL embedding → NULL signature (matches hyperplane_signature_udf;
    # without the guard a null projection would fall to every otherwise(0)
    # branch and silently bucket all null rows together at signature 0)
    return F.when(emb_col.isNotNull(), sig)


def hyperplane_signature_udf(n_planes: int, dim: int, seed: int = 42,
                             weights=None):
    """Vectorized hyperplane signature: Arrow-batched pandas_udf over a
    broadcast-by-closure numpy ±1 matrix (8·planes·dim bytes — a 64×768
    production signature is 393KB, trivially shippable). One matmul per
    batch replaces planes×dim interpreted expression nodes per row.

    Parity note: the projection is the same ±sum of the same values;
    numpy's pairwise summation can differ from the expression form's
    left-to-right order in the last ulp, so a projection within one ulp
    of 0 could flip a bit between paths — measure-zero on real
    embeddings, exact-equal on integer-valued ones (the pinned test)."""
    import numpy as np
    import pandas as pd

    if n_planes > 62:
        raise ValueError("n_planes must be <= 62 (signature is one long)")
    if weights is not None:
        w_t = np.asarray(weights, dtype=np.float64).T
    else:
        w_t = hyperplane_weights(n_planes, dim, seed).T  # dim × planes
    bitvals = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(emb: pd.Series) -> pd.Series:
        ready()
        n = len(emb)
        out = [None] * n  # NULL embedding → NULL signature (expr parity)
        idx = [i for i in range(n) if emb.iloc[i] is not None]
        if idx:
            x = np.asarray([np.asarray(emb.iloc[i], dtype=np.float64) for i in idx])
            vals = ((x @ w_t > 0) * bitvals).sum(axis=1)
            for j, i in enumerate(idx):
                out[i] = int(vals[j])
        return pd.Series(out, dtype=object)

    return sig


def recommend_lsh_params(
    corpus_rows: int,
    dim: int,
    target_bucket_rows: int = 4_000,
    target_recall_tables: bool = True,
) -> dict:
    """Executable form of the sizing guidance in ``lsh_cosine_topk``'s
    docstring (the advisor mirror of skew.recommend_skew_bucket_size —
    the formulas previously only lived as prose).

    - ``n_planes = clamp(ceil(log2(corpus_rows / target_bucket_rows)),
      4, 62)``: bounds expected bucket size (the per-probe join
      fan-out) at target_bucket_rows ~ 10^3–10^4. 10^6 vectors → 8,
      10^9 → 18, 10^11 → 25.
    - ``n_tables``: the OR-construction that buys back the recall the
      extra planes cost — 1 below 12 planes, then +1 per ~4 planes,
      capped at 8 (candidate volume grows linearly with it).
    - ``vectorized``: the planes×dim node-count gate, precomputed.

    Returns {"n_planes", "n_tables", "vectorized",
    "expected_bucket_rows"} — splat into ``lsh_cosine_topk(**params)``
    or read fields individually. Threaded automatically when
    ``lsh_cosine_topk(n_planes=None)``."""
    import math

    if corpus_rows < 0 or dim < 1:
        raise ValueError("corpus_rows must be >= 0 and dim >= 1")
    if target_bucket_rows < 1:
        raise ValueError("target_bucket_rows must be >= 1")
    ratio = max(corpus_rows, 1) / target_bucket_rows
    n_planes = min(62, max(4, math.ceil(math.log2(ratio)) if ratio > 1 else 4))
    n_tables = min(8, max(1, 1 + max(0, n_planes - 12) // 4)) if target_recall_tables else 1
    return {
        "n_planes": n_planes,
        "n_tables": n_tables,
        "vectorized": n_planes * dim >= VECTORIZE_EXPR_NODES,
        "expected_bucket_rows": max(1, corpus_rows >> n_planes),
    }


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: Optional[int] = 8,
    dim: int = 64,
    multiprobe: bool = True,
    seed: int = 42,
    n_tables: Optional[int] = None,
    vectorized: Optional[bool] = None,
    weights=None,
) -> DataFrame:
    """Bucketed ANN: join queries to corpus rows sharing a hyperplane
    signature bucket (and, with multiprobe, all Hamming-1 buckets),
    then exact cosine + top-k within the candidates.

    Sizing at scale (parameter guidance, not enforced):

    - ``n_planes`` sets the bucket count (2^n_planes) and therefore the
      expected bucket size |corpus| / 2^n_planes — the quantity that
      bounds per-probe join fan-out. Pick
      ``n_planes ≈ log2(|corpus| / target_bucket_rows)`` with
      target_bucket_rows ~ 10^3–10^4: 10^6 vectors → ~8–10 planes,
      10^9 → ~17–20, 10^11 → ~24–27. More planes = smaller buckets =
      faster but lower per-table recall.
    - ``n_tables`` is the OR-construction (same banding idea as
      MinHash-LSH): each table hashes with an independent plane set
      (seed offset), a candidate needs to co-bucket in ANY table —
      recall ≈ 1-(1-p^n_planes)^n_tables per neighbor. Raise n_tables
      (2–8) to recover the recall that extra planes cost; candidate
      volume grows linearly with it, never quadratically.
    - ``vectorized``: None (default) auto-selects — the interpreted
      expression form below VECTORIZE_EXPR_NODES ≈ planes×dim nodes,
      the broadcast-numpy pandas_udf above it (production dims). Both
      derive weights from the same xxhash64, so buckets agree.
    """
    if n_tables is not None and n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    if n_planes is None:
        # auto-size from a one-off count probe (fit-time, bounded):
        # the recommend_lsh_params formulas, threaded. An explicitly
        # passed n_tables (or explicit weights, which imply ONE table)
        # is the caller's choice and is never overridden.
        params = recommend_lsh_params(corpus.count(), dim)
        n_planes = params["n_planes"]
        if n_tables is None and weights is None:
            n_tables = params["n_tables"]
        if vectorized is None:
            vectorized = params["vectorized"]
    if n_tables is None:
        n_tables = 1
    if weights is not None:
        # explicit literal planes (the SQL-mirrorable form): one table
        if n_tables != 1:
            raise ValueError("explicit weights imply n_tables=1")
        n_planes, dim = len(weights), len(weights[0])
    if vectorized is None:
        vectorized = n_planes * dim >= VECTORIZE_EXPR_NODES
    table_seeds = [seed + 7919 * t for t in range(n_tables)]

    def with_buckets(df, id_alias, vec_alias, probe: bool):
        # Signature columns are projected ONCE per table, then probe
        # variants XOR the projected column — inlining the signature
        # into every Hamming-1 probe would duplicate its whole
        # expression tree (or re-run the pandas_udf) n_planes+1 times.
        out = df.select(
            F.col(id_col).alias(id_alias), F.col(emb_col).alias(vec_alias)
        )
        for t, ts in enumerate(table_seeds):
            if vectorized:
                sig = hyperplane_signature_udf(n_planes, dim, ts, weights=weights)(
                    F.col(vec_alias)
                )
            else:
                sig = hyperplane_signature(
                    F.col(vec_alias), n_planes, dim, ts, weights=weights
                )
            out = out.withColumn(f"__sig_{t}", sig)
        probes = []
        for t in range(n_tables):
            s = F.col(f"__sig_{t}")
            sigs = [s] + (
                [s.bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)]
                if probe
                else []
            )
            # disambiguate tables by offsetting the bucket id space
            probes += [x + F.lit(t << (n_planes + 1)).cast("long") for x in sigs]
        return out.select(
            id_alias, vec_alias, F.explode(F.array(*probes)).alias("__bucket")
        )

    c = with_buckets(corpus, "neighbor_id", "__ce", probe=False)
    q = with_buckets(queries, "query_id", "__qe", probe=multiprobe)
    rescore = (
        cosine_udf()(F.col("__qe"), F.col("__ce"))
        if vectorized
        else cosine_expr(F.col("__qe"), F.col("__ce"), dim=dim)
    )
    scored = (
        q.join(c, "__bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(rescore, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    emb_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 10,
) -> list:
    """Spherical k-means centroids on a deterministic sample.

    The sample is hash-top-k (same rows at any partitioning — the
    engine's determinism rule for fitted state); Lloyd iterations run
    driver-side in numpy (IVF training on a sample is the standard
    practice — the index quality needs cluster SHAPE, not every row).
    Returns unit-norm centroids as a list of float lists."""
    import numpy as np

    pdf = (
        corpus.select(F.col(emb_col).alias("e"))
        .withColumn("__h", F.xxhash64(F.col("e").cast("array<double>").cast("string")))
        .orderBy("__h")
        .limit(sample_rows)
        .toPandas()
    )
    x = np.stack(pdf["e"].map(lambda v: np.asarray(v, dtype=float)))
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if len(x) < n_centroids:
        raise ValueError(
            f"corpus sample ({len(x)}) smaller than n_centroids ({n_centroids})"
        )
    cents = x[:n_centroids].copy()  # deterministic hash-ordered init
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    cents[c] = m / n
    return [[float(v) for v in c] for c in cents]


def _lit_vec(v) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in v])


def _dot_lit(col, vec) -> "F.Column":
    """Dot product against a LITERAL vector as a flat multiply-add
    chain — whole-stage-codegen-friendly, unlike F.aggregate/zip_with
    higher-order functions which are interpreted per element and
    allocate the literal array per row (measured ~10x slower for the
    IVF cell assignment)."""
    e = F.lit(0.0)
    for i, v in enumerate(vec):
        e = e + col[i].cast("double") * F.lit(float(v))
    return e


def ivf_cells_udf(centroids, nprobe: int = 1):
    """Vectorized IVF cell assignment: pandas_udf returning each
    vector's ``nprobe`` nearest centroid cells (by dot product with the
    unit-norm centroids) as array<int>, ties broken by lower cell index
    — the same (-score, index) order the literal-chain expression form
    sorts by. One numpy matmul per Arrow batch against the
    broadcast-by-closure centroid matrix (n_centroids×dim doubles; a
    4096×768 production index is 25MB — closure-shippable, or hoist to
    an explicit SparkContext.broadcast for many-stage reuse)."""
    import numpy as np
    import pandas as pd

    c_t = np.asarray(centroids, dtype=np.float64).T  # dim × n_centroids

    @F.pandas_udf("array<int>")
    def cells(emb: pd.Series) -> pd.Series:
        ready()
        n = len(emb)
        out = [None] * n  # NULL embedding → NULL cell list (expr parity)
        idx = [i for i in range(n) if emb.iloc[i] is not None]
        if idx:
            x = np.asarray([np.asarray(emb.iloc[i], dtype=np.float64) for i in idx])
            scores = x @ c_t
            order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
            for j, i in enumerate(idx):
                out[i] = order[j].astype(np.int32)
        return pd.Series(out, dtype=object)

    return cells


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 2,
    centroids: Optional[list] = None,
    sample_rows: int = 100_000,
    vectorized: Optional[bool] = None,
) -> DataFrame:
    """IVF ANN: assign every corpus vector to its nearest centroid cell
    (argmax dot — one JVM expression over broadcast-by-value literal
    centroids, no join), probe each query's ``nprobe`` nearest cells,
    exact cosine + top-k within the candidates.

    Sizing: expected cell size = |corpus| / n_centroids bounds the
    per-probe fan-out; pick n_centroids ≈ sqrt(|corpus|) (classic IVF
    rule) and tune nprobe for the recall/latency trade. Pass
    ``centroids`` to reuse a trained index across queries (the fitted
    state is a plain list — save/restore friendly).

    ``vectorized=None`` auto-selects the assignment strategy: literal
    multiply-add chains below VECTORIZE_EXPR_NODES ≈ centroids×dim
    expression nodes (the measured ~10× win at sandbox dims), the
    broadcast-numpy pandas_udf above (literal chains at production
    dims — 4096 centroids × 768 dims ≈ 3M nodes — blow up plan
    construction and the JVM 64KB codegen method limit)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids, emb_col, sample_rows=sample_rows
        )
    n_centroids = len(centroids)
    if not 1 <= nprobe <= n_centroids:
        raise ValueError("nprobe must be in [1, n_centroids]")
    if vectorized is None:
        vectorized = n_centroids * len(centroids[0]) >= VECTORIZE_EXPR_NODES

    def dots(col):
        # corpus/query vectors are not pre-normalized; centroids are
        # unit-norm, so argmax dot/|v| == argmax dot — skip the divide
        return [_dot_lit(col, c) for c in centroids]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("__ce"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("__qe"),
    )
    if vectorized:
        c = c.withColumn("__cell", ivf_cells_udf(centroids, 1)(F.col("__ce"))[0])
        q = q.withColumn(
            "__cell", F.explode(ivf_cells_udf(centroids, nprobe)(F.col("__qe")))
        )
    else:
        c_scores = dots(F.col("__ce"))
        c_pairs = F.array(
            *[
                F.struct((-s).alias("ns"), F.lit(i).alias("c"))
                for i, s in enumerate(c_scores)
            ]
        )
        # NULL embedding → NULL cell (parity with ivf_cells_udf; a null
        # dot would otherwise flow into the struct sort undefined)
        c = c.withColumn(
            "__cell",
            F.when(F.col("__ce").isNotNull(), F.array_sort(c_pairs)[0]["c"]),
        )

        q_scores = dots(F.col("__qe"))
        q_pairs = F.array(
            *[
                F.struct((-s).alias("ns"), F.lit(i).alias("c"))
                for i, s in enumerate(q_scores)
            ]
        )
        probes = F.when(
            F.col("__qe").isNotNull(),
            F.slice(
                F.transform(F.array_sort(q_pairs), lambda p: p["c"]), 1, nprobe
            ),
        )
        # explode(NULL) drops the row — a null-embedding query yields no
        # neighbors on both paths (the UDF's null cell list behaves the same)
        q = q.withColumn("__cell", F.explode(probes))

    rescore = (
        cosine_udf()(F.col("__qe"), F.col("__ce"))
        if vectorized
        else cosine_expr(
            F.col("__qe"), F.col("__ce"), dim=len(centroids[0])
        )
    )
    scored = (
        q.join(c, "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(rescore, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# -- embedding storage quantization ----------------------------------------


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Per-vector symmetric linear quantization of a float embedding
    column: ``scale = max|x| / (2^(bits-1) - 1)``, code_i =
    floor(x_i/scale + 0.5) (half-up — written explicitly so Java, RE2
    and DuckDB agree; bare round() differs across engines on ties).

    Replaces ``emb_col`` with an int codes array + a float ``{emb}_scale``
    column. At 8 bits that is 4× less storage and shuffle volume than
    float32 — the standard at-rest format for 10^10-vector corpora; the
    reconstruction error per element is bounded by scale/2, i.e.
    max|x|/254 at 8 bits. All-zero vectors get scale 0 and zero codes.

    Pure JVM expressions (transform over the array) — no UDF, stays in
    the scan/projection stage."""
    if not 2 <= bits <= 16:
        raise ValueError("bits must be in [2, 16]")
    qmax = (1 << (bits - 1)) - 1
    e = F.col(emb_col)
    others = [c for c in df.columns if c != emb_col]
    # project the scale ONCE: higher-order lambdas are interpreted with
    # no cross-lambda subexpression elimination, so embedding the
    # array_max subtree inside the per-element transform would make
    # quantization O(dim²) per row
    maxabs = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    staged = df.select(
        *others, e.alias(emb_col),
        (maxabs / F.lit(float(qmax))).alias(f"{emb_col}_scale"),
    )
    scale = F.col(f"{emb_col}_scale")
    codes = F.when(
        scale > 0,
        F.transform(
            e, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
        ),
    ).otherwise(F.transform(e, lambda x: F.lit(0)))
    return staged.select(*others, codes.alias(emb_col), scale)


def dequantize_embeddings(
    df: DataFrame, emb_col: str = "embedding"
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: codes × scale → float array;
    drops the scale column."""
    s = F.col(f"{emb_col}_scale")
    deq = F.transform(F.col(emb_col), lambda c: c.cast("double") * s)
    others = [c for c in df.columns if c not in (emb_col, f"{emb_col}_scale")]
    return df.select(*others, deq.alias(emb_col))
