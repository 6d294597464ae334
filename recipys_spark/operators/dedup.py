"""Deduplication operators for training-data pipelines.

Each tier is a lazy DataFrame transform designed for 100 TB inputs:

- ``exact_dedup``: one window on a whitespace-normalized md5
  fingerprint; one shuffle on the fingerprint, keeps the min-id row per
  group (deterministic winner).
- ``jaccard_pairs``: blocked exact token-set Jaccard — self-join inside
  small blocks (language by default). Quadratic *within a block only*;
  the oracle-checkable ground truth for the approximate tiers.
- ``minhash_lsh_pairs``: MinHash signatures (one Arrow pandas_udf,
  ``minhash_signature_udf``; xxhash64 per seed or the portable md5
  family) → banded LSH bucketing → candidates from equal band keys →
  exact Jaccard verification. The scale path: shuffle is on band keys,
  never all-pairs. ``minhash_dedup`` labels clusters from its edges
  through ``connected_components``.
- ``simhash_clusters``: 32-bit SimHash (Arrow pandas_udf,
  ``functions/text.simhash32_udf``) grouped by exact signature, for
  fast near-exact duplicate clusters.
- ``embedding_neardup_lsh`` / ``embedding_neardup_pairs``:
  cosine-similarity near-duplicates over an embedding column, bucketed
  by hyperplane signature or brute within blocks (see similarity.py
  for ANN).

The signature UDFs are bit-identical to JVM expressions over Spark's
own hashes; those expressions are kept as test references in
tests/signature_mirrors.py.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recipys_spark.functions.text import (
    char_shingles,
    fingerprint,
    simhash32_udf,
    tokens,
)
from recipys_spark.functions.worker import ready


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct normalized text.

    NULL texts all survive: a null fingerprint means "unknown", not
    "equal to every other null" (window partitioning would otherwise
    group all NULL keys together and collapse them to one row — the
    same null-key trap as the median join-back, ADVICE r02)."""
    fp = fingerprint(F.col(text_col))
    null_escape = F.when(fp.isNull(), F.col(id_col))
    w = Window.partitionBy(fp, null_escape).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _token_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra: Sequence[str],
    shingle: "int | None" = None,
):
    """Comparison units: distinct word tokens, or distinct character
    n-gram shingles when ``shingle`` is set (robust to word-boundary
    edits; the classic near-dup unit)."""
    unit = (
        char_shingles(F.col(text_col), shingle)
        if shingle
        else F.array_distinct(tokens(F.col(text_col)))
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        unit.alias("__toks"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = ("lang",),
    threshold: float = 0.5,
    shingle: "int | None" = None,
) -> DataFrame:
    """Exact token-set Jaccard over all pairs within a block; with
    ``shingle=n`` the units are character n-grams instead of words.

    Returns (id_a, id_b, jaccard) with id_a < id_b. Quadratic within
    blocks — use minhash_lsh_pairs when blocks are large."""
    block_cols = list(block_cols)
    a = _token_sets(df, text_col, id_col, block_cols, shingle)
    b = a.select(
        F.col(id_col).alias("__idb"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("__toks").alias("__toksb"),
    )
    cond = F.col(id_col) < F.col("__idb")
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__b_{c}"))
    joined = a.join(b, cond)
    inter = F.size(F.array_intersect("__toks", "__toksb")).cast("double")
    union = F.size(F.array_union("__toks", "__toksb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select(
            F.col(id_col).alias("id_a"),
            F.col("__idb").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: modulus of the portable (md5-based) Kirsch–Mitzenmacher hash family
KM_PRIME = 2147483647  # 2^31 - 1: products with i < num_hashes stay in int64


def minhash_signature_udf(
    num_hashes: int, seed: int = 42, hash_family: str = "xxhash64"
):
    """MinHash signatures of a token-array column as an Arrow
    pandas_udf: ``num_hashes`` minima per document, NULL for an empty
    array.

    ``hash_family``:
    - ``"xxhash64"`` (default): xxhash64(token, seed+i) for slot i,
      from the pinned Spark-parity port.
    - ``"md5"``: Kirsch–Mitzenmacher double hashing h_i = (h1 + i·h2)
      mod KM_PRIME where h1/h2 are the two 60-bit halves of the
      token's md5 — every operation has an exact ANSI-SQL mirror, so
      the whole MinHash+LSH pipeline is DuckDB-verifiable. Same
      independence guarantees for LSH banding (Kirsch & Mitzenmacher
      2006); one md5 per token instead of num_hashes hashes.

    Pure integer arithmetic, BIT-IDENTICAL to the JVM-expression form
    kept in tests/signature_mirrors.py. That form runs ``num_hashes``
    interpreted ``transform``/``array_min`` passes per document (for
    md5 over interpreted ``conv(substring(md5(...)))`` structs;
    8.3 s → 2.9 s at sf0.1 for the LSH pipeline). Here each token
    hashes once per worker (memoized, token vocabularies are zipfian)
    and the (h1 + i·h2) mod p sweep is one numpy broadcast. Exact
    parity: a, b < 2³¹, i < num_hashes ⇒ products < 2³⁷, no int64
    overflow."""
    import numpy as np

    from recipys_spark.functions.xxh64 import (
        hash_int,
        hash_token,
        hash_token_md5_pair,
        to_signed,
    )

    if hash_family not in ("xxhash64", "md5"):
        raise ValueError("hash_family must be 'xxhash64' or 'md5'")
    idx = np.arange(num_hashes, dtype=np.int64)
    # per-token signature rows, memoized in the closure: vocabularies
    # are zipfian, so each worker hashes the head of the distribution
    # once across all Arrow batches. BOUNDED (same 2^20 budget as the
    # lru_cache'd token hashes): an unbounded dict over a web-scale
    # vocabulary's long tail would grow a long-lived worker to OOM.
    MEMO_MAX = 1 << 20
    memo: dict = {}

    def _tok_row(t: str) -> "np.ndarray":
        r = memo.get(t)
        if r is None:
            if len(memo) >= MEMO_MAX:
                # zipfian head re-warms in a few batches; a full clear
                # beats per-entry LRU bookkeeping in the hot loop
                memo.clear()
            if hash_family == "md5":
                a, b = hash_token_md5_pair(t)
                r = (a % KM_PRIME + idx * (b % KM_PRIME)) % KM_PRIME
            else:
                # F.xxhash64(t, lit(seed+i)) CHAINS: the int hashes
                # with the token's hash as its seed (Spark semantics)
                h1 = hash_token(t)
                r = np.fromiter(
                    (to_signed(hash_int(seed + i, h1)) for i in range(num_hashes)),
                    dtype=np.int64,
                    count=num_hashes,
                )
            memo[t] = r
        return r

    @F.pandas_udf("array<bigint>")
    def sig(toks):
        ready()
        import pandas as pd

        out = []
        for arr in toks:
            if arr is None or len(arr) == 0:
                # no tokens, no minimum: NULL (callers filter empties)
                out.append(None)
                continue
            vals = np.stack([_tok_row(t) for t in arr])
            out.append(vals.min(axis=0))
        return pd.Series(out)

    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    link: str = "star",
    shingle: "int | None" = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, Jaccard-verified;
    ``shingle=n`` switches the comparison unit from word tokens to
    character n-grams.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band key become
    candidates (P[candidate] ≈ 1-(1-j^r)^b); candidates get their exact
    token-set Jaccard and only pairs ≥ threshold survive.

    Scale design:
    - candidates carry (id, band key) ONLY — token arrays never ride
      the band shuffle (at 100 TB they'd dominate shuffle volume);
    - ``link='star'`` (default): within each bucket, every doc pairs
      only with the bucket's min id — O(n·bands) edges instead of the
      O(k²)-per-bucket explosion a large duplicate cluster causes
      (a 10^6-doc boilerplate cluster is 5·10^11 pairs linked
      pairwise, but 10^6 star edges; dedup needs the cluster, not the
      clique). ``link='all'`` gives the full pairwise edges for small
      corpora/analysis."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    if link not in ("star", "all"):
        raise ValueError("link must be 'star' or 'all'")
    r = num_hashes // bands
    docs = _token_sets(df, text_col, id_col, [], shingle).where(
        F.size("__toks") > 0
    )
    # the token-set frame is referenced THREE times (signatures + both
    # Jaccard-verify joins); a lazy localCheckpoint barrier computes the
    # upstream scan+tokenization once instead of three times (the
    # corpus_curate_full stage-barrier pattern)
    docs = docs.localCheckpoint(eager=False)
    sig_col = minhash_signature_udf(num_hashes, seed, hash_family)(F.col("__toks"))
    sig = docs.select(id_col, "__toks", sig_col.alias("__sig"))

    def band_key(b):
        joined = F.concat_ws(
            ",", *[F.col("__sig")[b * r + j].cast("string") for j in range(r)]
        )
        # the portable (md5) family keeps the raw string key so the
        # DuckDB mirror reproduces the buckets; the production family
        # compresses it to a long (8 bytes on the band shuffle)
        return joined if hash_family == "md5" else F.xxhash64(joined)

    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__band.band", "__band.key")
    if link == "star":
        hub = Window.partitionBy("band", "key")
        cand = (
            banded.withColumn("__hub", F.min(id_col).over(hub))
            .where(F.col(id_col) != F.col("__hub"))
            .select(F.col("__hub").alias("id_a"), F.col(id_col).alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        left = banded.select(F.col(id_col).alias("id_a"), "band", "key")
        right = banded.select(F.col(id_col).alias("id_b"), "band", "key")
        cand = (
            left.join(right, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    # verify: join the token sets back (two hash joins on doc id)
    cand = (
        cand.join(
            docs.select(F.col(id_col).alias("id_a"), F.col("__toks").alias("__ta")),
            "id_a",
        ).join(
            docs.select(F.col(id_col).alias("id_b"), F.col("__toks").alias("__tb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    union = F.size(F.array_union("__ta", "__tb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return cand.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    (node, comp) where comp = the minimum node id reachable from node.

    Alternating min-label propagation with pointer jumping: each round
    (a) every node takes the min label among itself and its neighbors
    (one shuffle join + groupBy over the EDGE table), then (b) labels
    chase their own parent (labels ⋈ labels), which halves chain depth
    — convergence in O(log diameter) rounds, not O(diameter). The
    label table (one row per node touched by an edge) is
    localCheckpoint-ed per round to truncate lineage; the driver only
    ever sees a one-row convergence probe, never the data."""
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).union(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("d"), F.col("comp").alias("__nc")),
                "d",
            )
            .groupBy("s")
            .agg(F.min("__nc").alias("__mn"))
            .select(F.col("s").alias("node"), "__mn")
        )
        prop = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("__mn", F.col("comp"))).alias("comp"),
        )
        # pointer jumping: comp := comp's comp
        jumped = (
            prop.alias("l")
            .join(
                prop.select(
                    F.col("node").alias("comp"), F.col("comp").alias("__pc")
                ).alias("p"),
                "comp",
                "left",
            )
            .select("node", F.coalesce("__pc", F.col("comp")).alias("comp"))
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.join(
                labels.select("node", F.col("comp").alias("__old")), "node"
            )
            .where(F.col("comp") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    connected: bool = True,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-doc near-dup labels: (id, cluster_id, is_duplicate).

    cluster_id = the minimum doc id in the doc's connected component of
    the verified near-dup graph (connected_components over the star
    edges, iterated to a fixpoint), so chained near-dups A≈B≈C share
    one cluster even when A and C never co-bucket. ``connected=False``
    restores the cheaper one-hop hub labeling (each doc's min verified
    hub; chains keep distinct hubs)."""
    edges = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, threshold, seed, link="star",
        hash_family=hash_family,
    )
    if connected:
        comps = connected_components(edges)
        labels = comps.select(
            F.col("node").alias(id_col), F.col("comp").alias("__hub")
        ).where(F.col(id_col) != F.col("__hub"))
    else:
        labels = edges.groupBy("id_b").agg(F.min("id_a").alias("__hub")).select(
            F.col("id_b").alias(id_col), "__hub"
        )
    return (
        df.select(F.col(id_col))
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce("__hub", F.col(id_col)).alias("cluster_id"),
            F.col("__hub").isNotNull().alias("is_duplicate"),
        )
    )


def simhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Group docs by identical 32-bit SimHash; emit (id, simhash) for
    clusters of size > 1 (near-exact duplicates).

    Signatures come from the Arrow pandas_udf ``simhash32_udf``
    (functions/text.py); ``hash_family="md5"`` is the DuckDB-mirrorable
    family."""
    sig = simhash32_udf(hash_family)(F.col(text_col))
    # NULL text is unknown, not a duplicate (same rule as exact_dedup):
    # without the filter every NULL doc gets signature 0 and they all
    # cluster together (and with any legitimately-zero-signature doc)
    sims = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), sig.alias("simhash")
    )
    w = Window.partitionBy("simhash")
    return (
        sims.withColumn("__n", F.count("*").over(w))
        .where(F.col("__n") > 1)
        .select(id_col, "simhash")
    )


def embedding_neardup_lsh(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
    weights=None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: ONE hyperplane-bucket
    self-join (pairs must share the full signature — near-identical
    vectors almost surely do), then exact cosine ≥ threshold.

    The brute variant (embedding_neardup_pairs) is quadratic within
    blocks; this shuffles on the 2^n_planes signature space, so the
    quadratic term is bounded by bucket size (pick n_planes ≈
    log2(|corpus|/10^3) as for lsh_cosine_topk). Recall is
    per-signature exact-match (no multiprobe): tune n_planes DOWN for
    higher recall at bigger buckets. Pass explicit ``weights`` for the
    SQL-mirrorable form."""
    from recipys_spark.operators.similarity import (
        cosine_expr,
        hyperplane_signature,
    )

    sig = hyperplane_signature(F.col(emb_col), n_planes, dim, seed, weights)
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("__ea"), sig.alias("__sig")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("__eb"), sig.alias("__sig")
    )
    pairs = a.join(b, "__sig").where(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_expr(F.col("__ea"), F.col("__eb"), dim=dim), 6)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: Optional[str] = None,
    max_pairs: Optional[int] = -1,
) -> DataFrame:
    """Cosine-similarity near-duplicate pairs (id_a < id_b, cos ≥ t).

    Brute within optional blocks; for billion-row corpora use
    ``embedding_neardup_lsh`` (bucketed self-join) instead. A fit-time
    count probe raises above ``max_pairs`` candidate pairs (default -1 =
    ``similarity.BRUTE_PAIR_BUDGET``, resolved lazily so the two modules
    share one knob; blocked mode bounds by n × max_block_size / 2).
    Pass ``max_pairs=None`` to force the quadratic join knowingly."""
    from recipys_spark.operators.similarity import (
        BRUTE_PAIR_BUDGET,
        _check_pair_budget,
        cosine_expr,
    )

    budget = BRUTE_PAIR_BUDGET if max_pairs == -1 else max_pairs
    if budget is not None:
        n = df.count()
        if block_col is not None:
            max_block = (
                df.groupBy(block_col).count().agg(F.max("count")).collect()[0][0]
                or 0
            )
            bound = n * max_block // 2
        else:
            bound = n * (n - 1) // 2
        _check_pair_budget(
            bound, budget, "embedding_neardup_pairs", "embedding_neardup_lsh"
        )

    a = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("__ea"),
                  *( [F.col(block_col).alias("__blk_a")] if block_col else [] ))
    b = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("__eb"),
                  *( [F.col(block_col).alias("__blk_b")] if block_col else [] ))
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("__blk_a") == F.col("__blk_b"))
    pairs = a.join(b, cond)
    cos = cosine_expr(F.col("__ea"), F.col("__eb"))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)
