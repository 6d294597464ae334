"""Arrow signature kernels against their JVM-expression twins.

MinHash and SimHash run only as Arrow pandas_udfs; their expression
forms live in tests/signature_mirrors.py as the bit-identity reference,
and the end-to-end comparisons monkeypatch a mirror over the library
UDF. The LSH / IVF tiers keep both forms behind one input-size gate
(``similarity.VECTORIZE_EXPR_NODES``: expression forms win at sandbox
dims, collapse at production dims); tests force a side by patching
that constant. Where arithmetic is exact the two forms must be
BIT-IDENTICAL: the ±1 weights and token hashes derive from the same
xxhash64 via the Spark-parity port in functions/xxh64.py, pinned here
against live F.xxhash64 output.
"""

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from recipys_spark.functions import xxh64
from recipys_spark.functions.text import simhash32_udf
from recipys_spark.operators import dedup, similarity
from recipys_spark.operators.dedup import simhash_clusters
from recipys_spark.operators.similarity import (
    VECTORIZE_EXPR_NODES,
    hyperplane_signature,
    hyperplane_signature_udf,
    hyperplane_weights,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from tests.signature_mirrors import (
    minhash_mirror_udf,
    minhash_signature,
    simhash32,
    simhash32_mirror_udf,
)

#: Unicode edge cases of Spark's lower/trim/ASCII-\s tokenizer, placed
#: between tokens: dotted capital I (lowercases to two code points),
#: Greek final sigma, capital sharp s, a titlecase digraph, NBSP,
#: LINE SEPARATOR and NEL (the last three are not Java \s, so they
#: stay inside their token)
UNICODE_EDGE_TEXTS = [
    "İstanbul İ ok",
    "ΟΔΟΣ ΟΔΟΣ σ Σ",
    "STRAẞE ẞ groß",
    "ǅemal ǅ ǆ",
    "nbsp\u00a0joined tokens",
    "line\u2028sep tokens",
    "next\u0085line tokens",
]


def _force_udf(monkeypatch, udf: bool):
    """Pin the LSH/IVF size gate to one side: every weight matrix is
    at or above the threshold (UDFs), or none is (expressions)."""
    monkeypatch.setattr(
        similarity, "VECTORIZE_EXPR_NODES", 0 if udf else float("inf")
    )


def test_xxh64_port_matches_spark(spark):
    """The pure-Python xxhash64 must equal F.xxhash64 bit-for-bit for
    every input shape the signature paths hash: longs, chained ints
    (bare literals are IntegerType), and UTF-8 strings across the
    byte / 4-byte / 8-byte / 32-byte-block code paths."""
    strings = ["", "a", "the", "hello", "naïve-ütf8",
               "a much longer token string exceeding thirty-two bytes for block path"]
    row = spark.range(1).select(
        F.xxhash64(F.lit(5).cast("long")).alias("l1"),
        F.xxhash64(F.lit(5).cast("long"), F.lit(7).cast("long")).alias("l2"),
        F.xxhash64(F.lit(3), F.lit(11), F.lit(42)).alias("i3"),
        *[F.xxhash64(F.lit(s)).alias(f"s{i}") for i, s in enumerate(strings)],
    ).collect()[0]
    assert xxh64.to_signed(xxh64.hash_long(5)) == row["l1"]
    assert xxh64.to_signed(xxh64.hash_longs((5, 7))) == row["l2"]
    assert xxh64.to_signed(xxh64.hash_ints((3, 11, 42))) == row["i3"]
    for i, s in enumerate(strings):
        assert xxh64.hash_token(s) == row[f"s{i}"], s


def test_simhash_udf_bit_identical(spark):
    """Integer arithmetic end-to-end → the vectorized simhash equals
    the 32-aggregate-pass expression form exactly, including empty
    text, repeated tokens, punctuation, and NULL propagation."""
    texts = [
        "the quick brown fox", "the the the quick", "", "   ",
        "naïve café déjà-vu", "one", "a b c d e f g h i j k l m n o p",
        None,
    ] + UNICODE_EDGE_TEXTS
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = (
        df.select(
            "doc_id",
            simhash32(F.col("text")).alias("expr"),
            simhash32_udf()(F.col("text")).alias("vec"),
        )
        .orderBy("doc_id")
        .collect()
    )
    for r in got:
        assert r["expr"] == r["vec"], r


def test_simhash_clusters_vectorized_equals_expression(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b = simhash_clusters(docs).orderBy("doc_id").collect()
    monkeypatch.setattr(dedup, "simhash32_udf", simhash32_mirror_udf)
    a = simhash_clusters(docs).orderBy("doc_id").collect()
    assert a == b and len(a) > 0


def _int_embeddings(spark, n, dim, seed=7):
    """Integer-valued embeddings: every dot product / ±1 projection is
    exact in double, so expression-vs-numpy summation order cannot
    differ — bit-parity is guaranteed, not probabilistic."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "vec_id": range(n),
            "embedding": [
                rng.integers(-9, 10, size=dim).astype(float).tolist()
                for _ in range(n)
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_hyperplane_udf_bit_identical(spark):
    dim, n_planes = 16, 10
    df = _int_embeddings(spark, 200, dim)
    got = (
        df.select(
            "vec_id",
            hyperplane_signature(F.col("embedding"), n_planes, dim, seed=99).alias("expr"),
            hyperplane_signature_udf(n_planes, dim, seed=99)(F.col("embedding")).alias("vec"),
        )
        .where(F.col("expr") != F.col("vec"))
        .count()
    )
    assert got == 0


def test_hyperplane_weights_match_expression_derivation(spark):
    """The driver-side weight matrix reproduces the per-row expression
    weights (pmod(xxhash64(p,i,seed),2))."""
    w = hyperplane_weights(3, 5, seed=13)
    rows = spark.range(1).select(
        *[
            F.when(
                F.pmod(F.xxhash64(F.lit(p), F.lit(i), F.lit(13)), F.lit(2)) == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)).alias(f"w_{p}_{i}")
            for p in range(3)
            for i in range(5)
        ]
    ).collect()[0]
    for p in range(3):
        for i in range(5):
            assert w[p, i] == rows[f"w_{p}_{i}"]


def test_lsh_vectorized_equals_expression(spark, monkeypatch):
    df = _int_embeddings(spark, 300, 16)
    kw = dict(k=5, n_planes=6, dim=16, n_tables=2)
    _force_udf(monkeypatch, False)
    a = lsh_cosine_topk(df, df, **kw)
    _force_udf(monkeypatch, True)
    b = lsh_cosine_topk(df, df, **kw)
    ka = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in a.collect()}
    kb = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_ivf_vectorized_equals_literal_chain(spark, monkeypatch):
    """One-hot centroids + integer embeddings → exact scores → the
    pandas_udf argmax/argsort must reproduce the literal-chain cell
    assignment (including the lower-index tie-break) and therefore the
    identical top-k output."""
    dim = 12
    df = _int_embeddings(spark, 300, dim)
    centroids = [[1.0 if i == c else 0.0 for i in range(dim)] for c in range(8)]
    kw = dict(k=5, n_centroids=8, nprobe=3, centroids=centroids)
    _force_udf(monkeypatch, False)
    a = ivf_cosine_topk(df, df, **kw)
    _force_udf(monkeypatch, True)
    b = ivf_cosine_topk(df, df, **kw)
    ka = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in a.collect()}
    kb = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_production_dims_auto_vectorize_bounded_plan_time(spark):
    """At production dims (256 centroids × 256 dims = 65k nodes;
    16 planes × 256 dims with 2 tables) the auto gate must pick the
    vectorized path and plan construction + execution must stay
    bounded — the literal-chain form at these sizes stalls plan
    building and trips the 64KB codegen method limit."""
    dim = 256
    assert 256 * dim >= VECTORIZE_EXPR_NODES  # gate engages
    df = _int_embeddings(spark, 400, dim)
    rng = np.random.default_rng(3)
    cents = rng.normal(size=(256, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    t0 = time.time()
    out = ivf_cosine_topk(
        df, df, k=3, nprobe=2, centroids=[c.tolist() for c in cents]
    )
    n = out.count()
    ivf_wall = time.time() - t0
    t0 = time.time()
    out2 = lsh_cosine_topk(df, df, k=3, n_planes=16, dim=dim, n_tables=2)
    n2 = out2.count()
    lsh_wall = time.time() - t0
    assert n > 0 and n2 > 0
    # generous bound: the point is "doesn't stall for minutes/fail"
    assert ivf_wall < 60, f"IVF at production dims took {ivf_wall:.1f}s"
    assert lsh_wall < 60, f"LSH at production dims took {lsh_wall:.1f}s"


def test_simhash_md5_family_expr_equals_udf(spark):
    """The portable (md5) hash family: expression form ≡ Arrow udf,
    exactly — same pin as the xxhash64 family."""
    texts = ["the quick brown fox", "the the", "", "naïve café", None]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = (
        df.select(
            simhash32(F.col("text"), hash_family="md5").alias("expr"),
            simhash32_udf("md5")(F.col("text")).alias("vec"),
        )
        .collect()
    )
    for r in got:
        assert r["expr"] == r["vec"], r


def test_minhash_md5_family_finds_same_verified_pairs(spark):
    """Hash families change CANDIDATES, not the verified output on a
    corpus whose duplicate pairs are unambiguous: both families must
    converge to the same Jaccard-verified pair set here."""
    from recipys_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog " * 3
    texts = [base, base + "extra", "completely different words here now",
             base, "unrelated content again entirely"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    kw = dict(num_hashes=32, bands=4, threshold=0.8)
    a = {(r["id_a"], r["id_b"]) for r in
         minhash_lsh_pairs(df, **kw).collect()}
    b = {(r["id_a"], r["id_b"]) for r in
         minhash_lsh_pairs(df, hash_family="md5", **kw).collect()}
    assert a == b and (0, 3) in a


def test_minhash_udf_bit_identical_both_families(spark):
    """minhash_signature_udf ≡ minhash_signature for xxhash64 AND md5
    families — exact integer arithmetic, so equality is guaranteed,
    not approximate."""
    from recipys_spark.functions.text import tokens
    from recipys_spark.operators.dedup import minhash_signature_udf

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "naïve ütf8 tökens ärö hashed by bytes",
        "a",
        "x " * 40 + "unique tail",
    ] + UNICODE_EDGE_TEXTS
    df = spark.createDataFrame(pd.DataFrame({"text": texts})).select(
        F.array_distinct(tokens(F.col("text"))).alias("toks")
    )
    for fam in ("xxhash64", "md5"):
        both = df.select(
            minhash_signature(F.col("toks"), 32, 42, hash_family=fam).alias("e"),
            minhash_signature_udf(32, 42, fam)(F.col("toks")).alias("v"),
        ).collect()
        for r in both:
            assert list(r.e) == list(r.v), fam


def test_minhash_lsh_vectorized_equals_expression(spark, monkeypatch):
    """The full LSH pipeline emits identical verified pairs on both
    signature paths, for both hash families."""
    from recipys_spark.operators.dedup import minhash_lsh_pairs

    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "pack my box with five dozen liquor jugs",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow",
    ] * 4  # repeated → exact dups across ids too
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(base)), "text": base})
    )
    for fam in ("xxhash64", "md5"):
        b = minhash_lsh_pairs(df, bands=16, threshold=0.6,
                              hash_family=fam).toPandas()
        with monkeypatch.context() as m:
            m.setattr(dedup, "minhash_signature_udf", minhash_mirror_udf)
            a = minhash_lsh_pairs(df, bands=16, threshold=0.6,
                                  hash_family=fam).toPandas()
        assert sorted(zip(a.id_a, a.id_b, a.jaccard.round(9))) == sorted(
            zip(b.id_a, b.id_b, b.jaccard.round(9))
        ), fam


# -- degenerate-input parity (ADVICE r3): NULL embeddings and zero-norm
# vectors must behave IDENTICALLY on the vectorized and expression
# paths — before the guards, a NULL embedding crashed the UDFs inside
# np.asarray and a zero vector scored NaN, which sorts ABOVE every real
# cosine in a descending top-k (rank-1 garbage neighbor).


def _degenerate_df(spark):
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [4.0, 3.0, 2.0, 1.0]),
        (2, None),               # NULL embedding
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm vector
        (4, [1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_cosine_udf_null_and_zero_norm_match_expression(spark):
    from recipys_spark.operators.similarity import cosine_expr, cosine_udf

    df = _degenerate_df(spark)
    pairs = df.alias("a").crossJoin(
        df.select(
            F.col("vec_id").alias("vid_b"), F.col("embedding").alias("emb_b")
        )
    )
    got = pairs.select(
        "vec_id",
        "vid_b",
        cosine_expr(F.col("embedding"), F.col("emb_b")).alias("e"),
        cosine_udf()(F.col("embedding"), F.col("emb_b")).alias("v"),
    ).collect()
    assert len(got) == 25
    for r in got:
        if r.e is None:
            assert r.v is None, (r.vec_id, r.vid_b, r.v)
        else:
            assert r.v is not None and abs(r.e - r.v) < 1e-12, r


def test_signature_udfs_null_embedding_yields_null(spark):
    from recipys_spark.operators.similarity import ivf_cells_udf

    df = _degenerate_df(spark)
    w = hyperplane_weights(4, 4)
    got = df.select(
        "vec_id",
        hyperplane_signature(F.col("embedding"), 4, 4, weights=w).alias("se"),
        hyperplane_signature_udf(4, 4, weights=w)(F.col("embedding")).alias("sv"),
        ivf_cells_udf([[1.0, 0, 0, 0], [0, 1.0, 0, 0]], 1)(
            F.col("embedding")
        ).alias("cells"),
    ).collect()
    for r in got:
        assert r.se == r.sv, r
        if r.vec_id == 2:
            assert r.se is None and r.cells is None
        else:
            assert r.se is not None and r.cells is not None


def test_topk_paths_agree_on_degenerate_corpus(spark, monkeypatch):
    """End-to-end: with a NULL-embedding row and a zero vector in the
    corpus, both LSH paths run without task failure, never rank the
    zero vector above real neighbors, and drop the NULL row."""
    df = _degenerate_df(spark)
    queries = df.where(F.col("vec_id") == 0)
    for vec in (False, True):
        _force_udf(monkeypatch, vec)
        out = lsh_cosine_topk(queries, df, k=10, n_planes=4, dim=4).collect()
        ids = [r.neighbor_id for r in out]
        assert 2 not in ids, (vec, out)          # NULL row unreachable
        if 3 in ids:                             # zero vector: last, never first
            assert ids[0] != 3 and all(
                r.cosine is None for r in out if r.neighbor_id == 3
            ), (vec, out)
        cosmap = {r.neighbor_id: r.cosine for r in out}
        assert cosmap.get(1) is not None

    for vec in (False, True):
        _force_udf(monkeypatch, vec)
        out = ivf_cosine_topk(
            queries, df, k=10,
            centroids=[[1.0, 0, 0, 0], [0, 0, 0, 1.0]], nprobe=2,
        ).collect()
        ids = [r.neighbor_id for r in out]
        assert 2 not in ids, (vec, out)
        if 3 in ids:
            assert ids[0] != 3


def test_recommend_lsh_params_sizing():
    """The docstring formulas, executable (VERDICT r3 #7): bucket-size
    bound drives n_planes; n_tables buys recall back above 12 planes;
    the size gate engages at the recommended planes × dim."""
    from recipys_spark.operators.similarity import recommend_lsh_params

    p6 = recommend_lsh_params(10**6, dim=64)
    assert p6["n_planes"] == 8 and p6["n_tables"] == 1
    assert p6["expected_bucket_rows"] <= 4_000
    p9 = recommend_lsh_params(10**9, dim=768)
    assert p9["n_planes"] == 18 and p9["n_tables"] >= 2
    assert similarity._vectorize(p9["n_planes"], 768)  # 18*768 >> 4096
    p11 = recommend_lsh_params(10**11, dim=768)
    assert 24 <= p11["n_planes"] <= 27 and p11["n_tables"] <= 8
    # floors and caps
    assert recommend_lsh_params(10, dim=4)["n_planes"] == 4
    assert recommend_lsh_params(2**80, dim=4)["n_planes"] == 62
    import pytest as _pytest

    with _pytest.raises(ValueError):
        recommend_lsh_params(-1, dim=4)
    with _pytest.raises(ValueError):
        recommend_lsh_params(100, dim=4, target_bucket_rows=0)


def test_lsh_autosized_params_recall(spark):
    """n_planes=None end to end: the auto-chosen params must recover
    most of the brute-force top-1 neighbors on the real embeddings
    table (recall tested against cosine_topk)."""
    from pyspark.sql import functions as F

    from recipys_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # plant genuine near-neighbors: each query is a corpus vector with
    # one element nudged (cosine ≈ 0.99+) — the workload ANN exists
    # for; on unplanted random noise (max pairwise cosine ~0.5) recall
    # is intrinsically weak for ANY bucketing scheme and proves nothing
    queries = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05) * F.abs(x) + F.lit(0.01))
            .otherwise(x),
        ).alias("embedding"),
    )
    exact = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(queries, emb, k=1).collect()
    }
    approx = lsh_cosine_topk(queries, emb, k=1, n_planes=None).collect()
    got = {r.query_id: r.neighbor_id for r in approx}
    hits = sum(1 for q, n in exact.items() if got.get(q) == n)
    assert hits >= len(exact) * 0.9, (hits, len(exact))


def test_nan_poisoned_embedding_never_ranks_first(spark):
    """A NaN element inside a corpus vector used to give NaN cosine on
    the expression path — and Spark sorts NaN ABOVE every real double,
    so one poisoned row became everyone's rank-1 neighbor. Both paths
    now yield NULL (sorts last)."""
    from recipys_spark.operators.similarity import cosine_expr, cosine_udf

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [3.0, 2.0, 1.0]),
        (2, [float("nan"), 1.0, 1.0]),   # poisoned
        (3, [float("inf"), 1.0, 1.0]),   # inf edge: NaN ratio via inf denom
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    pairs = df.alias("a").crossJoin(
        df.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    )
    got = pairs.select(
        "vec_id", "vb",
        cosine_expr(F.col("embedding"), F.col("eb")).alias("e"),
        cosine_udf()(F.col("embedding"), F.col("eb")).alias("v"),
    ).collect()
    import math
    for r in got:
        assert r.e is None or not math.isnan(r.e), r
        if r.e is None:
            assert r.v is None, r
        else:
            assert r.v is not None and abs(r.e - r.v) < 1e-12, r
        if 2 in (r.vec_id, r.vb):
            assert r.e is None, r  # poisoned pairs are NULL, never NaN


def test_lsh_auto_respects_explicit_n_tables_and_weights(spark):
    """n_planes=None must not clobber a caller-chosen n_tables, and
    combining it with explicit weights (which imply ONE table) must not
    raise even when the advisor would pick several tables."""
    from unittest import mock

    from recipys_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(3)
    # force the advisor to recommend many tables
    big = dict(n_planes=20, n_tables=4, expected_bucket_rows=1)
    with mock.patch.object(sim, "recommend_lsh_params", return_value=big):
        # explicit weights + auto planes: no "explicit weights imply
        # n_tables=1" error, and the weights' plane count wins
        w = sim.hyperplane_weights(4, 64)
        out = sim.lsh_cosine_topk(q, emb, k=2, n_planes=None, weights=w)
        assert out.count() >= 0
        # explicit n_tables survives the advisor: one signature seed per
        # table, each with the advisor's 20 planes
        calls = []
        real_sig = sim.hyperplane_signature

        def spy(emb_col, n_planes, dim, seed=42, weights=None):
            calls.append((n_planes, seed))
            return real_sig(emb_col, n_planes, dim, seed, weights)

        with mock.patch.object(sim, "hyperplane_signature", side_effect=spy):
            out2 = sim.lsh_cosine_topk(
                q, emb, k=2, n_planes=None, n_tables=2
            )
            assert out2.count() >= 0
        assert {planes for planes, _ in calls} == {20}
        assert len({seed for _, seed in calls}) == 2, calls
