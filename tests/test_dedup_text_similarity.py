"""Dedup, text features, similarity search, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest

from recipys_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_clusters,
)
from recipys_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    synthetic_media,
    FEATURE_DIM,
)
from recipys_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from recipys_spark.operators.textstats import StepTextFeatures
from recipys_spark import Recipe
from recipys_spark.selector import all_of


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "completely different text about spark engines and shuffles",
        "pack my box with five dozen liquor jugs today", # near-dup of 2
        "  The  QUICK brown fox jumps over the lazy dog ",  # normalized dup of 0
    ]
    pdf = pd.DataFrame(
        {"doc_id": range(len(base)), "text": base, "lang": ["en"] * len(base)}
    )
    return spark.createDataFrame(pdf).cache()


def test_exact_dedup(spark, docs):
    kept = exact_dedup(docs).toPandas().sort_values("doc_id")
    # 0, 4 and 7 normalize identically -> keep 0
    assert set(kept.doc_id) == {0, 1, 2, 3, 5, 6}


def test_jaccard_pairs_ground_truth(spark, docs):
    pairs = jaccard_pairs(docs, threshold=0.6).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # exact dups and near-dups must pair up
    assert (0, 4) in got and (0, 7) in got and (4, 7) in got
    assert (0, 1) in got  # one-token difference
    assert (2, 6) in got
    assert not any({3, 5} & {a, b} for a, b in got)


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = minhash_lsh_pairs(docs, num_hashes=32, bands=16, threshold=0.6).toPandas()
    pairs = {(a, b) for a, b in zip(got.id_a, got.id_b)}
    # exact dups always collide in every band
    assert (0, 4) in pairs and (0, 7) in pairs
    # verified jaccard values match the exact computation
    exact = jaccard_pairs(docs, threshold=0.6).toPandas()
    exact_map = {(a, b): j for a, b, j in zip(exact.id_a, exact.id_b, exact.jaccard)}
    for (a, b), j in zip(pairs, got.jaccard):
        pass
    for _, row in got.iterrows():
        assert exact_map[(row.id_a, row.id_b)] == pytest.approx(row.jaccard)
    # LSH candidates are a subset of (blocked) all-pairs ground truth
    assert pairs <= set(exact_map)


def test_simhash_clusters(spark, docs):
    got = simhash_clusters(docs).toPandas()
    # the three normalized-identical docs share a simhash
    groups = got.groupby("simhash")["doc_id"].apply(set).tolist()
    assert {0, 4, 7} in groups


@pytest.fixture(scope="module")
def embeddings(spark):
    rs = np.random.RandomState(7)
    base = rs.normal(size=(20, 8)).astype("float32")
    base[5] = base[0] + 0.01 * rs.normal(size=8).astype("float32")  # near-dup
    pdf = pd.DataFrame(
        {"vec_id": range(20), "embedding": [list(map(float, v)) for v in base]}
    )
    return spark.createDataFrame(pdf).cache()


def test_cosine_topk_matches_numpy(spark, embeddings):
    got = cosine_topk(embeddings, embeddings, k=3).toPandas()
    pdf = embeddings.toPandas()
    mat = np.stack(pdf.embedding.map(np.array))
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    for qid in range(20):
        top = got[got.query_id == qid].sort_values("rank")
        expected = np.argsort(-sims[qid], kind="stable")[:3]
        assert list(top.neighbor_id) == list(expected)
        np.testing.assert_allclose(
            top.cosine.to_numpy(), sims[qid][expected], atol=1e-5
        )


def test_lsh_topk_recall(spark, embeddings):
    brute = cosine_topk(embeddings, embeddings, k=1).toPandas()
    approx = lsh_cosine_topk(
        embeddings, embeddings, k=1, n_planes=4, dim=8, multiprobe=True
    ).toPandas()
    b = dict(zip(brute.query_id, brute.neighbor_id))
    a = dict(zip(approx.query_id, approx.neighbor_id))
    hits = sum(1 for q in b if a.get(q) == b[q])
    # LSH with multiprobe should recover most true NNs on this tiny set
    assert hits / len(b) >= 0.5
    # the engineered near-identical pair must be found
    assert a.get(0) == 5 and a.get(5) == 0


def test_embedding_neardup(spark, embeddings):
    got = embedding_neardup_pairs(embeddings, threshold=0.99).toPandas()
    assert {(0, 5)} == {(a, b) for a, b in zip(got.id_a, got.id_b)}


def test_text_features_step(spark, docs):
    rec = Recipe(docs, predictors=["text"]).add_step(
        StepTextFeatures(sel=all_of(["text"]))
    )
    out = rec.prep().toPandas().sort_values("doc_id")
    assert (out["text_n_chars"] == out["text"].str.len()).all()
    assert out["text_n_tokens"].iloc[0] == 9
    assert out["text_lang"].iloc[0] == "en"
    # normalized dups share a fingerprint
    fp = out.set_index("doc_id")["text_fingerprint"]
    assert fp[0] == fp[4] == fp[7]
    assert (out["text_quality"] > 0).all()


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert all(len(v) == FEATURE_DIM for v in feats.features)
    # deterministic: same payload -> same features on re-run
    feats2 = extract_features(synthetic_media(spark, n=30)).toPandas()
    a = feats.sort_values("media_id").features.map(tuple).tolist()
    b = feats2.sort_values("media_id").features.map(tuple).tolist()
    assert a == b
    frames = frame_sample(synthetic_media(spark, n=30), every_ms=1000).toPandas()
    assert (frames.frame_ms % 1000 == 0).all()
    assert len(frames) > 0


def test_connected_components_chain_and_islands(spark):
    """A long chain collapses to one component in O(log n) rounds;
    disconnected islands stay separate."""
    import pandas as pd

    from recipys_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 12)]          # 1-2-3-...-12
    island = [(100, 101), (101, 102), (200, 201)]       # two more comps
    edges = spark.createDataFrame(
        pd.DataFrame(chain + island, columns=["id_a", "id_b"])
    )
    got = {
        r.node: r.comp for r in connected_components(edges).collect()
    }
    assert all(got[n] == 1 for n in range(1, 13))
    assert all(got[n] == 100 for n in (100, 101, 102))
    assert got[200] == got[201] == 200


def test_minhash_dedup_transitive_chain(spark):
    """A≈B≈C near-dup chain shares ONE cluster id even though A and C
    are not direct near-dups (connected components over star edges)."""
    base = [f"w{i}" for i in range(20)]
    a = " ".join(base)                                   # {w0..w19}
    b = " ".join(base[4:] + ["x0", "x1", "x2", "x3"])    # j(a,b)=16/24=0.67
    c = " ".join(base[8:] + [f"x{i}" for i in range(8)]) # j(b,c)=16/24, j(a,c)=12/28=0.43
    other = "completely different content entirely unrelated words"
    import pandas as pd

    from recipys_spark.operators.dedup import jaccard_pairs, minhash_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": [a, b, c, other], "lang": "en"}
        )
    )
    # sanity: A-C really is below the threshold (no direct edge)
    direct = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert (1, 3) not in direct and (1, 2) in direct and (2, 3) in direct

    got = {
        r.doc_id: (r.cluster_id, r.is_duplicate)
        for r in minhash_dedup(docs, threshold=0.6, num_hashes=64, bands=32).collect()
    }
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, True), got
    assert got[4] == (4, False)


def test_minhash_dedup_one_hop_mode(spark):
    """connected=False keeps the cheaper one-hop hub labeling."""
    import pandas as pd

    from recipys_spark.operators.dedup import minhash_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["alpha beta gamma delta"] * 2,
                "lang": "en",
            }
        )
    )
    got = {
        r.doc_id: (r.cluster_id, r.is_duplicate)
        for r in minhash_dedup(docs, connected=False).collect()
    }
    assert got[1] == (1, False) and got[2] == (1, True)


def test_lsh_topk_multi_table_improves_recall(spark, embeddings):
    """OR-construction across independent hyperplane tables: recall at
    n_tables=4 must be >= the single-table recall (and find the
    engineered pair even without multiprobe)."""
    brute = cosine_topk(embeddings, embeddings, k=1).toPandas()
    b = dict(zip(brute.query_id, brute.neighbor_id))

    def recall(n_tables):
        approx = lsh_cosine_topk(
            embeddings, embeddings, k=1, n_planes=4, dim=8,
            multiprobe=False, n_tables=n_tables,
        ).toPandas()
        a = dict(zip(approx.query_id, approx.neighbor_id))
        return sum(1 for q in b if a.get(q) == b[q]) / len(b), a

    r1, _ = recall(1)
    r4, a4 = recall(4)
    assert r4 >= r1, (r1, r4)
    assert a4.get(0) == 5 and a4.get(5) == 0


def test_char_shingles_and_ngram_jaccard(spark):
    """char_shingles emits distinct n-grams of the normalized text;
    n-gram Jaccard catches word-boundary edits that word-token Jaccard
    misses entirely."""
    import pandas as pd
    from pyspark.sql import functions as F

    from recipys_spark.functions.text import char_shingles
    from recipys_spark.operators.dedup import jaccard_pairs

    row = spark.range(1).select(
        char_shingles(F.lit("ab  cd"), 3).alias("s")
    ).first()
    assert sorted(row.s) == sorted({"ab ", "b c", " cd"})

    # same characters, different word segmentation
    t1 = "the quick brownfox jumps over the lazy dog again and again"
    t2 = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [t1, t2], "lang": "en"})
    )
    word = jaccard_pairs(docs, threshold=0.8).count()
    ngram = jaccard_pairs(docs, threshold=0.8, shingle=5).count()
    assert word == 0 and ngram == 1


def test_ivf_topk_recall_and_determinism(spark, embeddings):
    """IVF ANN: decent recall vs brute on the tiny fixture, engineered
    pair found, and centroid training is partitioning-invariant."""
    from recipys_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    brute = cosine_topk(embeddings, embeddings, k=1).toPandas()
    b = dict(zip(brute.query_id, brute.neighbor_id))
    approx = ivf_cosine_topk(
        embeddings, embeddings, k=1, n_centroids=4, nprobe=2
    ).toPandas()
    a = dict(zip(approx.query_id, approx.neighbor_id))
    hits = sum(1 for q in b if a.get(q) == b[q])
    assert hits / len(b) >= 0.5
    assert a.get(0) == 5 and a.get(5) == 0

    c1 = train_ivf_centroids(embeddings, n_centroids=4)
    c2 = train_ivf_centroids(embeddings.repartition(7), n_centroids=4)
    assert c1 == c2


def test_multimodal_real_netpbm_decode(spark):
    """REAL decode tier: PPM payloads generated executor-side, decoded
    with the pure-numpy Netpbm parser inside mapInPandas, features
    deterministic across partitioning."""
    import numpy as np

    from recipys_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        netpbm_decoder,
        synthetic_images,
    )

    imgs = synthetic_images(spark, n=30, size=16)
    out = extract_features(imgs, decoder=netpbm_decoder).orderBy("media_id").toPandas()
    assert len(out) == 30
    mat = np.stack(out.features.map(np.array))
    assert mat.shape == (30, FEATURE_DIM)
    # the generator's R channel is a 0..255 x-gradient: mean ~ 0.5
    np.testing.assert_allclose(mat[:, 0], 0.5, atol=0.05)
    # aspect ratio of the square images == 1
    np.testing.assert_allclose(mat[:, 14], 1.0, atol=1e-6)

    out2 = (
        extract_features(synthetic_images(spark, n=30, size=16).repartition(7),
                         decoder=netpbm_decoder)
        .orderBy("media_id")
        .toPandas()
    )
    np.testing.assert_array_equal(mat, np.stack(out2.features.map(np.array)))


def test_embedding_neardup_lsh(spark, embeddings):
    """LSH-bucketed near-dup tier: the engineered near-identical pair
    shares every hyperplane sign with overwhelming probability, so the
    single full-signature bucket join must surface it; every returned
    pair must also pass the exact-cosine filter (subset of brute)."""
    from recipys_spark.operators.dedup import embedding_neardup_lsh

    got = embedding_neardup_lsh(
        embeddings, threshold=0.99, n_planes=4, dim=8
    ).toPandas()
    pairs = {(a, b) for a, b in zip(got.id_a, got.id_b)}
    assert (0, 5) in pairs
    brute = embedding_neardup_pairs(embeddings, threshold=0.99).toPandas()
    truth = {(a, b) for a, b in zip(brute.id_a, brute.id_b)}
    assert pairs <= truth  # LSH never invents pairs (exact rescoring)
    assert (got.cosine >= 0.99).all()


def test_bpe_ish_tokens(spark):
    """BPE-ish pre-tokens split contractions, digit runs, and
    punctuation runs that whitespace tokenization glues together."""
    from recipys_spark.functions import text as TX

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["Don't stop", "v2.0-beta release", "plain words here"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        df.select(
            "doc_id",
            TX.bpe_ish_tokens(df.text).alias("toks"),
            TX.token_count(df.text).alias("n_ws"),
            TX.bpe_ish_token_count(df.text).alias("n_bpe"),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out.toks[0]) == ["don", "'t", "stop"]
    assert list(out.toks[1]) == ["v", "2", ".", "0", "-", "beta", "release"]
    assert list(out.toks[2]) == ["plain", "words", "here"]
    # punctuation-heavy text: BPE basis exceeds the whitespace count
    assert out.n_bpe[0] > out.n_ws[0] and out.n_bpe[1] > out.n_ws[1]
    assert out.n_bpe[2] == out.n_ws[2]


def test_quantize_embeddings_roundtrip_and_ranking(spark, embeddings):
    from recipys_spark.operators.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    qz = quantize_embeddings(embeddings)
    assert "embedding_scale" in qz.columns
    codes = qz.toPandas()
    for row in codes.itertuples():
        arr = np.array(row.embedding)
        assert arr.dtype.kind == "i" and np.abs(arr).max() <= 127

    dq = dequantize_embeddings(qz).toPandas().sort_values("vec_id")
    orig = embeddings.toPandas().sort_values("vec_id")
    scales = codes.sort_values("vec_id").embedding_scale.to_numpy()
    for (o, d, s) in zip(orig.embedding, dq.embedding, scales):
        err = np.abs(np.array(o, dtype=float) - np.array(d))
        assert err.max() <= s / 2 + 1e-12  # half-up bound

    # int8 quantization must preserve the top-1 neighbor ranking here
    top_o = cosine_topk(embeddings, embeddings, k=1).toPandas()
    deq_df = dequantize_embeddings(quantize_embeddings(embeddings))
    top_q = cosine_topk(deq_df, deq_df, k=1).toPandas()
    a = dict(zip(top_o.query_id, top_o.neighbor_id))
    b = dict(zip(top_q.query_id, top_q.neighbor_id))
    assert sum(a[k] == b[k] for k in a) >= 0.9 * len(a)


def test_quantize_embeddings_edge_cases(spark):
    from recipys_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[0.0, 0.0, 0.0]]})
    )
    qz = quantize_embeddings(df).toPandas()
    assert list(qz.embedding[0]) == [0, 0, 0] and qz.embedding_scale[0] == 0.0
    dq = dequantize_embeddings(quantize_embeddings(df)).toPandas()
    assert list(dq.embedding[0]) == [0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(df, bits=1)


def test_unigram_logprob_separates_gibberish(spark):
    from recipys_spark.operators.textstats import unigram_logprob_scores

    typical = ["the cat sat on the mat and the dog sat too"] * 6
    texts = typical + ["zxqv kjwr qpmd vbnx wyutr plok"]  # all-OOV-ish tokens
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = unigram_logprob_scores(df).toPandas().set_index("doc_id")
    # gibberish (every token unique in the corpus) scores well below
    # the repeated typical docs
    assert out.avg_logprob[6] < out.avg_logprob[0] - 1.0
    assert (out.n_oov == 0).all()  # self-fitted: every token is in-vocab

    # cross-scoring against a vocab that has never seen the gibberish:
    # those tokens are OOV and get the floor probability
    vocab = (
        df.where("doc_id < 6")
        .selectExpr("explode(split(trim(lower(text)), '\\\\s+')) t")
        .groupBy("t").count().withColumnRenamed("count", "c")
    )
    cross = unigram_logprob_scores(df, vocab_df=vocab).toPandas().set_index("doc_id")
    assert cross.n_oov[6] == 6 and cross.n_oov[0] == 0
    assert cross.avg_logprob[6] < out.avg_logprob[6]


def test_gopher_signals_hand_checked(spark):
    from recipys_spark.operators.textstats import gopher_signals

    text = (
        "one two three\n"
        "- bullet item\n"
        "- bullet item\n"
        "plain line...\n"
        "\n"
        "   \n"
        "### markup…"
    )
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    row = gopher_signals(df).toPandas().iloc[0]

    import re
    toks = re.split(r"\s+", text.strip().lower())
    lines = [l for l in text.split("\n") if l.strip()]
    assert row.n_words == len(toks)
    assert row.mean_word_len == round(sum(map(len, toks)) / len(toks), 6)
    assert row.symbol_word_ratio == round(
        (text.count("#") + text.count("…")) / len(toks), 6
    )
    assert row.alpha_word_frac == round(
        sum(1 for t in toks if re.search("[A-Za-z]", t)) / len(toks), 6
    )
    assert row.bullet_line_frac == round(2 / len(lines), 6)
    assert row.ellipsis_line_frac == round(2 / len(lines), 6)  # "..." and "…"
    assert row.dup_line_frac == round(1 / len(lines), 6)
    dup_chars = sum(len(l) for l in lines if lines.count(l) > 1)
    assert row.dup_line_char_frac == round(
        dup_chars / sum(map(len, lines)), 6
    )


def test_gopher_signals_flag_repetitive_doc(spark):
    from recipys_spark.operators.textstats import gopher_signals

    clean = "\n".join(f"a perfectly normal unique line number {i}" for i in range(10))
    spam = "\n".join(["buy cheap stuff now"] * 10)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": [clean, spam]})
    )
    out = gopher_signals(df).toPandas().set_index("doc_id")
    assert out.dup_line_frac[0] == 0.0 and out.dup_line_char_frac[0] == 0.0
    assert out.dup_line_frac[1] == 0.9 and out.dup_line_char_frac[1] == 1.0


def test_gopher_dup_chars_nonadjacent_duplicates(spark):
    """dup_line_char_frac is computed over the SORTED line array
    (round 7: duplicated ⟺ a sorted neighbor is equal, replacing the
    O(lines²) membership scan) — duplicates that are far apart in
    document order, interleaved uniques, and a line duplicated 3×
    must all count every occurrence, exactly as the naive multiset
    rule does."""
    from recipys_spark.operators.textstats import gopher_signals

    lines = ["dup", "aaa", "bb", "dup", "c", "bb", "dup", "", "  "]
    text = "\n".join(lines)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
    row = gopher_signals(df).collect()[0]
    kept = [l for l in lines if l.strip()]
    dup_chars = sum(len(l) for l in kept if kept.count(l) > 1)
    assert row.dup_line_char_frac == round(dup_chars / sum(map(len, kept)), 6)
    assert row.dup_line_frac == round(
        (len(kept) - len(set(kept))) / len(kept), 6
    )


def test_scrub_pii_and_dedupe_lines(spark):
    from recipys_spark.functions.text import dedupe_lines, scrub_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "mail bob.smith+x@corp.example.org now",
                "server at 192.168.1.100 called +44 20 7946 0958 twice",
                "version 2 of year 2024 has no pii at all",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = df.select("doc_id", scrub_pii(df.text).alias("t")).orderBy(
        "doc_id"
    ).toPandas()
    assert out.t[0] == "mail <EMAIL> now"
    assert out.t[1] == "server at <IP> called <PHONE> twice"
    assert out.t[2] == pdf.text[2]  # conservative: plain numbers untouched

    rep = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0], "text": ["b line\na line\nb line\nc line\na line"]}
        )
    )
    got = rep.select(dedupe_lines(rep.text).alias("t")).toPandas().t[0]
    assert got == "b line\na line\nc line"  # first-occurrence order kept


def test_step_gopher_signals_in_recipe(spark, docs):
    from recipys_spark.operators.textstats import (
        StepGopherSignals,
        gopher_signals,
    )

    rec = Recipe(docs, predictors=["text"]).add_step(
        StepGopherSignals(sel=all_of(["text"]))
    )
    out = rec.prep().orderBy("doc_id").toPandas()
    fn = gopher_signals(docs).orderBy("doc_id").toPandas()
    for sig in StepGopherSignals.SIGNALS:
        assert (
            out[f"text_gopher_{sig}"].fillna(-1).tolist()
            == fn[sig].fillna(-1).tolist()
        ), sig
    # roles recorded for downstream selectors
    assert "text_gopher_dup_line_frac" in out.columns


def test_scrub_pii_leaves_dates_and_decimals(spark):
    """Regression: the phone pattern must not redact ISO dates, decimal
    constants, or adjacent plain numbers (only +international or
    parenthesized forms match)."""
    from recipys_spark.functions.text import scrub_pii

    safe = [
        "released on 2024-01-02 ok",
        "pi is 3.14159265",
        "years 2024 2025 compared",
        "build 1234567890 done",
    ]
    hot = ["call +1 555 123 4567 now", "ring (020) 7946 0958 today"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6), "text": safe + hot})
    )
    out = df.select("doc_id", scrub_pii(df.text).alias("t")).orderBy(
        "doc_id"
    ).toPandas()
    for i, s in enumerate(safe):
        assert out.t[i] == s, out.t[i]
    assert out.t[4] == "call <PHONE> now"
    assert out.t[5] == "ring <PHONE> today"


def test_simhash_udf_parity_on_exotic_whitespace(spark):
    """Regression: the Arrow simhash must match the expression form on
    tab/newline-padded and NBSP-containing text (Spark trim strips
    spaces only; Java \\s is ASCII)."""
    from pyspark.sql import functions as F

    from recipys_spark.functions.text import simhash32_udf
    from tests.signature_mirrors import simhash32

    texts = [
        "\thello world\n",
        "  plain spaces  ",
        "nbsp joined tokens",
        "mixed\r\nline endings\ttabs",
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    for fam in ("xxhash64", "md5"):
        both = df.select(
            simhash32(F.col("text"), fam).alias("e"),
            simhash32_udf(fam)(F.col("text")).alias("v"),
        ).collect()
        for r in both:
            assert r.e == r.v, (fam, r)


def test_simhash_clusters_null_texts_not_clustered(spark):
    from recipys_spark.operators.dedup import simhash_clusters

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1, 2, 3], "text": ["same text", "same text", None, None]}
        )
    )
    got = simhash_clusters(df).toPandas()
    assert set(got.doc_id) == {0, 1}  # NULLs never cluster


# -- brute-tier pair budgets (VERDICT r3 #3): scale-safe by construction


def test_cosine_topk_pair_budget_raises(spark):
    import pytest as _pytest

    from recipys_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="lsh_cosine_topk"):
        cosine_topk(emb, emb, k=3, max_pairs=100)
    # None disables the guard; a tiny budget over a tiny frame passes
    out = cosine_topk(emb.limit(2), emb.limit(3), k=2, max_pairs=100)
    assert out.count() > 0


def test_embedding_neardup_pairs_budget_raises(spark):
    import pytest as _pytest

    from recipys_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="embedding_neardup_lsh"):
        embedding_neardup_pairs(emb, max_pairs=50)
    # blocked mode bounds by n × max_block: fine-grained blocks pass
    from pyspark.sql import functions as F

    blocked = emb.withColumn("blk", F.col("vec_id") % 200)
    assert (
        embedding_neardup_pairs(
            blocked, block_col="blk", threshold=-1.0, max_pairs=10_000
        ).count()
        > 0
    )
    # and max_pairs=None force-runs the quadratic join
    assert (
        embedding_neardup_pairs(
            emb.limit(5), threshold=-1.0, max_pairs=None
        ).count()
        == 10
    )
