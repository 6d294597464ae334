"""End-to-end corpus cleaning for LLM training-data pipelines.

``clean_corpus`` composes the individual tiers this package ships —
quality scoring, language ID, exact dedup, MinHash-LSH near-dedup —
into the one pipeline a 100 TB pre-training run actually executes,
ordered for scale:

1. **annotate + filter** first: token count / quality / language are
   pure codegen expressions evaluated in the parquet scan stage, so
   the corpus shrinks before anything shuffles;
2. **exact dedup**: one shuffle on the md5 fingerprint of the
   *surviving* rows;
3. **near-dedup**: MinHash banding over the exact-deduped set — the
   band-key shuffle (the expensive step) runs on the smallest corpus.

Each stage delegates to the tested single-purpose operator; this
module adds only composition and the audit columns.

Reference parity note: the reference engine (rvandewater/ReciPys) has
no corpus operators at all (recipys/ holds step/recipe/selector only);
this module is part of the LLM-pipeline superset tier.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recipys_spark.functions.text import lang_guess, quality_score, token_count
from recipys_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)


def annotate_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: Optional[int] = None,
    min_quality: float = 0.0,
    langs: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Stage 1 of corpus cleaning: append ``n_tokens`` / ``quality`` /
    ``lang_id`` audit columns and apply the length/quality/language
    filters. Pure stateless codegen expressions — evaluated in the scan
    stage batch-side, and directly streamable (no state, no shuffle)."""
    c = F.col(text_col)
    ann = df.select(
        "*",
        token_count(c).alias("n_tokens"),
        quality_score(c).alias("quality"),
        lang_guess(c).alias("lang_id"),
    )
    cond = F.col("n_tokens") >= F.lit(min_tokens)
    if max_tokens is not None:
        cond = cond & (F.col("n_tokens") <= F.lit(max_tokens))
    if min_quality > 0.0:
        cond = cond & (F.col("quality") >= F.lit(min_quality))
    if langs is not None:
        cond = cond & F.col("lang_id").isin(list(langs))
    return ann.where(cond)


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: Optional[int] = None,
    min_quality: float = 0.0,
    langs: Optional[Sequence[str]] = None,
    min_logprob: Optional[float] = None,
    lm_vocab: Optional[DataFrame] = None,
    near_dedup: bool = True,
    num_hashes: int = 32,
    bands: int = 4,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
    connected: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Clean a document corpus: quality/length/language filter, exact
    dedup, then MinHash near-dedup. Returns the surviving rows with
    audit columns ``n_tokens`` / ``quality`` / ``lang_id`` appended.

    Survivor semantics: within an exact-duplicate group the min-id row
    wins; within a near-dup cluster the docs labeled duplicates by
    ``minhash_lsh_pairs`` star edges are dropped (``connected=True``
    resolves chains A≈B≈C to one representative via
    connected-components; ``connected=False`` is the cheaper one-hop
    variant whose every step has an exact SQL mirror).

    100 TB notes: stages 1–2 are one codegen scan plus one fingerprint
    shuffle; the near-dedup band shuffle carries (id, band-key) rows
    only, and the Jaccard verification joins token sets back by doc id
    (see operators/dedup.py minhash_lsh_pairs for the full analysis).
    """
    filtered = annotate_filter(
        df, text_col, min_tokens, max_tokens, min_quality, langs
    )

    if min_logprob is not None:
        # statistical tier AFTER the heuristic filters: mean unigram
        # log-prob under an add-1 model — self-fitted on the heuristic
        # survivors, or cross-scored against a trusted ``lm_vocab``
        # (token, c) table. Joined back by id (broadcast-sized scores
        # side only when the corpus is small — Catalyst/AQE decides).
        from recipys_spark.operators.textstats import unigram_logprob_scores

        scores = unigram_logprob_scores(
            filtered, text_col=text_col, id_col=id_col, vocab_df=lm_vocab
        ).select(id_col, "avg_logprob")
        filtered = (
            filtered.join(scores, id_col, "left")
            .where(F.col("avg_logprob") >= F.lit(min_logprob))
            .drop("avg_logprob")
        )

    exact = exact_dedup(filtered, text_col=text_col, id_col=id_col)

    if not near_dedup:
        return exact

    # Stage barrier (lazy localCheckpoint — the corpus_curate_full
    # pattern): the exact-deduped corpus is referenced FOUR times below
    # (the MinHash signature pass, both Jaccard-verify joins, and the
    # final left_anti), and without a barrier Spark re-executes the
    # whole annotate→filter→fingerprint-window chain per reference —
    # the quality/lang expressions are the most expensive scalar work
    # in the pipeline (measured 6.5 s vs 3.0 s at sf1.0 for the full
    # clean). At cluster scale the same boundary is a checkpoint /
    # intermediate table write; the materialization is one pass over
    # the SURVIVING rows only.
    exact = exact.localCheckpoint(eager=False)

    edges = minhash_lsh_pairs(
        exact,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        seed=seed,
        link="star",
        hash_family=hash_family,
    )
    if connected:
        comps = connected_components(edges)
        dups = comps.where(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    else:
        dups = edges.select(F.col("id_b").alias(id_col)).distinct()
    return exact.join(dups, id_col, "left_anti")


def _check_doc_ids(
    df: DataFrame, id_col: str, caller: str, require_unique: bool
) -> None:
    """Fit-time id validation shared by the curation operators (the
    pack_sequences precedent): NULL ids break identity joins silently
    — a NULL-id document never matches itself in a left_anti, so a
    contaminated doc would sail through decontamination — and
    duplicate ids make paragraph reassembly interleave two documents.
    One bounded aggregation; callers expose check_ids=False to skip."""
    agg = [
        F.count("*").alias("n_all"),
        F.count(id_col).alias("n_id"),
    ]
    if require_unique:
        agg.append(F.countDistinct(id_col).alias("n_dist"))
    chk = df.agg(*agg).first()
    if chk.n_id < chk.n_all:
        raise ValueError(
            f"{caller}: {chk.n_all - chk.n_id} NULL {id_col!r} values — "
            "NULL ids never match in identity joins; assign real ids first"
        )
    if require_unique and chk.n_dist < chk.n_id:
        raise ValueError(
            f"{caller}: {id_col!r} is not unique "
            f"({chk.n_id - chk.n_dist} duplicate rows) — duplicate ids "
            "would interleave documents on reassembly; derive a unique id "
            "or pass check_ids=False only when uniqueness is guaranteed"
        )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
    check_ids: bool = True,
) -> DataFrame:
    """Cross-document PARAGRAPH deduplication — the C4/RefinedWeb rule
    that removes boilerplate below document granularity (nav bars,
    cookie banners, repeated footers) which document-level dedup never
    sees.

    A paragraph survives only at its FIRST global occurrence (lowest
    ``id_col``, then lowest position within that doc — deterministic
    at any cluster size); later occurrences are deleted and the
    document is reassembled from its surviving paragraphs in original
    order. Returns (id, text) with empty documents (every paragraph
    was someone else's) dropped.

    Scale shape: explode to (id, pos, paragraph) → one groupBy(min)
    over the paragraph fingerprint (the ONLY shuffle over corpus
    volume — and it carries an md5 fingerprint, not the paragraph
    text) → join survivors back by fingerprint → one groupBy(id)
    reassembly. Paragraph = ``\\n``-separated block with ≥
    ``min_chars`` non-whitespace chars; whitespace-only blocks pass
    through dedup untouched (they carry layout, not content).

    ``id_col`` must be non-null and unique (validated by one fit-time
    aggregation unless ``check_ids=False``) — duplicate ids would
    interleave two documents in the reassembly groupBy."""
    if check_ids:
        _check_doc_ids(df, id_col, "dedup_paragraphs", require_unique=True)
    parts = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    )
    content = F.length(F.trim(F.col("para"))) >= min_chars
    keyed = parts.withColumn(
        "__fp", F.when(content, F.md5(F.col("para")))
    )
    # first global occurrence per fingerprint: min (id, pos) — packed
    # into one struct-min so a single aggregate resolves both
    firsts = (
        keyed.where(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first"))
        .select(
            "__fp",
            F.col("__first")[id_col].alias("__fid"),
            F.col("__first")["pos"].alias("__fpos"),
        )
    )
    kept = keyed.join(firsts, "__fp", "left").where(
        F.col("__fp").isNull()  # layout-only paragraph: always kept
        | ((F.col(id_col) == F.col("__fid")) & (F.col("pos") == F.col("__fpos")))
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias(text_col),
            F.max(F.when(F.col("__fp").isNotNull(), 1).otherwise(0)).alias("__has"),
        )
    )
    # a doc whose every CONTENT paragraph was deleted contributes only
    # layout — drop it
    return rebuilt.where(F.col("__has") == 1).select(id_col, text_col)


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop",
    check_ids: bool = True,
) -> DataFrame:
    """Benchmark decontamination: remove (or flag) corpus documents
    sharing any lowercase word ``n``-gram with an evaluation set — the
    GPT-3-style 13-gram overlap rule. Training on eval data silently
    inflates benchmarks, so this runs LAST in a curation pipeline,
    after dedup (fewer docs to scan).

    ``mode``: "drop" → surviving corpus rows; "flag" → all rows plus a
    ``contaminated`` boolean (for audit/reporting before the drop).

    Scale shape: both sides explode to n-gram md5 fingerprints
    (shingle count = words - n + 1); the join runs fingerprint-to-
    fingerprint with the benchmark side DISTINCT first (benchmark
    n-gram sets are ~10^6-10^8 — broadcastable by AQE when small,
    sort-merge when not; never all-pairs). Documents shorter than
    ``n`` words cannot collide and are never flagged."""
    from recipys_spark.functions.text import tokens

    if n < 1:
        raise ValueError("n must be >= 1")
    if mode not in ("drop", "flag"):
        raise ValueError("mode must be 'drop' or 'flag'")
    if check_ids:
        # NULL ids are the silent leak: a NULL-id doc never matches
        # itself in the left_anti/left join, so a contaminated doc
        # would be kept (drop mode) / unflagged (flag mode)
        _check_doc_ids(
            corpus, id_col, "ngram_decontaminate", require_unique=False
        )

    def grams(df, out):
        # Bind the token array as a HOF lambda variable so the
        # split/lower/trim chain runs ONCE per document. The naive
        # alias-then-explode-then-slice form is collapsed by Catalyst
        # into a post-Generate projection that re-evaluates the full
        # tokenization per shingle row — O(words^2) per doc, which at
        # web-document lengths (10^3 words) is catastrophic. Exploding
        # a pre-materialized fingerprint array keeps it O(words * n).
        toks = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
        fps = F.get(
            F.transform(
                F.array(toks),
                lambda t: F.when(
                    F.size(t) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - n + 1),
                        lambda i: F.md5(F.array_join(F.slice(t, i, n), " ")),
                    ),
                ),
            ),
            F.lit(0),
        )
        return df.select(F.col(id_col), F.explode(fps).alias(out))

    bench_fps = grams(benchmark, "__fp").select("__fp").distinct()
    hits = (
        grams(corpus, "__fp")
        .join(bench_fps, "__fp")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    if mode == "drop":
        return corpus.join(hits.select(id_col), id_col, "left_anti")
    return corpus.join(hits, id_col, "left").select(
        *[F.col(c) for c in corpus.columns],
        F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated"),
    )
