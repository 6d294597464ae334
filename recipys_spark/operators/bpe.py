"""Byte-pair encoding: real subword tokenization for token accounting.

functions/text.py's ``token_count`` (whitespace + BPE-ish regex) is the
cheap JVM estimator; this module is the real thing — a trained merges
table applied greedily by rank, the Sennrich et al. 2015 algorithm
(arXiv 1508.07909) every modern tokenizer descends from. A 100 TB
pipeline needs it for exact token budgets, sequence packing inputs
(operators/packing.py) and per-document cost attribution.

- ``train_bpe``: distributed word-frequency aggregation (one groupBy —
  the only part that touches the full corpus), then the classic merge
  loop on the driver over the bounded top-``max_words`` vocabulary
  (deterministic tie-breaks ⇒ same merges at any cluster size).
- ``bpe_encode`` / ``bpe_token_count``: Arrow ``pandas_udf`` applying
  the broadcast-by-closure merges with an LRU word cache per batch —
  word frequency follows Zipf, so the cache hit rate is ~99% on
  natural text and the per-row cost is a dict lookup.

Fitted state is a plain list of string pairs — JSON-serializable,
Recipe.save_state-friendly, reusable across corpora (train once on a
reference corpus, apply everywhere — the production pattern).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd  # type hints of the Arrow encode UDF

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recipys_spark.functions.worker import ready

END = "</w>"  # end-of-word marker (Sennrich): keeps merges word-internal


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 50_000,
) -> list:
    """Learn ``num_merges`` BPE merges from a corpus.

    Phase 1 (distributed, the only full-corpus pass): explode tokens,
    groupBy word counts, keep the top ``max_words`` by (count desc,
    word) — a bounded, deterministic driver collect (Zipf: the tail
    beyond 50k word types carries negligible pair mass).
    Phase 2 (driver): the classic greedy loop — repeatedly merge the
    most frequent adjacent symbol pair; ties break lexicographically
    so training is reproducible at any parallelism.

    Returns the merges as a list of (left, right) tuples, in learned
    order (= rank).

    The merge loop maintains INCREMENTAL pair counts (inverted index
    pair → words containing it; lazy-invalidated heap for the argmax)
    — one merge touches only the words that contain the merged pair,
    so 50k merges over a 50k-word vocabulary is minutes, not the hours
    a full recount per iteration costs. Word segmentation: non-empty
    maximal runs between ASCII whitespace of the lowercased text —
    identical to the encode UDF's splitter, by construction."""
    import heapq

    from recipys_spark.functions.text import tokens

    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")  # tokens('') and leading-\t yield ''
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(max_words)
        .collect()
    )
    words = {i: (tuple(r["w"]) + (END,), int(r["count"])) for i, r in enumerate(rows)}

    def word_pairs(word):
        return [(word[i], word[i + 1]) for i in range(len(word) - 1)]

    pair_counts: dict = {}
    pair_to_words: dict = {}
    for idx, (word, cnt) in words.items():
        for p in word_pairs(word):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_to_words.setdefault(p, set()).add(idx)
    # heap key (-count, pair): pops highest count, ties lexicographically
    # smallest pair — the deterministic, parallelism-independent order
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list = []
    while len(merges) < num_merges and heap:
        negc, pair = heapq.heappop(heap)
        current = pair_counts.get(pair, 0)
        if current != -negc:
            continue  # stale entry — a fresher one is (or will be) queued
        if current < 2:
            break  # no pair repeats — further merges are noise
        merged = pair[0] + pair[1]
        touched = []
        for widx in pair_to_words.get(pair, ()):
            word, cnt = words[widx]
            out, i, hit = [], 0, False
            while i < len(word):
                if (
                    i < len(word) - 1
                    and word[i] == pair[0]
                    and word[i + 1] == pair[1]
                ):
                    out.append(merged)
                    i += 2
                    hit = True
                else:
                    out.append(word[i])
                    i += 1
            if not hit:
                continue  # stale membership from an earlier rewrite
            new_word = tuple(out)
            for p in word_pairs(word):
                pair_counts[p] -= cnt
                touched.append(p)
            for p in word_pairs(new_word):
                pair_counts[p] = pair_counts.get(p, 0) + cnt
                pair_to_words.setdefault(p, set()).add(widx)
                touched.append(p)
            words[widx] = (new_word, cnt)
        for p in set(touched):
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
            else:
                pair_counts.pop(p, None)
                pair_to_words.pop(p, None)
        merges.append(pair)
    return merges


def _encode_word(word: str, ranks: dict) -> list:
    """Greedy rank-based BPE apply (the GPT-2/HF algorithm): repeatedly
    merge the lowest-rank adjacent pair until none applies. Produces
    the same segmentation as replaying merges in learned order."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode_udf(merges: Sequence):
    """pandas_udf: text -> array of BPE subword tokens (END-marked).
    The merges table rides the closure (a 50k-merge vocab is ~1 MB);
    an unbounded per-batch word cache exploits Zipf."""
    import re

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    # the SAME segmentation as training: Java's \s is the ASCII class
    # [ \t\n\x0B\f\r] (Python re's \s also matches Unicode whitespace
    # like NBSP — a web corpus regular — which would split words the
    # JVM trainer kept whole); empty fragments are filtered on both
    # sides, so trim semantics cancel out
    splitter = re.compile("[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        ready()
        cache: dict = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list = []
            for w in splitter.split(t.lower()):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = _encode_word(w, ranks)
                    cache[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out, dtype=object)

    return enc


def bpe_encode(
    df: DataFrame,
    merges: Sequence,
    text_col: str = "text",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Append ``{text_col}_bpe`` (array<string> of subword tokens)."""
    out_col = out_col or f"{text_col}_bpe"
    return df.withColumn(out_col, bpe_encode_udf(merges)(F.col(text_col)))


def bpe_token_count(
    df: DataFrame,
    merges: Sequence,
    text_col: str = "text",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Append ``{text_col}_n_bpe`` — the EXACT subword count under the
    trained merges (functions/text.token_count is the cheap estimator;
    this is the budget number a training run bills by)."""
    out_col = out_col or f"{text_col}_n_bpe"
    return df.withColumn(
        out_col, F.size(bpe_encode_udf(merges)(F.col(text_col)))
    )


from recipys_spark.operators.base import Step  # noqa: E402
from recipys_spark.selector import has_type  # noqa: E402


class StepBpeTokens(Step):
    """Recipe-step form: fit learns the merges on the TRAIN corpus,
    transform appends ``{col}_bpe_count`` (and optionally the token
    array) — so bake() applies the frozen train-time vocabulary to new
    data, the exact prep/bake leakage boundary the engine enforces for
    every fitted step (a bake-time refit would leak test-corpus
    statistics into the tokenization).

    Fitted state is the merges list — JSON round-trips through
    Recipe.save_state/load_state like every other step."""

    _uses_groups = False
    _uses_sequence = False
    _row_preserving = True
    _stream_safe = True  # fitted state replays as a stateless projection/map

    def __init__(
        self,
        sel=None,
        num_merges: int = 200,
        max_words: int = 50_000,
        emit_tokens: bool = False,
        role: str = "predictor",
    ) -> None:
        super().__init__(sel if sel is not None else has_type("string"))
        self.num_merges = num_merges
        self.max_words = max_words
        self.emit_tokens = emit_tokens
        self.role = role
        self.merges: dict = {}
        self.desc = f"BPE tokenize ({num_merges} merges)"

    def new_column_roles(self) -> dict:
        cols = {}
        for c in self.columns:
            cols[f"{c}_bpe_count"] = self.role
            if self.emit_tokens:
                cols[f"{c}_bpe"] = self.role
        return cols

    def do_fit(self, ingredients) -> None:
        self.merges = {
            c: train_bpe(
                ingredients.df.select(F.col(c).alias("text")),
                num_merges=self.num_merges,
                max_words=self.max_words,
            )
            for c in self.columns
        }

    def do_transform(self, ingredients):
        df = ingredients.df
        exprs = []
        for c in self.columns:
            enc = bpe_encode_udf(self.merges[c])(F.col(c))
            if self.emit_tokens:
                # project the array once, size the projected column —
                # two UDF calls per row otherwise
                exprs.append(enc.alias(f"{c}_bpe"))
            else:
                exprs.append(F.size(enc).alias(f"{c}_bpe_count"))
        out = df.select("*", *exprs)
        if self.emit_tokens:
            out = out.select(
                "*",
                *[
                    F.size(F.col(f"{c}_bpe")).alias(f"{c}_bpe_count")
                    for c in self.columns
                ],
            )
        return out

    def get_state(self) -> dict:
        return {
            "columns": self.columns,
            "merges": {c: [list(m) for m in ms] for c, ms in self.merges.items()},
        }

    def set_state(self, state: dict) -> None:
        self.columns = state["columns"]
        self.merges = {
            c: [tuple(m) for m in ms] for c, ms in state["merges"].items()
        }
        self._trained = True
