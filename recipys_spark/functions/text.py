"""Text-analysis expressions for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions (JVM-side,
whole-stage codegen — no Python in the hot path), each with an exact
ANSI-SQL mirror used as the DuckDB oracle in ``__spark_entry__.py``.

Covers: token counting (whitespace), punctuation/stopword ratios,
quality scoring, n-gram-heuristic language ID, and md5 document
fingerprinting over whitespace-normalized text.
"""

from __future__ import annotations

import pandas as pd  # type hints of the Arrow simhash UDF
from pyspark.sql import functions as F
from recipys_spark.functions.worker import ready

# tiny per-language stopword lists for the heuristic language ID
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "des"],
    "es": ["el", "los", "las", "y", "es", "una", "del"],
}

PUNCT_RE = r"[.,;:!?]"


def tokens(col) -> "F.Column":
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col) -> "F.Column":
    return F.size(tokens(col))


#: BPE-ish pre-tokenization pattern (GPT-2 style minus the lookahead,
#: which RE2 — DuckDB's regex engine — doesn't support): apostrophe
#: contractions, letter runs, digit runs, punctuation runs. Kept to
#: ASCII classes so Java regex and RE2 agree byte-for-byte.
BPE_ISH_PATTERN = r"'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col) -> "F.Column":
    """Sub-word-ish pre-tokens (the unit a BPE tokenizer would merge
    from): 'don't' → [don, 't], 'v2.0-beta' → [v, 2, ., 0, -, beta].
    Pure JVM regexp_extract_all — the LLM-pipeline token-count basis
    that whitespace tokens underestimate on code/punctuation-heavy
    text."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_ISH_PATTERN), F.lit(0))


def bpe_ish_token_count(col) -> "F.Column":
    return F.size(bpe_ish_tokens(col))


SQL_BPE_TOKEN_COUNT = (
    "len(regexp_extract_all(lower({c}), '" + BPE_ISH_PATTERN.replace("'", "''") + "'))"
)


def char_shingles(col, n: int = 5) -> "F.Column":
    """Distinct character n-gram shingles of the whitespace-normalized
    text — the classic near-dup unit (robust to word-boundary edits
    where word tokens are brittle). Pure JVM: sequence + transform +
    substring, no UDF."""
    norm = normalized_text(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))),
            lambda i: F.substring(norm, i, n),
        )
    )


def punct_ratio(col) -> "F.Column":
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, PUNCT_RE, ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def stopword_count(col, lang: str) -> "F.Column":
    """Tokens from the per-language stopword list, with multiplicity.

    Implemented as ONE codegen-able ``regexp_count`` over the
    space-joined token array instead of an interpreted higher-order
    ``filter(tokens, isin)`` pass (HOF lambdas evaluate per element per
    row with no whole-stage codegen — five of these per row made the
    annotate/quality tier the hottest scalar work in the corpus
    pipeline). Exact-equality argument: ``tokens()`` splits on ``\\s+``
    so no token contains a space; bordering the joined string with
    single spaces makes "token ∈ list" ⟺ one match of
    ``(?<= )(?:w1|w2|…)(?= )`` anchored at that token (non-consuming
    lookarounds count adjacent hits; alternation backtracks through
    prefix-shadowed words like le/les until the boundary fits, and a
    match can only start at a token start because of the lookbehind).
    The DuckDB oracle keeps its independent list_filter mirror, so the
    driver hash-gate cross-checks this rewrite on every run."""
    words = STOPWORDS[lang]
    joined = F.concat(F.lit(" "), F.array_join(tokens(col), " "), F.lit(" "))
    pat = "(?<= )(?:" + "|".join(words) + ")(?= )"
    return F.regexp_count(joined, F.lit(pat))


def stopword_ratio(col, lang: str = "en") -> "F.Column":
    return stopword_count(col, lang) / token_count(col)


def quality_score(col) -> "F.Column":
    """Deterministic heuristic in [0, 1]: reward length (saturating at
    100 tokens) and stopword presence, penalize punctuation soup."""
    length_term = F.least(F.lit(1.0), token_count(col) / F.lit(100.0))
    stop_term = F.least(F.lit(1.0), stopword_ratio(col, "en") * F.lit(4.0))
    return length_term * (F.lit(1.0) - punct_ratio(col)) * (F.lit(0.5) + stop_term / 2)


def lang_guess(col) -> "F.Column":
    """Argmax of per-language stopword hits; ties and zero hits → 'und'."""
    counts = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # reverse order so earlier (alphabetical) languages win ties
    for lang in sorted(STOPWORDS, reverse=True):
        expr = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def normalized_text(col) -> "F.Column":
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col) -> "F.Column":
    """Whitespace-insensitive md5 document fingerprint (portable:
    identical result in any engine with md5)."""
    return F.md5(normalized_text(col))


def _token_hash_expr(t, hash_family: str):
    """Per-token 64-bit hash column: xxhash64 (production) or the
    60-bit md5 prefix (portable — exact DuckDB mirror, see
    SQL_SIMHASH)."""
    if hash_family == "xxhash64":
        return F.xxhash64(t)
    if hash_family != "md5":
        raise ValueError("hash_family must be 'xxhash64' or 'md5'")
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash32_udf(hash_family: str = "xxhash64"):
    """Vectorized SimHash: Arrow-batched pandas_udf, BIT-IDENTICAL to
    ``simhash32`` (integer arithmetic end-to-end; token hashes come
    from the xxh64 Spark-parity port, memoized per worker since token
    vocabularies are zipfian). Replaces 32 interpreted F.aggregate
    passes per row with one numpy bit-matrix reduction per document —
    the production path; the expression form remains the in-plan
    mirror for small scans."""
    import re

    import numpy as np

    from recipys_spark.functions.xxh64 import hash_token, hash_token_md5

    if hash_family == "md5":
        hash_token = hash_token_md5
    elif hash_family != "xxhash64":
        raise ValueError("hash_family must be 'xxhash64' or 'md5'")

    # mirror tokens() EXACTLY: Spark trim strips ' ' ONLY (SQL TRIM,
    # not Java String.trim), and Java regex \s is ASCII — Python's
    # unicode \s / str.strip() diverge on tab-padded or NBSP text,
    # silently breaking bit-parity with the expression form
    ws = re.compile(r"\s+", re.ASCII)
    shifts = np.arange(32, dtype=np.int64)
    bitvals = (np.int64(1) << shifts)

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        ready()
        out = np.zeros(len(texts), dtype=np.int64)
        for j, txt in enumerate(texts):
            if txt is None:
                # the expression form's when(...).otherwise(0) absorbs
                # the null bit-sums, so NULL text hashes to 0 — mirror it
                continue
            toks = dict.fromkeys(ws.split(txt.lower().strip(" ")))  # distinct, ordered
            h = np.fromiter(
                (hash_token(t) for t in toks), dtype=np.int64, count=len(toks)
            )
            bits = (h[:, None] >> shifts) & 1  # n_tokens × 32, in {0,1}
            vote = (2 * bits - 1).sum(axis=0)  # ±1 votes per bit
            out[j] = int(((vote > 0) * bitvals).sum())
        return pd.Series(out)

    return sh


def simhash32(col, hash_family: str = "xxhash64") -> "F.Column":
    """32-bit SimHash over whitespace tokens, fully JVM-side.

    Each distinct token hashes once (xxhash64, or the 60-bit md5
    prefix for the SQL-mirrorable ``hash_family="md5"``); bit i of the
    signature is 1 iff the sum over tokens of ±1 (by the token-hash's
    bit i) is positive. Near-duplicates differ in few bits (small
    Hamming distance)."""
    toks = F.array_distinct(tokens(col))
    out = F.lit(0).cast("long")
    for i in range(32):
        bit_sum = F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(
                F.shiftright(_token_hash_expr(t, hash_family), i).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1),
        )
        out = out + F.when(bit_sum > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


# -- SQL mirrors (DuckDB oracles) ----------------------------------------

SQL_TOKENS = "string_split_regex(trim(lower({c})), '\\s+')"
SQL_TOKEN_COUNT = f"len({SQL_TOKENS})"
SQL_PUNCT_RATIO = (
    "CASE WHEN length({c}) > 0 THEN "
    "(length({c}) - length(regexp_replace({c}, '[.,;:!?]', '', 'g'))) "
    "/ CAST(length({c}) AS DOUBLE) ELSE 0.0 END"
)


def sql_stopword_count(c: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({SQL_TOKENS.format(c=c)}, t -> t IN ({words})))"


def sql_quality_score(c: str) -> str:
    tc = SQL_TOKEN_COUNT.format(c=c)
    pr = SQL_PUNCT_RATIO.format(c=c)
    sw = sql_stopword_count(c, "en")
    return (
        f"least(1.0, {tc} / 100.0) * (1.0 - {pr}) "
        f"* (0.5 + least(1.0, ({sw} / CAST({tc} AS DOUBLE)) * 4.0) / 2)"
    )


def sql_lang_guess(c: str) -> str:
    counts = {lang: sql_stopword_count(c, lang) for lang in STOPWORDS}
    best = "greatest(" + ", ".join(counts.values()) + ")"
    expr = "'und'"
    for lang in sorted(STOPWORDS, reverse=True):
        expr = (
            f"CASE WHEN {best} > 0 AND {counts[lang]} = {best} "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


SQL_FINGERPRINT = "md5(trim(regexp_replace(lower({c}), '\\s+', ' ', 'g')))"


# -- PII scrubbing (training-data redaction) -------------------------------

#: RE2-compatible (no lookaround/backrefs) so the Java and DuckDB
#: engines match byte-for-byte. Order matters when masking: emails
#: before phones (addresses contain digits), IPs before phones.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
#: deliberately conservative: only +international or parenthesized
#: forms ("+1 555 123 4567", "(020) 7946 0958"). A separator class
#: including '.' or matching bare digit runs redacts ISO dates
#: ("2024-01-02"), decimals ("3.14159265") and adjacent plain numbers —
#: lookahead-free regex cannot count digits across groups, so the safe
#: trade is low false-positives; add locale-specific patterns for bare
#: national formats ("555-123-4567") where the corpus warrants it.
PII_PHONE = r"(\+\d|\(\d)[\d() \-]{6,}\d\b"


def scrub_pii(col) -> "F.Column":
    """Mask emails, IPv4 addresses, and phone-like digit runs with
    typed placeholder tokens — the standard redaction pass before
    training-corpus publication. Pure JVM regexp_replace chain."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def sql_scrub_pii(c: str) -> str:
    # backslashes need no escaping in DuckDB single-quoted strings;
    # only quotes are doubled
    def esc(p):
        return p.replace("'", "''")

    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"{c}, '{esc(PII_EMAIL)}', '<EMAIL>', 'g'), "
        f"'{esc(PII_IPV4)}', '<IP>', 'g'), "
        f"'{esc(PII_PHONE)}', '<PHONE>', 'g')"
    )


def dedupe_lines(col) -> "F.Column":
    """Remove repeated lines within a document, keeping first
    occurrences in order (array_distinct is order-stable) — the cheap
    in-document boilerplate strip that whole-corpus dedup can't do."""
    return F.array_join(F.array_distinct(F.split(col, "\n")), "\n")


def sql_dedupe_lines(c: str) -> str:
    # DuckDB list_distinct is NOT order-preserving; keep each line only
    # at its first-occurrence index (two-arg lambda, 1-based)
    ls = f"string_split({c}, chr(10))"
    return (
        f"array_to_string(list_filter({ls}, "
        f"(x, i) -> list_position({ls}, x) = i), chr(10))"
    )
