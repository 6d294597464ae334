"""corpus_curate: ``clean_corpus`` (md5 MinHash, one-hop) →
``dedup_paragraphs`` → ``ngram_decontaminate(mode="flag")`` →
``pack_sequences`` over a seeded documents-schema corpus.

The composition between the first three calls is the one the driver's
``corpus_curate_full`` query runs (planted per-source footers, lazy
``localCheckpoint`` barriers, the ``doc_id % 17`` evaluation set), so with
the generated table registered as ``documents`` its DuckDB oracle checks
the curated rows verbatim; ``pack_sequences``'s oracle checks the packing
of the uncontaminated survivors the same way."""

from __future__ import annotations

import os
import re
import time

from workloads.base import ClosedLoop, materialize, sql_path

#: documents at scale 1
DOCS = 1_200
SEQ_LEN = 512

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da",
              "fe", "go", "hu", "ji", "ze", "po", "qui", "wa", "xo", "yu"]
_STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "a"]
#: boilerplate paragraphs shared across documents (paragraph dedup work)
_BOILERPLATE = [
    "subscribe to the newsletter and read it in the app",
    "all rights reserved and the terms of use apply to this page",
    "cookie settings accept the cookies to continue reading",
    "share this article with friends and follow us in the feed",
    "this page is part of the archive and it is not updated",
    "advertisement the content continues below the banner",
]


def materialized(sql: str) -> str:
    """The same query with every CTE materialized once: DuckDB otherwise
    inlines each reference, which recomputes the MinHash chain per use
    (about 6x slower here, identical rows)."""
    return re.sub(r"(WITH |, )(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def generate_documents(n: int, seed: int, directory: str, files: int = 8) -> None:
    """Seeded corpus with the driver's ``documents`` schema, written as
    ``files`` parquet files. About 10% of documents are near-duplicates of
    their predecessor (last word changed), 2% exact copies, a third carry a
    shared boilerplate paragraph, and documents shorter than 20 words fail
    the quality filter."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 17])
    vocab = np.array([a + b + c for a in _SYLLABLES for b in _SYLLABLES
                      for c in _SYLLABLES])
    stop = np.array(_STOPWORDS)

    def words(k: int) -> list:
        pick = rng.random(k) < 0.3
        return np.where(pick, stop[rng.integers(0, len(stop), k)],
                        vocab[rng.integers(0, len(vocab), k)]).tolist()

    kind = rng.integers(0, 50, n)
    texts, body, boiler = [], None, None
    for i in range(n):
        copy = i > 0 and kind[i] <= 5 and kind[i - 1] >= 6
        if copy:
            body = body[:-1] + words(1) if kind[i] < 5 else body
        else:
            body = words(int(rng.integers(10, 120)))
            b = int(rng.integers(0, 3 * len(_BOILERPLATE)))
            boiler = _BOILERPLATE[b] if b < len(_BOILERPLATE) else None
        text = " ".join(body)
        texts.append(text if boiler is None else f"{text}\n{boiler}")
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 16}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(directory, exist_ok=True)
    step = -(-n // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(directory, f"part-{f:03d}.parquet"))


class CorpusCurate(ClosedLoop):
    def __init__(self, run) -> None:
        super().__init__(run)
        self.docs = max(200, int(DOCS * run.scale))
        self.input = run.path("documents")

    def generate(self) -> None:
        generate_documents(self.docs, self.run.seed, self.input)

    def load(self) -> None:
        self.rows = self.spark.read.parquet(self.input).count()
        self.sizes = {"documents": self.rows}

    def reference(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = self.run.con
        con.execute(
            "CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM read_parquet('{sql_path(self.input)}')"
        )
        con.execute(
            "CREATE OR REPLACE TABLE cc_ref AS "
            f"{materialized(oracles['corpus_curate_full'])}"
        )
        # pack_sequences's oracle reads `documents`: give it the survivors
        with duckdb.connect() as pack:
            pack.register(
                "documents",
                con.execute(
                    "SELECT doc_id, text FROM cc_ref WHERE NOT contaminated"
                ).arrow(),
            )
            con.register(
                "cc_pack_ref", pack.execute(oracles["pack_sequences"]).arrow()
            )
        if self.run.trace:
            # candidate and verified pairs of the same md5 LSH, counted on
            # the mirror: the benchmark does not trace inside the library
            ctes = oracles["corpus_clean"].split(" SELECT e.doc_id")[0]
            cand, dup = con.execute(
                f"{ctes} SELECT (SELECT count(*) FROM cand), "
                "(SELECT count(*) FROM edges WHERE jaccard >= 0.8)"
            ).fetchone()
            self.pairs = {
                "dedup.candidate_pairs": cand,
                "dedup.duplicate_pairs": dup,
                "dedup.lsh_precision": dup / cand if cand else 0.0,
            }

    def iterate(self, out_dir) -> dict:
        from pyspark.sql import functions as F

        from recipys_spark.functions.text import token_count
        from recipys_spark.operators import (
            clean_corpus,
            dedup_paragraphs,
            ngram_decontaminate,
            pack_sequences,
        )

        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.input)
        cleaned, _ = self.call("corpus.clean", lambda: clean_corpus(
            docs, min_tokens=5, min_quality=0.2, bands=4, threshold=0.8,
            hash_family="md5", connected=False,
        ))
        planted = cleaned.localCheckpoint(eager=False).select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit("\nshared footer for "), F.col("source"),
                F.lit("\nunique line "), F.col("doc_id").cast("string"),
            ).alias("text"),
        )
        para, _ = self.call(
            "corpus.paragraphs", lambda: dedup_paragraphs(planted, check_ids=False)
        )
        evalset = docs.where(F.col("doc_id") % 17 == 0)
        curated, _ = self.call("corpus.decontam", lambda: ngram_decontaminate(
            para.localCheckpoint(eager=False), evalset, n=5, mode="flag",
            check_ids=False,
        ))
        curated = curated.localCheckpoint(eager=False)
        survivors = curated.where(~F.col("contaminated")).select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
        packed, _ = self.call(
            "packing.pack", lambda: pack_sequences(survivors, seq_len=SEQ_LEN)
        )
        with self.run.tracer.span("materialize"):
            if out_dir:
                curated.write.parquet(f"{out_dir}/curated")
                packed.write.parquet(f"{out_dir}/packed")
            else:
                materialize(packed)
        return {"wall_s": time.perf_counter() - t0, "rows": self.rows}

    def check(self, out_dir) -> int:
        from harness import mismatches

        con = self.run.con
        for k in ("curated", "packed"):
            con.execute(
                f"CREATE OR REPLACE VIEW cc_got_{k} AS "
                f"SELECT * FROM read_parquet('{sql_path(f'{out_dir}/{k}')}')"
            )
        used, seqs = con.execute(
            "SELECT sum(doc_end - doc_start), count(DISTINCT seq_id) "
            "FROM cc_got_packed"
        ).fetchone()
        self.fill_ratio = used / (seqs * SEQ_LEN) if seqs else 0.0
        self.curated_rows, self.contaminated = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE contaminated) FROM cc_got_curated"
        ).fetchone()
        return mismatches(
            con, "cc_got_curated", "cc_ref", ["doc_id"]
        ) + mismatches(con, "cc_got_packed", "cc_pack_ref", ["doc_id", "seq_id"])

    def report(self, results: list) -> dict:
        rep = super().report(results)
        rep.update(curated_docs=self.curated_rows, contaminated=self.contaminated,
                   fill_ratio=self.fill_ratio)
        return rep

    def layers(self) -> dict:
        out = {"packing.fill_ratio": self.fill_ratio, **self.pairs}
        for name in ("corpus.clean", "corpus.paragraphs", "corpus.decontam",
                     "packing.pack"):
            out[f"{name}_call_s"] = self.span_s(name)
            out[f"{name}_jobs"] = self.span_jobs(name)
        return out
