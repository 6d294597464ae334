"""Web-corpus ingestion: WARC record parsing, HTML→text, URL features.

The tier that turns raw crawl archives into the ``documents`` table the
curation operators (corpus.py, textstats.py, dedup.py) consume. WARC
(ISO 28500) is the Common Crawl container format; its key storage
detail is that ``.warc.gz`` files are a CONCATENATION of independent
gzip members, one per record, so members can be processed without
decompressing the whole file.

- ``parse_warc_records``: Arrow-batched ``mapInPandas`` over binary
  payload columns — handles plain WARC and multi-member gzip; emits
  one row per record with the canonical headers + body. At cluster
  scale the payload column comes from ``spark.read.format("binaryFile")``
  over the crawl bucket; each archive parses independently, so the
  operator is embarrassingly parallel and shuffle-free.
- ``html_to_text``: JVM regexp pipeline (script/style removal, tag
  strip, entity decode, whitespace collapse) — RE2-compatible patterns
  so the DuckDB oracle replays byte-for-byte. The crude-but-standard
  baseline extraction tier; wire trafilatura/resiliparse behind the
  same signature for boilerplate-aware extraction.
- ``url_features``: scheme/host/path/depth/tld via the SAME
  regexp_extract patterns on both engines (deliberately not
  ``F.parse_url`` — java.net.URL edge-case behavior has no SQL
  mirror).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recipys_spark.functions.worker import ready

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.LongType()),
        T.StructField("record_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("body", T.BinaryType()),
    ]
)


_GZ_CHUNK = 1 << 20  # 1 MiB feed size for the streaming decompressor


def split_gzip_members(payload: bytes) -> list:
    """Split a concatenated-member gzip stream (the .warc.gz layout)
    into decompressed member payloads. A plain (non-gzip) payload
    returns itself as the single member.

    O(total bytes): the decompressor is fed fixed-size memoryview
    chunks — feeding ``payload[pos:]`` per member would copy the whole
    remaining archive once PER MEMBER (measured 48 s for a 40 MB /
    4k-member blob, i.e. hours for a real Common Crawl archive).
    Non-gzip trailing bytes after the last member (block padding some
    WARC writers emit) are tolerated and ignored; a member truncated
    mid-stream raises ValueError rather than returning silently
    partial output."""
    import zlib

    if not payload or payload[:2] != b"\x1f\x8b":
        return [payload or b""]
    members = []
    view = memoryview(payload)
    n = len(view)
    pos = 0
    while pos < n:
        if bytes(view[pos : pos + 2]) != b"\x1f\x8b":
            break  # trailing padding / non-gzip tail: done
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out = []
        feed = pos
        while feed < n and not d.eof:
            chunk = view[feed : feed + _GZ_CHUNK]
            out.append(d.decompress(chunk))
            feed += len(chunk)
        if not d.eof:
            raise ValueError(
                f"truncated gzip member starting at byte {pos} "
                f"({n - pos} bytes available)"
            )
        members.append(b"".join(out))
        pos = feed - len(d.unused_data)
    return members


def parse_warc_bytes(data: bytes) -> list:
    """Parse one (decompressed) WARC stream into record dicts. Headers
    end at the first blank line; the body is exactly Content-Length
    bytes; records are separated by \\r\\n\\r\\n."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record separators (CRLF per spec; tolerate bare LF)
        while pos < n and (
            data[pos : pos + 2] == b"\r\n" or data[pos : pos + 1] == b"\n"
        ):
            pos += 2 if data[pos : pos + 2] == b"\r\n" else 1
        if pos >= n:
            break
        if not data[pos : pos + 5] == b"WARC/":
            raise ValueError(
                f"malformed WARC: expected record header at byte {pos}"
            )
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("malformed WARC: unterminated header block")
        headers = {}
        lines = data[pos:hdr_end].split(b"\r\n")
        for line in lines[1:]:  # lines[0] is the WARC/1.x version
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii")] = v.strip().decode(
                "utf-8", "replace"
            )
        length = int(headers.get("content-length", "0"))
        body_start = hdr_end + 4
        if body_start + length > n:
            # a partial download is the one corruption mode that would
            # otherwise pass silently (content_length disagreeing with
            # the actual body) — fail loudly like every other malform
            raise ValueError(
                f"truncated WARC record at byte {pos}: Content-Length "
                f"{length} but only {n - body_start} bytes remain"
            )
        body = data[body_start : body_start + length]
        out.append(
            {
                "warc_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": length,
                "body": body,
            }
        )
        pos = body_start + length
    return out


def parse_warc_records(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
) -> DataFrame:
    """binary WARC (plain or .gz multi-member) payloads → one row per
    record (WARC_RECORD_SCHEMA). mapInPandas: whole archives per Arrow
    batch row, zero shuffle, embarrassingly parallel across files."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        for pdf in batches:
            rows = []
            for fid, payload in zip(pdf[id_col], pdf[payload_col]):
                idx = 0
                for member in split_gzip_members(bytes(payload)):
                    for rec in parse_warc_bytes(member):
                        rec["file_id"] = int(fid)
                        rec["record_idx"] = idx
                        idx += 1
                        rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in WARC_RECORD_SCHEMA.fields],
            )

    return df.mapInPandas(run, schema=WARC_RECORD_SCHEMA)


def synthetic_warc(
    spark: SparkSession, n_files: int = 20, records_per_file: int = 5,
    gzipped: bool = True, vary: bool = False,
) -> DataFrame:
    """Deterministic WARC fixture table (file_id, payload): genuine
    WARC/1.0 response records (one gzip member per record when
    ``gzipped``) whose HTML bodies the extraction tier can consume.
    ``vary=True`` writes ``3 + id % 4`` records per file so the member
    count differs per row — the metadata-oracle fixture (the DuckDB
    mirror replays the arithmetic from range(n))."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ready()
        import gzip as _gzip

        for pdf in batches:
            payloads = []
            for fid in pdf["id"]:
                members = []
                n_recs = 3 + int(fid) % 4 if vary else records_per_file
                for r in range(n_recs):
                    html = (
                        f"<html><head><title>doc {fid}-{r}</title>"
                        "<style>p{color:red}</style></head>"
                        f"<body><h1>Header {r}</h1><p>body text number "
                        f"{int(fid) * records_per_file + r} &amp; more</p>"
                        "<script>var x=1;</script></body></html>"
                    ).encode()
                    hdr = (
                        "WARC/1.0\r\n"
                        "WARC-Type: response\r\n"
                        f"WARC-Target-URI: https://example.org/f{fid}/r{r}\r\n"
                        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
                        "Content-Type: text/html\r\n"
                        f"Content-Length: {len(html)}\r\n\r\n"
                    ).encode()
                    record = hdr + html + b"\r\n\r\n"
                    members.append(
                        _gzip.compress(record, 6, mtime=0) if gzipped else record
                    )
                payloads.append(b"".join(members))
            yield pd.DataFrame({"file_id": pdf["id"], "payload": payloads})

    return spark.range(n_files).mapInPandas(
        gen, schema="file_id long, payload binary"
    )


def html_to_text(col) -> "F.Column":
    """Baseline HTML→text as a JVM regexp pipeline: drop script/style
    subtrees, strip tags, decode the five XML entities + numeric
    escapes for common cases, collapse whitespace. RE2-compatible
    patterns (no lookahead/backreferences) → byte-exact DuckDB mirror.
    html_to_text_sql() emits the same chain for oracles."""
    # two separate subtree patterns — a (script|style) backreference
    # would be Java-only (RE2 has no \1)
    e = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    e = F.regexp_replace(e, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    e = F.regexp_replace(e, r"(?s)<!--.*?-->", " ")
    e = F.regexp_replace(e, r"(?s)<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]:
        e = F.replace(e, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(e, r"\s+", " "))


def html_to_text_sql(expr: str) -> str:
    """The DuckDB mirror of html_to_text, as a SQL expression string
    over ``expr`` — kept adjacent so the two chains cannot drift."""
    e = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g')"
    e = f"regexp_replace({e}, '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g')"
    e = f"regexp_replace({e}, '(?s)<!--.*?-->', ' ', 'g')"
    e = f"regexp_replace({e}, '(?s)<[^>]+>', ' ', 'g')"
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "''"), ("&nbsp;", " "), ("&amp;", "&")]:
        e = f"replace({e}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({e}, '\\s+', ' ', 'g'))"


#: RE2-safe URL part patterns — used VERBATIM on both engines (these
#: deliberately avoid java.net.URL / F.parse_url, whose quirks have no
#: SQL mirror). Scheme per RFC 3986; host = authority minus
#: userinfo/port; path = everything from the first / after authority
#: up to ? or #.
URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):"
URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)"
URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append scheme / host / registered tld / path / path_depth —
    the URL-level filter signals (domain blocklists, tld priors,
    depth heuristics) of a crawl-curation pipeline. Pure
    regexp_extract, identical patterns in the DuckDB mirror."""
    u = F.col(url_col)
    host = F.regexp_extract(u, URL_HOST_RE, 1)
    path = F.regexp_extract(u, URL_PATH_RE, 1)
    return df.select(
        "*",
        F.lower(F.regexp_extract(u, URL_SCHEME_RE, 1)).alias("url_scheme"),
        F.lower(host).alias("url_host"),
        F.lower(F.regexp_extract(host, r"\.([A-Za-z0-9-]+)$", 1)).alias("url_tld"),
        path.alias("url_path"),
        F.when(
            F.length(path) > 0,
            F.size(F.filter(F.split(path, "/"), lambda x: F.length(x) > 0)),
        )
        .otherwise(F.lit(0))
        .alias("url_path_depth"),
    )
