"""Session builder, table IO, and the synthetic transcript generator.

The canonical input (BASELINE.json input_hint) is an Iceberg table of
multi-turn conversation transcripts::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Iceberg jars are not bundled in this sandbox, so ``read_table`` /
``write_table`` use the Iceberg catalog when configured and fall back
to parquet paths otherwise — the engine is storage-agnostic
(everything downstream is plain DataFrame ops).

``synthetic_transcripts`` generates the table fully distributed —
``spark.range`` → hash-derived conversation lengths → ``sequence`` +
``explode`` for turns; no driver-side loops, deterministic for a given
(n_convs, seed): the same inputs give bit-identical tables at any
parallelism, which is what the two-cluster-size scaling protocol needs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def get_spark(
    parallelism: int = 32,
    app_name: str = "recipys_spark",
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Local session with the engine's canonical config: UTC, AQE on,
    Arrow on, shuffle partitions equal to ``parallelism`` (one per core)
    unless ``shuffle_partitions`` is given.

    One per core, not more: each Python worker's first task pays a fixed
    start cost (~0.9 s of CPU measured on Python 3.11, imports plus one
    re-read of pyspark.zip's directory; later tasks skip the re-read
    through functions/worker.py), every state partition of a stateful
    streaming operator runs its own Python passes per micro-batch, and
    those operators skip AQE, so their partition count is this setting,
    frozen at a checkpoint's first start (streaming/session.py). It is
    also the advisor's floor (plans/advisor.py)."""
    if shuffle_partitions is None:
        shuffle_partitions = parallelism
    import os as _os

    # AQE coalescing floor (guide §2.2): the default 1 MB floor merges
    # small-but-compute-dense shuffles (interpreted array ops, decimal
    # window sorts) down to a handful of partitions, serializing their
    # downstream stages on a many-core box. A 64 KB floor preserves
    # parallelism there; at cluster scale it is inert — coalescing
    # targets come from totalBytes/parallelism or the 64 MB advisory
    # size long before a 64 KB floor binds. Env-overridable so a
    # deployment can restore the default ("1m") without code changes.
    min_part = _os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k")
    # Join strategy (guide §3.1): allow shuffled-hash joins where the
    # per-partition build side fits (sort-merge pays two full sorts),
    # both at plan time (preferSortMergeJoin=false — the planner's own
    # build-side size conditions still apply) and at runtime via AQE's
    # measured-size rewrite threshold. 64 MB per-partition build maps
    # are modest for executors sized per §5; env-overridable.
    shj_thresh = _os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m")
    b = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", min_part)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", shj_thresh
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single-JVM local mode: driver heap IS the executor heap; an
        # undersized heap turns window sorts into spill+GC thrash
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def find_iceberg_jar() -> Optional[str]:
    """Locate an iceberg-spark-runtime jar: $SPARK_GRAFT_ICEBERG_JAR,
    then the usual local caches. Returns None when absent (this sandbox
    has no network; the jar is a public Maven artifact elsewhere)."""
    import glob
    import os

    env = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env and os.path.exists(env):
        return env
    for pat in (
        os.path.expanduser("~/.ivy2/jars/*iceberg-spark-runtime*.jar"),
        os.path.expanduser("~/jars/*iceberg-spark-runtime*.jar"),
        "/opt/spark/jars/*iceberg-spark-runtime*.jar",
    ):
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[-1]
    return None


def get_spark_iceberg(
    warehouse: str,
    catalog: str = "local",
    jar: Optional[str] = None,
    parallelism: int = 8,
    **kw,
) -> SparkSession:
    """Session with a Hadoop-type Iceberg catalog at ``warehouse``.
    Raises if no runtime jar can be found — call ``find_iceberg_jar()``
    first to gate gracefully."""
    jar = jar or find_iceberg_jar()
    if jar is None:
        raise RuntimeError(
            "no iceberg-spark-runtime jar found; set SPARK_GRAFT_ICEBERG_JAR"
        )
    conf = {
        "spark.jars": jar,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
    conf.update(kw.pop("extra_conf", {}) or {})
    return get_spark(parallelism=parallelism, extra_conf=conf, **kw)


#: path-suffix → Spark datasource format. Parquet is the performance
#: default (columnar, statistics, predicate pushdown); CSV/JSON are
#: interchange formats — row-oriented, no pushdown beyond partition
#: pruning, so at 100 TB they belong at the ingest edge only (land →
#: rewrite as parquet/Iceberg, then query).
_SUFFIX_FORMATS = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
}


#: Spark's default CSV/JSON timestamp formats carry milliseconds only —
#: a silent microsecond truncation on round-trip. Pin full precision on
#: both sides, for BOTH flavors: tz-less parquet (isAdjustedToUTC=false,
#: what testdata and most lakehouse writers produce) surfaces as
#: TIMESTAMP_NTZ, which is governed by timestampNTZFormat, not
#: timestampFormat.
_TEXT_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_TEXT_TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _text_ts_options(rw):
    return rw.option("timestampFormat", _TEXT_TS_FORMAT).option(
        "timestampNTZFormat", _TEXT_TS_NTZ_FORMAT
    )


def _path_format(path: str, fmt: Optional[str]) -> str:
    if fmt:
        return fmt
    for suffix, name in _SUFFIX_FORMATS.items():
        if path.rstrip("/").endswith(suffix):
            return name
    return "parquet"


def read_table(
    spark: SparkSession,
    name_or_path: str,
    fmt: Optional[str] = None,
    schema=None,
) -> DataFrame:
    """Iceberg table name (contains a catalog dot and no slash) or a
    path; the format comes from ``fmt`` or the path suffix (parquet
    default, orc/csv/json[l] recognized).

    CSV/JSON notes: pass an explicit ``schema`` in production —
    inference reads the data twice and types drift between runs;
    headers are assumed for CSV (written by ``write_table``)."""
    if "/" not in name_or_path and "." in name_or_path:
        return spark.read.format("iceberg").load(name_or_path)
    f = _path_format(name_or_path, fmt)
    reader = spark.read.format(f)
    if schema is not None:
        reader = reader.schema(schema)
    elif f in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if f in ("csv", "json"):
        reader = _text_ts_options(reader)
    if f == "csv":
        reader = reader.option("header", "true")
    return reader.load(name_or_path)


def write_table(
    df: DataFrame,
    name_or_path: str,
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    fmt: Optional[str] = None,
) -> None:
    """Write to an Iceberg table (catalog name) or a path, format from
    ``fmt``/suffix as in ``read_table``. ``partition_by`` produces
    hive-style directory partitioning — the unit of partition pruning
    for any reader."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "/" not in name_or_path and "." in name_or_path:
        writer.format("iceberg").saveAsTable(name_or_path)
        return
    f = _path_format(name_or_path, fmt)
    if f in ("csv", "json"):
        writer = _text_ts_options(writer)
    if f == "csv":
        writer = writer.option("header", "true")
    writer.format(f).save(name_or_path)


def synthetic_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    skew: bool = True,
    skew_factor: int = 100,
    with_features: bool = False,
) -> DataFrame:
    """Deterministic synthetic transcript table (FIXTURES.md F1).

    - ragged lengths 4–11 turns; with ``skew=True`` conversation 0 gets
      ``skew_factor ×`` the median length (exercises salting);
    - ``role`` cycles user/assistant/tool with occasional nulls
      (ffill/bfill targets);
    - ``tool`` non-null only on tool turns;
    - ``ts`` = per-conv start + cumulative seeded gaps, with occasional
      gaps > 30 min (sessionization targets);
    - ``with_features=True`` adds ``n_chars`` and a nullable ``value``
      double (accumulator targets).
    """
    s = F.lit(seed)
    convs = spark.range(n_convs).select(
        F.format_string("c%06d", F.col("id")).alias("conv_id"),
        F.col("id").alias("_cid"),
    )
    length = (F.lit(4) + F.pmod(F.xxhash64(F.col("_cid"), s), F.lit(8))).cast("int")
    if skew:
        # the skew conversation's turns come from a parallel range, not
        # sequence+explode: a 10^7-element array in one task would make
        # the GENERATOR the skew victim
        convs = convs.where(F.col("_cid") != 0)
    turns = convs.select(
        "conv_id",
        "_cid",
        F.explode(F.sequence(F.lit(0), length - 1)).alias("turn_idx"),
    ).select("conv_id", "_cid", F.col("turn_idx").cast("int").alias("turn_idx"))
    if skew:
        skew_turns = spark.range(8 * skew_factor).select(
            F.lit("c000000").alias("conv_id"),
            F.lit(0).cast("long").alias("_cid"),
            F.col("id").cast("int").alias("turn_idx"),
        )
        turns = turns.unionByName(skew_turns)

    h = F.xxhash64(F.col("_cid"), F.col("turn_idx"), s)
    role = F.when(F.pmod(h, F.lit(13)) == 0, F.lit(None).cast("string")).otherwise(
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.pmod(F.col("turn_idx"), F.lit(3)) + 1).cast("int"),
        )
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("search"), F.lit("exec"), F.lit("browse")),
            (F.pmod(h, F.lit(3)) + 1).cast("int"),
        ),
    )
    token = F.substring(F.sha1(h.cast("string")), 1, 12)
    text = F.format_string(
        "turn %d of %s: %s", F.col("turn_idx"), F.col("conv_id"), token
    )
    # CLOSED-FORM ts (no per-conv cumsum window — the generator must
    # not itself be skew-bound): base cadence 180 s/turn, per-turn
    # jitter in [0, 160) keeps it strictly monotone, and every 50th
    # turn adds a 2400 s jump (> the 30 min session gap) with a
    # closed-form prefix floor(idx/50)*2400.
    ts = F.timestamp_seconds(
        F.lit(1_700_000_000)
        + F.col("_cid") * 3600
        + F.col("turn_idx").cast("long") * 180
        + F.pmod(h, F.lit(160))
        + F.floor(F.col("turn_idx") / 50).cast("long") * 2400
    )

    out = turns.select(
        "conv_id",
        "turn_idx",
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    if with_features:
        hv = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), s + 1)
        value = F.when(
            F.pmod(hv, F.lit(7)) == 0, F.lit(None).cast("double")
        ).otherwise((F.pmod(hv, F.lit(10000)) / 100.0 - 50.0))
        out = out.select(
            "*", F.length("text").alias("n_chars"), value.alias("value")
        )
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: "list[str] | str",
    n_buckets: int = 64,
    sort_cols: "list[str] | None" = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by key.

    Two tables bucketed the same way join WITHOUT an Exchange — the
    co-located join path for repeated big-table joins (e.g. transcripts
    ⋈ per-conversation features): pay the shuffle once at write time,
    never again at read time. Bucket pruning also serves point lookups.
    Requires a catalog-backed table (saveAsTable), not a bare path."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *cols)
    if sort_cols:
        w = w.sortBy(*([sort_cols] if isinstance(sort_cols, str) else list(sort_cols)))
    w.format("parquet").saveAsTable(table)
