"""Structured-Streaming operators: file-source replay of the transcript
table, compared against the batch equivalents."""

import contextlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from recipys_spark import Accumulator, Recipe
from recipys_spark.operators import StepHistorical, StepSessionize
from recipys_spark.selector import all_of
from recipys_spark.sources.io import synthetic_transcripts
from recipys_spark.streaming.session import (
    streaming_running_features,
    streaming_session_stats,
)


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    synthetic_transcripts(spark, n_convs=40, skew=False, with_features=True).write.parquet(path)
    return path


@contextlib.contextmanager
def _conf(spark, settings):
    """Set session confs for the block, then restore the previous values."""
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: AvailableNow ends with the idle timeout armed only without no-data
#: batches (streaming/session.py)
_NO_DATA_BATCHES_OFF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


def _run_stream(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_streaming_session_stats_matches_batch(spark, transcript_dir):
    batch = spark.read.parquet(transcript_dir)
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir)
    # complete mode so the trailing sessions (not yet past the
    # watermark when input ends) are emitted too; append mode would
    # hold them in state awaiting later data — correct for live
    # streams, but here we want the full comparison
    out = _run_stream(
        spark,
        streaming_session_stats(stream, gap="30 minutes"),
        "sess_stats",
        "complete",
    ).toPandas()

    # batch oracle: ts-gap sessionize then per-session count
    rec = Recipe(batch, groups="conv_id", sequences=["turn_idx", "ts"]).add_step(
        StepSessionize(gap="30m")
    )
    oracle = (
        rec.prep()
        .groupBy("conv_id", "session_id")
        .agg(F.count("*").alias("n_turns"))
        .toPandas()
    )
    # session_window splits on the same >gap rule; compare the multiset
    # of (conv_id, n_turns) session sizes
    got = sorted(zip(out.conv_id, out.n_turns))
    exp = sorted(zip(oracle.conv_id, oracle.n_turns))
    assert got == exp


def _running_oracle(batch):
    """Batch StepHistorical MEAN/MAX/COUNT over ``batch``, sorted."""
    rec = Recipe(
        batch, predictors=["value"], groups="conv_id", sequences="turn_idx"
    )
    for fun in (Accumulator.MEAN, Accumulator.MAX, Accumulator.COUNT):
        rec.add_step(StepHistorical(sel=all_of(["value"]), fun=fun))
    return (
        rec.prep()
        .select("conv_id", "turn_idx", "value_mean", "value_max", "value_count")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def _assert_running_matches(out, oracle):
    """Count and max exact, mean within 1e-9 relative (the stream sums
    in float, the batch mean in exact decimal)."""
    out = out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(out) == len(oracle)
    assert list(out.conv_id) == list(oracle.conv_id)
    assert list(out.turn_idx) == list(oracle.turn_idx)
    np.testing.assert_allclose(
        out.value_mean.to_numpy(dtype=float),
        oracle.value_mean.to_numpy(dtype=float),
        equal_nan=True,
        rtol=1e-9,
    )
    np.testing.assert_array_equal(
        out.value_max.to_numpy(dtype=float),
        oracle.value_max.to_numpy(dtype=float),
    )
    np.testing.assert_array_equal(
        out.value_count.to_numpy(), oracle.value_count.to_numpy()
    )


def test_streaming_running_features_matches_batch(spark, transcript_dir):
    batch = spark.read.parquet(transcript_dir)
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir).select(
        "conv_id", "turn_idx", "value"
    )
    out = _run_stream(
        spark, streaming_running_features(stream), "run_feats", "append"
    ).toPandas()
    _assert_running_matches(out, _running_oracle(batch))


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append mode + watermark: a session is finalized once the
    watermark passes (emitted exactly once), and an event arriving
    LATER than the watermark allows is dropped — it must neither
    reopen the session nor appear as a new one."""
    import datetime
    import time as _time

    import pandas as pd

    d = str(tmp_path / "late")
    schema = "conv_id string, turn_idx int, ts timestamp"

    def ts(h, m=0):
        return datetime.datetime(2024, 1, 1, h, m)

    # batch 1: a 3-turn session 9:00-9:10, then a clock event at 13:00
    # that advances the watermark far past the session's close.
    # batch 2: another clock tick — Spark commits the watermark
    # computed from batch N at batch N+1 and FILTERS with it from batch
    # N+2, so the late row needs one batch in between to be dropped.
    # batch 3: a late c1 event at 9:20 — within the session gap, but
    # hours behind the committed 12:30 watermark.
    batches = [
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1", "c1", "clock"],
                "turn_idx": [0, 1, 2, 0],
                "ts": [ts(9), ts(9, 5), ts(9, 10), ts(13)],
            }
        ),
        pd.DataFrame({"conv_id": ["clock"], "turn_idx": [1], "ts": [ts(13, 30)]}),
        pd.DataFrame({"conv_id": ["c1"], "turn_idx": [3], "ts": [ts(9, 20)]}),
    ]
    for f in batches:
        spark.createDataFrame(f, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        _time.sleep(1.2)  # file-source orders micro-batches by mtime

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = _run_stream(
        spark,
        streaming_session_stats(stream, gap="30 minutes", watermark="30 minutes"),
        "late_sess",
        "append",
    ).toPandas()

    c1 = out[out.conv_id == "c1"]
    # exactly one finalized c1 session, with the ON-TIME turn count
    assert len(c1) == 1, out
    assert int(c1.n_turns.iloc[0]) == 3, out


def test_streaming_running_features_with_idle_timeout(spark, transcript_dir):
    """The bounded-state mode (processing-time idle eviction) produces
    the same results for conversations active within the window."""
    batch = spark.read.parquet(transcript_dir)
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir)
    with _conf(spark, _NO_DATA_BATCHES_OFF):
        out = _run_stream(
            spark,
            streaming_running_features(
                stream.select("conv_id", "turn_idx", "value"), idle_timeout=True
            ),
            "running_feats_ttl",
            "append",
        ).toPandas()
    _assert_running_matches(out, _running_oracle(batch))


@pytest.mark.parametrize("idle_timeout", [False, True])
def test_streaming_running_features_carry_across_batches(
    spark, tmp_path, idle_timeout
):
    """Conversations spanning several micro-batches (one file each):
    the prior state (sum, count, max) must carry across batches — an
    all-NULL run opening a conversation, an all-NULL run inside a later
    batch, a new max after a NULL run — and a group split into several
    Arrow chunks must be sorted as one."""
    import os

    import pandas as pd

    nan = float("nan")
    # (conv_id, turn_idx, value) per file; turns are shuffled inside a
    # file so that chunk order never matches turn order
    files = [
        [("a", 1, nan), ("a", 0, nan), ("b", 1, 2.0), ("b", 0, 4.0)],
        [("a", 3, nan), ("a", 2, 1.0), ("a", 4, 3.0),
         ("b", 3, nan), ("b", 2, nan), ("b", 4, nan)],
        [("a", 6, nan), ("a", 5, nan), ("b", 6, 1.0), ("b", 5, 7.0)]
        + [("c", t, nan if t % 4 == 1 else float(t * 7 % 11))
           for t in (9, 3, 0, 7, 1, 5, 8, 2, 6, 4)],
        [("a", 8, 2.0), ("a", 7, 5.0), ("b", 7, nan)]
        + [("c", t, float(t % 5) if t % 3 else nan)
           for t in (14, 10, 12, 11, 13)],
    ]
    d = tmp_path / "turns"
    d.mkdir()
    t0 = 1_700_000_000
    for i, rows in enumerate(files):
        f = d / f"part-{i}.parquet"
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "value"]).astype(
            {"turn_idx": "int32"}
        ).to_parquet(f, index=False)
        os.utime(f, (t0 + i, t0 + i))  # the file source orders by mtime
    schema = "conv_id string, turn_idx int, value double"

    name = f"carry_{int(idle_timeout)}"
    small_chunks = {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}
    with _conf(spark, {**small_chunks, **_NO_DATA_BATCHES_OFF}):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            streaming_running_features(stream, idle_timeout=idle_timeout)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == len(files)
    out = spark.sql(f"select * from {name}").toPandas()

    oracle = _running_oracle(spark.read.schema(schema).parquet(str(d)))
    _assert_running_matches(out, oracle)
    # the fixture really exercises the carried state: a NULL-led
    # conversation, and a max set after a NULL run in a later batch
    a = oracle[oracle.conv_id == "a"]
    assert a.value_mean.isna().sum() == 2 and a.value_count.iloc[-1] == 4
    assert oracle[oracle.conv_id == "b"].value_max.max() == 7.0


_TURNS_SCHEMA = "conv_id string, turn_idx int, value double"


def _write_turn_files(d, files, first=0):
    """One parquet file of (conv_id, turn_idx, value) rows per entry of
    ``files``, with increasing mtimes: the file source orders by mtime."""
    import os

    import pandas as pd

    d.mkdir(exist_ok=True)
    for i, rows in enumerate(files, first):
        f = d / f"part-{i}.parquet"
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "value"]).astype(
            {"turn_idx": "int32"}
        ).to_parquet(f, index=False)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _running_features_query(spark, d, idle_timeout, sink, checkpoint=None):
    """Running features over ``d``, one file per micro-batch, into the
    ``foreachBatch`` ``sink`` under ``Trigger.AvailableNow``."""
    stream = (
        spark.readStream.schema(_TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    w = streaming_running_features(stream, idle_timeout=idle_timeout).writeStream
    if checkpoint is not None:
        w = w.option("checkpointLocation", str(checkpoint))
    return w.foreachBatch(sink).trigger(availableNow=True).start()


def _collect(frames):
    return lambda df, _: frames.append(df.toPandas())


@pytest.mark.parametrize("idle_timeout", [False, True])
def test_streaming_running_features_carries_null_conv_id(
    spark, tmp_path, idle_timeout
):
    """A NULL conv_id is one conversation whose state carries across
    batches, as a NULL group does in batch StepHistorical."""
    import pandas as pd

    d = tmp_path / "turns"
    _write_turn_files(
        d,
        [[(None, 0, 1.0), ("a", 0, 2.0), (None, 1, 5.0)],
         [(None, 2, 3.0), ("a", 1, 4.0)]],
    )
    frames = []
    with _conf(spark, _NO_DATA_BATCHES_OFF):
        q = _running_features_query(spark, d, idle_timeout, _collect(frames))
        assert q.awaitTermination(120)
    out = pd.concat(frames, ignore_index=True)
    null2 = out[out.conv_id.isna() & (out.turn_idx == 2)].iloc[0]
    assert (null2.value_mean, null2.value_max, null2.value_count) == (3.0, 5.0, 3)
    _assert_running_matches(
        out, _running_oracle(spark.read.schema(_TURNS_SCHEMA).parquet(str(d)))
    )


def test_streaming_running_features_resume_under_other_shuffle_partitions(
    spark, tmp_path
):
    """A checkpoint restarted under a different
    ``spark.sql.shuffle.partitions`` keeps every conversation's state:
    the state bucket of a conversation never depends on session conf."""
    import pandas as pd

    d, ckpt = tmp_path / "turns", tmp_path / "ckpt"
    convs = [f"c{i}" for i in range(40)]
    files = [[(c, t, float(i * 3 + t)) for i, c in enumerate(convs)] for t in (0, 1)]
    frames = []
    for i, partitions in enumerate(("4", "3")):
        _write_turn_files(d, files[i:i + 1], first=i)
        with _conf(spark, {"spark.sql.shuffle.partitions": partitions}):
            q = _running_features_query(
                spark, d, False, _collect(frames), checkpoint=ckpt
            )
            assert q.awaitTermination(120)
    out = pd.concat(frames, ignore_index=True)
    assert (out[out.turn_idx == 1].value_count == 2).all()
    _assert_running_matches(
        out, _running_oracle(spark.read.schema(_TURNS_SCHEMA).parquet(str(d)))
    )


def test_streaming_running_features_idle_timeout_ends_available_now(
    spark, tmp_path
):
    """With the idle timeout armed and default confs (no-data
    micro-batches on), ``Trigger.AvailableNow`` ends after the input."""
    d = tmp_path / "turns"
    _write_turn_files(d, [[("a", 0, 1.0), ("b", 0, 2.0), ("a", 1, 3.0)]])
    frames = []
    q = _running_features_query(spark, d, True, _collect(frames))
    try:
        assert q.awaitTermination(60)
    finally:
        q.stop()
    assert sum(len(f) for f in frames) == 3


def test_streaming_exact_dedup_matches_batch_fingerprints(spark, tmp_path_factory):
    """Streaming dedup keeps exactly one row per normalized-text
    fingerprint (within the watermark horizon), agreeing with batch
    exact_dedup on WHICH texts survive (winner row may differ: batch
    keeps min id, streaming keeps first arrival)."""
    import pandas as pd
    from datetime import datetime, timedelta

    from recipys_spark.functions.text import fingerprint as fp_expr
    from recipys_spark.operators.dedup import exact_dedup
    from recipys_spark.streaming.dedup import streaming_exact_dedup

    t0 = datetime(2024, 1, 1)
    texts = [
        "alpha beta gamma",
        "alpha  BETA gamma",      # normalized dup of 0
        "delta epsilon",
        "alpha beta gamma",       # exact dup of 0
        "zeta eta theta",
        "delta epsilon",          # dup of 2
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "ts": [t0 + timedelta(minutes=i) for i in range(len(texts))],
        }
    )
    path = str(tmp_path_factory.mktemp("sdedup") / "docs")
    batch = spark.createDataFrame(pdf)
    batch.write.parquet(path)

    stream = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(
        spark, streaming_exact_dedup(stream), "sdedup", "append"
    ).toPandas()

    kept_batch = exact_dedup(spark.read.parquet(path)).select(
        fp_expr(F.col("text")).alias("fp")
    ).toPandas()
    got = sorted(
        spark.createDataFrame(out[["text"]])
        .select(fp_expr(F.col("text")).alias("fp"))
        .toPandas()
        .fp
    )
    assert got == sorted(kept_batch.fp)          # same surviving texts
    assert len(out) == 3 and len(set(got)) == 3  # one row per fingerprint


def test_streaming_clean_corpus_matches_batch_filter_dedup(spark, tmp_path_factory):
    """Stream filter+dedup keeps exactly the docs batch
    clean_corpus(near_dedup=False) keeps (winner row may differ on
    arrival order; surviving fingerprint sets must coincide)."""
    import pandas as pd
    from datetime import datetime, timedelta

    from recipys_spark.functions.text import fingerprint as fp_expr
    from recipys_spark.operators.corpus import clean_corpus
    from recipys_spark.streaming.dedup import streaming_clean_corpus

    t0 = datetime(2024, 1, 1)
    texts = [
        "the quick brown fox jumps over the lazy dog",   # keeper
        "the quick  brown fox jumps over the lazy dog",  # normalized dup
        "tiny",                                          # fails min_tokens
        "pack my box with five dozen liquor jugs",       # keeper
        "!!! ??? ;;; ###",                               # punct soup, low quality
        "pack my box with five dozen liquor jugs",       # exact dup
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "ts": [t0 + timedelta(minutes=i) for i in range(len(texts))],
        }
    )
    path = str(tmp_path_factory.mktemp("sclean") / "docs")
    batch = spark.createDataFrame(pdf)
    batch.write.parquet(path)

    stream = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(
        spark,
        streaming_clean_corpus(stream, min_tokens=5, min_quality=0.01),
        "sclean",
        "append",
    ).toPandas()
    assert {"n_tokens", "quality", "lang_id"} <= set(out.columns)
    assert len(out) == 2  # two keepers survive filter + dedup

    kept = clean_corpus(
        spark.read.parquet(path), min_tokens=5, min_quality=0.01,
        near_dedup=False,
    )
    exp = sorted(kept.select(fp_expr(F.col("text")).alias("f")).toPandas().f)
    got = sorted(
        spark.createDataFrame(out[["text"]])
        .select(fp_expr(F.col("text")).alias("f"))
        .toPandas()
        .f
    )
    assert got == exp and len(got) == 2


def test_streaming_dedup_null_texts_all_pass(spark, tmp_path_factory):
    """NULL texts are unknown, not duplicates: every null-text row
    flows through streaming dedup (batch exact_dedup rule)."""
    import pandas as pd
    from datetime import datetime, timedelta

    from recipys_spark.streaming.dedup import streaming_exact_dedup

    t0 = datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["dup me", "dup me", None, None],
            "ts": [t0 + timedelta(minutes=i) for i in range(4)],
        }
    )
    path = str(tmp_path_factory.mktemp("snull") / "docs")
    batch = spark.createDataFrame(pdf)
    batch.write.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(
        spark, streaming_exact_dedup(stream), "snull", "append"
    ).toPandas()
    assert len(out) == 3  # one "dup me" + both nulls
    assert out.text.isna().sum() == 2


def test_streaming_deterministic_sample_matches_batch(spark, tmp_path_factory):
    """The assembly-tier samplers are STATELESS expressions, so they
    run unchanged on a stream and pick the identical rows the batch
    path picks — hash coins, not RNG state. (pack_sequences is
    inherently batch: a global prefix sum has no streaming analog.)"""
    from recipys_spark.operators.packing import (
        deterministic_sample,
        weighted_domain_sample,
    )

    path = str(tmp_path_factory.mktemp("sample_stream") / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(
        path
    )
    batch = spark.read.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)

    got = _run_stream(
        spark,
        deterministic_sample(stream, 0.3, ["doc_id"]).select("doc_id"),
        "sampled_stream",
        "append",
    )
    b = sorted(r.doc_id for r in deterministic_sample(batch, 0.3, ["doc_id"]).collect())
    s = sorted(r.doc_id for r in got.collect())
    assert s == b and len(s) > 0

    got2 = _run_stream(
        spark,
        weighted_domain_sample(
            stream, {"src1": 0.5, "src2": 2.25}, "source", ["doc_id"]
        ).select("doc_id", "sample_copy"),
        "mixed_stream",
        "append",
    )
    b2 = sorted(
        (r.doc_id, r.sample_copy)
        for r in weighted_domain_sample(
            batch, {"src1": 0.5, "src2": 2.25}, "source", ["doc_id"]
        ).select("doc_id", "sample_copy").collect()
    )
    s2 = sorted((r.doc_id, r.sample_copy) for r in got2.collect())
    assert s2 == b2 and len(s2) > 0


def test_streaming_resample_matches_batch_buckets(spark, transcript_dir):
    """VERDICT r5 #4: the watermarked tumbling-window resample must
    emit VALUE-IDENTICAL closed buckets to batch StepResampling over
    the same rows — same epoch-aligned grid, same _bucket_agg
    expressions (LAST via max_by, exact-decimal MEAN, non-null COUNT)."""
    from recipys_spark.selector import all_of
    from recipys_spark.streaming.resample import streaming_resample

    batch = spark.read.parquet(transcript_dir).select(
        "conv_id", "ts", "turn_idx", "value"
    )
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir).select(
        "conv_id", "ts", "turn_idx", "value"
    )
    out = (
        _run_stream(
            spark,
            streaming_resample(
                stream,
                new_resolution="2h",
                col_acc_map={
                    "value": Accumulator.MEAN,
                    "turn_idx": Accumulator.COUNT,
                },
            ),
            "resample_stream",
            "complete",  # emit trailing open buckets too (bounded input)
        )
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )

    from recipys_spark.operators import StepResampling

    rec = Recipe(
        batch, predictors=["value", "turn_idx"], groups="conv_id", sequences="ts"
    ).add_step(
        StepResampling(
            new_resolution="2h",
            accumulator_dict={
                all_of(["value"]): Accumulator.MEAN,
                all_of(["turn_idx"]): Accumulator.COUNT,
            },
        )
    )
    oracle = (
        rec.prep()
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    got = list(zip(out.conv_id, out.ts, out.value, out.turn_idx))
    exp = list(zip(oracle.conv_id, oracle.ts, oracle.value, oracle.turn_idx))
    assert got == exp  # bucket grid AND values bit-identical


def test_streaming_resample_rejects_non_temporal_ts(spark, transcript_dir):
    from recipys_spark.streaming.resample import streaming_resample

    batch = spark.read.parquet(transcript_dir)
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir)
    with pytest.raises(ValueError, match="temporal"):
        streaming_resample(stream, ts_col="turn_idx")


def test_bake_stream_rejection_names_streaming_resample(spark, transcript_dir):
    """The StepResampling rejection must point at the now-real analog."""
    from recipys_spark.operators import StepResampling

    batch = spark.read.parquet(transcript_dir)
    rec = Recipe(
        batch, predictors=["value"], groups="conv_id", sequences="ts"
    ).add_step(StepResampling(new_resolution="2h"))
    rec.prep()
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir)
    with pytest.raises(ValueError, match="streaming_resample"):
        rec.bake_stream(stream)


def test_streaming_resample_partial_map_defaults_unmapped_columns(
    spark, transcript_dir
):
    """Review fix: a PARTIAL col_acc_map must leave unmapped value
    columns in the output under default_accumulator (batch StepResampling
    semantics), not silently drop them; unknown columns raise."""
    from recipys_spark.streaming.resample import streaming_resample

    batch = spark.read.parquet(transcript_dir).select(
        "conv_id", "ts", "turn_idx", "value"
    )
    stream = spark.readStream.schema(batch.schema).parquet(transcript_dir).select(
        "conv_id", "ts", "turn_idx", "value"
    )
    out = streaming_resample(
        stream, new_resolution="2h", col_acc_map={"value": Accumulator.MEAN}
    )
    assert "turn_idx" in out.columns  # defaulted (LAST), not dropped
    with pytest.raises(ValueError, match="non-value columns"):
        streaming_resample(stream, col_acc_map={"nope": Accumulator.MEAN})
