"""Structured Streaming ingest: micro-batch file source → cell encode →
watermarked tile rollup → memory/file sinks; custom stateful running stats."""

import os
import shutil
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import GridSpec
from geowombat_spark.streaming import ingest

GRID = GridSpec(
    left=0.0, top=0.0, cellx=30.0, celly=30.0, nrows=64, ncols=64,
    tile_rows=16, tile_cols=16, nodata=0.0,
)


@pytest.fixture(autouse=True)
def no_leaked_queries(spark):
    """Each test stops the streaming queries it starts: a query left
    running keeps taking micro-batches for the rest of the session."""
    yield
    leaked = spark.streams.active
    for q in leaked:
        q.stop()
    assert not leaked, f"streaming queries left running: {[q.name for q in leaked]}"


def _stop_after_idle_batch(q, n_input, timeout=120):
    """Stop ``q`` once it has read ``n_input`` source rows and then
    completed a no-data batch. ``stream_lsh_neardup_flags``' processing-
    time state timeout keeps an availableNow query running no-data
    batches, so it never terminates by itself."""
    deadline = time.monotonic() + timeout
    try:
        while time.monotonic() < deadline:
            read, idle = 0, False
            for p in q.recentProgress:
                read += p.numInputRows
                idle = read >= n_input and p.numInputRows == 0
            if idle:
                return
            if q.exception() is not None:
                raise q.exception()
            time.sleep(0.2)
        raise AssertionError(f"no idle batch after {n_input} rows in {timeout} s")
    finally:
        q.stop()


@pytest.fixture()
def stream_dirs():
    base = tempfile.mkdtemp(prefix="gw_stream_")
    paths = {k: os.path.join(base, k) for k in ("in", "out", "ckpt", "ckpt2")}
    os.makedirs(paths["in"])
    yield paths
    shutil.rmtree(base, ignore_errors=True)


def _batch(spark, path, docs, name):
    """Write one micro-batch as a single flat file in the stream dir (the
    file source treats subdirectories as partition dirs, so batches must be
    flat files)."""
    pdf = pd.DataFrame(docs, columns=["doc_id", "x", "y", "value", "event_ts"])
    pdf["event_ts"] = pd.to_datetime(pdf["event_ts"])
    _write_batch(spark.createDataFrame(pdf), path, name)


def _write_batch(sdf, path, name):
    import glob as _glob

    tmp = os.path.join(os.path.dirname(path), f"_stage_{name}")
    sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(path, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


BATCH1 = [
    (1, 15.0, -15.0, 10.0, "2026-01-01 00:00:10"),   # tile 0
    (2, 45.0, -15.0, 20.0, "2026-01-01 00:00:20"),   # tile 0
    (3, 500.0, -15.0, 30.0, "2026-01-01 00:00:30"),  # tile 1 (col 16)
]
BATCH2 = [
    (4, 15.0, -45.0, 40.0, "2026-01-01 00:01:10"),   # tile 0, next window
    (5, 500.0, -500.0, 50.0, "2026-01-01 00:01:20"),  # tile 5
]


def test_stream_tile_rollup_to_memory(spark, stream_dirs):
    _batch(spark, stream_dirs["in"], BATCH1, "b1")
    _batch(spark, stream_dirs["in"], BATCH2, "b2")
    stream = ingest.stream_documents(spark, stream_dirs["in"])
    assert stream.isStreaming
    rollup = ingest.tile_rollup(ingest.encode_stream(stream, GRID))
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["tile_id"]): (r["n_docs"], r["mean_value"])
        for r in spark.sql("select * from rollup_test").collect()
    }
    assert got[("2026-01-01 00:00:00", 0)] == (2, 15.0)
    assert got[("2026-01-01 00:00:00", 1)] == (1, 30.0)
    assert got[("2026-01-01 00:01:00", 0)] == (1, 40.0)
    # doc 5: col=16, row=16 → tile (1,1) = tile_rows block 1 * 4 tiles_x + 1
    assert got[("2026-01-01 00:01:00", 5)] == (1, 50.0)


def test_stream_rollup_drops_off_grid_documents(spark, stream_dirs):
    """Documents outside the grid or with a NaN/NULL coordinate get no
    cell: only the in-grid document reaches the rollup. (Rows come from
    tuples: a pandas NaN would arrive as NULL.)"""
    from datetime import datetime

    ts = datetime(2026, 1, 1, 0, 0, 10)
    rows = [
        (1, 15.0, -15.0, 10.0, ts),          # tile 0
        (2, 500.0, 100.0, 20.0, ts),         # above the grid (would clamp to tile 1)
        (3, float("nan"), -15.0, 30.0, ts),  # NaN x (would land on tile 0)
        (4, 15.0, None, 40.0, ts),           # NULL y (would land on tile 0)
    ]
    _write_batch(
        spark.createDataFrame(rows, ingest.DOC_STREAM_SCHEMA), stream_dirs["in"], "b1"
    )
    rollup = ingest.tile_rollup(
        ingest.encode_stream(ingest.stream_documents(spark, stream_dirs["in"]), GRID)
    )
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_off_grid_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["tile_id"]): (r["n_docs"], r["mean_value"])
        for r in spark.sql("select * from rollup_off_grid_test").collect()
    }
    assert got == {("2026-01-01 00:00:00", 0): (1, 10.0)}


def test_stream_write_tiled_and_resume(spark, stream_dirs):
    _batch(spark, stream_dirs["in"], BATCH1, "b1")
    enc = ingest.encode_stream(
        ingest.stream_documents(spark, stream_dirs["in"]), GRID
    )
    q = ingest.write_stream_tiled(enc, stream_dirs["out"], stream_dirs["ckpt"])
    q.awaitTermination(120)
    got1 = spark.read.option("basePath", stream_dirs["out"]).parquet(
        stream_dirs["out"]
    )
    assert got1.count() == 3
    assert {r[0] for r in got1.select("tile_id").distinct().collect()} == {0, 1}

    # new files arrive; restart from the SAME checkpoint → only the new
    # batch is processed (streaming WAL = the resume protocol)
    _batch(spark, stream_dirs["in"], BATCH2, "b2")
    q2 = ingest.write_stream_tiled(enc, stream_dirs["out"], stream_dirs["ckpt"])
    q2.awaitTermination(120)
    got2 = spark.read.option("basePath", stream_dirs["out"]).parquet(
        stream_dirs["out"]
    )
    assert got2.count() == 5
    assert got2.select("doc_id").distinct().count() == 5


def test_running_tile_stats_stateful(spark, stream_dirs):
    _batch(spark, stream_dirs["in"], BATCH1, "b1")
    _batch(spark, stream_dirs["in"], BATCH2, "b2")
    enc = ingest.encode_stream(
        ingest.stream_documents(spark, stream_dirs["in"]), GRID
    )
    stats = ingest.running_tile_stats(enc)
    q = (
        stats.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .option("checkpointLocation", stream_dirs["ckpt2"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # with maxFilesPerTrigger=1 tile 0 is updated in two micro-batches; the
    # LAST update row carries the folded running state (3 docs, mean 70/3)
    rows = spark.sql(
        "select * from running_stats where tile_id = 0 order by n"
    ).collect()
    assert rows[-1]["n"] == 3
    assert rows[-1]["total"] == 70.0
    assert abs(rows[-1]["mean"] - round(70.0 / 3, 6)) < 1e-9


# ---------------------------------------------------------------------------
# streaming dedup
# ---------------------------------------------------------------------------

TEXT_SCHEMA = "doc_id bigint, text string, event_ts timestamp"


def _text_batch(spark, path, docs, name):
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "event_ts"])
    pdf["event_ts"] = pd.to_datetime(pdf["event_ts"])
    _write_batch(spark.createDataFrame(pdf), path, name)


def test_stream_exact_dedup(spark, stream_dirs):
    from geowombat_spark.streaming import dedup as sdedup

    _text_batch(
        spark,
        stream_dirs["in"],
        [
            (1, "the quick brown fox", "2026-01-01 00:00:10"),
            (2, "THE QUICK BROWN FOX  ", "2026-01-01 00:00:20"),  # dup (norm)
            (3, "a different document", "2026-01-01 00:00:30"),
        ],
        "t1",
    )
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dirs["in"])
    )
    out = sdedup.stream_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("exact_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("select * from exact_dedup_test").collect()}
    assert kept == {1, 3}


def test_stream_lsh_neardup_flags(spark, stream_dirs):
    """Bucket state carries across micro-batches: a later document whose
    bands were all seen is flagged with the earlier doc's id; streaming
    band hashes are the batch banding expressions, so flags agree with
    batch LSH candidates."""
    from geowombat_spark.streaming import dedup as sdedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    _text_batch(
        spark, stream_dirs["in"], [(1, text, "2026-01-01 00:00:10")], "t1"
    )
    _text_batch(
        spark, stream_dirs["in"], [(7, text, "2026-01-01 00:01:10")], "t2"
    )
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dirs["in"])
    )
    banded = sdedup.band_stream(stream)
    flags = sdedup.stream_lsh_neardup_flags(banded)
    q = (
        flags.writeStream.format("memory")
        .queryName("lsh_flags_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _stop_after_idle_batch(q, 2)
    rows = spark.sql("select * from lsh_flags_test").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["status"], r["seen_min"]))
    # doc 1: all 4 bands fresh; doc 7: all 4 bands previously held by doc 1
    assert by_doc[1] == [("fresh", -1)] * 4
    assert by_doc[7] == [("seen", 1)] * 4


def test_streaming_pii_scrub_and_token_estimate(spark, stream_dirs):
    """The curation Column ops (pii_scrub, token_estimate) are stateless
    projections, so they compose directly into a readStream plan — the
    streaming ingest path can scrub as it lands."""
    import glob as _glob

    from pyspark.sql.types import StringType, StructField, StructType

    from geowombat_spark.pipeline.curate import pii_scrub
    from geowombat_spark.pipeline.text import token_estimate

    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "text": [
                "reach me at ops@example.net today",
                "plain text with no pii at all",
            ],
        }
    )
    sdf = spark.createDataFrame(pdf)
    tmp = os.path.join(stream_dirs["out"] + "_stage")
    sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(stream_dirs["in"], "b0.parquet"))

    schema = StructType(
        [StructField("doc_id", StringType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(stream_dirs["in"])
    out = token_estimate(pii_scrub(stream, "text"), "text")
    q = (
        out.writeStream.format("memory")
        .queryName("curated_stream")
        .option("checkpointLocation", stream_dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select * from curated_stream order by doc_id"
    ).toPandas()
    assert len(got) == 2
    assert "[EMAIL]" in got.loc[0, "text"]
    assert got.loc[0, "n_email"] == 1 and got.loc[1, "n_email"] == 0
    assert (got["n_ws_tokens"] > 0).all()


def test_stream_dedup_against_static_index(spark, stream_dirs):
    """Stream-static incremental dedup: within-stream dups collapse to the
    first occurrence, and survivors are flagged against the static corpus
    index (copies of corpus docs kept=False, novel docs kept=True)."""
    from geowombat_spark.pipeline import dedup as bdedup
    from geowombat_spark.streaming import dedup as sdedup

    indir = os.path.join(stream_dirs["in"], "against")
    os.makedirs(indir, exist_ok=True)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["corpus doc one", "corpus doc two"]}
        )
    )
    index = bdedup.exact_index(corpus)
    _text_batch(
        spark,
        indir,
        [
            (10, "corpus doc one", "2026-01-01 00:00:10"),  # in corpus
            (11, "a novel document", "2026-01-01 00:00:20"),
            (12, "a novel document", "2026-01-01 00:00:30"),  # stream dup
        ],
        "t1",
    )
    _text_batch(
        spark,
        indir,
        [(13, "corpus doc two  ", "2026-01-01 00:00:40")],  # in corpus (norm)
        "t2",
    )
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    out = sdedup.stream_dedup_against(stream, index)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_against_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["doc_id"]: (r["in_corpus"], r["corpus_owner"], r["kept"])
        for r in spark.sql("select * from dedup_against_test").collect()
    }
    assert set(rows) == {10, 11, 13}  # 12 collapsed into 11
    assert rows[10] == (True, 1, False)
    assert rows[11] == (False, None, True)
    assert rows[13] == (True, 2, False)


def test_stream_lsh_bucket_overflow_cap(spark, stream_dirs):
    """The streaming skew guard mirrors the batch bucket cap: once a
    bucket's cumulative membership exceeds max_bucket_size, its rows
    carry the explicit BUCKET_OVERFLOW marker instead of a membership
    verdict (the batch path drops over-cap buckets' candidates)."""
    from geowombat_spark.streaming import dedup as sdedup

    text = "identical boilerplate text shared by every document here"
    _text_batch(
        spark,
        stream_dirs["in"],
        [(i, text, f"2026-01-01 00:00:{10 + i}") for i in range(5)],
        "t1",
    )
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dirs["in"])
    )
    flags = sdedup.stream_lsh_neardup_flags(
        sdedup.band_stream(stream), max_bucket_size=3
    )
    q = (
        flags.writeStream.format("memory")
        .queryName("lsh_cap_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _stop_after_idle_batch(q, 5)
    rows = spark.sql("select * from lsh_cap_test").collect()
    assert len(rows) == 5 * 4  # every row still accounted for
    assert {r["status"] for r in rows} == {"overflow"}
    assert {r["seen_min"] for r in rows} == {sdedup.BUCKET_OVERFLOW}


def test_stream_lsh_negative_doc_ids(spark, stream_dirs):
    """Negative doc ids are legal int64s (the batch path joins them fine):
    the state fold must not confuse a stored negative min with 'bucket
    empty'. Doc -5 then doc 7 in the same buckets: doc 7 must be flagged
    'seen' with seen_min = -5, not 'fresh'."""
    from geowombat_spark.streaming import dedup as sdedup

    text = "negative identifier document shared text for the bucket fold"
    _text_batch(
        spark, stream_dirs["in"], [(-5, text, "2026-01-01 00:00:10")], "t1"
    )
    _text_batch(
        spark, stream_dirs["in"], [(7, text, "2026-01-01 00:01:10")], "t2"
    )
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dirs["in"])
    )
    flags = sdedup.stream_lsh_neardup_flags(sdedup.band_stream(stream))
    q = (
        flags.writeStream.format("memory")
        .queryName("lsh_neg_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _stop_after_idle_batch(q, 2)
    rows = spark.sql("select * from lsh_neg_test").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["status"], r["seen_min"]))
    assert by_doc[-5] == [("fresh", -1)] * 4
    assert by_doc[7] == [("seen", -5)] * 4


def test_stream_lsh_string_doc_ids(spark, stream_dirs):
    """String doc ids fold in string order and keep their type:
    'doc-9', then 'doc-10', then 'doc-2' in the same buckets. 'doc-10'
    sees 'doc-9'; 'doc-2' sees 'doc-10', the string minimum (numeric order
    would say 9). Fresh rows carry a NULL seen_min."""
    from geowombat_spark.streaming import dedup as sdedup

    text = "string identifier document shared text for the bucket fold"
    for i, (doc, ts) in enumerate(
        [("doc-9", "00:00:10"), ("doc-10", "00:01:10"), ("doc-2", "00:02:10")]
    ):
        _text_batch(
            spark, stream_dirs["in"], [(doc, text, f"2026-01-01 {ts}")], f"t{i}"
        )
    stream = (
        spark.readStream.schema("doc_id string, text string, event_ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dirs["in"])
    )
    flags = sdedup.stream_lsh_neardup_flags(sdedup.band_stream(stream))
    assert dict(flags.dtypes)["seen_min"] == "string"
    q = (
        flags.writeStream.format("memory")
        .queryName("lsh_str_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _stop_after_idle_batch(q, 3)
    rows = spark.sql("select * from lsh_str_test").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["status"], r["seen_min"]))
    assert by_doc["doc-9"] == [("fresh", None)] * 4
    assert by_doc["doc-10"] == [("seen", "doc-9")] * 4
    assert by_doc["doc-2"] == [("seen", "doc-10")] * 4
