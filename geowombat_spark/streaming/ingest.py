"""Streaming ingest: document micro-batches → tiled corpus + live rollups.

The reference has no streaming story — its closest analogue is the bounded
in-flight windowed write loop (``/root/reference/src/geowombat/core/io.py:
1057-1264``). Here the same tiling semantics run as Structured Streaming:

- ``stream_documents``: a file-source stream of document parquet batches
  (at production scale: Kafka/Iceberg-CDC with the identical downstream
  plan — the source swap is one line).
- ``encode_stream``: the same JVM cell encoder as the batch path
  (``grid.encode_cells`` is one SQL projection, so it works unchanged on
  streaming DataFrames — one code path for both), after the same in-grid
  filter as ``transform.match_layout``.
- ``tile_rollup``: watermarked event-time windows × tile_id counts/means —
  late documents beyond the watermark are dropped deterministically.
- ``write_stream_tiled``: appends into the tile-partitioned layout with a
  streaming checkpoint (exactly-once file sink per micro-batch).
- ``running_tile_stats``: custom stateful operator via
  ``applyInPandasWithState`` — running (count, sum, mean) per tile across
  micro-batches, emitting the updated state each trigger.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..grid import GridSpec, encode_cells
from ..operators.extract import in_bounds_col

DOC_STREAM_SCHEMA = (
    "doc_id bigint, x double, y double, value double, event_ts timestamp"
)


def stream_documents(
    spark: SparkSession, path: str, schema: str = DOC_STREAM_SCHEMA
) -> DataFrame:
    """File-source document stream: each new parquet file in ``path`` is a
    micro-batch. ``maxFilesPerTrigger=1`` keeps batches bounded (the
    streaming analogue of the reference's bounded in-flight windows)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def encode_stream(stream: DataFrame, grid: GridSpec) -> DataFrame:
    """Cell-encode a streaming frame — the batch path's JVM encoder.

    Documents outside the grid, or with a NULL or NaN coordinate, are
    dropped first (as ``transform.match_layout`` does): the encoder clamps
    them onto a border cell, so they would enter that tile's rollups and
    sink files."""
    return encode_cells(stream.filter(in_bounds_col(grid)), grid)


def tile_rollup(
    encoded: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "event_ts",
) -> DataFrame:
    """Watermarked per-tile windowed aggregate.

    Event-time windows bound state: Spark drops window state once the
    watermark passes, so the operator runs forever at constant memory —
    late rows beyond the watermark are dropped, not mis-aggregated.
    """
    return (
        encoded.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "tile_id",
            "n_docs",
            "mean_value",
        )
    )


def write_stream_tiled(
    encoded: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger: dict | None = None,
):
    """Append the encoded stream into the tile-partitioned corpus layout.

    The streaming checkpoint (WAL + file-sink manifest) provides the
    exactly-once guarantee the batch path gets from plans/checkpoint.py.

    ``trigger`` passes through to ``DataStreamWriter.trigger`` — default
    ``{"availableNow": True}`` (drain what exists, then stop: the batch-
    backfill shape the tests use). A continuously running ingest passes
    e.g. ``{"processingTime": "30 seconds"}``.
    """
    return (
        encoded.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("tile_id")
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


ROLLING_STATE_SCHEMA = "n bigint, total double"
ROLLING_OUT_SCHEMA = "tile_id bigint, n bigint, total double, mean double"


def _update_tile_state(key, pdfs, state: GroupState):
    """Stateful kernel: fold each micro-batch's rows for one tile into the
    running (n, total) state; emit the updated aggregate. NULL values are
    excluded from BOTH n and total (pandas ``sum`` already skips NaN; the
    count must match), so the running mean agrees with ``F.avg`` on the
    same rows — an all-null tile reports mean NULL, not 0.0."""
    from ..pipeline.dedup import round6_exact

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += int(pdf["value"].notna().sum())
        total += float(pdf["value"].sum())
    state.update((n, total))
    # round6_exact, NOT builtin round (half-to-even) and NOT bare round6:
    # a long-running tile's accumulated total is unbounded, and round6's
    # float path silently drifts once |total|*1e6 exceeds 2^52. Inside
    # that bound round6_exact IS round6 (the pinned DuckDB-oracle
    # parity); beyond it — where DuckDB and the JVM themselves disagree
    # at ulp level and parity is undefined — it switches to exact
    # Decimal half-away-from-zero (see round6_exact's docstring)
    yield pd.DataFrame(
        {
            "tile_id": [key[0]],
            "n": [n],
            "total": [round6_exact(total)],
            "mean": pd.array(
                [round6_exact(total / n) if n else None], dtype="Float64"
            ),
        }
    )


def running_tile_stats(encoded: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: running per-tile stats across
    micro-batches (``applyInPandasWithState``). State lives in the
    streaming state store (RocksDB/HDFS-backed on a cluster), keyed by
    ``tile_id`` — the tile key bounds state cardinality by the grid, not
    the stream length."""
    return encoded.groupBy("tile_id").applyInPandasWithState(
        _update_tile_state,
        outputStructType=ROLLING_OUT_SCHEMA,
        stateStructType=ROLLING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
