"""Checkpointed tiling sink: batched tile writes + manifest + resume + salting.

This is the Spark rebuild of the reference's windowed write path:

- ``gw.to_raster`` writes one file **per window** named by its offsets
  (``/root/reference/src/geowombat/backends/rasterio_.py:131-135``) — the
  per-window file IS its resume unit.
- ``GeoTask._check_task`` short-circuits tasks whose outputs already exist
  (``/root/reference/src/geowombat/tasks/pipeline.py:176``) — the
  output-exists check IS its resume protocol.

Here both become first-class: the sink writes the corpus as a
tile-partitioned parquet dataset (the Iceberg-shim layout) in bounded
batches of tiles, and appends one manifest row per tile with **per-partition
lineage + metrics** (row count, order-independent content checksum, lineage
hash over the contributing doc_ids, batch id, wall time). Restarting the
same write anti-joins pending tiles against the manifest and only runs what
is missing — the north rule's mid-job resume.

Skew: a cheap ``groupBy(tile_id).count()`` pre-pass finds hot tiles; the
write repartitions on ``(tile_id, salt)`` where ``salt = pmod(hash(doc_id),
n_salt)`` applies only to hot tiles — a hot tile spreads over ``n_salt``
tasks (and files), cold tiles keep one. AQE skew-join splitting covers the
moderate-skew case at shuffle time; the salt covers pathological producers.
Salting the *write* never breaks correctness because ``partitionBy`` keys
files by ``tile_id`` regardless of which task wrote them.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: hash-unit modulus (largest 30-bit prime) — see tile_metrics
CHECKSUM_PRIME = 1_073_741_789

MANIFEST_SCHEMA = (
    "tile_id bigint, batch_id int, row_count bigint, checksum bigint, "
    "lineage bigint, wall_s double, status string, ts double"
)


def content_checksum_cols(df: DataFrame, id_col: str = "doc_id") -> tuple[str, ...]:
    """Default payload-column set for the content checksum: every column
    except the keys already in the row repr (``tile_id``, ``id_col``,
    ``cell_id``), sorted by name so the write side and the audit side
    derive the identical set independently."""
    skip = {"tile_id", id_col, "cell_id"}
    return tuple(sorted(f.name for f in df.schema.fields if f.name not in skip))


def _col_repr(df: DataFrame, name: str) -> F.Column:
    """Deterministic string repr of one column for hashing: atomic types
    cast to string, complex types (array/struct/map — e.g. spans) via
    ``to_json``. NULL maps to an explicit sentinel so a NULL and an empty
    string hash differently (``concat_ws`` would silently drop the NULL)."""
    dt = df.schema[name].dataType.typeName()
    c = F.col(name)
    rep = F.to_json(c) if dt in ("array", "struct", "map") else c.cast("string")
    return F.coalesce(rep, F.lit("\x00null"))


def tile_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-tile lineage + metrics as one aggregation.

    - ``row_count``: rows landing in the tile.
    - ``checksum``: order-independent content hash — sum of the portable
      md5-derived int64 (``pipeline.text.md5_int``) over the canonical row
      repr: id + cell, plus every ``content_cols`` column (payload bands,
      spans, …). With content columns included, any lost/duplicated/
      MUTATED row changes it — a payload corruption that preserves the
      keys is still caught. The default ``()`` is the key-only identity
      checksum (what the cross-engine DuckDB oracle recomputes; payload
      doubles stringify engine-specifically, so the portable variant
      stays keys-only while the sink's Spark-vs-Spark audit hashes
      everything). Commutativity makes the sum shuffle-order invariant.
    - ``lineage``: same construction over the *input identity* only
      (``doc_id``) — two runs over the same input partition agree on
      lineage even if derived columns change.
    """
    from ..pipeline.text import md5_int

    # 30-bit hash units: Spark 4 runs ANSI mode, where a long-sum overflow
    # is a job-killing error. 30-bit units keep the sum < 2^63 for any tile
    # up to 2^33 rows — far beyond the 512×512 tile ceiling.
    key_cols = [F.col(id_col).cast("string")]
    if "cell_id" in df.columns:
        # sink tables always carry cell_id and keep their historical
        # checksum; generic tile-partitioned tables (compact_tiles on an
        # arbitrary dataset) may not have one — key on id alone then
        key_cols.append(F.col("cell_id").cast("string"))
    row_repr = F.concat_ws(
        ",",
        *key_cols,
        *[_col_repr(df, c) for c in content_cols],
    )
    return df.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(md5_int(row_repr) % CHECKSUM_PRIME).alias("checksum"),
        F.sum(md5_int(F.col(id_col).cast("string")) % CHECKSUM_PRIME).alias(
            "lineage"
        ),
    )


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest")


def read_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """Manifest frame, or None if no manifest exists yet.

    Existence is probed by attempting the read and catching the missing-path
    AnalysisException — filesystem-agnostic (works for HDFS/S3 URIs, where a
    driver-local ``os.path.isdir`` would silently return False and a restart
    would rewrite every tile instead of resuming)."""
    mp = _manifest_path(path)
    try:
        # the file index is built eagerly, so a missing path raises here
        return spark.read.schema(MANIFEST_SCHEMA).parquet(mp)
    except AnalysisException as e:
        # ONLY missing-path means "no manifest yet": any other analysis
        # failure (revoked credentials, corrupt footer) must propagate —
        # swallowing it would return None, completed_tiles would be empty,
        # and a resume would silently rewrite every committed tile.
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def next_batch_id(spark: SparkSession, path: str) -> int:
    """First unused ``batch_id`` for ``path``'s manifest: max committed
    id + 1, or 0 with no manifest. Shared by the sink's resume path and by
    ``plans.compact`` so the manifest's batch walk stays ONE monotonically
    labeled sequence across crashes, resumes, and maintenance passes."""
    prior = read_manifest(spark, path)
    if prior is None:
        return 0
    row = prior.agg(F.max("batch_id")).collect()[0][0]
    return int(row) + 1 if row is not None else 0


def completed_tiles(spark: SparkSession, path: str) -> set[int]:
    m = read_manifest(spark, path)
    if m is None:
        return set()
    return {
        r[0]
        for r in m.filter(F.col("status") == "ok").select("tile_id").distinct().collect()
    }


def write_tiled_checkpointed(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    batch_tiles: int = 64,
    salt_threshold: int | None = None,
    n_salt: int = 8,
    sort_col: str = "cell_id",
    fail_after_batches: int | None = None,
    tile_order: str = "id",
    tiles_x: int | None = None,
) -> DataFrame:
    """Write ``df`` as a tile-partitioned dataset in resumable batches;
    returns the manifest DataFrame. Required columns: ``tile_id`` (the
    partition key), ``sort_col`` (within-file ordering for data skipping)
    and ``id_col`` (lineage hash key) — validated up front with a clear
    error (tasks.py auto-routes any tile_id-bearing result here, and a
    frame missing the other two should fail before the pre-pass scan,
    not mid-write).

    ``fail_after_batches`` is the fault-injection hook used by the
    kill/restart test: the writer raises after that many committed batches,
    exactly as if the job died mid-run. A rerun with the same arguments
    resumes from the manifest.

    ``tile_order='hilbert'`` (requires ``tiles_x``, the lattice width that
    ``tile_id = tile_r * tiles_x + tile_c`` encodes) walks the tile batches
    along the Hilbert curve instead of raw tile_id: each batch then covers
    a spatially compact block, so bbox-scoped readers and mid-job resumes
    touch the fewest batches, and file-level min/max stats on cell ids
    stay tight for parquet data skipping. Ordering is computed driver-side
    over the (tiny) distinct-tile list only.
    """
    spark = df.sparkSession
    need = {"tile_id", id_col, sort_col}
    have = {f.name for f in df.schema.fields}
    if not need <= have:
        raise ValueError(
            f"write_tiled_checkpointed requires columns {sorted(need)} "
            f"(missing: {sorted(need - have)}) — tile_id partitions the "
            f"layout, {sort_col!r} orders rows within files for data "
            f"skipping, {id_col!r} keys the lineage hash"
        )
    content_cols = content_checksum_cols(df, id_col)
    # ONE pre-pass scan yields both the distinct-tile list and the per-tile
    # counts the skew pre-pass needs (two separate scans would each
    # re-execute the full upstream plan at 100 TB).
    tile_rows = df.groupBy("tile_id").count().collect()
    if any(r[0] is None for r in tile_rows):
        # loud, named failure: a NULL tile key would otherwise die as a
        # bare TypeError here — and even if tolerated, those rows belong
        # to no batch and would silently never be written
        raise ValueError(
            "write_tiled_checkpointed: input contains NULL tile_id rows — "
            "assign every row a tile (or filter NULLs) before the sink"
        )
    tile_counts = {int(r[0]): int(r[1]) for r in tile_rows}
    all_tiles = sorted(tile_counts)
    if tile_order == "hilbert":
        if tiles_x is None:
            raise ValueError("tile_order='hilbert' requires tiles_x")
        if all_tiles:  # empty input: nothing to order (or write)
            from ..grid import hilbert_encode

            arr = np.asarray(all_tiles, dtype=np.int64)
            tr, tc = arr // tiles_x, arr % tiles_x
            # minimal curve order: smallest p with 2^p > max coordinate (a
            # 4×4 lattice → order 2; the former max+1 formula over-shot by
            # one bit exactly when max+1 was a power of two, walking a
            # sparser curve)
            order = int(max(int(tr.max()), int(tc.max()))).bit_length()
            hkey = hilbert_encode(tr, tc, max(order, 1))
            all_tiles = [
                int(t) for _, t in sorted(zip(hkey.tolist(), all_tiles))
            ]
    elif tile_order != "id":
        raise ValueError("tile_order must be 'id' or 'hilbert'")
    done = completed_tiles(spark, path)
    pending = [t for t in all_tiles if t not in done]
    # resume continues the batch lineage, never restarts it (see
    # next_batch_id)
    batch_id0 = next_batch_id(spark, path)

    hot: set[int] = set()
    if salt_threshold is not None:
        hot = {t for t in pending if tile_counts[t] > salt_threshold}

    mp = _manifest_path(path)
    batches = [
        pending[i : i + batch_tiles] for i in range(0, len(pending), batch_tiles)
    ]
    for bi, batch in enumerate(batches, start=0):
        bi = batch_id0 + bi
        t0 = time.time()
        sub = df.filter(F.col("tile_id").isin(batch))
        hot_in_batch = [t for t in batch if t in hot]
        if hot_in_batch:
            # Salt only the hot tiles: cold tiles keep salt 0 (one task),
            # hot tiles fan out over n_salt tasks/files. The partition count
            # is explicit — a user-specified repartition(n) is exempt from
            # AQE coalescing, so the fan-out survives even when the batch is
            # small (AQE would otherwise re-merge the hot tile into one
            # task, which is exactly the skew being removed).
            n_parts = max(
                spark.sparkContext.defaultParallelism,
                len(batch) + n_salt * len(hot_in_batch),
            )
            salt = F.when(
                F.col("tile_id").isin(hot_in_batch),
                F.pmod(F.hash(F.col(id_col)), F.lit(n_salt)),
            ).otherwise(F.lit(0))
            sub = sub.repartition(n_parts, F.col("tile_id"), salt.alias("_salt"))
        else:
            sub = sub.repartition(F.col("tile_id"))
        # tile_id leads the sort: the partitioned writer requires task rows
        # ordered by the partition column; if the explicit sort doesn't
        # provide it, the writer inserts its OWN sort by tile_id alone —
        # paying a second sort and (it is not stable) scrambling the
        # sort_col order within multi-tile tasks. Leading with tile_id
        # satisfies the requirement: one sort, guaranteed sorted files.
        sub = sub.sortWithinPartitions("tile_id", sort_col)
        # Metrics must describe the rows actually committed — never a fresh
        # re-execution of the upstream plan (a nondeterministic upstream,
        # e.g. partition-seeded sampling, would let the manifest disagree
        # with the data) — so they are read back from the just-written
        # parquet: the manifest round-trips the committed bytes themselves.
        #
        # Dynamic partition overwrite: the batch replaces exactly the tile
        # directories it touches. A job killed between the data commit and
        # the manifest commit leaves orphan tile files — the resumed run
        # re-executes that batch and the overwrite replaces them, so the
        # manifest row (written after the data) is the one true commit.
        (
            sub.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tile_id")
            .parquet(path)
        )
        written = spark.read.option("basePath", path).parquet(
            *[os.path.join(path, f"tile_id={t}") for t in batch]
        )
        metrics = tile_metrics(written, id_col, content_cols)
        wall = time.time() - t0
        manifest_rows = metrics.select(
            "tile_id",
            F.lit(bi).alias("batch_id"),
            "row_count",
            "checksum",
            "lineage",
            F.lit(round(wall, 3)).alias("wall_s"),
            F.lit("ok").alias("status"),
            F.lit(time.time()).alias("ts"),
        )
        manifest_rows.coalesce(1).write.mode("append").parquet(mp)
        if fail_after_batches is not None and bi + 1 >= fail_after_batches:
            raise RuntimeError(
                f"fault injection: killed after batch {bi} "
                f"({(bi + 1) * batch_tiles} tiles committed)"
            )
    return read_manifest(spark, path)


def verify_against_manifest(
    df: DataFrame, spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Three-way audit of a written dataset: per-tile metrics recomputed
    from the stored files AND from the input plan ``df``, both compared
    with the manifest. Returns rows that disagree on any leg (empty ⇒ the
    dataset is complete and content-identical to the input).

    The input leg is the non-circular one: the manifest derives from the
    stored bytes, so stored-vs-manifest alone could never catch rows the
    write dropped — input-vs-manifest can. Raises ValueError when ``path`` has
    no manifest (it was not written by this sink)."""
    man_df = read_manifest(spark, path)
    if man_df is None:
        raise ValueError(
            f"no manifest at {path} — not written by write_tiled_checkpointed"
        )
    stored = spark.read.option("basePath", path).parquet(path)
    # identical content-column derivation as the write side: both sides
    # sort the non-key column names, so the payload hash covers the same
    # columns without any stored parameter
    ccols = content_checksum_cols(df, id_col)
    actual = tile_metrics(stored, id_col, ccols)
    expected = tile_metrics(df, id_col, ccols).select(
        "tile_id",
        F.col("row_count").alias("i_rows"),
        F.col("checksum").alias("i_sum"),
    )
    man = man_df.groupBy("tile_id").agg(
        F.max("row_count").alias("m_rows"),
        F.max("checksum").alias("m_sum"),
    )
    return (
        actual.join(man, "tile_id", "full_outer")
        .join(expected, "tile_id", "full_outer")
        .filter(
            F.col("row_count").isNull()
            | F.col("m_rows").isNull()
            | F.col("i_rows").isNull()
            | (F.col("row_count") != F.col("m_rows"))
            | (F.col("row_count") != F.col("i_rows"))
            | (F.col("checksum") != F.col("m_sum"))
            | (F.col("checksum") != F.col("i_sum"))
        )
    )
