"""Tile compaction — the Iceberg ``rewrite_data_files`` analogue for the
tile-partitioned parquet shim.

Why this exists at 100 TB: the checkpointed sink intentionally fragments.
Hot tiles fan out over ``n_salt`` tasks (= ``n_salt`` files, the skew fix in
``checkpoint.write_tiled_checkpointed``), streaming ingestion appends one
file per micro-batch per touched tile, and resumed runs add more. Each small
file costs a scan task, a footer fetch, and a driver file-status entry —
at corpus scale the file count, not the byte count, becomes the read-path
bottleneck (the same failure mode Iceberg's ``rewrite_data_files``
maintenance action exists for). Compaction rewrites only the fragmented
tiles back to their target file count, preserving content bit-for-bit and
extending the manifest lineage, so readers keep partition pruning AND get
one (or ``ceil(rows / target_rows_per_file)``) well-sorted file per tile.

Scale design:

- **Only fragmented tiles are touched.** Candidate selection is pure
  metadata: a driver-side directory listing plus parquet-footer row counts
  (``pyarrow.dataset.count_rows`` reads footers, not data). With a real
  Iceberg catalog both come straight from the table's manifest files; the
  shim's listing is the same information obtained the pedestrian way.
- **Bounded batches.** Tiles are rewritten ``batch_tiles`` at a time, so
  the working set is independent of corpus size — the same bound the sink
  itself uses.
- **One shuffle of only the fragmented rows.** The rewrite repartitions on
  ``tile_id`` (each tile lands in exactly one task) and relies on the
  writer's ``maxRecordsPerFile`` to split a big tile into exactly
  ``ceil(rows / target_rows_per_file)`` files — compaction targets file
  SIZE, not file count 1, so it never rebuilds the one-giant-file skew the
  sink's salting removed. The per-tile file count is fully deterministic
  (a salted shuffle would make it depend on hash-bucket collisions, which
  breaks idempotence: a rewrite that lands one file over target would be
  re-selected forever). The tradeoff is that one tile rewrites in one
  task; tiles are geometry-bounded (the lattice caps cells per tile) and
  batches of ``batch_tiles`` tiles rewrite concurrently, so the
  maintenance pass stays parallel at corpus scale even though each tile
  is sequential.
- **Audited swap.** Per batch, ``checkpoint.tile_metrics`` (row count +
  order-independent content checksum + lineage) is computed from the OLD
  files and from the freshly written NEW files; any per-tile mismatch
  aborts before the swap, leaving the originals untouched. On success each
  tile directory is replaced via rename-aside (old dir → hidden
  ``_precompact-*`` name, new dir in, old dir deleted) and a manifest row
  with ``status='compacted'`` is appended — the manifest's checksum/lineage
  for the tile are unchanged by construction, so
  ``checkpoint.verify_against_manifest`` keeps passing afterwards.
- **Crash recovery.** A crash mid-swap leaves a hidden ``_precompact-*``
  directory (Spark readers ignore ``_``-prefixed paths, so a concurrent
  read never sees doubled rows). ``recover_compaction`` — run at the
  start of every ``compact_tiles``, and from ``_compact_batch``'s own
  error path before the exception propagates — rolls an interrupted swap
  back (tile dir missing → restore the old one) or forward (tile dir
  present → drop the leftover). On a real object store this whole dance
  is Iceberg's atomic snapshot commit; the shim reproduces the same
  commit unit (per-tile atomic replace + manifest row) with local-FS
  renames.
- **Single-writer assumption; readers see a swap window.** Like
  Iceberg's maintenance actions under optimistic concurrency, compaction
  assumes no concurrent writer is appending to the tiles being rewritten.
  Readers can never see DOUBLED rows (the aside dir is ``_``-hidden), but
  the per-tile swap is not atomic for them: a read that lists the dataset
  inside the rename-out→rename-in window of a tile misses that tile's
  rows, and a long scan that indexed the old files before the swap can
  hit ``FileNotFoundException`` once they are deleted (set
  ``spark.sql.files.ignoreMissingFiles`` or retry). Iceberg avoids this
  by keeping old files until snapshot expiry; the directory shim has no
  snapshot layer, so quiesce readers of the affected tiles during a
  compaction pass — or accept retry-on-miss semantics.

Reference parity note: the reference has no compaction because its windowed
writer (``/root/reference/src/geowombat/backends/rasterio_.py:131-135``)
emits exactly one file per window by construction and never appends. The
Spark sink gains appends/salting/resume — so it needs the maintenance
action the reference never did.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    MANIFEST_SCHEMA,
    _manifest_path,
    content_checksum_cols,
    next_batch_id,
    read_manifest,
    tile_metrics,
)

#: hidden (``_``-prefixed ⇒ invisible to Spark readers) rename-aside prefix
PRECOMPACT_PREFIX = "_precompact-"


def _is_data_file(name: str) -> bool:
    return not name.startswith((".", "_"))


def tile_file_stats(path: str, tiles=None) -> dict[int, dict]:
    """Per-tile file statistics from a driver-side listing: ``{tile_id:
    {'n_files': int, 'bytes': int, 'dir': str}}``.

    Metadata-only — no data bytes are read. With an Iceberg catalog this is
    a manifest scan; on the parquet shim it is one ``scandir`` per tile
    directory (local FS / HDFS listing; object stores would use a prefix
    list, same cost class). ``tiles`` restricts the listing to that tile
    set — per-batch callers must pass it so listing cost stays O(batch),
    not O(corpus tiles) per batch.
    """
    out: dict[int, dict] = {}
    if tiles is not None:
        # scoped mode: stat the known directory paths directly — no root
        # scan, so a per-batch call really is O(batch) even when the
        # corpus holds 100k+ tile dirs (on an object store: per-prefix
        # lists instead of one full-table prefix list per batch)
        dirs = [
            (int(t), os.path.join(path, f"tile_id={int(t)}")) for t in tiles
        ]
    else:
        # skip partition values that aren't integers — a NULL tile_id row
        # writes 'tile_id=__HIVE_DEFAULT_PARTITION__', which has no int
        # key and is left uncompacted rather than crashing the run
        dirs = []
        for e in os.scandir(path):
            if e.is_dir() and e.name.startswith("tile_id="):
                try:
                    dirs.append((int(e.name.split("=", 1)[1]), e.path))
                except ValueError:
                    continue
    for tile, tdir in dirs:
        if not os.path.isdir(tdir):
            continue
        n = 0
        nbytes = 0
        for f in os.scandir(tdir):
            if f.is_file() and _is_data_file(f.name):
                n += 1
                nbytes += f.stat().st_size
        out[tile] = {"n_files": n, "bytes": nbytes, "dir": tdir}
    return out


def _tile_row_count(tile_dir: str) -> tuple[int, int]:
    """``(total_rows, max_rows_in_one_file)`` from parquet footers only
    (no data IO) — the per-file counts cost the same footer reads as the
    plain total and let candidate selection catch a lopsided tile whose
    file COUNT is already at target but whose largest file is not."""
    import pyarrow.dataset as pads

    per_file = [
        frag.count_rows()
        for frag in pads.dataset(tile_dir, format="parquet").get_fragments()
    ]
    return sum(per_file), max(per_file, default=0)


def recover_compaction(path: str) -> dict[str, list]:
    """Roll back/forward any swap a crashed compaction left behind.

    For every hidden ``_precompact-<tile>-<uuid>`` directory under ``path``:
    if the live ``tile_id=<tile>`` directory is MISSING the crash happened
    between rename-aside and rename-in — restore the old directory (roll
    back; the manifest 'compacted' row is only written after a completed
    swap, so the manifest stays truthful). If the live directory exists the
    swap completed and only the delete was lost — drop the leftover (roll
    forward). The same protocol covers an interrupted ``compact_manifest``
    swap (``_manifest-old-<uuid>`` aside dirs): a missing ``_manifest`` is
    restored from the aside — CRITICAL, because a missing manifest would
    make a resumed sink rewrite every tile from scratch. Returns
    ``{'rolled_back': [...], 'cleaned': [...]}`` (tile ids, plus the
    string 'manifest' for manifest-swap recoveries).
    """
    rolled_back: list = []
    cleaned: list = []
    if not os.path.isdir(path):
        return {"rolled_back": rolled_back, "cleaned": cleaned}
    manifest_live = _manifest_path(path)
    # snapshot the listing first: the loop renames/deletes entries
    for entry in list(os.scandir(path)):
        if entry.is_dir() and entry.name.startswith(PRECOMPACT_PREFIX):
            tile = int(entry.name[len(PRECOMPACT_PREFIX) :].split("-", 1)[0])
            live = os.path.join(path, f"tile_id={tile}")
            if os.path.isdir(live):
                shutil.rmtree(entry.path)
                cleaned.append(tile)
            else:
                os.rename(entry.path, live)
                rolled_back.append(tile)
        elif entry.is_dir() and entry.name.startswith("_manifest-old-"):
            if os.path.isdir(manifest_live):
                shutil.rmtree(entry.path)
                cleaned.append("manifest")
            else:
                os.rename(entry.path, manifest_live)
                rolled_back.append("manifest")
        elif entry.is_dir() and entry.name.startswith(
            ("_manifest-stage-", "_compact-stage-")
        ):
            # an abandoned staging dir (a hard kill skipped the in-process
            # cleanup): discard. Safe in every crash ordering — any tile
            # already swapped out of the stage lives under tile_id=...;
            # tiles still in the stage have their originals either live or
            # in a _precompact aside restored above.
            shutil.rmtree(entry.path)
    return {"rolled_back": rolled_back, "cleaned": cleaned}


def compact_manifest(spark: SparkSession, path: str) -> int:
    """Rewrite the sink manifest into a single parquet file; returns the
    file count before the rewrite.

    The manifest appends one small file per committed batch (plus one per
    compaction batch), so after thousands of batches the resume pre-pass
    (``completed_tiles``) pays a file-per-batch listing+footer cost. All
    rows are preserved verbatim — the manifest is an append-only log and
    its consumers (resume anti-join, ``verify_against_manifest``'s
    per-tile max) are order-independent, so packing the log loses nothing.
    Same crash-safe rename-aside swap as the tile rewrite; an interrupted
    swap is healed by ``recover_compaction`` (which both this function and
    ``compact_tiles`` run first)."""
    recover_compaction(path)
    mp = _manifest_path(path)
    man = read_manifest(spark, path)
    if man is None:
        return 0
    n_files = sum(
        1 for f in os.scandir(mp) if f.is_file() and _is_data_file(f.name)
    )
    if n_files <= 1:
        return n_files
    n_rows = man.count()
    staged = os.path.join(path, f"_manifest-stage-{uuid4().hex}")
    man.coalesce(1).write.parquet(staged)
    # audit: the packed log must hold exactly the same rows
    packed = spark.read.schema(man.schema).parquet(staged)
    if packed.count() != n_rows or packed.exceptAll(man).count() != 0:
        shutil.rmtree(staged)
        raise RuntimeError(
            "manifest compaction audit mismatch — original left in place"
        )
    aside = os.path.join(path, f"_manifest-old-{uuid4().hex}")
    try:
        os.rename(mp, aside)
        os.rename(staged, mp)
        shutil.rmtree(aside)
    except BaseException:
        # same contract as the tile swap: restore the manifest NOW rather
        # than leaving the dataset manifest-less (a resumed sink would
        # rewrite every tile) until some later call runs recovery
        recover_compaction(path)
        raise
    return n_files


def compact_tiles(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    sort_col: str = "cell_id",
    target_rows_per_file: int | None = None,
    batch_tiles: int = 64,
    tiles: list[int] | None = None,
) -> DataFrame:
    """Rewrite fragmented tiles of a ``write_tiled_checkpointed`` dataset
    down to their target file count; returns a driver-built report frame
    ``(tile_id, files_before, files_after, row_count, wall_s)`` with one
    row per rewritten tile (empty ⇒ nothing was fragmented). ``wall_s`` is
    the wall time of the tile's whole BATCH, repeated on each of its rows
    (tiles within a batch rewrite concurrently, so no finer per-tile time
    exists) — sum it per distinct value, not per row.

    ``target_rows_per_file=None`` targets ONE file per tile; otherwise each
    tile targets ``ceil(rows / target_rows_per_file)`` files (big tiles
    keep bounded-size files — compaction must not rebuild the skew the
    sink's salting removed), and a multi-file tile is also re-selected
    when any single file exceeds the target even if its file count is
    already minimal. Single-file tiles are never candidates: merging small
    files is the maintenance job, and the sink's own writer already bounds
    fresh file sizes — splitting a lone pre-existing big file would add an
    O(all tiles) footer scan to every pass for a case appends don't
    produce. ``tiles`` restricts the candidate set (e.g. compact only the
    tiles a streaming job has been appending to).
    """
    recover_compaction(path)
    stats = tile_file_stats(path, tiles=tiles)

    # candidate selection: footer row counts only for tiles that are even
    # possibly fragmented (n_files == 1 can never need work); footers are
    # fetched by a driver thread pool — sequential per-tile metadata reads
    # would serialize ~ms × tiles at corpus scale
    from concurrent.futures import ThreadPoolExecutor

    multi = {t: s for t, s in stats.items() if s["n_files"] > 1}
    with ThreadPoolExecutor(max_workers=16) as pool:
        counts = dict(
            zip(
                multi,
                pool.map(lambda t: _tile_row_count(multi[t]["dir"]), multi),
            )
        )
    plan: dict[int, dict] = {}
    for t, s in multi.items():
        rows, max_file_rows = counts[t]
        if rows == 0:
            # degenerate all-empty-files tile: nothing to audit (groupBy
            # emits no metrics row for it) and nothing to gain — skip
            continue
        want = (
            1
            if target_rows_per_file is None
            else max(1, math.ceil(rows / target_rows_per_file))
        )
        # select on file count OR on a single oversized file: a tile of
        # (2999, 1) rows with target 1500 already has want=2 files, but
        # one of them is ~2x over target — exactly the skew the option
        # exists to bound, so it must still be rewritten (idempotent: the
        # rewrite emits maxRecordsPerFile-bounded files, after which
        # neither branch re-selects the tile)
        oversized = (
            target_rows_per_file is not None
            and max_file_rows > target_rows_per_file
        )
        if s["n_files"] > want or oversized:
            plan[t] = {**s, "rows": rows, "want": want}

    report_rows: list[tuple] = []
    if plan:
        batch_id0 = next_batch_id(spark, path)
        todo = sorted(plan)
        batches = [
            todo[i : i + batch_tiles] for i in range(0, len(todo), batch_tiles)
        ]
        for bi, batch in enumerate(batches):
            t0 = time.time()
            _compact_batch(
                spark,
                path,
                batch,
                plan,
                id_col,
                sort_col,
                batch_id0 + bi,
                target_rows_per_file,
            )
            wall = round(time.time() - t0, 3)
            after = tile_file_stats(path, tiles=batch)
            for t in batch:
                report_rows.append(
                    (
                        t,
                        plan[t]["n_files"],
                        after[t]["n_files"],
                        plan[t]["rows"],
                        wall,
                    )
                )

    return spark.createDataFrame(
        report_rows,
        "tile_id bigint, files_before int, files_after int, "
        "row_count bigint, wall_s double",
    )


def _compact_batch(
    spark: SparkSession,
    path: str,
    batch: list[int],
    plan: dict[int, dict],
    id_col: str,
    sort_col: str,
    batch_id: int,
    target_rows_per_file: int | None,
) -> None:
    """Rewrite one bounded batch of tiles: read old files → repartition on
    ``tile_id`` (one task per tile; ``maxRecordsPerFile`` splits big tiles
    deterministically) → write to a hidden staging dir → checksum-audit new
    vs old → per-tile rename swap → manifest append. An exception during
    the swap loop triggers an immediate ``recover_compaction`` before
    re-raising, so no tile is left hidden in a ``_precompact`` aside until
    some later call happens to run recovery."""
    old = spark.read.option("basePath", path).parquet(
        *[plan[t]["dir"] for t in batch]
    )
    ccols = content_checksum_cols(old, id_col)
    target = target_rows_per_file or 0
    staged_dir = os.path.join(path, f"_compact-stage-{uuid4().hex}")
    try:
        writer = (
            old.repartition(F.col("tile_id"))
            # tile_id leads the sort: the partitioned writer REQUIRES task
            # rows ordered by the partition column and would otherwise
            # insert its own non-stable sort by tile_id alone, destroying
            # the sort_col run order (observed: concatenated per-source
            # runs). Leading with tile_id satisfies the requirement, so the
            # one sort here is the only sort — and files stay sort_col-runs
            .sortWithinPartitions("tile_id", sort_col)
            .write.mode("overwrite")
            .partitionBy("tile_id")
        )
        if target:
            # exact ceil(rows/target) files per tile: the single writer
            # task rolls to a new file every `target` rows of the sorted
            # stream, so the split points are deterministic and idempotent
            writer = writer.option("maxRecordsPerFile", target)
        writer.parquet(staged_dir)
        fresh = spark.read.option("basePath", staged_dir).parquet(
            *[os.path.join(staged_dir, f"tile_id={t}") for t in batch]
        )
        # ONE Spark job audits both legs: old and staged metrics are a
        # unioned aggregate (the old files are immutable until the swap
        # below, so auditing them after the staged write is sound) — vs a
        # metrics job per leg, this halves the audit's job-launch overhead
        both = (
            tile_metrics(old, id_col, ccols)
            .withColumn("_leg", F.lit("old"))
            .unionByName(
                tile_metrics(fresh, id_col, ccols).withColumn(
                    "_leg", F.lit("new")
                )
            )
            .collect()
        )
        before = {int(r["tile_id"]): r for r in both if r["_leg"] == "old"}
        after = {int(r["tile_id"]): r for r in both if r["_leg"] == "new"}
        bad = [
            t
            for t in batch
            if t not in after
            or (
                before[t]["row_count"],
                before[t]["checksum"],
                before[t]["lineage"],
            )
            != (
                after[t]["row_count"],
                after[t]["checksum"],
                after[t]["lineage"],
            )
        ]
        if bad:
            raise RuntimeError(
                f"compaction audit mismatch for tiles {bad} — originals "
                f"left in place, staging dir removed"
            )
        # audited: swap each tile (rename-aside protocol; see module doc)
        try:
            for t in batch:
                live = os.path.join(path, f"tile_id={t}")
                aside = os.path.join(
                    path, f"{PRECOMPACT_PREFIX}{t}-{uuid4().hex}"
                )
                os.rename(live, aside)
                os.rename(os.path.join(staged_dir, f"tile_id={t}"), live)
                shutil.rmtree(aside)
        except BaseException:
            # in-process failure mid-swap (disk full, EACCES, cross-device
            # staging): restore any tile whose live dir is missing NOW —
            # without this, the tile stays hidden in its aside until an
            # unrelated later compaction call runs recovery, and every
            # read in between silently loses its rows
            recover_compaction(path)
            raise
    finally:
        shutil.rmtree(staged_dir, ignore_errors=True)

    manifest_rows = spark.createDataFrame(
        [
            (
                t,
                batch_id,
                int(after[t]["row_count"]),
                int(after[t]["checksum"]),
                int(after[t]["lineage"]),
                0.0,
                "compacted",
                time.time(),
            )
            for t in batch
        ],
        MANIFEST_SCHEMA,
    )
    manifest_rows.coalesce(1).write.mode("append").parquet(_manifest_path(path))
