"""transform_crs / warp — re-key a raster table onto a different grid.

Reference: ``/root/reference/src/geowombat/backends/rasterio_.py:1087-1284``
(``transform_crs``: ``calculate_default_transform`` + ``reproject``),
``backends/xarray_.py:821-933``, accessor ``core/geoxarray.py:619-679``;
the warp no-op fast path is ``rasterio_.py:981-1004``.

Spark shapes (both single-shuffle, no UDF — the affine relation between two
grids in the same CRS plane is pure Column arithmetic; a true CRS change
adds one pandas-UDF coordinate transform in front, same plan otherwise):

- **nearest** (GDAL inverse mapping): generate the destination cell lattice
  (``spark.range`` — codegen), map each destination center back to the
  source (row, col) with the inverse affine, equi-join the source table.
  Warp IS "extract at the destination lattice centers".
- **average / min / max / sum / med / q1 / q3** (aggregating downsample):
  forward-map every source center to its destination cell,
  ``groupBy(dst_cell).agg(bands)`` — one partial-aggregated shuffle
  (percentile family uses Spark's exact interpolated ``percentile``,
  bit-matching DuckDB's ``quantile_cont``).
- **mode** (categorical downsample): forward map + count per (cell,
  value) + window rank — deterministic tie-break (count desc, value asc).
- **bilinear**: destination center → fractional source pixel coords; the
  4 surrounding source centers are addressed by an explode of weighted
  neighbor offsets and one hash equi-join, then
  ``sum(w·v)/sum(w)`` per destination cell renormalizes over the
  neighbors that exist (GDAL's edge behavior at the raster rim).
- identity fast path: if the grids are equal, return the input unchanged
  (the reference's no-op VRT check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import GridSpec


def _with_centers(df: DataFrame, dst: GridSpec) -> DataFrame:
    """Attach destination cell-center coords (x, y) from (row, col) —
    the ONE center convention (corner + (index+0.5)·res), previously
    restated at six sites."""
    return df.withColumns(
        {
            "x": F.lit(dst.left) + (F.col("col").cast("double") + 0.5) * dst.cellx,
            "y": F.lit(dst.top) - (F.col("row").cast("double") + 0.5) * dst.celly,
        }
    )


def _dst_lattice(spark: SparkSession, dst: GridSpec) -> DataFrame:
    """Full destination lattice (row, col, x, y) — codegen `range`, no
    data read. Every resampling mode emits this complete lattice (GDAL
    warp produces the full destination raster, nodata where uncovered),
    so consumers never see holes and all modes agree on row coverage."""
    n = dst.nrows * dst.ncols
    lat = spark.range(n).select(
        F.expr(f"id div {dst.ncols}").cast("long").alias("row"),
        (F.col("id") % dst.ncols).cast("long").alias("col"),
    )
    return _with_centers(lat, dst)


def grids_identical(a: GridSpec, b: GridSpec) -> bool:
    return (
        a.left == b.left
        and a.top == b.top
        and a.cellx == b.cellx
        and a.celly == b.celly
        and a.nrows == b.nrows
        and a.ncols == b.ncols
    )


def transform_grid(
    spark: SparkSession,
    docs: DataFrame,
    src: GridSpec,
    dst: GridSpec,
    bands: tuple[str, ...] = ("band_blue",),
    resampling: str = "nearest",
) -> DataFrame:
    """Re-key ``docs`` (source grid ``src``) onto grid ``dst``.

    Returns (row, col, x, y, <bands>) in destination indexing. ``nearest``
    keeps source values (NULL where the destination looks outside the
    source); ``average`` is the nodata-skipping aggregate (NULL inputs are
    ignored by ``avg`` — the reference's nan-mean).
    """
    if grids_identical(src, dst):
        return docs.select("row", "col", "x", "y", *bands)

    if resampling == "nearest":
        lat = _dst_lattice(spark, dst)
        # inverse mapping: destination center → source cell index
        lat = lat.withColumns(
            {
                "_sr": F.floor((F.lit(src.top) - F.col("y")) / src.celly).cast("long"),
                "_sc": F.floor((F.col("x") - F.lit(src.left)) / src.cellx).cast("long"),
            }
        )
        srcside = docs.select(
            F.col("row").alias("_sr"), F.col("col").alias("_sc"), *bands
        )
        return lat.join(srcside, ["_sr", "_sc"], "left").drop("_sr", "_sc")

    agg_fns = {
        "average": F.avg,
        "min": F.min,
        "max": F.max,
        "sum": F.sum,
        "med": lambda c: F.percentile(F.col(c), F.lit(0.5)),
        "q1": lambda c: F.percentile(F.col(c), F.lit(0.25)),
        "q3": lambda c: F.percentile(F.col(c), F.lit(0.75)),
    }
    if resampling in agg_fns or resampling == "mode":
        fn = agg_fns.get(resampling)
        fwd = docs.withColumns(
            {
                "_dr": F.floor((F.lit(dst.top) - F.col("y")) / dst.celly).cast("long"),
                "_dc": F.floor((F.col("x") - F.lit(dst.left)) / dst.cellx).cast("long"),
            }
        ).filter(
            (F.col("_dr") >= 0)
            & (F.col("_dr") < dst.nrows)
            & (F.col("_dc") >= 0)
            & (F.col("_dc") < dst.ncols)
        )
        if resampling == "mode":
            out = _mode_agg(fwd, bands)
        else:
            out = fwd.groupBy(
                F.col("_dr").alias("row"), F.col("_dc").alias("col")
            ).agg(*[fn(b).alias(b) for b in bands])
        # LEFT join onto the full lattice: uncovered destination cells
        # come back with NULL bands, matching nearest/bilinear coverage
        # (previously the agg modes silently omitted them — holes, not
        # nodata)
        return (
            _dst_lattice(spark, dst)
            .join(out, ["row", "col"], "left")
            .select("row", "col", "x", "y", *bands)
        )

    if resampling == "bilinear":
        lat = _dst_lattice(spark, dst)
        # fractional source pixel coords of the destination center
        fc = (F.col("x") - F.lit(src.left)) / src.cellx - 0.5
        fr = (F.lit(src.top) - F.col("y")) / src.celly - 0.5
        lat = lat.withColumns(
            {
                "_c0": F.floor(fc).cast("long"),
                "_r0": F.floor(fr).cast("long"),
                "_wc": fc - F.floor(fc),
                "_wr": fr - F.floor(fr),
            }
        )
        return bilinear_gather(
            lat, docs, bands, carry=("row", "col", "x", "y")
        ).select("row", "col", "x", "y", *bands)

    raise ValueError(f"unknown resampling {resampling!r}")


def bilinear_gather(
    lat: DataFrame,
    docs: DataFrame,
    bands: tuple[str, ...],
    carry: tuple[str, ...],
) -> DataFrame:
    """The shared bilinear interpolation plan: ``lat`` carries the integer
    base source cell (``_r0``, ``_c0``) and fractional weights (``_wr``,
    ``_wc``); explode the 4 weighted neighbor addresses, ONE equi-join
    against the source cells, and a NULL-renormalizing weighted average
    grouped by ``carry`` (missing neighbors drop out of both numerator
    and denominator — GDAL's edge renormalization).

    Single definition used by both ``transform_grid(resampling='bilinear')``
    and ``coregister.apply_shift_field`` so a weight-convention or NaN-guard
    fix lands in both plans at once.
    """
    nbrs = F.array(
        *[
            F.struct(
                (F.col("_r0") + dr).alias("_sr"),
                (F.col("_c0") + dc).alias("_sc"),
                (
                    (F.col("_wr") if dr else (1.0 - F.col("_wr")))
                    * (F.col("_wc") if dc else (1.0 - F.col("_wc")))
                ).alias("_w"),
            )
            for dr in (0, 1)
            for dc in (0, 1)
        ]
    )
    expl = lat.select(*carry, F.explode(nbrs).alias("_n")).select(
        *carry, "_n._sr", "_n._sc", "_n._w"
    )
    srcside = docs.select(
        F.col("row").alias("_sr"), F.col("col").alias("_sc"), *bands
    )
    joined = expl.join(srcside, ["_sr", "_sc"], "left")
    aggs = []
    for b in bands:
        w_ok = F.when(F.col(b).isNotNull(), F.col("_w"))
        aggs.append((F.sum(w_ok * F.col(b)) / F.sum(w_ok)).alias(b))
    return joined.groupBy(*carry).agg(*aggs)


def _mode_agg(fwd: DataFrame, bands: tuple[str, ...]) -> DataFrame:
    """Deterministic modal downsample: per (cell, value) counts + window
    rank with (count desc, value asc) tie-break — SQL-replicable, unlike
    engine-specific ``mode()`` tie behavior."""
    from pyspark.sql import Window

    out = fwd.select(
        F.col("_dr").alias("row"), F.col("_dc").alias("col")
    ).distinct()
    for b in bands:
        # nodata never competes as a modal value (GDAL mode resampling
        # ignores nodata): filter SQL NULL *and* NaN — a NaN-convention
        # frame (any pandas/applyInPandas product) passes isNotNull and
        # the asc tie-break would otherwise crown NaN over a real class
        valid = F.col(b).isNotNull()
        if fwd.schema[b].dataType.typeName() in ("double", "float"):
            valid = valid & ~F.isnan(F.col(b))
        counts = (
            fwd.filter(valid)
            .groupBy("_dr", "_dc", b)
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        w = Window.partitionBy("_dr", "_dc").orderBy(
            F.desc("_n"), F.asc(b)
        )
        top = (
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(
                F.col("_dr").alias("row"), F.col("_dc").alias("col"), b
            )
        )
        # LEFT join from the covered-cell base: a band that is all-nodata
        # in one cell must not drop the other bands' modes (the old inner
        # join did — confirmed by execution)
        out = out.join(top, ["row", "col"], "left")
    return out


def match_layout(df: DataFrame, grid: GridSpec, x: str = "x", y: str = "y") -> DataFrame:
    """``match_data`` analogue (``core/geoxarray.py:248-280``): re-key a
    table to another grid's tile/cell layout — re-encode under the target
    affine and repartition on the new tile key so downstream per-tile
    operators (focal, sinks) see the target chunking."""
    from ..grid import encode_cells
    from .extract import in_bounds_col

    clean = df.drop("row", "col", "cell_id", "tile_id")
    # DROP rows outside the target extent first: the encoder's clamp
    # would otherwise pile exterior cells onto border cells as duplicate
    # (row, col) keys — nondeterministic last-write in any downstream
    # dense-array kernel
    clean = clean.filter(in_bounds_col(grid, x=x, y=y))
    return encode_cells(clean, grid, x=x, y=y).repartition(F.col("tile_id"))


def transform_crs_grid(
    spark: SparkSession,
    docs: DataFrame,
    src: GridSpec,
    dst: GridSpec,
    src_epsg: int,
    dst_epsg: int,
    bands: tuple[str, ...] = ("band_blue",),
    resampling: str = "nearest",
) -> DataFrame:
    """True CRS-changing warp (``rasterio_.py:1087-1284`` with an actual
    reprojection): the affine plans of :func:`transform_grid` with ONE
    Arrow-batched coordinate transform (``crs.reproject_points`` — Karney
    TM series, no pyproj) inserted in front.

    - ``nearest``: destination lattice centers (in dst CRS) reproject to
      the source CRS inside ``mapInPandas``, then the inverse source
      affine + the same hash equi-join. The corpus is never reprojected
      or shuffled — only the (small) destination lattice moves through
      Python.
    - aggregating modes (``average``/``min``/``max``/``sum``): every
      source center forward-reprojects to the dst CRS (one corpus-wide
      Arrow pass — unavoidable: the source is the data being re-gridded),
      then the forward groupBy aggregate.
    """
    import numpy as np
    import pandas as pd

    from ..crs import reproject_points

    if src_epsg == dst_epsg:
        return transform_grid(spark, docs, src, dst, bands, resampling)

    if resampling == "nearest":
        lat = _dst_lattice(spark, dst)

        def _inv(it):
            for pdf in it:
                sx, sy = reproject_points(
                    pdf["x"].values, pdf["y"].values, dst_epsg, src_epsg
                )
                out = pdf[["row", "col", "x", "y"]].copy()
                out["_sr"] = np.floor((src.top - sy) / src.celly).astype(np.int64)
                out["_sc"] = np.floor((sx - src.left) / src.cellx).astype(np.int64)
                yield out

        lat2 = lat.mapInPandas(
            _inv,
            "row bigint, col bigint, x double, y double, _sr bigint, _sc bigint",
        )
        srcside = docs.select(
            F.col("row").alias("_sr"), F.col("col").alias("_sc"), *bands
        )
        return lat2.join(srcside, ["_sr", "_sc"], "left").drop("_sr", "_sc")

    agg_fns = {"average": F.avg, "min": F.min, "max": F.max, "sum": F.sum}
    if resampling in agg_fns:
        fn = agg_fns[resampling]

        def _fwd(it):
            for pdf in it:
                dx, dy = reproject_points(
                    pdf["x"].values, pdf["y"].values, src_epsg, dst_epsg
                )
                out = pdf.copy()
                out["_dr"] = np.floor((dst.top - dy) / dst.celly).astype(np.int64)
                out["_dc"] = np.floor((dx - dst.left) / dst.cellx).astype(np.int64)
                yield out

        cols = ", ".join(f"{b} double" for b in bands)
        fwd = docs.select("x", "y", *bands).mapInPandas(
            _fwd, f"x double, y double, {cols}, _dr bigint, _dc bigint"
        ).filter(
            (F.col("_dr") >= 0)
            & (F.col("_dr") < dst.nrows)
            & (F.col("_dc") >= 0)
            & (F.col("_dc") < dst.ncols)
        )
        out = fwd.groupBy(
            F.col("_dr").alias("row"), F.col("_dc").alias("col")
        ).agg(*[fn(b).alias(b) for b in bands])
        # full-lattice coverage, same as the same-CRS aggregate path
        return (
            _dst_lattice(spark, dst)
            .join(out, ["row", "col"], "left")
            .select("row", "col", "x", "y", *bands)
        )

    raise ValueError(
        f"resampling {resampling!r} is not supported for CRS-CHANGING "
        "warps (only 'nearest' and the forward aggregates avg/min/max/"
        "sum are); med/q1/q3/mode/bilinear exist on the same-CRS "
        "transform_grid path"
    )
