"""Raster↔vector spatial operators (the ``gw.sops`` family), Spark-first.

Each operator is a *planner function*: it composes a declarative DataFrame
plan (tile-pruned scan → predicate/when-chain → optional polygon cover
join) and lets Catalyst pick the physical strategy. Polygon membership
(clip ``mask_data``, ``mask``, ``recode``) comes from the driver-side
scanline kernel ``grid.polygon_cover_runs``: the documents are left-joined
against the broadcast ``(row, col_start, col_end)`` runs — no Python
worker touches a document. :func:`join_runs` is that join for every
polygon operator: extract, rasterize and ``ml.fit`` ship their own run
tables (with a payload) through it too.

Reference semantics, cited per function, from
``/root/reference/src/geowombat/core/sops.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..grid import (
    GridSpec,
    bbox_cover_tiles,
    merge_runs,
    polygon_cover_runs,
    round_window,
    sql_double,
)

BAND_COLS = ("band_blue", "band_green", "band_red")


def _total_bounds(polygons: pd.DataFrame) -> tuple[float, float, float, float]:
    xs = np.concatenate([np.asarray(r)[0::2] for rs in polygons["rings"] for r in rs])
    ys = np.concatenate([np.asarray(r)[1::2] for rs in polygons["rings"] for r in rs])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


RUN_COLS = ["_run_row", "_run_c0", "_run_c1"]
RUN_DDL = "_run_row long, _run_c0 long, _run_c1 long"


def join_runs(
    frame: DataFrame, runs: pd.DataFrame, payload: str = "", how: str = "left"
) -> DataFrame:
    """``frame`` joined to the broadcast run table ``runs`` — the one
    raster⋈vector join of every polygon operator (Raptor's scanline
    interval join, VLDB 2019): a frame row matches a run when ``row ==
    _run_row`` and ``_run_c0 <= col < _run_c1``.

    ``runs`` holds :data:`RUN_COLS` and then the payload columns typed by
    the DDL ``payload``; the payload columns are appended to ``frame``'s
    and the run columns dropped. The join keys on ``row`` with the
    column range as its condition, so it plans as a broadcast hash join.
    """
    schema = f"{RUN_DDL}, {payload}" if payload else RUN_DDL
    run_df = frame.sparkSession.createDataFrame(runs, schema)
    # one SQL string, not a Column tree: each Column node is a py4j round
    # trip, and the plan is built on every request
    on = F.expr("row = _run_row AND col >= _run_c0 AND col < _run_c1")
    return frame.join(F.broadcast(run_df), on, how).drop(*RUN_COLS)


def _feature_runs(
    polygons: pd.DataFrame, grid: GridSpec, all_touched: bool
) -> list[np.ndarray]:
    """Each feature's grid-anchored :func:`~..grid.polygon_cover_runs`, in
    input order."""
    anchor = (grid.left, grid.top)
    return [
        polygon_cover_runs(rs, grid.cellx, grid.celly, all_touched, anchor)[2]
        for rs in polygons["rings"]
    ]


def _with_cover_flag(
    docs: DataFrame, polygons: pd.DataFrame, grid: GridSpec, all_touched: bool = False
) -> DataFrame:
    """``docs`` run-joined to the polygons' cover: ``_pip`` is ``true``
    where the document's grid cell is covered by any polygon (GDAL
    rasterize membership, ``conversion.py:570-833``) and NULL elsewhere.

    The features' grid-anchored runs are merged per row, so no document
    matches two runs. Decisions equal ``point_in_rings`` (and
    ``rects_touch_rings``) at ``(left + (col+0.5)·cellx, top -
    (row+0.5)·celly)`` — the convention every corpus's ``x``/``y`` uses.
    """
    runs = [np.empty((0, 3), dtype=np.int64), *_feature_runs(polygons, grid, all_touched)]
    cover = pd.DataFrame(merge_runs(np.concatenate(runs)), columns=RUN_COLS)
    return join_runs(docs, cover.assign(_pip=True), "_pip boolean")


def _require_bands(docs: DataFrame, bands) -> None:
    """Raise on a band name that is not a column of ``docs``: a rewrite of a
    missing band would otherwise leave its values unmasked."""
    missing = [b for b in bands if b not in docs.columns]
    if missing:
        raise ValueError(f"bands {missing} are not columns of the input")


def _rewrite(
    flagged: DataFrame, columns: list[str], rewrite: dict[str, str]
) -> DataFrame:
    """``columns`` of ``flagged``, those in ``rewrite`` replaced in place by
    their SQL expression (which may read ``_pip``): the flag and the band
    rewrites are one projection over the run join."""
    return flagged.selectExpr(
        *(f"{rewrite[c]} AS `{c}`" if c in rewrite else f"`{c}`" for c in columns)
    )


def clip_by_polygon(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    mask_data: bool = False,
    expand_by: int = 0,
    bands: tuple[str, ...] = BAND_COLS,
) -> DataFrame:
    """Clip to the polygons' grid-snapped total bounds
    (``sops.py:911-996``): tile-list pruning + row/col range predicate —
    a pure partition-pruned scan, no shuffle. ``mask_data=True`` additionally
    nulls cells outside the geometry and refills with the grid nodata
    (``sops.py:985-994``: ``polygon_to_array`` mask then ``fillna(nodata)``).
    """
    minx, miny, maxx, maxy = _total_bounds(polygons)
    row0, row1, col0, col1 = round_window(grid, minx, miny, maxx, maxy, expand_by=expand_by)
    tiles = bbox_cover_tiles(
        grid,
        grid.left + col0 * grid.cellx,
        grid.top - row1 * grid.celly,
        grid.left + col1 * grid.cellx,
        grid.top - row0 * grid.celly,
    )
    # one SQL predicate, not a Column tree: the plan is built per request
    in_tiles = f"tile_id IN ({', '.join(map(str, tiles))})" if tiles else "false"
    out = docs.where(
        f"{in_tiles} AND row >= {row0} AND row < {row1} "
        f"AND col >= {col0} AND col < {col1}"
    )
    if mask_data:
        _require_bands(docs, bands)
        fill = sql_double(grid.nodata)
        out = _rewrite(
            _with_cover_flag(out, polygons, grid),
            out.columns,
            {b: f"IF(_pip IS NULL, {fill}, `{b}`)" for b in bands},
        )
    return out


def mask(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    keep: str = "in",
    bands: tuple[str, ...] = BAND_COLS,
    all_touched: bool = True,
) -> DataFrame:
    """Keep values inside ('in') or outside ('out') the geometry, others →
    NULL (the NaN of the reference, ``sops.py:1099-1160``; reference
    rasterizes with all_touched=True, hence the default here)."""
    _require_bands(docs, bands)
    kept = "_pip IS NOT NULL" if keep == "in" else "_pip IS NULL"
    return _rewrite(
        _with_cover_flag(docs, polygons, grid, all_touched),
        docs.columns,
        {b: f"IF({kept}, `{b}`, NULL)" for b in bands},
    )


def subset(
    docs: DataFrame,
    grid: GridSpec,
    left: float,
    top: float,
    rows: int,
    cols: int,
) -> DataFrame:
    """Rectangular subset by map coordinates (``sops.py:1271-1364``):
    a range predicate on derived row/col — partition-pruned, zero shuffle."""
    col0 = int(np.floor((left - grid.left) / grid.cellx))
    row0 = int(np.floor((grid.top - top) / grid.celly))
    tiles = bbox_cover_tiles(
        grid,
        grid.left + col0 * grid.cellx,
        grid.top - (row0 + rows) * grid.celly,
        grid.left + (col0 + cols) * grid.cellx,
        grid.top - row0 * grid.celly,
    )
    return docs.filter(F.col("tile_id").isin(tiles)).filter(
        (F.col("row") >= row0)
        & (F.col("row") < row0 + rows)
        & (F.col("col") >= col0)
        & (F.col("col") < col0 + cols)
    )


def replace(docs: DataFrame, mapping: dict, bands: tuple[str, ...] = BAND_COLS) -> DataFrame:
    """Global value recode (``sops.py:1162-1206``). The reference's two-pass
    ±100000 trick exists to avoid re-replacing already-replaced values in an
    in-place array; a ``when`` chain evaluates on the *input* column, so the
    single pass is semantically identical."""
    out = docs
    for b in bands:
        expr: Column = F.col(b)
        chain = None
        for k, v in mapping.items():
            cond = F.col(b) == F.lit(float(k))
            chain = F.when(cond, F.lit(float(v))) if chain is None else chain.when(cond, F.lit(float(v)))
        out = out.withColumn(b, chain.otherwise(expr) if chain is not None else expr)
    return out


def recode(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    mapping: dict,
    band: str = "band_blue",
) -> DataFrame:
    """Replace values **within polygons** (``sops.py:1208-1269``), including
    ``{k: 'mode'}`` → the modal value of the band inside the region (computed
    distributed via ``F.mode``, then folded back as a literal)."""
    _require_bands(docs, (band,))
    flag = _with_cover_flag(docs, polygons, grid)
    # every 'mode' entry resolves to the same polygon-modal band value, so
    # one distributed agg + one collect serves them all (k 'mode' entries
    # used to serialize into k driver actions over the same plan)
    modal = None
    if any(v == "mode" for v in mapping.values()):
        modal = flag.where("_pip").agg(F.mode(band)).collect()[0][0]
        if modal is None:
            raise ValueError(
                "recode 'mode': the polygon selects no pixels, so the "
                "modal value is undefined — check polygon/raster overlap"
            )
    resolved = {
        float(k): float(modal if v == "mode" else v)
        for k, v in mapping.items()
    }
    if not resolved:
        return docs
    whens = " ".join(
        f"WHEN `{band}` = {sql_double(k)} THEN {sql_double(v)}"
        for k, v in resolved.items()
    )
    return _rewrite(
        flag,
        docs.columns,
        {band: f"IF(_pip IS NULL, `{band}`, CASE {whens} ELSE `{band}` END)"},
    )


_AREA_CONV = {"km2": 1e-6, "ha": 1e-4, "m2": 1.0}


def calc_area(
    docs: DataFrame,
    grid: GridSpec,
    values: list[float],
    band: str = "band_blue",
    op: str = "eq",
    units: str = "km2",
) -> DataFrame:
    """Per-QUERIED-value areas (``sops.py:113-211`` semantics): one output
    row per entry of ``values``, keyed by that value — ``op='lt'`` with
    values [3, 5] returns area(band<3) AND area(band<5) separately, and a
    value matching zero pixels reports area 0.0 (the reference emits it;
    grouping by raw pixel value instead would merge overlapping
    thresholds and drop empty classes). Plan: ONE scan, one conditional
    sum per queried value folded in a single aggregate (map-side partial,
    one 1-row shuffle), then a driver-free ``stack`` to long form."""
    conv = _AREA_CONV[units]
    cell_area = grid.cellx * grid.celly
    ops = {
        "eq": lambda c, v: c == v,
        "lt": lambda c, v: c < v,
        "le": lambda c, v: c <= v,
        "gt": lambda c, v: c > v,
        "ge": lambda c, v: c >= v,
    }
    aggs = [
        F.coalesce(
            F.sum(ops[op](F.col(band), F.lit(float(v))).cast("long")),
            F.lit(0).cast("long"),
        ).alias(f"_c{i}")
        for i, v in enumerate(values)
    ]
    pairs = ", ".join(
        f"CAST({float(v)} AS DOUBLE), _c{i}" for i, v in enumerate(values)
    )
    return (
        docs.agg(*aggs)
        .selectExpr(f"stack({len(values)}, {pairs}) AS (value, hits)")
        .select(
            "value", (F.col("hits") * cell_area * conv).alias("area")
        )
        .orderBy("value")
    )


def bounds_overlay(
    a: tuple[float, float, float, float],
    b: tuple[float, float, float, float],
    how: str = "intersects",
) -> bool:
    """bbox binary predicate (``src/geowombat/core/geoxarray.py:389-425``).

    Strict ``<`` in the disjointness test: shapely's ``intersects`` (the
    reference's backend) counts shared-boundary contact — two boxes that
    merely touch at an edge DO intersect."""
    ix = not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])
    if how == "intersects":
        return ix
    if how == "contains":
        return a[0] <= b[0] and a[1] <= b[1] and a[2] >= b[2] and a[3] >= b[3]
    if how == "within":
        return b[0] <= a[0] and b[1] <= a[1] and b[2] >= a[2] and b[3] >= a[3]
    raise ValueError(how)
