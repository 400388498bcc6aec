"""Focal (moving-window) statistics as one neighbour-offset aggregate.

Reference: ``gw.moving`` (``/root/reference/src/geowombat/core/util.py:376-469``)
runs a w×w nodata-skipping kernel via ``dask.map_overlap(depth=w//2,
boundary='reflect')``; the Cython kernel dispatch lives in
``moving/_moving.pyx:342-567``. The chunk-border correctness contract is
pinned by ``tests/test_moving.py:48-56``.

Spark shape — a w×w window over the affine grid is integer arithmetic on
``(row, col)``, so the whole kernel is one JVM hash aggregate:

1. **Fan-out**: each cell sends its value to the w² cells whose window
   contains it — one ``explode`` over a literal array of key offsets (the
   weight rides in the same struct). The target key is one long,
   ``(row+hw)·(ncols+2hw) + (col+hw) + offset``.
2. **groupBy(target)**: the stat is a Spark aggregate (``avg``, ``min``,
   ``var_pop``, exact ``percentile``, …) over the valid values. Targets
   without a home row (off-grid, or absent cells) are dropped. One
   exchange, keyed by the target cell, with a map-side partial hash
   aggregate; no Python worker.
3. **Home columns**: the cell's ``cell_id`` and ``keep`` columns come from
   its own offset-0 row inside the aggregate while all are fixed-width. A
   variable-width one (string, array) has no hash-aggregate buffer — Spark
   would sort all w² copies — so then the home rows join back to the stats
   on the cell key instead (a second exchange, or a broadcast when small).

Window borders at the *image* edge use clipped windows (only in-image
cells); nodata and NaN are skipped inside the window, matching the
reference kernel's nodata skip.

The input holds one row per cell. Several rows in one cell all count in
every window that holds the cell; the output then has one row for the cell
when the home columns ride the aggregate (their values from any one of its
rows), and one row per input row when they join back.

``halo_assignments`` and ``scatter_tile`` are the tile-halo stencil
prologue that ``functions.topo.slope_aspect`` still runs in pandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..grid import GridSpec
from .sops import sql_double

_STATS = ("mean", "min", "max", "var", "std", "perc", "sum", "expand")
#: column types a hash aggregate can carry in its buffer
_FIXED_WIDTH = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.DecimalType,
)


def halo_assignments(df: DataFrame, grid: GridSpec, hw: int) -> DataFrame:
    """Duplicate rows into neighbor tiles within ``hw`` cells of a border.

    Adds ``atile`` (the processing-group key). The home assignment always
    exists; each of the 8 neighbor directions fires only for rows inside the
    halo band, so the blow-up is limited to tile borders.
    """
    tile_r = F.floor(F.col("row") / grid.tile_rows)
    tile_c = F.floor(F.col("col") / grid.tile_cols)
    in_r = F.col("row") % grid.tile_rows
    in_c = F.col("col") % grid.tile_cols

    assigns = [ (tile_r * grid.tiles_x + tile_c).cast("long") ]
    # (dr, dc, condition) — duplicate into tile (tile_r+dr, tile_c+dc)
    near_top = in_r < hw
    near_bot = in_r >= grid.tile_rows - hw
    near_left = in_c < hw
    near_right = in_c >= grid.tile_cols - hw
    dirs = [
        (-1, 0, near_top),
        (1, 0, near_bot),
        (0, -1, near_left),
        (0, 1, near_right),
        (-1, -1, near_top & near_left),
        (-1, 1, near_top & near_right),
        (1, -1, near_bot & near_left),
        (1, 1, near_bot & near_right),
    ]
    for dr, dc, cond in dirs:
        nr, nc = tile_r + dr, tile_c + dc
        valid = (
            cond
            & (nr >= 0)
            & (nr < grid.tiles_y)
            & (nc >= 0)
            & (nc < grid.tiles_x)
        )
        assigns.append(F.when(valid, (nr * grid.tiles_x + nc).cast("long")))
    return df.withColumn(
        "atile", F.explode(F.filter(F.array(*assigns), lambda a: a.isNotNull()))
    )


def scatter_tile(key, pdf: pd.DataFrame, gs: GridSpec, hw: int, val_col: str):
    """Shared stencil-kernel prologue (used here and by
    ``functions.topo.slope_aspect``): decode a halo group's tile geometry
    from its ``atile`` key and scatter the group's rows into a dense
    (tile + halo) float array, NaN where absent.

    Returns ``(arr, home, r0, c0, r1, c1)`` — ``home`` is the subframe of
    rows whose home tile is this group (the cells the kernel must emit);
    ``arr`` indexes as ``arr[row - (r0 - hw), col - (c0 - hw)]``. Edge
    tiles clamp to the grid (partial ``r1 - r0`` / ``c1 - c0``) and
    out-of-window halo rows are masked out of the scatter."""
    atile = int(key[0])
    t_r, t_c = divmod(atile, gs.tiles_x)
    r0, c0 = t_r * gs.tile_rows, t_c * gs.tile_cols
    r1 = min(r0 + gs.tile_rows, gs.nrows)
    c1 = min(c0 + gs.tile_cols, gs.ncols)
    H, W = (r1 - r0) + 2 * hw, (c1 - c0) + 2 * hw
    arr = np.full((H, W), np.nan)
    rr = pdf["row"].values - (r0 - hw)
    cc = pdf["col"].values - (c0 - hw)
    ok = (rr >= 0) & (rr < H) & (cc >= 0) & (cc < W)
    arr[rr[ok], cc[ok]] = pdf[val_col].values[ok]
    home = pdf[
        (pdf["row"] >= r0)
        & (pdf["row"] < r1)
        & (pdf["col"] >= c0)
        & (pdf["col"] < c1)
    ]
    return arr, home, r0, c0, r1, c1


#: stats that support inverse-distance weighting (the reference's Cython
#: kernels carry weights only for mean/std/var — _moving.pyx:183-292,51-112)
_WEIGHTED_STATS = ("mean", "std", "var")


def window_weights(w: int) -> np.ndarray:
    """Inverse-distance weight matrix (``_moving.pyx:374-383``):
    ``1 - dist((m, n), center)/dist(corner, center)`` — 1 at the center,
    0 at the corners."""
    hw = w // 2
    if hw == 0:
        # w=1: the single cell IS the center — weight 1, not the 0/0 NaN
        # the corner-distance formula would produce
        return np.ones((1, 1))
    m, n = np.mgrid[0:w, 0:w].astype(np.float64)
    dist = np.sqrt((n - hw) ** 2 + (m - hw) ** 2)
    return 1.0 - dist / np.sqrt(2.0 * hw * hw)


def moving(
    docs: DataFrame,
    grid: GridSpec,
    stat: str = "mean",
    w: int = 3,
    band: str = "band_blue",
    nodata: float | None = 0.0,
    perc: int | None = 50,
    out: str | None = None,
    keep: tuple[str, ...] = (),
    weights: bool = False,
) -> DataFrame:
    """w×w focal statistic (``util.py:376-469``; w odd).

    Returns the stat frame keyed by (row, col, cell_id), one row per input
    cell. Payload columns a caller needs alongside the stat go in ``keep``.
    While they and ``cell_id`` are fixed-width they ride through the
    aggregate on the cell's own row, and the plan has one exchange (the
    target-cell aggregate); a variable-width one (string, array) brings
    every home column back by a join on the cell key instead.

    The input holds one row per (row, col). A cell with several rows counts
    each row's value in the windows that hold it, and yields one output row
    (fixed-width home columns, taken from any one of its rows) or one per
    input row (joined back).

    ``weights=True`` applies the reference's inverse-distance window
    weighting (``util.py:384,405``; kernel math ``_moving.pyx:374-383``) —
    supported for mean/std/var, like the reference kernels.
    """
    assert w % 2 == 1, "window size must be odd"
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {_STATS}")
    if weights and stat not in _WEIGHTED_STATS:
        raise ValueError(
            f"weights=True supports {_WEIGHTED_STATS}, not {stat!r}"
        )
    if stat == "expand" and nodata is not None and float(nodata) != 0.0:
        # expand ignores nodata by design (the reference's _get_expand
        # treats every non-target value as background) — reject an
        # EXPLICIT foreign nodata loudly rather than silently discarding
        # it: a caller migrating moving(..., nodata=-9999) expects -9999
        # cells nulled like every other stat, and expand cannot honor
        # that contract. The 0.0 default passes (0 IS the background
        # class, so ignoring it is the documented semantics).
        raise ValueError(
            "stat='expand' does not support nodata masking (the "
            "reference kernel treats every non-target value as "
            "background); pass nodata=None or pre-mask the band"
        )
    hw = w // 2
    if hw > min(grid.tile_rows, grid.tile_cols):
        # every cell is copied w² times before the map-side combine: a
        # window wider than a tile is a coarser-resolution job
        raise ValueError(
            f"window half-width {hw} exceeds the tile size "
            f"({grid.tile_rows}x{grid.tile_cols}); use a coarser window "
            "or larger tiles"
        )
    out = out or f"{band}_{stat}"
    if stat == "expand":
        # the reference's _get_expand ignores nodata entirely — 0 is the
        # expandable background class, so nulling a nodata of 0 (the
        # default) would disable the kernel; values pass through raw.
        nodata = None
    elif nodata is not None and np.isnan(nodata):
        nodata = None  # NaN is skipped anyway; a NaN refill is NULL
    keep = tuple(k for k in keep if k not in ("row", "col", "cell_id"))

    # _fv: the band, NULL where absent, NaN or nodata — the values the
    # reference's NaN-skipping reductions see
    v = f"CAST(`{band}` AS DOUBLE)"
    skip = f"isnan({v})"
    if nodata is not None:
        skip += f" OR {v} = {sql_double(nodata)}"
    # a source at window position (dr, dc) of target t sits at t + (dr, dc):
    # it reaches t's key at offset -(dr·span + dc), carrying t's weight there
    span = grid.ncols + 2 * hw
    wts = window_weights(w)
    offsets = [
        (-(dr * span + dc), wts[dr + hw, dc + hw])
        for dr in range(-hw, hw + 1)
        for dc in range(-hw, hw + 1)
    ]
    if weights:
        pairs = (
            f"named_struct('_fo', {o}L, '_fw', {sql_double(x)})" for o, x in offsets
        )
        fan = f"inline(array({', '.join(pairs)}))"
    else:
        fan = f"explode(array({', '.join(f'{o}L' for o, _ in offsets)})) AS _fo"
    home = ("cell_id", *keep)
    quoted = [f"`{k}`" for k in home]
    # the home columns ride the aggregate only while all are fixed-width:
    # a string or array has no hash-aggregate buffer, and Spark would sort
    # all w² copies instead; such home rows join back on their cell key
    schema = docs.schema
    ride = all(isinstance(schema[k].dataType, _FIXED_WIDTH) for k in home)
    key = f"(CAST(row AS BIGINT) + {hw}) * {span} + col + {hw}"
    src = docs.selectExpr(
        *(quoted if ride else ()),
        f"IF({skip}, NULL, {v}) AS _fv",
        f"{key} AS _fk",
        fan,
    )

    aggs = []
    if ride:
        aggs = [f"any_value({q}) FILTER (WHERE _fo = 0) AS {q}" for q in quoted]
        aggs.append("bool_or(_fo = 0) AS _fh")
    if weights:
        # mean = Σwv/Σw and var = Σ(wv - mean)²/Σw over the valid cells
        # (_moving.pyx:183-228, 51-112). With x = wv the variance is
        # (n·var_pop(x) + n·(avg(x) - mean)²)/Σw: Spark's stable central
        # moment plus the shift, no raw power sums. A zero Σw is NULL.
        aggs += [
            "sum(_fw * _fv) AS _fsx",
            "sum(_fw) FILTER (WHERE _fv IS NOT NULL) AS _fsw",
            "count(_fv) AS _fn",
            "var_pop(_fw * _fv) AS _fvx",
            "avg(_fw * _fv) AS _fax",
        ]
        mean = "try_divide(_fsx, _fsw)"
        d = f"(_fax - {mean})"
        var = f"try_divide(_fn * _fvx + _fn * {d} * {d}, _fsw)"
        res = {"mean": mean, "var": var, "std": f"sqrt({var})"}[stat]
    elif stat == "expand":
        # morphological expand of the target class 1 into 0 cells
        # (``_moving.pyx:230-257`` ``_get_expand``): a center of exactly 0
        # flips to 1.0 if ANY window cell equals exactly 1. In the
        # reference's only reachable configuration the weight matrix is
        # all-ones (``_moving.pyx:366`` — ``weights=True`` never combines
        # with expand, and this port rejects it), so the support is the
        # FULL w×w window including the diagonal corners, not the
        # plus-shaped IDW support. Every other center (1, NULL, any other
        # class) passes through unchanged.
        aggs += [
            "any_value(_fv) FILTER (WHERE _fo = 0) AS _fc",
            "bool_or(_fv = 1) AS _fx",
        ]
        res = "CASE WHEN _fc = 0 AND _fx THEN 1D ELSE _fc END"
    else:
        fn = {
            "mean": "avg(_fv)",
            "sum": "sum(_fv)",
            "min": "min(_fv)",
            "max": "max(_fv)",
            "var": "var_pop(_fv)",
            "std": "stddev_pop(_fv)",
            # exact, with np.nanpercentile's linear interpolation
            "perc": f"percentile(_fv, {sql_double(perc / 100)})",
        }[stat]
        aggs.append(f"{fn} AS _fs")
        res = "_fs"
    if nodata is not None:
        # reference parity (_moving.pyx: 'if npy_isnan(res): return
        # nodata'): an all-nodata window refills with the nodata value
        # instead of emitting NULL
        res = f"coalesce({res}, {sql_double(nodata)})"

    stats = src.groupBy(F.expr("_fk + _fo AS _ft")).agg(*map(F.expr, aggs))
    if ride:
        stats = stats.where("_fh")
    else:
        stats = stats.join(docs.selectExpr(f"{key} AS _ft", *quoted), "_ft")
    return stats.selectExpr(
        f"_ft div {span} - {hw} AS row",
        f"_ft % {span} - {hw} AS col",
        *quoted,
        f"{res} AS `{out}`",
    )
