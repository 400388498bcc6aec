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

``neighbour_aggregate`` is this stencil for every caller: ``moving`` and
the five-tap centre/N/S/W/E stencil of ``functions.topo.slope_aspect``.
The target key, its decode and the ride-or-join rule live only there.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..grid import GridSpec, sql_double

_STATS = ("mean", "min", "max", "var", "std", "perc", "sum", "expand")
#: column types a hash aggregate can carry in its buffer
_FIXED_WIDTH = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.DecimalType,
)


def tap_offset(grid: GridSpec, hw: int, dr: int, dc: int) -> int:
    """The key offset ``_fo`` that carries the source at window position
    ``(dr, dc)`` of a target to that target's key: the source sits at
    target + (dr, dc) on the lattice padded by ``hw`` on every side."""
    return -(dr * (grid.ncols + 2 * hw) + dc)


def neighbour_aggregate(
    docs: DataFrame,
    grid: GridSpec,
    hw: int,
    value: str,
    taps: list[tuple[int, int]],
    aggs: list[str],
    outs: list[str],
    keep: tuple[str, ...] = (),
    weights: list[float] | None = None,
) -> DataFrame:
    """One neighbour-offset aggregate over the grid (the module's stencil).

    Each row's ``value`` (SQL, named ``_fv``) fans out to the cells that
    see it at window position ``(dr, dc)``, one copy per entry of ``taps``.
    A copy carries ``_fo``, its :func:`tap_offset` (0 is the cell's own
    row), and with ``weights`` the tap's weight as ``_fw``. ``aggs`` (SQL
    aggregates over ``_fv``, ``_fo`` and ``_fw``) run grouped by the target
    key ``(row+hw)·(ncols+2hw) + col+hw``; ``outs`` (SQL over the
    aggregates) are the result columns.

    Returns ``row, col, cell_id, *keep, *outs``, one row per target that
    has a home row; off-grid and absent targets drop. While ``cell_id`` and
    every ``keep`` column are fixed-width they ride the aggregate from the
    cell's own row, and the plan has one exchange. A variable-width one
    (string, array) has no hash-aggregate buffer, and Spark would sort all
    the copies; then the home rows join back on the cell key instead, one
    output row per input row.
    """
    span = grid.ncols + 2 * hw
    offsets = [tap_offset(grid, hw, dr, dc) for dr, dc in taps]
    if weights is None:
        fan = f"explode(array({', '.join(f'{o}L' for o in offsets)})) AS _fo"
    else:
        pairs = (
            f"named_struct('_fo', {o}L, '_fw', {sql_double(x)})"
            for o, x in zip(offsets, weights)
        )
        fan = f"inline(array({', '.join(pairs)}))"
    keep = tuple(k for k in keep if k not in ("row", "col", "cell_id"))
    quoted = [f"`{k}`" for k in ("cell_id", *keep)]
    schema = docs.schema
    ride = all(
        isinstance(schema[k].dataType, _FIXED_WIDTH) for k in ("cell_id", *keep)
    )
    key = f"(CAST(row AS BIGINT) + {hw}) * {span} + col + {hw}"
    src = docs.selectExpr(
        *(quoted if ride else ()), f"{value} AS _fv", f"{key} AS _fk", fan
    )
    if ride:
        aggs = [
            *(f"any_value({q}) FILTER (WHERE _fo = 0) AS {q}" for q in quoted),
            "bool_or(_fo = 0) AS _fh",
            *aggs,
        ]
    stats = src.groupBy(F.expr("_fk + _fo AS _ft")).agg(*map(F.expr, aggs))
    if ride:
        stats = stats.where("_fh")
    else:
        stats = stats.join(docs.selectExpr(f"{key} AS _ft", *quoted), "_ft")
    return stats.selectExpr(
        f"_ft div {span} - {hw} AS row",
        f"_ft % {span} - {hw} AS col",
        *quoted,
        *outs,
    )


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
    # _fv: the band, NULL where absent, NaN or nodata — the values the
    # reference's NaN-skipping reductions see
    v = f"CAST(`{band}` AS DOUBLE)"
    skip = f"isnan({v})"
    if nodata is not None:
        skip += f" OR {v} = {sql_double(nodata)}"
    taps = [(dr, dc) for dr in range(-hw, hw + 1) for dc in range(-hw, hw + 1)]

    if weights:
        # mean = Σwv/Σw and var = Σ(wv - mean)²/Σw over the valid cells
        # (_moving.pyx:183-228, 51-112). With x = wv the variance is
        # (n·var_pop(x) + n·(avg(x) - mean)²)/Σw: Spark's stable central
        # moment plus the shift, no raw power sums. A zero Σw is NULL.
        aggs = [
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
        aggs = [
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
        aggs = [f"{fn} AS _fs"]
        res = "_fs"
    if nodata is not None:
        # reference parity (_moving.pyx: 'if npy_isnan(res): return
        # nodata'): an all-nodata window refills with the nodata value
        # instead of emitting NULL
        res = f"coalesce({res}, {sql_double(nodata)})"

    return neighbour_aggregate(
        docs, grid, hw, f"IF({skip}, NULL, {v})", taps, aggs,
        [f"{res} AS `{out}`"], keep,
        weights=list(window_weights(w).ravel()) if weights else None,
    )
