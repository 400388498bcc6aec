"""Pure-numpy grid kernel library — the H3/S2 stand-in for a fixed affine grid.

This is the single source of truth for all spatial math in the engine:
affine encode/decode, Z-order cell ids, tile keys, k-ring neighborhoods,
bbox→tile cover, ray-casting point-in-polygon over Arrow-packed rings, the
scanline polygon cover kernel every polygon → cells operator uses, and
the grid-alignment arithmetic the reference pins in its tests.

Reference parity notes (all paths cite /root/reference):
- coords→indices truncates after the inverse affine, matching
  ``src/geowombat/core/conversion.py:164-203`` (``np.int64`` truncation).
- cell centers are origin + (index+0.5)*res, matching
  ``src/geowombat/core/util.py:533-536``.
- ``align_bounds`` replicates ``src/geowombat/backends/rasterio_.py:633-664``
  (floor of extent/res, then rasterio ``aligned_target`` floor/ceil snap and
  *round* — not truncate — of the final width/height; golden:
  ``tests/test_rasterio.py:28-55`` res=1.67 ⇒ left=-100.19999999999999).
- polygon sampling uses a *polygon-local* grid with origin at (minx, maxy)
  and truncated shape, matching ``src/geowombat/core/util.py:269-295``;
  sample order is row-major (``np.where`` order,
  ``src/geowombat/core/util.py:533-536``).

Everything here is vectorized numpy so it runs unchanged on the driver or
inside Arrow-batched pandas UDFs on executors — no per-row Python. The
DataFrame-side cell encoder (:func:`encode_cells`, with
:func:`with_zorder_column` and :meth:`GridSpec.tile_id_expr`) is the SQL
twin of the numpy encode, run in the JVM.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

__all__ = [
    "GridSpec",
    "L8_GRID",
    "coords_to_rowcol",
    "rowcol_to_center_coords",
    "zorder_encode",
    "zorder_decode",
    "with_zorder_column",
    "encode_cells",
    "sql_double",
    "hilbert_encode",
    "hilbert_decode",
    "with_hilbert_column",
    "kring_offsets",
    "kring_cells",
    "point_in_rings",
    "polygon_local_grid",
    "polygon_cover_runs",
    "merge_runs",
    "paint_runs",
    "runs_to_cells",
    "polygon_sample_centers",
    "align_bounds",
    "window_from_bounds",
    "unpack_bounding_box",
    "unpack_window",
    "window_to_bounds",
    "bbox_cover_tiles",
]


# ---------------------------------------------------------------------------
# Grid specification
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GridSpec:
    """A fixed affine grid: the engine's analogue of an H3/S2 indexing system.

    ``left``/``top`` are the *corner* (not center) of cell (0, 0); ``celly``
    is stored positive (the forward transform uses -celly), matching the
    reference transform ``(cellx, 0, left, 0, -celly, top)``
    (``src/geowombat/core/properties.py:967-975``).
    """

    left: float
    top: float
    cellx: float
    celly: float
    nrows: int
    ncols: int
    tile_rows: int = 512
    tile_cols: int = 512
    crs: str = "EPSG:32621"
    nodata: float = 0.0

    @property
    def right(self) -> float:
        return self.left + self.ncols * self.cellx

    @property
    def bottom(self) -> float:
        return self.top - self.nrows * self.celly

    @property
    def tiles_x(self) -> int:
        return -(-self.ncols // self.tile_cols)

    @property
    def tiles_y(self) -> int:
        return -(-self.nrows // self.tile_rows)

    def tile_id(self, row: np.ndarray, col: np.ndarray) -> np.ndarray:
        """Partition key: row-major tile index."""
        return (
            np.asarray(row, dtype=np.int64) // self.tile_rows
        ) * self.tiles_x + np.asarray(col, dtype=np.int64) // self.tile_cols

    def tile_id_expr(self, row: str = "row", col: str = "col") -> str:
        """SQL twin of :meth:`tile_id` (``div`` truncates toward zero, so it
        equals the floor division for the non-negative indices a grid
        holds)."""
        return (
            f"(`{row}` div {self.tile_rows}) * {self.tiles_x}"
            f" + `{col}` div {self.tile_cols}"
        )

    def as_dict(self) -> dict:
        """Plain-dict form for shipping into UDF closures (small, picklable)."""
        return {
            "left": self.left,
            "top": self.top,
            "cellx": self.cellx,
            "celly": self.celly,
            "nrows": self.nrows,
            "ncols": self.ncols,
            "tile_rows": self.tile_rows,
            "tile_cols": self.tile_cols,
            "crs": self.crs,
            "nodata": self.nodata,
        }


#: The synthetic stand-in for the reference's ``l8_224078_20200518`` grid
#: (FIXTURES.md §1: 30 m, EPSG:32621, 2048×2048, covers all 6 AOI points).
L8_GRID = GridSpec(
    left=717585.0,
    top=-2776995.0,
    cellx=30.0,
    celly=30.0,
    nrows=2048,
    ncols=2048,
)


# ---------------------------------------------------------------------------
# Affine encode / decode
# ---------------------------------------------------------------------------


def coords_to_rowcol(
    grid: GridSpec, x: np.ndarray, y: np.ndarray, clamp: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Map coords → (row, col) int64 indices.

    Truncates toward zero after the inverse affine, matching the reference's
    ``np.int64(~transform * (x, y))`` (``conversion.py:201-203``). With
    ``clamp=True``, out-of-range indices are clamped into the grid, matching
    the extract clamp (``src/geowombat/core/sops.py:836-844``).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    col = ((x - grid.left) / grid.cellx).astype(np.int64)
    row = ((grid.top - y) / grid.celly).astype(np.int64)
    if clamp:
        col = np.clip(col, 0, grid.ncols - 1)
        row = np.clip(row, 0, grid.nrows - 1)
    return row, col


def sql_double(x: float) -> str:
    """``x`` as an exact Spark SQL double literal."""
    x = float(x)
    return f"{x!r}D" if np.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def _clamped_index_sql(q: str, n: int) -> str:
    """SQL for ``clip(q.astype(int64), 0, n - 1)``. numpy casts NaN, ±inf
    and any ``|q| >= 2^63`` to INT64_MIN, which the clip maps to 0, where
    an ANSI ``CAST`` would raise; the guard sends those (and NULL) to 0."""
    lim = sql_double(2.0**63)
    return (
        f"CASE WHEN {q} > -{lim} AND {q} < {lim}"
        f" THEN least(greatest(CAST({q} AS BIGINT), 0), {n - 1}) ELSE 0 END"
    )


def encode_cells(df, grid: GridSpec, x: str = "x", y: str = "y"):
    """Executor-side cell encoding, all in the JVM: adds bigint ``row``,
    ``col`` (:func:`coords_to_rowcol` with ``clamp=True``, bit for bit),
    the Z-order ``cell_id`` and the ``tile_id`` partition key. A NULL
    coordinate encodes to index 0, as a NaN does."""
    from pyspark.sql import functions as F

    qc = f"((`{x}` - {sql_double(grid.left)}) / {sql_double(grid.cellx)})"
    qr = f"(({sql_double(grid.top)} - `{y}`) / {sql_double(grid.celly)})"
    df = df.withColumns(
        {
            "row": F.expr(_clamped_index_sql(qr, grid.nrows)),
            "col": F.expr(_clamped_index_sql(qc, grid.ncols)),
        }
    )
    return with_zorder_column(df).withColumn("tile_id", F.expr(grid.tile_id_expr()))


def rowcol_to_center_coords(
    grid: GridSpec, row: np.ndarray, col: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) → cell-center coords (``util.py:533-536`` half-cell shift)."""
    row = np.asarray(row, dtype=np.float64)
    col = np.asarray(col, dtype=np.float64)
    x = grid.left + (col + 0.5) * grid.cellx
    y = grid.top - (row + 0.5) * grid.celly
    return x, y


def coords_to_indices(
    x: np.ndarray, y: np.ndarray, grid: GridSpec
) -> tuple[np.ndarray, np.ndarray]:
    """Reference-parity wrapper (``conversion.py:165-203``): returns
    ``(j, i)`` = (col, row) int64, truncation semantics of
    :func:`coords_to_rowcol`."""
    row, col = coords_to_rowcol(grid, x, y)
    return col, row


def indices_to_coords(
    col: np.ndarray, row: np.ndarray, grid: GridSpec
) -> tuple[np.ndarray, np.ndarray]:
    """Reference-parity wrapper (``conversion.py:126-162``):
    ``transform * (j, i)`` — the cell's TOP-LEFT corner (the reference does
    not half-cell shift here; centers come from
    :func:`rowcol_to_center_coords`)."""
    col = np.asarray(col, dtype=np.float64)
    row = np.asarray(row, dtype=np.float64)
    return grid.left + col * grid.cellx, grid.top - row * grid.celly


# ---------------------------------------------------------------------------
# Z-order (Morton) cell ids — the packed spatial key
# ---------------------------------------------------------------------------


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each value to even bit positions."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def zorder_encode(row: np.ndarray, col: np.ndarray) -> np.ndarray:
    """Interleave (row, col) into a Z-order int64 cell id.

    Z-order keeps spatially-near cells numerically near, so range scans over
    ``cell_id`` touch few tiles and sort-within-partition write locality is
    preserved — the flat-grid analogue of H3/S2 hierarchical ids.
    """
    r = np.asarray(row, dtype=np.int64)
    c = np.asarray(col, dtype=np.int64)
    return ((_part1by1(r.astype(np.uint64)) << np.uint64(1)) | _part1by1(c.astype(np.uint64))).astype(np.int64)


def with_zorder_column(df, out: str = "cell_id", row_col: str = "row", col_col: str = "col"):
    """Add ``zorder_encode(row, col)`` as a column computed entirely JVM-side
    (shift/mask chain inside whole-stage codegen — no UDF on the corpus
    generation / re-keying hot path). Valid for row/col < 2^31.

    Implemented as chained intermediate columns so the generated expression
    tree stays linear in the number of mask levels.
    """
    from pyspark.sql import functions as F

    masks = (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    )
    for name, src in (("__gw_zr", row_col), ("__gw_zc", col_col)):
        e = F.col(src).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
        df = df.withColumn(name, e)
        for shift, mask in masks:
            df = df.withColumn(
                name,
                (
                    F.col(name).bitwiseOR(F.shiftleft(F.col(name), shift))
                ).bitwiseAND(F.lit(mask)),
            )
    df = df.withColumn(out, F.shiftleft(F.col("__gw_zr"), 1).bitwiseOR(F.col("__gw_zc")))
    return df.drop("__gw_zr", "__gw_zc")


def zorder_decode(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`zorder_encode` → (row, col)."""
    z = np.asarray(cell_id, dtype=np.int64).astype(np.uint64)
    col = _unpart1by1(z)
    row = _unpart1by1(z >> np.uint64(1))
    return row.astype(np.int64), col.astype(np.int64)


# ---------------------------------------------------------------------------
# k-ring neighborhoods (the kNN candidate generator)
# ---------------------------------------------------------------------------


def kring_offsets(k: int) -> np.ndarray:
    """(2k+1)² array of (drow, dcol) offsets within Chebyshev distance k."""
    d = np.arange(-k, k + 1, dtype=np.int64)
    dr, dc = np.meshgrid(d, d, indexing="ij")
    return np.stack([dr.ravel(), dc.ravel()], axis=1)


def kring_cells(
    grid: GridSpec, row: np.ndarray, col: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Expand each (row, col) to its k-ring.

    Returns (origin_index, nrow, ncol) with out-of-grid neighbors dropped.
    ``origin_index`` maps each emitted neighbor back to its source point.
    This is the candidate-pair generator for kNN / min-dist thinning
    (reference semantics: ``src/geowombat/core/sops.py:56-81``).
    """
    row = np.asarray(row, dtype=np.int64)
    col = np.asarray(col, dtype=np.int64)
    offs = kring_offsets(k)
    n, m = row.shape[0], offs.shape[0]
    origin = np.repeat(np.arange(n, dtype=np.int64), m)
    nrow = np.repeat(row, m) + np.tile(offs[:, 0], n)
    ncol = np.repeat(col, m) + np.tile(offs[:, 1], n)
    ok = (nrow >= 0) & (nrow < grid.nrows) & (ncol >= 0) & (ncol < grid.ncols)
    return origin[ok], nrow[ok], ncol[ok]


# ---------------------------------------------------------------------------
# Point-in-polygon: even-odd ray casting over Arrow-packed rings
# ---------------------------------------------------------------------------


def _ring_edges(rings: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """``(x1, y1, x2, y2)`` of every edge of every ring, each ring closed."""
    edges = [np.empty((0, 4))]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        if r.shape[0] and (r[0] != r[-1]).any():
            r = np.vstack([r, r[:1]])
        edges.append(np.hstack([r[:-1], r[1:]]))
    return tuple(np.concatenate(edges).T)


def point_in_rings(
    px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd ray-cast PIP for N points against one polygon.

    ``rings`` is a list of flat-packed coordinate arrays
    ``[x0, y0, x1, y1, ...]`` (exterior first, holes after) — the
    Arrow-friendly ``array<array<double>>`` layout from FIXTURES.md §5.

    Crossing rule: an edge (x1,y1)→(x2,y2) crosses the rightward ray from
    (px,py) iff ``(y1 > py) != (y2 > py)`` and
    ``px < (x2-x1)·(py-y1)/(y2-y1) + x1``. This is the standard even-odd
    rule; holes naturally flip parity. Fully vectorized (N × E broadcast).

    The identical arithmetic is used in the SQL oracles (see
    ``__spark_entry__.py``) and in :func:`polygon_cover_runs`, so all
    three agree bit-for-bit; this per-point form is the kernel's test
    reference.
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1, y1, x2, y2 = _ring_edges(rings)
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    return ((straddle & (px < xint)).sum(axis=1) % 2).astype(bool)


# ---------------------------------------------------------------------------
# Polygon → cells: local grid, any-touch tests, the scanline cover kernel
# ---------------------------------------------------------------------------


def polygon_local_grid(
    minx: float, miny: float, maxx: float, maxy: float, resx: float, resy: float
) -> tuple[int, int]:
    """(nrows, ncols) of the polygon-local grid.

    Truncated (NOT rounded) shape with origin at (minx, maxy) — reference
    ``get_geometry_info`` (``src/geowombat/core/util.py:269-295``).
    """
    return int((maxy - miny) / resy), int((maxx - minx) / resx)


def _segment_touches_rect(cx, cy, hx, hy, x1, y1, x2, y2) -> np.ndarray:
    """Separating-axis test, elementwise: the closed segment meets the closed
    rect iff x-extents overlap, y-extents overlap, and the rect straddles
    the support line (``|n·(c-p1)| ≤ hx·|nx| + hy·|ny|``, n the normal)."""
    ox = (np.minimum(x1, x2) <= cx + hx) & (np.maximum(x1, x2) >= cx - hx)
    oy = (np.minimum(y1, y2) <= cy + hy) & (np.maximum(y1, y2) >= cy - hy)
    nx, ny = -(y2 - y1), x2 - x1
    straddle = np.abs(nx * (cx - x1) + ny * (cy - y1)) <= (
        hx * np.abs(nx) + hy * np.abs(ny)
    )
    return ox & oy & straddle


def rects_touch_rings(
    cx: np.ndarray,
    cy: np.ndarray,
    hx: float,
    hy: float,
    rings: list[np.ndarray],
) -> np.ndarray:
    """Per-cell "boundary touches cell rect" mask, brute force over cells ×
    edges. ``point_in_rings | rects_touch_rings`` over a whole lattice is
    the reference definition of ``all_touched`` that
    :func:`polygon_cover_runs` is tested against; no operator calls it."""
    x1, y1, x2, y2 = _ring_edges(rings)
    cx = np.asarray(cx, dtype=np.float64)[:, None]
    cy = np.asarray(cy, dtype=np.float64)[:, None]
    return _segment_touches_rect(cx, cy, hx, hy, x1, y1, x2, y2).any(axis=1)


def segment_supercover(
    c0: float, r0: float, c1: float, r1: float
) -> set[tuple[int, int]]:
    """All grid cells a segment touches (supercover DDA).

    Coordinates are continuous local cell units: cell (row, col) spans
    ``col ≤ c < col+1``, ``row ≤ r < row+1``. Exact lattice-corner
    crossings conservatively include both side-adjacent cells (GDAL's
    any-touch counts a corner graze as touched). The ``all_touched``
    candidate generator of :func:`polygon_cover_runs`.
    """
    cc, cr = math.floor(c0), math.floor(r0)
    ec, er = math.floor(c1), math.floor(r1)
    cells = {(cr, cc)}
    dc, dr = c1 - c0, r1 - r0
    step_c = 1 if dc > 0 else -1
    step_r = 1 if dr > 0 else -1

    def t_next(p, cp, d, step):
        if d == 0:
            return math.inf
        boundary = cp + (1 if step > 0 else 0)
        return (boundary - p) / d

    t_max_c = t_next(c0, cc, dc, step_c)
    t_max_r = t_next(r0, cr, dr, step_r)
    t_delta_c = abs(1.0 / dc) if dc != 0 else math.inf
    t_delta_r = abs(1.0 / dr) if dr != 0 else math.inf
    # Terminate on the segment PARAMETER (t ≤ 1), not on reaching the end
    # cell index: when an endpoint sits one ulp off a lattice corner
    # (inevitable after (x - minx)/res with non-binary-exact resolutions),
    # t_max_c and t_max_r differ by ~1 ulp, the walk side-steps the exact
    # end index, and a `(cc, cr) != (ec, er)` condition free-runs past the
    # segment marking spurious cells until a guard trips (observed: whole
    # rows of phantom all_touched cells with res=0.7). Crossings strictly
    # inside the segment have t < 1, so the t-bound can never overshoot;
    # the one cell it can miss to fp UNDERSHOOT is the end cell, added
    # unconditionally after the loop (the endpoint always touches it).
    guard = 4 * (abs(ec - cc) + abs(er - cr)) + 16
    while min(t_max_c, t_max_r) <= 1.0 and guard > 0:
        guard -= 1
        if t_max_c < t_max_r:
            cc += step_c
            t_max_c += t_delta_c
        elif t_max_r < t_max_c:
            cr += step_r
            t_max_r += t_delta_r
        else:  # exact corner crossing: both side neighbors are grazed
            cells.add((cr, cc + step_c))
            cells.add((cr + step_r, cc))
            cc += step_c
            cr += step_r
            t_max_c += t_delta_c
            t_max_r += t_delta_r
        cells.add((cr, cc))
    cells.add((er, ec))
    return cells


def _ramp(start: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(start[i], start[i] + n[i])`` over i."""
    n = np.asarray(n, dtype=np.int64)
    offs = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
    return np.repeat(np.asarray(start, dtype=np.int64), n) + offs


def merge_runs(runs: np.ndarray) -> np.ndarray:
    """Union of half-open ``(row, col_start, col_end)`` runs → disjoint,
    row-major runs, touching runs fused."""
    runs = np.asarray(runs, dtype=np.int64).reshape(-1, 3)
    runs = runs[runs[:, 1] < runs[:, 2]]
    if runs.shape[0] == 0:
        return runs
    # each row owns a band of width w on one key line, so a running max
    # of run ends never leaks into the next row
    w = runs[:, 2].max() - runs[:, 1].min() + 1
    base = (runs[:, 0] - runs[:, 0].min()) * w - runs[:, 1].min()
    order = np.argsort(base + runs[:, 1], kind="stable")
    runs, base = runs[order], base[order]
    reach = np.maximum.accumulate(base + runs[:, 2])
    head = np.flatnonzero(np.r_[True, base[1:] + runs[1:, 1] > reach[:-1]])
    last = np.r_[head[1:], runs.shape[0]] - 1
    return np.stack([runs[head, 0], runs[head, 1], reach[last] - base[last]], axis=1)


def paint_runs(features: list[np.ndarray]) -> np.ndarray:
    """Overlay of the features' half-open ``(row, col_start, col_end)``
    runs in which the later feature wins each cell (GDAL rasterize
    semantics) → disjoint row-major ``(row, col_start, col_end, feature)``
    runs, ``feature`` the index into ``features``.

    The run boundaries, keyed on one line as in :func:`merge_runs`, cut
    each row into elementary segments; every run paints its segments
    with ``np.maximum.at`` of the feature index, so no cell is expanded.
    A segment holds at least one cell, so the work never exceeds that of
    expanding the cells."""
    owner = np.repeat(np.arange(len(features)), [f.shape[0] for f in features])
    runs = np.concatenate([np.empty((0, 3), dtype=np.int64), *features])
    if runs.shape[0] == 0:
        return np.empty((0, 4), dtype=np.int64)
    rmin, cmin = runs[:, 0].min(), runs[:, 1].min()
    w = runs[:, 2].max() - cmin + 1
    base = (runs[:, 0] - rmin) * w - cmin
    keys = np.unique(np.concatenate([base + runs[:, 1], base + runs[:, 2]]))
    lo = np.searchsorted(keys, base + runs[:, 1])
    n = np.searchsorted(keys, base + runs[:, 2]) - lo
    # segment i spans keys[i]..keys[i+1]; only a row's own runs paint it
    top = np.full(keys.shape[0] - 1, -1, dtype=np.int64)
    np.maximum.at(top, _ramp(lo, n), np.repeat(owner, n))
    seg = np.flatnonzero(top >= 0)
    row, c0 = np.divmod(keys[seg], w)
    return np.stack(
        [row + rmin, c0 + cmin, c0 + cmin + keys[seg + 1] - keys[seg], top[seg]], axis=1
    )


def runs_to_cells(runs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Expand runs to (row, col) arrays, in run order."""
    runs = np.asarray(runs, dtype=np.int64).reshape(-1, 3)
    n = runs[:, 2] - runs[:, 1]
    return np.repeat(runs[:, 0], n), _ramp(runs[:, 1], n)


def polygon_cover_runs(
    rings: list[np.ndarray],
    resx: float,
    resy: float,
    all_touched: bool = False,
    anchor: tuple[float, float] | None = None,
) -> tuple[float, float, np.ndarray]:
    """The one polygon → cells kernel (Raptor-style scanline, VLDB 2019)
    behind clip(mask_data), mask, recode, polygon extract and rasterize.

    Returns ``(ox, oy, runs)``: the lattice origin and disjoint row-major
    half-open int64 runs ``(row, col_start, col_end)``; cell (row, col) has
    centre ``(ox + (col+0.5)·resx, oy - (row+0.5)·resy)``. ``anchor=None``
    is the bbox-local ``sample_feature`` lattice (origin (minx, maxy),
    truncated shape, runs clipped to it); ``anchor=(grid.left, grid.top)``
    is the reference grid itself (rows/cols are grid indices, unclipped).

    Centre-in (GDAL default): each row's centre y is crossed with every
    edge by the exact :func:`point_in_rings` arithmetic, and the paired
    crossings are ``searchsorted`` against the column centres — equal to
    ``point_in_rings`` at every centre. ``all_touched`` adds each cell
    whose closed rect meets an edge (the edge's :func:`segment_supercover`
    cells dilated by one, kept by that edge's separating-axis test) —
    equal to ``point_in_rings | rects_touch_rings``. Cost O(crossings +
    boundary cells), no cells × edges product.
    """
    x1, y1, x2, y2 = _ring_edges(rings)
    empty = np.empty((0, 3), dtype=np.int64)
    if x1.shape[0] == 0:
        return 0.0, 0.0, empty
    minx, maxx = float(x1.min()), float(x1.max())
    miny, maxy = float(y1.min()), float(y1.max())
    if anchor is None:
        ox, oy = minx, maxy
        nrows, ncols = polygon_local_grid(minx, miny, maxx, maxy, resx, resy)
        r0, r1, c0, c1 = 0, nrows, 0, ncols
    else:
        ox, oy = float(anchor[0]), float(anchor[1])
        pad = int(all_touched)  # any-touch reaches one cell past the bbox
        c0 = math.floor((minx - ox) / resx) - pad
        c1 = math.floor((maxx - ox) / resx) + 1 + pad
        r0 = math.floor((oy - maxy) / resy) - pad
        r1 = math.floor((oy - miny) / resy) + 1 + pad
    if r1 <= r0 or c1 <= c0:
        return ox, oy, empty
    row_cy = oy - (np.arange(r0, r1) + 0.5) * resy
    col_cx = ox + (np.arange(c0, c1) + 0.5) * resx

    # (edge, row) pairs over each edge's row span plus one row of slack
    # either side; the exact straddle test decides
    lr1, lr2 = (oy - y1) / resy - 0.5, (oy - y2) / resy - 0.5
    lo = np.clip(np.floor(np.minimum(lr1, lr2)).astype(np.int64), r0, r1)
    n = np.clip(np.floor(np.maximum(lr1, lr2)).astype(np.int64) + 2, r0, r1) - lo
    e = np.repeat(np.arange(x1.shape[0]), n)
    row = _ramp(lo, n)
    py = row_cy[row - r0]
    hit = (y1[e] > py) != (y2[e] > py)
    e, row, py = e[hit], row[hit], py[hit]
    xint = (x2 - x1)[e] * (py - y1[e]) / (y2 - y1)[e] + x1[e]
    # closed rings straddle each row an even number of times, so the sorted
    # crossings pair as (enter, leave): px inside iff enter <= px < leave
    order = np.lexsort((xint, row))
    first = np.searchsorted(col_cx, xint[order]) + c0  # first col at/after
    runs = np.stack([row[order][0::2], first[0::2], first[1::2]], axis=1)
    if not all_touched:
        return ox, oy, runs[runs[:, 1] < runs[:, 2]]

    lc1, lc2 = (x1 - ox) / resx, (x2 - ox) / resx
    lr1, lr2 = (oy - y1) / resy, (oy - y2) / resy
    walk = np.array(
        [(i, r, c) for i in range(x1.shape[0])
         for r, c in segment_supercover(lc1[i], lr1[i], lc2[i], lr2[i])]
    )
    # dilate by one cell: the 3x3 block around every walked cell
    offs = np.tile(kring_offsets(1), (walk.shape[0], 1))
    e = np.repeat(walk[:, 0], 9)
    r = np.repeat(walk[:, 1], 9) + offs[:, 0]
    c = np.repeat(walk[:, 2], 9) + offs[:, 1]
    ok = (r >= r0) & (r < r1) & (c >= c0) & (c < c1)
    e, r, c = e[ok], r[ok], c[ok]
    hit = _segment_touches_rect(
        ox + (c + 0.5) * resx, oy - (r + 0.5) * resy, resx / 2.0, resy / 2.0,
        x1[e], y1[e], x2[e], y2[e],
    )
    touched = np.stack([r[hit], c[hit], c[hit] + 1], axis=1)
    return ox, oy, merge_runs(np.concatenate([runs, touched]))


def polygon_sample_centers(
    rings: list[np.ndarray],
    resx: float,
    resy: float,
    all_touched: bool = False,
    anchor: tuple[float, float] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Sample-point centers for a polygon, row-major order: the cells of
    :func:`polygon_cover_runs`, expanded.

    ``anchor=None`` replicates ``sample_feature``
    (``src/geowombat/core/util.py:472-573``): bbox-local lattice, centre-in
    (GDAL's default) — the EXTRACT sampling semantics.
    ``anchor=(grid.left, grid.top)`` gives reference-grid cell centers, what
    GDAL ``features.rasterize`` tests (``conversion.py:570-833``).
    ``all_touched=True`` is GDAL's exact any-touch predicate: a cell is in
    iff the polygon intersects its closed rectangle.
    """
    ox, oy, runs = polygon_cover_runs(rings, resx, resy, all_touched, anchor)
    row, col = runs_to_cells(runs)
    return ox + (col + 0.5) * resx, oy - (row + 0.5) * resy


# ---------------------------------------------------------------------------
# Bounds / window arithmetic (golden-pinned)
# ---------------------------------------------------------------------------


def align_bounds(
    minx: float, miny: float, maxx: float, maxy: float, res
) -> tuple[tuple[float, float, float, float, float, float], int, int]:
    """Align bounds to a resolution.

    Returns (affine_6tuple, width, height) where the affine tuple is
    ``(xres, 0, left, 0, -yres, top)``. Replicates the reference chain
    ``align_bounds`` → rasterio ``aligned_target``
    (``src/geowombat/backends/rasterio_.py:633-664``): floor the raw extent
    to whole cells, snap the origin to floor/ceil multiples of res, and
    **round** (not truncate) the final width/height — golden values in
    ``tests/test_rasterio.py:28-55`` and the 1e-10-short-bounds regression
    in ``tests/test_bounds_rounding.py:20-58``.
    """
    if isinstance(res, (int, float)):
        res = (float(res), float(res))
    xres, yres = float(res[0]), float(res[1])

    new_height = int(math.floor((maxy - miny) / yres))
    new_width = int(math.floor((maxx - minx) / xres))

    # rasterio.warp.aligned_target equivalent
    xmin = minx
    ymax = maxy
    xmax = minx + new_width * xres
    ymin = maxy - new_height * yres
    xmin = math.floor(xmin / xres) * xres
    xmax = math.ceil(xmax / xres) * xres
    ymin = math.floor(ymin / yres) * yres
    ymax = math.ceil(ymax / yres) * yres
    width = max(int(round((xmax - xmin) / xres)), 1)
    height = max(int(round((ymax - ymin) / yres)), 1)
    transform = (xres, 0.0, xmin, 0.0, -yres, ymax)
    return transform, width, height


def bounds_to_shape(
    minx: float, miny: float, maxx: float, maxy: float, res
) -> tuple[int, int]:
    """(width, height) of a bounds extent — the *open-path* arithmetic.

    Uses ``int(round(...))``, NOT floor: the reference's issue-#325 fix
    (``src/geowombat/backends/rasterio_.py:763-764``) so bounds that are
    1e-10 short of a whole cell still produce the full dimension
    (``tests/test_bounds_rounding.py:20-58``).
    """
    if isinstance(res, (int, float)):
        res = (float(res), float(res))
    xres, yres = float(res[0]), float(res[1])
    width = int(round((maxx - minx) / xres))
    height = int(round((maxy - miny) / yres))
    return width, height


def window_from_bounds(
    minx: float, miny: float, maxx: float, maxy: float, res
) -> tuple[float, float, float, float]:
    """(row_off, col_off, height, width) of a bbox window under a
    corner-anchored transform at (minx, maxy) — reference
    ``get_window_from_bounds`` (``src/geowombat/backends/rasterio_.py:63-69``);
    golden 20×20 in ``tests/test_rasterio.py:57-65``. Float, not rounded
    (rasterio returns float windows)."""
    if isinstance(res, (int, float)):
        res = (float(res), float(res))
    xres, yres = float(res[0]), float(res[1])
    col_off = 0.0
    row_off = 0.0
    width = (maxx - minx) / xres
    height = (maxy - miny) / yres
    return row_off, col_off, height, width


def unpack_bounding_box(bounds: str) -> tuple[float, float, float, float]:
    """Parse a ``'BoundingBox(left=..., bottom=..., right=..., top=...)'``
    repr string back to ``(left, bottom, right, top)`` floats — reference
    ``unpack_bounding_box`` (``src/geowombat/backends/rasterio_.py:562-584``;
    golden ``tests/test_rasterio.py:115-124``). Field order in the string is
    free; unknown fields are ignored, missing fields raise ``ValueError``."""
    vals: dict[str, float] = {}
    for part in bounds.replace("BoundingBox(", "").split(","):
        part = part.strip().rstrip(")")
        if "=" in part:
            key, _, raw = part.partition("=")
            vals[key.strip()] = float(raw)
    try:
        return vals["left"], vals["bottom"], vals["right"], vals["top"]
    except KeyError as exc:  # pragma: no cover - caller error
        raise ValueError(f"malformed BoundingBox string: {bounds!r}") from exc


def unpack_window(window: str) -> tuple[int, int, int, int]:
    """Parse a ``'Window(col_off=..., row_off=..., width=..., height=...)'``
    repr string back to ``(row_off, col_off, height, width)`` ints — the
    (row, col, height, width) order every windowed op here uses. Reference
    ``unpack_window`` (``src/geowombat/backends/rasterio_.py:586-608``;
    golden ``tests/test_rasterio.py:126-130``). Fractional values (which
    ``Window.from_bounds`` reprs routinely carry, e.g. ``col_off=3.5``)
    raise ``ValueError`` like the reference's bare ``int(str)`` does —
    silently truncating toward zero would shift the window by up to one
    pixel and misregister every read built on it."""
    vals: dict[str, int] = {}
    for part in window.replace("Window(", "").split(","):
        part = part.strip().rstrip(")")
        if "=" in part:
            key, _, raw = part.partition("=")
            f = float(raw)
            if f != int(f):
                raise ValueError(
                    f"unpack_window: non-integer {key.strip()}={raw.strip()} "
                    f"in {window!r} — round the window explicitly first"
                )
            vals[key.strip()] = int(f)
    try:
        return vals["row_off"], vals["col_off"], vals["height"], vals["width"]
    except KeyError as exc:  # pragma: no cover - caller error
        raise ValueError(f"malformed Window string: {window!r}") from exc


def window_to_bounds(
    grid: GridSpec,
    row_off: int,
    col_off: int,
    height: int,
    width: int,
) -> tuple[float, float, float, float]:
    """Bounds ``(left, bottom, right, top)`` of a pixel window on ``grid`` —
    reference ``window_to_bounds`` (``src/geowombat/backends/rasterio_.py:
    610-630``; golden ``tests/test_rasterio.py:132-151``): left/top from the
    forward affine at the window origin, right/bottom by extent arithmetic
    with ``abs(res)`` (so it is correct for north-up grids regardless of the
    sign convention carried in the transform)."""
    left = grid.left + col_off * grid.cellx
    top = grid.top - row_off * grid.celly
    right = left + width * abs(grid.cellx)
    bottom = top - height * abs(grid.celly)
    return left, bottom, right, top


def round_window(
    grid: GridSpec,
    minx: float,
    miny: float,
    maxx: float,
    maxy: float,
    expand_by: int = 0,
) -> tuple[int, int, int, int]:
    """Snap a bbox to grid cells → (row0, row1, col0, col1) half-open,
    clamped to the grid, optionally expanded by whole cells
    (``gw.clip_by_polygon(expand_by=...)``,
    ``src/geowombat/core/sops.py:951-984``)."""
    col0 = int(math.floor((minx - grid.left) / grid.cellx)) - expand_by
    col1 = int(math.ceil((maxx - grid.left) / grid.cellx)) + expand_by
    row0 = int(math.floor((grid.top - maxy) / grid.celly)) - expand_by
    row1 = int(math.ceil((grid.top - miny) / grid.celly)) + expand_by
    return (
        max(row0, 0),
        min(row1, grid.nrows),
        max(col0, 0),
        min(col1, grid.ncols),
    )


def bbox_cover_tiles(
    grid: GridSpec, minx: float, miny: float, maxx: float, maxy: float
) -> list[int]:
    """Tile ids whose extent intersects the bbox — the driver-side
    partition-pruning list (reference analogue: R-tree ``sindex``
    candidate pruning, ``src/geowombat/core/conversion.py:667-694``)."""
    row0, row1, col0, col1 = round_window(grid, minx, miny, maxx, maxy)
    if row0 >= row1 or col0 >= col1:
        return []
    t0r, t1r = row0 // grid.tile_rows, (row1 - 1) // grid.tile_rows
    t0c, t1c = col0 // grid.tile_cols, (col1 - 1) // grid.tile_cols
    return [
        int(tr * grid.tiles_x + tc)
        for tr in range(t0r, t1r + 1)
        for tc in range(t0c, t1c + 1)
    ]


# ---------------------------------------------------------------------------
# Hilbert curve (the north rule's "fixed Hilbert/H3 grid" ordering)
# ---------------------------------------------------------------------------
#
# Z-order (above) is the cheap spatial key; the Hilbert curve improves on it
# for write locality and range scans: consecutive indices are ALWAYS
# 4-neighbors (no Z-order "jumps" across quadrant seams), so sorting tiles by
# Hilbert index before the sink write clusters spatially adjacent tiles into
# the same files — better parquet data-skipping for bbox queries at scale.
# Classic iterative xy2d/d2xy (Hamilton 2006 / Wikipedia "Hilbert curve"),
# vectorized for kernels and unrolled into staged Columns for the JVM path.


def hilbert_encode(row, col, order: int = 16):
    """(row, col) → Hilbert distance on a 2^order × 2^order grid
    (vectorized numpy; int64)."""
    x = np.asarray(col, dtype=np.int64).copy()
    y = np.asarray(row, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        s >>= 1
    return d


def hilbert_decode(d, order: int = 16):
    """Inverse of :func:`hilbert_encode` → (row, col)."""
    t = np.asarray(d, dtype=np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = np.int64(1)
    n = np.int64(1) << order
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        swap = ry == 0
        flip = swap & (rx == 1)
        xf = np.where(flip, s - 1 - x, x)
        yf = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
        x = x + s * rx
        y = y + s * ry
        t = t // 4
        s <<= 1
    return y, x


def with_hilbert_column(
    df, order: int = 16, out: str = "hilbert_id",
    row_col: str = "row", col_col: str = "col",
):
    """Add the Hilbert index as a pure-JVM column (no UDF): the per-bit
    rotation loop is unrolled into ``order`` staged withColumn levels, so
    each projection stays small and whole-stage codegen applies (the same
    staging discipline as :func:`with_zorder_column`)."""
    from pyspark.sql import functions as F

    df = df.withColumns(
        {
            "__gw_hx": F.col(col_col).cast("long"),
            "__gw_hy": F.col(row_col).cast("long"),
            out: F.lit(0).cast("long"),
        }
    )
    # one withColumns per bit level: every expression reads the previous
    # level's columns, so each Project stays a handful of nodes
    for level in range(order - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(F.col("__gw_hx"), level).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__gw_hy"), level).bitwiseAND(F.lit(1))
        swap = ry == 0
        flip = swap & (rx == 1)
        xf = F.when(flip, F.lit(s - 1) - F.col("__gw_hx")).otherwise(F.col("__gw_hx"))
        yf = F.when(flip, F.lit(s - 1) - F.col("__gw_hy")).otherwise(F.col("__gw_hy"))
        df = df.withColumns(
            {
                out: F.col(out)
                + F.lit(s * s).cast("long")
                * (F.lit(3) * rx).bitwiseXOR(ry).cast("long"),
                "__gw_hx": F.when(swap, yf).otherwise(xf),
                "__gw_hy": F.when(swap, xf).otherwise(yf),
            }
        )
    return df.drop("__gw_hx", "__gw_hy")
