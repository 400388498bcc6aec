"""gw.extract — the flagship raster↔vector join, Spark-first.

Reference pipeline (``/root/reference/src/geowombat/core/sops.py:689-909``):
AOI prep (reproject/clip, ``conversion.py:338-436``) → ``coords_to_indices``
→ clamp (``sops.py:836-844``) → fancy-gather → band columns (multi-time
columns named ``f'{t}_{b}'``, ``sops.py:872-907``).

Spark shape: encode AOI coords → ``cell_id`` on the driver (numpy: the
tile ids must be known before any job runs; ``grid.encode_cells`` is the
JVM twin for DataFrames) →
**tile-pruned scan** of the documents table → broadcast equi-join on
``cell_id`` → pivot bands over time. The join is the only shuffle, and with
a broadcast AOI there is none at all: at 100 TB the plan is
scan(pruned tiles) → broadcast-hash-join → partial agg.

Polygon extract replicates ``sample_feature``
(``src/geowombat/core/util.py:472-573``): polygon-local grid, rasterize-by-
center (or exact any-touch) membership, row-major sample order. The
samples stay runs from the driver-side scanline kernel
(``grid.polygon_cover_runs``), mapped exactly onto grid runs and broadcast
into ``sops.join_runs`` (``row`` key, column-range condition); each
sample's ``point`` and ``x`` derive from the matched ``col`` on the
executors. No cell list is built on the driver and no Python worker runs.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import (
    GridSpec,
    _ramp,
    coords_to_rowcol,
    polygon_cover_runs,
    zorder_encode,
)
from .sops import RUN_COLS, RUN_DDL, join_runs

BAND_COLS = ("band_blue", "band_green", "band_red")


def _band_col(name: str) -> str:
    return f"band_{name}" if not name.startswith("band_") else name


def in_bounds_mask(x, y, grid: GridSpec) -> np.ndarray:
    """Boolean mask of points inside the grid extent — the ONE in-grid
    predicate (half-open right/bottom edges) shared by prepare_points,
    extract_points, extract_polygons, and the Column twin
    :func:`in_bounds_col`; a boundary semantics change lands everywhere
    at once."""
    return (
        (x >= grid.left) & (x < grid.right) & (y <= grid.top) & (y > grid.bottom)
    )


def in_bounds_col(grid: GridSpec, x: str = "x", y: str = "y") -> F.Column:
    """Column twin of :func:`in_bounds_mask` for DataFrame filters."""
    return (
        (F.col(x) >= grid.left)
        & (F.col(x) < grid.right)
        & (F.col(y) <= grid.top)
        & (F.col(y) > grid.bottom)
    )


def _pdf_to_sdf(spark: SparkSession, pdf: pd.DataFrame):
    """createDataFrame that survives an EMPTY pandas frame: Spark cannot
    infer a type for an empty object column (an all-out-of-grid AOI with a
    string attribute crashed here; the reference returns an empty frame,
    ``sops.py:836-844``), so the schema is built explicitly from the
    pandas dtypes (object → string)."""
    if len(pdf):
        return spark.createDataFrame(pdf)
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    kinds = {
        "i": LongType(), "u": LongType(), "f": DoubleType(),
        "b": BooleanType(), "M": TimestampType(),
    }
    fields = [
        StructField(c, kinds.get(pdf[c].dtype.kind, StringType()), True)
        for c in pdf.columns
    ]
    return spark.createDataFrame([], StructType(fields))


def prepare_points(
    aoi: pd.DataFrame,
    grid: GridSpec,
    aoi_epsg: int | None = None,
    mask_rings: list | None = None,
    id_column: str = "id",
) -> pd.DataFrame:
    """AOI normalization (``conversion.py:338-436`` parity): ensure an id
    column, reproject to the raster frame (``:369-374``), clip to the image
    bounds (points: ``intersects`` filter, ``:395-397``), optional
    ``within(mask)`` PIP filter (``:399-413``), reindex (``:432-435``).

    ``aoi_epsg`` names the AOI frame when it differs from ``grid.crs``
    (supported frames: EPSG:4326 and UTM zones — ``crs.reproject_points``).
    """
    from ..crs import reproject_points
    from ..grid import point_in_rings

    out = aoi.copy().reset_index(drop=True)
    if id_column not in out.columns:
        out[id_column] = np.arange(len(out), dtype=np.int64)
    grid_epsg = int(str(grid.crs).split(":")[-1])
    if aoi_epsg is not None and aoi_epsg != grid_epsg:
        x, y = reproject_points(
            out["x"].values, out["y"].values, aoi_epsg, grid_epsg
        )
        out["x"], out["y"] = x, y
    out = out[in_bounds_mask(out["x"].values, out["y"].values, grid)]
    if mask_rings is not None:
        rings = [np.asarray(r, dtype=np.float64) for r in mask_rings]
        keep = point_in_rings(out["x"].values, out["y"].values, rings)
        out = out[keep]
    return out.reset_index(drop=True)


def encode_points_pdf(aoi: pd.DataFrame, grid: GridSpec) -> pd.DataFrame:
    """Driver-side cell encoding for a small AOI (the reference's AOI is
    always driver-resident — ``prepare_points`` returns a GeoDataFrame).
    :func:`~..grid.encode_cells` is its bit-equal DataFrame twin."""
    out = aoi.copy()
    row, col = coords_to_rowcol(grid, out["x"].values, out["y"].values, clamp=True)
    out["row"], out["col"] = row, col
    out["cell_id"] = zorder_encode(row, col)
    out["tile_id"] = grid.tile_id(row, col)
    return out


def _prune_tiles(docs: DataFrame, tile_ids) -> DataFrame:
    """Partition pruning: tile_id is the dataset partition column, so this
    predicate skips whole directories/files before any IO."""
    tile_ids = sorted(set(int(t) for t in tile_ids))
    return docs.filter(F.col("tile_id").isin(tile_ids))


def extract_points(
    spark: SparkSession,
    docs: DataFrame,
    aoi: pd.DataFrame,
    grid: GridSpec,
    bands: list[str] = ("blue", "green", "red"),
    time_names: list[str] | None = None,
    id_column: str = "id",
    keep_doc_columns: list[str] = (),
    ordered: bool = True,
) -> DataFrame:
    """Sample band values at AOI points.

    Returns one row per AOI point, band columns named like the reference:
    ``blue`` for a single time, ``t1_blue``/``t2_blue``… for stacks
    (``sops.py:872-907``).

    ``ordered=True`` returns rows in AOI order (reference parity). Note the
    cost: a global ``orderBy`` uses range partitioning, whose sampling pass
    *recomputes the join input* — i.e. the corpus scan runs twice. Pass
    ``ordered=False`` in throughput-critical pipelines (any consumer that
    aggregates or re-sorts anyway).

    With ``time_names=None`` on a time-stacked input, time labels are
    inferred from the UNPRUNED input's distinct ``t`` keys — a
    single-column scan (column-pruned parquet reads just the ``t``
    chunks) that keeps the output schema independent of the AOI: an AOI
    whose tiles miss a time step still gets that step's (all-null) band
    columns, so extracts over different AOIs always union/compare
    cleanly. Corpus-scale callers that already know the stack should
    pass ``time_names`` explicitly and skip even that scan.
    """
    enc = encode_points_pdf(aoi, grid)
    # DROP out-of-grid points (reference ``sops.py:836-844`` filters them;
    # the encoder's clamp would otherwise fabricate edge-cell rows with
    # band values from the wrong pixel for points past the image bounds)
    enc = enc[
        in_bounds_mask(enc["x"].values, enc["y"].values, grid)
    ].reset_index(drop=True)
    # AOI attribute columns ride through (the reference returns the
    # GeoDataFrame with band columns appended — attributes included)
    attr_cols = [
        c
        for c in enc.columns
        if c not in {id_column, "x", "y", "cell_id", "row", "col", "tile_id"}
    ]
    pts_cols = [id_column, "x", "y", "cell_id", *attr_cols]
    pts = _pdf_to_sdf(
        spark,
        enc[pts_cols].assign(_pt_order=np.arange(len(enc), dtype=np.int64)),
    )
    pruned = _prune_tiles(docs, enc["tile_id"].unique())
    band_cols = [_band_col(b) for b in bands]
    doc_side = pruned.select(
        "cell_id",
        *(["t"] if "t" in docs.columns else []),
        *band_cols,
        *keep_doc_columns,
    )
    # AOI is the small side: broadcast — no shuffle of the corpus at all.
    joined = doc_side.join(F.broadcast(pts), "cell_id", "inner")

    if time_names is None and "t" in docs.columns:
        # infer time labels from the UNPRUNED input so the output schema
        # does not depend on which tiles the AOI happens to touch (an
        # AOI-dependent schema breaks union/cache/compare callers). The
        # cost is one single-column distinct — column pruning reads only
        # the `t` parquet chunks; pass time_names to skip it entirely.
        time_names = [
            r[0] for r in docs.select("t").distinct().orderBy("t").collect()
        ]
    if time_names and len(time_names) > 1:
        # F.min, not F.first: first() is shuffle-order nondeterministic
        # when a (cell, t) key holds duplicate rows (pre-dedup appends).
        # For the well-formed unique case they're identical; for
        # duplicates min resolves per band deterministically — the same
        # rule as mosaic overlap='min'.
        aggs = [F.min(_band_col(b)).alias(b) for b in bands]
        # keep_doc_columns and AOI attributes are grouping keys, not
        # aggregated away (a kept column that varies across time steps
        # legitimately splits the point's row)
        out = (
            joined.groupBy(
                "_pt_order", id_column, "x", "y",
                *attr_cols, *keep_doc_columns,
            )
            .pivot("t", time_names)
            .agg(*aggs)
        )
        # single-agg pivot names columns "{t}" — force "{t}_{band}"
        # (pivot column names are always strings, so rename via str(t))
        if len(bands) == 1:
            for t in time_names:
                out = out.withColumnRenamed(str(t), f"{t}_{bands[0]}")
    else:
        # same duplicate-(cell, t) resolution as the pivot path above
        # (min per band): without it a pre-dedup append corpus returns
        # EXTRA rows per point on the single-time path while the
        # multi-time path collapses them — inconsistent contract. The
        # groupBy shuffles only the AOI-matched rows (small side), not
        # the corpus.
        keys1 = ["_pt_order", id_column, "x", "y", "cell_id"]
        if "t" in joined.columns:
            keys1.append("t")
        keys1 += [*attr_cols, *keep_doc_columns]
        out = joined.groupBy(*keys1).agg(
            *[F.min(_band_col(b)).alias(b) for b in bands]
        )
    if ordered:
        out = out.orderBy("_pt_order")
    return out.drop("_pt_order")


def _grid_pieces(grid: GridSpec, ox: float, oy: float, runs: np.ndarray, p0: np.ndarray):
    """One polygon's bbox-local runs ``(row, col_start, col_end)`` (first
    point numbers ``p0``) cut into grid runs: ``(row, c0, c1, _p0, _lc, _ox,
    y, in_grid)`` with a cell's point ``_p0 + col`` and local column
    ``_lc + col``.

    A sample's grid cell is ``coords_to_rowcol(clamp=True)`` of its centre
    and it is in the grid by ``in_bounds_mask`` — the reference
    (``sops.py:836-844``) drops out-of-image indices; clamping would gather
    edge-cell values for a polygon's overhang. The map is separable (x
    depends on the local column only, y on the local row only), so each
    local column and each run's row map once, and a run is cut wherever
    the in-grid test flips or an in-grid column does not step by one — not
    a constant shift: half-cell-snapped vertices and non-binary
    resolutions step by 0 or 2 in places. Out-of-grid pieces keep their
    clamped start column; only their local columns matter.
    """
    lo = runs[:, 1].min(initial=0)
    xs = ox + (np.arange(lo, runs[:, 2].max(initial=0)) + 0.5) * grid.cellx
    y = oy - (runs[:, 0] + 0.5) * grid.celly
    grow, gcol = coords_to_rowcol(grid, xs, y, clamp=True)
    x_in = in_bounds_mask(xs, grid.top, grid)
    cut = np.ones(xs.shape[0], dtype=bool)
    cut[1:] = (x_in[1:] != x_in[:-1]) | (x_in[1:] & (gcol[1:] != gcol[:-1] + 1))
    seg = np.flatnonzero(cut)
    sid = np.cumsum(cut) - 1
    a, b = runs[:, 1] - lo, runs[:, 2] - lo
    m = sid[b - 1] - sid[a] + 1
    r, t = np.repeat(np.arange(runs.shape[0]), m), _ramp(sid[a], m)
    s = np.maximum(a[r], seg[t])
    e = np.minimum(b[r], np.r_[seg[1:], xs.shape[0]][t])
    c0 = gcol[s]
    return (
        grow[r], c0, c0 + e - s, p0[r] + s - a[r] - c0, lo + s - c0,
        np.full(r.shape[0], ox), y[r], x_in[s] & in_bounds_mask(grid.left, y, grid)[r],
    )


def _polygon_runs(
    polygons: pd.DataFrame,
    grid: GridSpec,
    frac: float = 1.0,
    min_frac_area: float | None = None,
    all_touched: bool = False,
    seed: int = 42,
    id_column: str = "fid",
) -> tuple[pd.DataFrame, str]:
    """:func:`sample_polygons` as a driver-side run table, one row per
    :func:`_grid_pieces` piece of each polygon's sampled runs:
    :data:`~.sops.RUN_COLS`, ``_p0``, ``_lc``, ``_ox``, ``y``, ``_in`` (in
    the grid) and ``id_column``. Also returns the payload DDL (all but the
    run columns and ``_in``) that :func:`~.sops.join_runs` takes."""
    ids = polygons[id_column]
    # id type follows the input with the reference's int-FIRST fallback
    # (util.py:553-559: try int(fid), fall back to str on ValueError): a
    # float64 fid (pandas NaN promotion of ints) stays numeric, a
    # non-numeric fid stays string. Column-level: the int path only when
    # EVERY value round-trips through int() LOSSLESSLY and fits int64 (7.2
    # must not truncate onto fid 7; 1e19 must not overflow). An EMPTY
    # column has no values to probe, so its dtype decides — an empty
    # string-fid result still unions with a non-empty one.
    def _all_int_convertible(col) -> bool:
        if len(col) == 0:
            return not (
                pd.api.types.is_object_dtype(col) or pd.api.types.is_string_dtype(col)
            )
        try:
            for v in col:
                iv = int(v)
                if float(v) != float(iv) or not (-(2**63) <= iv < 2**63):
                    return False
        except (ValueError, TypeError, OverflowError):
            return False
        return True

    id_is_str = not _all_int_convertible(ids)
    # EVERY row is a polygon: duplicate fids (a multipart feature exploded
    # without renumbering) are real inputs and are all sampled — the
    # reference's per-feature pool samples each row (conversion.py:
    # 438-493). Point ids continue across a fid's parts so they stay
    # unique within the fid; the rng is seeded per (fid, part).
    id_dtype = object if id_is_str else np.int64
    none = np.empty((0, 3), dtype=np.int64)  # types the table when no run
    pieces = [
        (*_grid_pieces(grid, 0.0, 0.0, none, none[:, 0]), np.empty(0, dtype=id_dtype))
    ]
    parts: dict = {}
    for key, rs in zip(ids, polygons["rings"]):
        if id_is_str:
            fid = str(key)
            fid_seed = zlib.crc32(fid.encode("utf-8"))
        else:
            fid = fid_seed = int(key)
        ri, start = parts.get(fid, (0, 0))
        ox, oy, runs = polygon_cover_runs(rs, grid.cellx, grid.celly, all_touched)
        n = runs[:, 2] - runs[:, 1]
        # util.py:538-551: subsample only when above the area floor
        if frac < 1.0 and (min_frac_area is None or n.sum() > min_frac_area):
            rng = np.random.default_rng(seed + fid_seed + 7919 * ri)
            idx = rng.choice(int(n.sum()), size=int(n.sum() * frac), replace=False)
            idx.sort()
            # the i-th cell lies in the first run whose prefix sum passes i
            ends = np.cumsum(n)
            j = np.searchsorted(ends, idx, side="right")
            lc = runs[j, 1] + idx - (ends - n)[j]
            runs, n = np.stack([runs[j, 0], lc, lc + 1], axis=1), np.ones_like(lc)
        parts[fid] = (ri + 1, start + int(n.sum()))
        p = _grid_pieces(grid, ox, oy, runs, start + np.cumsum(n) - n)
        pieces.append((*p, np.full(p[0].shape[0], fid, dtype=id_dtype)))
    names = [*RUN_COLS, "_p0", "_lc", "_ox", "y", "_in", id_column]
    runs = pd.DataFrame(dict(zip(names, map(np.concatenate, zip(*pieces)))))
    id_ddl = "string" if id_is_str else "long"
    return runs, f"_p0 long, _lc long, _ox double, y double, `{id_column}` {id_ddl}"


def _samples(id_column: str, grid: GridSpec) -> list:
    """A sample's ``(id, point, x, y)`` from the grid column ``col`` its
    run matched — x by the same IEEE sequence as
    ``grid.polygon_sample_centers``."""
    x = f"_ox + ((col + _lc) + 0.5D) * {float(grid.cellx)!r}D AS x"
    return [id_column, F.expr("_p0 + col AS point"), F.expr(x), "y"]


def sample_polygons(
    spark: SparkSession,
    polygons: pd.DataFrame,
    grid: GridSpec,
    frac: float = 1.0,
    min_frac_area: float | None = None,
    all_touched: bool = False,
    seed: int = 42,
    id_column: str = "fid",
) -> DataFrame:
    """Polygon → sample-point centers (``sample_feature`` parity) on each
    polygon's bbox-local lattice.

    ``polygons`` columns: ``fid`` plus ``rings`` (list of flat
    ``[x0,y0,x1,y1,...]`` arrays) and any attribute columns. The frame is
    driver-resident, so the sampled runs are computed on the driver and
    expanded to points on the executors. ``frac``/``min_frac_area`` follow
    ``util.py:538-551`` (subsample only when above the area floor); the
    rng is seeded per polygon for determinism.
    """
    runs, payload = _polygon_runs(
        polygons, grid, frac=frac, min_frac_area=min_frac_area,
        all_touched=all_touched, seed=seed, id_column=id_column,
    )
    cols = F.explode(F.sequence("_run_c0", F.col("_run_c1") - 1)).alias("col")
    return (
        spark.createDataFrame(runs.drop(columns="_in"), f"{RUN_DDL}, {payload}")
        .select("*", cols)
        .select(*_samples(id_column, grid))
    )


def extract_polygons(
    spark: SparkSession,
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    bands: list[str] = ("blue",),
    frac: float = 1.0,
    min_frac_area: float | None = None,
    all_touched: bool = False,
    seed: int = 42,
    id_column: str = "fid",
    keep_doc_columns: list[str] = (),
) -> DataFrame:
    """Sample band values for every cell whose center falls inside each
    polygon — ``gw.extract(polygons)`` (``sops.py:689-909`` polygon path)."""
    runs, payload = _polygon_runs(
        polygons,
        grid,
        frac=frac,
        min_frac_area=min_frac_area,
        all_touched=all_touched,
        seed=seed,
        id_column=id_column,
    )
    runs = runs[runs.pop("_in")]
    # the tiles of every run: its tile row, and each tile column it spans
    c0 = runs["_run_c0"].to_numpy() // grid.tile_cols
    n = (runs["_run_c1"].to_numpy() - 1) // grid.tile_cols - c0 + 1
    tiles = np.repeat(runs["_run_row"].to_numpy() // grid.tile_rows * grid.tiles_x, n)
    pruned = _prune_tiles(docs, tiles + _ramp(c0, n))
    band_cols = [_band_col(b) for b in bands]
    # carry the time column when the corpus is a stack: every sample point
    # legitimately matches one row per time step, and 't' is what makes
    # those rows distinguishable downstream
    t_cols = ["t"] if "t" in docs.columns else []
    doc_cols = ["cell_id", *t_cols, *band_cols, *keep_doc_columns]
    doc_side = pruned.select(*doc_cols, *(c for c in ("row", "col") if c not in doc_cols))
    out = (
        join_runs(doc_side, runs, payload, "inner")
        .select(*doc_cols, *_samples(id_column, grid))
        .withColumnsRenamed(dict(zip(band_cols, bands)))
    )
    # polygon attribute columns ride back in via the (tiny) broadcast fid
    # table — ``sample_feature`` re-assigns other_cols the same way
    # one attribute row per fid: a multipart feature exploded into
    # duplicate-fid rows would otherwise match every sample row N times
    # and double-count the whole extract
    attrs = polygons.drop(columns=["rings"], errors="ignore").drop_duplicates(
        subset=[id_column]
    )
    if len(attrs.columns) > 1:
        out = out.join(F.broadcast(spark.createDataFrame(attrs)), id_column)
    return out.orderBy(id_column, "point", *t_cols)
