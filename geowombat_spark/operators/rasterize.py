"""polygon_to_array — rasterize polygons onto a reference grid.

Reference: ``/root/reference/src/geowombat/core/conversion.py:570-833``
(burn value 1 or from an attribute column; later features overwrite earlier,
GDAL ``features.rasterize`` semantics; ``all_touched`` toggles
center-containment vs cell-intersects).

Spark shape: each feature's runs on the reference grid come from the
driver-side scanline kernel ``grid.polygon_cover_runs``; overlaps resolve
there by ``grid.paint_runs`` (later feature wins, like GDAL) without
expanding a cell. The window's cell lattice (``spark.range`` — pure
codegen) left-joins the broadcast painted runs through ``sops.join_runs``
(``fill`` elsewhere): no shuffle, no Python worker."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import GridSpec, paint_runs, round_window
from .sops import RUN_COLS, _feature_runs, _total_bounds, join_runs


def burn_runs(
    polygons: pd.DataFrame,
    grid: GridSpec,
    col: str | None = None,
    default_value: float = 1.0,
    all_touched: bool = False,
    window: tuple[int, int, int, int] | None = None,
) -> tuple[pd.DataFrame, tuple[int, int, int, int]]:
    """The burned cells as a run table — :data:`~.sops.RUN_COLS` plus
    ``value``, the burn value of the last feature covering each cell — and
    the window ``(row0, row1, col0, col1)`` it is clipped to (default: the
    polygons' grid-aligned total bounds).

    Each input ROW is one GDAL feature: duplicate fids (multipart explode,
    or fid collisions carrying different burn values) burn each part with
    ITS OWN row's value, later-row-wins only on overlap cells. Runs are
    also clipped to the grid (GDAL rasterize leaves nothing outside it, the
    same contract as extract_polygons, reference ``sops.py:836-844``).
    """
    if window is None and len(polygons):
        window = round_window(grid, *_total_bounds(polygons))
    row0, row1, col0, col1 = window = window or (0, 0, 0, 0)
    burn = polygons[col].astype(float).to_numpy() if col else np.full(
        len(polygons), float(default_value)
    )
    painted = paint_runs(_feature_runs(polygons, grid, all_touched))
    painted[:, 1:3] = np.clip(painted[:, 1:3], max(col0, 0), min(col1, grid.ncols))
    painted = painted[
        (painted[:, 0] >= max(row0, 0))
        & (painted[:, 0] < min(row1, grid.nrows))
        & (painted[:, 1] < painted[:, 2])
    ]
    runs = pd.DataFrame(painted[:, :3], columns=RUN_COLS)
    return runs.assign(value=burn[painted[:, 3]]), window


def polygon_to_array(
    spark: SparkSession,
    polygons: pd.DataFrame,
    grid: GridSpec,
    col: str | None = None,
    fill: float = 0.0,
    default_value: float = 1.0,
    all_touched: bool = False,
    window: tuple[int, int, int, int] | None = None,
    id_column: str = "fid",
) -> DataFrame:
    """Burn polygons onto the grid; returns (row, col, x, y, value) over the
    window (defaults to the polygons' grid-aligned total bounds).

    ``col`` selects a per-feature burn value column, else ``default_value``
    (``conversion.py:570-833``). Feature order resolves overlaps: the last
    ROW in ``polygons`` wins on overlap cells (GDAL rasterize parity —
    each row is one feature, so duplicate-``fid`` multipart rows burn
    their own values). Burn membership is the reference-grid cell test
    (grid-anchored cover runs), matching ``features.rasterize`` over the
    grid-aligned window. ``id_column`` is accepted for API
    compatibility but unused (features are identified by row position).
    """
    burned, (row0, row1, col0, col1) = burn_runs(
        polygons, grid, col, default_value, all_touched, window
    )
    nrows, ncols = max(0, row1 - row0), max(0, col1 - col0)
    if nrows == 0 or ncols == 0:
        # no features and no window, or a bbox entirely off-grid:
        # round_window clamps each bound independently, so row1 < row0 (or
        # col1 < col0) here — a raw nrows*ncols product would be positive
        # again and `id % ncols` with a negative ncols would fabricate
        # out-of-grid lattice rows
        return spark.createDataFrame(
            [], "row long, col long, x double, y double, value double"
        )

    from .transform import _with_centers

    cells = _with_centers(
        spark.range(nrows * ncols).select(
            (F.lit(row0) + F.expr(f"id div {ncols}")).cast("long").alias("row"),
            (F.lit(col0) + F.col("id") % ncols).cast("long").alias("col"),
        ),
        grid,
    )
    out = join_runs(cells, burned, "value double")
    return out.withColumn("value", F.coalesce(F.col("value"), F.lit(float(fill))))
