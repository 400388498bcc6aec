"""polygon_to_array — rasterize polygons onto a reference grid.

Reference: ``/root/reference/src/geowombat/core/conversion.py:570-833``
(burn value 1 or from an attribute column; later features overwrite earlier,
GDAL ``features.rasterize`` semantics; ``all_touched`` toggles
center-containment vs cell-intersects).

Spark shape: each feature's cells on the reference grid come from the
driver-side scanline kernel ``grid.polygon_cover_runs``; overlaps resolve
there (later feature wins, like GDAL). The burned cells are broadcast into
a left join with the window's cell lattice (``spark.range`` — pure
codegen), ``fill`` elsewhere: no shuffle, no Python worker."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import GridSpec, polygon_cover_runs, round_window, runs_to_cells


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
    if window is None:
        if len(polygons) == 0:
            # no features and no window: nothing defines an extent
            return spark.createDataFrame(
                [], "row long, col long, x double, y double, value double"
            )
        from .sops import _total_bounds

        minx, miny, maxx, maxy = _total_bounds(polygons)
        window = round_window(grid, minx, miny, maxx, maxy, expand_by=0)
    row0, row1, col0, col1 = window
    nrows, ncols = max(0, row1 - row0), max(0, col1 - col0)
    if nrows == 0 or ncols == 0:
        # bbox entirely off-grid: round_window clamps each bound
        # independently, so row1 < row0 (or col1 < col0) here — a raw
        # nrows*ncols product would be positive again and `id % ncols`
        # with a negative ncols would fabricate out-of-grid lattice rows
        return spark.createDataFrame(
            [], "row long, col long, x double, y double, value double"
        )

    # each input ROW is one GDAL feature: duplicate fids (multipart
    # explode, or fid collisions carrying different burn values) burn each
    # part with ITS OWN row's value, later-row-wins only on overlap cells
    polys = polygons.reset_index(drop=True)
    burn = polys[col].astype(float) if col else [float(default_value)] * len(polys)
    empty = np.empty(0, dtype=np.int64)
    cover = [pd.DataFrame({"row": empty, "col": empty, "value": empty * 0.0})]
    for rs, v in zip(polys["rings"], burn):
        _, _, runs = polygon_cover_runs(
            rs, grid.cellx, grid.celly, all_touched, anchor=(grid.left, grid.top)
        )
        r, c = runs_to_cells(runs)
        cover.append(pd.DataFrame({"row": r, "col": c, "value": v}))
    cover = pd.concat(cover, ignore_index=True)
    # DROP off-grid cells (same contract as extract_polygons, reference
    # sops.py:836-844): GDAL rasterize leaves nothing outside the grid
    on_grid = (
        (cover["row"] >= 0) & (cover["row"] < grid.nrows)
        & (cover["col"] >= 0) & (cover["col"] < grid.ncols)
    )
    cover = cover[on_grid].drop_duplicates(["row", "col"], keep="last")
    burned = spark.createDataFrame(cover, "row long, col long, value double")

    from .transform import _with_centers

    cells = _with_centers(
        spark.range(nrows * ncols).select(
            (F.lit(row0) + F.expr(f"id div {ncols}")).cast("long").alias("row"),
            (F.lit(col0) + F.col("id") % ncols).cast("long").alias("col"),
        ),
        grid,
    )
    out = cells.join(F.broadcast(burned), ["row", "col"], "left")
    return out.withColumn("value", F.coalesce(F.col("value"), F.lit(float(fill))))
