"""polygon_to_array (rasterize) and array_to_polygon (connected components)
— reference semantics: ``conversion.py:570-833`` (later feature wins,
center containment) and ``conversion.py:495-568`` (4/8-connectivity)."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import GridSpec
from geowombat_spark.operators import polygonize as pz
from geowombat_spark.operators import rasterize as rz

GRID = GridSpec(
    left=0.0, top=0.0, cellx=10.0, celly=10.0, nrows=100, ncols=100,
    tile_rows=50, tile_cols=50, nodata=0.0,
)


def _rect_rings(minx, miny, maxx, maxy):
    return [[minx, maxy, maxx, maxy, maxx, miny, minx, miny]]


def test_rasterize_burn_and_fill(spark):
    # GDAL features.rasterize parity (conversion.py:570-833): burn tests
    # REFERENCE-grid cell centers, not a polygon-local lattice. Rect
    # (2,-28)-(38,-2) on the 10 m grid: centers x=5,15,25,35 are inside
    # (2,38) → cols 0-3; centers y=-5,-15,-25 inside (-28,-2) → rows 0-2
    # → 12 burned cells. (The bbox-local truncated lattice — the EXTRACT
    # sampling, util.py:269-295 — would give only 6; rasterize must not
    # inherit it.)
    polys = pd.DataFrame(
        [{"fid": 1, "rings": _rect_rings(2.0, -28.0, 38.0, -2.0)}]
    )
    out = rz.polygon_to_array(spark, polys, GRID, default_value=5.0, fill=0.0)
    pdf = out.toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    burned = pdf[pdf["value"] == 5.0]
    assert len(burned) == 12
    assert set(burned["col"]) == {0, 1, 2, 3}
    assert set(burned["row"]) == {0, 1, 2}
    # everything else in the window is fill
    assert set(pdf["value"]).issubset({0.0, 5.0})


def test_rasterize_later_feature_wins(spark):
    a = {"fid": 1, "rings": _rect_rings(2.0, -28.0, 38.0, -2.0)}
    b = {"fid": 2, "rings": _rect_rings(22.0, -28.0, 58.0, -2.0)}
    polys = pd.DataFrame([a, b]).assign(burn=[1.0, 2.0])
    out = rz.polygon_to_array(spark, polys, GRID, col="burn", fill=-1.0)
    pdf = out.toPandas()
    # A covers cols 0-2, B covers cols 2-4 (rows 0-1); overlap col 2:
    # feature 2 (later) wins — GDAL rasterize parity
    overlap = pdf[(pdf["col"] == 2) & (pdf["row"] < 2)]
    assert (overlap["value"] == 2.0).all()
    only_a = pdf[(pdf["col"].isin([0, 1])) & (pdf["row"] < 2)]
    assert (only_a["value"] == 1.0).all()
    only_b = pdf[(pdf["col"].isin([3, 4])) & (pdf["row"] < 2)]
    assert (only_b["value"] == 2.0).all()


def test_rasterize_offgrid_overhang_does_not_burn_border(spark):
    """A polygon arm overhanging the grid must NOT burn the border cells
    its off-grid sample centers would clamp onto (GDAL rasterize leaves
    them at fill; extract_polygons applies the same in-bounds filter)."""
    # L-shape: on-grid foot rows 0-1 (x up to 25), off-grid arm x in
    # [-45,-5] at rows 2-5 — without the in-bounds filter the arm's
    # centers snap to col 0 and burn (2,0)..(5,0)
    ring = [
        -45.0, -2.0, 25.0, -2.0, 25.0, -22.0,
        -5.0, -22.0, -5.0, -58.0, -45.0, -58.0,
    ]
    polys = pd.DataFrame([{"fid": 1, "rings": [ring]}])
    out = rz.polygon_to_array(spark, polys, GRID, default_value=1.0, fill=0.0)
    pdf = out.toPandas()
    burned = pdf[pdf["value"] == 1.0]
    assert set(burned["row"]) <= {0, 1}, burned.to_dict("records")
    assert len(burned) > 0  # the on-grid foot does burn


def test_rasterize_fully_offgrid_polygon_is_empty(spark):
    """A polygon bbox entirely outside the grid yields an EMPTY frame:
    round_window clamps each bound independently, so row1 < row0 /
    col1 < col0 here, and the raw (negative x negative) lattice product
    used to fabricate phantom out-of-grid rows."""
    for ring in (
        _rect_rings(1015.0, -1050.0, 1025.0, -1040.0),  # past bottom-right
        _rect_rings(-45.0, -58.0, -5.0, -2.0),  # past the left edge
    ):
        polys = pd.DataFrame([{"fid": 1, "rings": ring}])
        out = rz.polygon_to_array(spark, polys, GRID)
        assert out.count() == 0
        assert out.columns == ["row", "col", "x", "y", "value"]


def test_rasterize_string_fid(spark):
    """String feature ids are valid in the reference (util.py:553-559
    int/str fallback): the sampling kernel and burn join must carry them
    through instead of int()-crashing in the executor."""
    polys = pd.DataFrame(
        [{"fid": "field_A", "rings": _rect_rings(2.0, -28.0, 38.0, -2.0)}]
    )
    out = rz.polygon_to_array(spark, polys, GRID, default_value=5.0)
    pdf = out.toPandas()
    assert (pdf["value"] == 5.0).sum() == 12  # ref-grid centers, see above


def _cells(spark, arr):
    rows, cols = np.nonzero(np.ones_like(arr))
    pdf = pd.DataFrame(
        {"row": rows.astype(np.int64), "col": cols.astype(np.int64),
         "value": arr[rows, cols].astype(np.int64)}
    )
    return spark.createDataFrame(pdf)


def test_components_two_halves(spark):
    arr = np.zeros((6, 6), dtype=np.int64)
    arr[:, 3:] = 1
    comps = pz.connected_components_tiled(_cells(spark, arr), "value")
    s = pz.region_summary(comps).toPandas()
    assert len(s) == 2
    assert sorted(s["n_cells"]) == [18, 18]


def test_components_diagonal_not_connected_4(spark):
    # two same-valued cells touching only diagonally; at tile 1x1 and 2x2
    # the diagonal pair crosses a tile corner
    from geowombat_spark import api

    arr = np.zeros((4, 4), dtype=np.int64)
    arr[1, 1] = 1
    arr[2, 2] = 1
    for tile in (64, 1, 2):
        comps = pz.connected_components_tiled(
            _cells(spark, arr), "value", tile, tile, connectivity=4
        )
        s = pz.region_summary(comps).toPandas()
        ones = s[s["value"] == 1]
        assert len(ones) == 2, tile  # separate under 4-connectivity
        comps8 = api.array_to_polygon(
            _cells(spark, arr), "value", tile, tile, connectivity=8
        )
        s8 = pz.region_summary(comps8).toPandas()
        assert len(s8[s8["value"] == 1]) == 1, tile  # joined under 8
    with pytest.raises(ValueError, match="connectivity"):
        api.array_to_polygon(_cells(spark, arr), "value", connectivity=6)


def test_components_snake(spark):
    # an S-shaped path: pointer jumping must still converge to one label;
    # at tile 1x1 and 2x2 every step of the path is a cross-tile merge
    arr = np.zeros((5, 5), dtype=np.int64)
    path = [(0, 0), (0, 1), (0, 2), (1, 2), (2, 2), (2, 1), (2, 0), (3, 0), (4, 0)]
    for r, c in path:
        arr[r, c] = 7
    for tile in (64, 1, 2):
        comps = pz.connected_components_tiled(
            _cells(spark, arr), "value", tile, tile
        )
        s = pz.region_summary(comps).toPandas()
        seven = s[s["value"] == 7]
        assert len(seven) == 1, tile
        assert int(seven["n_cells"].iloc[0]) == len(path)


# ---------------------------------------------------------------------------
# trace_rings_tiled
# ---------------------------------------------------------------------------


def _rings_for(spark, cells, value=1):
    import pandas as pd
    from geowombat_spark.operators.polygonize import trace_rings_tiled

    pdf = pd.DataFrame(
        {
            "row": [r for r, c in cells],
            "col": [c for r, c in cells],
            "value": value,
            "comp": 0,
        }
    )
    df = spark.createDataFrame(pdf)
    return trace_rings_tiled(df).orderBy("ring_idx").collect()


def test_trace_single_cell(spark):
    rings = _rings_for(spark, [(2, 3)])
    assert len(rings) == 1
    r = rings[0]
    assert not r["is_hole"] and r["n_vertices"] == 4 and r["n_edges"] == 4
    assert r["area"] == 1.0
    # exterior ring corners of cell (2,3): walk starts at min vertex (2,3)
    assert list(zip(r["ys"], r["xs"])) == [
        (2.0, 3.0), (2.0, 4.0), (3.0, 4.0), (3.0, 3.0)
    ]


def test_trace_rect_merges_collinear(spark):
    # 2x3 rectangle: 4 corners after collinear merge, perimeter 10 edges
    cells = [(r, c) for r in (0, 1) for c in (0, 1, 2)]
    rings = _rings_for(spark, cells)
    assert len(rings) == 1
    r = rings[0]
    assert r["n_vertices"] == 4 and r["n_edges"] == 10 and r["area"] == 6.0


def test_trace_hole(spark):
    # 3x3 ring with center missing: exterior + one hole
    cells = [(r, c) for r in range(3) for c in range(3) if (r, c) != (1, 1)]
    rings = _rings_for(spark, cells)
    assert len(rings) == 2
    ext, hole = rings
    assert not ext["is_hole"] and ext["n_vertices"] == 4 and ext["area"] == 9.0
    assert hole["is_hole"] and hole["n_vertices"] == 4 and hole["area"] == 1.0
    assert hole["n_edges"] == 4


def test_trace_diagonal_pinch_single_ring(spark):
    # cavity opening to the outside through a diagonal gap: GDAL's
    # 4-connected-region / 8-connected-background convention means NO hole
    # — one exterior ring threading the pinch vertex (visited twice).
    #   XXX
    #   X.X
    #   XX.
    cells = [
        (0, 0), (0, 1), (0, 2),
        (1, 0), (1, 2),
        (2, 0), (2, 1),
    ]
    rings = _rings_for(spark, cells)
    assert len(rings) == 1
    r = rings[0]
    assert not r["is_hole"]
    # Euler: C=7, A=6, Q=0 -> chi=1 -> rings = 2 - chi = 1; area = 7
    assert r["area"] == 7.0
    # pinch vertex (2,2) appears twice among corners
    corners = list(zip(r["ys"], r["xs"]))
    assert corners.count((2.0, 2.0)) == 2


def test_trace_square_block(spark):
    rings = _rings_for(spark, [(r, c) for r in range(4) for c in range(4)])
    assert len(rings) == 1 and rings[0]["n_vertices"] == 4


def test_trace_rings_tiled_task_bound(spark):
    """A small version of tools/rings_scale_probe.py: a 4-cell frame
    around a 24x24 interior on a 32x32 raster, traced at tile 8. Both
    components span many tiles, yet no task is keyed by component before
    the tile walk: the only exchange under the tile stage hash-partitions
    on the tile key, so every tile task holds at most one tile plus its
    halo strips. Every ring quantity has a closed form."""
    side, t, tile = 32, 4, 8
    inner = side - 2 * t
    on_frame = (
        (F.col("row") < t) | (F.col("row") >= side - t)
        | (F.col("col") < t) | (F.col("col") >= side - t)
    )
    comp_inner = t * (1 << 32) + t
    comps = spark.range(side * side).select(
        F.expr(f"id div {side}").alias("row"),
        (F.col("id") % side).alias("col"),
    ).select(
        "row", "col",
        F.when(on_frame, 1).otherwise(0).cast("long").alias("value"),
        F.when(on_frame, F.lit(0)).otherwise(F.lit(comp_inner)).alias("comp"),
    )
    rings = pz.trace_rings_tiled(comps, tile_rows=tile, tile_cols=tile)

    lines = rings._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    top = next(
        i for i, ln in enumerate(lines)
        if "FlatMapGroupsInPandas" in ln and "_tr#" in ln
    )
    below = []
    for ln in lines[top + 1:]:
        if depth(ln) <= depth(lines[top]):
            break
        below.append(ln)
    exchanges = [ln.strip(" :+-") for ln in below if "Exchange" in ln]
    assert len(exchanges) == 1, "\n".join(lines)
    assert re.match(r"Exchange hashpartitioning\(_tr#\d+L, _tc#\d+L, ",
                    exchanges[0]), exchanges[0]

    got = {(r["comp"], r["ring_idx"]): r for r in rings.collect()}
    assert sorted(got) == [(0, 0), (0, 1), (comp_inner, 0)]
    want = {
        (0, 0): (False, 4 * side, side * side,
                 [(0, 0), (0, side), (side, side), (side, 0)]),
        (0, 1): (True, 4 * inner, inner * inner,
                 [(t, t), (side - t, t), (side - t, side - t), (t, side - t)]),
        (comp_inner, 0): (False, 4 * inner, inner * inner,
                          [(t, t), (t, side - t), (side - t, side - t),
                           (side - t, t)]),
    }
    for key, (is_hole, n_edges, area, corners) in want.items():
        r = got[key]
        assert r["is_hole"] == is_hole, key
        assert r["n_vertices"] == 4 and r["n_edges"] == n_edges, key
        assert r["area"] == float(area), key
        assert list(zip(r["ys"], r["xs"])) == [
            (float(y), float(x)) for y, x in corners
        ], key


def test_trace_rings_nan_class_keeps_nan(spark):
    """A NaN class traces to rings whose value is NaN, and a genuine NULL
    cell to rings whose value is NULL: the Arrow round trip through the
    tracer's kernels must not fold the one into the other. Built from
    Python tuples: createDataFrame(pandas) folds NaN into NULL on
    ingestion."""
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (r, c, nan if r < 2 else None if (r, c) == (3, 3) else 1.0)
            for r in range(4)
            for c in range(4)
        ],
        "row long, col long, value double",
    )
    for tile in (2, 64):
        comps = pz.connected_components_tiled(df, "value", tile, tile)
        rings = pz.trace_rings_tiled(comps, tile_rows=tile, tile_cols=tile)
        got = {r["comp"]: r["value"] for r in rings.collect()}
        assert len(got) == 3, (tile, got)
        assert got[0] is not None and np.isnan(got[0]), (tile, got)
        assert got[(3 << 32) + 3] is None, (tile, got)
        assert got[2 << 32] == 1.0, (tile, got)


def test_tiled_cc_matches_iterative(spark):
    """Two-phase (tile-local union-find + border label merge) CC must
    produce the same labeling as a whole-raster union-find, for 4- and
    8-connectivity, whether the tiles are larger or smaller than the
    components."""
    from cc_reference import label_components

    rng = np.random.default_rng(5)
    rr, cc = np.meshgrid(np.arange(40), np.arange(40), indexing="ij")
    pdf = pd.DataFrame(
        {
            "row": rr.ravel(),
            "col": cc.ravel(),
            "value": rng.integers(0, 3, rr.size),
        }
    )
    df = spark.createDataFrame(pdf)
    values = {
        (int(r), int(c)): int(v)
        for r, c, v in zip(pdf["row"], pdf["col"], pdf["value"])
    }
    for connectivity in (4, 8):
        want = {
            cell: (r0 << 32) + c0
            for cell, (r0, c0) in label_components(values, connectivity).items()
        }
        for tr, tc in ((16, 16), (3, 5)):
            got = {
                (r["row"], r["col"]): r["comp"]
                for r in pz.connected_components_tiled(
                    df, "value", tile_rows=tr, tile_cols=tc,
                    connectivity=connectivity,
                ).collect()
            }
            assert got == want, (connectivity, tr, tc)


def test_tiled_cc_nan_parity(spark):
    """NaN-valued cells form one class (NaN = NaN) and NULL cells stay
    singletons (NULL never equals anything), whatever the tiling. The
    tiled kernel's numpy comparison and the Arrow NaN→NULL fold would
    otherwise fragment the NaN class into per-cell singletons and corrupt
    the value column."""
    # 4x4 raster: top 2 rows NaN (one class), bottom 2 rows value 1.0.
    # Built from Python tuples: createDataFrame(pandas) folds NaN into
    # NULL on ingestion, which would silently test the NULL path twice.
    df = spark.createDataFrame(
        [
            (int(r), int(c), float("nan") if r < 2 else 1.0)
            for r in range(4)
            for c in range(4)
        ],
        "row long, col long, value double",
    )
    got = pz.connected_components_tiled(
        df, "value", tile_rows=2, tile_cols=2
    ).collect()
    b = {(r["row"], r["col"]): r["comp"] for r in got}
    # comp = min cell key: (0, 0) for the NaN rows, (2, 0) for the 1.0 rows
    assert b == {
        (r, c): 0 if r < 2 else 2 << 32 for r in range(4) for c in range(4)
    }
    assert len(set(b.values())) == 2  # one NaN component + one 1.0 component
    # value fidelity through the Python kernel: NaN out, never NULL
    vmap = {(r["row"], r["col"]): r["value"] for r in got}
    assert all(v is not None for v in vmap.values())
    assert np.isnan(vmap[(0, 0)]) and vmap[(3, 3)] == 1.0

    # genuine NULLs never union
    df2 = spark.createDataFrame(
        [(0, 0, None), (0, 1, None), (1, 0, 2.0), (1, 1, 2.0)],
        "row long, col long, value double",
    )
    tiled2 = pz.connected_components_tiled(df2, "value", 2, 2).collect()
    comps_null = {r["comp"] for r in tiled2 if r["value"] is None}
    comps_two = {r["comp"] for r in tiled2 if r["value"] == 2.0}
    assert len(comps_null) == 2  # NULL cells stay singletons
    assert len(comps_two) == 1

    # object-backed value types (string): Arrow hands the kernel None,
    # and None == None is True in Python — without the explicit NULL
    # mask two adjacent NULL strings would merge INTRA-tile while the
    # same pair straddling a border stays singleton (layout-dependent
    # output). Run the same raster at tile=2 (all NULLs in one tile)
    # and tile=1 (every adjacency crosses a border): both must agree.
    df3 = spark.createDataFrame(
        [(0, 0, None), (0, 1, None), (1, 0, "a"), (1, 1, "a")],
        "row long, col long, value string",
    )
    for tr, tc in ((2, 2), (1, 1)):
        t = pz.connected_components_tiled(df3, "value", tr, tc).collect()
        nulls = {r["comp"] for r in t if r["value"] is None}
        strs = {r["comp"] for r in t if r["value"] == "a"}
        assert len(nulls) == 2, (tr, tc)  # NULL strings stay singletons
        assert len(strs) == 1, (tr, tc)


# ---------------------------------------------------------------------------
# trace_rings_tiled: identical output to the whole-component walk
# ---------------------------------------------------------------------------


def _canon_rings(pdf):
    pdf = pdf.copy()
    pdf["xs"] = pdf["xs"].apply(tuple)
    pdf["ys"] = pdf["ys"].apply(tuple)
    return pdf.sort_values(["comp", "ring_idx"], ignore_index=True)


def _single_task_rings(comps, grid=None):
    """trace_cell_rings applied per component of ``comps.toPandas()``,
    mapped to trace_rings_tiled's columns and (col, row) → map grid."""
    from geowombat_spark.operators.polygonize import trace_cell_rings

    g = grid.as_dict() if grid is not None else None
    rows = []
    for comp, cpdf in comps.toPandas().groupby("comp", sort=True):
        cells = set(zip(cpdf["row"].astype(int), cpdf["col"].astype(int)))
        rings = trace_cell_rings(cells)
        for idx, (corners, n_edges, area) in enumerate(rings):
            if g is not None:
                xs = [g["left"] + p[1] * g["cellx"] for p in corners]
                ys = [g["top"] - p[0] * g["celly"] for p in corners]
            else:
                xs = [float(p[1]) for p in corners]
                ys = [float(p[0]) for p in corners]
            rows.append(
                {
                    "comp": int(comp), "value": cpdf["value"].iloc[0],
                    "ring_idx": idx, "is_hole": area < 0,
                    "n_vertices": len(corners), "n_edges": n_edges,
                    "area": abs(area), "xs": xs, "ys": ys,
                }
            )
    return _canon_rings(pd.DataFrame(rows))


@pytest.mark.parametrize("tr,tc", [(1, 1), (2, 2), (3, 5), (16, 16)])
def test_trace_rings_tiled_equals_single_task(spark, tr, tc):
    """The tile-stitched tracer must reproduce the whole-component walk
    (trace_cell_rings) EXACTLY — decomposition, canonical start vertices,
    ring order, vertex arrays — for every tile size, including 1x1 (pure
    stitcher) and tiles larger than the raster (pure local walk). The
    fixture packs the hard cases: a multi-component random field, a hole,
    and the diagonal-pinch cavity whose pinch vertex lands on tile lattice
    lines."""
    from geowombat_spark.operators.polygonize import (
        connected_components_tiled,
        trace_rings_tiled,
    )

    rng = np.random.default_rng(11)
    rr, cc = np.meshgrid(np.arange(24), np.arange(24), indexing="ij")
    vals = rng.integers(0, 3, rr.size)
    pdf = pd.DataFrame({"row": rr.ravel(), "col": cc.ravel(), "value": vals})
    # carve the pinch cavity (XXX / X.X / XX.) at the origin in class 7
    patch = {(0, 0), (0, 1), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1)}
    pdf.loc[
        [i for i, (r, c) in enumerate(zip(pdf["row"], pdf["col"]))
         if (r, c) in patch],
        "value",
    ] = 7
    df = spark.createDataFrame(pdf)
    comps = connected_components_tiled(df, "value").localCheckpoint()
    a = _single_task_rings(comps)
    b = _canon_rings(
        trace_rings_tiled(comps, tile_rows=tr, tile_cols=tc).toPandas()
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_trace_rings_tiled_grid_coords(spark):
    """grid= maps ring vertices to map coordinates identically in the
    tiled tracer and the whole-component walk."""
    from geowombat_spark.operators.polygonize import trace_rings_tiled

    g = GridSpec(
        left=100.0, top=-50.0, cellx=30.0, celly=30.0, nrows=8, ncols=8,
        tile_rows=4, tile_cols=4, nodata=0.0,
    )
    cells = [(r, c) for r in range(3) for c in range(3) if (r, c) != (1, 1)]
    pdf = pd.DataFrame(
        {"row": [r for r, c in cells], "col": [c for r, c in cells],
         "value": 1, "comp": 0}
    )
    df = spark.createDataFrame(pdf)
    a = _single_task_rings(df, grid=g)
    b = _canon_rings(
        trace_rings_tiled(df, grid=g, tile_rows=2, tile_cols=2).toPandas()
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert a["xs"].iloc[0][0] == 100.0 and a["ys"].iloc[0][0] == -50.0


def _winding_inside(px, py, ring):
    """Independent winding-number PIP (vs the engine's even-odd ray cast,
    grid.py point_in_rings): for simple polygons the two rules agree, so
    any disagreement is an arithmetic bug, not a convention choice."""
    r = np.asarray(ring, dtype=np.float64)
    xs, ys = r[0::2], r[1::2]
    if xs[0] != xs[-1] or ys[0] != ys[-1]:
        xs = np.concatenate([xs, xs[:1]])
        ys = np.concatenate([ys, ys[:1]])
    wn = np.zeros(np.asarray(px).shape[0], dtype=np.int64)
    for i in range(xs.shape[0] - 1):
        x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
        wn += ((y1 <= py) & (y2 > py) & (cross > 0)).astype(np.int64)
        wn -= ((y1 > py) & (y2 <= py) & (cross < 0)).astype(np.int64)
    return wn != 0


def _convex_poly(rng, cx, cy, rad, nv):
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    radii = rng.uniform(0.4 * rad, rad, nv)
    xs = cx + radii * np.cos(ang)
    ys = cy + radii * np.sin(ang)
    return [np.stack([xs, ys], axis=1).ravel().tolist()]


def test_rasterize_matches_bruteforce_random(spark):
    """Randomized end-to-end cross-check of polygon_to_array against a
    from-scratch numpy re-derivation of the GDAL rasterize semantics
    (conversion.py:570-833): REFERENCE-grid cell centers over each
    feature's bbox window, center-in-polygon via an INDEPENDENT
    winding-number test, off-grid centers dropped, later feature wins,
    window filled with `fill`. Polygons deliberately overhang the grid on
    all four sides to exercise the off-grid drop path."""
    rng = np.random.default_rng(42_2026)
    # centers pushed near the grid edges -> guaranteed overhang cases
    recs = []
    for i in range(7):
        cx = rng.uniform(-60.0, 1060.0)
        cy = rng.uniform(-1060.0, 60.0)
        rad = rng.uniform(40.0, 160.0)
        recs.append(
            {
                "fid": i,
                "rings": _convex_poly(rng, cx, cy, rad, int(rng.integers(3, 8))),
                "burn": float(i + 1),
            }
        )
    polys = pd.DataFrame(recs)
    out = rz.polygon_to_array(spark, polys, GRID, col="burn", fill=-1.0)
    pdf = out.toPandas().sort_values(["row", "col"]).reset_index(drop=True)

    # ---- brute force ----
    from geowombat_spark.grid import round_window

    allx = np.concatenate([np.asarray(r)[0::2] for rs in polys["rings"] for r in rs])
    ally = np.concatenate([np.asarray(r)[1::2] for rs in polys["rings"] for r in rs])
    row0, row1, col0, col1 = round_window(
        GRID, allx.min(), ally.min(), allx.max(), ally.max(), expand_by=0
    )
    exp = {}
    for _, rec in polys.iterrows():
        ring = rec["rings"][0]
        xs, ys = np.asarray(ring)[0::2], np.asarray(ring)[1::2]
        minx, maxx = xs.min(), xs.max()
        miny, maxy = ys.min(), ys.max()
        # reference-grid cells whose center could fall in the bbox
        ca = int(np.floor((minx - GRID.left) / GRID.cellx))
        cb = int(np.floor((maxx - GRID.left) / GRID.cellx))
        ra = int(np.floor((GRID.top - maxy) / GRID.celly))
        rb = int(np.floor((GRID.top - miny) / GRID.celly))
        rr, cc = np.meshgrid(
            np.arange(ra, rb + 1), np.arange(ca, cb + 1), indexing="ij"
        )
        px = GRID.left + (cc.ravel() + 0.5) * GRID.cellx
        py = GRID.top - (rr.ravel() + 0.5) * GRID.celly
        hit = _winding_inside(px, py, ring)
        px, py = px[hit], py[hit]
        ok = (
            (px >= GRID.left)
            & (px < GRID.left + GRID.ncols * GRID.cellx)
            & (py <= GRID.top)
            & (py > GRID.top - GRID.nrows * GRID.celly)
        )
        gr = np.floor((GRID.top - py[ok]) / GRID.celly).astype(np.int64)
        gc = np.floor((px[ok] - GRID.left) / GRID.cellx).astype(np.int64)
        for a, b in zip(gr, gc):
            exp[(a, b)] = rec["burn"]  # later feature overwrites

    assert len(pdf) == (row1 - row0) * (col1 - col0)
    got = {
        (int(r), int(c)): v
        for r, c, v in pdf[["row", "col", "value"]].values
        if v != -1.0
    }
    assert got == exp
    # every window cell is present exactly once and fill is intact
    n_fill = (pdf["value"] == -1.0).sum()
    assert n_fill == len(pdf) - len(exp)


def test_rasterize_duplicate_fid_parts_burn_own_values(spark):
    """Each ROW is one GDAL feature: duplicate-fid rows with different
    burn values burn their own value on their own cells (the fid-keyed
    burn join used to give every part the LAST row's value)."""
    a = {"fid": 1, "rings": _rect_rings(2.0, -28.0, 38.0, -2.0)}
    b = {"fid": 1, "rings": _rect_rings(62.0, -28.0, 98.0, -2.0)}  # disjoint
    polys = pd.DataFrame([a, b]).assign(burn=[10.0, 20.0])
    out = rz.polygon_to_array(spark, polys, GRID, col="burn", fill=-1.0)
    pdf = out.toPandas()
    a_cells = pdf[(pdf["col"] <= 3) & (pdf["value"] != -1.0)]
    b_cells = pdf[(pdf["col"] >= 6) & (pdf["value"] != -1.0)]
    assert (a_cells["value"] == 10.0).all() and len(a_cells) == 12
    assert (b_cells["value"] == 20.0).all() and len(b_cells) == 12


def test_rasterize_empty_polygons(spark):
    """Zero features: explicit window → all fill; no window → empty frame
    (nothing defines an extent) — not a createDataFrame crash."""
    empty = pd.DataFrame({"fid": [], "rings": []})
    out = rz.polygon_to_array(
        spark, empty, GRID, fill=-1.0, window=(0, 2, 0, 3)
    )
    pdf = out.toPandas()
    assert len(pdf) == 6 and (pdf["value"] == -1.0).all()
    assert rz.polygon_to_array(spark, empty, GRID).count() == 0
