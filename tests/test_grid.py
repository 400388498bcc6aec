"""Golden tests for the grid kernel library.

Golden values ported from the reference's committed expectations:
- align_bounds res=1.67 ⇒ left=-100.19999999999999
  (/root/reference/tests/test_rasterio.py:28-55)
- bbox→window 20×20 (/root/reference/tests/test_rasterio.py:57-65)
- 256×256 preserved under 1e-10-short bounds
  (/root/reference/tests/test_bounds_rounding.py:20-58)
- polygon sample centers x=737544.502430237+15+30k, y=maxy-15
  (/root/reference/tests/test_extract.py:75-119)
"""

import numpy as np
import pytest

from geowombat_spark.grid import (
    L8_GRID,
    GridSpec,
    align_bounds,
    bbox_cover_tiles,
    bounds_to_shape,
    coords_to_rowcol,
    kring_cells,
    point_in_rings,
    polygon_sample_centers,
    rowcol_to_center_coords,
    round_window,
    unpack_bounding_box,
    unpack_window,
    window_from_bounds,
    window_to_bounds,
    zorder_decode,
    zorder_encode,
)
from geowombat_spark.fixtures import AOI_POINTS, AOI_POLYGONS


def test_align_bounds_exact_res():
    transform, w, h = align_bounds(-100.0, -100.0, 100.0, 100.0, (2.0, 2.0))
    assert transform == (2.0, 0.0, -100.0, 0.0, -2.0, 100.0)
    assert (w, h) == (100, 100)

    transform, w, h = align_bounds(-100.0, -100.0, 100.0, 100.0, 2.0)
    assert transform == (2.0, 0.0, -100.0, 0.0, -2.0, 100.0)


def test_align_bounds_inexact_res_golden():
    # /root/reference/tests/test_rasterio.py:47-55
    transform, w, h = align_bounds(-100.0, -100.0, 100.0, 100.0, 1.67)
    assert transform == (1.67, 0.0, -100.19999999999999, 0.0, -1.67, 100.19999999999999)


def test_bounds_to_shape_rounds_not_truncates():
    # /root/reference/tests/test_bounds_rounding.py:20-58 — the open path
    # uses int(round(...)) (rasterio_.py:763-764, issue #325), not floor.
    left, bottom, res = 0.0, 0.0, 10.0
    right = left + 256 * res - 1e-10
    top = bottom + 256 * res - 1e-10
    w, h = bounds_to_shape(left, bottom, right, top, res)
    assert (w, h) == (256, 256)


def test_window_from_bounds_golden():
    # /root/reference/tests/test_rasterio.py:57-65
    row_off, col_off, height, width = window_from_bounds(-100, -100, 100, 100, (10, 10))
    assert (height, width) == (20, 20)


def test_unpack_bounding_box_golden():
    # /root/reference/tests/test_rasterio.py:115-124
    s = "BoundingBox(left=-100, bottom=-100, right=100, top=100)"
    assert unpack_bounding_box(s) == (-100.0, -100.0, 100.0, 100.0)
    # field order in the repr is free
    s = "BoundingBox(top=4, right=3, bottom=2, left=1)"
    assert unpack_bounding_box(s) == (1.0, 2.0, 3.0, 4.0)
    with pytest.raises(ValueError):
        unpack_bounding_box("BoundingBox(left=1, right=2)")


def test_unpack_window_golden():
    # /root/reference/tests/test_rasterio.py:126-130 — returned in the
    # (row_off, col_off, height, width) order used engine-wide.
    s = "Window(col_off=0, row_off=0, width=100, height=100)"
    assert unpack_window(s) == (0, 0, 100, 100)
    s = "Window(col_off=3, row_off=7, width=20, height=10)"
    assert unpack_window(s) == (7, 3, 10, 20)
    with pytest.raises(ValueError):
        unpack_window("Window(col_off=0)")
    # integer-VALUED floats (Window reprs print 3.0) parse; fractional
    # offsets raise like the reference's bare int(str) — truncating
    # toward zero would shift the window up to one pixel
    s = "Window(col_off=3.0, row_off=7.0, width=20.0, height=10.0)"
    assert unpack_window(s) == (7, 3, 10, 20)
    with pytest.raises(ValueError, match="non-integer"):
        unpack_window("Window(col_off=3.5, row_off=0, width=20, height=10)")
    with pytest.raises(ValueError, match="non-integer"):
        unpack_window("Window(col_off=0, row_off=-0.5, width=20, height=10)")


def test_window_to_bounds_golden():
    # /root/reference/tests/test_rasterio.py:132-151: left/top from the
    # affine at the window origin; right = left + width*res,
    # bottom = top - height*res.
    g = L8_GRID
    left, bottom, right, top = window_to_bounds(g, 0, 0, 100, 100)
    assert (left, top) == (g.left, g.top)
    assert right == g.left + 100 * g.cellx
    assert bottom == g.top - 100 * g.celly
    # offset window + repr round-trip through unpack_window
    w = unpack_window("Window(col_off=5, row_off=2, width=4, height=3)")
    left, bottom, right, top = window_to_bounds(g, *w)
    assert left == g.left + 5 * g.cellx
    assert top == g.top - 2 * g.celly
    assert right == left + 4 * g.cellx
    assert bottom == top - 3 * g.celly


def test_coords_roundtrip_centers():
    rows = np.array([0, 5, 2047])
    cols = np.array([0, 7, 2047])
    x, y = rowcol_to_center_coords(L8_GRID, rows, cols)
    r2, c2 = coords_to_rowcol(L8_GRID, x, y)
    np.testing.assert_array_equal(rows, r2)
    np.testing.assert_array_equal(cols, c2)


def test_aoi_points_map_to_expected_cells():
    xs = np.array([p["x"] for p in AOI_POINTS])
    ys = np.array([p["y"] for p in AOI_POINTS])
    row, col = coords_to_rowcol(L8_GRID, xs, ys)
    np.testing.assert_array_equal(row, [1140, 982, 939, 1157, 1367, 1719])
    np.testing.assert_array_equal(col, [797, 618, 944, 715, 673, 1387])


def test_zorder_roundtrip_and_locality():
    rng = np.random.default_rng(42)
    rows = rng.integers(0, 2**31 - 1, size=1000)
    cols = rng.integers(0, 2**31 - 1, size=1000)
    z = zorder_encode(rows, cols)
    r2, c2 = zorder_decode(z)
    np.testing.assert_array_equal(rows, r2)
    np.testing.assert_array_equal(cols, c2)
    # locality: 2x2 blocks are contiguous
    z00 = zorder_encode(np.array([0]), np.array([0]))[0]
    z01 = zorder_encode(np.array([0]), np.array([1]))[0]
    z10 = zorder_encode(np.array([1]), np.array([0]))[0]
    z11 = zorder_encode(np.array([1]), np.array([1]))[0]
    assert sorted([z00, z01, z10, z11]) == [0, 1, 2, 3]


def test_kring():
    origin, nr, nc = kring_cells(L8_GRID, np.array([0]), np.array([0]), 1)
    # corner cell: only 4 of 9 in range
    assert len(nr) == 4
    origin, nr, nc = kring_cells(L8_GRID, np.array([100, 200]), np.array([100, 200]), 2)
    assert len(nr) == 50  # 25 each
    np.testing.assert_array_equal(np.bincount(origin), [25, 25])


def test_pip_square_even_odd():
    # unit square with a hole
    outer = np.array([0, 0, 10, 0, 10, 10, 0, 10, 0, 0], dtype=float)
    hole = np.array([4, 4, 6, 4, 6, 6, 4, 6, 4, 4], dtype=float)
    px = np.array([5.0, 1.0, 11.0, 5.0])
    py = np.array([5.0, 1.0, 5.0, 4.5])
    hit = point_in_rings(px, py, [outer, hole])
    np.testing.assert_array_equal(hit, [False, True, False, False])
    hit = point_in_rings(px, py, [outer])
    np.testing.assert_array_equal(hit, [True, True, False, True])


def test_polygon_sample_centers_golden():
    """The flagship registration golden: water polygon first-10 centers.

    /root/reference/tests/test_extract.py:75-119 pins
    x = 737559.50243024 + 30k (k=0..9), y = -2795247.77178369 row-major.
    """
    water = AOI_POLYGONS[0]
    cx, cy = polygon_sample_centers(
        [np.asarray(r) for r in water["rings"]], 30.0, 30.0
    )
    assert cx.shape[0] >= 10
    np.testing.assert_allclose(
        cx[:10], 737559.502430237 + 30.0 * np.arange(10), rtol=0, atol=1e-6
    )
    np.testing.assert_allclose(cy[:10], np.full(10, -2795247.7717836937), atol=1e-6)


def test_round_window_and_tile_cover():
    g = GridSpec(left=0.0, top=1000.0, cellx=10.0, celly=10.0, nrows=100, ncols=100, tile_rows=32, tile_cols=32)
    r0, r1, c0, c1 = round_window(g, 100.0, 500.0, 200.0, 600.0)
    assert (r0, r1, c0, c1) == (40, 50, 10, 20)
    tiles = bbox_cover_tiles(g, 100.0, 500.0, 200.0, 600.0)
    assert tiles == [4]  # rows 40-49 → tile row 1, cols 10-19 → tile col 0... (tiles_x=4)
    tiles = bbox_cover_tiles(g, 0.0, 0.0, 1000.0, 1000.0)
    assert len(tiles) == 16


def _holed_polygon(rng, res, snap):
    """Random concave star polygon with a triangular hole, in units of
    ``res``; ``snap='corner'`` rounds every vertex onto a lattice corner
    (edges then run along lattice lines — the any-touch edge case),
    ``snap='half'`` onto the half-cell lattice."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, 9))
    rad = res * rng.uniform(2.5, 9.0, 9)
    cx, cy = res * rng.uniform(-5.0, 5.0, 2)
    a = np.array([0.0, 2.1, 4.2]) + rng.uniform(0.0, 1.0)
    rings = [
        np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1),
        np.stack([cx + 1.5 * res * np.cos(a), cy + 1.5 * res * np.sin(a)], axis=1),
    ]
    if snap == "corner":
        rings = [np.round(r / res) * res for r in rings]
    elif snap == "half":
        rings = [np.round(2.0 * r / res) * res / 2.0 for r in rings]
    return [r.ravel() for r in rings]


@pytest.mark.parametrize(
    "res,snap,lattice",
    [(1.0, "fixed", "local")]
    + [
        (res, snap, lattice)
        for res in (1.0, 0.7, 30.0)
        for snap in ("free", "corner")
        for lattice in ("local", "anchored")
    ],
)
def test_all_touched_exact_matches_sat_bruteforce(res, snap, lattice):
    """The scanline cover kernel against brute force over EVERY cell of the
    lattice: centre-in runs == ``point_in_rings`` at the cell centres, and
    all_touched runs == ``point_in_rings | rects_touch_rings`` (the
    independent separating-axis rect-vs-polygon test — exact GDAL
    any-touch). Bbox-local (extract) and grid-anchored (rasterize, mask)
    lattices; free vertices and vertices snapped onto cell corners."""
    import numpy as np
    from geowombat_spark.grid import (
        point_in_rings,
        polygon_cover_runs,
        polygon_local_grid,
        polygon_sample_centers,
        rects_touch_rings,
        runs_to_cells,
    )

    resx = resy = res
    anchor = None if lattice == "local" else (-7.0 * res, 5.0 * res)
    if snap == "fixed":
        # concave polygon with a hole, vertices off-lattice
        exterior = np.array(
            [0.3, 0.2, 9.7, 0.6, 9.1, 8.8, 5.2, 4.1, 1.1, 9.3, 0.3, 0.2]
        )
        hole = np.array([2.1, 2.2, 3.9, 2.4, 3.1, 3.8, 2.1, 2.2])
        rings = [exterior, hole]

        cx, cy = polygon_sample_centers(rings, resx, resy, all_touched=True)
        got = set(zip(np.round(cx, 9), np.round(cy, 9)))

        # brute force over the full bbox lattice
        allx = np.concatenate([r[0::2] for r in rings])
        ally = np.concatenate([r[1::2] for r in rings])
        minx, maxx = allx.min(), allx.max()
        miny, maxy = ally.min(), ally.max()
        nrows, ncols = polygon_local_grid(minx, miny, maxx, maxy, resx, resy)
        rr, cc = np.meshgrid(np.arange(nrows), np.arange(ncols), indexing="ij")
        px = minx + (cc.ravel() + 0.5) * resx
        py = maxy - (rr.ravel() + 0.5) * resy
        hit = point_in_rings(px, py, rings) | rects_touch_rings(
            px, py, resx / 2.0, resy / 2.0, rings
        )
        want = set(zip(np.round(px[hit], 9), np.round(py[hit], 9)))
        assert got == want
        # sanity: any-touch strictly grows the center-only set
        cx0, cy0 = polygon_sample_centers(rings, resx, resy, all_touched=False)
        assert len(got) > len(cx0)
        cases = [rings]
    else:
        rng = np.random.default_rng([int(res * 10), len(snap), len(lattice)])
        cases = [_holed_polygon(rng, res, snap) for _ in range(12)]

    for rings in cases:
        allx = np.concatenate([r[0::2] for r in rings])
        ally = np.concatenate([r[1::2] for r in rings])
        if anchor is None:
            ox, oy = allx.min(), ally.max()
            nr, nc = polygon_local_grid(
                allx.min(), ally.min(), allx.max(), ally.max(), resx, resy
            )
            rr, cc = np.meshgrid(np.arange(nr), np.arange(nc), indexing="ij")
        else:
            ox, oy = anchor
            # the bbox's cells plus two rings of cells around them
            c0 = int(np.floor((allx.min() - ox) / resx)) - 2
            c1 = int(np.floor((allx.max() - ox) / resx)) + 3
            r0 = int(np.floor((oy - ally.max()) / resy)) - 2
            r1 = int(np.floor((oy - ally.min()) / resy)) + 3
            rr, cc = np.meshgrid(
                np.arange(r0, r1), np.arange(c0, c1), indexing="ij"
            )
        rr, cc = rr.ravel(), cc.ravel()
        px = ox + (cc + 0.5) * resx
        py = oy - (rr + 0.5) * resy
        inside = point_in_rings(px, py, rings)
        touched = inside | rects_touch_rings(px, py, resx / 2.0, resy / 2.0, rings)
        for all_touched, want in ((False, inside), (True, touched)):
            _, _, runs = polygon_cover_runs(rings, resx, resy, all_touched, anchor)
            r, c = runs_to_cells(runs)
            assert len(set(zip(r, c))) == len(r), "runs overlap"
            assert set(zip(r.tolist(), c.tolist())) == set(
                zip(rr[want].tolist(), cc[want].tolist())
            ), (all_touched, rings)


def _expand_runs(runs, cellx):
    """What the executors derive per cell from the polygon run table."""
    from geowombat_spark.grid import runs_to_cells

    n = (runs["_run_c1"] - runs["_run_c0"]).to_numpy()
    row, col = runs_to_cells(runs[["_run_row", "_run_c0", "_run_c1"]].to_numpy())
    rep = {c: np.repeat(runs[c].to_numpy(), n) for c in ("fid", "_p0", "_lc", "_ox", "y")}
    x = rep["_ox"] + ((col + rep["_lc"]) + 0.5) * cellx
    return rep["fid"], rep["_p0"] + col, row, col, x, rep["y"]


@pytest.mark.parametrize("frac", [1.0, 0.3])
@pytest.mark.parametrize("all_touched", [False, True])
@pytest.mark.parametrize(
    "res,snap", [(res, snap) for res in (1.0, 0.7, 30.0) for snap in ("free", "half")]
)
def test_polygon_grid_runs_match_per_cell_samples(res, snap, all_touched, frac):
    """The extract run table, expanded, equals the per-cell samples bit for
    bit: ``polygon_sample_centers`` (subsampled by the same seeded draw),
    in-grid by ``in_bounds_mask``, grid cell by ``coords_to_rowcol(clamp=
    True)``. The grid sits on the cell lattice and the polygons overhang
    it; half-cell-snapped vertices put sample centres on grid-cell edges,
    where the local→grid column map steps by 0 or 2."""
    import pandas as pd

    from geowombat_spark.operators.extract import _polygon_runs, in_bounds_mask

    grid = GridSpec(left=-6 * res, top=5 * res, cellx=res, celly=res, nrows=11, ncols=13)
    rng = np.random.default_rng([int(res * 10), len(snap), int(all_touched)])
    polys = pd.DataFrame(
        {"fid": [3, 5, 3, 9, 5, 4],
         "rings": [_holed_polygon(rng, res, snap) for _ in range(6)]}
    )
    runs, _ = _polygon_runs(polys, grid, frac=frac, all_touched=all_touched, seed=7)
    got = _expand_runs(runs[runs["_in"]], grid.cellx)
    every = _expand_runs(runs, grid.cellx)  # sample_polygons: off-grid too

    want, everyw, parts = [], [], {}
    for fid, rs in zip(polys["fid"], polys["rings"]):
        ri, start = parts.get(fid, (0, 0))
        cx, cy = polygon_sample_centers(rs, res, res, all_touched)
        if frac < 1.0:
            draw = np.random.default_rng(7 + fid + 7919 * ri)
            idx = np.sort(draw.choice(cx.shape[0], int(cx.shape[0] * frac), replace=False))
            cx, cy = cx[idx], cy[idx]
        parts[fid] = (ri + 1, start + cx.shape[0])
        everyw.append((np.full(cx.shape[0], fid), np.arange(start, start + cx.shape[0]), cx, cy))
        ok = in_bounds_mask(cx, cy, grid)
        row, col = coords_to_rowcol(grid, cx[ok], cy[ok], clamp=True)
        point = np.arange(start, start + cx.shape[0])[ok]
        want.append((np.full(row.shape[0], fid), point, row, col, cx[ok], cy[ok]))
    want = [np.concatenate(a) for a in zip(*want)]
    assert want[0].shape[0] > 0
    order_g = np.lexsort((got[1], got[0]))
    order_w = np.lexsort((want[1], want[0]))
    for g, w in zip(got, want):
        assert np.array_equal(g[order_g], w[order_w])
    everyw = [np.concatenate(a) for a in zip(*everyw)]
    assert everyw[0].shape[0] > want[0].shape[0]  # the polygons overhang
    for g, w in zip(every[:2] + every[4:], everyw):  # in sample_polygons' order
        assert np.array_equal(g, w)


def test_paint_runs_later_feature_wins():
    """The run painter equals expanding every feature's cells and keeping
    the last feature per cell (``drop_duplicates(keep='last')``)."""
    import pandas as pd

    from geowombat_spark.grid import paint_runs, polygon_cover_runs, runs_to_cells

    rng = np.random.default_rng(11)
    for _ in range(30):
        runs = [
            polygon_cover_runs(_holed_polygon(rng, 1.0, "free"), 1.0, 1.0,
                               bool(rng.integers(2)), (-7.0, 5.0))[2]
            for _ in range(int(rng.integers(1, 6)))
        ]
        painted = paint_runs(runs)
        row, col = runs_to_cells(painted[:, :3])
        got = pd.DataFrame(
            {"row": row, "col": col,
             "f": np.repeat(painted[:, 3], painted[:, 2] - painted[:, 1])}
        )
        cells = [runs_to_cells(r) for r in runs]
        want = pd.DataFrame(
            {"row": np.concatenate([r for r, _ in cells]),
             "col": np.concatenate([c for _, c in cells]),
             "f": np.repeat(np.arange(len(runs)), [r.shape[0] for r, _ in cells])}
        ).drop_duplicates(["row", "col"], keep="last")
        key = ["row", "col"]
        assert got.duplicated(key).sum() == 0
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
        )


def test_polygon_grid_runs_stay_runs_for_a_large_square():
    """A 4000×4000-cell square crosses to the executors as 4,000 runs,
    not 16M cells."""
    import pandas as pd

    from geowombat_spark.operators.extract import _polygon_runs

    grid = GridSpec(left=0.0, top=20000.0, cellx=1.0, celly=1.0, nrows=20000, ncols=20000)
    sq = [np.array([1000.0, 15000.0, 5000.0, 15000.0, 5000.0, 19000.0,
                    1000.0, 19000.0, 1000.0, 15000.0])]
    runs, _ = _polygon_runs(pd.DataFrame({"fid": [1], "rings": [sq]}), grid)
    assert len(runs) == 4000 and runs["_in"].all()
    assert int((runs["_run_c1"] - runs["_run_c0"]).sum()) == 4000 * 4000


# ---------------------------------------------------------------------------
# Hilbert curve
# ---------------------------------------------------------------------------


def test_hilbert_bijection_and_adjacency():
    """Defining Hilbert property: the index is a bijection on the 2^k grid
    and consecutive indices are always 4-neighbors (no Z-order seam
    jumps) — the write-locality guarantee the sink ordering relies on."""
    from geowombat_spark.grid import hilbert_decode, hilbert_encode

    order = 6
    n = 1 << order
    rr, cc = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    d = hilbert_encode(rr.ravel(), cc.ravel(), order)
    assert sorted(d.tolist()) == list(range(n * n))
    r2, c2 = hilbert_decode(np.arange(n * n), order)
    assert (hilbert_encode(r2, c2, order) == np.arange(n * n)).all()
    step = np.abs(np.diff(r2)) + np.abs(np.diff(c2))
    assert (step == 1).all()


def test_hilbert_column_matches_numpy(spark):
    import pandas as pd

    from geowombat_spark.grid import hilbert_encode, with_hilbert_column

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "row": rng.randint(0, 1 << 13, 2000),
            "col": rng.randint(0, 1 << 13, 2000),
        }
    )
    out = with_hilbert_column(spark.createDataFrame(pdf), order=13).toPandas()
    expect = hilbert_encode(out["row"].values, out["col"].values, 13)
    assert (out["hilbert_id"].values == expect).all()


def test_zorder_column_matches_numpy(spark):
    """with_zorder_column (the JVM Z-order every encode and bench.py's
    corpus use) equals zorder_encode on random indices up to 2^31 - 1 and
    across the 32-bit truncation both apply (``& 0xFFFFFFFF``)."""
    from geowombat_spark.grid import with_zorder_column

    rng = np.random.default_rng(12)
    edges = [0, 1, (1 << 16) - 1, 1 << 16, (1 << 31) - 1, 1 << 31,
             (1 << 32) - 1, 1 << 32, (1 << 32) + 5, -1]
    rows = np.concatenate([rng.integers(0, 1 << 31, 2000), np.repeat(edges, len(edges))])
    cols = np.concatenate([rng.integers(0, 1 << 31, 2000), np.tile(edges, len(edges))])
    df = spark.createDataFrame(
        [(i, int(r), int(c)) for i, (r, c) in enumerate(zip(rows, cols))],
        "i long, row long, col long",
    )
    enc = with_zorder_column(df)
    assert dict(enc.dtypes)["cell_id"] == "bigint"
    got = enc.orderBy("i").toPandas()
    np.testing.assert_array_equal(got["cell_id"].to_numpy(), zorder_encode(rows, cols))
