"""Focal halo-exchange, SeriesStats, and k-ring kNN tests.

The chunk-border equality test replicates the contract of
/root/reference/tests/test_moving.py:48-56: focal values at cells straddling
tile borders must equal the global (single-array) computation.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import GridSpec, zorder_encode
from geowombat_spark.operators.focal import moving
from geowombat_spark.operators.knn import knn_join, near_pairs
from geowombat_spark.operators.temporal import group_dates, series_stats

SMALL = GridSpec(
    left=0.0, top=2560.0, cellx=10.0, celly=10.0,
    nrows=256, ncols=256, tile_rows=128, tile_cols=128,
)


def _small_pdf():
    rr, cc = np.meshgrid(np.arange(256), np.arange(256), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    v = ((rr * 131 + cc * 7) % 9000 + 1000).astype(np.float64)
    v[(rr < 10) & (cc < 10)] = 0.0  # nodata stripe
    return pd.DataFrame(
        {
            "row": rr,
            "col": cc,
            "cell_id": zorder_encode(rr, cc),
            "tile_id": SMALL.tile_id(rr, cc),
            "x": SMALL.left + (cc + 0.5) * 10.0,
            "y": SMALL.top - (rr + 0.5) * 10.0,
            "band_blue": v,
        }
    )


@pytest.fixture(scope="module")
def small_docs(spark):
    return spark.createDataFrame(_small_pdf()).repartition(8, "tile_id")


def _numpy_focal(stat, w):
    pdf = _small_pdf()
    arr = np.full((256, 256), np.nan)
    arr[pdf["row"], pdf["col"]] = pdf["band_blue"].values
    arr[arr == 0.0] = np.nan
    hw = w // 2
    pad = np.full((256 + 2 * hw, 256 + 2 * hw), np.nan)
    pad[hw:-hw, hw:-hw] = arr
    win = np.lib.stride_tricks.sliding_window_view(pad, (w, w)).reshape(256, 256, -1)
    with np.errstate(invalid="ignore"):
        if stat == "mean":
            res = np.nanmean(win, axis=2)
        elif stat == "max":
            res = np.nanmax(win, axis=2)
        elif stat == "std":
            res = np.nanstd(win, axis=2)
        elif stat == "min":
            res = np.nanmin(win, axis=2)
        elif stat == "var":
            res = np.nanvar(win, axis=2)
        elif stat == "perc":
            res = np.nanpercentile(win, 50, axis=2)  # moving's default perc
        elif stat == "sum":
            res = np.where(
                np.isnan(win).all(axis=2), np.nan, np.nansum(win, axis=2)
            )
        else:
            raise ValueError(stat)
    # reference parity (_moving.pyx): an all-nodata window refills with
    # the nodata value (0.0 here), it does not emit NaN
    return np.where(np.isnan(res), 0.0, res)


@pytest.mark.parametrize(
    "stat,w",
    [("mean", 3), ("max", 5), ("std", 3),
     ("min", 3), ("sum", 5), ("var", 3), ("perc", 3)],
)
def test_moving_matches_global(spark, small_docs, stat, w):
    out = moving(small_docs, SMALL, stat=stat, w=w, nodata=0.0).toPandas()
    expected = _numpy_focal(stat, w)
    got = np.full((256, 256), np.nan)
    got[out["row"], out["col"]] = out[f"band_blue_{stat}"].values
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)


def test_moving_chunk_border_cells(spark, small_docs):
    """Cells at tile borders (row/col 127/128) equal the global computation
    — the halo-width correctness contract (test_moving.py:48-56)."""
    out = moving(small_docs, SMALL, stat="mean", w=5, nodata=0.0).toPandas()
    expected = _numpy_focal("mean", 5)
    border = out[out["row"].isin([126, 127, 128, 129]) | out["col"].isin([126, 127, 128, 129])]
    assert len(border) > 0
    np.testing.assert_allclose(
        border["band_blue_mean"].values,
        expected[border["row"], border["col"]],
        rtol=1e-12,
    )


# ---------------------------------------------------------------------------
# SeriesStats
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def series_docs(spark):
    times = [f"t{i}" for i in range(8)]
    rows = []
    series = {
        0: [5.0, 7.0, 9.0, 11.0, 10.0, 8.0, 6.0, 4.0],
        1: [1.0, 0.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0],  # contains nodata (0)
    }
    for cid, vals in series.items():
        for i, t in enumerate(times):
            rows.append((cid, cid, cid, float(cid), float(cid), t, vals[i]))
    pdf = pd.DataFrame(
        rows, columns=["cell_id", "row", "col", "x", "y", "t", "band_blue"]
    )
    return spark.createDataFrame(pdf), series, times


def test_series_stats_formulas(spark, series_docs):
    df, series, times = series_docs
    stats = ["mean", "max", "min", "amp", "cv", "median", "percentile_25",
             "norm_abs_energy", "abs_slope_q1", "abs_slope_q4", "mean_abs_diff"]
    out = series_stats(df, stats, time_names=times).toPandas().set_index("cell_id")

    def expect(vals):
        v = np.array(vals, dtype=float)
        v[v == 0.0] = np.nan
        T = len(v)
        res = {
            "mean": np.nanmean(v),
            "max": np.nanmax(v),
            "min": np.nanmin(v),
            "amp": np.nanmax(v) - np.nanmin(v),
            "cv": np.nanstd(v) / (np.nanmean(v) + 1e-9),
            "median": np.nanmedian(v),
            "percentile_25": np.nanpercentile(v, 25),
            "norm_abs_energy": np.nansum(v**2) / (np.nanmax(v) ** 2 * T),
        }
        # quarter slopes vs t index (nodata rows excluded)
        def slope(lo, hi):
            idx = np.arange(T, dtype=float)
            m = ~np.isnan(v) & (idx >= lo) & (idx < hi)
            if m.sum() < 2:
                return np.nan
            return np.polyfit(idx[m], v[m], 1)[0]
        for q, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6), (6, 8)], start=1):
            s = abs(slope(lo, hi))
            res[f"abs_slope_q{q}"] = min(max(s / 0.05, 0.0), 1.0)
        d = np.abs(np.diff(v))
        res["mean_abs_diff"] = min(max(np.nanmean(d) / 0.05, 0.0), 1.0)
        return res

    for cid, vals in series.items():
        exp = expect(vals)
        for s in ["mean", "max", "min", "amp", "cv", "median", "percentile_25",
                  "norm_abs_energy", "abs_slope_q1", "abs_slope_q4"]:
            np.testing.assert_allclose(out.loc[cid, s], exp[s], rtol=1e-9, err_msg=s)
    # mean_abs_diff: cell 0 has no nodata → exact ordered-fold parity
    np.testing.assert_allclose(out.loc[0, "mean_abs_diff"], expect(series[0])["mean_abs_diff"], rtol=1e-9)


def test_group_dates(spark):
    pdf = pd.DataFrame(
        {
            "cell_id": [1, 1, 1, 1],
            "row": 0, "col": 0, "x": 0.0, "y": 0.0,
            "t": ["d1", "d1", "d2", "d2"],
            "band_blue": [4.0, 6.0, 0.0, 8.0],
        }
    )
    out = group_dates(spark.createDataFrame(pdf)).toPandas().set_index("t")
    assert out.loc["d1", "band_blue"] == 5.0
    assert out.loc["d2", "band_blue"] == 8.0  # nodata-aware mean (series.py:258-286)


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _pts(spark, coords, id_col="doc_id"):
    rows = []
    for i, (x, y) in enumerate(coords):
        c = int((x - SMALL.left) / SMALL.cellx)
        r = int((SMALL.top - y) / SMALL.celly)
        rows.append((f"p{i}", r, c, zorder_encode(np.array([r]), np.array([c]))[0], x, y))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[id_col, "row", "col", "cell_id", "x", "y"])
    )


def test_near_pairs(spark):
    # p4-p5 sit at EXACTLY min_dist: the bound is inclusive (scipy
    # query_pairs / thin_min_dist use <=), and grid-derived points land
    # on exact cell-multiple distances all the time
    pts = _pts(spark, [(100.0, 100.0), (105.0, 100.0), (500.0, 500.0),
                       (508.0, 500.0), (1000.0, 1000.0), (1010.0, 1000.0)])
    out = near_pairs(pts, SMALL, min_dist=10.0).toPandas()
    pairs = set(map(tuple, out[["a_id", "b_id"]].values))
    assert pairs == {("p0", "p1"), ("p2", "p3"), ("p4", "p5")}
    np.testing.assert_allclose(sorted(out["dist"]), [5.0, 8.0, 10.0])


def test_knn_join(spark):
    targets = _pts(spark, [(100.0, 100.0), (110.0, 100.0), (130.0, 100.0), (2000.0, 2000.0)])
    queries = _pts(spark, [(101.0, 100.0)], id_col="qid")
    out = knn_join(queries, targets, SMALL, k_neighbors=2, k_ring=4).toPandas()
    assert list(out.sort_values("rank")["doc_id"]) == ["p0", "p1"]


def test_moving_weighted_matches_numpy(spark, small_docs):
    """weights=True: inverse-distance weighted mean matches a hand numpy
    computation of sum(w*v)/sum(w) with the reference's weight matrix
    (_moving.pyx:374-383)."""
    from geowombat_spark.operators.focal import moving, window_weights

    w = 3
    out = moving(
        small_docs, SMALL, stat="mean", w=w, nodata=0.0, weights=True
    ).toPandas()
    pdf = _small_pdf()
    arr = np.full((256, 256), np.nan)
    arr[pdf["row"], pdf["col"]] = pdf["band_blue"].values
    arr[arr == 0.0] = np.nan
    hw = w // 2
    pad = np.full((256 + 2 * hw, 256 + 2 * hw), np.nan)
    pad[hw:-hw, hw:-hw] = arr
    win = np.lib.stride_tricks.sliding_window_view(pad, (w, w)).reshape(
        256, 256, -1
    )
    wt = window_weights(w).ravel()
    valid = ~np.isnan(win)
    num = np.where(valid, win * wt, 0.0).sum(axis=2)
    den = (valid * wt).sum(axis=2)
    with np.errstate(invalid="ignore", divide="ignore"):
        expected = num / den
    # reference parity: all-nodata windows refill with nodata (0.0)
    expected = np.where(np.isnan(expected), 0.0, expected)
    got = np.full((256, 256), np.nan)
    got[out["row"], out["col"]] = out["band_blue_mean"].values
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)


@pytest.mark.parametrize("stat", ["var", "std"])
def test_moving_weighted_var_std_matches_numpy(spark, small_docs, stat):
    """weights=True var/std equal the reference's weighted kernel math
    (_moving.pyx:51-112): mean = sum(w*v)/sum(w), var = sum((w*v -
    mean)^2)/sum(w) over the valid cells, std = sqrt(var)."""
    from geowombat_spark.operators.focal import window_weights

    w = 5
    out = moving(
        small_docs, SMALL, stat=stat, w=w, nodata=0.0, weights=True
    ).toPandas()
    pdf = _small_pdf()
    arr = np.full((256, 256), np.nan)
    arr[pdf["row"], pdf["col"]] = pdf["band_blue"].values
    arr[arr == 0.0] = np.nan
    hw = w // 2
    pad = np.full((256 + 2 * hw, 256 + 2 * hw), np.nan)
    pad[hw:-hw, hw:-hw] = arr
    flat = np.lib.stride_tricks.sliding_window_view(pad, (w, w)).reshape(
        256, 256, -1
    )
    wflat = window_weights(w).ravel()
    valid = ~np.isnan(flat)
    wv = np.where(valid, flat * wflat, 0.0)
    wsum = (valid * wflat).sum(axis=2)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = wv.sum(axis=2) / wsum
        var = (
            np.where(valid, (flat * wflat - mean[..., None]) ** 2, 0.0).sum(axis=2)
            / wsum
        )
    expected = var if stat == "var" else np.sqrt(var)
    expected = np.where(np.isnan(expected), 0.0, expected)
    got = np.full((256, 256), np.nan)
    got[out["row"], out["col"]] = out[f"band_blue_{stat}"].values
    np.testing.assert_allclose(got, expected, rtol=1e-12, equal_nan=True)


def test_moving_skips_nan_and_carries_array_keep(spark):
    """NaN band values are skipped like nodata; with nodata=None an
    all-NaN window is NULL (no refill). An array-typed keep column rides
    through on each cell's own row."""
    g = GridSpec(left=0.0, top=80.0, cellx=10.0, celly=10.0,
                 nrows=8, ncols=8, tile_rows=4, tile_cols=4)
    rr, cc = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    v = (rr * 8 + cc).astype(np.float64)
    v[(rr <= 2) & (cc <= 2)] = np.nan  # (0,0)'s whole window is NaN
    v[(rr == 5) & (cc == 6)] = np.nan
    # built from rows, not pandas: Arrow would turn the NaNs into NULLs
    df = spark.createDataFrame(
        [
            (int(r), int(c), int(z), float(x), [int(r), int(c)])
            for r, c, z, x in zip(rr, cc, zorder_encode(rr, cc), v)
        ],
        "row long, col long, cell_id long, band_blue double, tags array<long>",
    )
    assert df.where(F.isnan("band_blue")).count() == 10
    out = moving(
        df, g, stat="mean", w=3, nodata=None, keep=("tags",)
    ).toPandas()
    assert len(out) == 64
    assert [list(t) for t in out["tags"]] == [
        [r, c] for r, c in zip(out["row"], out["col"])
    ]
    arr = v.reshape(8, 8)
    pad = np.full((10, 10), np.nan)
    pad[1:-1, 1:-1] = arr
    win = np.lib.stride_tricks.sliding_window_view(pad, (3, 3)).reshape(8, 8, -1)
    with np.errstate(invalid="ignore"):
        want = np.nanmean(win, axis=2)
    got = np.full((8, 8), np.inf)
    got[out["row"], out["col"]] = out["band_blue_mean"].astype(float).values
    assert np.isnan(got[0, 0])
    np.testing.assert_allclose(got, want, rtol=1e-12, equal_nan=True)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_moving_cell_with_two_rows(spark, id_type):
    """The input holds one row per cell; two rows in one cell both count
    in every window that holds the cell. With fixed-width home columns the
    cell yields one output row; a string ``keep`` column joins the home
    rows back, so each of the two rows gets its own output row."""
    g = GridSpec(left=0.0, top=40.0, cellx=10.0, celly=10.0,
                 nrows=4, ncols=4, tile_rows=2, tile_cols=2)
    rows = [(r, c, 1.0) for r in range(4) for c in range(4) if (r, c) != (1, 1)]
    rows += [(1, 1, 10.0), (1, 1, 30.0)]
    cast = str if id_type == "string" else int
    df = spark.createDataFrame(
        [
            (cast(i), r, c, int(zorder_encode(np.array([r]), np.array([c]))[0]), v)
            for i, (r, c, v) in enumerate(rows)
        ],
        f"doc_id {id_type}, row long, col long, cell_id long, band_blue double",
    )
    out = moving(
        df, g, stat="mean", w=3, nodata=None, keep=("doc_id",)
    ).toPandas()
    dup = out[(out["row"] == 1) & (out["col"] == 1)]
    if id_type == "long":
        assert len(out) == 16
        assert len(dup) == 1 and dup["doc_id"].iloc[0] in (15, 16)
    else:
        assert len(out) == 17
        assert sorted(dup["doc_id"]) == ["15", "16"]
    np.testing.assert_allclose(dup["band_blue_mean"], 48.0 / 10.0, rtol=1e-12)
    corner = out[(out["row"] == 0) & (out["col"] == 0)]["band_blue_mean"]
    np.testing.assert_allclose(corner, 43.0 / 5.0, rtol=1e-12)


def test_moving_weighted_rejects_unweighted_stats(spark, small_docs):
    from geowombat_spark.operators.focal import moving

    with pytest.raises(ValueError, match="weights=True"):
        moving(small_docs, SMALL, stat="max", w=3, weights=True)


def test_focal_expand_golden(spark):
    """_get_expand parity (_moving.pyx:230-257) on a hand-computed 6x6 mask.

    w=3 support = the FULL 3x3 window: the reference's reachable
    configuration passes all-ones weights (_moving.pyx:366 — weights=True
    never combines with expand), so a 0 center flips to 1 iff ANY of its
    8 neighbors is 1, diagonal contact included; 1s and other classes
    (here 7.0) pass through unchanged."""
    g = GridSpec(left=0.0, top=60.0, cellx=10.0, celly=10.0,
                 nrows=6, ncols=6, tile_rows=4, tile_cols=4)
    mask = np.zeros((6, 6))
    mask[1, 1] = 1.0          # lone seed
    mask[4, 4] = 7.0          # foreign class: passes through, never expands
    mask[3, 0] = 1.0          # seed at the left edge (clipped window)
    rr, cc = np.meshgrid(np.arange(6), np.arange(6), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    pdf = pd.DataFrame({
        "row": rr, "col": cc,
        "cell_id": zorder_encode(rr, cc),
        "tile_id": g.tile_id(rr, cc),
        "band_blue": mask.ravel(),
    })
    out = moving(spark.createDataFrame(pdf), g, stat="expand", w=3,
                 band="band_blue")
    got = np.zeros((6, 6))
    res = out.collect()
    assert len(res) == 36
    for r in res:
        got[r["row"], r["col"]] = r["band_blue_expand"]
    want = mask.copy()
    # all 8 neighbors of (1,1) — diagonal corners included
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            if (dr, dc) != (0, 0):
                want[1 + dr, 1 + dc] = 1.0
    # in-grid neighbors of (3,0): edge-adjacent AND diagonal
    want[2, 0] = want[4, 0] = want[3, 1] = 1.0
    want[2, 1] = want[4, 1] = 1.0
    # (4,4)=7 is a foreign class: kept, never expands anything
    assert got[4, 4] == 7.0
    # cells two steps away stay 0
    assert want[3, 3] == 0.0 and got[3, 3] == 0.0
    np.testing.assert_array_equal(got, want)


def test_focal_expand_matches_reference_kernel_shape(spark):
    """expand over the 256x256 fixture equals a straight numpy rendition of
    _get_expand (tile-border cells included — halo exchange contract)."""
    pdf = _small_pdf()
    binary = (pdf["band_blue"] % 7 == 0).astype(np.float64)
    pdf = pdf.assign(band_blue=binary)
    arr = np.zeros((256, 256))
    arr[pdf["row"], pdf["col"]] = pdf["band_blue"].values
    # numpy rendition: 0 center -> 1 if ANY 3x3 window cell is 1
    # (all-ones reference weights — diagonals included)
    hit = np.zeros_like(arr, dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            src = arr[
                max(0, -dr) : arr.shape[0] - max(0, dr),
                max(0, -dc) : arr.shape[1] - max(0, dc),
            ]
            dst = hit[
                max(0, dr) : arr.shape[0] - max(0, -dr),
                max(0, dc) : arr.shape[1] - max(0, -dc),
            ]
            dst |= src == 1.0
    want = np.where((arr == 0.0) & hit, 1.0, arr)
    out = moving(spark.createDataFrame(pdf).repartition(8, "tile_id"),
                 SMALL, stat="expand", w=3, band="band_blue")
    got = np.full((256, 256), np.nan)
    for r in out.collect():
        got[r["row"], r["col"]] = r["band_blue_expand"]
    np.testing.assert_array_equal(got, want)


def test_focal_expand_rejects_foreign_nodata(spark):
    """expand ignores nodata by design (every non-target value is
    background); an EXPLICIT foreign nodata must fail loudly instead of
    being silently discarded."""
    from geowombat_spark.fixtures import L8_GRID

    df = spark.createDataFrame(
        [(0, 0, 0, 1.0)], "row long, col long, cell_id long, band_blue double"
    )
    with pytest.raises(ValueError, match="expand.*nodata|nodata masking"):
        moving(df, L8_GRID, stat="expand", nodata=-9999.0)
    # the 0.0 default and an explicit None both pass validation
    moving(df, L8_GRID, stat="expand")
    moving(df, L8_GRID, stat="expand", nodata=None)


def test_focal_sum_all_nodata_window_refills(spark):
    """stat='sum' honors the all-nodata refill like every other stat:
    np.nansum alone returns 0.0 for an all-NaN window, which would
    fabricate a valid-looking sum where the reference kernel returns
    the nodata value."""
    g = GridSpec(left=0.0, top=90.0, cellx=30.0, celly=30.0,
                 nrows=3, ncols=3, tile_rows=3, tile_cols=3)
    rows = [
        (r, c, r * 3 + c, -9999.0 if max(abs(r - 0), abs(c - 0)) <= 1 else 5.0)
        for r in range(3) for c in range(3)
    ]
    df = spark.createDataFrame(
        rows, "row long, col long, cell_id long, band_blue double"
    )
    out = {
        (r["row"], r["col"]): r["band_blue_sum"]
        for r in moving(df, g, stat="sum", w=3, nodata=-9999.0).collect()
    }
    # cell (0,0): whole 3x3 window is nodata -> refilled, NOT 0.0
    assert out[(0, 0)] == -9999.0
    # cell (2,2): window holds (1,1)=nodata and three 5.0 cells -> 15.0
    assert out[(2, 2)] == 15.0


def test_near_pairs_matches_bruteforce_random(spark):
    """Randomized cross-check of the k-ring near-pair join against an
    O(N^2) numpy brute force (the reference's cKDTree.query_pairs
    semantics, sops.py:56-81): same pair SET and same distances, at
    several radii including one exactly on a snapped lattice distance.
    Fixed seed -> deterministic; ~40% of points are snapped onto cell
    centers so exact-boundary distances (d == min_dist) actually occur
    and exercise the inclusive bound."""
    rng = np.random.default_rng(20260820)
    n = 160
    xs = rng.uniform(5.0, 2555.0, n)
    ys = rng.uniform(5.0, 2555.0, n)
    snap = rng.random(n) < 0.4
    xs[snap] = np.floor(xs[snap] / 10.0) * 10.0 + 5.0
    ys[snap] = np.floor(ys[snap] / 10.0) * 10.0 + 5.0
    pts = _pts(spark, list(zip(xs, ys)))

    dx = xs[:, None] - xs[None, :]
    dy = ys[:, None] - ys[None, :]
    dist = np.sqrt(dx * dx + dy * dy)

    # 10.0: one cell; 23.7: non-multiple radius; 40.0: k=4 with snapped
    # pairs landing EXACTLY on the bound (inclusive semantics)
    for min_dist in (10.0, 23.7, 40.0):
        out = near_pairs(pts, SMALL, min_dist=min_dist).toPandas()
        got = set(map(tuple, out[["a_id", "b_id"]].values))
        exp = set()
        exp_d = []
        for i in range(n):
            for j in range(i + 1, n):
                if dist[i, j] <= min_dist:
                    exp.add(tuple(sorted((f"p{i}", f"p{j}"))))
                    exp_d.append(dist[i, j])
        assert got == exp, (
            f"min_dist={min_dist}: missing={exp - got} extra={got - exp}"
        )
        # each pair exactly once (the r5 distinct-drop relies on unique
        # k-ring cells per point) and bit-identical double distances
        assert len(out) == len(exp)
        np.testing.assert_allclose(
            np.sort(out["dist"].values), np.sort(exp_d), rtol=0, atol=0
        )


def test_window_weights_w1_is_identity():
    """w=1: the single cell is the center — weight 1.0, not the 0/0 NaN
    of the corner-distance formula (which silently NaN'd every weighted
    stat at w=1)."""
    from geowombat_spark.operators.focal import window_weights

    w = window_weights(1)
    assert w.shape == (1, 1) and w[0, 0] == 1.0
