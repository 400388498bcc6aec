"""sops-family tests (reference: tests/test_sops.py:8-32, test_clip.py:24-56)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.fixtures import AOI_POLYGONS, field_value
from geowombat_spark.grid import L8_GRID, point_in_rings, rowcol_to_center_coords, round_window
from geowombat_spark.operators.sops import (
    bounds_overlay,
    calc_area,
    clip_by_polygon,
    mask,
    recode,
    replace,
    subset,
)
from geowombat_spark.operators.sample import (
    sample_random,
    sample_stratified,
    sample_systematic,
    thin_min_dist,
)


@pytest.fixture(scope="module")
def water_pdf():
    p = AOI_POLYGONS[0]
    return pd.DataFrame([{"fid": p["fid"], "name": p["name"], "rings": p["rings"]}])


def test_subset_dims(spark, docs):
    # reference tests/test_sops.py: 128x128 subset from left=717600, top=-2777000
    out = subset(docs, L8_GRID, left=717600.0, top=-2777000.0, rows=128, cols=128)
    pdf = out.select("row", "col").toPandas()
    assert len(pdf) == 128 * 128
    assert pdf["row"].min() == 0 and pdf["row"].max() == 127
    assert pdf["col"].min() == 0 and pdf["col"].max() == 127


def test_replace_global(spark, docs):
    target = 7581.0
    dense = subset(docs, L8_GRID, 717585.0, -2776995.0, 256, 256)
    before = dense.filter(F.col("band_blue") == target).count()
    assert before > 0
    out = replace(dense, {target: 20000.0}, bands=("band_blue",))
    assert out.filter(F.col("band_blue") == target).count() == 0
    assert out.filter(F.col("band_blue") == 20000.0).count() == before


def test_clip_by_polygon_window(spark, docs, water_pdf):
    out = clip_by_polygon(docs, water_pdf, L8_GRID).toPandas()
    r0, r1, c0, c1 = round_window(
        L8_GRID, 737544.502430237, -2795632.5053249793, 738061.8046601362, -2795232.7717836937
    )
    assert len(out) == (r1 - r0) * (c1 - c0)
    assert out["row"].min() == r0 and out["row"].max() == r1 - 1


def test_clip_mask_data_refills_nodata(spark, docs, water_pdf):
    out = clip_by_polygon(docs, water_pdf, L8_GRID, mask_data=True).toPandas()
    rings = [np.asarray(r) for r in AOI_POLYGONS[0]["rings"]]
    inside = point_in_rings(out["x"].values, out["y"].values, rings)
    # outside-polygon cells refilled with grid nodata (sops.py:985-994)
    assert (out.loc[~inside, "band_blue"] == L8_GRID.nodata).all()
    assert (out.loc[inside, "band_blue"] != L8_GRID.nodata).all()


def test_mask_in_out_complement(spark, docs, water_pdf):
    clipped = clip_by_polygon(docs, water_pdf, L8_GRID, expand_by=2)
    kept_in = mask(clipped, water_pdf, L8_GRID, keep="in").toPandas()
    kept_out = mask(clipped, water_pdf, L8_GRID, keep="out").toPandas()
    n_in = kept_in["band_blue"].notna().sum()
    n_out = kept_out["band_blue"].notna().sum()
    assert n_in > 0 and n_out > 0
    assert n_in + n_out == len(kept_in)
    # masked-null count == PIP cover count (test_clip.py:24-56 analogue,
    # all_touched=True corner test)
    rings = [np.asarray(r) for r in AOI_POLYGONS[0]["rings"]]
    hit = point_in_rings(kept_in["x"].values, kept_in["y"].values, rings)
    for dx, dy in ((-15.0, -15.0), (-15.0, 15.0), (15.0, -15.0), (15.0, 15.0)):
        hit |= point_in_rings(kept_in["x"].values + dx, kept_in["y"].values + dy, rings)
    assert n_in == hit.sum()


def test_recode_mode(spark, docs, water_pdf):
    clipped = clip_by_polygon(docs, water_pdf, L8_GRID)
    out = recode(clipped, water_pdf, L8_GRID, {7994.0: "mode"}, band="band_blue").toPandas()
    # compute expected mode over PIP region in numpy
    base = clip_by_polygon(docs, water_pdf, L8_GRID).toPandas()
    rings = [np.asarray(r) for r in AOI_POLYGONS[0]["rings"]]
    inside = point_in_rings(base["x"].values, base["y"].values, rings)
    vals = base.loc[inside, "band_blue"]
    mode = vals.mode().iloc[0]
    changed = base["band_blue"].values.copy()
    changed[inside & (base["band_blue"].values == 7994.0)] = mode
    np.testing.assert_array_equal(
        np.sort(out["band_blue"].values), np.sort(changed)
    )


@pytest.mark.parametrize(
    "op",
    [
        lambda d, p: clip_by_polygon(d, p, L8_GRID, mask_data=True, bands=("band_blue", "band_nir")),
        lambda d, p: mask(d, p, L8_GRID, bands=("band_nir",)),
        lambda d, p: recode(d, p, L8_GRID, {1.0: 2.0}, band="band_nir"),
        lambda d, p: recode(d, p, L8_GRID, {1.0: "mode"}, band="band_nir"),
    ],
    ids=["clip-mask_data", "mask", "recode", "recode-mode"],
)
def test_polygon_rewrite_of_a_missing_band_raises(spark, docs, water_pdf, op):
    """A band that is not a column is an error, not a band left unmasked."""
    with pytest.raises(ValueError, match="band_nir"):
        op(docs, water_pdf)


def test_calc_area(spark, docs):
    dense = subset(docs, L8_GRID, 717585.0, -2776995.0, 256, 256)
    rr, cc = np.meshgrid(np.arange(256), np.arange(256), indexing="ij")
    blue = field_value(0, rr.ravel(), cc.ravel())
    v0 = 5000.0
    expected = (blue == v0).sum() * 900.0 / 1e6
    out = calc_area(dense, L8_GRID, [v0], band="band_blue", units="km2").toPandas()
    assert len(out) == 1
    np.testing.assert_allclose(out["area"].iloc[0], expected)


def test_sample_random(spark, docs):
    out = sample_random(docs, 100, seed=7).toPandas()
    assert len(out) == 100
    assert out["doc_id"].nunique() == 100
    # deterministic under the same seed
    out2 = sample_random(docs, 100, seed=7).toPandas()
    assert set(out["doc_id"]) == set(out2["doc_id"])


def test_sample_systematic(spark, docs):
    dense = subset(docs, L8_GRID, 717585.0, -2776995.0, 256, 256)
    out = sample_systematic(dense, L8_GRID, spacing=90.0).toPandas()
    assert len(out) == 86 * 86  # ceil(256/3) per axis
    assert (out["row"] % 3 == 0).all() and (out["col"] % 3 == 0).all()


def test_sample_stratified(spark, docs):
    dense = subset(docs, L8_GRID, 717585.0, -2776995.0, 256, 256)
    out = sample_stratified(
        dense, "band_blue", {">,5000;<=,9999": 50, "==,0": 10}, seed=1
    ).toPandas()
    n_high = ((out["band_blue"] > 5000) & (out["band_blue"] <= 9999)).sum()
    n_zero = (out["band_blue"] == 0).sum()
    assert n_high == 50
    assert n_zero == 10


def test_thin_min_dist():
    pts = pd.DataFrame({"x": [0.0, 5.0, 100.0, 102.0], "y": [0.0, 0.0, 0.0, 0.0]})
    out = thin_min_dist(pts, min_dist=10.0)
    # reference _remove_near_points: drop the FIRST index of each near
    # pair -> pairs (0,1) and (2,3) drop x=0 and x=100
    np.testing.assert_array_equal(out["x"].values, [5.0, 102.0])
    # chain: p0~p1~p2 with p0,p2 far apart -> rm={0,1}, only p2 survives
    chain = pd.DataFrame({"x": [0.0, 6.0, 12.0], "y": [0.0, 0.0, 0.0]})
    out2 = thin_min_dist(chain, min_dist=10.0)
    np.testing.assert_array_equal(out2["x"].values, [12.0])


def test_bounds_overlay():
    a = (0, 0, 10, 10)
    assert bounds_overlay(a, (5, 5, 15, 15), "intersects")
    assert not bounds_overlay(a, (11, 0, 20, 10), "intersects")
    assert bounds_overlay(a, (2, 2, 8, 8), "contains")
    assert bounds_overlay((2, 2, 8, 8), a, "within")


def test_sample_stratified_deterministic_small_fractions(spark):
    """ppb-granularity fraction test: a 0.0004 fraction selects ~0.04% of
    a large stratum instead of NOTHING (the old %1000 test floored any
    fraction below 0.0005 to zero)."""
    from geowombat_spark.operators.sample import (
        sample_stratified_deterministic,
    )

    d = spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        F.lit(1.0).alias("band_blue"),
    )
    out = sample_stratified_deterministic(
        d, "band_blue", {">,0.5": 0.0004}
    )
    n = out.count()
    assert 40 <= n <= 120, n  # ~80 expected from 200k at 0.0004
    # determinism: identical selection on a re-run
    assert out.count() == n


def test_all_touched_lattice_aligned_same_cells_across_operators(spark):
    """One all_touched rule for every polygon operator. A 2x2-cell square
    whose corners sit on the lattice touches the 4x4 block of cells around
    it (edge- and corner-adjacent neighbours on ALL sides), through mask,
    polygon_to_array and extract_polygons alike; an L-shape adds a notch
    whose cells touch the boundary only along lattice lines. extract
    samples its bbox-local lattice (sample_feature parity), so it returns
    the same rule restricted to the cells of that lattice."""
    from geowombat_spark.grid import GridSpec, zorder_encode
    from geowombat_spark.operators.extract import extract_polygons
    from geowombat_spark.operators.rasterize import polygon_to_array

    g = GridSpec(left=0.0, top=10.0, cellx=1.0, celly=1.0, nrows=10,
                 ncols=10, tile_rows=10, tile_cols=10)
    rr, cc = np.meshgrid(np.arange(10), np.arange(10), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    x, y = rowcol_to_center_coords(g, rr, cc)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "row": rr, "col": cc, "x": x, "y": y,
                "cell_id": zorder_encode(rr, cc), "tile_id": g.tile_id(rr, cc),
                "band_blue": (rr * 10 + cc + 1).astype(float),
            }
        )
    )
    square = [[3.0, 5.0, 5.0, 5.0, 5.0, 3.0, 3.0, 3.0, 3.0, 5.0]]
    ell = [[2.0, 2.0, 5.0, 2.0, 5.0, 3.0, 3.0, 3.0, 3.0, 5.0, 2.0, 5.0]]
    for rings, n_cells in ((square, 16), (ell, None)):
        polys = pd.DataFrame([{"fid": 1, "rings": rings}])
        masked = mask(docs, polys, g, keep="in", bands=("band_blue",),
                      all_touched=True).filter(F.col("band_blue").isNotNull())
        m = {(r["row"], r["col"]) for r in masked.select("row", "col").collect()}
        burned = polygon_to_array(spark, polys, g, all_touched=True,
                                  window=(0, 10, 0, 10))
        b = {(r["row"], r["col"])
             for r in burned.filter(F.col("value") == 1.0).collect()}
        ext = extract_polygons(spark, docs, polys, g, all_touched=True)
        e = {(int(10.0 - r["y"]), int(r["x"])) for r in ext.collect()}
        xs, ys = np.asarray(rings[0])[0::2], np.asarray(rings[0])[1::2]
        lattice = {
            (r, c) for r, c in m
            if xs.min() <= c < xs.max() and 10.0 - ys.max() <= r < 10.0 - ys.min()
        }
        if n_cells is not None:
            assert len(m) == n_cells
            assert m == {(r, c) for r in range(4, 8) for c in range(2, 6)}
        assert b == m
        assert e == lattice
