"""Band-math goldens re-derived on 1-cell tables
(reference: tests/test_vi.py:30-133)."""

import math

import numpy as np
import pandas as pd
import pytest

from geowombat_spark.functions import vi
from geowombat_spark.functions.nodata import band_mask, mask_nodata, set_nodata
from geowombat_spark.config import config


@pytest.fixture(scope="module")
def onecell(spark):
    # blue, green, red, nir, swir1, swir2 reflectances ×10000
    return spark.createDataFrame(
        [(800.0, 1000.0, 1200.0, 3000.0, 2200.0, 1600.0)],
        "blue double, green double, red double, nir double, swir1 double, swir2 double",
    )


S = 1e-4
B, G, R, N, S1, S2 = 800 * S, 1000 * S, 1200 * S, 3000 * S, 2200 * S, 1600 * S


def _one(df, col):
    return df.select(col).collect()[0][0]


def test_norm_diff_and_ndvi(spark, onecell):
    expected = (N - R) / (N + R)
    df = vi.ndvi(onecell, "red", "nir", scale_factor=S)
    assert _one(df, "ndvi") == pytest.approx(expected, rel=1e-12)
    df = vi.norm_diff(onecell, "red", "nir", scale_factor=S)
    assert _one(df, "norm_diff") == pytest.approx(expected, rel=1e-12)


def test_nbr(spark, onecell):
    expected = (N - S2) / (N + S2)
    assert _one(vi.nbr(onecell, "nir", "swir2", scale_factor=S), "nbr") == pytest.approx(expected, rel=1e-12)


def test_kndvi(spark, onecell):
    nd = (N - R) / (N + R)
    assert _one(vi.kndvi(onecell, "red", "nir", scale_factor=S), "kndvi") == pytest.approx(math.tanh(nd * nd), rel=1e-12)


def test_avi(spark, onecell):
    expected = (N * (1 - R) * (N - R)) ** 0.3334
    assert _one(vi.avi(onecell, "red", "nir", scale_factor=S), "avi") == pytest.approx(expected, rel=1e-12)


def test_evi_evi2(spark, onecell):
    evi = 2.5 * (N - R) / (N + 6 * R - 7.5 * B + 1)
    evi2 = 2.5 * ((N - R) / (N + 1 + 2.4 * R))
    assert _one(vi.evi(onecell, "blue", "red", "nir", scale_factor=S), "evi") == pytest.approx(evi, rel=1e-12)
    assert _one(vi.evi2(onecell, "red", "nir", scale_factor=S), "evi2") == pytest.approx(evi2, rel=1e-12)


def test_gcvi(spark, onecell):
    expected = N / G - 1
    assert _one(vi.gcvi(onecell, "green", "nir", scale_factor=S), "gcvi") == pytest.approx(expected, rel=1e-12)
    assert _one(vi.gcvi(onecell, "green", "nir", scale_factor=S, norm=True), "gcvi") == pytest.approx(expected / 10, rel=1e-12)


def test_wi(spark, onecell):
    r = R + S1
    expected = 0.0 if r > 0.5 else 1 - r / 0.5
    assert _one(vi.wi(onecell, "red", "swir1", scale_factor=S), "wi") == pytest.approx(expected, rel=1e-12)


def test_tasseled_cap_l8(spark, onecell):
    df = vi.tasseled_cap(
        onecell,
        {b: b for b in ["blue", "green", "red", "nir", "swir1", "swir2"]},
        sensor="l8",
        scale_factor=S,
    )
    lut = vi.TASSELED_CAP_COEFFS["l8"]
    vals = [B, G, R, N, S1, S2]
    for comp in ("brightness", "greenness", "wetness"):
        expected = sum(c * v for c, v in zip(lut[comp], vals))
        assert _one(df, comp) == pytest.approx(expected, rel=1e-12)


def test_nodata_propagates_null(spark):
    df = spark.createDataFrame([(0.0, 3000.0)], "red double, nir double")
    out = vi.ndvi(df, "red", "nir", nodata=0.0)
    assert _one(out, "ndvi") is None


def test_compare(spark, onecell):
    assert _one(vi.compare(onecell, "red", "gt", 1000.0, out="c"), "c") == 1200.0
    assert _one(vi.compare(onecell, "red", "lt", 1000.0, out="c"), "c") is None
    assert _one(vi.compare(onecell, "red", "ge", 1200.0, return_binary=True, out="c"), "c") == 1.0


def test_set_nodata_precedence(spark):
    """config > kwarg > metadata (api.py:319-343; tests/test_scaling.py)."""
    df = spark.createDataFrame([(100.0,), (0.0,)], "b double")
    # metadata only
    out = set_nodata(df, ("b",), meta_nodata=0.0, meta_scale=2.0).collect()
    assert [r[0] for r in out] == [200.0, None]
    # kwarg beats metadata
    out = set_nodata(df, ("b",), src_nodata=100.0, meta_nodata=0.0).collect()
    assert [r[0] for r in out] == [None, 0.0]
    # config beats kwarg
    with config(nodata=0.0, scale_factor=0.5):
        out = set_nodata(df, ("b",), src_nodata=100.0, scale_factor=3.0).collect()
    assert [r[0] for r in out] == [50.0, None]
    # out_range clip + explicit dst_nodata
    out = set_nodata(df, ("b",), src_nodata=0.0, dst_nodata=-999.0, out_range=(0.0, 50.0)).collect()
    assert [r[0] for r in out] == [50.0, -999.0]


def test_mask_nodata_and_band_mask(spark):
    df = spark.createDataFrame([(0.0, 5.0), (2.0, -1.0)], "a double, b double")
    out = mask_nodata(df, ("a",), nodata=0.0).collect()
    assert out[0][0] is None and out[1][0] == 2.0
    out = band_mask(df, ("a", "b")).select("mask").collect()
    assert [r[0] for r in out] == [1, 1]
    df2 = spark.createDataFrame([(3.0, 5.0)], "a double, b double")
    assert band_mask(df2, ("a", "b")).select("mask").collect()[0][0] == 0


def test_zero_denominator_gives_null(spark):
    """A zero denominator gives NULL (Spark's non-ANSI result) instead of
    an ANSI DIVIDE_BY_ZERO: an all-zero cell for the normalized
    differences, kndvi and gcvi; a cell that zeroes evi's (5 + 0 - 6 + 1)
    and one that zeroes evi2's (-1 + 1 + 0)."""
    df = spark.createDataFrame(
        [(0, 0.0, 0.0, 0.0, 0.0), (1, 0.8, 1.0, 0.0, 5.0), (2, 0.0, 1.0, 0.0, -1.0)],
        "i int, blue double, green double, red double, nir double",
    )
    df = vi.norm_diff(df, "red", "nir")
    df = vi.ndvi(df, "red", "nir")
    df = vi.kndvi(df, "red", "nir")
    df = vi.gcvi(df, "green", "nir")
    df = vi.evi(df, "blue", "red", "nir")
    df = vi.evi2(df, "red", "nir")
    got = {r["i"]: r for r in df.collect()}
    for c in ("norm_diff", "ndvi", "kndvi", "gcvi"):
        assert got[0][c] is None, c
    assert got[0]["evi"] == 0.0 and got[0]["evi2"] == 0.0
    assert got[1]["evi"] is None and got[1]["ndvi"] == 1.0
    assert got[2]["evi2"] is None


def test_mask_s2_without_nodata_on_zero_bands(spark):
    """mask_s2 with its default nodata=None runs its dark-pixel
    norm_diff on the potential-shadow cells. Where swir2 and green are
    both 0 that cell is not dark (NULL), and the mask collects."""
    from geowombat_spark.functions.cloudmask import mask_s2
    from geowombat_spark.grid import GridSpec, zorder_encode

    n = 8
    g = GridSpec(left=0.0, top=240.0, cellx=30.0, celly=30.0,
                 nrows=n, ncols=n, tile_rows=4, tile_cols=4)
    rr, cc = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    # row 0 is cloud (rows 0-1 after dilation); a 500 m cloud at this
    # zenith and azimuth 0 casts its shadow 2 rows down, onto zero bands
    zero = rr >= 2
    pdf = pd.DataFrame({
        "doc_id": np.arange(n * n), "row": rr, "col": cc,
        "cell_id": zorder_encode(rr, cc),
        "prob": (rr == 0).astype(float),
        "solar_za": np.degrees(np.arctan(2.0 * 30.0 / 500.0)) * 100.0,
        "solar_az": 0.0,
        "band_swir2": np.where(zero, 0.0, 10.0),
        "band_green": np.where(zero, 0.0, 40.0),
    })
    out = mask_s2(
        spark.createDataFrame(pdf), g, prob="prob", average_over=1,
        dilation_size=1, cloud_heights=(500.0,),
    ).toPandas().sort_values("doc_id")
    assert len(out) == n * n
    np.testing.assert_array_equal(out["mask"], np.where(zero, 0, 4))
