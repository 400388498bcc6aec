"""Topographic normalization tests.

Slope/aspect replicate Zevenbergen–Thorne central differences with
edge-replicate semantics (reference ``radiometry/topo.py:44-153`` via GDAL
``computeEdges=True``); ``norm_topo`` replicates the cos / c /
empirical-rotation methods (``topo.py:181-340``) including the closed-form
OLS the reference fits with sklearn.
"""

import numpy as np
import pandas as pd
import pytest

from geowombat_spark.functions.topo import norm_topo, slope_aspect
from geowombat_spark.grid import GridSpec, zorder_encode

TG = GridSpec(
    left=0.0, top=640.0, cellx=10.0, celly=10.0,
    nrows=64, ncols=64, tile_rows=32, tile_cols=32,
)


def _topo_pdf():
    rr, cc = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    elev = 3.0 * rr + 0.02 * cc * cc - 0.05 * rr * cc + 100.0
    sr = ((rr * 37 + cc * 11) % 240 + 10) / 255.0
    sza = 3000.0 + (rr * 53 + cc * 19) % 1500  # centi-degrees
    saa = ((rr * 7 + cc * 3) % 36000).astype(np.float64)
    return pd.DataFrame(
        {
            "row": rr,
            "col": cc,
            "cell_id": zorder_encode(rr, cc),
            "elev": elev,
            "band_a": sr,
            "solar_za": sza.astype(np.float64),
            "solar_az": saa,
        }
    )


def _np_slope_aspect(elev2d, cellx, celly):
    z = elev2d
    # clamped (replicate) neighbor indexing
    zN = np.vstack([z[:1], z[:-1]])
    zS = np.vstack([z[1:], z[-1:]])
    zW = np.hstack([z[:, :1], z[:, :-1]])
    zE = np.hstack([z[:, 1:], z[:, -1:]])
    dzdx = (zE - zW) / (2 * cellx)
    dzdy = (zN - zS) / (2 * celly)
    slope = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
    aspect = np.where(
        slope == 0.0,
        0.0,
        np.mod(np.degrees(np.arctan2(-dzdx, -dzdy)) + 360.0, 360.0),
    )
    return slope, aspect


@pytest.fixture(scope="module")
def topo_docs(spark):
    return spark.createDataFrame(_topo_pdf()).repartition(4)


def test_slope_aspect_matches_global_numpy(spark, topo_docs):
    """Tile-halo stencil == single-array computation, including the
    tile-border cells (rows/cols 31, 32) and the image edge."""
    out = (
        slope_aspect(topo_docs, TG, elev="elev")
        .toPandas()
        .sort_values(["row", "col"])
    )
    pdf = _topo_pdf()
    z = np.zeros((64, 64))
    z[pdf["row"], pdf["col"]] = pdf["elev"]
    slope, aspect = _np_slope_aspect(z, TG.cellx, TG.celly)
    np.testing.assert_allclose(
        out["slope"].values, slope[out["row"], out["col"]], rtol=1e-12
    )
    np.testing.assert_allclose(
        out["aspect"].values, aspect[out["row"], out["col"]], rtol=1e-12
    )


def _np_slope_aspect_nan(z, cellx, celly):
    """``_np_slope_aspect`` where NaN marks an absent, NULL or NaN cell:
    a NaN neighbour (or one off the image) replicates the centre."""
    p = np.pad(z, 1, constant_values=np.nan)
    h, w = z.shape

    def nb(dr, dc):
        v = p[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
        return np.where(np.isnan(v), z, v)

    dzdx = (nb(0, 1) - nb(0, -1)) / (2 * cellx)
    dzdy = (nb(-1, 0) - nb(1, 0)) / (2 * celly)
    slope = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
    aspect = np.where(
        slope == 0.0,
        0.0,
        np.mod(np.degrees(np.arctan2(-dzdx, -dzdy)) + 360.0, 360.0),
    )
    return slope, aspect


@pytest.mark.parametrize("keep", [(), ("w",), ("name",)])
def test_slope_aspect_ragged_null_nan_and_keep(spark, keep):
    """Absent cells, NULL and real NaN elevations (built from rows: Arrow
    would turn a pandas NaN into NULL) replicate the centre like an image
    edge, across the tile borders (rows/cols 31, 32) too. The fixed-width
    ``keep`` rides the aggregate and the string one joins back; both give
    one row per input cell with its own payload."""
    rng = np.random.default_rng(5)
    pdf = _topo_pdf()
    absent = rng.random(len(pdf)) < 0.05
    absent |= pdf["row"].isin([31, 32]).values & (pdf["col"] % 7 == 0).values
    pdf = pdf[~absent].reset_index(drop=True)
    bad = rng.random(len(pdf))
    border = pdf["col"].isin([31, 32]).values & (pdf["row"] % 5 == 0).values
    elev = [
        None if b < 0.03 or (m and r % 2) else float("nan") if b < 0.06 or m
        else float(e)
        for e, b, m, r in zip(pdf["elev"], bad, border, pdf["row"])
    ]
    rows = [
        (int(r), int(c), int(i), e, float(k), f"n{k}")
        for k, (r, c, i, e) in enumerate(
            zip(pdf["row"], pdf["col"], pdf["cell_id"], elev)
        )
    ]
    docs = spark.createDataFrame(
        rows, "row long, col long, cell_id long, elev double, w double, name string"
    ).repartition(4)
    out = (
        slope_aspect(docs, TG, elev="elev", keep=keep)
        .toPandas()
        .sort_values(["row", "col"])
        .reset_index(drop=True)
    )
    assert list(out.columns) == ["row", "col", "cell_id", *keep, "slope", "aspect"]
    assert len(out) == len(pdf)
    assert (out["cell_id"].values == pdf["cell_id"].values).all()
    if keep == ("w",):
        assert (out["w"].values == np.arange(len(pdf), dtype=float)).all()
    if keep == ("name",):
        assert list(out["name"]) == [f"n{k}" for k in range(len(pdf))]
    z = np.full((64, 64), np.nan)
    z[pdf["row"], pdf["col"]] = [np.nan if e is None else e for e in elev]
    slope, aspect = _np_slope_aspect_nan(z, TG.cellx, TG.celly)
    slope, aspect = slope[out["row"], out["col"]], aspect[out["row"], out["col"]]
    assert np.isnan(slope).any() and not np.isnan(slope).all()
    np.testing.assert_allclose(out["slope"].values, slope, rtol=1e-12)
    np.testing.assert_allclose(out["aspect"].values, aspect, rtol=1e-12)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_slope_aspect_cell_with_two_rows(spark, id_type):
    """The input holds one row per cell. With fixed-width home columns a
    cell with two rows yields one output row; a string ``keep`` column
    joins the home rows back, so each row gets its own output row."""
    g = GridSpec(left=0.0, top=40.0, cellx=10.0, celly=10.0,
                 nrows=4, ncols=4, tile_rows=2, tile_cols=2)
    rows = [(r, c, 10.0 * r + c * c) for r in range(4) for c in range(4)]
    rows.append((1, 1, 11.0))
    cast = str if id_type == "string" else int
    df = spark.createDataFrame(
        [
            (cast(i), r, c, int(zorder_encode(np.array([r]), np.array([c]))[0]), v)
            for i, (r, c, v) in enumerate(rows)
        ],
        f"doc_id {id_type}, row long, col long, cell_id long, elev double",
    )
    out = slope_aspect(df, g, keep=("doc_id",)).toPandas()
    dup = out[(out["row"] == 1) & (out["col"] == 1)]
    if id_type == "long":
        assert len(out) == 16
        assert len(dup) == 1 and dup["doc_id"].iloc[0] in (5, 16)
    else:
        assert len(out) == 17
        assert sorted(dup["doc_id"]) == ["16", "5"]
    z = np.array([[10.0 * r + c * c for c in range(4)] for r in range(4)])
    slope, aspect = _np_slope_aspect(z, g.cellx, g.celly)
    np.testing.assert_allclose(
        out["slope"].values, slope[out["row"], out["col"]], rtol=1e-12
    )
    np.testing.assert_allclose(
        out["aspect"].values, aspect[out["row"], out["col"]], rtol=1e-12
    )


def test_slope_aspect_flat_surface(spark):
    rr, cc = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    pdf = pd.DataFrame(
        {
            "row": rr.ravel(),
            "col": cc.ravel(),
            "cell_id": zorder_encode(rr.ravel(), cc.ravel()),
            "elev": np.full(64, 42.0),
        }
    )
    g = GridSpec(left=0, top=80, cellx=10, celly=10, nrows=8, ncols=8,
                 tile_rows=8, tile_cols=8)
    out = slope_aspect(spark.createDataFrame(pdf), g).toPandas()
    assert (out["slope"] == 0.0).all()
    assert (out["aspect"] == 0.0).all()


def _np_norm_topo(method, slope_thresh=2.0):
    """Global numpy replica of the reference chain for band_a."""
    pdf = _topo_pdf()
    z = np.zeros((64, 64))
    z[pdf["row"], pdf["col"]] = pdf["elev"]
    slope, aspect = _np_slope_aspect(z, TG.cellx, TG.celly)
    slope = slope[pdf["row"], pdf["col"]]
    aspect = aspect[pdf["row"], pdf["col"]]
    sza = np.radians(pdf["solar_za"].values * 0.01)
    saa = np.radians(pdf["solar_az"].values * 0.01)
    cos_z = np.cos(sza)
    il = np.cos(np.radians(slope)) * cos_z + np.sin(np.radians(slope)) * np.sin(
        sza
    ) * np.cos(saa - np.radians(aspect))
    sr = pdf["band_a"].values
    nodata = (slope < slope_thresh).astype(int)
    valid = nodata == 0
    if method == "cos":
        sr_a = sr * cos_z / il
        return np.clip(np.where(nodata == 1, sr, sr_a), 0, 1)
    x, y = il[valid], sr[valid]
    m = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    b = y.mean() - m * x.mean()
    if method == "c":
        c = b / m
        a = (cos_z + c) / (il + c)
        a = np.where(np.isnan(a), 1.0, a)
        sr_a = sr * a
        return np.clip(np.where((sr_a > 1) | (nodata == 1), sr, sr_a), 0, 1)
    sr_a = sr - m * (il - cos_z)
    return np.clip(np.where(nodata == 1, sr, sr_a), 0, 1)


@pytest.mark.parametrize("method", ["cos", "c", "empirical-rotation"])
def test_norm_topo_methods(spark, topo_docs, method):
    out = (
        norm_topo(
            topo_docs, TG, bands=("band_a",), method=method, min_samples=10
        )
        .select("row", "col", "band_a")
        .toPandas()
        .sort_values(["row", "col"])
    )
    pdf = _topo_pdf().sort_values(["row", "col"])
    expect = _np_norm_topo(method)
    order = np.lexsort((pdf["col"].values, pdf["row"].values))
    np.testing.assert_allclose(out["band_a"].values, expect[order], rtol=1e-9)


def test_norm_topo_min_samples_fallback(spark, topo_docs):
    """slope_thresh above every slope → zero valid samples → band
    returned unadjusted (reference topo.py:223-224)."""
    out = (
        norm_topo(
            topo_docs, TG, bands=("band_a",), method="c",
            slope_thresh=89.0, min_samples=10,
        )
        .select("row", "col", "band_a")
        .toPandas()
        .sort_values(["row", "col"])
    )
    pdf = _topo_pdf().sort_values(["row", "col"])
    np.testing.assert_allclose(out["band_a"].values, pdf["band_a"].values)


def test_norm_topo_band_coeffs_skip_regression(spark, topo_docs):
    """Precomputed (m, b) short-circuits the aggregate (topo.py:218-227)."""
    out = norm_topo(
        topo_docs, TG, bands=("band_a",), method="c",
        band_coeffs={"band_a": (0.5, 0.1)}, min_samples=10,
    )
    assert "band_a" in out.columns
    assert out.count() == 64 * 64


def test_norm_topo_degenerate_illumination_passthrough(spark):
    """Constant slope/aspect → zero illumination variance: the ANSI
    runtime must NOT abort with DIVIDE_BY_ZERO; both regression methods
    return the band unadjusted (reference NaN → a_factor=1 semantics)."""
    pdf = _topo_pdf()
    pdf["slope_c"] = 10.0
    pdf["aspect_c"] = 90.0
    pdf["solar_za"] = 3000.0
    pdf["solar_az"] = 12000.0
    docs = spark.createDataFrame(pdf).repartition(4)
    for method in ("c", "empirical-rotation"):
        out = norm_topo(
            docs, TG, ("band_a",), slope="slope_c",
            aspect="aspect_c", method=method, min_samples=1,
        ).toPandas().sort_values(["row", "col"])
        np.testing.assert_allclose(
            out["band_a"].values,
            np.clip(pdf.sort_values(["row", "col"])["band_a"].values, 0, 1),
            rtol=1e-12,
        )


def test_norm_topo_band_coeffs_respect_min_samples(spark, topo_docs):
    """band_coeffs does NOT bypass the min_samples floor (reference
    checks it in that branch too): an impossible floor returns the band
    unadjusted even with coefficients supplied."""
    out = norm_topo(
        topo_docs, TG, ("band_a",), method="c",
        band_coeffs={"band_a": (0.5, 0.1)}, min_samples=10 ** 9,
    ).toPandas().sort_values(["row", "col"])
    exp = _topo_pdf().sort_values(["row", "col"])["band_a"].values
    np.testing.assert_allclose(out["band_a"].values, exp, rtol=1e-12)


def test_norm_topo_nodata_sentinel_survives_clip(spark):
    """An out-of-range nodata sentinel (-9999) passes through UNclipped:
    squashing it into [0,1] would turn every nodata pixel into 'valid
    black' and break downstream ==sentinel masks."""
    pdf = _topo_pdf()
    pdf.loc[pdf.index[:64], "band_a"] = -9999.0
    grid = GridSpec(
        left=0.0, top=0.0, cellx=30.0, celly=30.0,
        nrows=64, ncols=64, tile_rows=32, tile_cols=32,
    )
    docs = spark.createDataFrame(pdf)
    for method in ("c", "cos", "empirical-rotation"):
        out = norm_topo(
            docs, grid, bands=("band_a",), method=method, nodata=-9999.0
        ).toPandas()
        got = out.merge(pdf[["cell_id"]].iloc[:64], on="cell_id")
        assert (got["band_a"] == -9999.0).all(), method
