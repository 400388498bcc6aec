"""file_bounds (get_file_bounds analogue), match_layout (match_data) and
the DataFrame cell encoder it re-keys with."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import L8_GRID, GridSpec, encode_cells
from geowombat_spark.operators.extract import encode_points_pdf
from geowombat_spark.operators import transform as tf
from geowombat_spark.operators.mosaic import file_bounds


def _fps(spark):
    pdf = pd.DataFrame(
        [
            {"src": "a", "minx": 0.0, "miny": -100.0, "maxx": 50.0, "maxy": 0.0},
            {"src": "b", "minx": 20.0, "miny": -80.0, "maxx": 90.0, "maxy": -10.0},
        ]
    )
    return spark.createDataFrame(pdf)


def test_file_bounds_union_intersection(spark):
    assert file_bounds(_fps(spark), "union") == (0.0, -100.0, 90.0, 0.0)
    assert file_bounds(_fps(spark), "intersection") == (20.0, -80.0, 50.0, -10.0)


def test_file_bounds_aligned(spark):
    # reference align_bounds floors the extent to res multiples
    # (rasterio_.py:633-664: aligned interior, not outward snap):
    # raw (0,-100,90,0) at res 30 → 3×3 cells from (0, 0) → miny = -90
    minx, miny, maxx, maxy = file_bounds(_fps(spark), "union", res=30.0)
    assert (minx, miny, maxx, maxy) == (0.0, -90.0, 90.0, 0.0)


def test_match_layout_rekeys(spark):
    src = GridSpec(left=0.0, top=0.0, cellx=30.0, celly=30.0, nrows=100,
                   ncols=100, tile_rows=50, tile_cols=50, nodata=0.0)
    dst = GridSpec(left=0.0, top=0.0, cellx=30.0, celly=30.0, nrows=100,
                   ncols=100, tile_rows=10, tile_cols=10, nodata=0.0)
    docs = spark.range(100).select(
        ((F.col("id") % 10).cast("double") * 30.0 + 15.0).alias("x"),
        (-(F.expr("id div 10").cast("double") * 30.0 + 15.0)).alias("y"),
        F.col("id").alias("doc_id"),
    )
    enc_src = encode_cells(docs, src)
    rekeyed = tf.match_layout(enc_src, dst)
    # same cells, different tile assignment density
    assert rekeyed.count() == 100
    n_src_tiles = enc_src.select("tile_id").distinct().count()
    n_dst_tiles = rekeyed.select("tile_id").distinct().count()
    assert n_src_tiles == 1 and n_dst_tiles == 1  # 10x10 cells fit one 50- or 10-tile? no:
    # cells span rows 0-9, cols 0-9 → dst tiles 10x10 → exactly 1 tile as well
    # stronger: shrink dst tiles to 5
    dst5 = GridSpec(left=0.0, top=0.0, cellx=30.0, celly=30.0, nrows=100,
                    ncols=100, tile_rows=5, tile_cols=5, nodata=0.0)
    rk5 = tf.match_layout(enc_src, dst5)
    assert rk5.select("tile_id").distinct().count() == 4


ENCODE_GRIDS = {
    "square_tile16": GridSpec(left=0.0, top=0.0, cellx=30.0, celly=30.0,
                              nrows=100, ncols=100, tile_rows=16, tile_cols=16),
    "l8": L8_GRID,
    # non-square cells that are not binary fractions, ragged 5x7 tiles
    "ragged": GridSpec(left=-12.5, top=40.25, cellx=0.7, celly=0.3,
                       nrows=203, ncols=61, tile_rows=5, tile_cols=7),
}
ENCODE_EDGES = [float("nan"), float("inf"), float("-inf"), None, 1e300, -1.0, -0.0]


def _encode_cases(g: GridSpec, n: int = 3000, n_lattice: int = 300):
    """(id, x, y) tuples: random coords over 1.4x the grid extent, exact
    lattice lines, and every edge value as x, as y and as both."""
    rng = np.random.default_rng(7)
    w, h = g.right - g.left, g.top - g.bottom
    xs = rng.uniform(g.left - 0.2 * w, g.right + 0.2 * w, n)
    ys = rng.uniform(g.bottom - 0.2 * h, g.top + 0.2 * h, n)
    xs[:n_lattice] = g.left + rng.integers(-2, g.ncols + 2, n_lattice) * g.cellx
    ys[:n_lattice] = g.top - rng.integers(-2, g.nrows + 2, n_lattice) * g.celly
    pts = list(zip(xs.tolist(), ys.tolist()))
    x_in, y_in = g.left + 0.5 * w, g.top - 0.5 * h
    for v in ENCODE_EDGES:
        pts += [(v, y_in), (x_in, v), (v, v)]
    return [(i, x, y) for i, (x, y) in enumerate(pts)]


@pytest.mark.parametrize("name", sorted(ENCODE_GRIDS))
def test_encode_cells_matches_numpy(spark, name):
    """grid.encode_cells (one SQL projection) equals the numpy encoder
    encode_points_pdf bit for bit — truncation, clamp, Z-order and tile
    key — including out-of-grid, lattice-line and edge coordinates. The
    rows are built from tuples: Arrow would fold a pandas NaN into NULL.
    numpy casts NaN, ±inf and |q| >= 2^63 to INT64_MIN and clips that to
    0, and the encoder sends NULL there too."""
    g = ENCODE_GRIDS[name]
    cases = _encode_cases(g)
    enc = encode_cells(spark.createDataFrame(cases, "id long, x double, y double"), g)
    cols = ["row", "col", "cell_id", "tile_id"]
    assert dict(enc.dtypes) == {"id": "bigint", "x": "double", "y": "double",
                                **{c: "bigint" for c in cols}}
    got = enc.orderBy("id").toPandas()
    pdf = pd.DataFrame(cases, columns=["id", "x", "y"]).astype({"x": float, "y": float})
    with np.errstate(invalid="ignore"):
        want = encode_points_pdf(pdf, g)
    for c in cols:
        assert got[c].dtype == np.int64, c
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)
    # the "-> cell 0" rule for non-finite and NULL coordinates
    bad_x = ~np.isfinite(pdf["x"].to_numpy())
    bad_y = ~np.isfinite(pdf["y"].to_numpy())
    assert (got.loc[bad_x, "col"] == 0).all() and (got.loc[bad_y, "row"] == 0).all()
    both = got[bad_x & bad_y]
    assert len(both) == 4 and (both[cols] == 0).all().all()


def test_api_facade_names():
    """The reference-named surface (gw.open/extract/clip/...) resolves."""
    import geowombat_spark.api as gw

    for req in (
        "open", "extract", "extract_polygons", "clip_by_polygon", "mask",
        "subset", "recode", "replace", "calc_area", "moving", "save",
        "ndvi", "evi", "tasseled_cap", "config", "transform_crs",
        "polygon_to_array", "array_to_polygon", "sample_random",
        "sample_systematic", "sample_stratified", "series_stats",
        "series_apply", "apply", "mosaic", "concat", "knn_join",
        "near_pairs", "set_nodata", "qa_mask", "prepare_points",
    ):
        assert callable(getattr(gw, req)), req


def test_transform_crs_grid_nearest_golden(spark):
    """True CRS-changing warp: UTM 21N source -> EPSG:4326 destination.
    Expected values computed independently in numpy with the same Karney
    TM reprojection + inverse affine."""
    import numpy as np
    import pandas as pd

    from geowombat_spark.crs import reproject_points, utm_to_lonlat

    src = GridSpec(left=717585.0, top=-2776995.0, cellx=30.0, celly=30.0,
                   nrows=64, ncols=64, tile_rows=64, tile_cols=64,
                   crs="EPSG:32621", nodata=0.0)
    rr, cc = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    pdf = pd.DataFrame(
        {
            "row": rr, "col": cc,
            "x": src.left + (cc + 0.5) * 30.0,
            "y": src.top - (rr + 0.5) * 30.0,
            "band_blue": (rr * 1000 + cc).astype(np.float64),
        }
    )
    docs = spark.createDataFrame(pdf)

    # destination lon/lat frame over the source footprint
    lon0, lat0 = utm_to_lonlat(src.left, src.top, 21, south=False)
    lon1, lat1 = utm_to_lonlat(src.right, src.bottom, 21, south=False)
    dst = GridSpec(
        left=float(min(lon0, lon1)), top=float(max(lat0, lat1)),
        cellx=0.0005, celly=0.0005, nrows=30, ncols=40,
        tile_rows=30, tile_cols=40, crs="EPSG:4326", nodata=0.0,
    )
    out = tf.transform_crs_grid(
        spark, docs, src, dst, src_epsg=32621, dst_epsg=4326,
        bands=("band_blue",), resampling="nearest",
    ).toPandas().sort_values(["row", "col"]).reset_index(drop=True)

    # independent expectation
    drr, dcc = np.meshgrid(np.arange(30), np.arange(40), indexing="ij")
    drr, dcc = drr.ravel(), dcc.ravel()
    dx = dst.left + (dcc + 0.5) * dst.cellx
    dy = dst.top - (drr + 0.5) * dst.celly
    sx, sy = reproject_points(dx, dy, 4326, 32621)
    sr = np.floor((src.top - sy) / 30.0).astype(np.int64)
    sc = np.floor((sx - src.left) / 30.0).astype(np.int64)
    inside = (sr >= 0) & (sr < 64) & (sc >= 0) & (sc < 64)
    expected = np.where(inside, sr * 1000 + sc, np.nan).astype(np.float64)

    got = out.sort_values(["row", "col"])["band_blue"].values
    order = np.lexsort((dcc, drr))
    np.testing.assert_allclose(got, expected[order], equal_nan=True)
    assert inside.sum() > 100  # the frames genuinely overlap


def test_transform_crs_grid_average_runs(spark):
    import numpy as np
    import pandas as pd

    from geowombat_spark.crs import utm_to_lonlat

    src = GridSpec(left=717585.0, top=-2776995.0, cellx=30.0, celly=30.0,
                   nrows=32, ncols=32, tile_rows=32, tile_cols=32,
                   crs="EPSG:32621", nodata=0.0)
    rr, cc = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    docs = spark.createDataFrame(pd.DataFrame(
        {"x": src.left + (cc + 0.5) * 30.0, "y": src.top - (rr + 0.5) * 30.0,
         "band_blue": np.ones(len(rr))}
    ))
    lon0, lat0 = utm_to_lonlat(src.left, src.top, 21, south=False)
    dst = GridSpec(left=float(lon0), top=float(lat0), cellx=0.002,
                   celly=0.002, nrows=10, ncols=10, tile_rows=10,
                   tile_cols=10, crs="EPSG:4326", nodata=0.0)
    out = tf.transform_crs_grid(
        spark, docs, src, dst, 32621, 4326,
        bands=("band_blue",), resampling="average",
    ).toPandas()
    # FULL destination lattice (GDAL warp emits the whole raster):
    # covered cells average to 1.0, uncovered cells are present as
    # NULL/NaN rows — never silently absent
    assert len(out) == dst.nrows * dst.ncols
    covered = out["band_blue"].notna()
    assert covered.any() and (out.loc[covered, "band_blue"] == 1.0).all()


def test_sort_images_by_date(tmp_path):
    """Positional filename-date sort (reference core/util.py:134-196)."""
    from geowombat_spark.util import parse_filename_dates, sort_images_by_date

    names = [
        "LC08_L1TP_176038_20190108_20190130_01_T1.tif",
        "LC08_L1TP_176038_20181201_20181215_01_T1.tif",
        "LC08_L1TP_176038_20190301_20190310_01_T1.tif",
    ]
    for n in names:
        (tmp_path / n).write_text("")
    d = sort_images_by_date(tmp_path, "*.tif", date_pos=3, date_start=0, date_end=8)
    ordered = [v.strftime("%Y%m%d") for v in d.values()]
    assert ordered == ["20181201", "20190108", "20190301"]

    dts = parse_filename_dates(["s2_2019-01-08.tif", "s2_20190301.tif"])
    assert [x.strftime("%Y%m%d") for x in dts] == ["20190108", "20190301"]
    # any unparseable name -> ordinal fallback for the WHOLE list
    assert parse_filename_dates(["nodate.tif", "s2_20190301.tif"]) == [1, 2]
