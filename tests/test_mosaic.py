"""mosaic/concat semantics (reference: backends/xarray_.py:425-818,
tests/test_main_mosaic.py)."""

import numpy as np
from pyspark.sql import functions as F

from geowombat_spark.grid import L8_GRID
from geowombat_spark.operators.mosaic import concat, grids_equal, mosaic, mosaic_intersection
from geowombat_spark.operators.sops import subset


def _dense(docs):
    return subset(docs, L8_GRID, 717585.0, -2776995.0, 64, 64)


def test_mosaic_overlap_max_mean(spark, docs):
    a = _dense(docs)
    b = a.withColumn(
        "band_blue",
        F.when(F.col("band_blue") == 0.0, 0.0).otherwise(F.col("band_blue") + 100.0),
    )
    out_max = mosaic([a, b], overlap="max", nodata=0.0, bands=("band_blue",)).toPandas()
    out_mean = mosaic([a, b], overlap="mean", nodata=0.0, bands=("band_blue",)).toPandas()
    base = a.toPandas().set_index("cell_id")["band_blue"]
    for _, r in out_max.iterrows():
        v = base.loc[r["cell_id"]]
        if v == 0.0:
            assert np.isnan(r["band_blue"])  # all-source nodata stays NULL
        else:
            assert r["band_blue"] == v + 100.0
    for _, r in out_mean.iterrows():
        v = base.loc[r["cell_id"]]
        if v != 0.0:
            assert r["band_blue"] == v + 50.0


def test_mosaic_union_vs_intersection(spark, docs):
    a = _dense(docs)
    left = a.filter(F.col("col") < 40)   # source A footprint
    right = a.filter(F.col("col") >= 24)  # source B footprint; overlap 24..39
    union = mosaic([left, right], bands=("band_blue",))
    inter = mosaic_intersection([left, right], bands=("band_blue",))
    assert union.count() == 64 * 64
    assert inter.count() == 64 * 16
    # union bounds == elementwise union of source bounds
    u = union.agg(F.min("col"), F.max("col")).collect()[0]
    assert (u[0], u[1]) == (0, 63)


def test_concat_and_duplicate_time_mosaic(spark, docs):
    a = _dense(docs)
    b = a.withColumn(
        "band_blue",
        F.when(F.col("band_blue") == 0.0, 0.0).otherwise(F.col("band_blue") + 10.0),
    )
    stacked = concat([a, b], time_names=["t1", "t2"], bands=("band_blue",))
    assert stacked.select("t").distinct().count() == 2
    assert stacked.count() == 2 * 64 * 64
    # duplicate time names → mosaicked into one layer (xarray_.py:681-709)
    merged = concat([a, b], time_names=["t1", "t1"], overlap="max", bands=("band_blue",))
    assert merged.count() == 64 * 64
    mp = merged.toPandas().set_index("cell_id")["band_blue"]
    base = a.toPandas().set_index("cell_id")["band_blue"]
    valid = base[base != 0.0]
    assert (mp.loc[valid.index] == valid + 10.0).all()


def test_grids_equal(spark, docs):
    a = _dense(docs)
    assert grids_equal(a, a.withColumn("extra", F.lit(1)))


def test_stack_bands_is_not_a_mosaic(spark, docs):
    """stack_dim='band' concatenates the band axis (per-source-suffixed
    columns joined on the cell key) — previously it silently routed to a
    spatial max-mosaic, corrupting values."""
    from geowombat_spark.operators.mosaic import stack_bands

    a = _dense(docs)
    b = a.withColumn("band_blue", F.col("band_blue") + 100.0)
    out = stack_bands([a, b], nodata=None, bands=("band_blue",))
    assert {"band_blue_1", "band_blue_2"} <= set(out.columns)
    got = out.select(
        F.sum(F.col("band_blue_2") - F.col("band_blue_1")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert got["d"] == 100.0 * got["n"]  # both sources' values survive


def test_open_config_nodata_and_single_source(spark, docs, tmp_path):
    """gw.open consults config(nodata=...) for the mosaic nullify, and a
    LIST OF ONE source still nulls nodata and labels time — previously
    the single-source early-return skipped both, so gw.load rescaled raw
    nodata into 'valid' reflectance."""
    import geowombat_spark.api as gw

    p1 = str(tmp_path / "im1")
    p2 = str(tmp_path / "im2")
    d = _dense(docs).select("cell_id", "tile_id", "row", "col", "x", "y",
                            "band_blue", "band_green", "band_red")
    d.write.partitionBy("tile_id").parquet(p1)
    d.withColumn("band_blue", F.lit(7.0)).write.partitionBy(
        "tile_id"
    ).parquet(p2)

    with gw.config(nodata=7.0):
        m = gw.open(spark, [p1, p2], mosaic=True, overlap="min")
    # source 2's 7.0 is nodata → nulled → min() never sees it: the mosaic
    # equals source 1's band values wherever source 1 is valid
    base = {r["cell_id"]: r["band_blue"] for r in d.collect()}
    for r in m.select("cell_id", "band_blue").collect():
        if base[r["cell_id"]] != 7.0:
            assert r["band_blue"] == base[r["cell_id"]]

    one = gw.open(spark, [p1], time_names=["t1"], nodata=1.0)
    assert "t" in one.columns
    vals = one.select("band_blue").distinct().collect()
    assert all(r["band_blue"] != 1.0 for r in vals), "nodata not nulled"

    # a scalar path is a list of one: nodata from the kwarg or from
    # config() must null the same cells
    def rows(df):
        return df.orderBy("cell_id").collect()

    assert d.filter(F.col("band_blue") == 0.0).count() > 0
    listed = rows(gw.open(spark, [p1], nodata=0))
    assert rows(gw.open(spark, p1, nodata=0)) == listed
    with gw.config(nodata=0):
        assert rows(gw.open(spark, p1)) == listed
        assert rows(gw.open(spark, [p1])) == listed

    import pytest as _pytest

    with _pytest.raises(ValueError, match="stack_dim"):
        gw.open(spark, [p1, p2], stack_dim="bands")
