"""gw.extract parity tests — golden vectors from the reference suite.

/root/reference/tests/test_extract.py:20-31 (point values),
:49-69 (multi-time ``t1_blue``/``t2_blue`` columns),
:71-119 (polygon sample values + center coordinates).
Span-sequence survival (FIXTURES.md §9.10) is asserted via span_hash.
"""

import numpy as np
import pandas as pd
import pytest

from geowombat_spark.fixtures import (
    build_corpus,
    corpus_windows_for_tests,
    span_hash_py,
)
from geowombat_spark.grid import L8_GRID
from geowombat_spark.operators.extract import extract_points, extract_polygons
from geowombat_spark.sources.tables import corpus_df

GOLDEN = {
    "blue": [7966.0, 8030.0, 7561.0, 8302.0, 8277.0, 7398.0],
    "green": [7326.0, 7490.0, 6874.0, 8202.0, 7982.0, 6711.0],
    "red": [6254.0, 8080.0, 6106.0, 8111.0, 7341.0, 6007.0],
}
POLY_BLUE_10 = [7994.0, 8017.0, 8008.0, 8008.0, 8018.0, 8007.0, 7991.0, 7993.0, 7981.0, 7991.0]


def test_extract_points_multi_band(spark, docs, aoi_points_pdf):
    df = extract_points(spark, docs, aoi_points_pdf, L8_GRID).toPandas()
    assert len(df) == 6
    for b, vals in GOLDEN.items():
        np.testing.assert_allclose(df[b].values, vals)


def test_extract_points_single_band(spark, docs, aoi_points_pdf):
    df = extract_points(spark, docs, aoi_points_pdf, L8_GRID, bands=["blue"]).toPandas()
    np.testing.assert_allclose(df["blue"].values, GOLDEN["blue"])


def test_extract_points_schema_stable_across_aois(spark):
    """With time_names=None the output schema must NOT depend on which
    tiles the AOI touches: time labels are inferred from the UNPRUNED
    stack, so an AOI whose tiles miss a time step still gets that step's
    (all-null) band columns and extracts over different AOIs union
    cleanly."""
    from geowombat_spark.grid import L8_GRID as g
    from geowombat_spark.operators.extract import encode_points_pdf

    p1 = (g.left + 0.5 * g.cellx, g.top - 0.5 * g.celly)  # tile 0
    p2 = (  # opposite-corner tile
        g.left + (g.ncols - 0.5) * g.cellx,
        g.top - (g.nrows - 0.5) * g.celly,
    )
    enc = encode_points_pdf(
        pd.DataFrame({"id": [1, 2], "x": [p1[0], p2[0]], "y": [p1[1], p2[1]]}), g
    )
    t0, t1 = int(enc["tile_id"][0]), int(enc["tile_id"][1])
    assert t0 != t1  # precondition: the two AOIs prune to different tiles
    rows = [  # tile t0 carries both time steps; tile t1 only "t1"
        (int(enc["cell_id"][0]), t0, "t1", 10.0),
        (int(enc["cell_id"][0]), t0, "t2", 20.0),
        (int(enc["cell_id"][1]), t1, "t1", 30.0),
    ]
    docs = spark.createDataFrame(
        rows, "cell_id long, tile_id int, t string, band_blue double"
    )
    aoi1 = pd.DataFrame({"id": [1], "x": [p1[0]], "y": [p1[1]]})
    aoi2 = pd.DataFrame({"id": [2], "x": [p2[0]], "y": [p2[1]]})
    out1 = extract_points(spark, docs, aoi1, g, bands=["blue"])
    out2 = extract_points(spark, docs, aoi2, g, bands=["blue"])
    assert out1.columns == out2.columns  # AOI-independent schema
    r2 = out2.toPandas()
    assert r2["t1_blue"].iloc[0] == 30.0
    assert pd.isna(r2["t2_blue"].iloc[0])  # missing step -> null, not gone


def test_extract_points_multi_time(spark, corpus_dir, aoi_points_pdf):
    table = build_corpus(windows=corpus_windows_for_tests(), times=("t1", "t2"))
    stacked = corpus_df(spark, table, corpus_dir + "/stack2")
    df = extract_points(
        spark, stacked, aoi_points_pdf, L8_GRID, bands=["blue", "green", "red"]
    ).toPandas()
    # reference: identical stacks give identical t1_*/t2_* columns
    # (/root/reference/tests/test_extract.py:49-69)
    for b in ("blue", "green", "red"):
        np.testing.assert_allclose(df[f"t1_{b}"].values, GOLDEN[b])
        np.testing.assert_allclose(df[f"t2_{b}"].values, GOLDEN[b])


def test_extract_polygons_golden(spark, docs, aoi_polygons_pdf):
    water = aoi_polygons_pdf.iloc[:1]
    df = extract_polygons(spark, docs, water, L8_GRID, bands=["blue"]).toPandas()
    assert len(df) >= 10
    np.testing.assert_allclose(df["blue"].values[:10], POLY_BLUE_10)
    np.testing.assert_allclose(
        df["x"].values[:10], 737559.502430237 + 30.0 * np.arange(10), atol=1e-6
    )
    np.testing.assert_allclose(df["y"].values[:10], np.full(10, -2795247.7717836937), atol=1e-6)


def test_extract_polygons_frac(spark, docs, aoi_polygons_pdf):
    water = aoi_polygons_pdf.iloc[:1]
    full = extract_polygons(spark, docs, water, L8_GRID, bands=["blue"]).toPandas()
    sub = extract_polygons(
        spark, docs, water, L8_GRID, bands=["blue"], frac=0.5
    ).toPandas()
    assert len(sub) == int(len(full) * 0.5)
    # min_frac_area floor disables subsampling (util.py:538-551)
    floor = extract_polygons(
        spark, docs, water, L8_GRID, bands=["blue"], frac=0.5, min_frac_area=1e9
    ).toPandas()
    assert len(floor) == len(full)


def test_span_sequence_survives_join(spark, docs, aoi_points_pdf):
    """North-rule invariant: span sequences ride through the join
    byte-identically (kind, text, media_ref, order)."""
    df = extract_points(
        spark,
        docs,
        aoi_points_pdf,
        L8_GRID,
        bands=["blue"],
        keep_doc_columns=["doc_id", "spans", "span_hash"],
    ).toPandas()
    assert len(df) == 6
    for _, r in df.iterrows():
        assert span_hash_py(r["spans"]) == r["span_hash"]


def test_extract_drops_out_of_grid_points(spark, docs):
    """Points past the image bounds are DROPPED (reference sops.py:836-844),
    never clamped to edge cells with fabricated values."""
    import pandas as pd

    aoi = pd.DataFrame(
        {
            "id": [0, 1],
            "x": [717585.0 + 45.0, L8_GRID.right + 500.0],  # in, out
            "y": [-2776995.0 - 45.0, -2776995.0 - 45.0],
        }
    )
    out = extract_points(spark, docs, aoi, L8_GRID, bands=["blue"]).toPandas()
    assert set(out["id"]) == {0}


def test_extract_points_carries_aoi_attributes(spark, docs):
    """AOI attribute columns survive into the output (the reference appends
    band columns to the GeoDataFrame, attributes included)."""
    import pandas as pd

    aoi = pd.DataFrame(
        {
            "id": [0, 1],
            "x": [717585.0 + 45.0, 717585.0 + 105.0],
            "y": [-2776995.0 - 45.0, -2776995.0 - 105.0],
            "name": ["a", "b"],
        }
    )
    out = extract_points(spark, docs, aoi, L8_GRID, bands=["blue"]).toPandas()
    assert "name" in out.columns and set(out["name"]) == {"a", "b"}


def test_calc_area_per_queried_value(spark, docs):
    """calc_area returns one row per QUERIED value — overlapping 'lt'
    thresholds stay separate and zero-match values report 0.0."""
    from geowombat_spark.operators.sops import calc_area, subset

    dense = subset(docs, L8_GRID, 717585.0, -2776995.0, 128, 128)
    vals = sorted(
        r[0] for r in dense.select("band_blue").distinct().collect()
    )
    v_lo, v_hi = vals[1], vals[-1]
    out = calc_area(
        dense, L8_GRID, [v_lo, v_hi, 1e12], op="lt", units="m2"
    ).toPandas()
    assert list(out["value"]) == sorted([float(v_lo), float(v_hi), 1e12])
    a = dict(zip(out["value"], out["area"]))
    from pyspark.sql import functions as F

    n_lo = dense.filter(F.col("band_blue") < v_lo).count()
    n_all = dense.count()
    assert a[float(v_lo)] == n_lo * 900.0
    assert a[1e12] == n_all * 900.0  # everything is below 1e12
    # zero-match value reports 0.0, not a missing row
    out0 = calc_area(dense, L8_GRID, [-1.0], op="lt", units="m2").toPandas()
    assert len(out0) == 1 and out0["area"].iloc[0] == 0.0


def test_moving_window_wider_than_tile_raises(spark, docs):
    from geowombat_spark.operators.focal import moving

    with pytest.raises(ValueError, match="half-width"):
        moving(docs, L8_GRID, stat="mean", w=2 * L8_GRID.tile_rows + 3)


def test_bounds_overlay_touching_edges_intersect():
    from geowombat_spark.operators.sops import bounds_overlay

    assert bounds_overlay((0, 0, 10, 10), (10, 0, 20, 10), "intersects")
    assert not bounds_overlay((0, 0, 10, 10), (11, 0, 20, 10), "intersects")


def test_extract_points_all_out_of_grid_with_string_attr(spark, docs):
    """An AOI entirely outside the grid with a string attribute returns
    an EMPTY frame (reference sops.py:836-844), not a schema-inference
    crash on the empty object column."""
    aoi = pd.DataFrame(
        {
            "id": [0, 1],
            "x": [L8_GRID.right + 500.0, L8_GRID.right + 900.0],
            "y": [L8_GRID.top - 45.0, L8_GRID.top - 95.0],
            "name": ["a", "b"],
        }
    )
    out = extract_points(spark, docs, aoi, L8_GRID, bands=["blue"], id_column="id")
    assert out.count() == 0
    assert "name" in out.columns and "blue" in out.columns


def test_sample_polygons_duplicate_fids_sample_every_row(spark):
    """Two polygons sharing one fid (a multipart feature exploded without
    renumbering) must BOTH be sampled — not silently reduced to the
    group's first row."""
    from geowombat_spark.operators.extract import sample_polygons

    sq = lambda x0, y0: [  # noqa: E731 - 2x2-cell square at (x0, y0)
        [x0, y0, x0 + 60.0, y0, x0 + 60.0, y0 - 60.0, x0, y0 - 60.0, x0, y0]
    ]
    polys = pd.DataFrame(
        {"fid": [1, 1], "rings": [sq(717585.0, -2776995.0),
                                  sq(717885.0, -2776995.0)]}
    )
    pts = sample_polygons(spark, polys, L8_GRID, id_column="fid").collect()
    xs = sorted({r["x"] for r in pts})
    # 2 squares x 4 cell centers each, disjoint x ranges
    assert len(pts) == 8, pts
    assert len([x for x in xs if x < 717885.0]) == 2  # 2 distinct x per square
    assert len({r["point"] for r in pts}) == 8  # point ids unique within fid


def test_sample_polygons_float_fid_stays_numeric(spark):
    """A float64 fid column (pandas merge/NaN promotion of ints) follows
    the reference's int-FIRST fallback (util.py:553-559: int(1.0) == 1),
    producing a bigint id column — NOT the string '1.0'. A genuinely
    non-numeric fid still takes the string path."""
    from geowombat_spark.operators.extract import sample_polygons

    sq = lambda x0, y0: [  # noqa: E731
        [x0, y0, x0 + 60.0, y0, x0 + 60.0, y0 - 60.0, x0, y0 - 60.0, x0, y0]
    ]
    polys = pd.DataFrame(
        {"fid": [1.0, 2.0], "rings": [sq(717585.0, -2776995.0),
                                      sq(717885.0, -2776995.0)]}
    )
    out = sample_polygons(spark, polys, L8_GRID, id_column="fid")
    assert dict(out.dtypes)["fid"] == "bigint"
    assert sorted({r["fid"] for r in out.collect()}) == [1, 2]

    # int-convertible STRINGS also take the int path (int('7') == 7)
    polys_s = polys.assign(fid=["7", "8"])
    out_s = sample_polygons(spark, polys_s, L8_GRID, id_column="fid")
    assert dict(out_s.dtypes)["fid"] == "bigint"
    assert sorted({r["fid"] for r in out_s.collect()}) == [7, 8]

    # non-numeric fids keep the string path (no int() crash)
    polys_n = polys.assign(fid=["a", "b"])
    out_n = sample_polygons(spark, polys_n, L8_GRID, id_column="fid")
    assert dict(out_n.dtypes)["fid"] == "string"
    assert sorted({r["fid"] for r in out_n.collect()}) == ["a", "b"]

    # NON-integral floats must NOT truncate onto a shared int id/seed
    # (7.2 and 7.8 both becoming id 7 is silent wrong output): the int
    # path requires lossless round-trip, so these take the string path
    polys_f = polys.assign(fid=[7.2, 7.8])
    out_f = sample_polygons(spark, polys_f, L8_GRID, id_column="fid")
    assert dict(out_f.dtypes)["fid"] == "string"
    assert sorted({r["fid"] for r in out_f.collect()}) == ["7.2", "7.8"]

    # integral floats beyond int64 pass int() but would overflow the
    # kernel's int64 column — they must fall back to the string path,
    # not crash the job mid-stage
    polys_big = polys.assign(fid=[1e19, 2e19])
    out_big = sample_polygons(spark, polys_big, L8_GRID, id_column="fid")
    assert dict(out_big.dtypes)["fid"] == "string"
    assert out_big.count() > 0


def test_extract_polygons_duplicate_fid_attrs_not_doubled(spark, docs):
    """A multipart feature exploded into duplicate-fid rows must not
    double every sample row through the attribute join."""
    from geowombat_spark.operators.extract import sample_polygons

    sq = lambda x0, y0: [  # noqa: E731
        [x0, y0, x0 + 90.0, y0, x0 + 90.0, y0 - 90.0, x0, y0 - 90.0, x0, y0]
    ]
    part1 = sq(717585.0, -2776995.0)
    part2 = sq(717885.0, -2776995.0)
    single = pd.DataFrame(
        {"fid": [1, 2], "rings": [part1, part2], "crop": ["corn", "corn"]}
    )
    multi = pd.DataFrame(
        {"fid": [1, 1], "rings": [part1, part2], "crop": ["corn", "corn"]}
    )
    from geowombat_spark.operators.extract import extract_polygons

    n_single = extract_polygons(
        spark, docs, single, L8_GRID, bands=("blue",)
    ).count()
    n_multi = extract_polygons(
        spark, docs, multi, L8_GRID, bands=("blue",)
    ).count()
    assert n_multi == n_single, "duplicate-fid attribute join doubled rows"


def test_extract_points_single_time_duplicates_collapse(spark, aoi_points_pdf):
    """Duplicate (cell) corpus rows (pre-dedup appends) collapse via min
    on the single-time path too — the multi-time pivot already did."""
    from geowombat_spark.operators.extract import extract_points
    from geowombat_spark.sources.tables import corpus_df  # noqa: F401
    from tests.conftest import build_corpus, corpus_windows_for_tests  # noqa

    # duplicate the corpus rows with a higher band value
    base = build_corpus(windows=corpus_windows_for_tests(), with_span_hash=True)
    import pandas as _pd

    pdf = base.to_pandas()
    dup = pdf.copy()
    dup["band_blue"] = dup["band_blue"] + 1
    import tempfile as _tf

    d = _tf.mkdtemp(prefix="gw_dupex_")
    both = _pd.concat([pdf, dup], ignore_index=True)
    sdf = spark.createDataFrame(both)
    out = extract_points(spark, sdf, aoi_points_pdf, L8_GRID).toPandas()
    # one row per AOI point, min of the duplicate pair per band
    assert len(out) == len(
        extract_points(
            spark, spark.createDataFrame(pdf), aoi_points_pdf, L8_GRID
        ).toPandas()
    )


def test_sample_polygons_empty_frame_returns_empty(spark):
    from geowombat_spark.operators.extract import sample_polygons

    empty = pd.DataFrame({"fid": [], "rings": []})
    out = sample_polygons(spark, empty, L8_GRID)
    assert out.count() == 0
    assert set(out.columns) == {"fid", "point", "x", "y"}

    # an empty STRING-fid frame keeps the string id type, so it unions
    # with a non-empty string-fid result (a hardcoded bigint id did not)
    sq = [[717585.0, -2776995.0, 717645.0, -2776995.0, 717645.0,
           -2777055.0, 717585.0, -2777055.0]]
    named = sample_polygons(
        spark, pd.DataFrame({"fid": ["field_A"], "rings": [sq]}), L8_GRID
    )
    empty_s = sample_polygons(
        spark, pd.DataFrame({"fid": pd.Series([], dtype=object), "rings": []}),
        L8_GRID,
    )
    assert dict(empty_s.dtypes)["fid"] == "string"
    both = empty_s.unionByName(named)
    assert dict(both.dtypes)["fid"] == "string"
    assert sorted(r["fid"] for r in both.collect()) == ["field_A"] * 4
