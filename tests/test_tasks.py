"""GeoTask pipeline scheduler (reference tasks/pipeline.py:469-668)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from geowombat_spark.tasks import GeoTask


def _ndvi(df, b1="band_red", b2="band_nir"):
    from geowombat_spark.functions.vi import norm_diff

    return norm_diff(df, b1, b2)


def _bands(df):
    return df.withColumns(
        {
            "band_red": (F.lit(1) + (F.col("doc_id") * 13 + 5) % 255).cast(
                "double"
            ),
            "band_nir": (F.lit(1) + (F.col("doc_id") * 29 + 11) % 511).cast(
                "double"
            ),
        }
    )


def _mean_by_lang(df):
    return df.groupBy("lang").agg(F.avg("norm_diff").alias("mean_nd"))


def test_geotask_dag_and_write(spark):
    out_dir = tempfile.mkdtemp(prefix="gw_task_")
    try:
        t = GeoTask(
            inputs={
                "a": "/root/testdata/sf0.001/documents.parquet",
                "b": "a",
                "c": "b",
            },
            outputs={"b": "mem|ndvi", "c": os.path.join(out_dir, "mean")},
            tasks=(("a", _bands), ("b", _ndvi), ("c", _mean_by_lang)),
        )
        viz = t.visualize()
        assert "a <- [file:/root/testdata" in viz and "-> mem|ndvi" in viz
        res = t.submit(spark)
        assert "ndvi" in res and res["ndvi"].columns.count("norm_diff") == 1
        written = spark.read.parquet(os.path.join(out_dir, "mean"))
        assert written.count() >= 1
        # the written mean equals recomputing the chain directly
        direct = _mean_by_lang(
            _ndvi(_bands(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
        )
        assert (
            written.orderBy("lang").collect()
            == direct.orderBy("lang").collect()
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_geotask_composition_and_validation(spark):
    t1 = GeoTask(
        {"a": "/root/testdata/sf0.001/documents.parquet"},
        {},
        (("a", _bands),),
    )
    t2 = GeoTask({"d": "a"}, {"d": "mem|nd"}, (("d", _ndvi),))
    combo = t1 + t2
    assert len(combo) == 2
    res = combo.submit(spark)
    assert "nd" in res and "norm_diff" in res["nd"].columns

    with pytest.raises(ValueError, match="both sides"):
        t1 + GeoTask({"a": "x"}, {}, (("a", _bands),))
    with pytest.raises(ValueError, match="no inputs"):
        GeoTask({}, {}, (("z", _bands),))


def test_geotask_tuple_inputs(spark):
    def _union(srcs):
        a, b = srcs
        return a.unionByName(b)

    t = GeoTask(
        inputs={
            "a": "/root/testdata/sf0.001/documents.parquet",
            "b": "/root/testdata/sf0.001/documents.parquet",
            "u": ("a", "b"),
        },
        outputs={"u": "mem|both"},
        tasks=(("a", _bands), ("b", _bands), ("u", _union)),
    )
    res = t.submit(spark)
    one = res["a"].count()
    assert res["both"].count() == 2 * one


def test_geotask_per_task_out_args(spark):
    """out_args is keyed by task id (the reference's per-task shape,
    pipeline.py:533): a 'mode' meant for one plain-parquet output must not
    leak into another task's tiled sink as an unexpected kwarg."""
    out_dir = tempfile.mkdtemp(prefix="gw_task_")
    try:
        def _tiled(df):
            from geowombat_spark.grid import GridSpec
            from geowombat_spark.grid import encode_cells

            g = GridSpec(
                left=0.0, top=0.0, cellx=30.0, celly=30.0,
                nrows=4096, ncols=25, tile_rows=8, tile_cols=25,
            )
            df = df.withColumns(
                {
                    "x": (F.col("doc_id") % 25 + 0.5) * 30.0,
                    "y": -((F.col("doc_id") / 25).cast("long") + 0.5) * 30.0,
                }
            )
            return encode_cells(df.select("doc_id", "x", "y"), g)

        t = GeoTask(
            inputs={"p": "/root/testdata/sf0.001/documents.parquet",
                    "q": "/root/testdata/sf0.001/documents.parquet"},
            outputs={
                "p": os.path.join(out_dir, "plain"),
                "q": os.path.join(out_dir, "tiled"),
            },
            tasks=(("p", _bands), ("q", _tiled)),
            out_args={
                "p": {"mode": "overwrite"},
                "q": {"batch_tiles": 16, "mode": "overwrite"},
            },
        )
        res = t.submit(spark)
        assert spark.read.parquet(os.path.join(out_dir, "plain")).count() >= 1
        # tiled output went through the checkpointed sink -> manifest
        # frame under the :written key; the task's own DataFrame survives
        assert res["q:written"] is not None
        assert "checksum" in res["q:written"].columns
        assert "cell_id" in res["q"].columns  # the frame, not the manifest
        assert res["p:written"] is None and res["p"].count() >= 1
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_func_args_typo_raises():
    """A func_args key naming no task must fail up front — the task would
    otherwise run with DEFAULT arguments and complete green."""
    with pytest.raises(ValueError, match="func_args"):
        GeoTask(
            {"ndvi": "in"},
            {"ndvi": "out"},
            (("ndvi", lambda df: df),),
            func_args={"nvdi": {"nodata": 0.0}},
        )
