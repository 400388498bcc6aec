"""Physical-plan contract pins — the scale guarantees value tests can't see.

A plan that silently loses partition pruning, filter pushdown, column
pruning, or a broadcast still returns correct answers at test scale while
becoming a full-scan or shuffle catastrophe at 100 TB. These tests pin the
plan SHAPE: they read Spark's physical plan string (the same text
``.explain`` prints) and assert the load-bearing operators are present —
and the catastrophic ones absent — so a regression shows up as a red test
at sf0.001 instead of a cluster incident at corpus scale.

Reference parity note: the reference gets the equivalent guarantees from
windowed rasterio reads (``backends/rasterio_.py``) — only requested
windows/bands are read. Here the same promises are Catalyst's job, so the
pins watch Catalyst output.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import L8_GRID
from geowombat_spark.operators import sops
from geowombat_spark.operators.extract import extract_points


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_extract_broadcasts_aoi_no_corpus_shuffle(spark, docs, aoi_points_pdf):
    """extract joins a tiny AOI against the corpus: the AOI must be the
    broadcast side (zero corpus shuffle). A SortMergeJoin here would
    shuffle the full 100 TB corpus on cell_id to join 1024 points."""
    plan = _plan(extract_points(spark, docs, aoi_points_pdf, L8_GRID))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_subset_prunes_partitions_and_pushes_filters(docs):
    """gw.subset is a bbox read: the tile predicate must reach the scan as
    a PARTITION filter (directories never listed) and the row/col range as
    PUSHED filters (row groups skipped by min/max stats). If either
    regresses to a post-scan Filter, every query reads the whole corpus."""
    g = L8_GRID
    out = sops.subset(docs, g, left=g.left + 2 * g.cellx,
                      top=g.top - 2 * g.celly, rows=64, cols=64)
    scans = _scan_lines(_plan(out))
    assert scans, "expected a parquet scan in the subset plan"
    scan = scans[0]
    pf = scan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "tile_id" in pf[1].split("]", 1)[0]
    pushed = scan.split("PushedFilters: [", 1)
    assert len(pushed) == 2
    pushed_body = pushed[1].split("]", 1)[0]
    assert "row" in pushed_body and "col" in pushed_body


def test_column_pruning_reaches_scan(docs):
    """A two-column projection must scan two columns: parquet is columnar,
    and reading unused band/span columns multiplies IO by the full row
    width. ReadSchema is the scan's actual IO contract."""
    out = docs.select("doc_id", "band_blue").filter(F.col("band_blue") > 0)
    scan = _scan_lines(_plan(out))[0]
    schema = scan.split("ReadSchema: ", 1)[1]
    assert "doc_id" in schema and "band_blue" in schema
    for heavy in ("spans", "band_green", "band_red", "band_nir"):
        assert heavy not in schema, f"column pruning lost: scan reads {heavy}"


def test_aggregation_has_map_side_combine(docs):
    """groupBy aggregates must partial-aggregate before the exchange
    (map-side combine): shuffling raw rows instead of per-partition
    partials moves the full corpus through the shuffle."""
    out = docs.groupBy("tile_id").agg(F.sum("band_blue").alias("s"))
    plan = _plan(out)
    assert "partial_sum" in plan
    # exactly one exchange: partial -> shuffle by key -> final
    n_exchange = plan.count("Exchange ")
    assert n_exchange == 1, f"expected 1 shuffle, plan has {n_exchange}"


def test_band_math_stays_in_codegen(docs):
    """Band math is Column arithmetic: it must run inside whole-stage
    codegen (JVM, vectorized), not fall out to an interpreted project or a
    Python UDF (BatchEvalPython = per-row Python in the hot path)."""
    from geowombat_spark.functions import vi

    # the test corpus carries blue/green/red; norm_diff over any two bands
    # exercises the same Column-arithmetic path as ndvi/evi/etc.
    plan = _plan(vi.norm_diff(docs, "band_green", "band_red", out="nd"))
    # executedPlan().toString() marks codegen stages with "*(n) " prefixes
    # (the treeString form of WholeStageCodegen)
    assert "*(1) Project" in plan
    assert "BatchEvalPython" not in plan


ENTRY_LAZY_QUERIES = [
    # join-bearing and agg-bearing driver queries whose builders are
    # side-effect-free enough to plan at sf0.001 (no sinks, no ML training,
    # no streaming); together they cover every join family in the engine
    "q_extract_points",
    "q_extract_polygons",
    "q_extract_touched",
    "q_clip",
    "q_subset",
    "q_mask",
    "q_knn_join",
    "q_near_pairs",
    "q_mosaic",
    "q_concat",
    "q_band_math",
    "q_lineitem_pricing",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_jaccard_pairs",
    "q_decontaminate",
    "q_bm25",
    "q_ann_topk",
    "q_group_dates",
    "q_quality_buckets",
]


@pytest.mark.parametrize("qname", ENTRY_LAZY_QUERIES)
def test_no_cartesian_product_in_driver_queries(spark, qname):
    """No driver query may plan a CartesianProduct: at corpus scale an
    unintended cartesian is the difference between a job and an outage.
    (Scalar-broadcast crossJoins compile to BroadcastNestedLoopJoin over a
    1-row side — bounded and allowed; CartesianProduct is not.)"""
    import __spark_entry__ as entry

    df = entry.queries()[qname](spark, "/root/testdata/sf0.001")
    assert "CartesianProduct" not in _plan(df), qname


def test_extract_plan_row_parity(spark, docs, aoi_points_pdf):
    """The broadcast plan shape above must coexist with correctness: the
    same frame whose plan was pinned returns the golden row count (guards
    against pinning the plan of a frame that silently changed meaning)."""
    out = extract_points(spark, docs, aoi_points_pdf, L8_GRID)
    assert out.count() == 6
    assert np.isfinite(out.toPandas()["blue"]).all()


PYTHON_NODES = (
    "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
)
UNBOUNDED_JOINS = ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
POLYGON_OPERATORS = [
    "clip_mask_data", "mask", "mask_all_touched", "recode",
    "extract_polygons", "polygon_to_array", "sample_polygons",
]


@pytest.mark.parametrize("op", POLYGON_OPERATORS)
def test_polygon_operators_broadcast_runs_without_python(spark, docs, op):
    """Polygon membership is decided on the driver (scanline runs), so
    the polygon operators' plans hold no Python-worker node, and the
    runs/samples side reaches the corpus as a broadcast hash join (the
    range condition rides on the row equi-key) — never a sort-merge or a
    nested-loop join over the corpus. Building a plan starts no Spark
    job: the run table is a local relation, not a collected result."""
    import pandas as pd

    from geowombat_spark.fixtures import AOI_POLYGONS
    from geowombat_spark.operators.extract import extract_polygons, sample_polygons
    from geowombat_spark.operators.rasterize import polygon_to_array

    water = AOI_POLYGONS[0]
    polys = pd.DataFrame([{"fid": water["fid"], "rings": water["rings"]}])
    build = {
        "clip_mask_data": lambda: sops.clip_by_polygon(
            docs, polys, L8_GRID, mask_data=True),
        "mask": lambda: sops.mask(docs, polys, L8_GRID, all_touched=False),
        "mask_all_touched": lambda: sops.mask(docs, polys, L8_GRID, all_touched=True),
        "recode": lambda: sops.recode(docs, polys, L8_GRID, {7994.0: 1.0}),
        "extract_polygons": lambda: extract_polygons(spark, docs, polys, L8_GRID),
        "polygon_to_array": lambda: polygon_to_array(spark, polys, L8_GRID),
        "sample_polygons": lambda: sample_polygons(spark, polys, L8_GRID),
    }
    sc = spark.sparkContext
    group = f"test-polygon-build-{op}"
    sc.setJobGroup(group, f"build {op}")
    try:
        df = build[op]()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == set(), f"{op}: building started jobs {sorted(jobs)}"
    plan = _plan(df)
    for node in PYTHON_NODES + UNBOUNDED_JOINS:
        assert node not in plan, f"{op}: {node} in plan"
    if op != "sample_polygons":  # points only: no corpus side to join
        assert "BroadcastHashJoin" in plan, op


def _build(spark, group, build):
    """``build()`` and the ids of the jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = build()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, jobs


def _build_moving(spark, docs, group, **kw):
    """``moving(docs, **kw)`` and the ids of the jobs its build started."""
    from geowombat_spark.operators.focal import moving

    return _build(spark, group, lambda: moving(docs, L8_GRID, w=5, **kw))


@pytest.mark.parametrize(
    "stat,weights", [("mean", False), ("perc", False), ("std", True)]
)
def test_moving_is_one_jvm_aggregate(spark, docs, stat, weights):
    """focal.moving with fixed-width home columns is one neighbour-offset
    hash aggregate in the JVM: building it starts no job, and its plan
    holds no Python-worker node, no sort aggregate and exactly one
    exchange (the target-cell hash partitioning)."""
    df, jobs = _build_moving(
        spark, docs, f"test-moving-build-{stat}-{weights}",
        stat=stat, weights=weights, keep=("tile_id",),
    )
    assert jobs == set(), f"building started jobs {sorted(jobs)}"
    plan = _plan(df)
    for node in PYTHON_NODES + ("SortAggregate",):
        assert node not in plan, node
    assert "HashAggregate" in plan, plan
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_moving_joins_variable_width_keep_back(spark, docs):
    """A string ``keep`` column stays out of the aggregate: it has no
    hash-aggregate buffer, so carrying it would plan a sort aggregate over
    all w² fanned-out rows. The home rows join back on the cell key."""
    df, jobs = _build_moving(
        spark, docs, "test-moving-build-string-keep",
        stat="mean", keep=("doc_id",),
    )
    assert jobs == set(), f"building started jobs {sorted(jobs)}"
    plan = _plan(df)
    for node in PYTHON_NODES + ("SortAggregate", "any_value"):
        assert node not in plan, node
    assert "HashAggregate" in plan, plan
    assert re.search(r"Join \[_ft#\d+L\], \[_ft#\d+L\], Inner", plan), plan


def test_slope_aspect_is_one_jvm_aggregate(spark, docs):
    """slope_aspect runs the same neighbour-offset aggregate as moving (a
    five-tap centre/N/S/W/E stencil): building it starts no job, and with
    a fixed-width ``keep`` its plan holds no Python-worker node, no sort
    aggregate and exactly one exchange."""
    from geowombat_spark.functions.topo import slope_aspect

    df, jobs = _build(
        spark, "test-slope-aspect-build",
        lambda: slope_aspect(docs, L8_GRID, elev="band_blue", keep=("tile_id",)),
    )
    assert jobs == set(), f"building started jobs {sorted(jobs)}"
    plan = _plan(df)
    for node in PYTHON_NODES + ("SortAggregate",):
        assert node not in plan, node
    assert "HashAggregate" in plan, plan
    assert plan.count("Exchange ") == 1, plan


def test_grouped_map_kernels_declare_their_eval_type(spark):
    """Every grouped-map kernel annotates its key and frame, so
    ``applyInPandas`` infers the grouped-map eval type from the hints
    instead of warning that it cannot."""
    import warnings

    import pandas as pd

    from geowombat_spark.grid import GridSpec
    from geowombat_spark.operators import polygonize, temporal
    from geowombat_spark.operators.coregister import detect_shifts
    from geowombat_spark.pipeline import dedup
    from geowombat_spark.pipeline.curate import pack_sequences

    g = GridSpec(left=0.0, top=40.0, cellx=10.0, celly=10.0,
                 nrows=4, ncols=4, tile_rows=2, tile_cols=2)
    cells = spark.createDataFrame(
        [(r, c, 0.5 * r, 0.5 * c, 1.0 + r, 1.0 + c, 1, "t0", r % 2)
         for r in range(4) for c in range(4)],
        "row long, col long, x double, y double, b_ref double, b_tar double, "
        "tile_id long, t string, value long",
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    text = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": ["a b", "c", "d e f", "g"]})
    )
    comps = polygonize.connected_components_tiled(cells, "value", 2, 2)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        detect_shifts(cells, g, "b_ref", "b_tar", max_shift=1)
        temporal.series_apply(
            cells.withColumnRenamed("b_ref", "band_blue"),
            lambda cube, times: cube[:1], ("first",), time_names=["t0"],
        )
        polygonize.connected_components_tiled(cells, "value", 2, 2)
        polygonize.trace_rings_tiled(comps, tile_rows=2, tile_cols=2)
        dedup.embedding_neardup_pairs(emb, threshold=0.5)
        pack_sequences(text, max_tokens=4, n_shards=1, exact=True)


def test_entry_builds_without_running_a_job(spark):
    """Building the flagship plan starts no Spark job: the clip row count
    is a broadcast one-row aggregate inside the returned plan, not an
    eager count() on the driver."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    group = "test-entry-build"
    sc.setJobGroup(group, "build entry()")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        entry.entry(spark)
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after - before == set()


def test_sink_one_batch_job_budget(spark, tmp_path):
    """A fresh one-batch checkpointed write runs at most 7 Spark jobs:
    the tile pre-pass (2), the data write (2), the read-back schema
    inference (1), and the metrics + manifest append (2). A hidden action
    or a re-executed upstream shows up here as an extra job."""
    from geowombat_spark.plans import checkpoint as cp

    df = spark.range(6000).withColumnRenamed("id", "doc_id").withColumns(
        {
            "tile_id": F.col("doc_id") % 12,
            "cell_id": F.col("doc_id") * 7 % 100000,
            "value": (F.col("doc_id") % 251).cast("double"),
        }
    )
    sc = spark.sparkContext
    group = "test-sink-job-budget"
    sc.setJobGroup(group, "one-batch write_tiled_checkpointed")
    try:
        cp.write_tiled_checkpointed(df, str(tmp_path / "sink"))
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(jobs) <= 7, sorted(jobs)


@pytest.mark.parametrize("name", ["encode_cells", "match_layout", "grid_docs"])
def test_cell_encoder_builds_in_the_jvm(spark, docs, name):
    """The DataFrame cell encoder is one SQL projection plus the JVM
    Z-order: building it — directly, through the re-keying
    ``match_layout``, or through the driver's ``grid_docs`` corpus —
    starts no job, and the plan holds no Python-worker node."""
    import __spark_entry__ as entry

    from geowombat_spark.grid import encode_cells
    from geowombat_spark.operators.transform import match_layout

    build = {
        "encode_cells": lambda: encode_cells(docs.select("doc_id", "x", "y"), L8_GRID),
        "match_layout": lambda: match_layout(docs, L8_GRID),
        "grid_docs": lambda: entry.grid_docs(spark, "/root/testdata/sf0.001"),
    }
    df, jobs = _build(spark, f"test-encode-build-{name}", build[name])
    assert jobs == set(), f"building started jobs {sorted(jobs)}"
    plan = _plan(df)
    for node in PYTHON_NODES:
        assert node not in plan, node


def test_tiled_cc_build_job_budget(spark):
    """connected_components_tiled runs jobs while it is built: phase 1's
    eager localCheckpoint, and dedup_groups' checkpoint + convergence
    count per round. On the fixed 40x40 field of
    test_tiled_cc_matches_iterative (16x16 tiles, 4-connectivity) that
    measured 40 jobs; a hidden action or a re-executed upstream shows up
    here as more. Tracing the labelled frame adds no job."""
    import pandas as pd

    from geowombat_spark.operators import polygonize as pz

    rng = np.random.default_rng(5)
    rr, cc = np.meshgrid(np.arange(40), np.arange(40), indexing="ij")
    cells = spark.createDataFrame(pd.DataFrame(
        {"row": rr.ravel(), "col": cc.ravel(), "value": rng.integers(0, 3, rr.size)}
    ))
    comps, jobs = _build(
        spark, "test-tiled-cc-build",
        lambda: pz.connected_components_tiled(cells, "value", 16, 16),
    )
    assert 0 < len(jobs) <= 40, sorted(jobs)
    _, jobs = _build(
        spark, "test-trace-rings-build",
        lambda: pz.trace_rings_tiled(comps, tile_rows=16, tile_cols=16),
    )
    assert jobs == set(), sorted(jobs)


def _embeddings(spark):
    rng = np.random.default_rng(11)
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.standard_normal((80, 16)))],
        "vec_id long, embedding array<double>",
    )


def test_embedding_pair_plans_build_without_a_job(spark):
    """The near-duplicate plans are lazy: building the exact (blocked
    matmul) and approximate (SRP-LSH) embedding pairs, the Jaccard,
    MinHash-LSH and SimHash text pairs, or an incremental audit against an
    exact or a MinHash band index starts no job."""
    from geowombat_spark.pipeline import ann, dedup

    emb = _embeddings(spark)
    txt = spark.createDataFrame(
        [(i, f"doc {i % 7} shares these words {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    for name, build in {
        "embedding_neardup_pairs": lambda: dedup.embedding_neardup_pairs(emb),
        "hyperplane_lsh_pairs": lambda: ann.hyperplane_lsh_pairs(emb),
        "jaccard_pairs": lambda: dedup.jaccard_pairs(txt),
        "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(txt),
        "simhash_pairs": lambda: dedup.simhash_pairs(txt),
        "dedup_against": lambda: dedup.dedup_against(txt, dedup.exact_index(txt)),
        "neardup_against": lambda: dedup.neardup_against(
            txt, dedup.minhash_band_index(txt)
        ),
    }.items():
        _, jobs = _build(spark, f"test-{name}-build", build)
        assert jobs == set(), f"{name}: building started jobs {sorted(jobs)}"


@pytest.mark.parametrize(
    "search,job_budget,python_scans",
    [("brute_force_topk", 2, 1), ("ivf_topk", 3, 1), ("pq_topk", 3, 2)],
)
def test_topk_build_job_budget(spark, search, job_budget, python_scans):
    """The top-k searches collect the query side on the driver while they
    are built (``_collect_queries``), and IVF and PQ also their
    hash-ordered training sample: that is the design, so the measured
    build jobs on this fixed frame are pinned, and a hidden action shows
    up as more. IVF assigns and probes in one Python pass over the
    corpus; PQ makes two (the ADC scan and the shortlist rescore)."""
    from geowombat_spark.pipeline import ann

    emb = _embeddings(spark)
    df, jobs = _build(
        spark, f"test-{search}-build",
        lambda: getattr(ann, search)(emb, emb.filter(F.col("vec_id") < 3), k=3),
    )
    assert 0 < len(jobs) <= job_budget, sorted(jobs)
    assert _plan(df).count("MapInPandas") == python_scans
