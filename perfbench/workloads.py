"""The workloads: fixed, seeded cycles of requests into the engine's layers.

A request is one or more layer calls plus one action on the result. Every
call goes through ``Tracer.call`` (driver build time, job group when traced)
and every action through ``Tracer.act``. ``docs`` is the request's in-scope
document count, fixed in closed form by the generator's layout. ``check``
runs once, untimed, in the warm pass; any mismatch raises ``CheckFailed``.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import gen


class CheckFailed(AssertionError):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def noop(df) -> None:
    """Run the whole plan without collecting to the driver."""
    df.write.mode("overwrite").format("noop").save()


@dataclass
class Request:
    kind: str
    docs: int
    run: Callable  # (tracer) -> result passed to check
    check: Callable  # (result) -> None, raises CheckFailed


@dataclass
class Ctx:
    spark: object
    grid: object  # program GridSpec
    g: gen.Grid
    work: str
    frames: dict  # input name -> DataFrame
    text: gen.TextCorpus | None


RASTER_DOCS = 1 << 18


def program_grid(g: gen.Grid):
    from geowombat_spark.grid import GridSpec

    return GridSpec(
        left=0.0, top=0.0, cellx=g.cell, celly=g.cell, nrows=g.nrows,
        ncols=g.ncols, tile_rows=g.tile, tile_cols=g.tile, nodata=0.0,
    )


def _tile_docs(g: gen.Grid, tiles) -> int:
    return len(set(int(t) for t in tiles)) * g.tile * g.tile


def _window(g: gen.Grid, minx, miny, maxx, maxy) -> tuple[int, int, int, int]:
    """Grid-snapped (row0, row1, col0, col1) of a bbox, clamped."""
    c0 = max(int(math.floor(minx / g.cell)), 0)
    c1 = min(int(math.ceil(maxx / g.cell)), g.ncols)
    r0 = max(int(math.floor(-maxy / g.cell)), 0)
    r1 = min(int(math.ceil(-miny / g.cell)), g.nrows)
    return r0, r1, c0, c1


def _cells_of_xy(g: gen.Grid, x, y):
    col = np.floor(np.asarray(x, dtype=np.float64) / g.cell).astype(np.int64)
    row = np.floor(-np.asarray(y, dtype=np.float64) / g.cell).astype(np.int64)
    return row, col


# ---------------------------------------------------------------- aoi_extract

EXTRACT_BANDS = ["blue", "green", "red", "nir"]
N_POINTS = 512
SUBSET_ROWS, SUBSET_COLS = 96, 160


def _points(g: gen.Grid, row, col) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "id": np.arange(len(row), dtype=np.int64),
            "x": (col + 0.5) * g.cell,
            "y": -(row + 0.5) * g.cell,
        }
    )


def _check_extract(ctx: Ctx, aoi: pd.DataFrame):
    from geowombat_spark.fixtures import span_hash_py

    def check(df) -> None:
        rows = df.collect()
        expect(len(rows) == len(aoi), f"extract: {len(rows)} rows, want {len(aoi)}")
        by_id = aoi.set_index("id")
        for r in rows:
            prow, pcol = _cells_of_xy(ctx.g, by_id.at[r["id"], "x"], by_id.at[r["id"], "y"])
            want_id = int(prow) * ctx.g.ncols + int(pcol)
            expect(int(r["doc_id"]) == want_id, f"extract: point {r['id']} hit doc {r['doc_id']}")
            for b in EXTRACT_BANDS:
                expect(
                    r[b] == float(gen.band_value(b, want_id)),
                    f"extract: {b} of doc {want_id} is {r[b]}",
                )
            expect(
                span_hash_py(r["spans"]) == span_hash_py(gen.span_rows(want_id)),
                f"extract: spans of doc {want_id} changed",
            )

    return check


def aoi_extract(ctx: Ctx, rng: np.random.Generator) -> list[Request]:
    from geowombat_spark.functions import vi
    from geowombat_spark.operators import extract as ex
    from geowombat_spark.operators import sops

    g, docs = ctx.g, ctx.frames["raster"]
    scat_r = rng.integers(0, g.nrows, N_POINTS)
    scat_c = rng.integers(0, g.ncols, N_POINTS)
    tr, tc = int(rng.integers(0, g.tiles_y)), int(rng.integers(0, g.tiles_x))
    clus_r = tr * g.tile + rng.integers(0, g.tile, N_POINTS)
    clus_c = tc * g.tile + rng.integers(0, g.tile, N_POINTS)
    r0 = int(rng.integers(0, g.nrows - SUBSET_ROWS + 1))
    c0 = int(rng.integers(0, g.ncols - SUBSET_COLS + 1))

    def extract(aoi):
        def run(t):
            df = t.call(
                "operators.extract.extract_points",
                lambda: ex.extract_points(
                    ctx.spark, docs, aoi, ctx.grid, bands=EXTRACT_BANDS,
                    keep_doc_columns=["doc_id", "spans"], ordered=False,
                ),
            )
            t.act(df)
            return df

        return run

    def subset_ndvi(t):
        sub = t.call(
            "operators.sops.subset",
            lambda: sops.subset(
                docs, ctx.grid, left=c0 * g.cell, top=-r0 * g.cell,
                rows=SUBSET_ROWS, cols=SUBSET_COLS,
            ),
        )
        df = t.call("functions.vi.ndvi", lambda: vi.ndvi(sub, "band_red", "band_nir"))
        t.act(df)
        return df

    def check_subset(df) -> None:
        rows = df.select("doc_id", "row", "col", "ndvi").collect()
        expect(
            len(rows) == SUBSET_ROWS * SUBSET_COLS,
            f"subset: {len(rows)} rows, want {SUBSET_ROWS * SUBSET_COLS}",
        )
        ids = np.array([int(r["doc_id"]) for r in rows])
        red, nir = gen.band_value("red", ids), gen.band_value("nir", ids)
        want = np.clip((nir - red) / (nir + red), -1, 1)
        got = np.array([r["ndvi"] for r in rows])
        expect(np.allclose(got, want, rtol=0, atol=1e-12), "subset: ndvi != formula")
        inside = [r0 <= r["row"] < r0 + SUBSET_ROWS and c0 <= r["col"] < c0 + SUBSET_COLS for r in rows]
        expect(all(inside), "subset: row outside the window")

    scat, clus = _points(g, scat_r, scat_c), _points(g, clus_r, clus_c)
    return [
        Request("extract_scattered", _tile_docs(g, g.tile_of(scat_r, scat_c)),
                extract(scat), _check_extract(ctx, scat)),
        Request("extract_clustered", _tile_docs(g, g.tile_of(clus_r, clus_c)),
                extract(clus), _check_extract(ctx, clus)),
        Request("subset_ndvi", SUBSET_ROWS * SUBSET_COLS, subset_ndvi, check_subset),
        # the sink and exact dedup are JVM-only too: folded in here
        sink(ctx, rng),
        exact_dedup(ctx),
    ]


# ---------------------------------------------------------------- udf_kernels

# (vertex count, radius, centre row, centre col) in cells, relative to a
# tile-aligned origin: shapes and their tiles are the same for every seed,
# so every seed does the same work; the seed only picks the tiles
POLYGON_SHAPES = ((5, 9, 12, 12), (12, 14, 24, 66), (40, 20, 66, 40))
POLY_OFFSET = 16  # cells from the origin tile's corner


def _polygons(g: gen.Grid, rng: np.random.Generator) -> pd.DataFrame:
    shape_rng = np.random.default_rng(20261017)  # fixed vertex jitter
    br = int(rng.integers(0, g.tiles_y - 1)) * g.tile + POLY_OFFSET
    bc = int(rng.integers(0, g.tiles_x - 1)) * g.tile + POLY_OFFSET
    rings = []
    for nv, rad, cr, cc in POLYGON_SHAPES:
        ang = np.sort(shape_rng.uniform(0, 2 * np.pi, nv))
        rr = rad * shape_rng.uniform(0.6, 1.0, nv)
        xs = (bc + cc + rr * np.cos(ang)) * g.cell
        ys = -(br + cr + rr * np.sin(ang)) * g.cell
        ring = np.column_stack([xs, ys]).ravel().tolist()
        rings.append([ring + ring[:2]])
    return pd.DataFrame({"fid": np.arange(len(rings), dtype=np.int64), "rings": rings})


def _poly_window(g: gen.Grid, polys: pd.DataFrame):
    xs = np.concatenate([np.asarray(r)[0::2] for rs in polys["rings"] for r in rs])
    ys = np.concatenate([np.asarray(r)[1::2] for rs in polys["rings"] for r in rs])
    return _window(g, xs.min(), ys.min(), xs.max(), ys.max())


def _area(win) -> int:
    r0, r1, c0, c1 = win
    return (r1 - r0) * (c1 - c0)


def udf_kernels(ctx: Ctx, rng: np.random.Generator) -> list[Request]:
    from pyspark.sql import functions as F

    from geowombat_spark.operators import extract as ex
    from geowombat_spark.operators import focal, rasterize, sops

    g, docs = ctx.g, ctx.frames["raster"]
    polys = _polygons(g, rng)
    win = _poly_window(g, polys)
    mask_tile = [int(g.tile_of(win[0], win[2]))]
    mtr, mtc = int(rng.integers(0, g.tiles_y)), int(rng.integers(0, g.tiles_x - 1))
    moving_tiles = [mtr * g.tiles_x + mtc, mtr * g.tiles_x + mtc + 1]

    def clip(t):
        df = t.call(
            "operators.sops.clip_by_polygon",
            lambda: sops.clip_by_polygon(docs, polys, ctx.grid, mask_data=True),
        )
        t.act(df)
        return df

    def check_clip(df) -> None:
        n, kept = df.agg(F.count(F.lit(1)), F.count_if(F.col("band_blue") != 0)).first()
        expect(n == _area(win), f"clip: {n} rows, want window area {_area(win)}")
        expect(0 < kept < n, f"clip: {kept} of {n} cells kept by the mask")

    def mask(t):
        frame = docs.filter(F.col("tile_id").isin(mask_tile))
        df = t.call(
            "operators.sops.mask",
            lambda: sops.mask(frame, polys, ctx.grid, all_touched=True),
        )
        t.act(df)
        return df

    def check_mask(df) -> None:
        n = df.count()
        expect(n == g.tile * g.tile, f"mask: {n} rows, want {g.tile * g.tile}")

    def extract_polys(t):
        df = t.call(
            "operators.extract.extract_polygons",
            lambda: ex.extract_polygons(ctx.spark, docs, polys, ctx.grid, bands=["blue"]),
        )
        t.act(df)
        return df

    def check_extract_polys(df) -> None:
        rows = df.select("fid", "x", "y", "blue").collect()
        expect(len(rows) > 0, "extract_polygons: no rows")
        row, col = _cells_of_xy(g, [r["x"] for r in rows], [r["y"] for r in rows])
        want = gen.band_value("blue", row * g.ncols + col)
        got = np.array([r["blue"] for r in rows])
        expect(np.array_equal(got, want), "extract_polygons: band values != formula")

    def to_array(t):
        df = t.call(
            "operators.rasterize.polygon_to_array",
            lambda: rasterize.polygon_to_array(ctx.spark, polys, ctx.grid),
        )
        t.act(df)
        return df

    def check_to_array(df) -> None:
        n, burned = df.agg(F.count(F.lit(1)), F.sum("value")).first()
        expect(n == _area(win), f"polygon_to_array: {n} cells, want {_area(win)}")
        expect(0 < burned < n, f"polygon_to_array: {burned} of {n} cells burned")

    def moving(t):
        frame = docs.filter(F.col("tile_id").isin(moving_tiles))
        df = t.call(
            "operators.focal.moving",
            lambda: focal.moving(frame, ctx.grid, stat="mean", w=5),
        )
        t.act(df)
        return df

    def check_moving(df) -> None:
        rows = df.select("row", "col", "band_blue_mean").collect()
        expect(len(rows) == 2 * g.tile * g.tile, f"moving: {len(rows)} rows, want {2 * g.tile * g.tile}")
        # one interior cell against the closed form
        r, c = mtr * g.tile + 10, mtc * g.tile + 10
        got = next(x["band_blue_mean"] for x in rows if x["row"] == r and x["col"] == c)
        rr, cc = np.meshgrid(np.arange(r - 2, r + 3), np.arange(c - 2, c + 3))
        want = gen.band_value("blue", rr * g.ncols + cc).mean()
        expect(abs(got - want) < 1e-9, f"moving: mean {got}, want {want}")

    poly_cells = sum(_area(_poly_window(g, polys.iloc[[i]])) for i in range(len(polys)))
    return [
        Request("clip_by_polygon", _area(win), clip, check_clip),
        Request("mask", g.tile * g.tile, mask, check_mask),
        Request("extract_polygons", poly_cells, extract_polys, check_extract_polys),
        Request("polygon_to_array", _area(win), to_array, check_to_array),
        Request("moving", 2 * g.tile * g.tile, moving, check_moving),
    ]


# ---------------------------------------------------------- sink and dedup

SINK_TILES = 1  # a small slice: the per-call audit dominates
TEXT_DOCS = 3000


def sink(ctx: Ctx, rng: np.random.Generator) -> Request:
    """Checkpointed tiled write of a seeded slice, to a fresh directory per
    call; the check also audits the written dataset against its manifest."""
    from pyspark.sql import functions as F

    from geowombat_spark.plans import checkpoint as cp

    g, docs = ctx.g, ctx.frames["raster"]
    tiles = sorted(int(t) for t in rng.permutation(g.tiles_x * g.tiles_y)[:SINK_TILES])
    frame = docs.filter(F.col("tile_id").isin(tiles))
    n_rows = len(tiles) * g.tile * g.tile
    written = []

    def run(t):
        dest = os.path.join(ctx.work, "sink", f"w{len(written):05d}")
        written.append(dest)
        man = t.call(
            "plans.checkpoint.write_tiled_checkpointed",
            lambda: cp.write_tiled_checkpointed(frame, dest),
        )
        t.act(man)
        return man

    def check(man) -> None:
        rows = man.collect()
        got = sum(r["row_count"] for r in rows)
        expect(got == n_rows, f"sink: manifest counts {got} rows, want {n_rows}")
        expect(sorted(r["tile_id"] for r in rows) == tiles, "sink: manifest tiles != slice tiles")
        bad = cp.verify_against_manifest(frame, ctx.spark, written[-1]).collect()
        expect(not bad, f"sink: verify_against_manifest reports {len(bad)} tiles")

    return Request("sink_write", n_rows, run, check)


def clean_sink(ctx: Ctx) -> None:
    shutil.rmtree(os.path.join(ctx.work, "sink"), ignore_errors=True)


def exact_dedup(ctx: Ctx) -> Request:
    from geowombat_spark.pipeline import dedup

    txt, corpus = ctx.frames["text"], ctx.text

    def run(t):
        df = t.call("pipeline.dedup.exact_dedup", lambda: dedup.exact_dedup(txt))
        t.act(df)
        return df

    def check(df) -> None:
        rows = df.collect()
        # every planted exact pair, and not the whitespace-variant twins
        want = sorted(a for a, _ in corpus.exact_pairs)
        got = sorted(r["survivor_id"] for r in rows)
        expect(got == want, f"exact_dedup: {len(got)} groups, want the {len(want)} planted")
        expect(all(r["n_dupes"] == 2 for r in rows), "exact_dedup: group size != 2")

    return Request("exact_dedup", corpus.n_docs, run, check)


WORKLOADS = {
    "aoi_extract": aoi_extract,
    "udf_kernels": udf_kernels,
}

#: functions each workload calls — the per-layer metric families
FUNCTIONS = {
    "aoi_extract": (
        "operators.extract.extract_points",
        "operators.sops.subset",
        "functions.vi.ndvi",
        "plans.checkpoint.write_tiled_checkpointed",
        "pipeline.dedup.exact_dedup",
    ),
    "udf_kernels": (
        "operators.sops.clip_by_polygon",
        "operators.sops.mask",
        "operators.extract.extract_polygons",
        "operators.rasterize.polygon_to_array",
        "operators.focal.moving",
    ),
}
