"""Scale-evidence probe: ring tracing with a GIANT component spanning the
whole raster — the skew case a per-component tracer cannot survive.

Input: a 2048 x 2048 analytic raster (4.19M cells), two components only:
  - class 1: a 64-cell-thick square frame hugging the border — one
    connected component touching all 60 border tiles (16x16 tile lattice);
  - class 0: the 1920 x 1920 interior — one component spanning all 225
    interior tiles, 3.69M cells.

Every ring quantity has a closed form (the raster is two nested axis-
aligned squares), so correctness is asserted exactly at full scale:
  frame: exterior ring (4 corners, 4*2048 unit edges) + 1 hole
         (4 corners, 4*1920 edges), area 2048^2 - 1920^2;
  interior: 1 exterior ring (4 corners, 4*1920 edges), area 1920^2.

Skew evidence: a tracer grouped by component would serialize ALL 3.69M
interior cells into ONE task. trace_rings_tiled bounds every tile task by
the tile area plus halo strips (16,896 cells) and ships only
O(perimeter) collinear-merged segments to the stitcher — the stitcher
input here is 12 corner vertices. The probe prints the wall time and the
per-task data bounds.

Run: python tools/rings_scale_probe.py (a local[16] session).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from geowombat_spark.sources.tables import get_spark
from geowombat_spark.operators.polygonize import trace_rings_tiled

SIDE = 2048
T = 64           # frame thickness (cells)
TILE = 128       # tile lattice for both labeling and tracing
INNER = SIDE - 2 * T

spark = get_spark(app="rings-scale", master="local[16]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")

cells = spark.range(SIDE * SIDE).select(
    F.expr(f"id div {SIDE}").cast("long").alias("row"),
    (F.col("id") % SIDE).cast("long").alias("col"),
)
on_frame = (
    (F.col("row") < T) | (F.col("row") >= SIDE - T)
    | (F.col("col") < T) | (F.col("col") >= SIDE - T)
)
cells = cells.withColumn("value", F.when(on_frame, 1).otherwise(0).cast("long"))
# component ids are known analytically (two nested regions), so labeling
# is a plan literal: comp = min cell key of the region (frame: cell (0,0)
# -> 0; interior: cell (T,T) -> T*2^32 + T). This isolates the probe to
# the TRACING stage (connected_components_tiled has its own probe row).
comp_frame = 0
comp_inner = T * (1 << 32) + T
comps = cells.withColumn(
    "comp",
    F.when(on_frame, F.lit(comp_frame)).otherwise(F.lit(comp_inner)),
).persist()
n = comps.count()

t0 = time.time()
tiled = trace_rings_tiled(comps, tile_rows=TILE, tile_cols=TILE).persist()
rows = {(r["comp"], r["ring_idx"]): r for r in tiled.collect()}
t_tiled = time.time() - t0

# closed-form assertions, full scale
fe = rows[(comp_frame, 0)]
fh = rows[(comp_frame, 1)]
ie = rows[(comp_inner, 0)]
assert len(rows) == 3, sorted(rows)
assert not fe["is_hole"] and fe["n_vertices"] == 4 and fe["n_edges"] == 4 * SIDE
assert fe["area"] == float(SIDE * SIDE)
assert fh["is_hole"] and fh["n_vertices"] == 4 and fh["n_edges"] == 4 * INNER
assert fh["area"] == float(INNER * INNER)
assert not ie["is_hole"] and ie["n_vertices"] == 4 and ie["n_edges"] == 4 * INNER
assert ie["area"] == float(INNER * INNER)
assert list(zip(ie["ys"], ie["xs"]))[0] == (float(T), float(T))

# skew bounds: per-tile task input is capped by tile area + halo strips;
# stitcher input is corner vertices only (count them from the output)
n_tiles = (SIDE // TILE) ** 2
stitch_corners = sum(r["n_vertices"] for r in rows.values())
max_tile_cells = TILE * TILE + 4 * TILE  # own + 4 halo strips

print(
    f"RESULT cells={n} tiles={n_tiles} rings=3 violations=0 "
    f"giant_comp_cells={INNER * INNER} "
    f"tiled: wall={t_tiled:.1f}s max_task_cells={max_tile_cells} "
    f"stitch_input_corners={stitch_corners}"
)
spark.stop()
