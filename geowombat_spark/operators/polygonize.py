"""array_to_polygon — connected components of equal-valued cell regions,
and the polygon rings that bound them.

Reference: geowombat ``src/geowombat/core/conversion.py:495-568``
(``rasterio.features.shapes``: polygons of connected same-valued pixels,
4/8-connectivity) and the accessor ``to_polygon``
(``core/geoxarray.py:563-617``).

Spark shape: per-tile work plus a cross-tile merge, so no task ever holds
more than one tile's cells.

- :func:`connected_components_tiled` labels each tile with a local
  union-find (one ``groupBy(tile).applyInPandas``), then merges labels
  across tile borders with the min-label + pointer-jumping loop of
  :func:`geowombat_spark.pipeline.dedup.dedup_groups`, which iterates over
  the border label graph, not the cell graph. Component ids are the
  minimum cell key ``row * 2^32 + col`` of the component — deterministic,
  engine-independent.
- :func:`trace_rings_tiled` walks each component's boundary per tile and
  stitches the O(perimeter) boundary segments per component.
- :func:`trace_cell_rings` is the pure, no-Spark tracer for one
  component's cell set: the reference the tiled tracer is tested against.
- :func:`region_summary` is the cheap count+bbox form for callers that do
  not need geometry.

NaN and NULL classes: NaN = NaN (all NaN cells form one class), NULL
never equals anything (NULL cells stay singletons). Python kernels see
NaN-ness as an explicit ``_vnan`` flag (:func:`_flag_nan`), because the
Arrow round trip folds NaN into NULL; :func:`_restore_nan` puts NaN back
on the way out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _flag_nan(value, vt: str):
    """(value with NaN NULLed, ``_vnan`` flag) for a value column of Spark
    type ``vt``. The flag is what carries a NaN class through a Python
    kernel: the Arrow round trip would fold the NaN itself into NULL."""
    if vt in ("float", "double"):
        return F.nanvl(value, F.lit(None).cast(vt)), F.isnan(value)
    return value, F.lit(False)


def _restore_nan(vt: str):
    """The ``value`` column with NaN put back where ``_vnan`` is set — the
    inverse of :func:`_flag_nan`."""
    if vt in ("float", "double"):
        return F.when(
            F.col("_vnan"), F.lit(float("nan")).cast(vt)
        ).otherwise(F.col("value"))
    return F.col("value")


def region_summary(comps: DataFrame) -> DataFrame:
    """Per-region summary — the tabular form of the traced polygons:
    component id, class value, cell count, bbox."""
    return comps.groupBy("comp", "value").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("row").alias("row_min"),
        F.max("row").alias("row_max"),
        F.min("col").alias("col_min"),
        F.max("col").alias("col_max"),
    )


def _boundary_edges(
    cells: set[tuple[int, int]],
) -> dict[tuple[int, int], list[tuple[int, int]]]:
    """Directed boundary unit edges of a cell set, interior on the RIGHT:
    ``{tail_vertex: [head_vertex, ...]}``."""
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for (r, c) in cells:
        if (r - 1, c) not in cells:  # top side, walk +c
            add((r, c), (r, c + 1))
        if (r + 1, c) not in cells:  # bottom side, walk -c
            add((r + 1, c + 1), (r + 1, c))
        if (r, c - 1) not in cells:  # left side, walk -r
            add((r + 1, c), (r, c))
        if (r, c + 1) not in cells:  # right side, walk +r
            add((r, c + 1), (r + 1, c + 1))
    return edges


def _sgn2(v):
    """Component-wise sign of a 2-vector: the ONE direction/collinearity
    rule every boundary walker shares (single-task walk, per-tile chain
    walk, cross-tile stitcher). A private re-implementation in any walker
    could drift and silently break the tiled-equals-single-task
    contract."""
    return ((v[0] > 0) - (v[0] < 0), (v[1] > 0) - (v[1] < 0))


def _turn_pref(din):
    """:func:`_take_next`'s successor-direction preference for incoming
    unit direction ``din`` — right turn, straight, left turn, in the
    (row-down, col-right) frame. Shared with the stitcher's junction rule
    so the cross-tile edge-successor permutation can never diverge from
    the single-task walk's."""
    return [
        (din[1], -din[0]),   # right turn
        din,                 # straight
        (-din[1], din[0]),   # left turn
    ]


def _take_next(cur, din, outs):
    """Pop the successor of a directed boundary step — single edge, or the
    sharpest right turn at a pinch vertex (the non-crossing pairing that
    splits diagonally-touching lobes into simple rings, GDAL
    4-connectivity behavior). Shared verbatim by the single-task walk,
    the per-tile chain walk, and the cross-tile stitcher so all three
    produce the identical edge-successor permutation."""
    if len(outs) == 1:
        return outs.pop(0)
    for d in _turn_pref(din):
        cand = (cur[0] + d[0], cur[1] + d[1])
        if cand in outs:
            outs.remove(cand)
            return cand
    return outs.pop(0)


def _shoelace(corners: list[tuple[int, int]]) -> float:
    """Signed area in (x=col, y=row) — exterior positive."""
    import numpy as np

    xs = np.array([p[1] for p in corners], dtype=np.float64)
    ys = np.array([p[0] for p in corners], dtype=np.float64)
    return 0.5 * float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))


def _merge_collinear_cyclic(
    ring: list[tuple[int, int]],
) -> list[tuple[int, int]]:
    """Keep only corners of a closed vertex cycle (direction changes),
    comparing step *signs* (:func:`_sgn2`) so it also canonicalizes
    stitched rings whose steps are already multi-unit runs."""
    merged = []
    m = len(ring)
    for i in range(m):
        p0, p1, p2 = ring[i - 1], ring[i], ring[(i + 1) % m]
        d0 = _sgn2((p1[0] - p0[0], p1[1] - p0[1]))
        d1 = _sgn2((p2[0] - p1[0], p2[1] - p1[1]))
        if d0 != d1:
            merged.append(p1)
    return merged


def _walk_closed_rings(
    edges: dict[tuple[int, int], list[tuple[int, int]]],
) -> list[tuple[list[tuple[int, int]], int, float]]:
    """Consume a closed directed-edge set into rings: each as (corner
    vertices starting at the ring's lexicographic-min vertex, unit edge
    count, signed shoelace area). Mutates ``edges``."""
    rings = []
    while edges:
        start = min(edges)
        cur = start
        nxt = edges[start].pop(0)
        if not edges[start]:
            del edges[start]
        ring = [start]
        din = (nxt[0] - cur[0], nxt[1] - cur[1])
        cur = nxt
        while cur != start:
            ring.append(cur)
            outs = edges.get(cur)
            if not outs:  # open boundary: malformed input
                raise ValueError(f"boundary walk stuck at {cur}")
            nxt = _take_next(cur, din, outs)
            if not outs:
                edges.pop(cur, None)
            din = (nxt[0] - cur[0], nxt[1] - cur[1])
            cur = nxt
        n_edges = len(ring)
        merged = _merge_collinear_cyclic(ring)
        rings.append((merged, n_edges, _shoelace(merged)))
    return rings


def trace_cell_rings(
    cells: set[tuple[int, int]],
) -> list[tuple[list[tuple[int, int]], int, float]]:
    """Pure boundary tracer for ONE component's cell set (no Spark).

    Returns rings sorted exterior-first: each as (corner vertices, unit
    edge count, signed area in (x=col, y=row) — exterior positive). The
    walk keeps the interior on the RIGHT; pinch vertices take the
    sharpest right turn; collinear runs merge to corners. This is the
    whole-component "single-task walk" that :func:`trace_rings_tiled` must
    reproduce exactly; tests/test_property.py drives it directly (the
    Euler-characteristic invariants and the tiled-equals-single-task
    sweep).
    """
    rings = _walk_closed_rings(_boundary_edges(cells))
    # deterministic ring order: exterior-first (area desc), then first vertex
    rings.sort(key=lambda t: (-t[2], t[0][0] if t[0] else (0, 0)))
    return rings


def _walk_tile_chains(edges, tile_rows: int, tile_cols: int):
    """Split one component's boundary edges *within one tile* into
    (a) open chains cut at tile lattice-line vertices and (b) rings that
    close entirely inside the tile. Mutates ``edges``.

    A vertex on a lattice line (``r % tile_rows == 0`` or
    ``c % tile_cols == 0``) may have its remaining edges owned by the
    neighboring tile, so pinch pairing there is deferred to the stitcher;
    every other vertex has ALL its edges in this tile (each directed
    boundary edge is generated by one of the ≤4 cells touching its tail,
    and a strictly-interior vertex touches only in-tile cells), so
    :func:`_take_next` pairing is locally complete and correct.

    Returns (chains, rings): chains as (vertex list incl. both endpoints,
    interior collinear runs merged, unit edge count); rings in
    :func:`_walk_closed_rings` form.
    """
    def is_cut(v):
        return (v[0] % tile_rows == 0) or (v[1] % tile_cols == 0)

    chains = []
    for v0 in sorted(v for v in edges if is_cut(v)):
        while edges.get(v0):
            outs0 = edges[v0]
            nxt = outs0.pop(0)
            if not outs0:
                del edges[v0]
            verts = [v0]
            n = 1
            din = (nxt[0] - v0[0], nxt[1] - v0[1])
            cur = nxt
            while not is_cut(cur):
                verts.append(cur)
                outs = edges.get(cur)
                if not outs:
                    raise ValueError(f"boundary walk stuck at {cur}")
                nxt = _take_next(cur, din, outs)
                if not outs:
                    edges.pop(cur, None)
                din = (nxt[0] - cur[0], nxt[1] - cur[1])
                cur = nxt
                n += 1
            verts.append(cur)
            # merge interior collinear runs; keep both endpoints (the
            # stitcher re-merges across junctions)
            kept = [verts[0]]
            for i in range(1, len(verts) - 1):
                d0 = (verts[i][0] - kept[-1][0], verts[i][1] - kept[-1][1])
                d1 = (verts[i + 1][0] - verts[i][0], verts[i + 1][1] - verts[i][1])
                if _sgn2(d0) != _sgn2(d1):
                    kept.append(verts[i])
            kept.append(verts[-1])
            chains.append((kept, n))
    rings = _walk_closed_rings(edges)
    return chains, rings


def _stitch_segments(segs):
    """Join open boundary chains (cut at tile lattice vertices) into
    closed rings, applying the same :func:`_take_next` sharpest-right-turn
    preference at junction vertices so the cross-tile edge-successor
    permutation equals the single-task walk's. ``segs``: list of
    (vertex list, unit edge count). Returns :func:`_walk_closed_rings`
    form (corners starting at the ring's min vertex, n_edges, signed
    area)."""
    def first_dir(i):
        v = segs[i][0]
        return _sgn2((v[1][0] - v[0][0], v[1][1] - v[0][1]))

    outmap: dict[tuple[int, int], list[int]] = {}
    for i, (v, _) in enumerate(segs):
        outmap.setdefault(v[0], []).append(i)
    for lst in outmap.values():
        lst.sort(key=lambda i: (first_dir(i), i))

    unused = set(range(len(segs)))
    rings = []
    while unused:
        seed = min(unused, key=lambda i: (segs[i][0][0], first_dir(i)))
        start_v = segs[seed][0][0]
        verts: list[tuple[int, int]] = []
        n_edges = 0
        i = seed
        while True:
            v, n = segs[i]
            unused.discard(i)
            outmap[v[0]].remove(i)
            verts.extend(v if not verts else v[1:])
            n_edges += n
            end = verts[-1]
            # A ring may legitimately pass THROUGH the seed vertex (a
            # pinch can be visited twice), so closure is decided on the
            # EDGE level: the ring closes only when the turn rule selects
            # the (already consumed) seed segment as the successor —
            # exactly the permutation-cycle criterion the single-task
            # walk realizes via its never-a-pinch min-vertex start.
            cands = [j for j in outmap.get(end, ()) if j in unused]
            if end == start_v:
                cands = cands + [seed]
            if not cands:
                raise ValueError(f"ring stitch stuck at {end}")
            if len(cands) == 1:
                i = cands[0]
            else:
                din = _sgn2((end[0] - verts[-2][0], end[1] - verts[-2][1]))
                for d in _turn_pref(din):
                    nxt = [j for j in cands if first_dir(j) == d]
                    if nxt:
                        i = nxt[0]
                        break
                else:
                    i = cands[0]
            if i == seed:
                verts.pop()  # close the cycle: drop the repeated start
                break
        corners = _merge_collinear_cyclic(verts)
        k = corners.index(min(corners))
        corners = corners[k:] + corners[:k]
        rings.append((corners, n_edges, _shoelace(corners)))
    return rings


# hash buckets of the per-component stitch: one kernel call stitches many
# small components, so per-group Arrow/pandas overhead is paid per bucket
_STITCH_BUCKETS = 256


def trace_rings_tiled(
    comps: DataFrame,
    grid=None,
    tile_rows: int = 64,
    tile_cols: int = 64,
) -> DataFrame:
    """Reconstruct polygon rings per component — the ``features.shapes``
    geometry step (``conversion.py:495-568``) — without any task holding a
    whole component's cells.

    ``comps`` needs (row, col, value, comp), as
    :func:`connected_components_tiled` returns it. Output: one row per
    ring — (comp, value, ring_idx, is_hole, n_vertices, n_edges, area, xs,
    ys). Boundary convention: walk with the interior on the RIGHT,
    preferring the sharpest right turn at pinch vertices (two regions
    meeting diagonally split into simple rings — GDAL's 4-connectivity
    behavior; the lobes of an 8-connected component that touch only at a
    corner trace to one exterior ring each, under the one ``comp``).
    Exterior rings have positive shoelace area in (col, row)
    coordinates, holes negative; ``area`` is reported unsigned with
    ``is_hole``. Collinear runs are merged, so ``n_vertices`` counts
    polygon corners. Rings are ordered exterior-first (area descending),
    then by first vertex; each ring starts at its lexicographic-min
    corner. ``grid`` (a GridSpec) converts vertices from (col, row)
    lattice corners to map coordinates. A NaN class keeps ``value`` NaN;
    a NULL cell's ring has ``value`` NULL.

    Plan: one halo scatter (4-direction 1-cell strips, so cross-tile
    neighbor membership is decided locally) → ``groupBy(tile)`` chain
    extraction (O(tile) work and memory per task) → ``groupBy(comp
    bucket)`` stitch over boundary *segments* (O(perimeter),
    collinear-merged). Rings that close inside one tile skip straight to
    index assignment. Pinch pairing is exact: interior vertices pair
    locally (all their edges are tile-local), lattice-line vertices defer
    to the stitcher, and both use the shared :func:`_take_next`
    preference. So the edge-successor permutation — hence the ring
    decomposition, start vertices, ring order and vertex arrays — equals
    the whole-component walk :func:`trace_cell_rings` exactly, whatever
    the tile size (pinned by tests/test_rasterize_polygonize.py and
    tests/test_property.py).

    Building this plan starts no job of its own, but a ``comps`` from
    :func:`connected_components_tiled` has run jobs while it was built
    (see there).
    """
    import pandas as pd

    g = grid.as_dict() if grid is not None else None
    TR, TC = int(tile_rows), int(tile_cols)

    def tile_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        member: dict[tuple[int, int], int] = {}
        for r, c, k in zip(pdf["row"], pdf["col"], pdf["comp"]):
            member[(int(r), int(c))] = int(k)
        own = pdf[pdf["_own"]]
        by_comp: dict[int, set] = {}
        for r, c, k in zip(own["row"], own["col"], own["comp"]):
            by_comp.setdefault(int(k), set()).add((int(r), int(c)))
        vals = dict(zip(own["comp"].astype("int64"), own["value"]))
        vnans = dict(zip(own["comp"].astype("int64"), own["_vnan"]))
        rows = []
        for k, cells in sorted(by_comp.items()):
            edges: dict = {}

            def add(a, b):
                edges.setdefault(a, []).append(b)

            for (r, c) in cells:
                if member.get((r - 1, c)) != k:
                    add((r, c), (r, c + 1))
                if member.get((r + 1, c)) != k:
                    add((r + 1, c + 1), (r + 1, c))
                if member.get((r, c - 1)) != k:
                    add((r + 1, c), (r, c))
                if member.get((r, c + 1)) != k:
                    add((r, c + 1), (r + 1, c + 1))
            chains, rings = _walk_tile_chains(edges, TR, TC)
            for verts, n in chains:
                rows.append(
                    {
                        "comp": k, "value": vals[k], "_vnan": vnans[k],
                        "kind": 0,
                        "n_edges": n,
                        "vr": [p[0] for p in verts],
                        "vc": [p[1] for p in verts],
                    }
                )
            for corners, n, _area in rings:
                rows.append(
                    {
                        "comp": k, "value": vals[k], "_vnan": vnans[k],
                        "kind": 1,
                        "n_edges": n,
                        "vr": [p[0] for p in corners],
                        "vc": [p[1] for p in corners],
                    }
                )
        cols = ["comp", "value", "_vnan", "kind", "n_edges", "vr", "vc"]
        if rows:
            return pd.DataFrame(rows, columns=cols)
        return pd.DataFrame(
            {
                "comp": pd.Series([], dtype="int64"),
                "value": pd.Series([], dtype=own["value"].dtype),
                "_vnan": pd.Series([], dtype="bool"),
                "kind": pd.Series([], dtype="int32"),
                "n_edges": pd.Series([], dtype="int64"),
                "vr": pd.Series([], dtype="object"),
                "vc": pd.Series([], dtype="object"),
            }
        )

    def stitch_kernel(key: tuple, bdf: pd.DataFrame) -> pd.DataFrame:
        out_rows = []
        for comp, cpdf in bdf.groupby("comp", sort=True):
            value = cpdf["value"].iloc[0]
            vnan = cpdf["_vnan"].iloc[0]
            rings = []
            segs = []
            for kind, vr, vc, n in zip(
                cpdf["kind"], cpdf["vr"], cpdf["vc"], cpdf["n_edges"]
            ):
                verts = list(zip((int(r) for r in vr), (int(c) for c in vc)))
                if kind == 1:
                    rings.append((verts, int(n), _shoelace(verts)))
                else:
                    segs.append((verts, int(n)))
            rings.extend(_stitch_segments(segs))
            rings.sort(key=lambda t: (-t[2], t[0][0] if t[0] else (0, 0)))
            for idx, (merged, n_edges, area) in enumerate(rings):
                if g is not None:
                    oxs = [g["left"] + p[1] * g["cellx"] for p in merged]
                    oys = [g["top"] - p[0] * g["celly"] for p in merged]
                else:
                    oxs = [float(p[1]) for p in merged]
                    oys = [float(p[0]) for p in merged]
                out_rows.append(
                    {
                        "comp": int(comp), "value": value, "_vnan": vnan,
                        "ring_idx": idx,
                        "is_hole": area < 0, "n_vertices": len(merged),
                        "n_edges": n_edges, "area": abs(area),
                        "xs": oxs, "ys": oys,
                    }
                )
        cols = [
            "comp", "value", "_vnan", "ring_idx", "is_hole", "n_vertices",
            "n_edges", "area", "xs", "ys",
        ]
        if out_rows:
            return pd.DataFrame(out_rows, columns=cols)
        return pd.DataFrame(
            {
                "comp": pd.Series([], dtype="int64"),
                "value": pd.Series([], dtype=bdf["value"].dtype),
                "_vnan": pd.Series([], dtype="bool"),
                "ring_idx": pd.Series([], dtype="int32"),
                "is_hole": pd.Series([], dtype="bool"),
                "n_vertices": pd.Series([], dtype="int64"),
                "n_edges": pd.Series([], dtype="int64"),
                "area": pd.Series([], dtype="float64"),
                "xs": pd.Series([], dtype="object"),
                "ys": pd.Series([], dtype="object"),
            }
        )

    vt = comps.schema["value"].dataType.simpleString()
    value, vnan = _flag_nan(F.col("value"), vt)
    base = comps.select(
        "row", "col", value.alias("value"), vnan.alias("_vnan"), "comp"
    )
    tr = F.floor(F.col("row") / TR).cast("long")
    tc = F.floor(F.col("col") / TC).cast("long")
    # own copy + up-to-4 halo copies (1-cell strips; membership tests use
    # only 4-neighbors, so no diagonal halo is needed)
    copy = lambda dtr, dtc, own: F.struct(  # noqa: E731
        (tr + dtr).alias("_tr"), (tc + dtc).alias("_tc"),
        F.lit(own).alias("_own"),
    )
    null_copy = F.lit(None).cast("struct<_tr:bigint,_tc:bigint,_own:boolean>")
    scattered = base.select(
        "row", "col", "value", "_vnan", "comp",
        F.explode(
            F.filter(
                F.array(
                    copy(0, 0, True),
                    F.when(F.col("row") % TR == 0, copy(-1, 0, False)).otherwise(null_copy),
                    F.when(F.col("row") % TR == TR - 1, copy(1, 0, False)).otherwise(null_copy),
                    F.when(F.col("col") % TC == 0, copy(0, -1, False)).otherwise(null_copy),
                    F.when(F.col("col") % TC == TC - 1, copy(0, 1, False)).otherwise(null_copy),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("_t"),
    ).select(
        "row", "col", "value", "_vnan", "comp", "_t._tr", "_t._tc", "_t._own"
    )
    seg_schema = (
        f"comp bigint, value {vt}, _vnan boolean, kind int, n_edges bigint, "
        "vr array<bigint>, vc array<bigint>"
    )
    segments = scattered.groupBy("_tr", "_tc").applyInPandas(
        tile_kernel, seg_schema
    )
    ring_schema = (
        f"comp bigint, value {vt}, _vnan boolean, ring_idx int, "
        "is_hole boolean, n_vertices bigint, n_edges bigint, area double, "
        "xs array<double>, ys array<double>"
    )
    bucketed = segments.withColumn(
        "_bkt", F.pmod(F.xxhash64(F.col("comp")), F.lit(_STITCH_BUCKETS))
    )
    rings = bucketed.groupBy("_bkt").applyInPandas(stitch_kernel, ring_schema)
    return rings.select(
        "comp", _restore_nan(vt).alias("value"), "ring_idx", "is_hole",
        "n_vertices", "n_edges", "area", "xs", "ys",
    )


def connected_components_tiled(
    cells: DataFrame,
    value_col: str = "value",
    tile_rows: int = 64,
    tile_cols: int = 64,
    max_iter: int = 30,
    *,
    connectivity: int = 4,
) -> DataFrame:
    """Label connected same-valued regions (``array_to_polygon``).

    ``cells`` needs (row, col, ``value_col``). Returns (row, col, value,
    comp), where ``comp`` is the min cell key ``row·2^32+col`` of the
    cell's component. ``connectivity`` is 4 (edge neighbours) or 8 (edge
    and corner neighbours), as in ``rasterio.features.shapes``. Two cells
    are the same class when their values are equal; all NaN cells form
    one class and NULL cells stay singletons.

    Phase 1 (no global rounds): ``groupBy(tile).applyInPandas`` runs a
    local union-find per tile, labeling every cell with the min cell key
    of its *tile-local* component. All intra-tile structure resolves in
    one exchange.

    Phase 2 (global merge on a graph that is orders of magnitude smaller
    than the cell set): only labels whose components touch a tile border
    can merge. Border cells scatter to their cross-border neighbor
    addresses; one equi-join yields (label_a, label_b) merge edges, and
    :func:`geowombat_spark.pipeline.dedup.dedup_groups` (min-label +
    pointer jumping) resolves them over the LABEL graph. Cells then join
    the label→component map (broadcast-able: one row per local component,
    not per cell). A cell with a neighbour in another tile — edge or
    corner — is always on its tile's edge, so only border cells scatter.

    Building the returned frame runs Spark jobs: phase 1 is materialized
    by an eager ``localCheckpoint()`` (phase 2 reads it several times),
    and ``dedup_groups`` checkpoints and counts every round to test
    convergence. The loop needs those actions; tests/test_plans.py pins
    their number on a fixed field.
    """
    import numpy as np
    import pandas as pd

    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity!r}")
    # numpy NaN != NaN would fragment the NaN class intra-tile, and the
    # Arrow round trip folds NaN into NULL: NaN-ness travels as `_vnan`
    vt = cells.schema[value_col].dataType.simpleString()
    value, vnan = _flag_nan(F.col(value_col), vt)
    # forward neighbours: each unordered adjacency is unioned once
    forward = [(1, 0), (0, 1)]
    if connectivity == 8:
        forward += [(1, 1), (1, -1)]
    src = cells.select(
        "row",
        "col",
        value.alias("value"),
        vnan.alias("_vnan"),
        (F.floor(F.col("row") / tile_rows) * F.lit(1 << 20)
         + F.floor(F.col("col") / tile_cols)).alias("_tile"),
    )

    def local_cc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["row"].to_numpy()
        cols = pdf["col"].to_numpy()
        vals = pdf["value"].to_numpy()
        # genuine-NULL mask, computed BEFORE to_numpy: float columns carry
        # NULL as NaN (NaN == NaN is already False) but object-backed types
        # (string/boolean/decimal) carry it as None, and None == None is
        # True — without this mask two adjacent NULL string cells would
        # merge intra-tile while the identical pair straddling a tile
        # border stays singleton (the cross-tile join excludes NULLs).
        vnull = pdf["value"].isna().to_numpy()
        vn = pdf["_vnan"].to_numpy()
        key_of = {}
        for i in range(len(pdf)):
            key_of[(int(rows[i]), int(cols[i]))] = i
        parent = list(range(len(pdf)))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for i in range(len(pdf)):
            r, c = int(rows[i]), int(cols[i])
            for dr, dc in forward:
                j = key_of.get((r + dr, c + dc))
                # same-class test: NaN cells (flagged) all match each
                # other; genuine NULLs never match anything, whatever the
                # storage type (float NULL→NaN, object NULL→None)
                if j is not None and (
                    (vn[i] and vn[j])
                    or (
                        not vnull[i]
                        and not vnull[j]
                        and vals[j] == vals[i]
                    )
                ):
                    union(i, j)
        # label = min cell key in the local component
        cellkey = rows.astype(np.int64) * (1 << 32) + cols.astype(np.int64)
        roots = np.fromiter((find(i) for i in range(len(pdf))), dtype=np.int64)
        lab = np.full(len(pdf), np.iinfo(np.int64).max, dtype=np.int64)
        order = np.argsort(cellkey)
        for i in order:
            rt = roots[i]
            if lab[rt] == np.iinfo(np.int64).max:
                lab[rt] = cellkey[i]
        out = pdf[["row", "col", "value", "_vnan"]].copy()
        out["label"] = lab[roots]
        return out

    labeled = src.groupBy("_tile").applyInPandas(
        local_cc,
        f"row bigint, col bigint, value {vt}, _vnan boolean, label bigint",
    ).localCheckpoint()

    # phase 2: merge edges across tile borders only
    on_border = (
        (F.col("row") % tile_rows == 0)
        | (F.col("row") % tile_rows == tile_rows - 1)
        | (F.col("col") % tile_cols == 0)
        | (F.col("col") % tile_cols == tile_cols - 1)
    )
    border = labeled.filter(on_border)
    row, col = F.col("row"), F.col("col")
    up, down, left, right = row - 1, row + 1, col - 1, col + 1
    nbrs = [(down, col), (up, col), (row, right), (row, left)]
    if connectivity == 8:
        nbrs += [(down, right), (down, left), (up, right), (up, left)]
    contrib = border.select(
        F.explode(
            F.array(*[F.struct(r.alias("row"), c.alias("col")) for r, c in nbrs])
        ).alias("tgt"),
        F.col("value").alias("_cval"),
        F.col("_vnan").alias("_cvnan"),
        F.col("label").alias("nlabel"),
    ).select(
        F.col("tgt.row").alias("_crow"),
        F.col("tgt.col").alias("_ccol"),
        "_cval",
        "_cvnan",
        "nlabel",
    )
    # same-class condition across the border, mirroring the kernel's rule:
    # matching non-NULL values merge; NaN cells (value NULLed, flag set)
    # merge with each other via the null-safe <=>; genuine NULL cells
    # (flag unset) never merge — a bare eqNullSafe would wrongly union them
    same_class = (
        F.col("value").eqNullSafe(F.col("_cval"))
        & (F.col("_vnan") == F.col("_cvnan"))
        & (F.col("_vnan") | F.col("value").isNotNull())
    )
    edges = (
        border.join(
            contrib,
            (F.col("row") == F.col("_crow"))
            & (F.col("col") == F.col("_ccol"))
            & same_class,
        )
        .filter(F.col("label") != F.col("nlabel"))
        .select(F.col("label").alias("doc_a"), F.col("nlabel").alias("doc_b"))
        .distinct()
    )
    from ..pipeline.dedup import dedup_groups

    groups = dedup_groups(edges, max_iter=max_iter).withColumnsRenamed(
        {"doc_id": "label", "group_id": "comp"}
    )
    out = labeled.join(groups, "label", "left").select(
        "row",
        "col",
        _restore_nan(vt).alias("value"),
        F.coalesce("comp", "label").alias("comp"),
    )
    return out
