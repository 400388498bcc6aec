"""Property-based tests (hypothesis) for the pure-numpy grid kernels —
beyond the reference's golden-value-only strategy (SURVEY §5: no
property-based testing exists upstream; these pin the algebraic invariants
the golden values sample)."""

import numpy as np
from cc_reference import components
from hypothesis import given, settings
from hypothesis import strategies as st

from geowombat_spark import crs
from geowombat_spark.grid import (
    GridSpec,
    coords_to_rowcol,
    kring_offsets,
    point_in_rings,
    rowcol_to_center_coords,
    zorder_decode,
    zorder_encode,
)

GRID = GridSpec(
    left=717585.0, top=-2776995.0, cellx=30.0, celly=30.0,
    nrows=2048, ncols=2048, tile_rows=512, tile_cols=512, nodata=0.0,
)


@given(
    st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=50),
    st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=50),
)
def test_zorder_roundtrip(rows, cols):
    n = min(len(rows), len(cols))
    r = np.array(rows[:n], dtype=np.int64)
    c = np.array(cols[:n], dtype=np.int64)
    rr, cc = zorder_decode(zorder_encode(r, c))
    assert (rr == r).all() and (cc == c).all()


@given(st.integers(0, 2**31 - 2), st.integers(0, 2**31 - 2))
def test_zorder_monotone_in_quadrant(r, c):
    # moving right/down within the same bit-prefix never decreases the key
    z00 = zorder_encode(np.array([r]), np.array([c]))[0]
    z01 = zorder_encode(np.array([r]), np.array([c + 1]))[0]
    z10 = zorder_encode(np.array([r + 1]), np.array([c]))[0]
    assert z01 != z00 and z10 != z00


@given(
    st.lists(st.integers(0, 2047), min_size=1, max_size=30),
    st.lists(st.integers(0, 2047), min_size=1, max_size=30),
)
def test_center_coords_roundtrip(rows, cols):
    n = min(len(rows), len(cols))
    r = np.array(rows[:n], dtype=np.int64)
    c = np.array(cols[:n], dtype=np.int64)
    x, y = rowcol_to_center_coords(GRID, r, c)
    r2, c2 = coords_to_rowcol(GRID, x, y)
    assert (r2 == r).all() and (c2 == c).all()


@given(st.integers(0, 5))
def test_kring_size_and_symmetry(k):
    offs = kring_offsets(k)
    assert offs.shape == ((2 * k + 1) ** 2, 2)
    # symmetric: for every (dr, dc) the negation is present
    s = {(int(a), int(b)) for a, b in offs}
    assert all((-a, -b) in s for a, b in s)


@st.composite
def star_polygon(draw):
    cx = draw(st.floats(-1000, 1000))
    cy = draw(st.floats(-1000, 1000))
    n = draw(st.integers(3, 10))
    radii = [draw(st.floats(10.0, 200.0)) for _ in range(n)]
    angles = np.sort([draw(st.floats(0, 2 * np.pi)) for _ in range(n)])
    gaps = np.diff(angles, append=angles[0] + 2 * np.pi)
    # reject degenerate angle sets, and any angular gap ≥ π — the center is
    # interior iff the vertices wrap it (every gap < π)
    if np.min(gaps) < 1e-3 or np.max(gaps) > np.pi - 0.05:
        return None
    xs = cx + np.array(radii) * np.cos(angles)
    ys = cy + np.array(radii) * np.sin(angles)
    ring = np.empty(2 * n)
    ring[0::2], ring[1::2] = xs, ys
    return cx, cy, ring


@given(star_polygon())
@settings(max_examples=200)
def test_pip_center_inside_far_point_outside(poly):
    if poly is None:
        return
    cx, cy, ring = poly
    verts_x, verts_y = ring[0::2], ring[1::2]
    # the polygon is star-shaped about its generation center (radii ≥ 10),
    # so (cx, cy) is strictly interior; a point past the max vertex is out
    far = (verts_x.max() + 1000.0, verts_y.max() + 1000.0)
    px = np.array([cx, far[0]])
    py = np.array([cy, far[1]])
    inside = point_in_rings(px, py, [ring])
    assert inside[0] and not inside[1]


@given(
    st.floats(-80, 80),
    st.floats(-3.0, 3.0),
    st.integers(1, 60),
)
@settings(max_examples=300)
def test_tm_roundtrip_property(lat, dlon, zone):
    lon0, _ = crs.utm_zone_params(zone, False)
    lon = lon0 + dlon
    E, N = crs.lonlat_to_utm(np.array([lon]), np.array([lat]), zone)
    lon2, lat2 = crs.utm_to_lonlat(E, N, zone)
    assert abs(lon2[0] - lon) < 1e-8
    assert abs(lat2[0] - lat) < 1e-8


@given(
    st.integers(0, 2**32 - 1),
    st.integers(4, 10),
    st.integers(4, 10),
    st.floats(0.2, 0.8),
)
@settings(max_examples=150, deadline=None)
def test_ring_tracer_satisfies_euler_topology(seed, h, w, density):
    """For EVERY 4-connected component of a random boolean grid, the traced
    rings must satisfy the digital-topology invariants:
      n_rings        == 2 - chi,  chi = C - A + Q
      sum(n_edges)   == 4C - 2A            (perimeter)
      net area       == C                  (exterior - holes)
      sum(corners)   == 2x2 vertex-pattern count (1 for k in {1,3},
                        2 for diagonal pairs)
    This is the same math the q_rings DuckDB oracle uses, checked here
    against arbitrary shapes instead of the fixture corpus."""
    from geowombat_spark.operators.polygonize import trace_cell_rings

    rng = np.random.default_rng(seed)
    grid = rng.random((h, w)) < density
    on = {(r, c) for r in range(h) for c in range(w) if grid[r, c]}

    for cells in components(on):  # independent union-find
        C = len(cells)
        A = sum(
            1
            for (r, c) in cells
            for n in ((r + 1, c), (r, c + 1))
            if n in cells
        )
        Q = sum(
            1
            for (r, c) in cells
            if (r + 1, c) in cells
            and (r, c + 1) in cells
            and (r + 1, c + 1) in cells
        )
        chi = C - A + Q
        # corner count from 2x2 lattice-vertex patterns
        corners = 0
        verts = set()
        for (r, c) in cells:
            verts |= {(r, c), (r, c + 1), (r + 1, c), (r + 1, c + 1)}
        for (vr, vc) in verts:
            quad = [
                (vr - 1, vc - 1) in cells,  # NW
                (vr - 1, vc) in cells,      # NE
                (vr, vc - 1) in cells,      # SW
                (vr, vc) in cells,          # SE
            ]
            k = sum(quad)
            if k in (1, 3):
                corners += 1
            elif k == 2 and quad[0] == quad[3]:  # diagonal pair
                corners += 2

        rings = trace_cell_rings(cells)
        assert len(rings) == 2 - chi, (cells, rings)
        assert sum(n_edges for _, n_edges, _ in rings) == 4 * C - 2 * A
        net = sum(area for _, _, area in rings)  # signed: holes negative
        assert abs(net - C) < 1e-9
        assert sum(len(m) for m, _, _ in rings) == corners


def _tiled_rings_pure(cells, tile_rows, tile_cols):
    """Pure (no-Spark) replay of the trace_rings_tiled plan: per-tile chain
    extraction with full-membership halo semantics, then segment stitching.
    Mirrors the executor kernels exactly so hypothesis can sweep shapes."""
    from geowombat_spark.operators.polygonize import (
        _shoelace,
        _stitch_segments,
        _walk_tile_chains,
    )

    tiles = {}
    for (r, c) in cells:
        tiles.setdefault((r // tile_rows, c // tile_cols), set()).add((r, c))
    segs, rings = [], []
    for _, owned in sorted(tiles.items()):
        edges = {}

        def add(a, b):
            edges.setdefault(a, []).append(b)

        for (r, c) in owned:
            if (r - 1, c) not in cells:
                add((r, c), (r, c + 1))
            if (r + 1, c) not in cells:
                add((r + 1, c + 1), (r + 1, c))
            if (r, c - 1) not in cells:
                add((r + 1, c), (r, c))
            if (r, c + 1) not in cells:
                add((r, c + 1), (r + 1, c + 1))
        ch, ri = _walk_tile_chains(edges, tile_rows, tile_cols)
        segs += ch
        rings += ri
    rings = rings + _stitch_segments(segs)
    rings.sort(key=lambda t: (-t[2], t[0][0] if t[0] else (0, 0)))
    return rings


@given(
    st.integers(0, 2**31 - 1),
    st.integers(2, 12),
    st.integers(2, 12),
    st.floats(0.2, 0.8),
    st.sampled_from([(1, 1), (2, 2), (3, 2), (4, 5)]),
)
@settings(max_examples=120, deadline=None)
def test_tiled_tracer_equals_single_task_tracer(seed, h, w, density, tile):
    """Per-tile chain extraction + stitching must reproduce the single-task
    boundary walk EXACTLY — same rings, same corner lists, same unit edge
    counts, same signed areas — for every component of arbitrary random
    grids at every tile geometry (incl. 1x1 = pure stitcher)."""
    from geowombat_spark.operators.polygonize import trace_cell_rings

    rng = np.random.default_rng(seed)
    grid = rng.random((h, w)) < density
    cells = {(r, c) for r in range(h) for c in range(w) if grid[r, c]}
    if not cells:
        return
    # per 4-connected component (same union-find as the Euler test)
    for comp_cells in components(cells):
        a = trace_cell_rings(comp_cells)
        b = _tiled_rings_pure(comp_cells, *tile)
        assert a == b, (comp_cells, tile)


# ---------------------------------------------------------------------------
# phase-correlation estimator (operators/coregister._phase_correlate)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.integers(-5, 5),
    st.integers(-5, 5),
    st.integers(0, 2**31 - 1),
)
def test_phase_correlate_recovers_integer_shift(dy, dx, seed):
    """Any integer shift of a broadband field within max_shift is recovered
    to better than a quarter cell (exact-bin coarse peak + refinement)."""
    from geowombat_spark.operators.coregister import _phase_correlate

    base = np.random.RandomState(seed % (2**31)).rand(48, 48)
    ky = np.fft.fftfreq(48)[:, None]
    kx = np.fft.fftfreq(48)[None, :]
    tar = np.real(
        np.fft.ifft2(
            np.fft.fft2(base) * np.exp(-2j * np.pi * (ky * dy + kx * dx))
        )
    )
    peak, gy, gx = _phase_correlate(base, tar, max_shift=8)
    assert abs(gy - dy) < 0.25 and abs(gx - dx) < 0.25


# ---------------------------------------------------------------------------
# solar position chain (functions/solar) — range invariants via DuckDB
# (the chain text is engine-shared, so SQL evaluation IS the engine math)
# ---------------------------------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(
    st.floats(1.5e9, 1.9e9),     # 2017..2030 unix seconds
    st.floats(-65.0, 65.0),
    st.floats(-180.0, 180.0),
)
def test_solar_chain_invariants(ts, lat, lon):
    import duckdb

    from geowombat_spark.functions.solar import solar_sql

    q = (
        f"WITH src AS (SELECT {ts!r}::DOUBLE AS ts, {lat!r}::DOUBLE AS lat, "
        f"{lon!r}::DOUBLE AS lon) "
        + solar_sql("ts", "lat", "lon")
    )
    row = duckdb.sql(q).df().iloc[0]
    assert 0.0 <= row["sza"] <= 180.0
    assert 0.0 <= row["saa"] < 360.0
    assert -23.5 <= row["_decl"] <= 23.5
    assert -20.0 <= row["_eqtime"] <= 20.0


# --- round-3: interval-merge coverage + CDF header algebra ---------------


@given(
    st.lists(st.integers(0, 400), min_size=0, max_size=60, unique=True),
    st.integers(1, 12),
    st.integers(1, 500),
)
def test_coverage_fold_matches_set_semantics(starts, n, n_words):
    """The dedup coverage fold (sorted starts + running-max-end interval
    merge) must equal brute-force set coverage of [s, min(s+n-1, nw-1)]."""
    starts = sorted(s for s in starts if s < n_words)
    covered = set()
    for s in starts:
        covered.update(range(s, min(s + n - 1, n_words - 1) + 1))
    # mirror of pipeline/dedup._coverage_fold's acc recurrence in python
    cov, end = 0, -1
    for s in starts:
        e = min(s + n - 1, n_words - 1)
        cov += max(e - max(end, s - 1), 0)
        end = max(end, e)
    assert cov == len(covered)


@given(
    st.integers(1, 3000),
    st.integers(1, 3000),
    st.integers(1, 4),
)
@settings(max_examples=30, deadline=None)
def test_netcdf_header_offsets_consistent(nrows, ncols, nbands):
    """Variable begins are contiguous, ordered, and the header length
    equals the first data begin for any grid/band-count combination."""
    import json as _json

    from geowombat_spark.sources.netcdf import _build_header

    g = GridSpec(left=0, top=0, cellx=1, celly=1,
                 nrows=nrows, ncols=ncols, tile_rows=64, tile_cols=64)
    bands = [f"b{i}" for i in range(nbands)]
    header, begins, total = _build_header(
        g, bands, 0.0, {"grid": _json.dumps(g.as_dict())}
    )
    vb = nrows * ncols * 8
    assert begins["x"] - begins["y"] == nrows * 8
    assert begins[bands[0]] == len(header)  # coords written with header
    for a, b in zip(bands, bands[1:]):
        assert begins[b] - begins[a] == vb
    assert total == begins[bands[-1]] + vb


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_ppm_bmp_roundtrip_property(h, w, seed):
    """Any (h, w, 3) uint8 image survives PPM encode→decode byte-exactly,
    and the BMP parser agrees with the PPM parser on the same pixels
    (independent byte layouts: top-down RGB vs bottom-up padded BGR)."""
    import struct

    from geowombat_spark.pipeline import multimodal as mm

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(img)), img)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = rows.tobytes()
    off = 54
    bmp = (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
        + data
    )
    assert np.array_equal(mm.decode_bmp(bmp), img)


@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(h, w, seed):
    """Any (h, w, 3) uint8 image survives PNG encode→decode byte-exactly
    under ANY per-row filter assignment — all five unfilter paths
    (None/Sub/Up/Average/Paeth) are property-checked, not just the
    encoder's default."""
    from geowombat_spark.pipeline import multimodal as mm

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    filters = rng.integers(0, 5, size=h).tolist()
    assert np.array_equal(mm.decode_png(mm.encode_png(img, filters)), img)


@given(
    st.integers(1, 5),
    st.integers(1, 2),
    st.integers(1, 400),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(nclips, n_ch, n, seed):
    """WAV 16-bit PCM round-trip: rate/channels/length exact, samples
    within one quantization step; frame streams report every frame."""
    from geowombat_spark.pipeline import multimodal as mm

    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, size=(n, n_ch))
    rate, ch, y = mm.decode_wav(mm.encode_wav(x, rate=8000 * nclips))
    assert (rate, ch, y.shape[0]) == (8000 * nclips, n_ch, n)
    assert np.abs(y - x).max() <= 1.0 / 32768 + 1e-12


@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
             min_size=1, max_size=12),
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
             min_size=0, max_size=8),
)
@settings(max_examples=25, deadline=None)
def test_dedup_against_matches_set_semantics(spark, corpus_texts, batch_texts):
    """Incremental exact dedup agrees with plain Python set semantics on
    arbitrary (tiny-alphabet, collision-rich) text: in_corpus iff the
    normalized text exists in the corpus, kept iff novel AND first
    occurrence in batch order of ids."""
    import pandas as pd

    from geowombat_spark.pipeline import dedup as dd

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(corpus_texts)),
                      "text": corpus_texts})
    )
    batch_ids = [1000 + i for i in range(len(batch_texts))]
    got = {}
    if batch_texts:
        batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": batch_ids, "text": batch_texts})
        )
        got = {
            r["doc_id"]: (r["in_corpus"], r["batch_survivor"], r["kept"])
            for r in dd.dedup_against(batch, dd.exact_index(corpus)).collect()
        }
    norm = lambda s: s.lower().strip()
    corpus_set = {norm(t) for t in corpus_texts}
    first = {}
    for i, t in zip(batch_ids, batch_texts):
        first.setdefault(norm(t), i)
    for i, t in zip(batch_ids, batch_texts):
        in_c = norm(t) in corpus_set
        surv = first[norm(t)] == i
        assert got[i] == (in_c, surv, (not in_c) and surv), (i, t)


@given(seed=st.integers(0, 10_000))
@settings(max_examples=40, deadline=None)
def test_round6_matches_duckdb_round(seed):
    """round6 (the shared numpy cosine rounding) must agree with DuckDB's
    round() — the oracle's — on random doubles INCLUDING values planted
    near 6-dp half boundaries; np.round (half-to-even) provably does not,
    which was the residual cross-engine flake window in the pair paths."""
    import duckdb

    from geowombat_spark.pipeline.dedup import round6

    rng = np.random.default_rng(seed)
    vals = np.concatenate(
        [
            rng.uniform(-1, 1, 50),
            # values AT binary-representable neighborhoods of x.xxxxx5
            (np.floor(rng.uniform(-1, 1, 50) * 1e6) + 0.5) / 1e6,
        ]
    )
    got = round6(vals)
    con = duckdb.connect()
    want = np.array(
        [con.sql(f"SELECT round({v!r}::DOUBLE, 6)").fetchone()[0] for v in vals]
    )
    assert np.array_equal(got, want), (
        vals[got != want][:3],
        got[got != want][:3],
        want[got != want][:3],
    )


@given(seed=st.integers(0, 10_000))
@settings(max_examples=40, deadline=None)
def test_round6_exact_splits_regimes_correctly(seed):
    """round6_exact (the streaming running-total scalar) must be
    bit-identical to round6 — hence to the pinned DuckDB-oracle parity —
    inside the float-exact window (|x| < 2^52/1e6 ≈ 4.5e9), and the
    mathematically exact half-away-from-zero of the TRUE binary value
    beyond it, where round6's float path silently drifts (e.g.
    9000000000.1234565: round6 → ...123459, exact binary digit stream
    ...12345649… → ...123456) and no cross-engine comparison target
    exists (DuckDB and the JVM themselves disagree at ulp level there)."""
    import decimal

    from geowombat_spark.pipeline.dedup import (
        ROUND6_FLOAT_EXACT_BOUND,
        round6,
        round6_exact,
    )

    rng = np.random.default_rng(seed)
    inside = np.concatenate(
        [
            rng.uniform(-1, 1, 40)
            * 10.0 ** rng.uniform(0, np.log10(ROUND6_FLOAT_EXACT_BOUND), 40),
            (np.floor(rng.uniform(-4e9, 4e9, 40) * 1e6) + 0.5) / 1e6,
        ]
    )
    for v in inside:
        assert round6_exact(float(v)) == float(round6(float(v))), v
    outside = rng.uniform(-1, 1, 40) * 10.0 ** rng.uniform(10, 15, 40)
    outside = outside[np.abs(outside) >= ROUND6_FLOAT_EXACT_BOUND]
    q = decimal.Decimal("0.000001")
    for v in outside:
        want = float(
            decimal.Decimal(float(v)).quantize(
                q, rounding=decimal.ROUND_HALF_UP
            )
        )
        assert round6_exact(float(v)) == want, v


def test_round6_exact_extreme_magnitude_stays_exact():
    """Past every engine's float-scaled range the Decimal path preserves
    values that already have ≤6 decimal places (identity under exact
    HALF_UP), instead of drifting like floor(|x|*1e6+0.5) would."""
    from geowombat_spark.pipeline.dedup import round6_exact

    for v in (4364442838094724.5, -4364442838094724.5, 9007199254740993.0):
        assert round6_exact(v) == v
    assert round6_exact(float("nan")) != round6_exact(float("nan"))  # NaN
    assert round6_exact(float("inf")) == float("inf")
    # past ~1e22 Decimal.quantize under the DEFAULT 28-digit context
    # raises InvalidOperation — the wide local context must carry every
    # finite double (a streaming running total is unbounded)
    for v in (1e22, 1e25, -1e25, 1e300, -1.7976931348623157e308):
        assert round6_exact(v) == v


# ---------------------------------------------------------------------------
# segment_supercover: exact-rational differential check
# ---------------------------------------------------------------------------


def _exact_segment_cells(c0, r0, c1, r1):
    """Ground-truth cell walk with exact rational arithmetic: every float is
    a dyadic rational, so Fraction() is lossless and every boundary-crossing
    parameter t is computed exactly. Returns {cell: parameter measure} — the
    total length (in segment-parameter units) the segment interior spends in
    each cell — from the floor of the midpoint of every maximal parameter
    interval between crossings. An entirely independent formulation from
    the DDA under test."""
    import math
    from fractions import Fraction

    fc0, fr0, fc1, fr1 = (Fraction(v) for v in (c0, r0, c1, r1))
    dc, dr = fc1 - fc0, fr1 - fr0
    ts = {Fraction(0), Fraction(1)}
    for p0, d in ((fc0, dc), (fr0, dr)):
        if d == 0:
            continue
        lo, hi = (p0, p0 + d) if d > 0 else (p0 + d, p0)
        for k in range(math.floor(lo) + 1, math.ceil(hi)):
            t = (Fraction(k) - p0) / d
            if 0 <= t <= 1:
                ts.add(t)
    ts = sorted(ts)
    cells: dict = {}
    for t0, t1 in zip(ts[:-1], ts[1:]):
        tm = (t0 + t1) / 2
        key = (math.floor(fr0 + dr * tm), math.floor(fc0 + dc * tm))
        cells[key] = cells.get(key, Fraction(0)) + (t1 - t0)
    if not cells:  # zero-length segment
        cells[(math.floor(fr0), math.floor(fc0))] = Fraction(1)
    return cells


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-5.0, 20.0), st.floats(-5.0, 20.0),
    st.floats(-5.0, 20.0), st.floats(-5.0, 20.0),
)
def test_segment_supercover_matches_exact_rational_walk(c0, r0, c1, r1):
    from geowombat_spark.grid import segment_supercover

    got = segment_supercover(c0, r0, c1, r1)
    exact = _exact_segment_cells(c0, r0, c1, r1)
    # The DDA must never miss a RESOLVABLE cell (a miss = a hole in GDAL
    # all_touched parity). Cells the exact walk assigns a parameter measure
    # below double resolution (hypothesis feeds subnormals that open
    # 1e-311-wide slivers between two crossings) are unresolvable by ANY
    # float DDA — GDAL's included — and are exempt.
    missing = {
        cell for cell, m in exact.items() if cell not in got and m > 1e-9
    }
    assert not missing, f"supercover missed {missing} for {(c0, r0, c1, r1)}"
    # Extras are allowed only as the documented conservative corner-graze
    # inclusions: every extra must touch a genuinely-traversed cell at
    # Chebyshev distance 1 (side OR diagonal neighbor — the unconditional
    # endpoint-cell add lands diagonal when the endpoint IS a corner).
    extra = set(got) - set(exact)
    for r, c in extra:
        assert any(
            max(abs(r - r2), abs(c - c2)) == 1 for r2, c2 in exact
        ), f"non-adjacent extra {(r, c)} for {(c0, r0, c1, r1)}"


def test_segment_supercover_exact_corner_crossing_is_conservative():
    """A segment through the exact lattice corner (1,1) grazes all four
    adjacent cells: GDAL any-touch counts a corner graze as touched, and
    the DDA adds both side neighbors at every exact corner crossing."""
    from geowombat_spark.grid import segment_supercover

    got = segment_supercover(0.0, 0.0, 2.0, 2.0)
    assert {(0, 0), (1, 1)} <= got  # the diagonal path (endpoint cell (2,2)
    assert (2, 2) in got            # is clamped by callers when off-window)
    assert {(0, 1), (1, 0)} <= got  # corner grazes at (1,1)
    assert {(1, 2), (2, 1)} <= got  # corner grazes at (2,2)
