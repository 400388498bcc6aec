"""Coregistration tests: shift detection accuracy, robust global
aggregation, warp application round-trip.

Mirrors the contract of the reference's AROSICS wrapper
(/root/reference/src/geowombat/core/sops.py:1367-1546): a known synthetic
misalignment must be recovered sub-pixel and corrected.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowombat_spark.grid import GridSpec
from geowombat_spark.operators.coregister import (
    _phase_correlate,
    apply_shift,
    coregister,
    detect_shifts,
    global_shift,
)

G64 = GridSpec(
    left=0.0, top=640.0, cellx=10.0, celly=10.0,
    nrows=64, ncols=64, tile_rows=64, tile_cols=64,
)

G128 = GridSpec(
    left=0.0, top=1280.0, cellx=10.0, celly=10.0,
    nrows=128, ncols=128, tile_rows=64, tile_cols=64,
)


def _noise(h, w, seed=7):
    return np.random.RandomState(seed).rand(h, w)


def _textured(h, w, seed=7, fmax=0.3):
    """Band-limited noise: broadband enough for sharp correlation peaks,
    smooth enough that bilinear resampling preserves it (|f| < fmax)."""
    spec = np.fft.fft2(np.random.RandomState(seed).rand(h, w))
    fy = np.abs(np.fft.fftfreq(h))[:, None]
    fx = np.abs(np.fft.fftfreq(w))[None, :]
    return np.real(np.fft.ifft2(np.where((fy < fmax) & (fx < fmax), spec, 0)))


def _fourier_shift(a, dy, dx):
    """Exact periodic sub-pixel shift: out(r, c) = a(r - dy, c - dx)."""
    ky = np.fft.fftfreq(a.shape[0])[:, None]
    kx = np.fft.fftfreq(a.shape[1])[None, :]
    return np.real(
        np.fft.ifft2(np.fft.fft2(a) * np.exp(-2j * np.pi * (ky * dy + kx * dx)))
    )


def _frame(spark, grid, ref, tar):
    h, w = ref.shape
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    pdf = pd.DataFrame(
        {
            "row": rr.ravel(),
            "col": cc.ravel(),
            "x": grid.left + (cc.ravel() + 0.5) * grid.cellx,
            "y": grid.top - (rr.ravel() + 0.5) * grid.celly,
            "b_ref": ref.ravel(),
            "b_tar": tar.ravel(),
        }
    )
    return spark.createDataFrame(pdf)


def test_numpy_kernel_integer_and_fractional():
    base = _noise(64, 64)
    peak, dy, dx = _phase_correlate(base, _fourier_shift(base, 3, -2), 8)
    assert abs(dy - 3) < 1 / 16 and abs(dx + 2) < 1 / 16
    peak, dy, dx = _phase_correlate(base, _fourier_shift(base, 1.5, -0.75), 8)
    assert abs(dy - 1.5) < 1 / 16 and abs(dx + 0.75) < 1 / 16
    # plain cross-correlation path
    peak, dy, dx = _phase_correlate(
        base, _fourier_shift(base, -2.25, 0.5), 8, normalization=None
    )
    assert abs(dy + 2.25) < 1 / 16 and abs(dx - 0.5) < 1 / 16


def test_numpy_kernel_nan_and_empty():
    base = _noise(64, 64)
    tar = _fourier_shift(base, 1.0, 1.0)
    tar[10:20, 10:20] = np.nan
    peak, dy, dx = _phase_correlate(base, tar, 4)
    assert abs(dy - 1.0) < 0.2 and abs(dx - 1.0) < 0.2
    peak, dy, dx = _phase_correlate(
        np.full((8, 8), np.nan), np.full((8, 8), np.nan), 4
    )
    assert np.isnan(dy) and np.isnan(dx)


def test_numpy_kernel_flat_and_degenerate_windows():
    """Zero-texture and 1-2-cell windows carry no shift information: the
    kernel must report peak=0 / NaN shift (so the shared quality filter
    drops the tile) instead of the NaN peak or spurious -0.75 offset the
    raw math produces — Spark orders NaN above every number, so a NaN
    peak would PASS `peak > min_peak` as a fake tie point."""
    # constant (water/cloud-fill) tiles: both flat, and flat-vs-textured
    base = _noise(64, 64)
    for ref, tar in (
        (np.full((64, 64), 5.0), np.full((64, 64), 5.0)),
        (np.full((64, 64), 5.0), base),
        (base, np.full((64, 64), 7.0)),
        # 1-ulp trap: np.mean(35 copies of 0.1) != 0.1 exactly, so the
        # post-subtraction residue is a tiny nonzero CONSTANT — an
        # any(r)-after-subtraction guard misses it and phase whitening
        # amplifies the taper autocorrelation into a confident fake
        # dy=dx=0 tie point; the guard must test flatness pre-subtraction
        (np.full((5, 7), 0.1), np.full((5, 7), 0.1)),
        (np.full((5, 7), 0.1), _noise(5, 7)),
    ):
        peak, dy, dx = _phase_correlate(ref, tar, 4)
        assert peak == 0.0 and np.isnan(dy) and np.isnan(dx)
    # degenerate strips (grid not divisible by tile size): 1- and 2-cell
    # axes have flat/zeroed correlation planes
    for shape in ((1, 64), (64, 1), (2, 64), (64, 2)):
        rng = np.random.default_rng(9)
        ref = rng.normal(size=shape)
        tar = np.roll(ref, 3, axis=int(shape[0] == 1))
        peak, dy, dx = _phase_correlate(ref, tar, 4)
        assert peak == 0.0 and np.isnan(dy) and np.isnan(dx)


def test_quality_filter_rejects_nan_rows(spark):
    """The shared tie-point filter must drop NaN peak/shift rows even
    though Spark's comparison operators would rank NaN above min_peak."""
    from geowombat_spark.operators.coregister import _quality_filter

    rows = spark.createDataFrame(
        [
            (0, 100, float("nan"), 0.5, 0.5),
            (1, 100, 0.9, float("nan"), 0.0),
            (2, 100, 0.9, 0.25, -0.5),
            (3, 100, 0.9, None, None),
        ],
        "tile long, n_valid long, peak double, dy double, dx double",
    )
    kept = _quality_filter(rows, 0.0, 16).collect()
    assert [r["tile"] for r in kept] == [2]


def test_detect_shifts_single_tile(spark):
    base = _noise(64, 64)
    df = _frame(spark, G64, base, _fourier_shift(base, 1.5, -0.75))
    out = detect_shifts(df, G64, "b_ref", "b_tar", max_shift=8).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_valid"] == 64 * 64
    assert abs(row["dy"] - 1.5) < 1 / 16
    assert abs(row["dx"] + 0.75) < 1 / 16


def test_global_shift_median_filters_bad_tiles(spark):
    base = _noise(128, 128, seed=11)
    tar = _fourier_shift(base, 2.0, 1.0)
    # corrupt one of the four tiles: unrelated noise → low peak
    tar[0:64, 0:64] = _noise(64, 64, seed=99)
    df = _frame(spark, G128, base, tar)
    ties = detect_shifts(df, G128, "b_ref", "b_tar", max_shift=8)
    got = global_shift(ties, min_peak=0.2, min_valid=16).collect()[0]
    assert got["n_tiles"] >= 3
    assert abs(got["dy"] - 2.0) < 1 / 8
    assert abs(got["dx"] - 1.0) < 1 / 8


def test_apply_shift_realigns(spark):
    base = _textured(64, 64, seed=3)
    dy, dx = 2.5, -1.25
    tar = _fourier_shift(base, dy, dx)
    df = _frame(spark, G64, base, tar)
    fixed = apply_shift(spark, df, G64, dy, dx, bands=("b_tar",))
    pdf = fixed.toPandas().set_index(["row", "col"]).sort_index()
    arr = pdf["b_tar"].values.reshape(64, 64)
    # interior cells (away from the rim the fractional shift voids)
    interior = np.s_[8:-8, 8:-8]
    rmse = np.sqrt(np.nanmean((arr[interior] - base[interior]) ** 2))
    # bilinear resampling of white noise smooths; alignment is the point:
    # the corrected field must correlate far better than the shifted one
    cor_fixed = np.corrcoef(
        arr[interior].ravel(), base[interior].ravel()
    )[0, 1]
    cor_raw = np.corrcoef(tar[interior].ravel(), base[interior].ravel())[0, 1]
    assert cor_fixed > 0.95
    assert cor_fixed > cor_raw + 0.2
    assert rmse < 0.1


def test_coregister_end_to_end_snap(spark):
    base = _textured(128, 128, seed=5)
    tar = _fourier_shift(base, 1.5, -0.75)
    df = _frame(spark, G128, base, tar)
    fixed, meta = coregister(
        spark, df, G128, "b_ref", "b_tar",
        max_shift=8, snap=0.25, min_valid=16, normalization=None,
    )
    assert meta["n_tiles"] == 4
    assert meta["dy"] == pytest.approx(1.5)
    assert meta["dx"] == pytest.approx(-0.75)
    pdf = fixed.toPandas().set_index(["row", "col"]).sort_index()
    arr = pdf["b_tar"].values.reshape(128, 128)
    interior = np.s_[8:-8, 8:-8]
    cor = np.corrcoef(arr[interior].ravel(), base[interior].ravel())[0, 1]
    assert cor > 0.9


def test_detect_shifts_max_tiles_prunes(spark):
    base = _noise(128, 128, seed=13)
    df = _frame(spark, G128, base, _fourier_shift(base, 1.0, 0.0))
    ties = detect_shifts(df, G128, "b_ref", "b_tar", max_shift=4, max_tiles=2)
    assert 0 < ties.count() < 4


def test_detect_shifts_max_tiles_builds_without_a_job(spark):
    """The tile count behind ``max_tiles`` is a scalar subquery inside the
    returned plan, not an eager count while the plan is built (which ran
    the input scan once more when the plan executed)."""
    base = _noise(128, 128, seed=13)
    df = _frame(spark, G128, base, _fourier_shift(base, 1.0, 0.0))
    sc = spark.sparkContext
    group = "test-detect-shifts-build"
    sc.setJobGroup(group, "build detect_shifts(max_tiles=2)")
    try:
        detect_shifts(df, G128, "b_ref", "b_tar", max_shift=4, max_tiles=2)
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == set(), sorted(jobs)


def test_coregister_local_per_tile_field(spark):
    """COREG_LOCAL analogue: two tiles displaced by DIFFERENT vectors are
    each realigned by their own tie-point shift."""
    base = _textured(128, 128, seed=21)
    tar = np.empty_like(base)
    # left tiles shifted (1, 0); right tiles shifted (0, 2) — periodic per half
    tar[:, :64] = np.hstack([_fourier_shift(base[:, :64], 1.0, 0.0), np.zeros((128, 0))])
    tar[:, 64:] = _fourier_shift(base[:, 64:], 0.0, 2.0)
    df = _frame(spark, G128, base, tar)
    from geowombat_spark.operators.coregister import coregister_local

    fixed = coregister_local(
        spark, df, G128, "b_ref", "b_tar",
        max_shift=6, min_valid=16, normalization=None,
    )
    pdf = fixed.toPandas().set_index(["row", "col"]).sort_index()
    arr = pdf["b_tar"].values.reshape(128, 128)
    # interiors of each half must realign to the base
    li = np.s_[8:-8, 8:56]
    ri = np.s_[8:-8, 72:-8]
    cor_l = np.corrcoef(arr[li].ravel(), base[li].ravel())[0, 1]
    cor_r = np.corrcoef(arr[ri].ravel(), base[ri].ravel())[0, 1]
    assert cor_l > 0.9 and cor_r > 0.9
    # a single global shift could not fix both halves
    raw_l = np.corrcoef(tar[li].ravel(), base[li].ravel())[0, 1]
    raw_r = np.corrcoef(tar[ri].ravel(), base[ri].ravel())[0, 1]
    assert cor_l > raw_l + 0.1 and cor_r > raw_r + 0.1
