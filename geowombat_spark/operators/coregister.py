"""Image co-registration — distributed phase-correlation shift detection.

Reference: ``gw.coregister`` (``/root/reference/src/geowombat/core/sops.py:
1367-1546``) wraps AROSICS ``COREG``: estimate the (sub-pixel) x/y shift of a
target image against a reference image by FFT phase correlation inside
matching windows, then warp the target by the detected shift. The reference
runs it driver-side on NumPy arrays ("Dask is not used for any of the
computation"); this module is the distributed re-design.

Spark shape (three stages, one corpus shuffle total):

1. **detect_shifts** — ``groupBy(tile).applyInPandas``: each tile scatters
   the reference and target bands into dense local arrays and runs one
   windowed FFT correlation (Hann taper, optionally whitened cross-power
   spectrum, wrapped-peak search bounded by ``max_shift``, upsampled-DFT
   sub-pixel refinement). Emits ONE ROW PER TILE ``(tile, n_valid, peak,
   dy, dx)`` — the AROSICS tie-point grid, built in a single tile-keyed
   exchange. ``max_tiles`` deterministically hash-samples tiles first, so at
   100 TB detection runs on a bounded tie-point sample, not every tile.
2. **global_shift** — robust aggregate of the (tiny) tie-point frame:
   quality-filter on ``peak``/``n_valid``, then the median dy/dx
   (``percentile``). Pure SQL over one row per sampled tile.
3. **apply_shift** — sampling the target at ``(row+dy, col+dx)`` is exactly
   a warp from a virtually shifted source grid: reuse
   ``transform.transform_grid`` with ``src.left - dx*cellx`` /
   ``src.top + dy*celly``. No new join machinery; bilinear = 4-neighbor
   explode + one equi-join, same plan (and same oracle shape) as q_warp_*.

Shift convention: ``(dy, dx)`` is the displacement of the target relative
to the reference in cell units — ``target(r, c) == reference(r-dy, c-dx)``.
The correction therefore samples the target at ``(r+dy, c+dx)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import GridSpec
from .transform import transform_grid


def _upsampled_peak(
    cross: np.ndarray, sy: float, sx: float, usfac: int
) -> tuple[float, float, float]:
    """Refine an integer correlation peak to 1/``usfac`` cell by evaluating
    the inverse DFT of the cross spectrum on an upsampled neighborhood of
    the coarse shift — the matrix-multiply local DFT of Guizar-Sicairos,
    Thurman & Fienup (Opt. Lett. 33, 2008). Never materializes the
    upsampled full correlation plane: region is ~1.5 cells wide.
    """
    H, W = cross.shape
    size = int(np.ceil(1.5 * usfac))
    half = size // 2
    # kernel_y[i, k] = exp(+2πi * fy_k * (sy + (i-half)/usfac))
    fy = np.fft.fftfreq(H)[None, :]
    fx = np.fft.fftfreq(W)[None, :]
    oy = sy + (np.arange(size) - half)[:, None] / usfac
    ox = sx + (np.arange(size) - half)[:, None] / usfac
    ky = np.exp(2j * np.pi * oy * fy)  # (size, H)
    kx = np.exp(2j * np.pi * ox * fx)  # (size, W)
    cc = np.real(ky @ cross @ kx.T) / (H * W)
    iy, ix = np.unravel_index(np.argmax(cc), cc.shape)
    return (
        float(cc[iy, ix]),
        sy + (iy - half) / usfac,
        sx + (ix - half) / usfac,
    )


def _phase_correlate(
    ref: np.ndarray,
    tar: np.ndarray,
    max_shift: float | None,
    usfac: int = 32,
    normalization: str | None = "phase",
    eps: float = 1e-12,
) -> tuple[float, float, float]:
    """One windowed correlation; returns ``(peak, dy, dx)``.

    Inputs are 2-D float arrays (NaN = missing). Missing / mismatched cells
    are filled with the field mean so they contribute zero after the mean
    subtraction. ``normalization="phase"`` whitens the cross spectrum
    (robust to illumination differences — the AROSICS default);
    ``normalization=None`` is plain cross-correlation (optimal for clean
    same-sensor data). Sub-pixel to 1/``usfac`` cell via the upsampled
    matrix DFT around the coarse peak.
    """
    valid = ~(np.isnan(ref) | np.isnan(tar))
    if not valid.any():
        return 0.0, np.nan, np.nan
    # exact zero-texture test BEFORE mean subtraction: a constant window
    # (water, cloud fill, saturation) must bail here — after float mean
    # subtraction a constant field can carry a 1-ulp residue everywhere
    # (np.mean of n copies of x need not equal x), which `np.any(r)`
    # below would treat as texture, and phase whitening then normalizes
    # that taper-autocorrelation residue into a confident dy=dx=0 fake
    # tie point that biases the global median shift toward zero
    if ref[valid].max() == ref[valid].min() or tar[valid].max() == tar[valid].min():
        return 0.0, np.nan, np.nan
    r = np.where(valid, ref, np.nanmean(ref[valid]))
    t = np.where(valid, tar, np.nanmean(tar[valid]))
    r = r - r.mean()
    t = t - t.mean()
    H, W = r.shape
    if H < 3 or W < 3:
        # a 1-cell axis has a flat correlation plane (argmax tie → a
        # spurious -half/usfac offset) and a 2-cell axis zeroes under the
        # Hann taper (hanning(2) == [0, 0] → the NaN chain below): neither
        # carries shift information, so report "no detectable shift"
        # with zero confidence instead of a confident wrong answer
        return 0.0, np.nan, np.nan
    if not (np.any(r) and np.any(t)):
        # zero-texture window (constant ref or target: water, cloud fill,
        # saturation): the cross spectrum is identically 0 and the phase
        # whitening would divide denormals into NaN — and Spark's
        # `peak > min_peak` filter treats NaN as GREATER than any bound,
        # so a NaN peak would pass quality filtering as a fake tie point
        return 0.0, np.nan, np.nan
    # Hann taper against spectral leakage (windows are not periodic)
    taper = np.outer(
        np.hanning(H) if H > 1 else np.ones(1),
        np.hanning(W) if W > 1 else np.ones(1),
    )
    cross = np.fft.fft2(t * taper) * np.conj(np.fft.fft2(r * taper))
    if normalization == "phase":
        mag = np.abs(cross)
        # soft whitening: the eps floor keeps numerically-dead frequencies
        # of smooth fields from being amplified to full weight
        cross = cross / (mag + eps * (mag.max() + 1e-300))
    else:
        nrm = np.abs(cross).sum()
        if nrm > 0:
            cross = cross * (H * W / nrm)
    corr = np.real(np.fft.ifft2(cross))

    if max_shift is not None:
        # wrapped shift magnitude per axis; mask the disallowed region
        wy = np.minimum(np.arange(H), H - np.arange(H))[:, None]
        wx = np.minimum(np.arange(W), W - np.arange(W))[None, :]
        corr = np.where((wy <= max_shift) & (wx <= max_shift), corr, -np.inf)

    py, px = np.unravel_index(np.argmax(corr), corr.shape)
    # unwrap: peaks past the midpoint are negative shifts
    sy = py - H if py > H / 2 else py
    sx = px - W if px > W / 2 else px
    peak, dy, dx = _upsampled_peak(cross, float(sy), float(sx), usfac)
    if max_shift is not None:
        dy = float(np.clip(dy, -max_shift, max_shift))
        dx = float(np.clip(dx, -max_shift, max_shift))
    return peak, dy, dx


def detect_shifts(
    docs: DataFrame,
    grid: GridSpec,
    reference: str,
    target: str,
    nodata: float | None = None,
    max_shift: float | None = None,
    max_tiles: int | None = None,
    normalization: str | None = "phase",
) -> DataFrame:
    """Per-tile tie-point shifts: ``(tile, n_valid, peak, dy, dx)``.

    One tile-keyed shuffle; each group runs one FFT. ``max_tiles``
    deterministically samples tiles (xxhash of the tile id) BEFORE the
    shuffle, so only sampled tiles move — the 100-TB path detects on a
    bounded tie-point grid exactly like AROSICS' ``COREG_LOCAL`` grid.
    """
    g = grid.as_dict()
    tile = F.expr(grid.tile_id_expr())
    src = docs.select(
        "row",
        "col",
        tile.alias("_tile"),
        F.col(reference).cast("double").alias("_ref"),
        F.col(target).cast("double").alias("_tar"),
    )
    if nodata is not None:
        src = src.withColumns(
            {
                "_ref": F.nullif(F.col("_ref"), F.lit(float(nodata))),
                "_tar": F.nullif(F.col("_tar"), F.lit(float(nodata))),
            }
        )
    if max_tiles is not None:
        # count tiles PRESENT in the input, not the full-grid lattice: a
        # partial-coverage corpus (1,000 populated tiles on a 10,000-tile
        # grid) would otherwise get a keep_mod sized for the empty grid
        # and sample ~10x fewer tie points than the caller bounded. The
        # count is a column-pruned row/col scan folded into the plan as a
        # scalar subquery, so building the plan runs no Spark job.
        n_tiles = src.agg(F.count_distinct("_tile")).scalar()
        # ceil, not floor: floor keeps up to 2x the requested tile count
        # (n_tiles=1999, max_tiles=1000 → keep_mod=1 → ALL tiles sampled),
        # doubling the detection shuffle the caller bounded
        keep_mod = F.greatest(F.lit(1), F.ceil(n_tiles / F.lit(int(max_tiles))))
        src = src.filter(F.xxhash64("_tile") % keep_mod == 0)

    schema = "tile long, n_valid long, peak double, dy double, dx double"
    ms = None if max_shift is None else float(max_shift)
    norm = normalization

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gs = GridSpec(**g)
        t = int(key[0])
        t_r, t_c = divmod(t, gs.tiles_x)
        r0, c0 = t_r * gs.tile_rows, t_c * gs.tile_cols
        H = min(gs.tile_rows, gs.nrows - r0)
        W = min(gs.tile_cols, gs.ncols - c0)
        ref = np.full((H, W), np.nan)
        tar = np.full((H, W), np.nan)
        rr = pdf["row"].values - r0
        cc = pdf["col"].values - c0
        ok = (rr >= 0) & (rr < H) & (cc >= 0) & (cc < W)
        ref[rr[ok], cc[ok]] = pdf["_ref"].values[ok]
        tar[rr[ok], cc[ok]] = pdf["_tar"].values[ok]
        n_valid = int((~(np.isnan(ref) | np.isnan(tar))).sum())
        peak, dy, dx = _phase_correlate(ref, tar, ms, normalization=norm)
        return pd.DataFrame(
            {
                "tile": [t],
                "n_valid": [n_valid],
                "peak": [peak],
                "dy": [dy],
                "dx": [dx],
            }
        )

    return src.groupBy("_tile").applyInPandas(compute, schema)


def _quality_filter(
    shifts: DataFrame, min_peak: float, min_valid: int
) -> DataFrame:
    """The ONE tie-point acceptance predicate, shared by the global median
    (``global_shift``) and the per-tile field (``apply_shift_field``) so
    the two coregistration entry points can never drift apart. NaN guards
    are explicit: Spark orders NaN ABOVE every number, so a bare
    ``peak > min_peak`` would accept a NaN-peak tile as a tie point."""
    return shifts.filter(
        (F.col("peak") > min_peak)
        & ~F.isnan("peak")
        & (F.col("n_valid") >= min_valid)
        & F.col("dy").isNotNull()
        & ~F.isnan("dy")
        & ~F.isnan("dx")
    )


def global_shift(
    shifts: DataFrame,
    min_peak: float = 0.0,
    min_valid: int = 16,
) -> DataFrame:
    """Robust global shift from the tie-point frame: median dy/dx over
    quality-filtered tiles (AROSICS' outlier-resistant global vector).
    Returns one row ``(n_tiles, dy, dx)``."""
    q = _quality_filter(shifts, min_peak, min_valid)
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.percentile(F.col("dy"), F.lit(0.5)).alias("dy"),
        F.percentile(F.col("dx"), F.lit(0.5)).alias("dx"),
    )


def shifted_grid(grid: GridSpec, dy: float, dx: float) -> GridSpec:
    """The virtual source grid that makes ``transform_grid`` sample the
    target at ``(row+dy, col+dx)``: fractional source col of a destination
    center becomes ``col + dx`` when ``left -= dx*cellx`` (and ``row + dy``
    when ``top += dy*celly``)."""
    d = grid.as_dict()
    d["left"] = grid.left - dx * grid.cellx
    d["top"] = grid.top + dy * grid.celly
    return GridSpec(**d)


def apply_shift(
    spark: SparkSession,
    docs: DataFrame,
    grid: GridSpec,
    dy: float,
    dx: float,
    bands: tuple[str, ...],
    resampling: str = "bilinear",
) -> DataFrame:
    """Resample ``docs`` at ``(row+dy, col+dx)`` — the coregistration warp.

    Pure plan reuse: ``transform_grid(src=shifted_grid(grid, dy, dx),
    dst=grid)``; bilinear is the 4-neighbor explode + one equi-join."""
    return transform_grid(
        spark, docs, shifted_grid(grid, dy, dx), grid, bands, resampling
    )


def apply_shift_field(
    docs: DataFrame,
    grid: GridSpec,
    shifts: DataFrame,
    bands: tuple[str, ...],
    min_peak: float = 0.0,
    min_valid: int = 16,
) -> DataFrame:
    """Warp by a PER-TILE shift field (AROSICS ``COREG_LOCAL``): each cell
    resamples at ``(row + dy(tile), col + dx(tile))`` with bilinear
    weights.

    Plan: quality-filtered tie points fall back to the global median
    (both tiny, driver-free — one broadcast join), then the same
    4-neighbor explode + ONE hash equi-join as ``transform_grid``
    bilinear, except the fractional offset is a per-row column instead of
    a plan literal. Still exactly one corpus shuffle.

    Output contract differs from :func:`apply_shift` (documented, not
    accidental): rows cover the INPUT cells only (no full destination
    lattice) and carry ``(row, col, <bands>)`` without x/y — the local
    field corrects a raster in place on its own lattice, it does not
    resample onto a new grid.
    """
    # Materialize the tiny tie-point frame ONCE (≤ sampled-tile rows):
    # aggregating it for the fallback AND rebuilding it for the broadcast
    # join would execute the whole detection plan — the corpus shuffle
    # plus every tile's phase-correlation FFT — twice.
    good_pdf = (
        _quality_filter(shifts, min_peak, min_valid)
        .select("tile", "dy", "dx")
        .toPandas()
    )
    if len(good_pdf) == 0:
        # fail loudly like coregister(): a silent all-null warp would
        # corrupt the whole output on e.g. a fully cloud-masked scene
        raise ValueError(
            "apply_shift_field: no tile passed the tie-point quality "
            "filter; lower min_peak/min_valid"
        )
    # pandas median == F.percentile(0.5): both linearly interpolate
    fb = {
        "dy": float(good_pdf["dy"].median()),
        "dx": float(good_pdf["dx"].median()),
    }
    good = docs.sparkSession.createDataFrame(good_pdf)
    tile = F.expr(grid.tile_id_expr())
    lat = (
        docs.select("row", "col", tile.alias("tile"))
        .join(F.broadcast(good), "tile", "left")
        .select(
            "row",
            "col",
            F.coalesce(F.col("dy"), F.lit(float(fb["dy"]))).alias("_dy"),
            F.coalesce(F.col("dx"), F.lit(float(fb["dx"]))).alias("_dx"),
        )
    )
    fr = F.col("row").cast("double") + F.col("_dy")
    fc = F.col("col").cast("double") + F.col("_dx")
    lat = lat.withColumns(
        {
            "_r0": F.floor(fr).cast("long"),
            "_c0": F.floor(fc).cast("long"),
            "_wr": fr - F.floor(fr),
            "_wc": fc - F.floor(fc),
        }
    )
    # same bilinear plan as transform_grid(resampling='bilinear') — one
    # definition, so edge-renormalization fixes land in both
    from .transform import bilinear_gather

    return bilinear_gather(lat, docs, bands, carry=("row", "col"))


def coregister_local(
    spark: SparkSession,
    docs: DataFrame,
    grid: GridSpec,
    reference: str,
    target: str,
    bands: tuple[str, ...] | None = None,
    nodata: float | None = None,
    max_shift: float | None = None,
    min_peak: float = 0.0,
    min_valid: int = 16,
    normalization: str | None = "phase",
) -> DataFrame:
    """Per-tile coregistration (AROSICS ``COREG_LOCAL``): detect a shift
    per tile, warp each tile by ITS OWN vector (bad tiles fall back to the
    global median). Two corpus passes total: the detection shuffle and the
    warp join."""
    ties = detect_shifts(
        docs, grid, reference, target,
        nodata=nodata, max_shift=max_shift, normalization=normalization,
    )
    return apply_shift_field(
        docs, grid, ties, bands=bands or (target,),
        min_peak=min_peak, min_valid=min_valid,
    )


def coregister(
    spark: SparkSession,
    docs: DataFrame,
    grid: GridSpec,
    reference: str,
    target: str,
    bands: tuple[str, ...] | None = None,
    nodata: float | None = None,
    max_shift: float | None = None,
    max_tiles: int | None = None,
    min_peak: float = 0.0,
    min_valid: int = 16,
    snap: float | None = None,
    resampling: str = "bilinear",
    normalization: str | None = "phase",
) -> tuple[DataFrame, dict]:
    """Detect the global target→reference misalignment and correct it
    (``sops.py:1367-1546``; AROSICS global ``COREG``).

    ``snap`` quantizes the detected shift to a cell fraction (e.g. 0.25)
    before warping — deterministic outputs for regression pinning. Returns
    ``(corrected_frame, {"dy", "dx", "n_tiles"})``; the corrected frame
    carries ``bands`` (default: the target band) resampled at the corrected
    position on the same grid.
    """
    ties = detect_shifts(
        docs, grid, reference, target,
        nodata=nodata, max_shift=max_shift, max_tiles=max_tiles,
        normalization=normalization,
    )
    row = global_shift(ties, min_peak=min_peak, min_valid=min_valid).collect()[0]
    dy, dx = row["dy"], row["dx"]
    if dy is None or row["n_tiles"] == 0:
        raise ValueError(
            "coregister: no tile passed the tie-point quality filter "
            f"(n_tiles={row['n_tiles']}); lower min_peak/min_valid"
        )
    if snap:
        dy = round(dy / snap) * snap
        dx = round(dx / snap) * snap
    corrected = apply_shift(
        spark, docs, grid, dy, dx,
        bands=bands or (target,), resampling=resampling,
    )
    return corrected, {"dy": dy, "dx": dx, "n_tiles": int(row["n_tiles"])}
