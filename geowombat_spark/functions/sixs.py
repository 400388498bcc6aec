"""6S-emulator LUT atmospheric correction, Spark-first.

Reference shape: ``radiometry/sixs.py:209-545`` (class ``SixS``) — load a
per-sensor/wavelength lookup table of 6S radiative-transfer outputs
``(t_g, p_alpha, s, t_s, t_v)`` over the 5-axis grid (solar zenith, water
vapour, ozone, aerosol optical thickness, altitude), interpolate it at the
scene's conditions ('fast' = nearest node, 'slow' = linear), scale by the
elliptical-orbit correction for the acquisition day-of-year, and apply

    sr' = ((toar / t_g) - p_alpha) / (t_s * t_v);  sr = sr' / (1 + s * sr')

(``SixS._toar_to_sr_from_coeffs``, ``sixs.py:227-247``) with nodata
masking and a [0, 1] clip (``SixS._mask_nodata``, ``sixs.py:254-267``).

The reference obtains the LUT files from a network downloader
(``LUTDownloader``) — out of scope here. This module keeps the exact
interpolate-and-apply semantics over a *user-supplied* LUT:

- a LUT is any small DataFrame with the node-coordinate columns of
  :class:`LutGrid` plus the five coefficient columns — load real 6S output
  from parquet, or build the deterministic synthetic stand-in
  (:func:`synthetic_lut`) whose coefficients are closed-form,
  physically-shaped functions of the node coordinates (used by tests and
  the driver query; clearly NOT real 6S output);
- 'fast' (:func:`lut_coeffs_nearest`) snaps each pixel to its nearest
  grid node with Column arithmetic and resolves coefficients via a
  **broadcast hash join** on the node index — the LUT is a few thousand
  rows against billions of pixels, so the lookup is a map-side join with
  zero shuffle of the raster;
- 'slow' (:func:`lut_coeffs_linear`) does full multilinear interpolation
  over all five axes in one Arrow-vectorized ``mapInPandas`` pass: the
  coefficient grid ships to executors as a closure ndarray (a few hundred
  KB), and each batch gathers its 2^5 corner weights with numpy — no
  per-row Python, no shuffle.

Scale: both paths are single-pass projections over the raster; nothing
about them changes between 60 k rows and 100 TB. The nearest path stays
entirely in whole-stage codegen except the broadcast join itself.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

COEFFS = ("t_g", "p_alpha", "s_alb", "t_s", "t_v")


@dataclass(frozen=True)
class LutAxis:
    name: str
    start: float
    step: float
    count: int

    def values(self) -> list[float]:
        return [self.start + i * self.step for i in range(self.count)]

    def nearest_index(self, v: Column) -> Column:
        """Clamped nearest node index as a Column (round-half-up like
        numpy's grid snap; clamping keeps out-of-range inputs on the
        boundary node, matching NearestNDInterpolator behavior)."""
        i = F.round((v - F.lit(self.start)) / F.lit(self.step), 0)
        return F.least(
            F.greatest(i, F.lit(0.0)), F.lit(float(self.count - 1))
        ).cast("int")


@dataclass(frozen=True)
class LutGrid:
    """Regular 5-axis LUT grid: solar zenith (deg), water vapour (g/cm^2),
    ozone (cm-atm), AOT, altitude (km) — the axes of ``sixs.py:445-520``.
    """

    sza: LutAxis
    h2o: LutAxis
    o3: LutAxis
    aot: LutAxis
    alt: LutAxis

    @property
    def axes(self) -> tuple[LutAxis, ...]:
        return (self.sza, self.h2o, self.o3, self.aot, self.alt)

    @property
    def shape(self) -> tuple[int, ...]:
        return tuple(a.count for a in self.axes)


def default_grid() -> LutGrid:
    """A modest grid spanning the reference's documented parameter ranges
    (``sixs.py`` docstrings: h2o [0, 8.5] g/cm^2, o3 [0, 8] cm-atm,
    aot [0, 3]); 9*5*5*7*3 = 4,725 nodes — broadcast-sized."""
    return LutGrid(
        sza=LutAxis("sza", 0.0, 10.0, 9),
        h2o=LutAxis("h2o", 0.0, 2.0, 5),
        o3=LutAxis("o3", 0.0, 2.0, 5),
        aot=LutAxis("aot", 0.0, 0.5, 7),
        alt=LutAxis("alt", 0.0, 2.0, 3),
    )


def _coeff_exprs(sza, h2o, o3, aot, alt):
    """Closed-form synthetic coefficient set, as Spark Columns.

    Physically shaped (transmittances fall with optical depth and air
    mass, path reflectance and spherical albedo rise with AOT, altitude
    thins the aerosol layer) but NOT real 6S output — a deterministic
    stand-in so tests and the driver oracle can recompute the same nodes
    independently. Real deployments load 6S-generated parquet instead.
    """
    mu = F.cos(F.radians(sza))
    tau = (F.lit(0.1) + F.lit(0.8) * aot) * F.exp(-alt / F.lit(8.0))
    tau_frac = tau / (F.lit(1.0) + tau)
    return {
        "t_g": F.exp(F.lit(-0.05) * h2o - F.lit(0.02) * o3),
        "p_alpha": F.lit(0.12) * tau_frac
        * (F.lit(1.0) + F.lit(0.5) * (F.lit(1.0) - mu)),
        "s_alb": F.lit(0.1) * tau_frac,
        "t_s": F.exp(F.lit(-0.5) * tau / mu),
        "t_v": F.exp(F.lit(-0.5) * tau),
    }


# The DuckDB rendering of _coeff_exprs, for oracle SQL. {sza}/{h2o}/{o3}/
# {aot}/{alt} are substituted with node-value SQL expressions.
SYNTH_COEFF_SQL = {
    "t_g": "exp(-0.05 * ({h2o}) - 0.02 * ({o3}))",
    "p_alpha": (
        "0.12 * ((0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0))"
        " / (1.0 + (0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0))"
        " * (1.0 + 0.5 * (1.0 - cos(radians({sza}))))"
    ),
    "s_alb": (
        "0.1 * ((0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0))"
        " / (1.0 + (0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0))"
    ),
    "t_s": (
        "exp(-0.5 * (0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0)"
        " / cos(radians({sza})))"
    ),
    "t_v": "exp(-0.5 * (0.1 + 0.8 * ({aot})) * exp(-({alt}) / 8.0))",
}


def synthetic_lut(
    spark: SparkSession, grid: LutGrid | None = None
) -> tuple[DataFrame, LutGrid]:
    """Materialize the synthetic LUT as a DataFrame of grid nodes →
    coefficients. Built distributed from a range over the flat node id
    (the driver never holds the cross product), though at default size
    (4,725 rows) that is a formality; the point is the schema contract
    real LUT parquet must match: the 5 axis columns + :data:`COEFFS`."""
    grid = grid or default_grid()
    n_total = math.prod(grid.shape)
    df = spark.range(n_total).withColumnRenamed("id", "_nid")
    # unflatten: row-major over (sza, h2o, o3, aot, alt)
    strides = []
    s = 1
    for ax in reversed(grid.axes):
        strides.append(s)
        s *= ax.count
    strides = list(reversed(strides))  # stride per axis, row-major
    cols = {}
    for ax, stride in zip(grid.axes, strides):
        idx = (F.col("_nid") / F.lit(stride)).cast("long") % ax.count
        cols[ax.name] = (
            F.lit(ax.start) + idx.cast("double") * F.lit(ax.step)
        )
    df = df.withColumns(cols)
    coeffs = _coeff_exprs(
        F.col("sza"), F.col("h2o"), F.col("o3"), F.col("aot"), F.col("alt")
    )
    return df.withColumns(dict(coeffs)).drop("_nid"), grid


def elliptical_orbit_correction(doy: int) -> float:
    """Sun-Earth distance correction for the acquisition day of year
    (``sixs.py:344-348``; 6S-emulator constant set — published)."""
    return 0.03275104 * math.cos(doy / 59.66638337) + 0.96804905


def _operand(v, angle_factor: float = 1.0) -> Column:
    """Shared angle-operand adapter — see ``radiometry._ang``."""
    from .radiometry import _ang

    return _ang(v, angle_factor)


def lut_coeffs_nearest(
    df: DataFrame,
    lut: DataFrame,
    grid: LutGrid,
    sza,
    h2o=1.0,
    o3=0.4,
    aot=0.3,
    alt=0.0,
    angle_factor: float = 1.0,
    prefix: str = "six_",
) -> DataFrame:
    """'fast' interpolation (``interp_method='fast'``, ``sixs.py:301``):
    nearest-node lookup. Each pixel's 5 condition operands (columns or
    scene constants; ``angle_factor`` scales the zenith like the
    reference's int×100 angle rasters) snap to clamped node indices in
    Column arithmetic; the coefficient row is resolved by a single
    **broadcast** equi-join on the flat node id. Adds the five
    ``{prefix}{coeff}`` columns."""
    ops = {
        "sza": _operand(sza, angle_factor),
        "h2o": _operand(h2o),
        "o3": _operand(o3),
        "aot": _operand(aot),
        "alt": _operand(alt),
    }
    key = F.lit(0).cast("long")
    lkey = F.lit(0).cast("long")
    for ax in grid.axes:
        key = key * ax.count + ax.nearest_index(ops[ax.name])
        lkey = lkey * ax.count + ax.nearest_index(F.col(ax.name))
    small = lut.select(
        lkey.alias("_nid"),
        *[F.col(c).alias(f"{prefix}{c}") for c in COEFFS],
    )
    out = df.withColumn("_nid", key).join(
        F.broadcast(small), "_nid", "left"
    )
    return out.drop("_nid")


def lut_coeffs_linear(
    df: DataFrame,
    lut: DataFrame,
    grid: LutGrid,
    sza,
    h2o=1.0,
    o3=0.4,
    aot=0.3,
    alt=0.0,
    angle_factor: float = 1.0,
    prefix: str = "six_",
) -> DataFrame:
    """'slow' interpolation (``interp_method='slow'``, ``sixs.py:302``):
    full 5-axis multilinear interpolation, Arrow-vectorized.

    The LUT is collected once on the driver into a dense
    ``(n_sza, n_h2o, n_o3, n_aot, n_alt, 5)`` float64 ndarray (≈ 190 KB at
    the default grid) and shipped in the ``mapInPandas`` closure; each
    Arrow batch computes fractional node indices and accumulates the 2^5
    corner contributions with numpy gathers — vectorized over the batch,
    never per row. Inputs are clamped to the grid hull (matching
    ``LinearNDInterpolator`` + the reference's in-range parameter
    contract)."""
    grid_shape = grid.shape
    arr = np.full(grid_shape + (len(COEFFS),), np.nan, dtype=np.float64)
    strides = []
    s = 1
    for ax in reversed(grid.axes):
        strides.append(s)
        s *= ax.count
    strides = list(reversed(strides))
    for row in lut.select(
        *[a.name for a in grid.axes], *COEFFS
    ).collect():
        idx = tuple(
            int(round((row[a.name] - a.start) / a.step)) for a in grid.axes
        )
        arr[idx] = [row[c] for c in COEFFS]
    if np.isnan(arr).any():
        raise ValueError("LUT is missing grid nodes (sparse LUT)")

    axes_meta = [(a.start, a.step, a.count) for a in grid.axes]
    ops = {
        "sza": _operand(sza, angle_factor),
        "h2o": _operand(h2o),
        "o3": _operand(o3),
        "aot": _operand(aot),
        "alt": _operand(alt),
    }
    src = df.withColumns(
        {f"_in_{name}": c for name, c in ops.items()}
    )
    in_cols = [f"_in_{a.name}" for a in grid.axes]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
        + [f"{prefix}{c} double" for c in COEFFS]
    )

    def interp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corners = list(itertools.product((0, 1), repeat=len(axes_meta)))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            base = []
            frac = []
            for (start, step, count), col in zip(axes_meta, in_cols):
                t = (pdf[col].to_numpy(dtype=np.float64) - start) / step
                t = np.clip(t, 0.0, count - 1.0)
                i0 = np.minimum(np.floor(t).astype(np.int64), count - 2)
                i0 = np.maximum(i0, 0)
                base.append(i0)
                frac.append(t - i0)
            acc = np.zeros((n, len(COEFFS)), dtype=np.float64)
            for corner in corners:
                w = np.ones(n, dtype=np.float64)
                idx = []
                for d, bit in enumerate(corner):
                    w *= frac[d] if bit else (1.0 - frac[d])
                    # clamp the +1 corner on single-node axes (count=1):
                    # its weight is already 0 there, but the gather must
                    # stay in bounds
                    idx.append(
                        np.minimum(base[d] + bit, axes_meta[d][2] - 1)
                    )
                acc += w[:, None] * arr[tuple(idx)]
            out = pdf.drop(columns=in_cols)
            for j, c in enumerate(COEFFS):
                out[f"{prefix}{c}"] = acc[:, j]
            yield out

    return src.mapInPandas(interp, out_schema)


def toar_to_sr_sixs(
    df: DataFrame,
    bands: list[str],
    doy: int,
    prefix: str = "six_",
    src_nodata: float | None = None,
    dst_nodata: float | None = None,
) -> DataFrame:
    """Apply the 6S coefficient columns (from :func:`lut_coeffs_nearest` /
    :func:`lut_coeffs_linear`) to TOAR band columns — the
    ``_toar_to_sr_from_coeffs`` equation (``sixs.py:227-247``) with the
    day-of-year elliptical-orbit scaling (``sixs.py:344-348``), nodata
    pass-through, and the reference's [0, 1] clip. Pure Column math: the
    whole correction stays in whole-stage codegen."""
    eoc = F.lit(elliptical_orbit_correction(doy))
    t_g = F.col(f"{prefix}t_g") * eoc
    p_alpha = F.col(f"{prefix}p_alpha") * eoc
    s_alb = F.col(f"{prefix}s_alb") * eoc
    t_s = F.col(f"{prefix}t_s") * eoc
    t_v = F.col(f"{prefix}t_v") * eoc
    for b in bands:
        toar = F.col(b).cast("double")
        if src_nodata is not None:
            toar = F.nullif(toar, F.lit(float(src_nodata)))
        sr_s = ((toar / t_g) - p_alpha) / (t_s * t_v)
        sr = sr_s / (F.lit(1.0) + s_alb * sr_s)
        # greatest/least skip NULLs, so clip only non-null RESULTS — a
        # nodata pixel must stay NULL until the dst_nodata fill, and a
        # NULL coefficient (sparse user LUT: lut_coeffs_nearest's left
        # join silently misses absent nodes) must not clip a valid toar
        # pixel to 0.0 "valid black" either. Gating on sr covers both
        # (NULL toar ⇒ NULL sr).
        sr = F.when(
            sr.isNotNull(),
            F.least(F.greatest(sr, F.lit(0.0)), F.lit(1.0)),
        )
        if dst_nodata is not None:
            sr = F.coalesce(sr, F.lit(float(dst_nodata)))
        df = df.withColumn(b, sr)
    return df


# reference-API parity only (``SixS.rad_to_sr``): no engine caller;
# tests/test_sixs.py pins it against the TOAR path
def rad_to_sr_sixs(
    df: DataFrame,
    bands: dict[str, tuple[float, float]],
    doy: int,
    solar_za,
    angle_factor: float = 1.0,
    prefix: str = "six_",
    src_nodata: float | None = None,
    dst_nodata: float | None = None,
) -> DataFrame:
    """Radiance → SR (``SixS.rad_to_sr``, ``sixs.py:380-470``): converts
    radiance to TOAR with the standard solar geometry (``bands`` maps band
    → (esun, earth-sun distance d)), then applies the coefficient
    equation. ρ_toar = π·L·d² / (esun·cosθs)."""
    cos_sza = F.cos(F.radians(_operand(solar_za, angle_factor)))
    for b, (esun, d) in bands.items():
        rad = F.col(b).cast("double")
        if src_nodata is not None:
            rad = F.nullif(rad, F.lit(float(src_nodata)))
        df = df.withColumn(
            b,
            (F.lit(math.pi) * rad * F.lit(float(d) ** 2))
            / (F.lit(float(esun)) * cos_sza),
        )
    return toar_to_sr_sixs(
        df,
        list(bands),
        doy,
        prefix=prefix,
        src_nodata=None,
        dst_nodata=dst_nodata,
    )
