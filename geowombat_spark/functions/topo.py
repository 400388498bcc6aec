"""Topographic normalization — slope/aspect + illumination correction.

Reference: ``/root/reference/src/geowombat/radiometry/topo.py`` —
``calc_slope``/``calc_aspect`` (:44-153, delegating to GDAL DEMProcessing
with the Zevenbergen–Thorne central-difference algorithm) and
``Topo.norm_topo`` (:342-567) with methods ``'cos'`` (:248-269,
Teillet et al. 1982), ``'c'`` (:271-340) and ``'empirical-rotation'``
(:181-246, Tan et al. 2010).

Spark shape:

- **slope/aspect** is a five-tap stencil (centre, N, S, W, E) over the
  elevation raster → the JVM neighbour-offset aggregate that
  ``operators.focal.moving`` runs (``focal.neighbour_aggregate``): one
  exchange keyed by the target cell, no Python worker, and the
  Zevenbergen–Thorne math as one SQL projection. Derivatives use
  *replicate* semantics at missing neighbors (the analogue of GDAL
  ``computeEdges=True``): an absent, NULL or NaN neighbor falls back to
  the center cell, so image borders and ragged extents need no global
  extent metadata.
- **illumination + adjustment** is pure Column trigonometry
  (whole-stage codegen).
- The per-band regression of the ``'c'`` and ``'empirical-rotation'``
  methods (reference: driver-side ``sklearn.LinearRegression`` on
  ``dask.compute``-materialized arrays, :165-179) becomes the
  **closed-form univariate OLS** computed with one distributed
  aggregate: ``m = covar_pop(il, sr) / var_pop(il)``,
  ``b = avg(sr) - m * avg(il)`` — identical math, no driver
  materialization. The one-row coefficient frame is broadcast back with
  a ``crossJoin`` so the whole operator stays inside two jobs at any
  scale (stencil shuffle + scalar agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import GridSpec, sql_double
from ..operators.focal import neighbour_aggregate, tap_offset

_METHODS = ("cos", "c", "empirical-rotation")


def slope_aspect(
    docs: DataFrame,
    grid: GridSpec,
    elev: str = "elev",
    keep: tuple[str, ...] = (),
    slope_out: str = "slope",
    aspect_out: str = "aspect",
) -> DataFrame:
    """Slope (degrees) and compass aspect (degrees, 0=N clockwise,
    0 for flat) from an elevation column via Zevenbergen–Thorne central
    differences (reference ``topo.py:44-153``; GDAL ``alg='ZevenbergenThorne',
    computeEdges=True, zeroForFlat=True``).

    ``dz/dx = (z_east - z_west) / (2·cellx)``,
    ``dz/dy = (z_north - z_south) / (2·celly)`` (north = row-1);
    ``slope = atan(hypot(dz/dx, dz/dy))``;
    ``aspect = (degrees(atan2(-dz/dx, -dz/dy)) + 360) % 360`` — the
    bearing of the downslope vector. Missing neighbors (image edge, ragged
    extent, NULL or NaN elevation) replicate the center value.

    Returns the two outputs keyed by (row, col, cell_id) plus ``keep``
    payload columns, one row per input cell, from one neighbour-offset
    aggregate (``operators.focal.neighbour_aggregate``): one exchange
    while ``cell_id`` and ``keep`` are fixed-width, a join back on the
    cell key otherwise. The input holds one row per (row, col); a cell
    with several rows yields one output row (fixed-width home columns,
    from any one of its rows) or one per input row (joined back), and its
    neighbours see the elevation of any one of its rows.
    """
    v = f"CAST(`{elev}` AS DOUBLE)"
    taps = {"c": (0, 0), "n": (-1, 0), "s": (1, 0), "w": (0, -1), "e": (0, 1)}
    aggs = [
        f"any_value(_fv) FILTER (WHERE _fo = {tap_offset(grid, 1, dr, dc)}) AS _z{t}"
        for t, (dr, dc) in taps.items()
    ]
    z = {t: f"coalesce(_z{t}, _zc)" for t in taps}
    dx = f"(({z['e']} - {z['w']}) / {sql_double(2.0 * grid.cellx)})"
    dy = f"(({z['n']} - {z['s']}) / {sql_double(2.0 * grid.celly)})"
    slope = f"degrees(atan(hypot({dx}, {dy})))"
    aspect = (
        f"CASE WHEN {slope} = 0 THEN 0D "
        f"ELSE (degrees(atan2(-{dx}, -{dy})) + 360D) % 360D END"
    )
    return neighbour_aggregate(
        docs, grid, 1, f"IF(isnan({v}), NULL, {v})", list(taps.values()), aggs,
        [f"{slope} AS `{slope_out}`", f"{aspect} AS `{aspect_out}`"], keep,
    )


def illumination(
    slope_deg,
    aspect_deg,
    solar_za_rad,
    solar_az_rad,
):
    """Solar illumination angle cosine (reference ``topo.py:508-511``):
    ``il = cos(slope)·cos(sza) + sin(slope)·sin(sza)·cos(saa - aspect)``.
    Column in → Column out (slope/aspect in degrees, solar angles in
    radians)."""
    slope_rad = F.radians(slope_deg)
    aspect_rad = F.radians(aspect_deg)
    return F.cos(slope_rad) * F.cos(solar_za_rad) + F.sin(slope_rad) * F.sin(
        solar_za_rad
    ) * F.cos(solar_az_rad - aspect_rad)


def norm_topo(
    docs: DataFrame,
    grid: GridSpec,
    bands: tuple[str, ...],
    elev: str = "elev",
    solar_za: str = "solar_za",
    solar_az: str = "solar_az",
    slope: str | None = None,
    aspect: str | None = None,
    method: str = "c",
    slope_thresh: float = 2.0,
    nodata: float = 0.0,
    elev_nodata: float = -32768.0,
    scale_factor: float = 1.0,
    angle_scale: float = 0.01,
    min_samples: int = 100,
    band_coeffs: dict[str, tuple[float, float]] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Distributed ``Topo.norm_topo`` (reference ``topo.py:342-567``).

    Per-pixel: scale reflectance by ``scale_factor``, compute the
    illumination angle from slope/aspect and the (centi-degree ×
    ``angle_scale``) solar angles, flag nodata samples
    (``elev == elev_nodata`` | ``max(bands) == nodata`` |
    ``slope < slope_thresh``), then per band:

    - ``'cos'``: ``sr · cos_z / il`` (:248-269).
    - ``'c'``: OLS ``sr ~ il`` over valid samples → ``c = b/m``;
      ``sr · (cos_z + c)/(il + c)`` with NaN factor → 1; keep ``sr``
      where the result exceeds 1 or the sample is nodata (:271-340).
    - ``'empirical-rotation'``: ``sr - m·(il - cos_z)`` (:181-246).

    All outputs clip to [0, 1] over valid samples, like the reference.
    When fewer than ``min_samples`` valid samples exist the band is
    returned unadjusted (reference :223-224) — enforced also when
    ``band_coeffs`` supplies precomputed ``(m, b)`` per band and skips
    the regression (reference :218-227 checks the floor in that branch
    too). Degenerate regressions (zero illumination variance, ``m = 0``,
    zero denominators) return the band unadjusted instead of aborting
    under the ANSI runtime.

    DOCUMENTED DEVIATION: nodata is flagged on the RAW band values,
    before ``scale_factor`` is applied. The reference scales first
    (``data = data * scale_factor`` precedes the nodata comparison,
    :400-410), which destroys the sentinel whenever
    ``scale_factor != 1`` — a raw -9999 becomes -0.9999 and is treated
    as a valid regression sample. Flagging pre-scale preserves the
    sentinel's meaning (correctness over bug parity).
    """
    method = method.strip().lower()
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}")

    payload = tuple(
        dict.fromkeys(
            tuple(bands)
            + (elev, solar_za, solar_az)
            + tuple(keep)
            + ((slope,) if slope else ())
            + ((aspect,) if aspect else ())
        )
    )
    if slope is None or aspect is None:
        d = slope_aspect(
            docs,
            grid,
            elev=elev,
            keep=payload,
            slope_out="_slope",
            aspect_out="_aspect",
        )
        slope_c, aspect_c = "_slope", "_aspect"
    else:
        d = docs
        slope_c, aspect_c = slope, aspect

    sza_rad = F.radians(F.col(solar_za) * F.lit(float(angle_scale)))
    saa_rad = F.radians(F.col(solar_az) * F.lit(float(angle_scale)))
    d = d.withColumns(
        {
            "_cos_z": F.cos(sza_rad),
            "_il": illumination(
                F.col(slope_c), F.col(aspect_c), sza_rad, saa_rad
            ),
            "_nodata_samp": (
                (F.col(elev) == F.lit(float(elev_nodata)))
                | (
                    (
                        F.greatest(*[F.col(b) for b in bands])
                        if len(bands) > 1
                        else F.col(bands[0])
                    )
                    == F.lit(float(nodata))
                )
                | (F.col(slope_c) < F.lit(float(slope_thresh)))
            ).cast("int"),
        }
    )
    if scale_factor != 1.0:
        d = d.withColumns(
            {b: F.col(b) * F.lit(float(scale_factor)) for b in bands}
        )

    # NULL-preserving clip: least/greatest SKIP nulls, so clipping a NULL
    # (nodata-as-NULL) band value directly would emit 0.0 "valid black"
    clip01 = lambda c: F.when(  # noqa: E731
        c.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0)))

    if method == "cos":
        out = {}
        for b in bands:
            # zero illumination (90° incidence) → unadjusted passthrough
            # (ANSI runtime would abort on the division otherwise)
            sr_a = F.coalesce(
                F.when(
                    F.col("_il") != 0.0,
                    F.col(b) * F.col("_cos_z") / F.col("_il"),
                ),
                F.col(b),
            )
            # nodata passes through UNclipped: an out-of-range sentinel
            # (-9999) squashed into [0,1] would read as valid black and
            # break every downstream ==sentinel mask; the clip applies to
            # adjusted valid samples only (per the docstring)
            out[b] = F.when(
                F.col("_nodata_samp") == 1, F.col(b)
            ).otherwise(clip01(sr_a))
        return d.withColumns(out).drop(
            "_cos_z", "_il", "_nodata_samp", "_slope", "_aspect"
        )

    # The pre-agg plan below re-executes for the final projection; when
    # the terrain came from the internal slope_aspect (a neighbour-offset
    # aggregate, one shuffle), persist so the stencil runs ONCE, not once
    # for the coefficient job and again for the main query.
    # bounded_persist (not a raw persist): caps live persists and evicts
    # the oldest, so a per-scene pipeline calling norm_topo many times
    # cannot accumulate dead cached stencil frames until storage thrashes
    # (same registry mask_s2 and the LSH signature frames use)
    if slope is None or aspect is None:
        from ..cache import bounded_persist

        d = bounded_persist(d)

    # OLS sr ~ il per band over valid samples: one global aggregate row,
    # broadcast back. covar_pop/var_pop give sklearn's closed form. The
    # min_samples floor applies EVEN with user-supplied band_coeffs
    # (reference topo.py:215-224: too few valid samples → unadjusted), so
    # the valid count is always aggregated.
    valid = F.col("_nodata_samp") == 0
    aggs = [F.sum(valid.cast("long")).alias("_n_valid")]
    if not band_coeffs:
        for b in bands:
            aggs.append(
                F.covar_pop(F.when(valid, F.col("_il")), F.when(valid, F.col(b))).alias(f"_cov_{b}")
            )
        aggs.append(F.var_pop(F.when(valid, F.col("_il"))).alias("_var_il"))
        aggs.append(F.avg(F.when(valid, F.col("_il"))).alias("_avg_il"))
        for b in bands:
            aggs.append(F.avg(F.when(valid, F.col(b))).alias(f"_avg_{b}"))
    coeff = d.agg(*aggs)
    d = d.crossJoin(F.broadcast(coeff))

    out = {}
    for b in bands:
        if band_coeffs:
            m, bb = band_coeffs[b]
            m_c, b_c = F.lit(float(m)), F.lit(float(bb))
        else:
            # NULL when the illumination has no variance (uniform
            # slope/aspect): the ANSI runtime would otherwise abort with
            # DIVIDE_BY_ZERO; NULL flows to the a=1 / m=0 passthroughs
            # below (the reference maps the degenerate case to
            # unadjusted output the same way, via NaN → a_factor=1)
            m_c = F.when(
                F.col("_var_il") != 0.0,
                F.col(f"_cov_{b}") / F.col("_var_il"),
            )
            b_c = F.col(f"_avg_{b}") - m_c * F.col("_avg_il")
        enough = F.col("_n_valid") >= F.lit(int(min_samples))
        if method == "c":
            c_c = F.when(m_c != 0.0, b_c / m_c)  # NULL when m degenerate
            denom = F.col("_il") + c_c
            a = F.coalesce(
                F.when(denom != 0.0, (F.col("_cos_z") + c_c) / denom),
                F.lit(1.0),  # degenerate c / zero denominator → unadjusted
            )
            a = F.when(F.isnan(a), F.lit(1.0)).otherwise(a)
            sr_a = F.col(b) * a
            # nodata exempt from the clip (out-of-range sentinels must
            # survive); the >1 overshoot passthrough stays clipped —
            # reference parity for valid samples
            adj = F.when(F.col("_nodata_samp") == 1, F.col(b)).otherwise(
                clip01(F.when(sr_a > 1.0, F.col(b)).otherwise(sr_a))
            )
        else:  # empirical-rotation
            m_er = F.coalesce(m_c, F.lit(0.0))  # degenerate → unadjusted
            sr_a = F.col(b) - m_er * (F.col("_il") - F.col("_cos_z"))
            adj = F.when(F.col("_nodata_samp") == 1, F.col(b)).otherwise(
                clip01(sr_a)
            )
        out[b] = F.when(enough, adj).otherwise(F.col(b))
    d = d.withColumns(out)
    drop = ["_cos_z", "_il", "_nodata_samp", "_slope", "_aspect"]
    drop += coeff.columns
    return d.drop(*drop)
