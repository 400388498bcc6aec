"""Cloud-shadow estimation — geometric projection of a cloud mask.

Reference: ``/root/reference/src/geowombat/radiometry/mask.py`` —
``estimate_shadows`` (:22-114): for each candidate cloud height, shift
the cloud mask along the per-scene shadow vector (derived from the solar
zenith/azimuth), take the max across heights, and keep only dark pixels
(``norm_diff(swir2, green) >= 0.1``) that are not themselves cloud. The
surrounding ``CloudShadowMasker.mask_s2`` (:117-310) depends on the
external s2cloudless ML detector and is out of scope; this operator takes
any 0/1 cloud column (a QA-derived mask, ``functions.radiometry.qa_mask``,
or an external product).

Spark shape: the per-height shift offsets are **scene scalars** (the
reference computes them with an eager ``.min().compute()``, :62-79 — here
one tiny aggregate job, two ints per height). The shifted cloud
positions are the cloud subset exploded into ``len(cloud_heights)``
offset structs → ``distinct`` → joined back to the corpus (broadcast by
default: the potential-shadow set is |cloud cells| × heights, sparse for
real scenes). The dark-pixel test is the existing ``vi.norm_diff``
Column. Total: one scalar agg + one join — no corpus shuffle when the
shadow set broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import GridSpec
from .vi import norm_diff


def estimate_shadows(
    docs: DataFrame,
    grid: GridSpec,
    cloud: str = "cloud",
    solar_za: str = "solar_za",
    solar_az: str = "solar_az",
    swir2: str = "band_swir2",
    green: str = "band_green",
    cloud_heights: tuple[float, ...] = (500.0, 1000.0, 1500.0),
    nodata: float | None = None,
    scale_factor: float = 1.0,
    out: str = "shadow",
    broadcast_shadows: bool = True,
) -> DataFrame:
    """Adds ``out`` ∈ {0, 1} (1 = estimated shadow), reference
    ``mask.py:22-114``. Angle columns are in **radians** (the reference
    applies ``np.tan`` / ``np.cos`` directly to its angle rasters).

    Per height ``h`` the scene shift is the reference's
    ``y = int(min(round(cos(az)·tan(za)·h / celly)))``,
    ``x = -int(min(round(sin(az)·tan(za)·h / celly)))`` (both divided by
    ``celly``, as in the reference), and a cloud cell at (r, c) casts a
    potential shadow at (r + y, c + x). Default heights follow
    ``mask_s2``'s ``range(500, 2000, 500)`` (:179-180).
    """
    sv = F.tan(F.col(solar_za))
    aggs = []
    for i, h in enumerate(cloud_heights):
        vec = sv * F.lit(float(h)) / F.lit(float(grid.celly))
        aggs.append(F.min(F.round(F.cos(F.col(solar_az)) * vec, 0)).alias(f"_y{i}"))
        aggs.append(F.min(F.round(F.sin(F.col(solar_az)) * vec, 0)).alias(f"_x{i}"))
    row = docs.agg(*aggs).first()
    if row is None or row[0] is None:
        # empty frame or all-NULL angle columns: min() aggregates to NULL
        # and int(None) would raise a bare TypeError with no diagnosis
        raise ValueError(
            "estimate_shadows: no usable solar-angle values — the input "
            f"is empty or {solar_za!r}/{solar_az!r} are entirely NULL"
        )
    shifts = [
        (int(row[f"_y{i}"]), -int(row[f"_x{i}"]))
        for i in range(len(cloud_heights))
    ]

    clouds = docs.filter(F.col(cloud) == 1).select("row", "col")
    shadow_cells = (
        clouds.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("row") + F.lit(int(y))).alias("row"),
                            (F.col("col") + F.lit(int(x))).alias("col"),
                        )
                        for (y, x) in shifts
                    ]
                )
            ).alias("_s")
        )
        .select("_s.row", "_s.col")
        .distinct()
        .withColumn("_pot", F.lit(1))
    )
    if broadcast_shadows:
        shadow_cells = F.broadcast(shadow_cells)

    d = docs.join(shadow_cells, ["row", "col"], "left")
    d = norm_diff(
        d, swir2, green, out="_dark", nodata=nodata, scale_factor=scale_factor
    )
    d = d.withColumn(
        out,
        F.when(
            F.col("_pot").isNotNull()
            & (F.col(cloud) != 1)
            & (F.col("_dark") >= 0.1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return d.drop("_pot", "_dark")


def mask_s2(
    docs: DataFrame,
    grid: GridSpec,
    prob,
    threshold: float = 0.4,
    average_over: int = 4,
    dilation_size: int = 5,
    solar_za: str = "solar_za",
    solar_az: str = "solar_az",
    swir2: str = "band_swir2",
    green: str = "band_green",
    cloud_heights: tuple[float, ...] = (500.0, 1000.0, 1500.0),
    nodata: float | None = None,
    nodata_bands: tuple[str, ...] = (),
    keep: tuple[str, ...] = ("doc_id",),
    out: str = "mask",
    angle_factor: float | None = 0.01,
) -> DataFrame:
    """``CloudShadowMasker.mask_s2`` (``mask.py:117-310``) minus the
    external model: probability → spatial average → threshold → dilate →
    shadow projection → {0 clear, 2 shadow, 4 cloud, 255 fill} recode.

    The s2cloudless *detector* is an externally trained LightGBM model
    (out of scope, like the reference's optional dependency); ``prob`` is
    therefore pluggable — any per-pixel cloud-probability Column (a
    trained :mod:`geowombat_spark.ml` model's probability, a QA-derived
    score, or a product band). Everything AROUND the model is the
    reference chain, re-expressed on the engine's own kernels:

    - ``average_over`` → focal **mean** of the probability over a
      ``(2k+1)²`` window (s2cloudless's convolution smoothing;
      DOCUMENTED DEVIATION: square window, the reference's dependency
      uses a disk — same radius, corners included);
    - ``threshold`` → binary cloud;
    - ``dilation_size`` → focal **max** of the binary mask (morphological
      dilation, same square-vs-disk note);
    - shadows → :func:`estimate_shadows` (``mask.py:22-114``), the
      geometric projection along the solar vector;
    - recode ``cloud→4, shadow→2, max(bands)==nodata→255, else 0``
      (``mask.py:278-290``) with cloud taking precedence, exactly the
      reference's nested ``xr.where`` order.

    Plan shape: two focal aggregates (the JVM neighbour-offset aggregate
    every ``gw.moving`` stat uses) + the shadow stage's tiny scalar agg +
    broadcast join. ``keep`` columns come back on each cell's own row:
    through the aggregates while they are fixed-width, else (a string
    ``doc_id``, say) by one join on the cell key per focal stage.

    The input holds one row per (row, col), as ``moving`` requires. Several
    rows in one cell all count in the focal windows, and the output has one
    row for the cell (fixed-width ``keep``) or one per input row
    (variable-width ``keep``).
    """
    d = docs.withColumn("_p", prob if not isinstance(prob, str) else F.col(prob))
    ride = tuple(
        dict.fromkeys(
            tuple(keep)
            + (solar_za, solar_az, swir2, green)
            + tuple(nodata_bands)
        )
    )
    from ..operators.focal import moving

    # nodata=None in BOTH kernels: 0 is a real value for a probability
    # and for the binary mask (the default nodata=0.0 would null it)
    avg = moving(
        d, grid, stat="mean", w=2 * average_over + 1, band="_p",
        nodata=None, keep=ride, out="_pavg",
    )
    cl = avg.withColumn(
        "_cl", (F.col("_pavg") >= F.lit(float(threshold))).cast("double")
    )
    dil = moving(
        cl, grid, stat="max", w=2 * dilation_size + 1, band="_cl",
        nodata=None, keep=ride, out="_cdil",
    )
    # estimate_shadows consumes this frame THREE ways — the eager
    # scalar-shift aggregate, the cloud-cells broadcast build side, and
    # the main output — and each would re-execute the two focal
    # aggregates above. One bounded persist caps the chain at a single
    # materialization (same fix class as the LSH signature frames).
    from ..cache import bounded_persist

    cloudf = bounded_persist(
        dil.withColumn("cloud", (F.col("_cdil") >= 0.5).cast("int"))
    )
    # estimate_shadows consumes RADIANS (mask.py:22-114 applies tan/cos
    # directly); the reference's mask_s2 entry point receives the
    # repo-conventional CENTI-DEGREE angle bands and converts with
    # sza = solar_za * 0.01 then deg2rad (mask.py:255-263). angle_factor
    # mirrors that: the 0.01 default matches the reference; pass
    # angle_factor=None when the columns already hold radians.
    if angle_factor is not None:
        cloudf = cloudf.withColumns(
            {
                "_sza_rad": F.radians(
                    F.col(solar_za) * F.lit(float(angle_factor))
                ),
                "_saa_rad": F.radians(
                    F.col(solar_az) * F.lit(float(angle_factor))
                ),
            }
        )
        za_col, az_col = "_sza_rad", "_saa_rad"
    else:
        za_col, az_col = solar_za, solar_az
    sh = estimate_shadows(
        cloudf, grid, cloud="cloud", solar_za=za_col, solar_az=az_col,
        swir2=swir2, green=green, cloud_heights=cloud_heights,
        nodata=nodata, out="_shadow",
    )
    fill = F.lit(False)
    if nodata is not None and nodata_bands:
        ncols_ = [F.col(b) for b in nodata_bands]
        # F.greatest requires >= 2 columns; one nodata band is legitimate
        gmax = F.greatest(*ncols_) if len(ncols_) > 1 else ncols_[0]
        fill = gmax == F.lit(float(nodata))
    return (
        sh.withColumn(
            out,
            F.when(F.col("cloud") == 1, F.lit(4))
            .when(F.col("_shadow") == 1, F.lit(2))
            .when(fill, F.lit(255))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop(
            "_p", "_pavg", "_cl", "_cdil", "_shadow", "cloud",
            "_sza_rad", "_saa_rad",
        )
    )
