"""Reference-named API facade: the geowombat surface, one import away.

A geowombat user's muscle memory maps 1:1 —

    import geowombat_spark.api as gw

    with gw.config(nodata=0.0):
        docs = gw.open(spark, "/path/to/corpus")            # gw.open
        pts  = gw.extract(spark, docs, aoi, grid)           # gw.extract
        sub  = gw.clip_by_polygon(docs, polys, grid)        # gw.clip
        out  = gw.ndvi(sub, "band_red", "band_nir")         # gw.norm_diff family
        gw.save(out, "/path/out")                           # gw.save / to_raster

Each name delegates to the module that implements it (cited there with
reference file:line); this module adds no behavior — it is the dispatch
table ``core/api.py:291-655`` collapses to once scan/mosaic/concat/warp are
separate composable functions.
"""

from __future__ import annotations

from .config import config  # noqa: F401  (gw.config.update analogue)
from .crs import lonlat_to_utm, reproject_points, utm_to_lonlat  # noqa: F401
from .functions.nodata import band_mask, mask_nodata, set_nodata  # noqa: F401
from .functions.brdf import norm_brdf  # noqa: F401
from .functions.cloudmask import estimate_shadows, mask_s2  # noqa: F401
from .sources.fetch import fetch_assets, fetch_report, search_assets  # noqa: F401
from .functions.radiometry import (  # noqa: F401
    bandpass,
    bandpass_to,
    dark_object_values,
    dn_to_radiance,
    dn_to_sr,
    dn_to_toar,
    dos_aot_tiles,
    dos_correct,
    pan_sharpen,
    qa_mask,
    qa_masker,
    radiance_to_toar,
    toar_to_rad,
    toar_to_sr,
)
from .functions.solar import solar_angles  # noqa: F401
from .functions.topo import norm_topo, slope_aspect  # noqa: F401
from .functions.vi import (  # noqa: F401
    avi,
    compare,
    evi,
    evi2,
    gcvi,
    kndvi,
    linear_transform,
    nbr,
    ndvi,
    norm_diff,
    tasseled_cap,
    wi,
)
from .grid import (  # noqa: F401
    GridSpec,
    align_bounds,
    coords_to_indices,
    indices_to_coords,
    polygon_sample_centers as polygons_to_points,
    rowcol_to_center_coords,
    with_hilbert_column,
    with_zorder_column,
)
from .ml import fit, fit_predict, predict  # noqa: F401
from .pipeline.curate import (  # noqa: F401
    decontaminate,
    pack_sequences,
    pii_scrub,
    quality_buckets,
    rebalance_sources,
)
from .pipeline.dedup import (  # noqa: F401
    dedup_against,
    dup_ngram_coverage,
    exact_index,
    minhash_band_index,
    neardup_against,
    scrub_dup_passages,
)
from .pipeline.multimodal import (  # noqa: F401
    decode_audio,
    decode_media,
    extract_frames,
    frame_sample,
    media_refs,
    resize_media,
    with_span_hash,
)
from .pipeline.text import (  # noqa: F401
    bm25_scores,
    build_vocab,
    char_lm_scores,
    oov_stats,
    repetition_stats,
    token_estimate,
)
from .operators.coregister import (  # noqa: F401
    apply_shift,
    apply_shift_field,
    coregister,
    coregister_local,
    detect_shifts,
)
from .operators.extract import (  # noqa: F401
    extract_points as extract,
)
from .operators.extract import extract_polygons, prepare_points  # noqa: F401
from .operators.focal import moving  # noqa: F401
from .operators.knn import knn_join, near_pairs  # noqa: F401
from .operators.mosaic import concat, file_bounds, mosaic  # noqa: F401
from .operators.polygonize import (  # noqa: F401
    connected_components_tiled as array_to_polygon,
)
from .operators.polygonize import (  # noqa: F401
    trace_rings_tiled,
)
from .operators.polygonize import (  # noqa: F401
    trace_rings_tiled as trace_rings,
)
from .operators.rasterize import polygon_to_array  # noqa: F401
from .operators.sample import (  # noqa: F401
    sample_random,
    sample_stratified,
    sample_systematic,
)
from .operators.sops import (  # noqa: F401
    calc_area,
    clip_by_polygon,
    clip_by_polygon as clip,
    mask,
    recode,
    replace,
    subset,
)
from .operators.temporal import (  # noqa: F401
    apply_blocks as apply,
)
from .operators.temporal import group_dates, series_apply, series_stats  # noqa: F401
from .operators.transform import (  # noqa: F401
    match_layout,
    transform_crs_grid,
    transform_grid as transform_crs,
)
from .plans.bucketing import (  # noqa: F401
    assert_no_shuffle_join,
    read_bucketed,
    write_bucketed,
)
from .operators.temporal import (  # noqa: F401
    TimeModule,
    TimeModulePipeline,
)
from .operators.temporal import series_apply as series  # noqa: F401
from .plans.checkpoint import (  # noqa: F401
    write_tiled_checkpointed as save,
)
from .plans.checkpoint import write_tiled_checkpointed as to_raster  # noqa: F401
from .plans.compact import (  # noqa: F401
    compact_manifest,
    compact_tiles,
    recover_compaction,
    tile_file_stats,
)
from .sensors import (  # noqa: F401
    CENTRAL_WAVELENGTH,
    SENSOR_BANDS,
    SENSOR_NAMES,
    avail_sensors,
    rename_bands,
)
from .sources.manifest import (  # noqa: F401
    load_catalog,
    open_stac,
    search_catalog,
)
from .sources.tables import get_spark, load_documents  # noqa: F401
from .sources.vrt import open_vrt, to_vrt  # noqa: F401
from .sources.netcdf import open_netcdf, to_netcdf  # noqa: F401
from .sources.zarr_ import open_zarr, to_zarr  # noqa: F401
from .tasks import GeoTask  # noqa: F401
from .util import parse_filename_dates, sort_images_by_date  # noqa: F401


def parse_wildcard(pattern: str) -> list[str]:
    """Expand a filesystem wildcard to a sorted path list
    (``core/util.py:106-131``). Raises if nothing matches, like the
    reference."""
    import glob as _glob

    matches = sorted(_glob.glob(pattern))
    if not matches:
        raise NameError(f"{pattern} matched no files.")
    return matches


def open(  # noqa: A001  (mirrors the reference's gw.open name)
    spark,
    path,
    sensor: str | None = None,
    band_names: tuple[str, ...] | None = None,
    time_names: list[str] | None = None,
    stack_dim: str = "time",
    mosaic: bool = False,
    overlap: str = "max",
    nodata: float | None = None,
    bounds: tuple[float, float, float, float] | None = None,
):
    """``gw.open`` dispatch (``core/api.py:449-655``).

    ``bounds=(left, bottom, right, top)`` subsets each source to the
    window by a range predicate on the cell-center coordinates (the
    reference's ``bounds``/``bounds_by`` read window) — a pushdown-able
    filter, zero shuffle, applied before any stack/mosaic combine.

    - single path → tile-partitioned scan (partition-pruned reads);
    - wildcard path → expanded via :func:`parse_wildcard`, then list rules;
    - list of paths + ``mosaic=True`` → spatial :func:`mosaic`;
    - list of paths (default) → :func:`concat` stack along time, one layer
      per source (``time_names`` labels them);
    - list of paths + ``stack_dim='band'`` → band-axis concat
      (:func:`operators.mosaic.stack_bands`): per-source-suffixed band
      columns joined on the cell key — not a spatial mosaic;
    - active ``config(...)`` supplies ``sensor`` / ``nodata`` /
      ``ref_bounds`` when the kwargs are not given;
    - ``sensor`` / ``band_names`` rename band columns at plan time
      (precedence: explicit ``band_names`` > ``sensor`` kwarg > active
      ``config(sensor=...)``; ``backends/xarray_.py:349-382``). The rename
      is a metadata-only select — free at any scale.
    """
    from .config import resolve as _resolve
    from .operators import mosaic as _mosaic

    if isinstance(path, str) and any(ch in path for ch in "*?["):
        path = parse_wildcard(path)

    # the active config is consulted for every knob it can carry — the
    # module's own headline example is `with gw.config(nodata=...):
    # gw.open(...)`, which must reach the mosaic/concat nullify
    sensor = _resolve("sensor", sensor)
    nodata = _resolve("nodata", nodata)
    bounds = _resolve("ref_bounds", bounds)

    def _one(p):
        # format dispatch, like the reference's NetCDF-aware open
        # (``core/api.py:465-476`` routes 'netcdf:...' / '.nc' inputs):
        # classic-NetCDF files and Zarr v2 stores open through their
        # stripe/chunk readers as the same lazy cell-table shape.
        import os as _os

        if isinstance(p, str) and p.endswith(".nc"):
            df = open_netcdf(spark, p)
        elif isinstance(p, str) and (
            p.rstrip("/").endswith(".zarr")
            or _os.path.exists(_os.path.join(p, ".zgroup"))
        ):
            df = open_zarr(spark, p)
        else:
            df = load_documents(spark, p)
        if bounds is not None:
            if not {"x", "y"}.issubset(df.columns):
                raise ValueError(
                    f"open(bounds=...) needs x/y coordinate columns; "
                    f"{p!r} has {df.columns}"
                )
            from pyspark.sql import functions as _F

            l, b, r, t = (float(v) for v in bounds)
            df = df.filter(
                (_F.col("x") >= l) & (_F.col("x") < r)
                & (_F.col("y") > b) & (_F.col("y") <= t)
            )
        return rename_bands(df, sensor=sensor, band_names=band_names)

    if stack_dim not in ("time", "band"):
        raise ValueError(
            f"stack_dim must be 'time' or 'band', got {stack_dim!r}"
        )
    # a single path is a list of one: both must null nodata the same way
    if not isinstance(path, (list, tuple)):
        path = [path]
    sources = [_one(p) for p in path]
    bands = tuple(c for c in sources[0].columns if c.startswith("band_"))
    if len(sources) == 1:
        # same semantics as the N-source stack, minus the union: nodata
        # still nulls and the time label still lands — a single source
        # must not silently skip both (load() rescales raw nodata into
        # 'valid' data otherwise)
        from pyspark.sql import functions as _F

        s = _mosaic._nullify(sources[0], nodata, bands)
        if time_names is not None:
            s = s.withColumn("t", _F.lit(time_names[0]))
        return s
    if mosaic:
        return _mosaic.mosaic(
            sources, overlap=overlap, nodata=nodata, bands=bands
        )
    if stack_dim == "band":
        # band-axis concat, NOT a spatial mosaic: each source keeps its
        # bands (suffixed per source) joined on the cell key
        return _mosaic.stack_bands(sources, nodata=nodata, bands=bands)
    return _mosaic.concat(
        sources,
        time_names=time_names,
        overlap=overlap,
        nodata=nodata,
        bands=bands,
    )


def load(
    spark,
    image_list,
    time_names,
    band_names: tuple[str, ...] | None = None,
    sensor: str | None = None,
    nodata: float = 65535,
    in_range: tuple[float, float] | None = None,
    out_range: tuple[float, float] | None = None,
):
    """``gw.load`` analogue (``core/api.py:697-830``): open a list of
    images as a time stack, null the nodata value, and linearly rescale
    ``in_range`` → ``out_range`` (defaults (0, 10000) → (0, 1), clipped,
    like the reference). Returns the lazy stacked DataFrame — the
    reference materializes to a numpy array; here the 'load' is the plan,
    and any composite (e.g. ``groupBy(cell).max``) stays distributed."""
    from pyspark.sql import functions as F

    in0, in1 = in_range or (0.0, 10000.0)
    out0, out1 = out_range or (0.0, 1.0)
    df = open(
        spark,
        list(image_list),
        time_names=list(time_names),
        band_names=band_names,
        sensor=sensor,
        nodata=float(nodata),
    )
    scale = (out1 - out0) / (in1 - in0)
    for b in [c for c in df.columns if c.startswith("band_")]:
        scaled = (F.col(b) - F.lit(in0)) * F.lit(scale) + F.lit(out0)
        clipped = F.least(F.greatest(scaled, F.lit(out0)), F.lit(out1))
        # greatest/least SKIP nulls, which would resurrect nodata as out0 —
        # guard so nulled nodata cells stay null through the rescale
        df = df.withColumn(
            b, F.when(F.col(b).isNotNull(), clipped)
        )
    return df


def lonlat_to_xy(lon, lat, zone: int, south: bool = False):
    """Reference-parity name (``conversion.py:62-93``): lon/lat degrees →
    projected x/y via the Karney TM series (:func:`crs.lonlat_to_utm`)."""
    return lonlat_to_utm(lon, lat, zone, south=south)


def xy_to_lonlat(x, y, zone: int, south: bool = False):
    """Reference-parity name (``conversion.py:94-125``)."""
    return utm_to_lonlat(x, y, zone, south=south)


# reference-API parity only: no engine caller; the public API list in
# tests/test_series_apply.py pins the name
def bounds_to_coords(bounds, zone: int, south: bool = False):
    """lon/lat bounds → native map coordinates (left, bottom, right, top)
    (``conversion.py:36-59``)."""
    left, bottom, right, top = bounds
    xl, yb = lonlat_to_utm(left, bottom, zone, south=south)
    xr_, yt = lonlat_to_utm(right, top, zone, south=south)
    return float(xl), float(yb), float(xr_), float(yt)


def sample(docs, method: str = "random", **kwargs):
    """``gw.sample`` dispatch (``core/util.py:133-263``): ``random`` /
    ``systematic`` / ``stratified`` route to the sampling operators."""
    if method == "random":
        return sample_random(docs, **kwargs)
    if method == "systematic":
        return sample_systematic(docs, **kwargs)
    if method == "stratified":
        return sample_stratified(docs, **kwargs)
    raise ValueError(f"unknown sampling method {method!r}")
