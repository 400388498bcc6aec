"""STAC-shaped static catalog → ``gw.open`` stack assembly.

Reference: ``/root/reference/src/geowombat/core/stac.py:347-828``
(``open_stac``): search a STAC catalog for a collection within bounds and
a date range, pick bands, and stack the matching items along time
(``merge_stac`` :284-334 mosaics overlapping items). The reference talks
to a network catalog; SURVEY §2.1 declares the network connector out of
scope, so this module covers the *shape* with a static JSON catalog — the
search → filter → sorted-stack planning is identical, and swapping the
catalog loader for a pystac-client call is one function.

Catalog format (a pared-down STAC ItemCollection):

    {"collections": {
        "<name>": {"items": [
            {"id": "...", "datetime": "YYYY-MM-DD",
             "bbox": [minx, miny, maxx, maxy],
             "href": "/path/to/table.parquet",
             "properties": {...}},
        ...]}}}

Search is pure driver-side metadata work (the item list is small); the
result feeds ``api.open(spark, [hrefs], time_names=...)`` — a lazy
concat-stack plan whose scan cost is unchanged by this layer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def load_catalog(path: str) -> dict:
    """Load a static JSON catalog (no network)."""
    with open(path) as f:
        cat = json.load(f)
    if "collections" not in cat:
        raise ValueError(f"{path} is not a catalog (no 'collections' key)")
    return cat


def _bbox_intersects(a, b) -> bool:
    # strict < : boundary CONTACT counts as intersecting (STAC/shapely
    # `intersects` semantics — an AOI sitting exactly on a scene edge
    # must still return the adjacent scene)
    return not (
        a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1]
    )


def search_catalog(
    catalog: dict | str,
    collection: str,
    bounds: tuple[float, float, float, float] | None = None,
    date_range: tuple[str, str] | None = None,
) -> list[dict]:
    """``open_stac``'s search step (``stac.py:440-520`` shape): items of
    ``collection`` intersecting ``bounds`` within ``date_range``
    (inclusive ISO dates), sorted by (datetime, id) — the deterministic
    stack order."""
    if isinstance(catalog, str):
        catalog = load_catalog(catalog)
    try:
        items = catalog["collections"][collection]["items"]
    except KeyError:
        raise KeyError(
            f"collection {collection!r} not in catalog "
            f"(have {sorted(catalog['collections'])})"
        ) from None
    out = []
    for it in items:
        if bounds is not None and not _bbox_intersects(
            tuple(it["bbox"]), tuple(bounds)
        ):
            continue
        if date_range is not None and not (
            # the start keeps the caller's time component; the end is
            # inclusive at its own precision: an item datetime
            # ('2020-01-31T10:00:00') must not fall off an end DATE
            # ('2020-01-31') by raw string comparison
            date_range[0] <= it["datetime"]
            and it["datetime"][: len(date_range[1])] <= date_range[1]
        ):
            continue
        out.append(it)
    return sorted(out, key=lambda it: (it["datetime"], it["id"]))


def open_stac(
    spark: SparkSession,
    catalog: dict | str,
    collection: str,
    bounds: tuple[float, float, float, float] | None = None,
    date_range: tuple[str, str] | None = None,
    band_names: tuple[str, ...] | None = None,
    sensor: str | None = None,
    mosaic: bool = False,
) -> DataFrame:
    """Catalog search → time stack, the ``open_stac`` end-to-end shape
    (``stac.py:347-828``): matched item hrefs feed :func:`api.open` as a
    list with the item datetimes as ``time_names`` (or a spatial mosaic
    with ``mosaic=True``). Missing hrefs raise before any job runs."""
    from .. import api

    items = search_catalog(catalog, collection, bounds, date_range)
    if not items:
        raise ValueError(
            f"no items matched collection={collection!r} "
            f"bounds={bounds} date_range={date_range}"
        )
    missing = [it["href"] for it in items if not os.path.exists(it["href"])]
    if missing:
        raise FileNotFoundError(f"catalog hrefs missing on disk: {missing}")
    return api.open(
        spark,
        [it["href"] for it in items],
        time_names=[it["datetime"] for it in items],
        band_names=band_names,
        sensor=sensor,
        mosaic=mosaic,
    )
