"""STAC-shaped static catalog shim (sources/manifest.py; reference
core/stac.py:347-828 open_stac search→stack shape)."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from geowombat_spark.fixtures import build_corpus
from geowombat_spark.sources.manifest import (
    load_catalog,
    open_stac,
    search_catalog,
)
from geowombat_spark.sources.tables import write_tiled_parquet


@pytest.fixture(scope="module")
def catalog_dir(spark):
    d = tempfile.mkdtemp(prefix="gw_stac_")
    win = [(0, 16, 0, 16)]
    items = {"a": [], "b": []}
    for coll, dates, off in (
        ("a", ("2024-01-05", "2024-02-05"), 10),
        ("b", ("2024-01-20",), 50),
    ):
        for i, dt in enumerate(dates):
            href = os.path.join(d, f"{coll}_{i}")
            tbl = build_corpus(
                windows=win, times=(f"t{i}",), value_offset_per_time=0
            )
            write_tiled_parquet(tbl, href)
            items[coll].append(
                {
                    "id": f"{coll}-{i}",
                    "datetime": dt,
                    "bbox": [0.0, -480.0, 480.0, 0.0],
                    "href": href,
                }
            )
    # an item outside the search bbox
    items["a"].append(
        {
            "id": "a-far",
            "datetime": "2024-01-10",
            "bbox": [10_000.0, -10_480.0, 10_480.0, -10_000.0],
            "href": os.path.join(d, "a_0"),
        }
    )
    cat_path = os.path.join(d, "catalog.json")
    with open(cat_path, "w") as f:
        json.dump({"collections": {k: {"items": v} for k, v in items.items()}}, f)
    yield cat_path
    shutil.rmtree(d, ignore_errors=True)


def test_search_filters_and_sorts(catalog_dir):
    cat = load_catalog(catalog_dir)
    got = search_catalog(cat, "a")
    assert [it["id"] for it in got] == ["a-0", "a-far", "a-1"]  # date order
    got = search_catalog(cat, "a", bounds=(0, -480, 480, 0))
    assert [it["id"] for it in got] == ["a-0", "a-1"]  # bbox pruned a-far
    got = search_catalog(
        cat, "a", bounds=(0, -480, 480, 0), date_range=("2024-01-01", "2024-01-31")
    )
    assert [it["id"] for it in got] == ["a-0"]
    with pytest.raises(KeyError, match="collection"):
        search_catalog(cat, "nope")


def test_open_stac_two_collection_stack(spark, catalog_dir):
    """The reference's catalog-search → time-stack shape through gw.open:
    items from two collections stack along t, labeled by item datetime."""
    cat = load_catalog(catalog_dir)
    both = {
        "collections": {
            "all": {
                "items": cat["collections"]["a"]["items"][:2]
                + cat["collections"]["b"]["items"]
            }
        }
    }
    df = open_stac(spark, both, "all", bounds=(0.0, -480.0, 480.0, 0.0))
    ts = [r["t"] for r in df.select("t").distinct().orderBy("t").collect()]
    assert ts == ["2024-01-05", "2024-01-20", "2024-02-05"]
    per_t = df.groupBy("t").count().collect()
    assert len({r["count"] for r in per_t}) == 1  # same cells per layer


def test_open_stac_no_match_and_missing_href(spark, catalog_dir):
    cat = load_catalog(catalog_dir)
    with pytest.raises(ValueError, match="no items"):
        open_stac(spark, cat, "a", date_range=("1999-01-01", "1999-12-31"))
    broken = json.loads(json.dumps(cat))
    broken["collections"]["a"]["items"][0]["href"] = "/nonexistent/x"
    with pytest.raises(FileNotFoundError):
        open_stac(spark, broken, "a")


def test_search_boundary_contact_and_datetime_items(catalog_dir):
    """STAC `intersects` semantics: an AOI touching a scene's edge still
    matches (strict-inequality disjointness); items whose datetime
    carries a time component stay inside an inclusive date range."""
    cat = load_catalog(catalog_dir)
    # AOI sharing only the x=480 edge with the [0,-480,480,0] scenes
    got = search_catalog(cat, "a", bounds=(480.0, -480.0, 900.0, 0.0))
    assert [it["id"] for it in got] == ["a-0", "a-1"]
    # datetime with a time part on the range's end date is still included
    cat2 = {
        "collections": {
            "c": {
                "items": [
                    {
                        "id": "x",
                        "datetime": "2024-01-31T10:00:00",
                        "bbox": [0.0, -480.0, 480.0, 0.0],
                        "href": "unused",
                    }
                ]
            }
        }
    }
    got2 = search_catalog(cat2, "c", date_range=("2024-01-01", "2024-01-31"))
    assert [it["id"] for it in got2] == ["x"]
    # a start with a time component keeps it: 10:00 falls before a 12:00
    # start, 13:00 does not
    item = cat2["collections"]["c"]["items"][0]
    cat3 = {
        "collections": {
            "c": {
                "items": [
                    dict(item, id="early", datetime="2020-01-31T10:00"),
                    dict(item, id="late", datetime="2020-01-31T13:00"),
                ]
            }
        }
    }
    got3 = search_catalog(
        cat3, "c", date_range=("2020-01-31T12:00", "2020-01-31")
    )
    assert [it["id"] for it in got3] == ["late"]
