"""Sources & session helpers.

The engine's storage layout is a **tile-partitioned table**: one parquet
partition per ``tile_id`` (the analogue of the reference's chunk grid,
``src/geowombat/core/properties.py:850-876``, and of its per-window output
files, ``src/geowombat/backends/rasterio_.py:131-135``). Partitioning on the
tile key is what makes bbox queries partition-pruned scans and what gives the
resume path a stable unit. With an Iceberg runtime jar this becomes
``writeTo(...).append()`` on a table partitioned by ``tile_id`` — the layout
and semantics are identical; the sandbox has no Iceberg jar, so the parquet
shim is used and recorded (SURVEY.md §7).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def get_spark(
    app: str = "geowombat_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra: dict | None = None,
) -> SparkSession:
    """SparkSession tuned for the engine.

    AQE on (runtime coalescing + skew-join splitting — the adaptive half of
    the skew story; the proactive half is salted repartitioning in
    ``plans/checkpoint.py``), Arrow on (the kernels that still run in
    Python — ANN matmuls, FFTs, the per-tile union-find — are
    Arrow-batched pandas UDFs; ``createDataFrame``/``toPandas`` use it
    too).
    """
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master:
        b = b.master(master)
    if extra:
        for k, v in extra.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    deployment mode, self-served): UDF closures reference module functions
    pickled by reference, so Python workers must be able to import
    ``geowombat_spark`` no matter the driver's cwd."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                sources.append(f"{full}:{os.path.getmtime(full)}")
    digest = hashlib.md5("\n".join(sorted(sources)).encode()).hexdigest()[:12]
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"geowombat_spark_pkg_{digest}.zip"
    )
    if not os.path.exists(zip_path):
        # per-process temp: two drivers starting concurrently (same source
        # mtimes → same digest) must not interleave writes into one shared
        # .tmp and publish a corrupted zip both sessions then ship
        tmp = f"{zip_path}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def write_tiled_parquet(
    table: pa.Table, path: str, partition_cols: list[str] = ("tile_id",)
) -> None:
    """Write a corpus as a tile-partitioned parquet dataset (the Iceberg-shim
    layout: file-per-tile = the reference's file-per-window resume unit)."""
    papq.write_to_dataset(
        table,
        root_path=path,
        partition_cols=list(partition_cols),
    )


def load_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read the tile-partitioned corpus. ``tile_id`` comes back as a
    partition column, so ``WHERE tile_id IN (...)`` prunes directories
    before any row is read. A plain parquet file (no partition dirs) reads
    without the basePath pin, which Spark requires to be a directory."""
    import os

    if os.path.isdir(path):
        return spark.read.option("basePath", path).parquet(path)
    return spark.read.parquet(path)


def corpus_df(spark: SparkSession, table: pa.Table, tmp_path: str) -> DataFrame:
    """Materialize a pyarrow corpus through the tiled layout and read it back
    (tests exercise the same scan path production uses)."""
    write_tiled_parquet(table, tmp_path)
    return load_documents(spark, tmp_path)

