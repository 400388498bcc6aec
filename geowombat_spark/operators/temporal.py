"""Temporal aggregation — the SeriesStats family as groupBy aggregates.

Reference: ``/root/reference/src/geowombat/core/series.py:382-511``
(``SeriesStats``: amp, cv, max, mean, median, min, norm_abs_energy,
percentile_N, abs_slope_q1..q4 via lstsq, mean_abs_diff) and
``group_dates`` (``series.py:258-286``: duplicate acquisition dates →
nodata-aware mean per date).

The reference co-locates all T timesteps of a tile in one windowed read
(``core/api.py:1062-1300``); here the time series of a cell is grouped by
the cell key and every statistic is a built-in JVM aggregate — map-side
partial aggregation, one shuffle, no Python at all. Only ``mean_abs_diff``
needs sequence order and uses a sorted ``collect_list`` fold (still
JVM-side higher-order functions).

Exact formula parity (nan → NULL skipping is native to Spark aggregates):
- amp  = max - min
- cv   = stddev_pop / (mean + 1e-9)             (np.nanstd is ddof=0)
- norm_abs_energy = sum(v²) / (max² · T)
- percentile_N    = percentile(v, N/100)         (linear interpolation,
                    same as np.nanpercentile default)
- abs_slope_qK    = scale_min_max(|regr_slope(v, t_idx)| over quarter K,
                    0, 0.05, 0, 1)  — quarters split at int(0.25·T) etc.
- mean_abs_diff   = scale_min_max(mean |vₜ₊₁ - vₜ|, 0, 0.05, 0, 1)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY_COLS = ("cell_id", "row", "col", "x", "y")


def _scale_min_max(c: Column, mni: float, mxi: float, mno: float, mxo: float) -> Column:
    scaled = ((mxo - mno) * (c - mni)) / (mxi - mni) + mno
    clipped = F.least(F.greatest(scaled, F.lit(mno)), F.lit(mxo))
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(clipped)


def _quarter_bounds(n_times: int) -> list[tuple[int, int]]:
    q1, q2, q3 = int(0.25 * n_times), int(0.5 * n_times), int(0.75 * n_times)
    return [(0, q1), (q1, q2), (q2, q3), (q3, n_times)]


def series_stats(
    docs: DataFrame,
    stats: list[str],
    band: str = "band_blue",
    time_col: str = "t",
    time_names: list[str] | None = None,
    nodata: float | None = 0.0,
    key_cols: tuple[str, ...] = KEY_COLS,
) -> DataFrame:
    """Per-cell time-series statistics (one row per cell, one column per
    stat). ``stats`` accepts the reference's names, e.g.
    ``['mean','amp','cv','percentile_25','abs_slope_q1','mean_abs_diff']``.
    """
    if time_names is None:
        time_names = [r[0] for r in docs.select(time_col).distinct().orderBy(time_col).collect()]
    n_t = len(time_names)
    if n_t == 0:
        raise ValueError(
            "series_stats: no time steps (empty input or empty "
            "time_names) — nothing to aggregate"
        )
    t_idx = None
    for i, t in enumerate(time_names):
        cond = F.col(time_col) == t
        t_idx = F.when(cond, i) if t_idx is None else t_idx.when(cond, i)
    t_idx = t_idx.cast("double")

    v = F.col(band).cast("double")
    if nodata is not None:
        v = F.nullif(v, F.lit(float(nodata)))

    # rows whose t is NOT in time_names (possible only with an explicit
    # caller list) are excluded from EVERY stat: without this filter they
    # would pollute the unordered aggregates (mean/max/percentile/
    # mean_abs_diff) while the quarter-indexed slopes and the
    # norm_abs_energy 1/T factor exclude them — silently inconsistent
    # statistics. Matches series_apply, which masks ti<0 out of the cube.
    src = docs.select(*key_cols, t_idx.alias("_ti"), v.alias("_v")).filter(
        F.col("_ti").isNotNull()
    )
    aggs = []
    for stat in stats:
        if stat == "mean":
            aggs.append(F.avg("_v").alias("mean"))
        elif stat == "max":
            aggs.append(F.max("_v").alias("max"))
        elif stat == "min":
            aggs.append(F.min("_v").alias("min"))
        elif stat == "amp":
            aggs.append((F.max("_v") - F.min("_v")).alias("amp"))
        elif stat == "cv":
            aggs.append((F.stddev_pop("_v") / (F.avg("_v") + F.lit(1e-9))).alias("cv"))
        elif stat == "median":
            aggs.append(F.percentile("_v", F.lit(0.5)).alias("median"))
        elif stat.startswith("percentile_"):
            p = float(stat.split("_")[1]) / 100.0
            aggs.append(F.percentile("_v", F.lit(p)).alias(stat))
        elif stat == "norm_abs_energy":
            aggs.append(
                (F.sum(F.col("_v") * F.col("_v")) / (F.max("_v") * F.max("_v") * F.lit(float(n_t)))).alias(stat)
            )
        elif stat.startswith("abs_slope_q"):
            # DOCUMENTED DEVIATION: regr_slope skips NULL (nodata) pairs
            # and returns NULL when a quarter has < 2 valid samples; the
            # reference's lstsq lets one NaN poison the quarter's slope
            # to NaN and then forces it to 0.0. Skipping nodata keeps
            # the trend of the remaining samples (correctness over bug
            # parity); all-/near-empty quarters stay NULL, not fake 0.
            q = int(stat[-1]) - 1
            lo, hi = _quarter_bounds(n_t)[q]
            in_q = (F.col("_ti") >= lo) & (F.col("_ti") < hi)
            slope = F.regr_slope(
                F.when(in_q, F.col("_v")), F.when(in_q, F.col("_ti"))
            )
            aggs.append(_scale_min_max(F.abs(slope), 0.0, 0.05, 0.0, 1.0).alias(stat))
        elif stat == "mean_abs_diff":
            # ordered fold over the (t, v) series — JVM higher-order fns
            arr = F.array_sort(
                F.collect_list(F.struct(F.col("_ti").alias("t"), F.col("_v").alias("v")))
            )
            diffs = F.zip_with(
                F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
                F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                lambda a, b: F.abs(b["v"] - a["v"]),
            )
            # nanmean semantics (reference parity, and what the DuckDB
            # oracle's `WHERE d IS NOT NULL` computes): a diff touching a
            # nodata sample is SKIPPED, it must not poison the fold to
            # NULL nor inflate the denominator
            valid_d = F.filter(diffs, lambda d: d.isNotNull())
            mad = F.when(
                F.size(valid_d) > 0,
                F.aggregate(valid_d, F.lit(0.0), lambda acc, d: acc + d)
                / F.size(valid_d),
            )
            aggs.append(_scale_min_max(mad, 0.0, 0.05, 0.0, 1.0).alias(stat))
        else:
            raise ValueError(f"unknown stat {stat}")
    return src.groupBy(*key_cols).agg(*aggs)


class TimeModule:
    """User time-series kernel protocol (``core/series.py:289-345``).

    Subclass and implement ``calculate(cube) -> array[C, N]`` (or ``[N]``
    for ``count == 1``) over the dense ``[T, N]`` time cube of one tile —
    the tabular form of the reference's ``[T, B, H, W]`` block. ``count``
    and ``out_names`` declare the output columns; ``module_a + module_b``
    composes a :class:`TimeModulePipeline`, like the reference's
    ``__add__``. Run with ``series_apply(docs, module)``.
    """

    count: int = 1
    out_names: tuple[str, ...] | None = None

    def calculate(self, data):
        raise NotImplementedError

    def _names(self) -> tuple[str, ...]:
        if self.out_names is not None:
            return tuple(self.out_names)
        base = type(self).__name__.lower()
        if self.count == 1:
            return (base,)
        return tuple(f"{base}_{i}" for i in range(self.count))

    def __add__(self, other):
        if isinstance(other, TimeModulePipeline):
            return TimeModulePipeline([self] + other.modules)
        return TimeModulePipeline([self, other])


class TimeModulePipeline:
    """Concatenation of :class:`TimeModule` outputs (``series.py:347-379``):
    every module sees the SAME input cube; results stack as extra output
    columns — so a pipeline still runs in the one tile-keyed shuffle of
    ``series_apply``."""

    def __init__(self, modules: list[TimeModule]):
        self.modules = list(modules)
        self.count = sum(m.count for m in self.modules)

    def _names(self) -> tuple[str, ...]:
        names: list[str] = []
        for i, m in enumerate(self.modules):
            names.extend(f"m{i}_{n}" if n in names else n for n in m._names())
        return tuple(names)

    def __add__(self, other):
        if isinstance(other, TimeModulePipeline):
            return TimeModulePipeline(self.modules + other.modules)
        return TimeModulePipeline(self.modules + [other])

    def calculate(self, data):
        import numpy as np

        outs = []
        for m in self.modules:
            res = np.asarray(m.calculate(data), dtype=np.float64)
            outs.append(res[None, :] if res.ndim == 1 else res)
        return np.vstack(outs)


def series_apply(
    docs: DataFrame,
    kernel,
    out_names: tuple[str, ...] | None = None,
    band: str = "band_blue",
    time_col: str = "t",
    group_col: str = "tile_id",
    time_names: list | None = None,
) -> DataFrame:
    """TimeModule protocol: a user numpy kernel over the co-located time
    cube of each tile (``core/series.py:289-379``; windowed reader
    ``core/api.py:1062-1300``).

    ``kernel(cube, times) -> array[C, N]`` where ``cube`` is the dense
    ``[T, N]`` float64 array of one tile's cells (N cells, T sorted
    timesteps, NaN where a (t, cell) sample is missing) — the tabular form
    of the reference's ``array[T, B, H, W]`` (H×W flattens to N; run one
    band per call, compose bands like ``TimeModulePipeline`` composes
    modules). Output C rows per declared ``out_names`` column.

    Spark shape: ``groupBy(tile_id).applyInPandas`` — all T timesteps of a
    tile are co-located by the one shuffle, then the kernel is a single
    vectorized numpy call per tile.

    ``kernel`` may also be a :class:`TimeModule` / :class:`TimeModulePipeline`
    instance — its ``calculate`` runs on the cube and ``out_names`` defaults
    to the module's declared names.
    """
    import numpy as np
    import pandas as pd

    if isinstance(kernel, (TimeModule, TimeModulePipeline)):
        module = kernel
        out_names = tuple(out_names) if out_names else module._names()

        def kernel(cube, times, _m=module):  # noqa: F811
            res = np.asarray(_m.calculate(cube), dtype=np.float64)
            return res[None, :] if res.ndim == 1 else res

    if not out_names:
        raise ValueError("out_names required for a bare-callable kernel")
    out_schema = "row bigint, col bigint" + "".join(
        f", {n} double" for n in out_names
    )
    # GLOBAL time axis, fixed for every tile (the reference windows one
    # [T, ...] cube for the whole stack): deriving T per tile would give
    # tiles missing an acquisition a shorter cube, and any T-dependent
    # kernel (quarter bounds, norm energy) would disagree across seams.
    if time_names is None:
        time_names = [
            r[0]
            for r in docs.select(time_col).distinct().orderBy(time_col).collect()
        ]
    # honor the caller's axis order (series_stats does the same via
    # enumerate): re-sorting would silently shuffle a chronological list
    # that isn't lexicographic ('2020-9' > '2020-10'); the inferred path
    # above is already sorted by the orderBy
    times_global = np.asarray(time_names)

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        times = times_global
        # Direct [T, N] cube build over the OBSERVED (row, col) cells:
        # a cell whose series is all-NaN stays (the reference computes
        # over every pixel of the block). Neither pivot_table default
        # (drops all-NaN index rows) nor dropna=False (explodes the
        # index to the row×col cartesian product) gives that.
        r_arr = pdf["row"].to_numpy(np.int64)
        c_arr = pdf["col"].to_numpy(np.int64)
        # loud guard (matching the netcdf/zarr writers): the packed key
        # row*2^32+col is only injective for 0 <= row, col < 2^31 — a
        # negative col would silently collide (row, -1) with
        # (row-1, 2^32-1) and merge two cells' series
        if (
            (r_arr < 0).any()
            or (c_arr < 0).any()
            or (r_arr >= 2**31).any()
            or (c_arr >= 2**32).any()
        ):
            raise ValueError(
                "series_apply: row/col outside [0, 2^31)/[0, 2^32) — "
                "negative or unclamped coordinates? clip the input first"
            )
        k = r_arr * 4294967296 + c_arr
        ci, uk = pd.factorize(k, sort=True)
        ti = pd.Categorical(pdf[time_col], categories=list(times)).codes
        cube = np.full((len(times), len(uk)), np.nan)
        vals = pdf[band].astype("float64").to_numpy()
        ok = ti >= 0
        # reversed assignment keeps the FIRST occurrence of a duplicate
        # (t, cell) sample, matching the old aggfunc="first"
        cube[ti[ok][::-1], ci[ok][::-1]] = vals[ok][::-1]
        out = np.asarray(kernel(cube, times), dtype=np.float64)  # [C, N]
        uk = np.asarray(uk, dtype=np.int64)
        res = pd.DataFrame(
            {"row": uk // 4294967296, "col": uk % 4294967296}
        )
        for i, name in enumerate(out_names):
            res[name] = out[i]
        return res

    return docs.groupBy(group_col).applyInPandas(fn, out_schema)


def apply_blocks(docs: DataFrame, fn, out_schema: str) -> DataFrame:
    """``gw.apply`` analogue (``core/io.py:1377-1509``): stream the table
    through a user batch function — ``mapInPandas`` over Arrow batches, one
    job, no driver round-trip. ``fn(pdf) -> pdf`` per batch."""

    def gen(it):
        for pdf in it:
            yield fn(pdf)

    return docs.mapInPandas(gen, out_schema)


def group_dates(
    docs: DataFrame,
    band: str = "band_blue",
    date_col: str = "t",
    nodata: float | None = 0.0,
    key_cols: tuple[str, ...] = KEY_COLS,
) -> DataFrame:
    """Duplicate acquisition dates → nodata-aware mean per date
    (``series.py:258-286``)."""
    v = F.col(band).cast("double")
    if nodata is not None:
        v = F.nullif(v, F.lit(float(nodata)))
    return docs.groupBy(date_col, *key_cols).agg(F.avg(v).alias(band))
