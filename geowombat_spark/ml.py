"""Distributed raster classification — ``gw.ml`` fit / predict / fit_predict.

Reference: ``/root/reference/src/geowombat/ml/classifiers.py:296-600`` —
``Classifiers.fit`` rasterizes polygon labels onto the grid, reshapes the
raster to (sample, band) and fits a driver-side sklearn pipeline via
sklearn-xarray; ``predict`` maps the fitted pipeline back over the chunks.
The torch variants (``ml/dl_classifiers.py``) are external-model wrappers,
out of scope.

Spark shape: labels burn onto the grid as the painted run table of
``operators/rasterize.polygon_to_array``, which **broadcast-joins** to the
corpus through ``sops.join_runs`` — no corpus shuffle — and the
estimator is any ``pyspark.ml`` estimator, trained distributed by MLlib
inside a ``Pipeline(VectorAssembler → estimator)``. ``predict`` is pure
``model.transform`` (Column pipeline), so inference runs as one map stage
over the corpus with no driver materialization — the piece that must hold
at 100 TB. Unsupervised estimators (no ``labelCol`` param, e.g. KMeans)
skip the label join, mirroring the reference's ``_is_unsupervised``
dispatch (``classifiers.py:16-56``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .grid import GridSpec

_DROP_COLS = ("features", "rawPrediction", "probability")


def _is_unsupervised(clf) -> bool:
    """No labelCol param ⇒ unsupervised (``classifiers.py:16-56``)."""
    return not clf.hasParam("labelCol")


def fit(
    spark: SparkSession,
    docs: DataFrame,
    grid: GridSpec,
    clf,
    labels: pd.DataFrame | None = None,
    col: str | None = None,
    bands: tuple[str, ...] = ("band_blue", "band_green", "band_red"),
    targ_name: str = "targ",
    all_touched: bool = False,
):
    """Fit ``clf`` (any pyspark.ml estimator) on cells covered by the label
    polygons (``classifiers.py:297-404``).

    ``labels`` is the polygon frame ``polygon_to_array`` accepts (``fid`` +
    ``rings``); ``col`` selects the per-feature class value, else a binary
    raster is burned (reference ``col=None`` behavior). Returns the fitted
    ``PipelineModel``.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler

    # handleInvalid='skip': the engine's canonical nodata representation
    # is NULL (functions/nodata.py mask_nodata), and the assembler's
    # default 'error' would crash MLlib on the first nodata pixel of any
    # masked corpus. 'skip' drops nodata cells from training and from
    # prediction output — the reference equivalently fits/predicts only
    # on valid samples (classifiers.py:297-404 nan filtering).
    assembler = VectorAssembler(
        inputCols=list(bands), outputCol="features", handleInvalid="skip"
    )
    est = clf.copy()
    est.set(est.getParam("featuresCol"), "features")

    if _is_unsupervised(est):
        train = docs
    else:
        if labels is None:
            raise ValueError("supervised estimator requires label polygons")
        from .operators.rasterize import burn_runs
        from .operators.sops import join_runs

        # a NaN burn value is no label: its runs drop AFTER the overlap is
        # resolved, so a later NaN feature still unlabels what it covers
        lab, _ = burn_runs(labels, grid, col=col, all_touched=all_touched)
        lab = lab[~np.isnan(lab["value"])].rename(columns={"value": targ_name})
        train = join_runs(docs, lab, f"`{targ_name}` double", "inner")
        if not train.limit(1).count():
            # an empty label∩corpus join otherwise dies deep inside MLlib
            # ("Nothing has been added to this summarizer") with no hint
            raise ValueError(
                "fit: no corpus cells fall under the label polygons — "
                "check the label CRS/extent against the grid"
            )
        est.set(est.getParam("labelCol"), targ_name)

    return Pipeline(stages=[assembler, est]).fit(train)


def predict(
    docs: DataFrame, model, out: str = "pred"
) -> DataFrame:
    """Apply a fitted model over the corpus (``classifiers.py:405-507``):
    one map stage, prediction as a column, intermediate vector columns
    dropped."""
    pred = model.transform(docs)
    drop = [c for c in _DROP_COLS if c in pred.columns]
    # read the model's ACTUAL prediction column: an estimator with a
    # customized predictionCol would make a hardcoded rename silently
    # no-op and the promised `out` column never exist
    pcol = "prediction"
    try:
        pcol = model.stages[-1].getOrDefault("predictionCol")
    except Exception:
        pass
    return pred.withColumnRenamed(pcol, out).drop(*drop)


def fit_predict(
    spark: SparkSession,
    docs: DataFrame,
    grid: GridSpec,
    clf,
    labels: pd.DataFrame | None = None,
    col: str | None = None,
    bands: tuple[str, ...] = ("band_blue", "band_green", "band_red"),
    targ_name: str = "targ",
    out: str = "pred",
    all_touched: bool = False,
) -> DataFrame:
    """``fit`` then ``predict`` over the full corpus
    (``classifiers.py:508-600``)."""
    model = fit(
        spark, docs, grid, clf,
        labels=labels, col=col, bands=bands,
        targ_name=targ_name, all_touched=all_touched,
    )
    return predict(docs, model, out=out)
