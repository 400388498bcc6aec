"""Band math / vegetation indices — pure Column expressions.

Reference: ``/root/reference/src/geowombat/core/vi.py``. Every index shares
the scaffold ``scale_and_assign`` (float cast, × scale_factor,
``vi.py:38-69``) + ``mask_and_assign`` (re-impose nodata where a source band
equals nodata, clip to the index's dynamic range, ``vi.py:71-155``).

Here that scaffold is :func:`_finish`: inputs are scaled Columns, nodata →
NULL, result clipped with least/greatest. Everything stays inside
whole-stage codegen — zero Python on the hot path. A zero denominator
gives NULL (``try_divide``), not an ANSI ``DIVIDE_BY_ZERO``. Golden
semantics ported from ``tests/test_vi.py:30-133``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(df: DataFrame, band: str, scale_factor: float, nodata: float | None) -> Column:
    c = F.col(band).cast("double")
    if nodata is not None:
        c = F.nullif(c, F.lit(float(nodata)))
    if scale_factor != 1.0:
        c = c * F.lit(float(scale_factor))
    return c


def _clip(c: Column, lo: float, hi: float) -> Column:
    # greatest/least skip NULLs and order NaN ABOVE every number, so clip
    # must explicitly preserve both: a NULL must stay NULL (nodata
    # propagation, vi.py:71-155 mask_and_assign semantics) and a NaN must
    # stay NaN (numpy clip keeps NaN) — otherwise e.g. avi's
    # pow(negative, 0.3334) = NaN would clip to the UPPER bound and every
    # water/shadow pixel would read as maximum vegetation
    clipped = F.least(F.greatest(c, F.lit(float(lo))), F.lit(float(hi)))
    return F.when(c.isNull() | F.isnan(c), c).otherwise(clipped)


def norm_diff(
    df: DataFrame,
    b1: str,
    b2: str,
    out: str = "norm_diff",
    nodata: float | None = None,
    scale_factor: float = 1.0,
) -> DataFrame:
    """(b2 - b1) / (b2 + b1), clipped to [-1, 1] (``vi.py:157-228``);
    NULL where the denominator is 0."""
    c1 = _scaled(df, b1, scale_factor, nodata)
    c2 = _scaled(df, b2, scale_factor, nodata)
    return df.withColumn(out, _clip(F.try_divide(c2 - c1, c2 + c1), -1, 1))


def ndvi(df, red: str, nir: str, out: str = "ndvi", **kw) -> DataFrame:
    """norm_diff(red, nir) (``vi.py:580-614``)."""
    return norm_diff(df, red, nir, out=out, **kw)


def nbr(df, nir: str, swir2: str, out: str = "nbr", **kw) -> DataFrame:
    """norm_diff(swir2, nir) (``vi.py:545-578``)."""
    return norm_diff(df, swir2, nir, out=out, **kw)


def kndvi(df, red: str, nir: str, out: str = "kndvi", nodata=None, scale_factor=1.0) -> DataFrame:
    """tanh(ndvi²) (``vi.py:615-677``)."""
    r = _scaled(df, red, scale_factor, nodata)
    n = _scaled(df, nir, scale_factor, nodata)
    nd = _clip(F.try_divide(n - r, n + r), -1, 1)
    return df.withColumn(out, _clip(F.tanh(nd * nd), -1, 1))


def avi(df, red: str, nir: str, out: str = "avi", nodata=None, scale_factor=1.0) -> DataFrame:
    """(nir·(1-red)·(nir-red))^0.3334, clipped [0,1] (``vi.py:230-309``)."""
    r = _scaled(df, red, scale_factor, nodata)
    n = _scaled(df, nir, scale_factor, nodata)
    return df.withColumn(out, _clip(F.pow(n * (1.0 - r) * (n - r), 0.3334), 0, 1))


def evi(df, blue: str, red: str, nir: str, out: str = "evi", nodata=None, scale_factor=1.0) -> DataFrame:
    """2.5(nir-red)/(nir+6red-7.5blue+1), clipped [0,1] (``vi.py:311-402``)."""
    b = _scaled(df, blue, scale_factor, nodata)
    r = _scaled(df, red, scale_factor, nodata)
    n = _scaled(df, nir, scale_factor, nodata)
    return df.withColumn(out, _clip(F.try_divide(2.5 * (n - r), n + 6.0 * r - 7.5 * b + 1.0), 0, 1))


def evi2(df, red: str, nir: str, out: str = "evi2", nodata=None, scale_factor=1.0) -> DataFrame:
    """2.5(nir-red)/(nir+1+2.4red), clipped [0,1] (``vi.py:404-489``)."""
    r = _scaled(df, red, scale_factor, nodata)
    n = _scaled(df, nir, scale_factor, nodata)
    return df.withColumn(out, _clip(2.5 * F.try_divide(n - r, n + 1.0 + 2.4 * r), 0, 1))


def gcvi(df, green: str, nir: str, out: str = "gcvi", nodata=None, scale_factor=1.0, norm: bool = False) -> DataFrame:
    """nir/green - 1, clipped [0,10]; norm=True ⇒ /10 (``vi.py:490-543``)."""
    g = _scaled(df, green, scale_factor, nodata)
    n = _scaled(df, nir, scale_factor, nodata)
    c = _clip(F.try_divide(n, g) - 1.0, 0, 10)
    if norm:
        c = c / 10.0
    return df.withColumn(out, c)


def wi(df, red: str, swir1: str, out: str = "wi", nodata=None, scale_factor=1.0) -> DataFrame:
    """r=red+swir1; r>0.5 ? 0 : 1-r/0.5, clipped [0,1] (``vi.py:678-736``)."""
    r = _scaled(df, red, scale_factor, nodata) + _scaled(df, swir1, scale_factor, nodata)
    return df.withColumn(out, _clip(F.when(r > 0.5, F.lit(0.0)).otherwise(1.0 - r / 0.5), 0, 1))


# Published tasseled-cap coefficients (Crist & Cicone 1985 lineage; table as
# catalogued in the reference LUT, ``vi.py:766-887``). Landsat-8 / 7 / 5
# rows are (brightness, greenness, wetness) per band in sensor band order.
TASSELED_CAP_COEFFS = {
    "l8": {
        "bands": ["blue", "green", "red", "nir", "swir1", "swir2"],
        "brightness": [0.3029, 0.2786, 0.4733, 0.5599, 0.508, 0.1872],
        "greenness": [-0.2941, -0.243, -0.5424, 0.7276, 0.0713, -0.1608],
        "wetness": [0.1511, 0.1973, 0.3283, 0.3407, -0.7117, -0.4559],
    },
    "l7": {
        "bands": ["blue", "green", "red", "nir", "swir1", "swir2"],
        "brightness": [0.3561, 0.3972, 0.3904, 0.6966, 0.2286, 0.1596],
        "greenness": [-0.3344, -0.3544, -0.4556, 0.6966, -0.0242, -0.263],
        "wetness": [0.2626, 0.2141, 0.0926, 0.0656, -0.7629, -0.5388],
    },
    "l5": {
        "bands": ["blue", "green", "red", "nir", "swir1", "swir2"],
        "brightness": [0.3037, 0.2793, 0.4343, 0.5585, 0.5082, 0.1863],
        "greenness": [-0.2848, -0.2435, -0.5436, 0.7243, 0.084, -0.18],
        "wetness": [0.1509, 0.1793, 0.3299, 0.3406, -0.7112, -0.4572],
    },
}


def tasseled_cap(
    df: DataFrame,
    band_cols: dict[str, str],
    sensor: str = "l8",
    nodata: float | None = None,
    scale_factor: float = 1.0,
) -> DataFrame:
    """Sensor-specific linear transform (``vi.py:766-964``): three literal
    dot products — constant-folded by Catalyst. ``band_cols`` maps sensor
    band name → DataFrame column."""
    lut = TASSELED_CAP_COEFFS[sensor]
    cols = [_scaled(df, band_cols[b], scale_factor, nodata) for b in lut["bands"]]
    for comp in ("brightness", "greenness", "wetness"):
        expr = None
        for coef, c in zip(lut[comp], cols):
            term = c * F.lit(coef)
            expr = term if expr is None else expr + term
        df = df.withColumn(comp, expr)
    return df


def linear_transform(df, bands: list[str], scale: float, offset: float) -> DataFrame:
    """Per-band scale+offset (``vi.py:737-766``)."""
    for b in bands:
        df = df.withColumn(b, F.col(b) * F.lit(float(scale)) + F.lit(float(offset)))
    return df


_CMP = {
    "lt": lambda c, v: c < v,
    "le": lambda c, v: c <= v,
    "gt": lambda c, v: c > v,
    "ge": lambda c, v: c >= v,
    "eq": lambda c, v: c == v,
    "ne": lambda c, v: c != v,
}


def compare(df, band: str, op: str, value: float, return_binary: bool = False, out: str | None = None) -> DataFrame:
    """value-or-NULL comparison, optional binary output
    (``src/geowombat/core/geoxarray.py:282-327``)."""
    out = out or band
    pred = _CMP[op](F.col(band), F.lit(float(value)))
    expr = (
        F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
        if return_binary
        else F.when(pred, F.col(band)).otherwise(F.lit(None))
    )
    return df.withColumn(out, expr)
