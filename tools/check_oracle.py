"""Side-by-side driver-gate simulator: run each __spark_entry__ query on
Spark AND its DuckDB oracle at a given SF, compare row-count, schema shape,
and exact values (columns sorted by name, rows canonically sorted).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# this checkout, wherever it lives (an A/B copy checks its own code)
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from geowombat_spark.sources.tables import TESTDATA_TABLES, get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints → int64, floats → float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        problems.append(f"rowcount spark={len(a)} oracle={len(b)}")
    ca, cb = sorted(a.columns), sorted(b.columns)
    if ca != cb:
        problems.append(f"columns spark={ca} oracle={cb}")
        return problems
    if problems:
        return problems
    a, b = canon(a), canon(b)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av = a[c].astype("float64").values
            bv = b[c].astype("float64").values
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = pd.Series(av).eq(pd.Series(bv)) | (
                pd.Series(av).isna() & pd.Series(bv).isna()
            )
            eq = eq.values
        if not eq.all():
            bad = int((~eq).sum())
            i = int(np.argmax(~eq))
            problems.append(
                f"col {c}: {bad} diffs, first at row {i}: "
                f"spark={av[i]!r} oracle={bv[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app="check-oracle", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e).splitlines()[0][:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0][:300]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    spark.stop()
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
