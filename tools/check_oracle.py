"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, compares row count,
column names, and order-insensitive values (sorted rows, exact match for
ints/strings, exact for doubles since both sides do identical IEEE math).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

A query name that ``queries()`` does not have is an error (exit 2), raised
before any query runs, so a mistyped name cannot pass by checking nothing.
Each query is built and collected inside its own ``caching.scope()``, which
frees the storage it kept, so no later query reads an earlier one's caches.
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

import _harness  # noqa: F401  puts the repository root on sys.path
import __spark_entry__ as entrymod  # noqa: E402
from geotreehealth_spark.operators.caching import scope  # noqa: E402
from geotreehealth_spark.session import get_spark  # noqa: E402
from geotreehealth_spark.synth import TPCH_TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entrymod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print("unknown query names:", ", ".join(unknown))
        return 2
    spark = get_spark(cores=16)
    con = duckdb.connect()
    for name in TPCH_TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        with scope():
            sp = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows={len(sp):8d} (rows-only, no oracle) {t_spark:6.1f}s")
            continue
        # a None/empty oracle (e.g. a mangled builder returning implicitly)
        # would otherwise surface as an opaque DuckDB internal error
        assert isinstance(oracles[name], str) and oracles[name].strip(), (
            f"oracle_sql()[{name!r}] is not a non-empty SQL string"
        )
        t0 = time.time()
        du = con.sql(oracles[name]).df()
        t_duck = time.time() - t0
        status = "OK"
        detail = ""
        if len(sp) != len(du):
            status, detail = "ROWS", f"spark={len(sp)} duck={len(du)}"
        elif sorted(sp.columns) != sorted(du.columns):
            status, detail = "SCHEMA", f"spark={sorted(sp.columns)} duck={sorted(du.columns)}"
        else:
            a, b = normalize(sp), normalize(du)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            except AssertionError as e:
                status, detail = "VALUES", str(e).split("\n")[1][:200] if "\n" in str(e) else str(e)[:200]
                for c in a.columns:
                    if not a[c].equals(b[c]):
                        if np.issubdtype(a[c].dtype, np.floating):
                            d = np.nanmax(np.abs(a[c].to_numpy() - b[c].to_numpy()))
                            detail += f" | col {c} maxdiff={d:.3e}"
                        else:
                            detail += f" | col {c} differs"
        print(f"{name:28s} rows={len(sp):8d} {status:6s} spark={t_spark:5.1f}s duck={t_duck:5.1f}s {detail}")
        if status != "OK":
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILED:", failures)
        return 1
    print("all OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
