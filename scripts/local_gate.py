"""Local emulation of the driver correctness gate.

Runs every CORPUS entry's Spark plan AND its DuckDB oracle twin at the
given scale factor, then compares row count, schema (column names sorted,
as the driver sorts columns by name before hashing), and values (rows
sorted by every column — a stricter stand-in for the driver's value
hash: exact equality on the sorted frames, dtype-sensitive).

A pure checker: it prints one verdict line per entry and a final
``ALL GREEN`` / ``N FAILURES`` line, exits non-zero on any failure, and
writes nothing, so it runs in place in a clean checkout.

Usage:
    python scripts/local_gate.py [sf_dir] [query ...]
Defaults to /root/testdata/sf0.01 and the full corpus.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from empujar_spark.plans.corpus import CORPUS, TABLES  # noqa: E402
from empujar_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)]
    for c in out.columns:
        # Normalize tz-aware → naive UTC (Spark session is pinned UTC).
        if isinstance(out[c].dtype, pd.DatetimeTZDtype):
            out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
        # The driver's value hash does not distinguish integer widths
        # (round-1 evidence: Spark int32 row_number vs DuckDB int64
        # hash-matched), so neither do we.
        if pd.api.types.is_integer_dtype(out[c].dtype):
            out[c] = out[c].astype("int64")
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("local-gate")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    n_fail = 0
    for name, query in CORPUS.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = query.fn(spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {exc!r}")
            n_fail += 1
            continue
        if query.sql is None:
            print(f"ok   {name}: rows-only {len(got)} ({time.time()-t0:.1f}s)")
            continue
        exp = con.execute(query.sql).df()
        g, e = canon(got), canon(exp)
        status = []
        if len(g) != len(e):
            status.append(f"rows {len(g)}!={len(e)}")
        if list(g.columns) != list(e.columns):
            status.append(f"cols {list(g.columns)}!={list(e.columns)}")
        else:
            dt_g = [str(d) for d in g.dtypes]
            dt_e = [str(d) for d in e.dtypes]
            if dt_g != dt_e:
                status.append(f"dtypes {dt_g}!={dt_e}")
            elif len(g) == len(e) and not g.equals(e):
                neq = (g != e) & ~(g.isna() & e.isna())
                bad_cols = [c for c in g.columns if neq[c].any()]
                status.append(f"values differ in {bad_cols}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(g)} rows exact ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
