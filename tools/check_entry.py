"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its DuckDB oracle side-by-side,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_entry.py [sf_dir] [only_query ...]

Exits 1 if any query fails (a query without an oracle fails too), or if
a requested name is not a ``queries()`` key (nothing would be checked
for it).  tests/test_oracle_parity.py runs the same :func:`compare` on
every query in tier-1.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash: sort columns by name, normalize values to
    strings (floats via repr of rounded), sort rows, sha256."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            df[c] = col.map(lambda v: "null" if pd.isna(v) else repr(round(float(v), 9)))
        else:
            df[c] = col.map(lambda v: "null" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """How a query's rows ``sdf`` differ from its oracle's ``odf``: row
    count, column names, then the value hash (with up to 10 rows that
    only one side has).  Empty when they agree."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
    if not problems:
        hs, ho = value_hash(sdf), value_hash(odf)
        if hs != ho:
            merged = sdf.merge(odf, how="outer", indicator=True,
                               on=sorted(sdf.columns))
            diff = merged[merged["_merge"] != "both"]
            problems.append(f"hash spark={hs} oracle={ho}\n"
                            f"{diff.head(10).to_string()}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    qs = entrymod.queries()
    unknown = [name for name in only if name not in qs]
    if unknown:
        print(f"UNKNOWN queries: {', '.join(unknown)}")
        return 1

    from rca_pdf_extraction_pipeline_spark.session import get_spark
    spark = get_spark("check-entry")
    con = connect(sf_dir)

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if name not in oracles:
            failures.append(name)
            print(f"FAIL {name}: no oracle")
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare(sdf, odf)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"PASS {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")

    spark.stop()
    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
