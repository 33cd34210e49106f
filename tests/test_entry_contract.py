"""Entry-point contract: every ``queries()`` output must be
driver-canonicalizable.

The external correctness gate collects each query to pandas and sorts
every column with ``DataFrame.sort_values`` before hashing; array /
map / struct columns make that sorter throw (``TypeError: unhashable
type: 'list'`` — CORRECTNESS_r02.json on ``ann_kmeans_centroids`` /
``text_embed_vectors``).  Pin the contract: all query outputs are flat
scalar schemas (vector-valued results ship as posexploded
(id, dim, value) rows instead).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_query_output_schema_is_scalar(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)]
    assert not bad, (
        f"queries()[{name!r}] returns non-scalar columns {bad}: the "
        "driver's pandas canonicalizer cannot sort them — posexplode or "
        "array_join before returning")


def test_every_query_has_matching_name_in_oracles():
    """Each queries() key has a DuckDB twin, and each twin a query."""
    q = set(entry.queries().keys())
    o = set(entry.oracle_sql().keys())
    assert o == q, (f"queries without an oracle: {sorted(q - o)}; "
                    f"oracles without a query: {sorted(o - q)}")


def test_check_entry_rejects_unknown_query_names():
    """tools/check_entry.py exits 1 and names a requested key that is
    not in queries() instead of printing ALL PASS over nothing."""
    import subprocess
    import sys
    from pathlib import Path

    tool = Path(__file__).resolve().parent.parent / "tools" / "check_entry.py"
    res = subprocess.run([sys.executable, str(tool), "no_such_query"],
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 1
    assert "no_such_query" in res.stdout
    assert "ALL PASS" not in res.stdout
