"""Bucketed tables — pre-shuffled storage for co-located joins.

The heaviest recurring cost in a 100 TB pipeline is re-shuffling the
same fact table on the same key for every join (doc joins against
signatures, samples, curation flags, ...).  Hive-style bucketing pays
that shuffle ONCE at write time: rows are hash-partitioned into
``n_buckets`` files by the join key, and every later equi-join between
tables bucketed the same way runs with ZERO Exchange — Spark matches
bucket i to bucket i directly (plan evidence: tests/test_plan_hygiene
pins no-Exchange on the bucketed join; docs/PLANS.md shows the plan).

Sorted buckets plus one file per bucket (why :func:`write_bucketed`
repartitions on the key first) keep the residual per-task Sort a cheap
streaming merge of pre-sorted runs; Spark 3+/4 only ELIDES that Sort
behind ``spark.sql.legacy.bucketedTableScan.outputOrdering`` — the
prepaid shuffle is the part that matters at scale either way.

At 10^12 documents the bucket count is sized so a bucket fits an
executor (e.g. 2^14 buckets of a few GB); the principle is unchanged.
``spark.table`` reads carry the bucket metadata from the catalog —
plain ``spark.read.parquet`` of the same files would NOT (bucketing
lives in the table catalog, not the parquet footer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int) -> None:
    """Persist ``df`` as a bucketed, bucket-sorted catalog table,
    overwriting it.  One file per bucket (repartition on the key first),
    so sorted buckets stream straight into a merge join with no Sort."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    (df.repartition(n_buckets, bucket_col)
     .write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
     .saveAsTable(table))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: str) -> DataFrame:
    """Inner-join two same-bucketed catalog tables on their bucket key.

    With both sides bucketed identically this plans as a sort-merge
    join with no Exchange on either side (and no Sort when buckets are
    sorted single-file) — the shuffle was prepaid at write time.
    """
    return spark.table(left_table).join(spark.table(right_table), on)
