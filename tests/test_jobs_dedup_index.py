"""Dedup-index job: artifact layout, determinism, stored-index parity
with the live incremental operator, F9 path guard."""

from __future__ import annotations

import json

import pytest


def test_run_dedup_index_artifacts_and_stored_parity(spark, tmp_path):
    from rca_pdf_extraction_pipeline_spark.jobs import run_dedup_index
    from rca_pdf_extraction_pipeline_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter("doc_id % 2 = 0").write.parquet(str(tmp_path / "corpus"))

    rc = run_dedup_index.main([
        "--input", str(tmp_path / "corpus"),
        "--output", str(tmp_path / "idx"),
    ])
    assert rc == 0
    stats = json.loads((tmp_path / "idx" / "stats.json").read_text())
    assert stats["n_docs"] == 250
    assert stats["n_keys"] == 250 * stats["config"]["bands"]
    assert stats["hottest_buckets"][0]["n_docs"] >= 1

    # pairs from the STORED index == pairs from live band keys: ingest
    # never re-shingles the corpus and loses nothing by not doing so
    stored = spark.read.parquet(str(tmp_path / "idx" / "band_keys"))
    new_docs = docs.filter("doc_id % 2 = 1")
    via_stored = sorted(
        (r["new_id"], r["indexed_id"]) for r in
        dedup.incremental_candidate_pairs(new_docs, stored).collect())
    live = dedup.minhash_band_keys(docs.filter("doc_id % 2 = 0"))
    via_live = sorted(
        (r["new_id"], r["indexed_id"]) for r in
        dedup.incremental_candidate_pairs(new_docs, live).collect())
    assert via_stored == via_live and len(via_stored) > 0

    # the streaming ingest path keys its micro-batches the same way, so
    # the job-built index serves it too: same pairs as the batch path
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.streaming import dedup as sdedup

    new_docs.select("doc_id", "text",
                    F.timestamp_seconds(F.col("doc_id")).alias("event_time")) \
        .coalesce(1).write.parquet(str(tmp_path / "arrivals"))
    stream = (spark.readStream
              .schema("doc_id long, text string, event_time timestamp")
              .parquet(str(tmp_path / "arrivals")))
    q = (sdedup.incremental_pairs_stream(stream, stored)
         .writeStream.format("memory").queryName("dedup_index_stream")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    via_stream = sorted((r["new_id"], r["indexed_id"]) for r in spark.sql(
        "SELECT new_id, indexed_id FROM dedup_index_stream").collect())
    assert via_stream == via_stored


def test_run_dedup_index_takes_no_keying_flags(tmp_path):
    """The index keys documents exactly as both ingest paths do; a flag
    that changed the keying would build an index nothing matches."""
    from rca_pdf_extraction_pipeline_spark.jobs import run_dedup_index

    with pytest.raises(SystemExit):
        run_dedup_index.main(["--input", str(tmp_path / "in"),
                              "--output", str(tmp_path / "idx"),
                              "--bands", "4"])


def test_run_dedup_index_rejects_bad_output(tmp_path):
    from rca_pdf_extraction_pipeline_spark.jobs import run_dedup_index

    with pytest.raises(ValueError):
        run_dedup_index.main(["--input", str(tmp_path / "in"),
                              "--output", "/etc/evil"])
