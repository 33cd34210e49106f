"""Checkpoint/resume + lineage (plans/checkpoint.py, north_rule).

Simulates a mid-run failure by capping waves, then resumes and asserts:
no reprocessing (bucket disjointness), full coverage, snapshot lineage
chain, and per-wave metrics."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.plans import checkpoint
from rca_pdf_extraction_pipeline_spark.sources import fixtures


@pytest.fixture(scope="module")
def docs(spark):
    d = ([fixtures.build_golden_doc()] + fixtures.build_parser_branch_docs()
         + fixtures.build_classify_docs())
    return fixtures.docs_to_spark(spark, d)


def test_interrupted_run_resumes_without_reprocessing(spark, docs, tmp_path):
    table = tmp_path / "extracted"

    r1 = checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=8, waves=4, max_waves=2, input_desc="fixtures")
    assert r1["waves_run"] == 2
    assert r1["buckets_remaining"] == 4

    manifest = checkpoint.SnapshotManifest(table)
    done_after_1 = manifest.completed_buckets()
    assert len(done_after_1) == 4

    r2 = checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=8, waves=4, input_desc="fixtures")
    assert r2["resumed_from"] == 4
    assert r2["buckets_remaining"] == 0

    # resumed waves must touch only previously-incomplete buckets
    snaps = manifest.load()
    first = set()
    for s in snaps[:2]:
        first.update(s["completed_buckets"])
    for s in snaps[2:]:
        assert not (set(s["completed_buckets"]) & first)

    # full corpus present exactly once
    out = checkpoint.read_extracted(spark, table)
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    # idempotent: nothing left to do
    r3 = checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=8, waves=4, input_desc="fixtures")
    assert r3["waves_run"] == 0


def test_snapshot_lineage_and_metrics(spark, docs, tmp_path):
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=4, waves=2, input_desc="fixtures-v2")
    snaps = checkpoint.SnapshotManifest(table).load()
    assert len(snaps) == 2
    assert snaps[0]["parent"] is None
    assert snaps[1]["parent"] == snaps[0]["id"]
    total_docs = sum(s["metrics"]["docs"] for s in snaps)
    assert total_docs == docs.count()
    for s in snaps:
        assert s["metrics"]["output_spans"] >= 0
        assert s["metrics"]["logical_bytes"] >= 0
        assert s["lineage"]["input"] == "fixtures-v2"
        assert s["lineage"]["operation"] == "extract_documents"

    # manifest on disk is valid json with the committed snapshots
    raw = json.loads((table / "_snapshots.json").read_text())
    assert len(raw["snapshots"]) == 2


def test_uncommitted_buckets_invisible(spark, docs, tmp_path):
    """Files written without a manifest entry (crash between write and
    commit) must not be served — snapshot isolation."""
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=4, waves=4, max_waves=2, input_desc="x")
    # simulate a crashed wave: data for bucket 3 exists but no snapshot
    out = checkpoint.read_extracted(spark, table)
    done = checkpoint.SnapshotManifest(table).completed_buckets()
    got_buckets = {
        r["b"] for r in
        spark.read.parquet(str(table / "data"))
        .select(F.col("_bucket").alias("b")).distinct().collect()
    }
    served = {
        r["b"] for r in
        out.withColumn("b", F.pmod(F.xxhash64("doc_id"), F.lit(4)))
        .select("b").distinct().collect()
    }
    assert served <= done
    assert got_buckets >= served


def test_crash_injected_files_are_invisible_and_resumable(spark, docs, tmp_path):
    """Real crash injection: parquet files written into a bucket dir
    WITHOUT a manifest commit must be invisible to readers, and a resume
    must still process that bucket's documents."""
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=4, waves=4, max_waves=2, input_desc="x")
    done = checkpoint.SnapshotManifest(table).completed_buckets()
    crashed = sorted(set(range(4)) - done)[0]

    # simulate a crashed wave: bucket data present on disk, no snapshot
    stray = docs.limit(1).withColumn("_bucket", F.lit(crashed))
    stray.write.mode("append").partitionBy("_bucket").parquet(str(table / "data"))

    served_docs = {r["doc_id"] for r in
                   checkpoint.read_extracted(spark, table).collect()}
    stray_id = docs.limit(1).collect()[0]["doc_id"]
    bucket_of = F.pmod(F.xxhash64("doc_id"), F.lit(4))
    stray_bucket = docs.limit(1).select(bucket_of.alias("b")).collect()[0]["b"]
    if stray_bucket == crashed:  # stray doc genuinely uncommitted
        assert stray_id not in served_docs

    # resume completes all buckets; the stray uncommitted file must be
    # scrubbed before its bucket commits — every doc served EXACTLY once
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=4, waves=4,
                                       input_desc="x")
    out = checkpoint.read_extracted(spark, table).collect()
    ids = sorted(r["doc_id"] for r in out)
    want = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert ids == want  # no duplicates, no losses


def test_torn_file_in_uncommitted_bucket_cannot_break_reads(spark, docs, tmp_path):
    """A TRUNCATED (unreadable) parquet file from a mid-write crash in an
    uncommitted bucket dir must not fail read_extracted — committed
    partition dirs are listed explicitly, so the torn file is never
    touched."""
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(
        docs, table, n_buckets=4, waves=4, max_waves=2, input_desc="x")
    done = checkpoint.SnapshotManifest(table).completed_buckets()
    crashed = sorted(set(range(4)) - done)[0]
    torn_dir = table / "data" / f"_bucket={crashed}"
    torn_dir.mkdir(parents=True, exist_ok=True)
    (torn_dir / "part-00000-torn.snappy.parquet").write_bytes(b"PAR1\x00\x01garbage")

    out = checkpoint.read_extracted(spark, table)
    served = {r["doc_id"] for r in out.collect()}   # must not raise
    assert served  # committed docs still served

    # resume scrubs the torn file before recommitting the bucket
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=4, waves=4,
                                       input_desc="x")
    ids = sorted(r["doc_id"] for r in checkpoint.read_extracted(spark, table).collect())
    want = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert ids == want


def test_bucketed_input_prunes_files_on_resume(spark, docs, tmp_path):
    """Input-side file pruning: over a bucket-partitioned input table, a
    resumed wave's ``_bucket IN (...)`` filter is a partition filter, so
    the executed scans read ONLY the todo buckets' files."""
    from perfbench.probe import StatusStore

    input_dir = tmp_path / "docs_bucketed"
    table = tmp_path / "extracted"
    checkpoint.write_bucketed_input(docs, input_dir, n_buckets=4)
    bucketed = spark.read.parquet(str(input_dir))

    r1 = checkpoint.extract_with_checkpoint(
        bucketed, table, n_buckets=4, waves=4, max_waves=2)
    assert r1["waves_run"] == 2
    done = checkpoint.SnapshotManifest(table).completed_buckets()
    todo = sorted(set(range(4)) - done)
    todo_files = sum(1 for b in todo
                     for f in (input_dir / f"_bucket={b}").glob("*.parquet"))
    all_files = sum(1 for _ in input_dir.glob("_bucket=*/*.parquet"))
    assert 0 < todo_files < all_files

    store = StatusStore(spark)
    last = store.last_id()
    r2 = checkpoint.extract_with_checkpoint(bucketed, table, n_buckets=4,
                                            waves=4)
    assert r2["waves_run"] == 2
    scans = [n["metrics"]["number of files read"]
             for e in store.executions_after(last, wait_s=10)
             for n in e["nodes"] if n["name"].startswith("Scan parquet")]
    assert len(scans) == 2, scans
    assert sum(scans) == todo_files

    # resume completes and output equals the unbucketed pipeline's docs
    ids = sorted(r["doc_id"] for r in
                 checkpoint.read_extracted(spark, table).collect())
    want = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert ids == want


@pytest.mark.parametrize("written, read", [(32, 64), (64, 32)])
def test_bucketed_input_with_other_bucket_count_fails(spark, docs, tmp_path,
                                                      written, read):
    """An input bucketed with another count must fail the run, not drop
    the docs whose buckets disagree."""
    input_dir = tmp_path / "docs_bucketed"
    checkpoint.write_bucketed_input(docs, input_dir, n_buckets=written)
    with pytest.raises(Exception, match=f"n_buckets={read}"):
        checkpoint.extract_with_checkpoint(
            spark.read.parquet(str(input_dir)), tmp_path / "extracted",
            n_buckets=read, waves=4)


def test_resume_with_other_bucket_count_fails(spark, docs, tmp_path):
    """A resume under another bucket count must fail before any wave: the
    manifest's completed buckets would name other docs."""
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=16, waves=4,
                                       max_waves=1)
    before = sorted(p for p in (table / "data").rglob("*"))
    with pytest.raises(ValueError, match="n_buckets=16"):
        checkpoint.extract_with_checkpoint(docs, table, n_buckets=64,
                                           waves=4)
    assert sorted(p for p in (table / "data").rglob("*")) == before
    assert len(checkpoint.SnapshotManifest(table).load()) == 1


def test_manifest_lock_blocks_second_writer(tmp_path):
    m = checkpoint.SnapshotManifest(tmp_path / "t", lock_timeout=0.2)
    fd = m._acquire_lock()
    import pytest as _pytest
    with _pytest.raises(TimeoutError, match="single-writer"):
        checkpoint.SnapshotManifest(tmp_path / "t", lock_timeout=0.2).append(
            [0], {}, {}, files={0: []})
    import os
    os.close(fd)
    m.lock_path.unlink()
    # lock released -> append succeeds
    snap = m.append([0], {"docs": 0}, {"input": "x"}, files={0: []})
    assert snap["completed_buckets"] == [0]


def _spans_key(rows):
    return sorted((r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"],
                                       s["offset"]) for s in r["spans"]))
                  for r in rows)


def test_compaction_preserves_data_and_shrinks_files(spark, docs, tmp_path):
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=4, waves=2,
                                       input_desc="fixtures")
    before_rows = _spans_key(checkpoint.read_extracted(spark, table).collect())
    n_before = sum(len(checkpoint._bucket_files(table, b)) for b in range(4))
    assert n_before > 4  # salted repartition => many small files per bucket

    r = checkpoint.compact_buckets(spark, table)
    assert r["buckets_compacted"] >= 1
    assert r["files_after"] == r["buckets_compacted"]
    assert r["files_before"] > r["files_after"]

    after_rows = _spans_key(checkpoint.read_extracted(spark, table).collect())
    assert after_rows == before_rows
    # orphans physically removed; surviving files match the manifest
    files = checkpoint.SnapshotManifest(table).committed_files()
    for b, names in files.items():
        assert names is not None
        assert set(checkpoint._bucket_files(table, int(b))) == set(names)


def test_compaction_commit_point_is_the_manifest(spark, docs, tmp_path):
    """Superseded files still on disk stay invisible: with
    delete_orphans=False the old files remain, but readers must see
    exactly one copy of the data (the compacted files)."""
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=4, waves=2,
                                       input_desc="fixtures")
    before_rows = _spans_key(checkpoint.read_extracted(spark, table).collect())

    r = checkpoint.compact_buckets(spark, table, delete_orphans=False)
    assert r["buckets_compacted"] >= 1
    # old + new files coexist on disk ...
    n_disk = sum(len(checkpoint._bucket_files(table, b)) for b in range(4))
    assert n_disk > r["files_after"]
    # ... but the manifest exposes only the compacted set: no duplicates
    after_rows = _spans_key(checkpoint.read_extracted(spark, table).collect())
    assert after_rows == before_rows


def test_compaction_noop_when_already_compact(spark, docs, tmp_path):
    table = tmp_path / "extracted"
    checkpoint.extract_with_checkpoint(docs, table, n_buckets=4, waves=2,
                                       input_desc="fixtures")
    checkpoint.compact_buckets(spark, table)
    r2 = checkpoint.compact_buckets(spark, table)
    assert r2 == {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
