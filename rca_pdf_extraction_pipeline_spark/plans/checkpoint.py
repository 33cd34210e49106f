"""Checkpointed, resumable extraction runs (north_rule requirement:
"checkpoints per-partition progress ... with lineage + row-count/byte
metrics so failed runs resume without reprocessing").

Design (scales to 10^12 docs):
  * documents are assigned to ``n_buckets`` deterministic hash buckets
    (``pmod(xxhash64(doc_id), n_buckets)``) — the unit of progress.
    Bucket membership never depends on partition order or cluster size,
    so a resume on a different cluster sees identical buckets.
  * buckets are processed in waves; each wave writes its output
    partitioned by bucket (``data/_bucket=N/...``) and then appends ONE
    snapshot entry to ``_snapshots.json`` with the wave's completed
    buckets, per-bucket row/doc/byte metrics (collected via the
    Observation API — no extra pass over the data), and lineage
    (input path, app id, wall time). The manifest append is the commit
    point: output files without a manifest entry are invisible garbage,
    exactly like Iceberg's snapshot protocol.
  * resume = read manifest, skip completed buckets; progress state is
    O(n_buckets), not O(n_docs) — no driver-side doc-id sets. One input
    path, ``extract_with_checkpoint``: an arbitrary docs frame is
    filtered on the computed bucket predicate (every input file is
    read), while a frame read from a ``write_bucketed_input`` table
    carries the SAME bucket as its ``_bucket`` partition column, so a
    wave's ``_bucket IN (...)`` filter is a partition filter and the
    scan reads ONLY the todo buckets' files (pinned by tests from the
    executed scan's files-read metric).  The file index still lists
    every bucket directory once per run.  Such a table must have been
    written with the run's ``n_buckets``: a ``_bucket=N`` directory with
    N >= n_buckets, or a row whose ``_bucket`` is not its computed
    bucket, fails the run instead of losing docs.  The OUTPUT side is
    always bucket-partitioned, and ``read_extracted`` passes committed files
    explicitly so uncommitted/torn files are never even listed.

Reference has no checkpointing at all (single 359 ms process,
docs/wiki/Performance.md:9-15); this is the cluster-scale replacement.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..operators import skew
from ..operators.extraction import OUTPUT_SCHEMA, extract_documents

MANIFEST_NAME = "_snapshots.json"
LOCK_NAME = "_snapshots.lock"
#: default bucket count of the input and output tables and of the job
N_BUCKETS = 64


def _bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))


def _bucket_files(table_dir: Path, bucket: int) -> list[str]:
    """Data-file names currently in a bucket partition dir."""
    d = Path(table_dir) / "data" / f"_bucket={bucket}"
    if not d.exists():
        return []
    return sorted(p.name for p in d.iterdir()
                  if p.name.endswith(".parquet") and not p.name.startswith("."))


class SnapshotManifest:
    """The ``_snapshots.json`` sidecar: an append-only snapshot log.

    Concurrency contract: ONE writer per table at a time.  ``append`` is
    a read-modify-write, so two concurrent drivers could silently drop
    each other's snapshots; a best-effort ``_snapshots.lock`` file
    (O_CREAT|O_EXCL) guards the local-FS case and fails loudly instead.
    On object storage the equivalent is a conditional-put / Iceberg
    catalog commit — the lock here is the local stand-in, not a
    distributed lock.
    """

    def __init__(self, table_dir: str | Path, lock_timeout: float = 30.0):
        self.table_dir = Path(table_dir)
        self.path = self.table_dir / MANIFEST_NAME
        self.lock_path = self.table_dir / LOCK_NAME
        self.lock_timeout = lock_timeout

    def load(self) -> list[dict]:
        if not self.path.exists():
            return []
        return json.loads(self.path.read_text())["snapshots"]

    def completed_buckets(self) -> set[int]:
        done: set[int] = set()
        for snap in self.load():
            done.update(snap["completed_buckets"])
        return done

    def _acquire_lock(self) -> int:
        self.table_dir.mkdir(parents=True, exist_ok=True)
        deadline = time.time() + self.lock_timeout
        while True:
            try:
                return os.open(str(self.lock_path),
                               os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"manifest lock {self.lock_path} held by another "
                        f"writer for > {self.lock_timeout}s — single-writer "
                        f"contract violated (remove the lock file only if "
                        f"the other driver is known dead)") from None
                time.sleep(0.05)

    def append(self, completed_buckets: list[int], metrics: dict,
               lineage: dict, files: dict[int, list[str]]) -> dict:
        fd = self._acquire_lock()
        try:
            snaps = self.load()
            snap = {
                "id": uuid.uuid4().hex[:12],
                "parent": snaps[-1]["id"] if snaps else None,
                "sequence": len(snaps),
                "committed_at": time.time(),
                "completed_buckets": sorted(completed_buckets),
                "metrics": metrics,
                "lineage": lineage,
                # per-bucket data-file names (relative to data/_bucket=N/):
                # the Iceberg-style file-level commit — a later snapshot
                # naming the same bucket REPLACES its file list (compaction)
                "files": {str(int(b)): sorted(fl) for b, fl in files.items()},
            }
            snaps.append(snap)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps({"snapshots": snaps}, indent=1))
            tmp.replace(self.path)  # atomic commit point
            return snap
        finally:
            os.close(fd)
            self.lock_path.unlink(missing_ok=True)

    def committed_files(self) -> dict[int, list[str]]:
        """bucket -> committed file names (later snapshots override
        earlier ones per bucket)."""
        per_bucket: dict[int, list[str]] = {}
        for snap in self.load():
            for b, fl in snap["files"].items():
                per_bucket[int(b)] = list(fl)
        return per_bucket


def extract_with_checkpoint(
    docs: DataFrame,
    table_dir: str | Path,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    n_buckets: int = N_BUCKETS,
    waves: int = 4,
    max_waves: int | None = None,
    input_desc: str = "",
    transform=None,
    operation: str = "extract_documents",
) -> dict:
    """Run the extraction pipeline over ``docs`` with bucket-level
    checkpointing into ``table_dir``; returns a run report.

    ``max_waves`` limits how many waves run (used by tests to simulate
    a mid-run failure); a subsequent call resumes from the manifest.

    ``transform`` swaps the per-wave operator: any ``(df, cfg) ->
    (doc_id, spans)`` callable rides the same salting, bucket waves,
    observed metrics and snapshot commits (default
    :func:`extract_documents`; ``jobs/run_extraction.py`` passes
    ``htmlparse.to_spans`` for markup input).  ``operation`` labels the
    lineage record.

    When ``docs`` carries a ``_bucket`` column (read from a
    :func:`write_bucketed_input` table written with the same
    ``n_buckets``), a wave selects its docs on that partition column, so
    the scan reads only the wave's bucket directories; otherwise it
    filters on the bucket computed from ``doc_id``.
    """
    in_wave = _wave_filter(docs, n_buckets)
    table_dir = Path(table_dir)
    manifest = SnapshotManifest(table_dir)
    # completed_buckets are bucket numbers under the count that wrote them:
    # under another count they name other docs
    other = {s["lineage"].get("n_buckets") for s in manifest.load()} - {None, n_buckets}
    if other:
        raise ValueError(
            f"{table_dir} was checkpointed with n_buckets={min(other)}; "
            f"resume it with that count, not n_buckets={n_buckets}")
    done = manifest.completed_buckets()
    todo = sorted(set(range(n_buckets)) - done)

    wave_size = max(1, (n_buckets + waves - 1) // waves)
    wave_groups = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    if max_waves is not None:
        wave_groups = wave_groups[:max_waves]

    ran = [_run_wave(docs.sparkSession,
                     docs.filter(in_wave(group)).drop("_bucket"), group,
                     table_dir, manifest, cfg, n_buckets, input_desc,
                     transform=transform, operation=operation)
           for group in wave_groups]
    completed_now = sum(len(s["completed_buckets"]) for s in ran)
    return {
        "resumed_from": len(done),
        "waves_run": len(ran),
        "buckets_completed_now": completed_now,
        "buckets_remaining": n_buckets - len(done) - completed_now,
        "snapshots": [s["id"] for s in ran],
    }


def _wave_filter(docs: DataFrame, n_buckets: int):
    """group -> predicate selecting a wave's docs.  Over a ``_bucket``
    input it checks the input was bucketed with ``n_buckets``: any
    ``_bucket=N`` directory with N >= n_buckets fails here, and a row whose
    ``_bucket`` differs from its computed bucket fails its wave."""
    if "_bucket" not in docs.columns:
        return lambda group: _bucket_col(n_buckets).isin(group)
    written = {int(b) for f in docs.inputFiles()
               for b in re.findall(r"/_bucket=(\d+)/", f)}
    msg = (f"input _bucket was not written with n_buckets={n_buckets}; "
           f"rewrite it with write_bucketed_input(..., n_buckets={n_buckets})")
    if written and max(written) >= n_buckets:
        raise ValueError(f"{msg} (found _bucket={max(written)})")
    same = F.when(F.col("_bucket") == _bucket_col(n_buckets), True) \
            .otherwise(F.raise_error(msg))
    # the isin conjunct stays on its own so it is a partition filter
    return lambda group: F.col("_bucket").isin(group) & same


def _run_wave(spark: SparkSession, sub: DataFrame, group: list[int],
              table_dir: Path, manifest: SnapshotManifest,
              cfg: ExtractionConfig, n_buckets: int,
              input_desc: str, transform=None,
              operation: str = "extract_documents") -> dict:
    """One checkpoint wave: scrub uncommitted leftovers, extract, write
    bucket-partitioned output, commit the snapshot."""
    # scrub leftovers of a crashed earlier attempt: files under an
    # uncommitted bucket partition would double-serve once this wave
    # commits (on object storage: dynamic partition overwrite instead)
    for b in group:
        leftover = table_dir / "data" / f"_bucket={int(b)}"
        if leftover.exists():
            import shutil

            shutil.rmtree(leftover)
    sub = skew.salted_repartition(sub, cfg)
    out = ((transform or extract_documents)(sub, cfg)
           .withColumn("_bucket", _bucket_col(n_buckets)))

    obs = Observation(f"wave-{group[0]}")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("spans")).alias("rows"),
        F.sum(F.expr(
            "aggregate(spans, 0L, (a, s) -> a + length(coalesce(s.text, '')))"
        )).alias("bytes"),
    )
    (out.write.mode("append").partitionBy("_bucket")
        .parquet(str(table_dir / "data")))
    m = obs.get
    # every file in the group's partition dirs belongs to this wave (the
    # scrub above removed any crashed leftovers) — record them so the
    # snapshot pins FILES, not directories (enables safe compaction)
    files = {int(b): _bucket_files(table_dir, int(b)) for b in group}
    return manifest.append(
        completed_buckets=list(group),
        metrics={"docs": m["docs"], "output_spans": m["rows"],
                 "logical_bytes": m["bytes"], "buckets": len(group)},
        lineage={
            "input": input_desc,
            "app_id": spark.sparkContext.applicationId,
            "operation": operation,
            "n_buckets": n_buckets,
        },
        files=files,
    )


def write_bucketed_input(docs: DataFrame, input_dir: str | Path,
                         n_buckets: int = N_BUCKETS) -> None:
    """Materialize the INPUT table partitioned by the same deterministic
    bucket column the checkpoint protocol uses — the file-level-pruning
    half of resume: :func:`extract_with_checkpoint` over
    ``spark.read.parquet(input_dir)`` then READS only the todo bucket
    directories instead of scanning every input file and filtering.  At
    10^12 docs this is the difference between reading one bucket's share
    of the files and reading all of them.  Read it with the same
    ``n_buckets``."""
    (docs.withColumn("_bucket", _bucket_col(n_buckets))
     .write.mode("overwrite").partitionBy("_bucket")
     .parquet(str(input_dir)))


def read_extracted(spark: SparkSession, table_dir: str | Path) -> DataFrame:
    """Read back only data covered by committed snapshots.

    Committed FILES are passed explicitly (with ``basePath`` so
    ``_bucket`` still parses) instead of scanning the whole data dir and
    filtering: a torn parquet file left by a mid-write crash in an
    uncommitted bucket is never listed, so it can't fail schema
    inference or footer reads; and files superseded by a compaction
    snapshot are invisible even while they still exist on disk — the
    manifest is the source of truth, mirroring Iceberg's snapshot
    isolation."""
    manifest = SnapshotManifest(table_dir)
    base = Path(table_dir) / "data"
    paths: list[str] = []
    for b, files in sorted(manifest.committed_files().items()):
        bdir = base / f"_bucket={int(b)}"
        paths.extend(str(bdir / f) for f in files if (bdir / f).exists())
    if not paths:
        return spark.createDataFrame([], OUTPUT_SCHEMA)
    return (spark.read.option("basePath", str(base)).parquet(*paths)
            .drop("_bucket"))


def compact_buckets(spark: SparkSession, table_dir: str | Path,
                    delete_orphans: bool = True) -> dict:
    """Small-file compaction of committed buckets — the table-maintenance
    half of the snapshot protocol (Iceberg ``rewrite_data_files``).

    For each committed bucket with more than one data file: rewrite its
    committed rows into one new file IN THE SAME partition dir (fresh
    UUID names — no collision), then commit ONE snapshot whose file list
    REPLACES the bucket's files.  Readers switch atomically at the
    manifest swap; the superseded files are deleted afterwards
    (``delete_orphans``) and a crash between commit and delete leaves
    only invisible orphans, never missing or duplicated data.

    Returns {"buckets_compacted", "files_before", "files_after"}.
    """
    table_dir = Path(table_dir)
    manifest = SnapshotManifest(table_dir)
    base = table_dir / "data"
    committed = manifest.committed_files()

    chosen = {b: names for b, names in sorted(committed.items())
              if len(names) > 1}
    if not chosen:
        return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}

    new_files: dict[int, list[str]] = {}
    rows = {}
    for b, old_names in chosen.items():
        bdir = base / f"_bucket={b}"
        old_paths = [str(bdir / f) for f in old_names]
        df = (spark.read.option("basePath", str(base)).parquet(*old_paths)
              .drop("_bucket"))
        before = set(_bucket_files(table_dir, b))
        # write the compacted files into the live partition dir under
        # fresh part-UUID names; they stay invisible until the commit
        df.coalesce(1).write.mode("append").parquet(str(bdir))
        new_files[b] = sorted(set(_bucket_files(table_dir, b)) - before)
        rows[b] = len(old_names)

    snap = manifest.append(
        completed_buckets=sorted(chosen),
        metrics={"operation_files_before": sum(rows.values()),
                 "operation_files_after": sum(len(v) for v in new_files.values())},
        lineage={"operation": "compact", "target_files": 1},
        files=new_files,
    )
    if delete_orphans:
        for b, old_names in chosen.items():
            bdir = base / f"_bucket={b}"
            for f in old_names:
                (bdir / f).unlink(missing_ok=True)
    return {"buckets_compacted": len(chosen),
            "files_before": sum(rows.values()),
            "files_after": sum(len(v) for v in new_files.values()),
            "snapshot": snap["id"]}
