"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

PKG_DIR = Path(__file__).resolve().parent

#: Arrow batch byte cap (``spark.sql.execution.arrow.maxBytesPerBatch``).
#: Spark checks it before adding each row, so a batch holds at most the
#: cap plus one row; Spark's record cap (10,000) cuts first for rows
#: under about 420 B
ARROW_MAX_BYTES = 4 << 20


def get_spark(
    app_name: str = "rca-extraction",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    * Arrow enabled (every heavy operator is a ``mapInArrow`` stage);
    * Arrow batches bounded by bytes (``maxBytesPerBatch`` =
      ``ARROW_MAX_BYTES``, 4 MiB), with ``maxRecordsPerBatch`` left at
      Spark's own 10,000, which cuts first for docs under about 420 B:
      a ``mapInArrow`` stage pays a fixed per-batch cost, so one batch
      per task of ordinary docs amortises it, and a batch holds at most
      the cap plus one doc (docs/SCALE.md);
    * AQE on: runtime coalescing + skew handling complement the explicit
      doc_id salting (operators/skew.py);
    * shuffle partitions sized for the local harness; on a real cluster this
      is ``spark.sql.shuffle.partitions`` = 2-3x total cores.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES))
        # pin the session zone: gap/window arithmetic on TIMESTAMP (ltz)
        # and the NTZ<->LTZ round-trips in sessionize must agree with the
        # naive-timestamp DuckDB oracles on any host, any DST rules
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # split even small parquet inputs across all cores — locally the
        # testdata tables are single files under maxPartitionBytes, which
        # would otherwise run CPU-heavy scans (minhash/simhash/extraction)
        # as one task; on a real cluster the input has many splits anyway
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        # local mode runs every task in ONE JVM: with 32 executor threads
        # pushing Arrow batches + shuffle buffers, an undersized heap turns
        # into a GC ceiling that caps scaling (measured: 22.5s -> 11.8s wall
        # at local[32] going 8g -> 48g on the extraction bench)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    # single-box benching: shuffle files on a RAM-backed dir take disk I/O
    # out of the scaling path (a real cluster scales shuffle I/O with node
    # count/NVMe; one local disk does not). Overridable via SPARK_LOCAL_DIRS.
    if master.startswith("local") and os.path.isdir("/dev/shm") \
            and "SPARK_LOCAL_DIRS" not in os.environ:
        b = b.config("spark.local.dir", "/dev/shm/rca-spark-local")
    # local mode: stop JIT at C1.  The interpreted higher-order-function
    # paths (minhash/simhash folds) trigger C2 deopt/recompile storms on
    # this JVM — identical noop-write runs of the SAME plan measured
    # 0.6 s ... 118 s (host CPU flat ±10% under a 90 s full-load probe;
    # GC <15% of the stalled walls; C1-only: every run ≤6 s, steady
    # ≤1 s).  At local-bench data sizes C2's peak throughput never
    # repays its compile cost — C1 was faster on the codegen-heavy
    # relational queries too (a0 first-run 0.49 s vs 4.93 s).  A real
    # long-lived cluster app amortizes C2 and should NOT set this; it is
    # local-only and overridable via extra_conf/SPARK_GRAFT_JIT_FULL.
    # Non-tiered JVMs default ReservedCodeCacheSize to 48 MB (vs 240 MB
    # tiered); a session running the full 112-query oracle sweep fills
    # that within seconds and the JVM then FAILS HARD — "Out of space in
    # CodeCache for method handle intrinsic" is a VirtualMachineError,
    # not a slow path.  Size the cache explicitly whichever JIT mode
    # runs, so the C1 pin below can never shrink it.
    if master.startswith("local"):
        java_opts = "-XX:ReservedCodeCacheSize=512m"
        if "SPARK_GRAFT_JIT_FULL" not in os.environ:
            java_opts += " -XX:TieredStopAtLevel=1"
        b = b.config("spark.driver.extraJavaOptions", java_opts)
    # local mode, package run from its directory: the Python workers import
    # pyspark, py4j and this package from directories, with no archive on
    # sys.path — each task's importlib.invalidate_caches() would otherwise
    # re-read every zip the worker imported from (worker_daemon.py)
    if master.startswith("local") and PKG_DIR.is_dir():
        b = (b.config("spark.python.daemon.module", f"{__package__}.worker_daemon")
             .config("spark.executorEnv.PYTHONPATH", str(PKG_DIR.parent)))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def package_zip() -> str | None:
    """Zip this package for ``spark-submit --py-files`` style shipping.
    Cached per process in the temp dir. Returns None when the package is
    itself imported from a zip (i.e. we ARE the --py-files payload and
    spark-submit has already distributed it)."""
    if not PKG_DIR.is_dir():
        return None
    out = Path(tempfile.gettempdir()) / f"rca_pkg_{os.getpid()}"
    zip_path = out.with_suffix(".zip")
    if not zip_path.exists():
        shutil.make_archive(str(out), "zip", root_dir=PKG_DIR.parent,
                            base_dir=PKG_DIR.name)
    return str(zip_path)


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of driver cwd —
    the in-process equivalent of ``spark-submit --py-files`` (north_rule
    deployment requirement).  A session whose workers already have the
    package directory on ``PYTHONPATH`` (local ``get_spark``) needs no
    zip; any other session gets one.  Idempotent."""
    sc = spark.sparkContext
    if not getattr(sc, "_rca_pkg_shipped", False):
        on_path = str(PKG_DIR.parent) in sc.environment.get(
            "PYTHONPATH", "").split(os.pathsep)
        zip_path = None if on_path else package_zip()
        if zip_path is not None:
            sc.addPyFile(zip_path)
        sc._rca_pkg_shipped = True
