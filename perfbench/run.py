"""Extraction benchmark: one workload, one seed, one local Spark session.

    python3 perfbench/run.py --workload pdf_tables --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is the full result record
(samples, host sizing, load average); it is also appended to
``.perfbench_work/results.jsonl``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

import probe  # noqa: E402
WORKLOADS = ("pdf_tables", "corpus_light", "html_main", "resume_job")
SETUPS = 5          # session set-ups per run; setup_s is their median


def host_env() -> dict:
    """Size the session for this host through the package's own
    environment variables, and keep every file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = int(next(l for l in Path("/proc/meminfo").read_text().splitlines()
                      if l.startswith("MemTotal")).split()[1])
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of the host, at most 4g: the package default (48g) does
        # not fit a small host, and local mode runs every task in this heap
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_kb // 2 ** 20 // 4))}g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def load1() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics of one pass, from the status-store executions it ran
# ---------------------------------------------------------------------------

_PY = {"extraction.python_start_s": "time to start Python workers",
       "extraction.python_init_s": "time to initialize Python workers",
       "extraction.python_run_s": "time to run Python workers",
       "extraction.bytes_to_python": "data sent to Python workers",
       "extraction.bytes_from_python": "data returned from Python workers"}


def pass_layers(store, execs: list[dict], docs: int, wall_s: float) -> dict:
    def node_sum(pred, metric):
        return sum(n["metrics"].get(metric, 0.0) for e in execs
                   for n in e["nodes"] if pred(n["name"]))

    stages = [s for e in execs for s in e["stages"].values()]
    out = {
        "scan.time_s": node_sum(lambda n: n.startswith("Scan"), "scan time"),
        "scan.rows_per_doc": node_sum(lambda n: n.startswith("Scan"),
                                      "number of output rows") / docs,
        "skew.exchange_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "skew.exchange_write_s": sum(s["shuffle_write_s"] for s in stages),
        "skew.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "htmlparse.codegen_s": node_sum(lambda n: n.startswith("WholeStageCodegen"),
                                        "duration"),
        "jvm.gc_s": sum(s["gc_s"] for s in stages),
        "jvm.task_deserialize_s": sum(s["deserialize_s"] for s in stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
    }
    for k, metric in _PY.items():
        out[k] = node_sum(lambda n: n == "MapInArrow", metric)
    py_s = sum(out[k] for k in ("extraction.python_start_s", "extraction.python_init_s",
                                "extraction.python_run_s"))
    out["extraction.init_share"] = out["extraction.python_init_s"] / py_s if py_s else 0.0
    # the range-bounds sample job: reads input, writes no shuffle, and is
    # not the execution's final job
    sample_s, py_tasks = 0.0, 0
    for e in execs:
        for j in e["jobs"][:-1]:
            js = [e["stages"][s] for s in j["stages"] if s in e["stages"]]
            if js and all(s["shuffle_write_bytes"] == 0 for s in js) \
                    and sum(s["input_records"] for s in js) > 0:
                sample_s += j["wall_s"]
        if any(n["name"] == "MapInArrow" for n in e["nodes"]):
            done = [sid for sid, s in e["stages"].items() if s["status"] == "COMPLETE"]
            py_tasks += e["stages"][max(done)]["tasks"] if done else 0
    out["skew.sample_job_s"] = sample_s
    out["extraction.tasks"] = py_tasks
    # skew: task-time spread in the pass's busiest stage
    busiest = max(((sid, s) for e in execs for sid, s in e["stages"].items()),
                  key=lambda x: x[1]["run_s"], default=None)
    durs = store.task_durations_s(busiest[0], busiest[1]["attempt"]) if busiest else []
    out["skew.task_max_over_median"] = max(durs) / med(durs) if durs and med(durs) else 0.0
    spark_s = sum(e["wall_s"] for e in execs)
    out["checkpoint.write_s"] = sum(e["wall_s"] for e in execs
                                    if any(n["name"].startswith("Execute InsertInto")
                                           for n in e["nodes"]))
    out["checkpoint.driver_s"] = max(0.0, wall_s - spark_s)
    return out


def checkpoint_layers(wl) -> dict:
    from rca_pdf_extraction_pipeline_spark.plans import checkpoint

    zero = {"checkpoint.waves": 0, "checkpoint.files_written": 0,
            "checkpoint.bytes_written_per_input_byte": 0.0,
            "checkpoint.reprocessed_buckets": 0}
    if wl.name != "resume_job":
        return zero
    data = wl.table_dir / "data"
    files = [data / f"_bucket={b}" / f for b, fl in
             checkpoint.SnapshotManifest(wl.table_dir).committed_files().items()
             for f in (fl or [])]
    return {"checkpoint.waves": sum(r["waves_run"] for r in wl.reports),
            "checkpoint.files_written": len(files),
            "checkpoint.bytes_written_per_input_byte":
                sum(f.stat().st_size for f in files)
                / sum(f.stat().st_size for f in (wl.input_dir / "docs").iterdir()),
            "checkpoint.reprocessed_buckets": sum(c - 1 for c in wl.commit_counts() if c)}


def replay_kernels(spark, wl, max_batches: int = 16) -> dict:
    """Replay the 64-row Arrow batches of the extraction stage through the
    batch functions ``extract_documents`` runs, in its order, in this
    process.  Batches follow Spark's partitions after the salted
    repartition; at most ``max_batches``, evenly spaced, are replayed."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import extraction as ex
    from rca_pdf_extraction_pipeline_spark.operators import skew

    keys = ("kernels.flatten_s", "kernels.classify_s", "kernels.decode_s",
            "kernels.assemble_s")
    if wl.name == "html_main":
        return {**dict.fromkeys(keys, 0.0), "kernels.docs_per_cpu_s": 0.0,
                "kernels.table_doc_ratio": 0.0}
    path = str(wl.input_dir / "docs")
    placed = (skew.salted_repartition(spark.read.parquet(path), wl.cfg)
              .select("doc_id", F.spark_partition_id().alias("p")).collect())
    table = pq.read_table(path)
    row_of = {d: i for i, d in enumerate(table.column("doc_id").to_pylist())}
    batches, cur, cur_p = [], [], None
    for r in placed:
        if r.p != cur_p or len(cur) == wl.cfg.arrow_max_records:
            if cur:
                batches.append(cur)
            cur, cur_p = [], r.p
        cur.append(row_of[r.doc_id])
    if cur:
        batches.append(cur)
    step = max(1, len(batches) // max_batches)
    batches = batches[::step][:max_batches]

    cpu = dict.fromkeys(keys, 0.0)
    docs = table_docs = 0
    for rows in batches:
        batch = table.take(rows).combine_chunks().to_batches()[0]
        t0 = time.thread_time()
        flat = ex.flat_from_batch(batch)
        t1 = time.thread_time()
        cls = ex.classify_flat(flat, "doc_pos")
        table_pages = cls[cls["page_type"] == "table"][["doc_pos", "page"]]
        t2 = time.thread_time()
        samples, headers = ex._decode_table_pages(flat, table_pages, "doc_pos")
        t3 = time.thread_time()
        ex._assemble_batch(batch, {"flat": flat, "cls": cls, "table_pages": table_pages,
                                   "samples": samples, "headers": headers}, wl.cfg)
        t4 = time.thread_time()
        for k, dt in zip(keys, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            cpu[k] += dt
        docs += len(batch)
        table_docs += table_pages["doc_pos"].nunique()
    total = sum(cpu.values())
    out = {k: v * 1000 / docs for k, v in cpu.items()}   # CPU s per 1,000 docs
    out["kernels.docs_per_cpu_s"] = docs / total if total else 0.0
    out["kernels.table_doc_ratio"] = table_docs / docs
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

END_TO_END = {"docs_per_s": "doc/s", "setup_s": "s", "cpu_s_per_kdoc": "s/kdoc",
              "peak_rss_mb": "MB"}
#: the end-to-end metrics of the contract line; peak_rss_mb stays in the
#: record only, because the JVM's adaptive heap sizing moves it by up to
#: 50 % between identical runs
BOUNDED = ("docs_per_s", "setup_s", "cpu_s_per_kdoc")


class Session:
    """The set-ups, the timed window and the teardown of one run."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.spark = self.rss = self.store = None
        self.jvm_pid = 0
        self.samples: dict[str, list[float]] = {"setup_s": [], "get_spark_s": []}

    def set_up(self) -> None:
        """SETUPS times: a fresh session plus the warm-up pass (the first
        also launches the JVM); then one untimed full pass settles it."""
        from rca_pdf_extraction_pipeline_spark.session import get_spark

        for i in range(SETUPS):
            if self.spark is not None:
                # let the old session's Python workers exit, so that they
                # neither overlap the new ones in memory nor compete for CPU
                workers = probe.python_pids(self.jvm_pid)
                self.spark.stop()
                probe.wait_gone(workers, 10)
            t0 = time.perf_counter()
            with self.tracer.span("setup", index=i):
                with self.tracer.span("session.get_spark"):
                    self.spark = get_spark(
                        app_name=f"perfbench-{self.wl.name}",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
                self.samples["get_spark_s"].append(time.perf_counter() - t0)
                self.spark.sparkContext.setLogLevel("ERROR")
                if self.rss is None:
                    self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
                    self.rss = probe.PeakRss(self.jvm_pid)
                with self.tracer.span("warmup"):
                    self.wl.warmup(self.spark)
            self.samples["setup_s"].append(time.perf_counter() - t0)
        with self.tracer.span("settle"):
            self.wl.run_pass(self.spark)
        self.store = probe.StatusStore(self.spark)

    def window(self, seconds: float, traced: bool = False) -> list[float]:
        """Timed passes for ``seconds``, at least one; returns docs/s per
        pass.  Traced passes also read the status stores."""
        rates, t_end = [], time.perf_counter() + seconds
        while time.perf_counter() < t_end or not rates:
            before = self.store.last_id() if traced else None
            with self.tracer.span("pass", traced=traced) as attrs:
                wall = self.wl.run_pass(self.spark, self.tracer.span)
            rates.append(self.wl.docs / wall)
            if traced:
                with self.tracer.span("status_store.read"):
                    execs = self.store.executions_after(before)
                attrs["executions"] = execs
                for k, v in pass_layers(self.store, execs, self.wl.docs, wall).items():
                    self.samples.setdefault(k, []).append(v)
        return rates

    def measure(self, seconds: float, trace: bool) -> dict:
        """End-to-end samples; with ``trace`` also the per-layer medians."""
        cpu0 = probe.tree_cpu_s(self.jvm_pid)
        rates = self.window(seconds / 2 if trace else seconds)
        cpu_s = probe.tree_cpu_s(self.jvm_pid) - cpu0
        self.samples["docs_per_s"] = rates
        self.samples["cpu_s_per_kdoc"] = [cpu_s * 1000 / (self.wl.docs * len(rates))]
        # memory of set-up and timed passes only: the check that follows
        # grows the heap by a varying amount
        self.samples["peak_rss_mb"] = [self.rss.close() / 2 ** 20]
        if not trace:
            return {}
        traced = self.window(seconds / 2, traced=True)
        layers = {k: med(v) for k, v in self.samples.items() if "." in k}
        layers["session.get_spark_s"] = med(self.samples["get_spark_s"])
        layers.update(checkpoint_layers(self.wl))
        with self.tracer.span("kernels.replay"):
            layers.update(replay_kernels(self.spark, self.wl))
        layers["trace.overhead_docs_per_s"] = med(rates) - med(traced)
        return layers

    def close(self) -> None:
        if self.rss is not None:
            self.rss.close()
        stop_jvm()


def run(args) -> dict:
    env = host_env()
    load_start = load1()
    t_run = time.perf_counter()
    import gen
    from workloads import Workload

    from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG

    input_dir = gen.ensure(WORK, args.workload, args.seed, args.scale)
    phases = {"generate_s": time.perf_counter() - t_run}
    # two shuffle partitions per core, the job's --num-partitions sized for
    # this host (the package default, 32, was sized for a 32-core host)
    cfg = dataclasses.replace(DEFAULT_CONFIG,
                              num_partitions=2 * int(env["SPARK_GRAFT_CPUS"]))
    wl = Workload(args.workload, input_dir, WORK, cfg)
    tracer = probe.Tracer(bool(args.trace))
    sess = Session(wl, tracer)
    failed, problems, layers = 0, [], {}
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            sess.set_up()
            layers = sess.measure(args.seconds, bool(args.trace))
            t0 = time.perf_counter()
            with tracer.span("check"):
                failed, problems = wl.check(sess.spark)
            phases["check_s"] = time.perf_counter() - t0
    except Exception as e:  # a run that raises fails all its documents
        traceback.print_exc()
        failed, problems = wl.docs, [f"{type(e).__name__}: {e}"]
    finally:
        sess.close()
    tracer.write(WORK / "traces" / f"{args.workload}-s{args.seed}-{tracer.run_id}.json")
    return {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "trace": args.trace,
        "correct": failed == 0 and not problems, "attempted": wl.docs,
        "failed": failed, "error_rate": failed / wl.docs, "problems": problems,
        "end_to_end": {k: {"value": med(sess.samples.get(k, [])), "unit": unit,
                           "n": len(sess.samples.get(k, [])),
                           "samples": sess.samples.get(k, [])}
                       for k, unit in END_TO_END.items()},
        "per_layer": layers, "env": env, "num_partitions": cfg.num_partitions,
        "load1_start": load_start, "load1_end": load1(), "input": wl.meta,
        "phases": {**phases, "run_s": time.perf_counter() - t_run},
    }


def stop_jvm() -> None:
    """Stop Spark, end the JVM, and wait for its whole process tree."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = probe.tree_pids(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()       # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    probe.wait_gone(pids, 15)
    for pid in pids:
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    rec = run(args)
    WORK.mkdir(exist_ok=True)
    with open(WORK / "results.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")
    metrics = ({k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                for k, v in sorted(rec["per_layer"].items())} if args.trace else
               {k: {"value": rec["end_to_end"][k]["value"], "unit": END_TO_END[k]}
                for k in BOUNDED})
    print(json.dumps(rec))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process; one table."""
    print(f"{'workload':14} {'metric':16} {'value':>12} {'unit':8} n")
    ok = True
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0", "--scale", str(args.scale)]
        out = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode or len(lines) < 2:
            print(f"{w:14} FAILED (exit {out.returncode})\n{out.stderr[-2000:]}")
            ok = False
            continue
        rec = json.loads(lines[-2])
        ok &= rec["correct"]
        for k, m in rec["end_to_end"].items():
            print(f"{w:14} {k:16} {m['value']:12.4f} {m['unit']:8} {m['n']}")
        print(f"{w:14} {'error_rate':16} {rec['error_rate']:12.4f} {'share':8} "
              f"{rec['attempted']}")
    return 0 if ok else 1


PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "scan.time_s": "s", "scan.rows_per_doc": "rows/doc",
    "skew.sample_job_s": "s", "skew.exchange_bytes": "B",
    "skew.exchange_write_s": "s", "skew.fetch_wait_s": "s",
    "skew.task_max_over_median": "ratio",
    "extraction.python_start_s": "s", "extraction.python_init_s": "s",
    "extraction.python_run_s": "s", "extraction.bytes_to_python": "B",
    "extraction.bytes_from_python": "B", "extraction.tasks": "count",
    "extraction.init_share": "ratio",
    "kernels.flatten_s": "s/kdoc", "kernels.classify_s": "s/kdoc",
    "kernels.decode_s": "s/kdoc", "kernels.assemble_s": "s/kdoc",
    "kernels.docs_per_cpu_s": "doc/s", "kernels.table_doc_ratio": "ratio",
    "htmlparse.codegen_s": "s",
    "checkpoint.waves": "count", "checkpoint.write_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written_per_input_byte": "ratio",
    "checkpoint.driver_s": "s", "checkpoint.reprocessed_buckets": "count",
    "jvm.gc_s": "s", "jvm.task_deserialize_s": "s", "scheduler.tasks": "count",
    "trace.overhead_docs_per_s": "doc/s",
}

if __name__ == "__main__":
    sys.exit(main())
