"""Smoke test of the benchmark itself:  python3 perfbench/smoke.py

1. the generator is byte-identical for the same seed;
2. the expected-output derivation reproduces
   ``fixtures.expected_golden_output`` for a golden replica;
3. every workload runs at a tiny size with ``--trace 1``, its output checks
   out, and every metric named in BENCHMARK.json is reported.

Exits 0 when all hold.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

import gen  # noqa: E402
from rca_pdf_extraction_pipeline_spark.sources import fixtures as fx  # noqa: E402

SCALE = 0.02
SMOKE = ROOT / ".perfbench_work" / "smoke"


def check_deterministic() -> list[str]:
    problems = []
    for w in gen.WORKLOADS:
        dirs = [gen.ensure(SMOKE / f"gen{i}", w, seed=7, scale=SCALE) for i in (0, 1)]
        files = sorted(p.relative_to(dirs[0]) for p in dirs[0].rglob("*") if p.is_file())
        for f in files:
            if (dirs[0] / f).read_bytes() != (dirs[1] / f).read_bytes():
                problems.append(f"{w}: {f} differs between two generations of seed 7")
    return problems


def check_golden_expectation() -> list[str]:
    want = fx.expected_golden_output()["spans"]
    got = gen.expected_table_spans([(p, str(p)) for p in (39, 40, 41, 42)])
    if got != want or gen.digest(got) != gen.digest(want):
        return ["expected_table_spans(all golden table pages) != expected_golden_output"]
    return []


def check_runs() -> list[str]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    problems: list[str] = []
    for w in gen.WORKLOADS:
        before = len(problems)
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "3",
             "--seconds", "1", "--trace", "1", "--scale", str(SCALE)],
            capture_output=True, text=True, timeout=300, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode or len(lines) < 2:
            problems.append(f"{w}: exit {out.returncode}\n{out.stderr[-1500:]}")
            continue
        rec, last = json.loads(lines[-2]), json.loads(lines[-1])
        if not last["correct"]:
            problems.append(f"{w}: incorrect output: {rec['problems']}")
        if not e2e <= set(rec["end_to_end"]):
            problems.append(f"{w}: end-to-end metrics {sorted(rec['end_to_end'])}")
        if set(last["metrics"]) != layers:
            problems.append(f"{w}: per-layer metrics differ by "
                            f"{sorted(set(last['metrics']) ^ layers)}")
        print(f"{w}: ok={len(problems) == before} run_s={rec['phases']['run_s']:.0f}",
              flush=True)
    return problems


def main() -> int:
    shutil.rmtree(SMOKE, ignore_errors=True)
    problems = check_deterministic() + check_golden_expectation() + check_runs()
    shutil.rmtree(SMOKE, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
