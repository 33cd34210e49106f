"""tools/bench_scaling.py pooling, efficiency and output-agreement rules
over synthetic records — pure Python, no Spark session."""

from __future__ import annotations

import importlib.util
import inspect
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def bs():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", REPO / "tools" / "bench_scaling.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rec(level, best_s, size=100, host_cpus=4, digest="7", rows=10,
        family="winnow"):
    return {"family": family, "size": size, "level": level,
            "host_cpus": host_cpus, "git_rev": "abc", "times": [best_s],
            "best_s": best_s, "rows": rows, "digest": digest}


def test_pool_takes_the_per_level_minimum(bs):
    pooled = bs.pool([rec(1, 9.0), rec(1, 8.0), rec(4, 3.0), rec(4, 2.5),
                      rec(1, 8.5)])
    assert pooled == {("winnow", 100, 4): {1: 8.0, 4: 2.5}}


def test_pool_never_crosses_size_or_host_cpus(bs):
    pooled = bs.pool([rec(1, 9.0), rec(1, 1.0, size=200),
                      rec(1, 2.0, host_cpus=32)])
    assert pooled == {("winnow", 100, 4): {1: 9.0},
                      ("winnow", 200, 4): {1: 1.0},
                      ("winnow", 100, 32): {1: 2.0}}


def test_efficiency_is_speedup_over_ideal(bs):
    assert bs.efficiency(8.0, 2.0, 1, 4) == pytest.approx(1.0)
    assert bs.efficiency(10.0, 4.0, 4, 16) == pytest.approx(0.625)


def test_output_disagreement_exits_nonzero(bs, capsys):
    assert bs.report([rec(1, 8.0), rec(4, 2.0)], ["winnow"]) == 0
    assert "1->4 1.000" in capsys.readouterr().out
    assert bs.report([rec(1, 8.0), rec(4, 2.0, digest="8")], ["winnow"]) == 1
    assert bs.report([rec(1, 8.0), rec(4, 2.0, rows=11)], ["winnow"]) == 1
    # another size is another output: no disagreement
    assert bs.report([rec(1, 8.0), rec(4, 2.0, size=7, digest="8")],
                     ["winnow"]) == 0


def test_imported_records_without_digest_do_not_trip_the_check(bs):
    imported = rec(4, 1.0, host_cpus=32, digest=None, rows=None)
    imported["source"] = "FAMILY_SCALING_R12.md"
    assert bs.disagreements([rec(1, 8.0), imported]) == []
    imported["rows"] = 10
    assert bs.disagreements([rec(1, 8.0), imported]) == []


def test_every_family_names_an_existing_recipe(bs):
    assert len(bs.REGISTRY) >= 25
    for name, fam in bs.REGISTRY.items():
        assert fam.recipe in bs.RECIPES, name
        assert fam.size > 0 and callable(fam.query), name


def test_committed_records_agree_and_name_known_families(bs):
    records = bs.load()
    assert records, "BENCH/SCALING.jsonl is empty"
    assert {r["family"] for r in records} <= set(bs.REGISTRY)
    assert bs.disagreements(records) == []


def test_every_op_family_binds_to_its_operator(bs):
    """``_op`` forwards its arguments through ``*args``/``**kwargs``, so
    the defaulted-parameter scan (test_no_dead_defs) cannot see them:
    bind each family's arguments to its operator's signature, so that a
    removed parameter fails here and not halfway through a scaling run."""
    ops = {name: fam.query for name, fam in bs.REGISTRY.items()
           if hasattr(fam.query, "operator")}
    assert {"winnow", "winnow_pairs", "sq8", "bpe_train"} <= set(ops)
    for name, q in ops.items():
        # the first argument is the table, which _op passes itself
        inspect.signature(q.operator()).bind(None, *q.args, **q.kwargs)
