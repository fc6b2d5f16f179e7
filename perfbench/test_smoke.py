"""Tiny-size smoke test of every workload and of the output schema.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end at minimal size (``--scale tiny``), once
untraced and once traced, and its last output line must match the
metric names and units of BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import Tracer
from perfbench.query_mix import BLOCK
from perfbench.registry_ops import EXCLUDED, panel
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = _spec()["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_names_workloads_the_runner_knows():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_tiny(workload, trace):
    proc = _run(ROOT, workload, trace, "--scale", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    expected = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected
    }
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(str(tmp_path), "ingest_live", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_panel_is_fixed_and_stratified():
    def entry(module):
        def fn(spark, sf_dir):
            return None

        fn.__module__ = module
        return fn

    queries = {f"q{m}_{i}": entry(f"plans.m{m}") for m in range(5) for i in range(4)}
    queries.update({name: entry("plans.m0") for name in EXCLUDED})
    first = panel(queries, 5)
    assert first == panel(queries, 5)
    assert len({queries[n].__module__ for n in first}) == 5
    assert not set(first) & set(EXCLUDED)


def test_flagship_queries_set_the_median():
    # More than half of a block's ops are flagship queries, so the median
    # op is a flagship query whatever the other ops cost.
    assert 2 * BLOCK.count("flagship") > len(BLOCK)


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer", op=0):
        with tr.span("inner", op=0):
            pass
    s = tr.spans
    own = tr.self_ms()
    assert own["inner"] == pytest.approx((s[1].end - s[1].start) * 1e3)
    assert own["outer"] == pytest.approx((s[0].end - s[0].start - (s[1].end - s[1].start)) * 1e3)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
