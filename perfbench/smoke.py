"""Smoke test of the benchmark itself, at smoke size (a few hundred pages).

    python3 -m pytest perfbench/smoke.py -q

Runs every workload listed in BENCHMARK.json untraced and traced, and the
curate workload untraced, and checks the last stdout line: the four keys,
a correct run, and exactly the metrics BENCHMARK.json names, each a number
with its unit. Then flips one ``keep`` bit in the oracle's labels for a
seed's pages and checks that the output check refuses them. Takes several
minutes: each run starts its own Spark JVMs. The file name keeps it out of
a plain ``pytest`` collection of the repository.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
        "--size", "smoke",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_result(res: dict, names: list[str], units: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == names
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
        assert m["unit"] == units[name], name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["curate"])
def test_end_to_end_metrics(workload):
    spec = SPEC["end_to_end"]
    assert_result(run(workload, 0), [m["name"] for m in spec], {m["name"]: m["unit"] for m in spec})


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics(workload):
    spec = SPEC["per_layer"]
    assert_result(run(workload, 1), [m["name"] for m in spec], {m["name"]: m["unit"] for m in spec})


def test_flipped_keep_bit_fails_the_check(tmp_path):
    import checks
    import inputs

    pages = inputs.filter_pages(SEED, str(tmp_path / "pages"), 2, "smoke")
    golden = inputs.golden(pages.pdf)
    digest = checks.label_digest(golden)
    out = golden.copy()
    assert checks.check_labels(out, golden, digest)["keep_f1"] == 1.0
    out.loc[0, "keep"] = not out.loc[0, "keep"]
    with pytest.raises(checks.CheckFailed):
        checks.check_labels(out, golden, digest)
