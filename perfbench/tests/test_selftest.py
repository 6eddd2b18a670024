"""Self-test of the benchmark at sf0.001, a few minutes in all.

    python3 -m pytest perfbench/tests -q

Every workload runs briefly, untraced and traced, and must print exactly
the metric names and units that BENCHMARK.json declares, with every
answer correct; every metric whose hook applies to the workload must
read above 0. A deliberately wrong expectation in the client-side
answer model must show up as ``failed`` without crashing the run, and
the command must refuse to run without the engine beside it. Runs share
the checkout's work directory, so run one benchmark at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
ARGS = ["--seed", "3", "--seconds", "1", "--scale", "sf0.001"]
#: Per-layer metrics that may read 0 in a correct traced run: no task
#: fails and nothing spills at these scales, and plan_service runs no
#: headline query. Every other metric comes from a hook that must fire.
MAY_BE_ZERO = {"spark.failed_tasks", "spark.spill_bytes"}
HEADLINE_LAYERS = ("plans.", "streaming.", "operators.dedup.", "operators.vectors.")


def may_be_zero(workload: str, trace: int) -> set[str]:
    if not trace:
        return set()
    if workload == "plan_service":
        return MAY_BE_ZERO | {
            m["name"] for m in SPEC["per_layer"] if m["name"].startswith(HEADLINE_LAYERS)
        }
    return MAY_BE_ZERO


def last_line(cmd: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        out = None
    return p.returncode, out, p.stderr[-3000:]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_prints_the_declared_metrics(workload, trace):
    code, out, err = last_line(
        [*SPEC["command"], "--workload", workload, "--trace", str(trace), *ARGS]
    )
    assert code == 0, err
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m: v["unit"] for m, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    zero_ok = may_be_zero(workload, trace)
    for m, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)) and not isinstance(v["value"], bool), m
        assert v["value"] > 0 or m in zero_ok, m


def test_wrong_expected_count_is_counted_as_failed():
    # the model expects one more than the service's true count
    code, out, err = last_line([
        sys.executable, "-c",
        "import sys; from perfbench import run, service; "
        "service.Model.expected_count = lambda self: self.count + 1; "
        f"sys.exit(run.main({['--workload', 'plan_service', '--trace', '0', *ARGS]!r}))",
    ])
    assert code == 0, err
    assert out["correct"] is False
    assert 0 < out["failed"] < out["attempted"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, out, _ = last_line(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--trace", "0", *ARGS], cwd=str(tmp_path),
    )
    assert code != 0 and out is None
