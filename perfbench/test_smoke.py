"""Smoke check of the benchmark: tiny inputs, each workload run once with
tracing off and once with it on; every metric BENCHMARK.json names must be
printed with its unit, and the outputs must check out.

    python3 -m pytest perfbench/test_smoke.py -q    (about four minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _running_in(cwd: str) -> set[int]:
    """Processes whose working directory is ``cwd``: every process the
    benchmark starts inherits it from the run."""
    out = set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.readlink(f"/proc/{name}/cwd") == cwd:
                    out.add(int(name))
            except OSError:  # exited, or not ours to read
                continue
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_present(workload: str, trace: int) -> None:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    before = _running_in(ROOT)
    # output goes to files, not pipes: waiting for a pipe's end would also
    # wait for any process that inherited it
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=err, timeout=600).returncode
        left = _running_in(ROOT) - before
        out.seek(0), err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert code == 0, stderr[-3000:]
    assert not left, f"processes outlived the run: {sorted(left)}"
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, stderr[-3000:]
    assert result["attempted"] >= 1 and result["failed"] == 0
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
