"""Smoke test of the benchmark itself: every workload at a tiny input with a
fixed seed, checking that each run passes the oracle check and prints every
metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own JVM; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_block", "extract_glyph", "resume_job", "warc_ingest")
# per-layer metrics only the writing workload has
RESUME_ONLY = {"pipeline.chunk_s", "pipeline.validate_s",
               "pipeline.manifest_commit_s", "pipeline.write_bytes",
               "pipeline.out_bytes_per_doc"}


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--docs", "120"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _check(result: dict, stdout: str, declared: dict[str, str]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    mismatch = re.search(r"^\s*mismatch_frac\s+(\S+)", stdout, re.M)
    assert mismatch and float(mismatch.group(1)) == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert {k: got.get(k) for k in declared} == declared
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        assert re.search(rf"^\s*{re.escape(name)}\s+\S+\s+{re.escape(m['unit'])}$",
                         stdout, re.M), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result, stdout = _run(workload, trace=0)
    declared = _declared("end_to_end")
    _check(result, stdout, declared)
    assert set(result["metrics"]) == set(declared)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", ("warc_ingest", "resume_job"))
def test_traced_run_prints_every_per_layer_metric(workload):
    result, stdout = _run(workload, trace=1)
    declared = _declared("per_layer")
    _check(result, stdout, declared)
    extra = RESUME_ONLY if workload == "resume_job" else set()
    assert set(result["metrics"]) == set(declared) | extra
    assert result["metrics"]["sources.warc.records"]["value"] == (
        120 if workload == "warc_ingest" else 0)


def test_refuses_to_run_without_the_engine(tmp_path):
    """Copied alone (no engine beside it), the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_block",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
