"""Smoke test of the benchmark itself (not part of the engine's test suite).

    python3 -m pytest perfbench/smoke.py -q

The file name keeps it out of pytest's default discovery: it sets
process-wide environment variables and stops the gateway JVM at the end, so
it must not share a process with the engine's own tests.

One pass per workload on quarter-size inputs: every end-to-end metric is
printed with its unit, the traced run emits the per-layer metrics and its
tracing overhead, and a deliberately wrong expected fingerprint is counted
as a failure. Takes a few minutes. All runs share one gateway JVM (see
``run.stop_gateway``), so set-up times here are not comparable to the CLI's.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench import workloads  # noqa: E402

SCALE = 0.25


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) from the human-readable metric rows."""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) >= 3 and line.startswith("  "):
            try:
                out[parts[0]] = (float(parts[1]), parts[2])
            except ValueError:
                continue
    return out


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_one_pass_prints_every_metric(workload):
    result, lines = bench.run(workload, seed=1, seconds=0, trace=False, scale=SCALE)
    assert result["correct"], lines
    assert result["attempted"] >= 1 and result["failed"] == 0
    for m in _spec()["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    printed = _printed(lines)
    want = {"setup_s": "s", "pass_s": "s", "fail_ratio": "ratio", "peak_rss_mb": "MB"}
    if workload in workloads.RESUME:
        want.update(full_build_s="s", space_amp="bytes/byte")
    for name, unit in want.items():
        assert printed[name][1] == unit, (name, lines)
    assert printed["fail_ratio"][0] == 0


def test_wrong_fingerprint_raises_fail_ratio(monkeypatch):
    oracle = workloads.oracle_fingerprints

    def wrong_zonal_raster(in_dir, names):
        return {**oracle(in_dir, names), "zonal_raster": "0:wrong"}

    monkeypatch.setattr(workloads, "oracle_fingerprints", wrong_zonal_raster)
    result, lines = bench.run("docs_zonal", seed=1, seconds=0, trace=False, scale=SCALE)
    assert not result["correct"] and result["failed"] >= 1
    assert _printed(lines)["fail_ratio"][0] > 0
    assert any(line.startswith("FAILED zonal_raster") for line in lines)


def test_traced_run_emits_per_layer_metrics():
    result, lines = bench.run("docs_zonal", seed=1, seconds=0, trace=True, scale=SCALE)
    assert result["correct"]
    for m in _spec()["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    printed = _printed(lines)
    for name in ("docs.decode_s", "media.load_lidar_s", "operators.zonal.s", "python.run_s"):
        assert name in printed, lines
    assert any("tracing_overhead_s=" in line for line in lines)


def teardown_module():
    bench.stop_gateway()
