"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once traced (every per-layer metric printed with its
unit, the layer predictions hold) and once with a corrupted output (the
failure shows in failed_op_frac). A directory holding only BENCHMARK.json
and perfbench/ must make the benchmark fail without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics, reference  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [*BENCH["command"], "--seed", "3", "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


def printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        name, eq, rest = line.partition(" = ")
        if eq:
            value, unit = rest.split(" ")
            out[name] = (float(value), unit)
    return out


def test_declarations_match_benchmark_json():
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]


def test_reference_cuts_a_span_repeated_across_docs():
    shared = "the boiler plate span that repeats in both docs"
    a = " ".join(f"w{i}" if i % 8 else "the" for i in range(30)) + " " + shared
    b = shared + " " + " ".join(f"v{i}" if i % 8 else "of" for i in range(30))
    rows = reference.clean_docs([(1, a, "en", "web"), (2, b, "de", "books")])
    assert [r[0] for r in rows] == [1, 2]
    assert all(shared not in r[4] and "w29" in r[4] or "v29" in r[4] for r in rows)
    assert reference.digest(rows) == reference.digest(list(reversed(rows)))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    rc, lines = bench("--workload", workload, "--trace", "1", "--scale", "tiny")
    assert rc == 0, lines
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    shown = printed(lines[:-1])
    for name, unit, _ in metrics.PER_LAYER:
        assert result["metrics"][name]["unit"] == unit
        assert shown[name][1] == unit
    assert set(result["metrics"]) == {m[0] for m in metrics.PER_LAYER}
    for name, unit, *_ in metrics.END_TO_END:
        assert shown[name][1] == unit
    assert shown["trace.zero_predictions_hold"][0] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_output_counts_as_failed(workload):
    rc, lines = bench("--workload", workload, "--trace", "0", "--scale", "tiny", "--inject-fault")
    assert rc == 0, lines
    result = json.loads(lines[-1])
    assert set(result["metrics"]) == {m[0] for m in metrics.END_TO_END}
    for name, unit, *_ in metrics.END_TO_END:
        assert result["metrics"][name]["unit"] == unit
    assert not result["correct"] and result["failed"] >= 1
    assert result["metrics"]["ok_op_frac"]["value"] < 1
    assert printed(lines[:-1])["failed_op_frac"][0] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
