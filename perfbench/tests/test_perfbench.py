"""Tests of the benchmark itself: its names match BENCHMARK.json, a tiny run
of every workload checks clean, and planted faults are caught.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from perfbench import checks, inputs  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd: Path = REPO) -> tuple[int, dict | None, str]:
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--size", "40"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = res.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return res.returncode, last, res.stderr


def test_benchmark_workloads_are_the_runnable_ones():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_untraced_run_checks_clean(workload):
    code, out, err = _run(workload, 0)
    assert code == 0, err[-2000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["unit"] == units[k] and v["value"] > 0 for k, v in out["metrics"].items())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_prints_every_layer_metric(workload):
    code, out, err = _run(workload, 1)
    assert code == 0, err[-2000:]
    assert out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in out["metrics"].items())


def test_missing_program_exits_nonzero_without_result(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    code, out, _ = _run(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert code != 0 and out is None


def test_inputs_are_a_function_of_the_seed():
    assert inputs.documents_rows(50, 9) == inputs.documents_rows(50, 9)
    assert inputs.documents_rows(50, 9) != inputs.documents_rows(50, 10)


def _page_truth():
    return [
        {"url": "u1", "kind": "html", "has_error": False, "text": "Café text"},
        {"url": "u2", "kind": "pdf", "has_error": False, "text": None},
        {"url": "u3", "kind": "error", "has_error": True, "text": None},
    ]


def _page_rows():
    return [
        {"url": "u1", "kind": "html", "error": None, "text": "Café text"},
        {"url": "u2", "kind": "pdf", "error": None, "text": "page text\n"},
        {"url": "u3", "kind": "error", "error": "pdf: truncated", "text": None},
    ]


def test_clean_pages_pass():
    assert checks.check_pages(_page_rows(), _page_truth()) == []


def test_dropped_url_fails():
    assert len(checks.check_pages(_page_rows()[1:], _page_truth())) == 1


def test_repeated_url_fails():
    rows = _page_rows()
    assert len(checks.check_pages(rows + rows[:1], _page_truth())) == 1


def test_flipped_text_byte_fails():
    rows = _page_rows()
    raw = bytearray(rows[0]["text"].encode("utf-8"))
    raw[0] ^= 0x01
    rows[0]["text"] = raw.decode("utf-8")
    assert len(checks.check_pages(rows, _page_truth())) == 1


def test_wrong_kind_or_error_fails():
    rows = _page_rows()
    rows[2]["error"] = None
    assert len(checks.check_pages(rows, _page_truth())) == 1


def test_incomplete_manifest_fails():
    manifest = {p: {"docs": 10} for p in range(15)}
    assert len(checks.check_manifest(manifest, 16, 160)) == 2
    manifest[15] = {"docs": 10}
    assert checks.check_manifest(manifest, 16, 160) == []


def test_altered_query_row_fails():
    got = pd.DataFrame({"doc_id": [1, 2, 3], "n": [4, 5, 6]})
    exp = pd.DataFrame({"DOC_ID": [3, 2, 1], "N": [6, 5, 4]})
    assert checks.same_result(got, exp)
    altered = got.copy()
    altered.loc[1, "n"] = 7
    assert not checks.same_result(altered, exp)
    assert not checks.same_result(got.iloc[:2], exp)
    assert not checks.same_result(got.astype({"n": float}), exp)
