"""Tests of the benchmark itself. Run them alone, never beside the test suite
or another benchmark run:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import checks
import inputs
import run

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def _write_output(out_dir: Path, rows_per_month: dict[str, int], sha: str) -> None:
    """A run output as ``QualityFilterPipeline.run`` leaves it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    months = {}
    for m, n in rows_per_month.items():
        part = out_dir / "data" / f"month={m}"
        part.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": list(range(n))}), part / "part-0.parquet")
        months[m] = {"month": m, "state": "completed", "metrics": {"rows": n, "kept": n // 2}}
    manifest = {"run_id": "bench", "state": "completed", "completed_batches": months}
    (out_dir / "manifest.json").write_text(json.dumps(manifest))
    events = [
        {"event": "input_fingerprint", "run_id": "bench", "rows": sum(rows_per_month.values()),
         "content_sha256": sha},
        {"event": "write_committed", "run_id": "bench", "elapsed_sec": 0.5},
    ]
    (out_dir / "audit.jsonl").write_text("".join(json.dumps(e) + "\n" for e in events))


def test_corrupted_manifest_counts_as_failed(tmp_path):
    expect = checks.Expect(docs=10, content_sha256="abc")
    tally = checks.Tally()

    def good(out_dir):
        _write_output(out_dir, {"2023-01": 4, "2023-02": 6}, "abc")

    def corrupt(out_dir):
        good(out_dir)
        m = json.loads((out_dir / "manifest.json").read_text())
        m["completed_batches"]["2023-02"]["metrics"]["rows"] = 5
        (out_dir / "manifest.json").write_text(json.dumps(m))

    assert tally.attempt(good, tmp_path / "a", expect, lambda: 0.0)["ok"]
    rec = tally.attempt(corrupt, tmp_path / "b", expect, lambda: 0.0)
    assert not rec["ok"] and any("manifest rows" in p for p in rec["problems"])
    assert (tally.attempted, tally.failed) == (2, 1)


@pytest.mark.parametrize(
    "damage, expected",
    [
        (lambda d: (d / "manifest.json").write_text('{"state": "processing"}'), "manifest state"),
        (lambda d: (d / "manifest.json").write_text("{not json"), "unreadable output"),
        (lambda d: next((d / "data").rglob("*.parquet")).unlink(), "parquet rows"),
        (lambda d: (d / "audit.jsonl").write_text(""), "fingerprint"),
    ],
)
def test_damaged_output_fails_check(tmp_path, damage, expected):
    expect = checks.Expect(docs=10, content_sha256="abc")
    _write_output(tmp_path, {"2023-01": 4, "2023-02": 6}, "abc")
    assert checks.check_output(tmp_path, expect) == []
    damage(tmp_path)
    problems = checks.check_output(tmp_path, expect)
    assert any(expected in p for p in problems), problems


def test_month_metrics_must_repeat_across_runs(tmp_path):
    expect = checks.Expect(docs=10, content_sha256="abc")
    _write_output(tmp_path / "a", {"2023-01": 4, "2023-02": 6}, "abc")
    _write_output(tmp_path / "b", {"2023-01": 5, "2023-02": 5}, "abc")
    assert checks.check_output(tmp_path / "a", expect) == []
    assert any("per-month metrics" in p for p in checks.check_output(tmp_path / "b", expect))


def test_workload_documents_are_deterministic_and_shaped():
    for w in inputs.WORKLOAD_DOCS:
        assert inputs.make_doc(w, 7, seed=3) == inputs.make_doc(w, 7, seed=3)
        assert inputs.make_doc(w, 7, seed=3) != inputs.make_doc(w, 7, seed=4)
    long = [inputs.make_doc("long_pages", i, 1)["text"] for i in range(5)]
    assert all(len(t.encode()) > 20_000 and len(t.split()) > 4000 for t in long)
    stub = [inputs.make_doc("stub_pages", i, 1)["text"] for i in range(50)]
    assert all(3 <= len(t.split()) <= 8 for t in stub)


def test_metric_names_and_units_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert run.END_TO_END_UNITS == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert run.PER_LAYER_UNITS == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} == set(inputs.WORKLOAD_DOCS)


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: no result, non-zero exit."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stub_pages", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_smoke_traced_run():
    """A tiny traced run: it runs the untraced benchmark as a child, so both
    result lines are produced and parsed."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stub_pages", "--seed", "1",
         "--seconds", "1", "--trace", "1", "--docs", "96"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = out.stdout.strip().splitlines()[-1]
    assert len(last) < 2000
    result = json.loads(last)
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 10
    assert set(result["metrics"]) == set(run.PER_LAYER_UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == run.PER_LAYER_UNITS[name] and isinstance(m["value"], float), name
