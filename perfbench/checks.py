"""Correctness checks on what a benchmarked ``run()`` leaves behind.

Every run is checked from its output directory alone:

* ``manifest.json`` is ``completed`` and every month in it is ``completed``;
* the rows in the written parquet files (read from their footers) and the
  manifest's per-month ``rows`` both equal the input's row count;
* the run's audited input fingerprint equals the input's;
* the per-month manifest metrics equal those of every other run of the same
  seed.

Once per invocation a fixed sample of the written rows is also compared with
the single-process reference labeler (``tests/reference_labeler.py``) under
the same gate as ``tests/test_quality_filter.py``: keep/drop F1 ≥ 0.99 and
byte-identical scrubbed text.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

REFERENCE_SAMPLE = 256  # at most this many documents go to the reference labeler
MIN_F1 = 0.99


@dataclass
class Expect:
    """What every run of one input must produce."""

    docs: int
    content_sha256: str | None  # None: the fingerprint is not checked
    month_metrics: dict | None = None  # filled from the first checked run


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def parquet_rows(path: Path) -> tuple[int, int]:
    """(rows, files) over the parquet file at ``path`` or the parquet files
    under it, from their footers."""
    import pyarrow.parquet as pq

    files = [path] if path.is_file() else list(path.rglob("*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), len(files)


def check_output(out_dir: Path, expect: Expect) -> list[str]:
    """Problems found in one run's output directory; empty when it is right."""
    try:
        manifest = json.loads((out_dir / "manifest.json").read_text())
        events = [
            json.loads(line)
            for line in (out_dir / "audit.jsonl").read_text().splitlines()
            if line.strip()
        ]
        rows_written, _ = parquet_rows(out_dir / "data")
    except (OSError, ValueError) as e:
        return [f"unreadable output: {type(e).__name__}: {e}"]
    problems = []
    if manifest.get("state") != "completed":
        problems.append(f"manifest state {manifest.get('state')!r}")
    batches = manifest.get("completed_batches") or {}
    months = {}
    for m, entry in batches.items():
        if not isinstance(entry, dict) or entry.get("state") != "completed":
            problems.append(f"month {m} not completed")
            continue
        months[m] = entry.get("metrics") or {}
    manifest_rows = sum(int(v.get("rows") or 0) for v in months.values())
    if rows_written != expect.docs:
        problems.append(f"parquet rows {rows_written} != input rows {expect.docs}")
    if manifest_rows != expect.docs:
        problems.append(f"manifest rows {manifest_rows} != input rows {expect.docs}")
    fps = [e for e in events if e.get("event") == "input_fingerprint"]
    if expect.content_sha256 is not None and (
        not fps or fps[-1].get("content_sha256") != expect.content_sha256
    ):
        problems.append("audited input fingerprint differs from the input's")
    if not problems:
        if expect.month_metrics is None:
            expect.month_metrics = months
        elif months != expect.month_metrics:
            diff = sorted(
                m for m in set(months) | set(expect.month_metrics)
                if months.get(m) != expect.month_metrics.get(m)
            )
            problems.append(f"per-month metrics differ from earlier runs in {diff[:5]}")
    return problems


@dataclass
class Tally:
    """Runs attempted and failed; a run fails if it raises or its output
    check finds a problem."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def attempt(
        self,
        run: Callable[[Path], object],
        out_dir: Path,
        expect: Expect,
        cpu_s: Callable[[], float],
    ) -> dict:
        """Time ``run(out_dir)`` (wall and tree CPU), then check its output
        outside the timed interval."""
        self.attempted += 1
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            run(out_dir)
            error = None
        except Exception as e:  # a failed run is counted, and the benchmark goes on
            error = f"{type(e).__name__}: {e}"[:300]
        wall, cpu = time.perf_counter() - t0, cpu_s() - c0
        problems = [error] if error else check_output(out_dir, expect)
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        return {"ok": not problems, "wall_s": wall, "cpu_s": cpu, "problems": problems}


def reference_check(spark, data_dir: Path, docs: int) -> dict:
    """Compare a fixed sample of one run's written rows with the reference
    labeler: keep/drop F1 and byte-identical scrubbed text."""
    from pyspark.sql import functions as F

    from tests import reference_labeler as ref

    # every 4th document at least: the labeler is single-threaded Python
    step = max(4, -(-docs // REFERENCE_SAMPLE))
    rows = (
        spark.read.parquet(str(data_dir))
        .filter(F.col("doc_id") % step == 0)
        .select("doc_id", "text", "keep", "scrubbed_text")
        .orderBy("doc_id")
        .collect()
    )
    labels = ref.label_batch([r["text"] for r in rows])
    tp = sum(1 for r, l in zip(rows, labels) if r["keep"] and l["keep"])
    fp = sum(1 for r, l in zip(rows, labels) if r["keep"] and not l["keep"])
    fn = sum(1 for r, l in zip(rows, labels) if not r["keep"] and l["keep"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    scrub_mismatch = sum(
        1 for r, l in zip(rows, labels) if r["scrubbed_text"] != l["scrubbed_text"]
    )
    expected = len(range(0, docs, step))
    ok = len(rows) == expected and f1 >= MIN_F1 and scrub_mismatch == 0
    return {
        "ok": ok,
        "sample": len(rows),
        "expected_sample": expected,
        "f1": f1,
        "scrub_mismatches": scrub_mismatch,
    }
