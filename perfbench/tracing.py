"""Spans recorded around the benchmark's calls into the program, and the
Spark event log folded into per-span task metrics.

A span has a name, start, end and parent, and tags every Spark job it starts
with ``setJobDescription(<span id>)``. The uncompressed event log then maps
each stage to the span that started it, so task CPU, GC, shuffle bytes and
the Python-UDF SQL metrics can be summed per span.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Stage accumulables kept per span: task metrics, then the SQL metrics of
# the Arrow Python UDF operator (pyspark 4).
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_in_bytes",
    "data returned from Python workers": "py_out_bytes",
}


def event_log_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(f"span:{self._stack[-1]}" if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]


def stage_metrics_by_span(log_dir: Path) -> dict[int, dict[str, float]]:
    """Sum the :data:`STAGE_METRICS` of completed stages per span id."""
    stage_span: dict[int, int] = {}
    per_span: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith("span:"):
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = int(desc[5:])
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    sid = stage_span.get(info["Stage ID"])
                    if sid is None or info.get("Failure Reason"):
                        continue
                    acc = per_span[sid]
                    for a in info.get("Accumulables", []):
                        key = STAGE_METRICS.get(a.get("Name"))
                        if key is not None:
                            try:
                                acc[key] += float(a.get("Value"))
                            except (TypeError, ValueError):
                                pass
    return {k: dict(v) for k, v in per_span.items()}
