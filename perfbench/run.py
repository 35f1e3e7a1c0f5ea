"""Steady-state end-to-end benchmark of ``QualityFilterPipeline.run``.

    python3 perfbench/run.py --workload long_pages --seed 1 --seconds 10 --trace 0

One process drives one long-lived ``session.get_spark()`` session at
``local[<cores>]`` and times the job users run: parquet pages → scores →
salted partitioned write → completed manifest. Warm-up runs (JVM class
loading, codegen, JIT, Python worker start) are charged to ``setup_s``;
then ``run()`` repeats, each time into a fresh output path, until the timed
runs add up to ``--seconds``. Every run is checked (``checks.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
``--trace 0`` as a child process for the untraced throughput, then repeats
the runs in a session with the Spark event log on and times each layer's
public functions on the same input, printing the per-layer metrics. Spans
and per-run records go to ``perfbench/.work/results/``. The last stdout line
is one JSON object of scalars.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

# Warm-up: the first run pays class loading, codegen and Python worker start;
# the JIT then needs many more run()s before it settles. Small "primer" runs
# over one input file get through the per-run code paths (planning, job
# submission, commit, read-back) cheaply, and full-size runs then warm the
# per-row code.
PRIMER_RUNS = 5
FULL_WARMUP_RUNS = 2
MIN_TIMED_RUNS = 3
MAX_ATTEMPTS = 40  # stops a run of failures from looping for the whole window
LAYER_REPS = 3  # the median drops the first, which compiles each new plan

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
    "setup_s": "s",
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _confine_files() -> None:
    """Point every scratch file of Python, the JVM and Spark into WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    tempfile.tempdir = None


def _session_conf(model_dir: Path, event_log: Path | None) -> dict[str, str]:
    from tracing import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        # workers import workerhook/sitecustomize.py, which moves the
        # model-weight cache into WORK
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([str(ROOT), str(BENCH / "workerhook")]),
        "spark.executorEnv.PERFBENCH_MODEL_DIR": str(model_dir),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(event_log_conf(event_log))
    return conf


def _prepare_models(model_dir: Path) -> None:
    """Train (or load) the model weights once in the driver, so workers only
    load them and no run pays for training."""
    from data_profiler_spark.functions import textmodel

    textmodel._MODEL_CACHE_DIR = str(model_dir)
    textmodel.langid_model()
    textmodel.perplexity_model()


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from procs import alive, tree_pids

    started = tree_pids()[1:]
    _log(f"stopping Spark; waiting for {len(started)} processes")
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in started:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if alive(pid):
            _log(f"killing process {pid}, which outlived the JVM")
            os.kill(pid, 9)
    _log("all processes ended")


def _write_committed_s(out_dir: Path) -> float | None:
    for line in reversed((out_dir / "audit.jsonl").read_text().splitlines()):
        ev = json.loads(line)
        if ev.get("event") == "write_committed":
            return float(ev["elapsed_sec"])
    return None


def _untraced(args) -> dict:
    """Run this benchmark with ``--trace 0`` in a child process."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def measure(args) -> dict:
    import checks
    import inputs
    from tracing import Tracer, stage_metrics_by_span

    cores = len(os.sched_getaffinity(0))
    docs = args.docs or inputs.WORKLOAD_DOCS[args.workload]
    n_files = 4 * cores
    inp = inputs.ensure_input(WORK / "inputs", args.workload, args.seed, docs, n_files)
    model_dir = WORK / "models"
    _prepare_models(model_dir)
    _log(f"input ready: {inp.path.name}")
    untraced = _untraced(args) if args.trace else None

    from data_profiler_spark.session import get_spark

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    event_log = WORK / "eventlog" / tag if args.trace else None
    out_root = WORK / "out" / tag
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=_session_conf(model_dir, event_log))
    session_s = time.perf_counter() - t0
    _log(f"session started in {session_s:.1f}s")
    tracer = Tracer(spark) if args.trace else None
    try:
        fp = inputs.verify(spark, inp, n_files)
        meta = inp.meta()
        expect = checks.Expect(docs, fp["content_sha256"], meta.get("month_metrics"))
        pages = spark.read.parquet(str(inp.path))
        primer_file = inp.files()[0]
        primer = spark.read.parquet(str(primer_file))
        primer_expect = checks.Expect(checks.parquet_rows(primer_file)[0], content_sha256=None)
        warmups = [("primer", primer, primer_expect)] * PRIMER_RUNS + [
            ("warmup", pages, expect)
        ] * FULL_WARMUP_RUNS
        result = timed_runs(spark, tracer, warmups, pages, expect, inp.nbytes(), out_root, args.seconds)
        result["end_to_end"]["setup_s"] = session_s + result.pop("warmup_s")
        if "month_metrics" not in meta and expect.month_metrics is not None:
            meta["month_metrics"] = expect.month_metrics
            inp.save_meta(meta)
        last_good = result.pop("last_good")
        reference = checks.reference_check(spark, last_good / "data", docs)
        _log(f"reference check: {reference}")
        if not reference["ok"]:
            result["problems"].append(f"reference check failed: {reference}")
        result.update(session_s=session_s, reference=reference)
        if tracer is not None:
            result["layers"] = measure_layers(spark, tracer, pages, last_good, WORK / "layers" / tag)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
        _shutdown(spark)
    if tracer is not None:
        try:  # the event log is complete once the session has stopped
            per_span = stage_metrics_by_span(event_log)
        finally:
            shutil.rmtree(event_log, ignore_errors=True)
        result["per_layer"] = per_layer_metrics(tracer, per_span, result, untraced, session_s)
        result.update(spans=tracer.spans, stage_metrics_by_span=per_span)
        result["attempted"] += untraced["attempted"]
        result["failed"] += untraced["failed"]
        if not untraced["correct"]:
            result["problems"].append("the untraced child run reported correct=false")
    result["correct"] = result["failed"] == 0 and not result["problems"]
    return result


def timed_runs(
    spark, tracer, warmups, pages, expect, input_bytes: int, out_root: Path, seconds: float
) -> dict:
    """The ``warmups`` (kind, input, expectation) runs, then runs over
    ``pages`` until the timed ones add up to ``seconds``."""
    import checks
    import procs
    from data_profiler_spark.pipeline import QualityFilterPipeline

    span = tracer.span if tracer else (lambda name: nullcontext())
    tally = checks.Tally()
    records, last_good = [], None

    def one(kind: str, df, exp) -> dict:
        nonlocal last_good
        out_dir = out_root / f"run-{tally.attempted:03d}"

        def run(out_dir: Path) -> None:
            QualityFilterPipeline(spark, str(out_dir)).run(df, run_id="bench")

        with span(kind):
            rec = tally.attempt(run, out_dir, exp, procs.tree_cpu_s)
        rec["kind"] = kind
        if rec["ok"]:
            if df is pages:
                rec["write_amp"] = checks.dir_bytes(out_dir) / input_bytes
            committed = _write_committed_s(out_dir)
            rec["metrics_s"] = rec["wall_s"] - committed if committed is not None else None
            if last_good is not None:
                shutil.rmtree(last_good, ignore_errors=True)
            last_good = out_dir
        else:
            shutil.rmtree(out_dir, ignore_errors=True)
        records.append(rec)
        return rec

    with span("setup"):
        for kind, df, exp in warmups:
            one(kind, df, exp)
    warmup_s = sum(r["wall_s"] for r in records)
    _log(f"warm-up runs took {warmup_s:.1f}s")
    spent, timed = 0.0, []
    with span("timed"):
        while (spent < seconds or len(timed) < MIN_TIMED_RUNS) and tally.attempted < MAX_ATTEMPTS:
            rec = one("run", pages, expect)
            spent += rec["wall_s"]
            if rec["ok"]:
                timed.append(rec)
    peak_rss = procs.tree_peak_rss_mb()
    _log(f"timed window done: {len(timed)} runs")
    if not timed:
        raise RuntimeError(f"no timed run passed its check: {tally.problems[:3]}")
    docs = expect.docs
    return {
        "end_to_end": {
            "docs_per_s": _median([docs / r["wall_s"] for r in timed]),
            "cpu_s_per_kdoc": _median([r["cpu_s"] / (docs / 1000) for r in timed]),
            "peak_rss_mb": sum(peak_rss.values()),
            "write_amp": _median([r["write_amp"] for r in timed]),
        },
        "warmup_s": warmup_s,
        "records": records,
        "peak_rss_by_process_mb": peak_rss,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "problems": tally.problems,
        "last_good": last_good,
    }


def measure_layers(spark, tracer, pages, scored_dir: Path, dest_root: Path) -> dict:
    """Time each layer's public functions on the input, into a ``noop`` sink;
    the write is ``catalog.write_partitioned`` of the salted repartition of
    the rows one timed run already scored."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from checks import dir_bytes, parquet_rows
    from data_profiler_spark.functions.langid import langid_udf, log_perplexity_udf
    from data_profiler_spark.functions.pii import pii_counts_expr, scrub_expr
    from data_profiler_spark.functions.textstats import heuristic_drop_reasons_expr, with_signals
    from data_profiler_spark.io import catalog
    from data_profiler_spark.io.audit import input_fingerprint_exprs
    from data_profiler_spark.pipeline import score_pages, url_salt
    from inputs import FINGERPRINT_COLS

    text = F.col("text")
    layers = {
        "scan": lambda p: p,
        "textstats": lambda p: with_signals(p, "text", "signals"),
        "langid": lambda p: p.withColumn("lid", langid_udf(text)),
        "perplexity": lambda p: p.withColumn("ppl", log_perplexity_udf(text)),
        "models": lambda p: p.withColumn("lid", langid_udf(text)).withColumn(
            "ppl", log_perplexity_udf(text)
        ),
        "pii": lambda p: p.withColumn("scrubbed", scrub_expr(text)).withColumn(
            "pii", pii_counts_expr(text)
        ),
        "score_pages": score_pages,
        "audit": lambda p: p.observe(Observation(), *input_fingerprint_exprs(FINGERPRINT_COLS)),
    }
    scored = spark.read.parquet(str(scored_dir / "data"))
    out = {"catalog_output_bytes": [], "catalog_files": []}
    names = list(layers)
    with tracer.span("layers"):
        for rep in range(LAYER_REPS):
            for name in names[rep % len(names):] + names[: rep % len(names)]:
                with tracer.span(f"layer.{name}", rep=rep):
                    layers[name](pages).write.format("noop").mode("overwrite").save()
            dest = dest_root / f"catalog-{rep}"
            with tracer.span("layer.catalog", rep=rep):
                catalog.write_partitioned(
                    scored.withColumn("salt", url_salt())
                    .repartition(F.col("month"), F.col("salt"))
                    .drop("salt"),
                    str(dest),
                    ["month"],
                )
            out["catalog_output_bytes"].append(dir_bytes(dest))
            out["catalog_files"].append(parquet_rows(dest)[1])
            shutil.rmtree(dest, ignore_errors=True)
        with tracer.span("pre_dropped_share"):
            row = scored.agg(
                F.avg((F.size(heuristic_drop_reasons_expr(F.col("signals"))) > 0).cast("double"))
            ).first()
    out["pre_dropped_share"] = row[0]
    shutil.rmtree(dest_root, ignore_errors=True)
    return out


def per_layer_metrics(tracer, per_span, result, untraced, session_s) -> dict:
    def wall(name):
        return _median(tracer.durations(f"layer.{name}"))

    def stage(name, key):
        ids = [s["id"] for s in tracer.spans if s["name"] == f"layer.{name}"]
        return _median([per_span.get(i, {}).get(key, 0.0) for i in ids])

    scan_s = wall("scan")
    scan_cpu_s = stage("scan", "cpu_ns") / 1e9
    layers = result["layers"]
    traced_docs_per_s = result["end_to_end"]["docs_per_s"]
    metrics_s = [
        r["metrics_s"] for r in result["records"]
        if r["kind"] == "run" and r["ok"] and r.get("metrics_s") is not None
    ]
    return {
        "session.start_s": session_s,
        "scan.busy_s": scan_s,
        "textstats.busy_s": wall("textstats") - scan_s,
        "textstats.cpu_s": stage("textstats", "cpu_ns") / 1e9 - scan_cpu_s,
        "langid.busy_s": wall("langid") - scan_s,
        "perplexity.busy_s": wall("perplexity") - scan_s,
        "models.busy_s": wall("models") - scan_s,
        "models.py_run_task_s": stage("models", "py_run_ms") / 1e3,
        "models.py_init_task_s": stage("models", "py_init_ms") / 1e3,
        "models.py_in_mb": stage("models", "py_in_bytes") / 1e6,
        "models.pre_dropped_share": layers["pre_dropped_share"],
        "pii.busy_s": wall("pii") - scan_s,
        "score_pages.busy_s": wall("score_pages") - scan_s,
        "score_pages.gc_s": stage("score_pages", "gc_ms") / 1e3,
        "catalog.write_s": wall("catalog"),
        "catalog.shuffle_write_mb": stage("catalog", "shuffle_write_bytes") / 1e6,
        "catalog.output_mb": _median(layers["catalog_output_bytes"]) / 1e6,
        "catalog.files": _median(layers["catalog_files"]),
        "pipeline.metrics_s": _median(metrics_s),
        "audit.fingerprint_s": wall("audit") - scan_s,
        "trace.overhead_share": 1.0 - traced_docs_per_s / untraced["metrics"]["docs_per_s"]["value"],
    }


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "scan.busy_s": "s",
    "textstats.busy_s": "s",
    "textstats.cpu_s": "s",
    "langid.busy_s": "s",
    "perplexity.busy_s": "s",
    "models.busy_s": "s",
    "models.py_run_task_s": "s",
    "models.py_init_task_s": "s",
    "models.py_in_mb": "MB",
    "models.pre_dropped_share": "share",
    "pii.busy_s": "s",
    "score_pages.busy_s": "s",
    "score_pages.gc_s": "s",
    "catalog.write_s": "s",
    "catalog.shuffle_write_mb": "MB",
    "catalog.output_mb": "MB",
    "catalog.files": "count",
    "pipeline.metrics_s": "s",
    "audit.fingerprint_s": "s",
    "trace.overhead_share": "share",
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=0, help="override the workload's size (smoke tests)")
    args = p.parse_args(argv)
    if not (ROOT / "data_profiler_spark" / "pipeline.py").is_file():
        print(f"perfbench: no data_profiler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import inputs

    if args.workload not in inputs.WORKLOAD_DOCS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _confine_files()
    result = measure(args)

    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    side = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    side.write_text(json.dumps({"args": vars(args), **result}, indent=1, default=str))

    if args.trace:
        values, units = result["per_layer"], PER_LAYER_UNITS
    else:
        values, units = result["end_to_end"], END_TO_END_UNITS
    for name, unit in units.items():
        print(f"{name:26s} {values[name]:14.4f} {unit}")
    for problem in result["problems"][:5]:
        print(f"problem: {problem}")
    print(f"details: {side.relative_to(ROOT)}")
    final = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
