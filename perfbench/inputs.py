"""Benchmark inputs: one parquet directory per (workload, seed).

Each workload derives its documents from ``synth.gen_doc(doc_id, seed)``, so
the same seed always gives the same pages. An input is generated once, by a
few child processes outside any Spark session, into ``4 × cores`` files of
equal document count, and cached under the benchmark's work directory. The cache
key covers the generator sources, so editing them never reuses an old input;
the row count and the content fingerprint (``io.audit.input_fingerprint_exprs``,
the one the pipeline records) are checked on every use, so a damaged cache
never feeds a run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Documents per workload, sized so that a warmed-up run() takes 3-4 s on a
# 4-vCPU VM and a whole benchmark invocation about 50 s (see README.md).
WORKLOAD_DOCS = {
    "long_pages": 192,
    "stub_pages": 32768,
}

# The columns the pipeline fingerprints (pipeline.QualityFilterPipeline.run).
FINGERPRINT_COLS = ["url", "warc_ts", "text"]

_GENERATOR_SOURCES = (
    ROOT / "data_profiler_spark" / "synth.py",
    ROOT / "data_profiler_spark" / "functions" / "corpus.py",
    Path(__file__).resolve(),
)


def make_doc(workload: str, doc_id: int, seed: int) -> dict:
    """Pure (workload, seed, doc_id) → page row, derived from ``gen_doc``."""
    from data_profiler_spark.functions import corpus
    from data_profiler_spark.synth import gen_doc

    row = gen_doc(doc_id, seed)
    if workload == "crawl_mix":
        return row
    rng = random.Random(f"{workload}:{seed}:{doc_id}")
    if workload == "long_pages":
        # ~400 extra lines in the page's own language: ~25-30 KB, ~5k words
        row["text"] += "\n" + corpus.make_paragraphs(rng, row["lang"], 400, (8, 16))
    elif workload == "stub_pages":
        row["text"] = corpus.make_sentence(rng, row["lang"], rng.randint(3, 8))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    row["html"] = f"<html><body>{row['text']}</body></html>".encode("utf-8")
    return row


def _schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("doc_id", pa.int64()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("quality_class", pa.string()),
        ]
    )


def _write_part(workload: str, seed: int, lo: int, hi: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [make_doc(workload, i, seed) for i in range(lo, hi)]
    pq.write_table(pa.Table.from_pylist(rows, schema=_schema()), path)


@dataclass
class Input:
    workload: str
    seed: int
    docs: int
    path: Path

    @property
    def meta_path(self) -> Path:
        return self.path / "_meta.json"  # a leading _ hides it from Spark

    def meta(self) -> dict:
        return json.loads(self.meta_path.read_text())

    def save_meta(self, meta: dict) -> None:
        tmp = self.meta_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(meta, indent=1, sort_keys=True))
        os.replace(tmp, self.meta_path)

    def files(self) -> list[Path]:
        return sorted(self.path.glob("part-*.parquet"))

    def nbytes(self) -> int:
        return sum(f.stat().st_size for f in self.files())


def _source_key() -> str:
    h = hashlib.sha256()
    for p in _GENERATOR_SOURCES:
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def ensure_input(cache_dir: Path, workload: str, seed: int, docs: int, n_files: int) -> Input:
    """Return the cached input for (workload, seed, docs), generating it when
    missing. Inputs made by older generator sources are deleted."""
    stem = f"{workload}-seed{seed}-n{docs}-f{n_files}"
    inp = Input(workload, seed, docs, cache_dir / f"{stem}-{_source_key()}")
    if inp.meta_path.exists():
        return inp
    for old in cache_dir.glob(f"{stem}-*"):
        shutil.rmtree(old, ignore_errors=True)
    generate(inp, n_files)
    return inp


def generate(inp: Input, n_files: int) -> None:
    """Write ``n_files`` equal-count parquet files, then publish atomically."""
    tmp = inp.path.with_name(inp.path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    bounds = [inp.docs * k // n_files for k in range(n_files + 1)]
    workers = 4
    for first in range(0, n_files, workers):
        procs = [
            subprocess.Popen(
                [sys.executable, __file__, inp.workload, str(inp.seed),
                 str(bounds[k]), str(bounds[k + 1]), str(tmp / f"part-{k:03d}.parquet")]
            )
            for k in range(first, min(first + workers, n_files))
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"input generation failed with exit codes {codes}")
    (tmp / "_meta.json").write_text(
        json.dumps({"workload": inp.workload, "seed": inp.seed, "docs": inp.docs})
    )
    shutil.rmtree(inp.path, ignore_errors=True)
    os.replace(tmp, inp.path)


def fingerprint(spark, path: Path) -> dict:
    """The pipeline's input fingerprint of the parquet file(s) at ``path``."""
    from data_profiler_spark.io.audit import fingerprint_digest, input_fingerprint_exprs

    row = spark.read.parquet(str(path)).agg(*input_fingerprint_exprs(FINGERPRINT_COLS))
    return fingerprint_digest(row.first().asDict())


def verify(spark, inp: Input, n_files: int) -> dict:
    """Check the cached input by row count and content fingerprint; a
    mismatch regenerates it once. Returns the fingerprint."""
    for attempt in range(2):
        fp = fingerprint(spark, inp.path)
        meta = inp.meta()
        stored = meta.get("fingerprint")
        if fp["rows"] == inp.docs and (stored is None or stored == fp):
            if stored is None:
                meta["fingerprint"] = fp
                inp.save_meta(meta)
            return fp
        if attempt == 0:
            generate(inp, n_files)
    raise RuntimeError(
        f"input {inp.path.name} fails its check after regeneration: "
        f"rows {fp['rows']} != {inp.docs} or fingerprint {fp} != {stored}"
    )


if __name__ == "__main__":
    # one generator process: <workload> <seed> <first doc> <end doc> <file>
    sys.path.insert(0, str(ROOT))
    w, seed, lo, hi, path = sys.argv[1:6]
    _write_part(w, int(seed), int(lo), int(hi), path)
