"""Start-up hook for the Python workers of the benchmark's Spark session.

``perfbench/run.py`` puts this directory on the workers' PYTHONPATH and sets
``PERFBENCH_MODEL_DIR``, so Python imports this module when a worker starts.
It points the model-weight cache of ``data_profiler_spark.functions.textmodel``
at that directory, inside the benchmark's checkout. The patch is applied when
the worker first imports ``textmodel``, so a worker imports nothing extra at
start-up.
"""

from __future__ import annotations

import importlib.abc
import importlib.machinery
import os
import sys

_TARGET = "data_profiler_spark.functions.textmodel"


class _SetModelDir(importlib.abc.Loader):
    def __init__(self, inner, model_dir: str):
        self.inner = inner
        self.model_dir = model_dir

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module):
        self.inner.exec_module(module)
        module._MODEL_CACHE_DIR = self.model_dir


class _Finder(importlib.abc.MetaPathFinder):
    def __init__(self, model_dir: str):
        self.model_dir = model_dir

    def find_spec(self, name, path, target=None):
        if name != _TARGET:
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is not None and spec.loader is not None:
            spec.loader = _SetModelDir(spec.loader, self.model_dir)
        return spec


if os.environ.get("PERFBENCH_MODEL_DIR"):
    sys.meta_path.insert(0, _Finder(os.environ["PERFBENCH_MODEL_DIR"]))
