"""Executor-side doubles injected into ``run_document_etl``.

Both are plain picklable classes: Spark ships them to the Python
workers by import path, so the checkout root must be on the workers'
``PYTHONPATH`` (run.py sets it before the JVM starts).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from sbs_suptech_etl_v2_spark.ports.transformer import FakeTransformer


class SpoolClient:
    """K3 client factory: each sent chunk becomes one JSON file in
    ``spool_dir``, so the checker sees exactly what was sent."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir

    def __call__(self):
        spool_dir = self.spool_dir

        def send(chunk: list[dict]) -> None:
            path = os.path.join(spool_dir, f"{uuid.uuid4().hex}.json")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(chunk, fh)

        return send


class CountingTransformer(FakeTransformer):
    """The deterministic transform port, with one record per call
    (method, epoch start, epoch end) appended to a per-instance file
    in ``calls_dir``."""

    def __init__(self, calls_dir: str):
        self._path = os.path.join(calls_dir, f"{uuid.uuid4().hex}.tsv")

    def _timed(self, method: str, content: str) -> dict:
        t0 = time.time()
        out = getattr(FakeTransformer, method)(self, content)
        t1 = time.time()
        with open(self._path, "a", encoding="utf-8") as fh:
            fh.write(f"{method}\t{t0!r}\t{t1!r}\n")
        return out

    def llm_caller_polizas(self, content: str) -> dict:
        return self._timed("llm_caller_polizas", content)

    def llm_caller_inscripciones(self, content: str) -> dict:
        return self._timed("llm_caller_inscripciones", content)

    def llm_caller_tasaciones(self, content: str) -> dict:
        return self._timed("llm_caller_tasaciones", content)


class CountingPortFactory:
    """``port_factory`` for ``run_document_etl``: builds one
    CountingTransformer per task."""

    def __init__(self, calls_dir: str):
        self.calls_dir = calls_dir

    def __call__(self) -> CountingTransformer:
        return CountingTransformer(self.calls_dir)


def read_port_calls(calls_dir: str) -> list[tuple[str, float, float]]:
    calls = []
    for name in sorted(os.listdir(calls_dir)):
        with open(os.path.join(calls_dir, name), encoding="utf-8") as fh:
            for line in fh:
                method, t0, t1 = line.rstrip("\n").split("\t")
                calls.append((method, float(t0), float(t1)))
    return calls
