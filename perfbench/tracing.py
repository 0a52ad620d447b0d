"""Spans around the public functions of each ``etl_job_spark`` module.

``install()`` replaces the public functions (and class methods) listed in
``LAYERS`` with thin wrappers that record a span per call while tracing is
on, and count every call per wrapped name. Nothing inside ``etl_job_spark``
changes: the wrappers live here and are set as module and class attributes.

Install before ``etl_job_spark.plans.registry`` is imported. Plan modules
that bind names with ``from ... import ...`` at import then bind the
wrappers; ``rebind()`` also swaps any original still held in an
``etl_job_spark`` module's globals, and reports how many it could not find.

A span is ``(id, name, layer, parent, start, end)`` with ``perf_counter``
times; the parent is the innermost open span of the same thread, else the
benchmark's current query span. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from collections import Counter

_PUBLIC = object()  # every public function defined in the module

# module -> {attribute or "Class.method" or _PUBLIC: layer}
LAYERS: dict[str, dict] = {
    "etl_job_spark.session": {"get_spark": "session"},
    "etl_job_spark.sources.catalog": {"load_table": "sources"},
    "etl_job_spark.sources.manifest_source": {"read_manifest_table": "sources"},
    "etl_job_spark.table": {
        **{
            f"ManifestTable.{m}": "table.write"
            for m in (
                "overwrite", "append", "merge", "delete_keys", "delete_where",
                "update_where", "overwrite_where", "copy_into",
            )
        },
        **{
            f"ManifestTable.{m}": "table.read"
            for m in ("snapshot", "snapshot_where", "count_where", "meta_agg")
        },
    },
    "etl_job_spark.txn": {"TransactionalCatalog.commit": "txn"},
    "etl_job_spark.sql": {
        "execute_dml": "sql", "execute_dml_txn": "sql", "execute_sql": "sql",
    },
    "etl_job_spark.operators.merge": {_PUBLIC: "merge"},
    "etl_job_spark.operators.text": {_PUBLIC: "text"},
    "etl_job_spark.operators.contamination": {_PUBLIC: "text"},
    "etl_job_spark.operators.dedup": {_PUBLIC: "dedup", "MinHashStore.*": "dedup"},
    "etl_job_spark.operators.similarity": {
        **{
            m: "similarity.build"
            for m in (
                "ivf_build_index", "pq_build_index", "ivfpq_build_index",
                "kmeans_centroids", "pq_train",
            )
        },
        **{
            m: "similarity.search"
            for m in (
                "cosine_topk", "l2_topk", "lsh_topk", "ivf_search", "pq_search",
                "ivfpq_search", "cosine_near_dups", "semantic_dedup",
            )
        },
    },
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self.hits: Counter = Counter()
        self.root: int | None = None  # the open query span, parent of orphans
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str) -> list:
        stack = self._stack()
        parent = stack[-1][0] if stack else self.root
        span = [next(self._ids), name, layer, parent, time.perf_counter(), None]
        stack.append(span)
        return span

    def close(self, span: list) -> None:
        span[5] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(tuple(span))


TRACER = Tracer()
_ORIGINALS: dict[int, tuple] = {}  # id(original) -> (original, wrapper)


def _wrap(fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer = TRACER
        if not tracer.enabled:
            return fn(*args, **kwargs)
        tracer.hits[name] += 1
        span = tracer.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(span)

    _ORIGINALS[id(fn)] = (fn, wrapper)
    TRACER.hits[name] += 0
    return wrapper


def _public_functions(module) -> list[str]:
    return [
        n for n, v in vars(module).items()
        if not n.startswith("_") and inspect.isfunction(v) and v.__module__ == module.__name__
    ]


def _wrap_attr(owner, attr: str, name: str, layer: str) -> None:
    fn = inspect.getattr_static(owner, attr)
    if not inspect.isfunction(fn):
        raise TypeError(f"{name} is not a plain function")
    setattr(owner, attr, _wrap(fn, name, layer))


def install() -> None:
    """Wrap every entry of ``LAYERS``; idempotent per process."""
    if _ORIGINALS:
        return
    if "etl_job_spark.plans.registry" in sys.modules:
        raise RuntimeError("install tracing before importing the query registry")
    for mod_name, entries in LAYERS.items():
        module = importlib.import_module(mod_name)
        short = mod_name.rsplit(".", 1)[-1]
        for key, layer in entries.items():
            if key is _PUBLIC:
                for attr in _public_functions(module):
                    _wrap_attr(module, attr, f"{short}.{attr}", layer)
            elif "." in key:
                cls_name, method = key.split(".")
                cls = getattr(module, cls_name)
                methods = (
                    [m for m, v in vars(cls).items() if not m.startswith("_") and inspect.isfunction(v)]
                    if method == "*" else [method]
                )
                for m in methods:
                    _wrap_attr(cls, m, f"{cls_name}.{m}", layer)
            else:
                _wrap_attr(module, key, f"{short}.{key}", layer)
    rebind()


def rebind() -> int:
    """Point every ``etl_job_spark`` module global that still holds a wrapped
    original at its wrapper; returns how many were swapped."""
    swapped = 0
    for mod_name, module in list(sys.modules.items()):
        if not mod_name.startswith("etl_job_spark") or module is None:
            continue
        for attr, value in list(vars(module).items()):
            hit = _ORIGINALS.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(module, attr, hit[1])
                swapped += 1
    return swapped


class Py4JCounter:
    """Counts driver -> JVM round trips by wrapping the gateway client's
    ``send_command`` on the instance every Java proxy shares."""

    def __init__(self, gateway) -> None:
        self.counting = False
        self.calls = 0
        client = gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.counting:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
