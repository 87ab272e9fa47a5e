"""In-process tracing for the benchmark's traced runs.

A span is one timed region: a workload run, a pass, an operation, the
build or sink of an operation, or one call into a wrapped public
function of the engine. Each span records its name, layer, start, end,
parent and run id. Spans stay in memory and are written once, when the
run ends.

``install()`` wraps the engine's public functions by replacing the
module attributes, so it must run BEFORE the query modules are imported
(they bind ``table``, ``pinned_blocks`` and friends by name at import).
Shared-build counting happens from outside too: the dict handed to
``register_shared_cache`` is swapped for a counting subclass, and the
time inside each ``pinned_blocks()`` scope is the shared build.

While a span is open its id is the SparkContext local property
``perfbench.span``, so every Spark job in the event log names the span
that launched it (see ``report.py``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

SPAN_PROPERTY = "perfbench.span"

# (module, attribute, layer) — the public surface a traced run times
WRAPPED = [
    ("yamr_spark.session", "get_spark", "session"),
    ("yamr_spark.registry", "all_queries", "registry"),
    ("yamr_spark.tables", "table", "tables"),
    ("yamr_spark.materialize", "materialize", "materialize"),
    ("yamr_spark.materialize", "materialize_eager", "materialize.eager"),
    ("yamr_spark.compat", "run_job", "compat"),
    ("yamr_spark.compat.mapreduce", "run_job", "compat"),
    ("yamr_spark.cli", "run_script_job", "cli"),
    ("yamr_spark.cli", "render_result", "cli"),
    ("yamr_spark.sources", "read_text", "sources"),
    ("yamr_spark.sources", "read_text_chunks", "sources"),
    ("yamr_spark.sources", "write_result_json", "sources"),
    ("yamr_spark.sources", "read_result_json", "sources"),
    ("yamr_spark.streaming.upsert", "merge_batch_into_store", "streaming.upsert"),
    ("yamr_spark.streaming.upsert", "merge_batch_into_store_dpo", "streaming.upsert"),
    ("yamr_spark.streaming.upsert", "read_store", "streaming.upsert"),
    ("yamr_spark.operators.snapshots", "commit_merge", "operators.snapshots"),
    ("yamr_spark.operators.snapshots", "read_snapshot", "operators.snapshots"),
    ("yamr_spark.operators.maintenance", "compact_store", "operators.maintenance"),
]


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.sc = None
        self.shared = {"lookups": 0, "hits": 0, "builds": 0}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "layer": layer,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._label(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._label(self.stack[-1] if self.stack else None)

    def _label(self, sid) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))

    def attach(self, spark) -> None:
        """Label Spark jobs with the open span from now on."""
        if self.enabled:
            self.sc = spark.sparkContext
            self._label(self.stack[-1] if self.stack else None)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is not None and not hasattr(fn, "__wrapped__"):
                setattr(mod, attr, self.wrap(fn, f"{mod_name.split('.', 1)[1]}.{attr}", layer))
        mat = importlib.import_module("yamr_spark.materialize")
        register, pinned = mat.register_shared_cache, mat.pinned_blocks
        tracer = self

        class CountingCache(dict):
            def get(self, key, default=None):
                tracer.shared["lookups"] += 1
                if dict.__contains__(self, key):
                    tracer.shared["hits"] += 1
                return dict.get(self, key, default)

            def __setitem__(self, key, value):
                tracer.shared["builds"] += 1
                dict.__setitem__(self, key, value)

        @functools.wraps(register)
        def counting_register(cache: dict) -> dict:
            return register(CountingCache(cache))

        @contextlib.contextmanager
        def traced_pinned():
            with self.span("materialize.shared_build", "shared"), pinned():
                yield

        counting_register.__wrapped__ = register
        traced_pinned.__wrapped__ = pinned
        mat.register_shared_cache = counting_register
        mat.pinned_blocks = traced_pinned


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer spent in a span of that layer and not in any of
    its child spans. Every span needs ``start``, ``end`` and ``parent``;
    the children's time is taken off their parent's."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out
