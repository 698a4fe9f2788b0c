"""Spans and counters for the traced run.

The benchmark wraps the public entry points of each pyskudu layer from
here; the engine's own files are not edited. A wrapper records a span
(name, layer, start, end, parent span, op id) only while the tracer is
enabled, so the untraced run pays one attribute check per call.

Layers outside the repo are counted from here too: ``spark`` (every
DataFrame action and file write is a span; jobs, stages and tasks per
op come from the status tracker through a per-op job group) and
``py4j`` (round trips to the JVM, counted on the gateway client).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

# (module, owner attribute or None for a module function, function, layer)
LAYER_TARGETS = [
    ("kudu_spark.session", None, "get_spark", "session"),
    ("kudu_spark.meta", None, "replay", "meta"),
    ("kudu_spark.table", "Table", "state", "meta"),
    ("kudu_spark.table", "Table", "scan", "table.scan"),
    ("kudu_spark.table", "Table", "diff_scan", "table.scan"),
    ("kudu_spark.table", "Table", "_prune", "table.scan"),
    ("kudu_spark.table", "Table", "_snapshot_df", "table.scan"),
    ("kudu_spark.table", "Table", "insert", "table.write"),
    ("kudu_spark.table", "Table", "upsert", "table.write"),
    ("kudu_spark.table", "Table", "delete", "table.write"),
    ("kudu_spark.table", "Table", "present_key_probe", "plans.presence"),
    ("kudu_spark.table", "Table", "compact", "table.maint"),
    ("kudu_spark.table", "Table", "_auto_compact_once", "table.maint"),
    ("kudu_spark.writer", "Session", "flush", "writer"),
    ("kudu_spark.engine", "Engine", "sql", "engine.sql"),
]

# DataFrame / DataFrameWriter methods that run Spark jobs
SPARK_ACTIONS = ("collect", "count", "toPandas", "take", "first", "head", "isEmpty")
SPARK_WRITES = ("save", "parquet")


class Tracer:
    """In-memory span store plus the counters the layer metrics need."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.py4j_calls = 0
        self.prune_kept = 0
        self.prune_total = 0
        self.probe_calls = 0
        self.probe_hits = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"id": next(self._ids), "parent": stack[-1] if stack else None,
               "name": name, "layer": layer, "op": self.op_id,
               "start": time.perf_counter()}
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    # -- patching ----------------------------------------------------------

    def _wrapper(self, fn, name: str, layer: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, out)
            return out

        return wrapped

    def _set(self, owner, attr: str, value) -> None:
        """Patch ``owner.attr``, remembering what ``owner`` itself held
        (None: the value was inherited, so uninstall deletes it)."""
        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, value)

    def install_layers(self) -> None:
        """Wrap every LAYER_TARGETS entry. A module function is rebound
        in every loaded ``kudu_spark`` module that imported it by name."""
        import importlib

        hooks = {"_prune": self._on_prune, "present_key_probe": self._on_probe}
        for mod_name, owner_name, attr, layer in LAYER_TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = owner.__dict__[attr]
            name = f"{owner_name}.{attr}" if owner_name else f"{mod_name.split('.')[-1]}.{attr}"
            w = self._wrapper(fn, name, layer, hooks.get(attr))
            self._set(owner, attr, w)
            if owner_name is None:
                for m in list(sys.modules.values()):
                    if (m is not mod and getattr(m, "__name__", "").startswith("kudu_spark")
                            and m.__dict__.get(attr) is fn):
                        self._set(m, attr, w)

    def install_spark(self, spark) -> None:
        """Wrap DataFrame actions and writes (layer ``spark``) and count
        py4j round trips on the session's gateway client."""
        df = spark.range(1)
        for cls, names in ((type(df), SPARK_ACTIONS), (type(df.write), SPARK_WRITES)):
            for attr in names:
                fn = getattr(cls, attr)
                self._set(cls, attr, self._wrapper(fn, f"spark.{attr}", "spark"))
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return send(*args, **kwargs)

        self._set(client, "send_command", counted)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            if old is None:
                try:
                    delattr(owner, attr)
                except AttributeError:
                    pass
            else:
                setattr(owner, attr, old)
        self._patched.clear()

    # -- result hooks ------------------------------------------------------

    def _on_prune(self, args, kept) -> None:
        st = args[1]
        self.prune_kept += len(kept)
        self.prune_total += len(st.files)

    def _on_probe(self, args, out) -> None:
        self.probe_calls += 1
        self.probe_hits += out is not None

    # -- output ------------------------------------------------------------

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
