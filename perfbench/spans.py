"""Spans recorded from the benchmark's side of each layer boundary.

The package is not edited: ``Tracer.install`` rebinds public module
attributes (and ``FragmentCatalog`` methods) to timing wrappers and
``restore`` puts the originals back. Spans stay in memory as
``[op, name, parent, start, end]`` and are written once, when the run
ends. A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "database_fragmentation_and_query_processor_spark"

#: (module, attribute) pairs wrapped in a traced run; a class attribute
#: is written ``Class.method``. The span is named ``<module>.<attribute>``.
TARGETS = [
    ("api", name) for name in (
        "load_ratings", "range_partition", "round_robin_partition",
        "hash_partition", "range_insert", "round_robin_insert", "hash_insert",
        "point_query", "range_query", "hash_key_lookup",
    )
] + [
    ("sources.ratings", "read_ratings_text"),
    ("operators.query", "point_query"),
    ("operators.query", "range_query"),
    ("operators.fragmentation", "write_fragmented"),
    ("operators.scaling", "stable_row_number"),
    ("fs", "acquire_writer_lock"),
    ("fs", "write_json_atomic"),
] + [
    ("catalog", f"FragmentCatalog.{m}") for m in (
        "range_meta", "round_robin_meta", "hash_meta",
        "update_range", "update_round_robin", "update_hash",
    )
]


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = [self.op, name, self._stack[-1] if self._stack else -1,
               time.perf_counter(), None]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[4] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        for mod_name, attr in TARGETS:
            owner = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            orig = owner.__dict__[attr]
            wrapped = self._wrap(orig, f"{mod_name}.{attr}")
            self._set(owner, attr, wrapped)
            if isinstance(owner, type):
                continue
            # modules that imported the function by name hold their own
            # binding (``from .x import f``, the registry's namespace fold)
            for name, mod in list(sys.modules.items()):
                if (name.startswith(PACKAGE) and mod is not owner
                        and getattr(mod, "__dict__", {}).get(attr) is orig):
                    self._set(mod, attr, wrapped)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> list[tuple]:
        """``(op, name, parent_name, duration_s, self_s)`` per span."""
        child = defaultdict(float)
        for _, _, parent, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        return [
            (op, name, self.spans[p][1] if p >= 0 else None, t1 - t0,
             t1 - t0 - child[i])
            for i, (op, name, p, t0, t1) in enumerate(self.spans)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for op, name, parent, dur, self_s in self.self_times():
                fh.write(json.dumps({"op": op, "name": name, "parent": parent,
                                     "dur_s": dur, "self_s": self_s}) + "\n")
