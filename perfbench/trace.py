"""Spans around the package's public functions, recorded from outside.

:class:`Tracer` patches the functions listed in :data:`TARGETS` at run
time (module functions in every package module that imported them,
methods on their class), so each call records a span: name, start,
end, parent span and the id of the benchmark operation it ran under.
Spans stay in memory and are written out once, at exit.

:class:`NoTracer` is the same interface with every method a no-op: the
untraced run that measures the end-to-end metrics pays nothing for it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from typing import Callable, Dict, List, Optional, Tuple

PKG = "feature_store_api_spark"

# (span name, module, attribute path) for every public call traced
TARGETS: List[Tuple[str, str, str]] = [
    ("feature_group.insert", "feature_group", "FeatureGroup.insert"),
    ("feature_view.training_data", "feature_view", "FeatureView.training_data"),
    ("feature_view.create_training_dataset", "feature_view",
     "FeatureView.create_training_dataset"),
    ("feature_view.get_batch_data", "feature_view", "FeatureView.get_batch_data"),
    ("online.store.upsert", "online.store", "OnlineStore.upsert"),
    ("online.store.compact", "online.store", "OnlineStore.compact"),
    ("online.store.read", "online.store", "OnlineStore.read"),
    ("online.store.get_feature_vector", "online.store",
     "OnlineStore.get_feature_vector"),
    ("online.store.get_feature_vectors", "online.store",
     "OnlineStore.get_feature_vectors"),
    ("online.store.lookup", "online.store", "OnlineStore.lookup"),
    ("online.serving.init_serving", "online.serving", "VectorServer.init_serving"),
    ("online.serving.get_feature_vector", "online.serving",
     "VectorServer.get_feature_vector"),
    ("online.serving.get_feature_vectors", "online.serving",
     "VectorServer.get_feature_vectors"),
    ("sources.commit_store.write", "sources.commit_store", "CommitStore.write"),
    ("sources.commit_store.snapshot", "sources.commit_store",
     "CommitStore.snapshot"),
    ("sources.commit_store.compact", "sources.commit_store", "CommitStore.compact"),
    ("plans.compiler.compile_query", "plans.compiler", "compile_query"),
    ("operators.pit_join.point_in_time_join", "operators.pit_join",
     "point_in_time_join"),
    ("operators.pit_join.point_in_time_join_many", "operators.pit_join",
     "point_in_time_join_many"),
    ("functions.udf.transformation_stats_for", "functions.udf",
     "transformation_stats_for"),
    ("functions.udf.apply_transformations", "functions.udf",
     "apply_transformations"),
    ("functions.udf.apply_transformations_pandas", "functions.udf",
     "apply_transformations_pandas"),
    ("operators.training.prepare_training_data", "operators.training",
     "prepare_training_data"),
    ("sources.writers.write_training_dataset", "sources.writers",
     "write_training_dataset"),
    ("operators.dedup.minhash_lsh_duplicate_pairs", "operators.dedup",
     "minhash_lsh_duplicate_pairs"),
    ("operators.dedup.duplicate_clusters", "operators.dedup",
     "duplicate_clusters"),
    ("operators.dedup.select_survivors", "operators.dedup", "select_survivors"),
    ("operators.similarity.build_ann_index", "operators.similarity",
     "build_ann_index"),
    ("operators.similarity.find_neighbors_batch", "operators.similarity",
     "find_neighbors_batch"),
]


class NoTracer:
    enabled = False

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, kind: str):
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def peak(self, name: str, value: float) -> None:
        pass


class Tracer(NoTracer):
    """In-memory span recorder. ``op(kind)`` opens a benchmark
    operation: it gets an id shared by every span under it, and the
    Spark job group ``"<kind>:<id>"`` so the jobs it launches can be
    attributed to it afterwards."""

    enabled = True

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: List[Dict] = []
        self.counters: Dict[str, float] = {}
        self._stack: List[int] = []
        self._op: Optional[Tuple[str, int]] = None
        self._ops = 0
        self._patches: List[Tuple[object, str, object]] = []
        self.hooks: Dict[str, Callable] = {}

    # -- recording ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op[1] if self._op else None,
            "op_kind": self._op[0] if self._op else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        self._ops += 1
        prev = self._op
        self._op = (kind, self._ops)
        if self.sc is not None:
            self.sc.setJobGroup(f"{kind}:{self._ops}", kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = prev
            if self.sc is not None:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"{prev[0]}:{prev[1]}", prev[0])

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def peak(self, name: str, value: float) -> None:
        self.counters[name] = max(self.counters.get(name, value), value)

    # -- patching ----------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            hook = tracer.hooks.get(name)
            with tracer.span(name):
                if hook is None:
                    return fn(*args, **kwargs)
                return hook(fn, args, kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self) -> None:
        for name, mod_name, path in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner_path, _, attr = path.rpartition(".")
            owner = mod
            for part in filter(None, owner_path.split(".")):
                owner = getattr(owner, part)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            wrapped = self._wrap(name, original)
            if isinstance(owner, type):
                self._patches.append((owner, attr, original))
                setattr(owner, attr, wrapped)
                continue
            # a module function: rebind it in every package module that
            # imported it by name, so module-level imports see the span
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if not (mname == PKG or mname.startswith(PKG + ".")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is original:
                        self._patches.append((m, k, original))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        children: Dict[int, List[Dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [dict(s, self=st[s["id"]]) for s in self.spans],
                    "counters": self.counters,
                },
                fh,
            )
