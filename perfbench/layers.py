"""Per-layer metrics of the traced run.

Timings come from the spans ``trace.Tracer`` records around the
package's public calls. Only spans inside a timed benchmark operation
count, so set-up work never leaks into a layer's numbers. Counts come
from hooks on the same calls, and Spark job, stage and task totals come
from the status store, per operation kind. Every workload reports every
metric; a layer the workload bypasses reads 0 calls and 0 time.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

from .measure import SPARK_FIELDS, median, spark_ops

# op kinds whose Spark cost is reported, in every workload
SPARK_OPS = ("insert", "vector", "batch100", "training_data", "create_td",
             "batch_data", "query_read", "curation", "knn_batch")
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "exec_cpu_s": "s",
    "exec_run_s": "s", "input_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "gc_s": "s",
}
LAYERS = ("online.store", "online.serving", "sources.commit_store",
          "plans.compiler", "operators.pit_join", "functions.udf",
          "operators.training", "sources.writers", "operators.dedup",
          "operators.similarity")


def names() -> List[Tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    out = [
        ("online.store.upsert_ms", "ms"),
        ("online.store.compact_ms", "ms"),
        ("online.store.compactions", "count"),
        ("online.store.lookup_ms", "ms"),
        ("online.store.delta_files_max", "count"),
        ("online.store.arrow_fallbacks", "count"),
        ("online.store.hit_ratio", "ratio"),
        ("online.store.space_amp", "ratio"),
        ("online.serving.transform_ms", "ms"),
        ("online.serving.spark_jobs_per_vector", "count"),
        ("sources.commit_store.write_ms", "ms"),
        ("sources.commit_store.write_amp", "ratio"),
        ("sources.commit_store.compactions", "count"),
        ("sources.commit_store.snapshot_ms", "ms"),
        ("plans.compiler.compile_ms", "ms"),
        ("operators.pit_join.plan_ms", "ms"),
        ("driver.plan_s", "s"),
        ("functions.udf.stats_ms", "ms"),
        ("functions.udf.apply_ms", "ms"),
        ("operators.training.prepare_ms", "ms"),
        ("sources.writers.td_write_ms", "ms"),
        ("operators.dedup.minhash_pairs_ms", "ms"),
        ("operators.dedup.clusters_ms", "ms"),
        ("operators.dedup.pairs", "count"),
        ("operators.similarity.ann_build_ms", "ms"),
        ("operators.similarity.knn_batch_ms", "ms"),
    ]
    out += [(f"{layer}.calls", "count") for layer in LAYERS]
    out += [(f"spark.{op}.{f}", SPARK_UNITS[f]) for op in SPARK_OPS
            for f in SPARK_FIELDS]
    out += [(f"latency.{n}", "ms") for n in
            ("main_p50_ms", "main_tail_ms", "second_p50_ms", "third_p50_ms")]
    out += [("trace.spans", "count"),
            ("trace.span_cost_us", "us")]
    return out


# -- hooks: counts recorded at the same call boundaries as the spans --------

def _files(root: str) -> Dict[str, int]:
    out = {}
    for d, _s, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def install_hooks(tracer) -> None:
    def lookup(fn, args, kwargs):
        store = args[0]
        keys = args[2] if len(args) > 2 else kwargs["keys"]
        before = store.arrow_fallback_count
        out = fn(*args, **kwargs)
        tracer.count("online.store.keys", len(keys))
        tracer.count("online.store.hits", sum(o is not None for o in out))
        tracer.count("online.store.arrow_fallbacks",
                     store.arrow_fallback_count - before)
        return out

    def bytes_hook(counter):
        def hook(fn, args, kwargs):
            loc = args[0].location
            before = _files(loc)
            compact0 = tracer.counters.get("commit_store.compact_bytes", 0)
            out = fn(*args, **kwargs)
            new = sum(s for p, s in _files(loc).items() if p not in before)
            nested = tracer.counters.get("commit_store.compact_bytes", 0) - compact0
            tracer.count(counter, new - nested)
            return out
        return hook

    tracer.hooks["online.store.get_feature_vectors"] = lookup
    tracer.hooks["sources.commit_store.write"] = bytes_hook("commit_store.write_bytes")
    tracer.hooks["sources.commit_store.compact"] = bytes_hook("commit_store.compact_bytes")


# -- metrics -----------------------------------------------------------------

def compute(tracer, sc, op_counts: Dict[str, int], span_cost_s: float) -> Dict[str, float]:
    timed = [s for s in tracer.spans if s["op"] is not None
             and not s["op_kind"].startswith("warmup.") and s["end"] is not None]

    def dur(name):
        return [s["end"] - s["start"] for s in timed if s["name"] == name]

    def ms(name):
        return median([x * 1e3 for x in dur(name)])

    def n(name):
        return len(dur(name))

    self_s = tracer.self_times()

    def self_ms(name):
        return median([self_s[s["id"]] * 1e3 for s in timed if s["name"] == name])

    c = tracer.counters
    serving_tf = [
        (s["end"] - s["start"]) * 1e3 for s in timed
        if s["name"] == "functions.udf.apply_transformations_pandas"
        and s["op_kind"] in ("vector", "batch100")
    ]
    wb = c.get("commit_store.write_bytes", 0)
    cb = c.get("commit_store.compact_bytes", 0)
    amp_n = c.get("online.store.space_amp_n", 0)
    out = {
        "online.store.upsert_ms": self_ms("online.store.upsert"),
        "online.store.compact_ms": ms("online.store.compact"),
        "online.store.compactions": n("online.store.compact"),
        "online.store.lookup_ms": ms("online.store.get_feature_vectors"),
        "online.store.delta_files_max": c.get("online.store.delta_files_max", 0),
        "online.store.arrow_fallbacks": c.get("online.store.arrow_fallbacks", 0),
        "online.store.hit_ratio": (
            c["online.store.hits"] / c["online.store.keys"]
            if c.get("online.store.keys") else 0.0),
        "online.store.space_amp": (
            c["online.store.space_amp_sum"] / amp_n if amp_n else 0.0),
        "online.serving.transform_ms": median(serving_tf),
        "sources.commit_store.write_ms": self_ms("sources.commit_store.write"),
        "sources.commit_store.write_amp": (wb + cb) / wb if wb else 0.0,
        "sources.commit_store.compactions": n("sources.commit_store.compact"),
        "sources.commit_store.snapshot_ms": ms("sources.commit_store.snapshot"),
        "plans.compiler.compile_ms": ms("plans.compiler.compile_query"),
        "operators.pit_join.plan_ms": median(
            [x * 1e3 for x in dur("operators.pit_join.point_in_time_join")
             + dur("operators.pit_join.point_in_time_join_many")]),
        "driver.plan_s": median(
            dur("feature_view.training_data") + dur("feature_view.get_batch_data")),
        "functions.udf.stats_ms": ms("functions.udf.transformation_stats_for"),
        "functions.udf.apply_ms": median(
            [x * 1e3 for x in dur("functions.udf.apply_transformations")
             + dur("functions.udf.apply_transformations_pandas")]),
        "operators.training.prepare_ms": ms(
            "operators.training.prepare_training_data"),
        "sources.writers.td_write_ms": ms(
            "sources.writers.write_training_dataset"),
        "operators.dedup.minhash_pairs_ms": ms("bench.minhash_pairs"),
        "operators.dedup.clusters_ms": ms("operators.dedup.duplicate_clusters"),
        "operators.dedup.pairs": c.get("operators.dedup.pairs", 0),
        "operators.similarity.ann_build_ms": ms("op.ann_build"),
        "operators.similarity.knn_batch_ms": ms("op.knn_batch"),
    }
    for layer in LAYERS:
        out[f"{layer}.calls"] = sum(
            1 for s in timed if s["name"].startswith(layer + "."))

    ops = spark_ops(sc)
    for op in SPARK_OPS:
        tot = ops.get(op, {})
        k = op_counts.get(op, 0)
        for f in SPARK_FIELDS:
            out[f"spark.{op}.{f}"] = tot.get(f, 0.0) / k if k else 0.0
    out["online.serving.spark_jobs_per_vector"] = out["spark.vector.jobs"]
    out["trace.spans"] = len(tracer.spans)
    out["trace.span_cost_us"] = span_cost_s * 1e6
    return out


def span_cost(tracer_cls, reps: int = 20_000) -> float:
    """Seconds one traced call adds, measured on an empty function."""
    import time

    t = tracer_cls()
    f = t._wrap("bench.empty", lambda: None)
    t0 = time.perf_counter()
    for _ in range(reps):
        f()
    traced = time.perf_counter() - t0
    g = lambda: None  # noqa: E731
    t0 = time.perf_counter()
    for _ in range(reps):
        g()
    return (traced - (time.perf_counter() - t0)) / reps
