"""ingest_serve: a feature pipeline upserts micro-batches into two online
groups while a model fetches feature vectors of live state.

One step = ``FeatureGroup.insert`` (defaults) into both groups, then a
burst of single ``get_feature_vector`` calls and ``get_feature_vectors``
calls of 100 keys. Every served vector is compared with the
generator's own latest-value-per-key model of what it inserted.
"""

from __future__ import annotations

import os
import time

import pandas as pd

from . import gen
from .common import FAILED, Ctx, as_parquet, close

# 19 single and 19 batched lookups per 2 inserts: the 95/5 read/write
# operation mix of YCSB's read-mostly workload B
SINGLES_PER_STEP = 19
BATCHES_PER_STEP = 19
BATCH_KEYS = 100
MIN_STEPS = 4  # the first is a warm-up, checked but not timed


def inputs_digest(seed: int) -> int:
    s = gen.IngestStream(seed)
    frames = [*s.initial(), *s.batch(), pd.DataFrame({"k": s.request_keys(100)})]
    return gen.digest(frames)


def prepare(ctx: Ctx, reps: int) -> dict:
    """Untimed: the generator, its history and the history's files."""
    stream = gen.IngestStream(ctx.seed)
    a0, t0 = stream.initial()
    return {"stream": stream, "a0": a0,
            "a0_df": as_parquet(ctx, a0, "activity"),
            "t0_df": as_parquet(ctx, t0, "totals")}


def setup(ctx: Ctx, pre: dict, rep: int) -> dict:
    """Timed: both online groups with the history loaded, the feature
    view and ``init_serving``."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fs = FeatureStore(root=os.path.join(ctx.work, f"ingest_{rep}"))
    act = fs.create_feature_group(
        "activity", primary_key=["user_id"], event_time="ts",
        precombine_key="event_id", online_enabled=True,
    )
    tot = fs.create_feature_group(
        "totals", primary_key=["uid"], online_enabled=True,
    )
    act.insert(pre["a0_df"])
    tot.insert(pre["t0_df"])
    q = act.select(["user_id", "ts", "value", "event_type"]).join(
        tot.select(["n_events", "total_value"]),
        left_on=["user_id"], right_on=["uid"], prefix="agg_",
    )
    fv = fs.create_feature_view(
        "serve", q, transformation_functions=[min_max_scaler("value")]
    )
    # live state (no pinned snapshot): lookups see every insert at once;
    # the scaler's statistics come from the initial load
    fv.init_serving(ctx.spark, training_df=pre["a0_df"], pin_snapshots=False)
    return {
        "stream": pre["stream"], "act": act, "tot": tot, "fv": fv,
        "lo": float(pre["a0"]["value"].min()),
        "hi": float(pre["a0"]["value"].max()), "rows": 0, "steps": 0,
        "keys": 0, "hits": 0, "recent": 0,
    }


def _mismatch(st: dict, key: int, vec):
    """None when the served vector equals the model, else why not."""
    st["keys"] += 1
    st["recent"] += st["stream"].written_last_batch(key)
    want = st["stream"].expected(key)
    if want is None or vec is None:
        st["hits"] += vec is not None
        return None if want is vec else f"key {key}: got {vec}, want {want}"
    st["hits"] += 1
    ts, value, etype, n, total = want
    scaled = (value - st["lo"]) / (st["hi"] - st["lo"])
    ok = (
        vec.get("user_id") == key
        and pd.Timestamp(vec.get("ts")) == ts
        and vec.get("event_type") == etype
        and close(vec.get("min_max_scaler_value"), scaled)
        and vec.get("agg_n_events") == n
        and close(vec.get("agg_total_value"), total, rel=1e-9, abs_=1e-6)
    )
    return None if ok else f"key {key}: got {vec}, want {want} scaled={scaled}"


def _probe(ctx: Ctx, st: dict) -> None:
    """Traced run only: delta-pile depth and space amplification of
    both online stores, sampled at the end of every step."""
    for fg in (st["act"], st["tot"]):
        loc = os.path.join(fg.location, "online")
        files = base_bytes = delta_bytes = 0
        base_rows = 0
        for root, _d, names in os.walk(loc):
            for nm in names:
                if not nm.endswith(".parquet"):
                    continue
                size = os.path.getsize(os.path.join(root, nm))
                if os.sep + "delta" in root[len(loc):]:
                    files += 1
                    delta_bytes += size
                else:
                    base_bytes += size
                    base_rows += _parquet_rows(os.path.join(root, nm))
        ctx.tracer.peak("online.store.delta_files_max", files)
        live = int((st["stream"].ts_us >= 0).sum())  # keys written
        if base_rows:
            live_bytes = base_bytes * live / base_rows
            ctx.tracer.count("online.store.space_amp_sum",
                             (base_bytes + delta_bytes) / live_bytes)
            ctx.tracer.count("online.store.space_amp_n", 1)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def loop(ctx: Ctx, st: dict, seconds: float) -> None:
    spark, fv = ctx.spark, st["fv"]
    t_end = time.perf_counter() + seconds
    while st["steps"] < MIN_STEPS or time.perf_counter() < t_end:
        pre = ctx.next_iteration(warmup=st["steps"] == 0)
        a, t = st["stream"].batch()
        for fg, pdf in ((st["act"], a), (st["tot"], t)):
            df = as_parquet(ctx, pdf, fg.name)
            ok = ctx.run_op(pre + "insert", lambda: fg.insert(df)) is not FAILED
            if ok and not pre:
                st["rows"] += len(pdf)
        st["steps"] += 1
        for key in st["stream"].request_keys(SINGLES_PER_STEP):
            vec = ctx.run_op(
                pre + "vector", lambda: fv.get_feature_vector(spark, {"user_id": key})
            )
            if vec is not FAILED:
                why = _mismatch(st, key, vec)
                ctx.check(why is None, why)
        for _ in range(BATCHES_PER_STEP):
            keys = st["stream"].request_keys(BATCH_KEYS)
            entries = [{"user_id": k} for k in keys]
            vecs = ctx.run_op(
                pre + "batch100", lambda: fv.get_feature_vectors(spark, entries)
            )
            if vecs is FAILED:
                continue
            whys = [_mismatch(st, k, v) for k, v in zip(keys, vecs)]
            whys = [w for w in whys if w]
            ctx.check(not whys and len(vecs) == len(keys),
                      f"batch of {len(keys)}: {len(whys)} wrong; {whys[:1]}")
        if ctx.tracer.enabled:
            _probe(ctx, st)


def results(ctx: Ctx, st: dict):
    from .measure import median, tail

    ins = ctx.samples.get("insert", [])
    e2e = ctx.op_metrics("vector")
    e2e["quality"] = st["hits"] / st["keys"] if st["keys"] else 0.0
    latency = {
        "main_p50_ms": median(ctx.ms("vector")),
        "main_tail_ms": tail(ctx.ms("vector")),
        "second_p50_ms": median(ctx.ms("batch100")),
        "third_p50_ms": median(ctx.ms("insert")),
    }
    detail = {
        "insert_p50_ms": ctx.timing("insert", 90),
        "ingest_rows_per_s": st["rows"] / sum(ins) if ins else 0.0,
        "vector_p50_ms / vector_p99_ms": ctx.timing("vector", 99),
        "batch100_p50_ms / batch100_p95_ms": ctx.timing("batch100", 95),
        "steps": st["steps"],
        "rows_inserted": st["rows"],
        "lookup_hit_ratio": e2e["quality"],
        "recent_share": st["recent"] / st["keys"] if st["keys"] else 0.0,
        "traffic": {
            "key_space": st["stream"].key_space,
            "zipf_s": st["stream"].zipf_s,
            "history_rows": st["stream"].batch_rows * st["stream"].history_days,
            "batch_rows": st["stream"].batch_rows,
            "singles_per_step": SINGLES_PER_STEP,
            "batches_per_step": BATCHES_PER_STEP,
            "batch_keys": BATCH_KEYS,
        },
    }
    return e2e, latency, detail
