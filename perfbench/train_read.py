"""train_read: a data scientist reads point-in-time-correct training data.

Set-up builds three managed groups (labelled ``events`` on the spine
side, ``orders`` as-of joined on the customer key, ``customer`` joined
plainly), each a base commit plus a seeded tail of upsert commits.
One iteration draws a fresh spine and runs ``training_data`` (forced
to a noop sink), ``create_training_dataset`` with a random split,
``get_batch_data`` over a seeded window with that dataset's train
statistics (forced), and ``Query.read`` of the events joined with
their customers (forced). No online store is touched.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd

from . import gen
from .common import FAILED, Ctx, as_parquet, close, noop_sink

SPINE_ROWS = 20_000
# the first iteration is a warm-up, checked but not timed: Spark's
# generated code and the JVM's compiled paths are in place before the
# timed iterations
MIN_ITERATIONS = 2
PIT_SAMPLE = 200


def _tail_events(df, r):
    df["value"] = np.round(r.gamma(2.0, 40.0, len(df)), 2)
    return df


def _tail_orders(df, r):
    df["o_totalprice"] = np.round(r.uniform(900.0, 500_000.0, len(df)), 2)
    df["o_orderstatus"] = gen.ORDER_STATUS[r.integers(0, 3, len(df))]
    return df


def _tail_customers(df, r):
    df["c_acctbal"] = np.round(r.uniform(-999.99, 9999.99, len(df)), 2)
    return df


def build_inputs(seed: int) -> dict:
    r = gen.rng(seed, "train_read")
    ev, od, cu = gen.events(r), gen.orders(r), gen.customers(r)
    tails = {
        "events": gen.upsert_tail(r, ev, 0.01, _tail_events),
        "orders": gen.upsert_tail(r, od, 0.02, _tail_orders),
        "customer": gen.upsert_tail(r, cu, 0.05, _tail_customers),
    }
    return {
        "events": ev, "orders": od, "customer": cu, "tails": tails,
        "final": {
            "events": gen.apply_upsert(ev, "event_id", tails["events"]),
            "orders": gen.apply_upsert(od, "o_orderkey", tails["orders"]),
            "customer": gen.apply_upsert(cu, "c_custkey", tails["customer"]),
        },
    }


def inputs_digest(seed: int) -> int:
    inp = build_inputs(seed)
    r = gen.rng(seed, "train_read.loop")
    frames = [inp["events"], inp["orders"], inp["customer"]]
    frames += list(inp["tails"].values())
    frames.append(gen.spine(r, inp["final"]["events"], SPINE_ROWS))
    return gen.digest(frames)


def prepare(ctx: Ctx, reps: int) -> dict:
    """Untimed: the generated tables and their base and tail files."""
    inp = build_inputs(ctx.seed)
    files = {name: (as_parquet(ctx, inp[name], name),
                    as_parquet(ctx, inp["tails"][name], name))
             for name in ("events", "orders", "customer")}
    return {"inp": inp, "files": files}


def setup(ctx: Ctx, pre: dict, rep: int) -> dict:
    """Timed: three groups, each a base commit plus an upsert commit,
    the feature view and the query ``query_read`` compiles."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fs = FeatureStore(root=os.path.join(ctx.work, f"train_{rep}"))
    groups = {
        "events": fs.create_feature_group(
            "events", primary_key=["event_id"], event_time="ts"),
        "orders": fs.create_feature_group(
            "orders", primary_key=["o_orderkey"], event_time="o_orderdate"),
        "customer": fs.create_feature_group(
            "customer", primary_key=["c_custkey"]),
    }
    for name, fg in groups.items():
        base, tail = pre["files"][name]
        fg.insert(base, overwrite=True, compute_stats=False)
        fg.insert(tail, compute_stats=False)
    # the right-side join keys stay out of the selections: selecting a
    # right key whose name differs from the left key fails to resolve
    # (see README.md, "Defects found while sizing")
    q = (
        groups["events"].select(["event_id", "user_id", "ts", "value", "label"])
        .join(groups["orders"].select(
                  ["o_orderdate", "o_totalprice", "o_orderstatus"]),
              left_on=["user_id"], right_on=["o_custkey"])
        .join(groups["customer"].select(["c_acctbal", "c_mktsegment"]),
              left_on=["user_id"], right_on=["c_custkey"])
    )
    fv = fs.create_feature_view(
        "train", q, labels=["label"],
        transformation_functions=[min_max_scaler("o_totalprice")],
    )
    # latest features of every event with its customer's: a plain
    # Query.read, the user path that goes through the query compiler
    latest = groups["events"].select(["event_id", "user_id", "value"]).join(
        groups["customer"].select(["c_acctbal", "c_mktsegment"]),
        left_on=["user_id"], right_on=["c_custkey"])
    return {"inp": pre["inp"], "fv": fv, "latest": latest, "iters": 0,
            "pit_checked": 0, "pit_ok": 0,
            "r": gen.rng(ctx.seed, "train_read.loop")}


def _window(r) -> tuple:
    start = gen.JAN_2024 + pd.Timedelta(days=int(r.integers(0, 23)))
    return start.to_pydatetime(), (start + pd.Timedelta(days=7)).to_pydatetime()


def _read_td(meta: dict) -> pd.DataFrame:
    """Every split of a materialised training dataset, read by pyarrow."""
    import pyarrow.parquet as pq

    parts = []
    for d in meta["split_dirs"].values():
        for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
            parts.append(pq.read_table(f).to_pandas())
    return pd.concat(parts, ignore_index=True)


def _forced_rows(df, sink, total=None):
    """Force ``df`` into the sink and count its rows on the way, in the
    same job (an observed metric, not a second execution); with
    ``total``, also the sum of that column."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    if total:
        aggs.append(F.sum(total).alias("total"))
    sink(df.observe(obs, *aggs))
    got = obs.get
    return (got["rows"], got["total"]) if total else got["rows"]


def loop(ctx: Ctx, st: dict, seconds: float) -> None:
    spark, fv = ctx.spark, st["fv"]
    ev = st["inp"]["final"]["events"]
    t_end = time.perf_counter() + seconds
    while st["iters"] < MIN_ITERATIONS or time.perf_counter() < t_end:
        i = st["iters"]
        pre = ctx.next_iteration(warmup=i == 0)
        sp = gen.spine(st["r"], ev, SPINE_ROWS)
        sp_df = as_parquet(ctx, sp, "spine")
        start, end = _window(st["r"])
        st["iters"] += 1

        n = ctx.run_op(pre + "training_data", lambda: _forced_rows(
            fv.training_data(spark, spine=sp_df), noop_sink))
        if n is not FAILED:
            ctx.check(n == len(sp), f"training_data has {n} rows, spine {len(sp)}")
        meta = ctx.run_op(pre + "create_td", lambda: fv.create_training_dataset(
            spark, spine=sp_df, random={"train": 0.8, "test": 0.2},
            seed=ctx.seed + i,
        ))
        if meta is FAILED:
            continue
        _check_td(ctx, st, sp, meta)
        stats = meta["statistics"]
        n = ctx.run_op(pre + "batch_data", lambda: _forced_rows(
            fv.get_batch_data(spark, start, end, stats=stats), noop_sink))
        if n is not FAILED:
            want = int(((ev["ts"] >= start) & (ev["ts"] < end)).sum())
            ctx.check(n == want, f"batch data has {n} rows, want {want}")
        got = ctx.run_op(pre + "query_read", lambda: _forced_rows(
            st["latest"].read(spark), noop_sink, total="c_acctbal"))
        if got is not FAILED:
            _check_latest(ctx, st, *got)


def _check_latest(ctx: Ctx, st: dict, n: int, total: float) -> None:
    """The latest-features read holds every event once, each with its
    customer's current balance."""
    fin = st["inp"]["final"]
    bal = fin["customer"].set_index("c_custkey")["c_acctbal"]
    want = float(bal.reindex(fin["events"]["user_id"]).sum())
    ctx.check(n == len(fin["events"]) and close(total, want, rel=1e-9),
              f"query read: {n} rows, balance sum {total}; want "
              f"{len(fin['events'])} rows, {want}")


def _check_td(ctx: Ctx, st: dict, sp: pd.DataFrame, meta: dict) -> None:
    """Outside the timed ops: the dataset holds every spine row once,
    and a seeded sample of its PIT values equals a DuckDB ASOF join
    over the same generated inputs, scaled with the dataset's stats."""
    import duckdb

    td = _read_td(meta)
    ok = len(td) == len(sp) and td["event_id"].is_unique
    ctx.check(ok, f"training dataset has {len(td)} rows, spine {len(sp)}")
    if not ok:
        return
    fin = st["inp"]["final"]
    con = duckdb.connect()
    try:
        con.register("spine", sp)
        con.register("orders", fin["orders"])
        con.register("customer", fin["customer"])
        want = con.execute("""
            SELECT s.event_id, o.o_totalprice, o.o_orderstatus,
                   c.c_acctbal, c.c_mktsegment
            FROM spine s
            ASOF LEFT JOIN orders o
              ON s.user_id = o.o_custkey AND s.ts >= o.o_orderdate
            LEFT JOIN customer c ON s.user_id = c.c_custkey
        """).df().set_index("event_id")
    finally:
        con.close()
    r = gen.rng(ctx.seed * 1000 + st["iters"], "train_read.pit_sample")
    ids = r.choice(sp["event_id"].to_numpy(), PIT_SAMPLE, replace=False)
    got = td.set_index("event_id").loc[ids]
    lim = meta["statistics"]["o_totalprice"]
    lo, hi = float(lim["min"]), float(lim["max"])
    bad = []
    for eid in ids:
        g, w = got.loc[eid], want.loc[eid]
        scaled = (w["o_totalprice"] - lo) / ((hi - lo) or 1.0)
        gs = g["min_max_scaler_o_totalprice"]
        same = (
            (pd.isna(gs) if pd.isna(scaled) else close(gs, scaled))
            and (pd.isna(g["o_orderstatus"]) if pd.isna(w["o_orderstatus"])
                 else g["o_orderstatus"] == w["o_orderstatus"])
            and close(g["c_acctbal"], w["c_acctbal"])
            and g["c_mktsegment"] == w["c_mktsegment"]
        )
        if not same:
            bad.append((int(eid), g.to_dict(), w.to_dict()))
    st["pit_checked"] += len(ids)
    st["pit_ok"] += len(ids) - len(bad)
    ctx.check(not bad, f"{len(bad)}/{len(ids)} PIT values differ from the "
                       f"DuckDB ASOF join, e.g. {bad[:1]}")


def results(ctx: Ctx, st: dict):
    from .measure import median, tail

    e2e = ctx.op_metrics("training_data")
    latency = {
        "main_p50_ms": median(ctx.ms("training_data")),
        "main_tail_ms": tail(ctx.ms("training_data")),
        "second_p50_ms": median(ctx.ms("create_td")),
        "third_p50_ms": median(ctx.ms("batch_data")),
    }
    e2e["quality"] = st["pit_ok"] / st["pit_checked"] if st["pit_checked"] else 0.0
    detail = {
        "training_data_s": ctx.timing("training_data", 90),
        "create_td_s": ctx.timing("create_td", 90),
        "batch_data_s": ctx.timing("batch_data", 90),
        "query_read_s": ctx.timing("query_read", 90),
        "iterations": st["iters"],
        "pit_values_checked": st["pit_checked"],
        "traffic": {"spine_rows": SPINE_ROWS, "events": len(st["inp"]["events"]),
                    "orders": len(st["inp"]["orders"]),
                    "customers": len(st["inp"]["customer"]),
                    "tail_rows": {k: len(v) for k, v in st["inp"]["tails"].items()}},
    }
    return e2e, latency, detail
