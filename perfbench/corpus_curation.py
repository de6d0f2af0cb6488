"""corpus_curation: LLM-data curation over a corpus with planted
near-duplicates, plus a batch of embedding neighbour queries.

One iteration: length gate, ``minhash_lsh_duplicate_pairs``
(materialised once), ``duplicate_clusters`` and ``select_survivors``
keeping the longest member of each cluster; then ``build_ann_index``
over the embeddings (persisted) and one ``find_neighbors_batch`` of 16
seeded queries. No feature-store layer runs here.
"""

from __future__ import annotations

import time

import numpy as np

from . import gen
from .common import FAILED, Ctx, close, write_parquet

MIN_CHARS = 100
DOCUMENTS = 2_500
GROUPS = 200
K = 10
QUERIES = 16
MIN_ITERATIONS = 4  # the first is a warm-up


def inputs_digest(seed: int) -> int:
    import pandas as pd

    r = gen.rng(seed, "corpus_curation")
    docs, planted = gen.documents(r, n=DOCUMENTS, groups=GROUPS)
    emb = gen.embeddings(r)
    return gen.digest([
        docs, pd.DataFrame({"m": [m for g in planted for m in g]}),
        pd.DataFrame(np.array(emb["embedding"].tolist())),
    ])


def prepare(ctx: Ctx, reps: int) -> dict:
    """Untimed: the corpus, the embeddings and the queries, with one
    copy of the two input files per set-up."""
    r = gen.rng(ctx.seed, "corpus_curation")
    docs, planted = gen.documents(r, n=DOCUMENTS, groups=GROUPS)
    emb = gen.embeddings(r)
    qr = gen.rng(ctx.seed, "corpus_curation.queries")
    # each query is a stored vector (its own row must come back first)
    picks = qr.choice(len(emb), QUERIES, replace=False)
    return {
        "docs": docs, "planted": planted, "emb": emb,
        "files": [(write_parquet(ctx, docs, "documents"),
                   write_parquet(ctx, emb, "embeddings")) for _ in range(reps)],
        "queries": [(emb["embedding"][int(p)], int(p)) for p in picks],
    }


def setup(ctx: Ctx, pre: dict, rep: int) -> dict:
    """Timed: the corpus and the embeddings loaded through the package's
    parquet reader and cached, so the loop starts from memory."""
    from feature_store_api_spark.sources.readers import read_parquet

    loaded = []
    for path in pre["files"][rep]:
        df = read_parquet(ctx.spark, path).persist()
        df.count()
        loaded.append(df)
    docs_df, emb_df = loaded
    return dict(pre, docs_df=docs_df, emb_df=emb_df, iters=0, recall=[])


def _curate(ctx: Ctx, st: dict):
    from pyspark.sql import functions as F

    from feature_store_api_spark.operators.dedup import (
        duplicate_clusters, minhash_lsh_duplicate_pairs, select_survivors,
    )

    gated = st["docs_df"].where(F.length("text") >= MIN_CHARS)
    with ctx.tracer.span("bench.minhash_pairs"):
        pairs = minhash_lsh_duplicate_pairs(gated, "text", "doc_id")
        pairs = pairs.localCheckpoint(eager=True)
    clusters = duplicate_clusters(pairs, algorithm="auto")
    survivors = select_survivors(gated, clusters, order_by=[F.length("text")])
    ids = [r[0] for r in survivors.select("doc_id").collect()]
    return pairs, clusters, ids


def _build_index(st: dict):
    from feature_store_api_spark.operators.similarity import build_ann_index

    idx = build_ann_index(st["emb_df"], "embedding", dim=64).persist()
    idx.count()
    return idx


def _knn(idx, queries):
    from feature_store_api_spark.operators.similarity import find_neighbors_batch

    return find_neighbors_batch(
        idx, [(f"q{i}", vec) for i, (vec, _src) in enumerate(queries)],
        col="embedding", k=K,
    ).collect()


def loop(ctx: Ctx, st: dict, seconds: float) -> None:
    t_end = time.perf_counter() + seconds
    while st["iters"] < MIN_ITERATIONS or time.perf_counter() < t_end:
        # the first iteration compiles the MinHash aggregate and the kNN
        # plan: it is checked like the others but timed as a warm-up
        pre = ctx.next_iteration(warmup=st["iters"] == 0)
        st["iters"] += 1
        out = ctx.run_op(pre + "curation", lambda: _curate(ctx, st))
        if out is not FAILED:
            _check_curation(ctx, st, *out)
        idx = ctx.run_op(pre + "ann_build", lambda: _build_index(st))
        if idx is FAILED:
            continue
        rows = ctx.run_op(pre + "knn_batch", lambda: _knn(idx, st["queries"]))
        if rows is not FAILED:
            _check_knn(ctx, st, st["queries"], rows)
        idx.unpersist()


def _check_curation(ctx: Ctx, st: dict, pairs, clusters, ids) -> None:
    """Outside the timed op: one survivor per cluster, every unclustered
    gated document kept, and recall against the planted groups."""
    docs = st["docs"]
    lengths = dict(zip(docs["doc_id"], docs["n_chars"]))
    gated = {int(d) for d, n in lengths.items() if n >= MIN_CHARS}
    cl = {int(r["doc_id"]): int(r["cluster_id"]) for r in clusters.collect()}
    kept = set(ids)
    members = {}
    for d, c in cl.items():
        members.setdefault(c, []).append(d)
    per_cluster = {c: [d for d in m if d in kept] for c, m in members.items()}
    ok = (
        len(kept) == len(ids)
        and kept <= gated
        and all(d in kept for d in gated if d not in cl)
        and all(len(s) == 1 for s in per_cluster.values())
        and all(
            lengths[s[0]] == max(lengths[d] for d in members[c])
            for c, s in per_cluster.items() if s
        )
    )
    ctx.check(ok, "survivor set breaks one-survivor-per-cluster or drops "
                  "an unclustered document")
    collapsed = sum(1 for g in st["planted"] if sum(d in kept for d in g) == 1)
    st["recall"].append(collapsed / len(st["planted"]))
    if ctx.tracer.enabled:
        ctx.tracer.peak("operators.dedup.pairs", pairs.count())


def _check_knn(ctx: Ctx, st: dict, queries, rows) -> None:
    """Each query is a stored vector: it must come back first, and every
    returned distance must equal the exact cosine distance."""
    emb = np.array(st["emb"]["embedding"].tolist())
    norms = np.linalg.norm(emb, axis=1)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    bad = []
    for i, (vec, src) in enumerate(queries):
        got = sorted(by_q.get(f"q{i}", []), key=lambda r: r["rank"])
        q = np.asarray(vec)
        exact = {
            r["vec_id"]: -float(emb[r["vec_id"]] @ q / (norms[r["vec_id"]] * np.linalg.norm(q)))
            for r in got
        }
        ok = (
            0 < len(got) <= K
            and [r["rank"] for r in got] == list(range(1, len(got) + 1))
            and got[0]["vec_id"] == src
            and all(close(r["distance"], exact[r["vec_id"]], abs_=2e-6) for r in got)
            and all(a["distance"] <= b["distance"] for a, b in zip(got, got[1:]))
        )
        if not ok:
            bad.append(i)
    ctx.check(not bad, f"kNN results wrong for queries {bad}")


def results(ctx: Ctx, st: dict):
    from .measure import median, tail

    e2e = ctx.op_metrics("curation")
    latency = {
        "main_p50_ms": median(ctx.ms("curation")),
        "main_tail_ms": tail(ctx.ms("curation")),
        "second_p50_ms": median(ctx.ms("knn_batch")),
        "third_p50_ms": median(ctx.ms("ann_build")),
    }
    e2e["quality"] = median(st["recall"])
    detail = {
        "curation_s": ctx.timing("curation", 90),
        "knn_batch_p50_ms": ctx.timing("knn_batch", 90),
        "ann_build_ms": ctx.timing("ann_build", 90),
        "dedup_recall": e2e["quality"],
        "iterations": st["iters"],
        "warmup_iteration_s": {k: ctx.samples.get("warmup." + k)
                               for k in ("curation", "ann_build", "knn_batch")},
        "traffic": {"documents": len(st["docs"]),
                    "planted_groups": len(st["planted"]),
                    "planted_docs": sum(len(g) for g in st["planted"]),
                    "min_chars": MIN_CHARS, "queries": QUERIES, "k": K},
    }
    return e2e, latency, detail
