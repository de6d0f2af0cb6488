"""Vector similarity search over embedding columns.

Parity surface: ``find_neighbors``
(``/root/reference/python/hsfs/feature_group.py:2394-2459``,
``core/vector_db_client.py:107-200``) with similarity types L2 / cosine
/ dot (``embedding.py:41-43``). The reference delegates to an OpenSearch
kNN index; here the baseline is exact brute-force top-k inside Spark
(distance = higher-order-function expression, JVM-side; top-k =
TakeOrdered, no full sort), and the scale path is a random-hyperplane
LSH bucketed index that prunes candidates before the exact re-rank.
"""

from __future__ import annotations

import random
from typing import List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constructor.filter import filters_to_column, normalize_filters
from .parallelism import repartition_up


def _quote_ident(name: str) -> str:
    """Backtick-quote an identifier for rendered SQL, escaping embedded
    backticks by doubling (Spark's quoting rule) — hardening for the
    day these helpers take raw user strings; FG-sanitized names never
    contain backticks."""
    return "`" + name.replace("`", "``") + "`"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def distance_expr(col, query: Sequence[float], metric: str) -> Column:
    """Distance/score column. For l2 smaller is better; for cosine/dot
    we return a *distance-like* value (negated similarity) so ordering
    is uniformly ascending.

    ``col`` may be a column NAME (preferred: the whole expression —
    including the dim query literals — renders as ONE SQL string parsed
    server-side instead of ~dim py4j round trips per probe) or a Column
    (legacy callers; falls back to the object formulation)."""
    if isinstance(col, str):
        c = _quote_ident(col)
        arr = "array(" + ", ".join(f"{float(v)!r}D" for v in query) + ")"
        if metric == "l2":
            return F.expr(
                f"sqrt(aggregate(zip_with({c}, {arr}, "
                "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
            )
        if metric == "cosine":
            qn = sum(float(v) * float(v) for v in query) ** 0.5
            dot = (
                f"aggregate(zip_with({c}, {arr}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            nrm = f"sqrt(aggregate({c}, 0.0D, (acc, x) -> acc + x * x))"
            return F.expr(f"-({dot} / ({nrm} * {float(qn)!r}D))")
        if metric == "dot":
            return F.expr(
                f"-aggregate(zip_with({c}, {arr}, (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
        raise ValueError(f"Unknown similarity metric {metric!r}")
    q = F.array(*[F.lit(float(v)) for v in query])
    if metric == "l2":
        return F.sqrt(
            F.aggregate(
                F.zip_with(col, q, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    if metric == "cosine":
        qn = sum(float(v) * float(v) for v in query) ** 0.5
        return -(_dot(col, q) / (_norm(col) * F.lit(qn)))
    if metric == "dot":
        return -_dot(col, q)
    raise ValueError(f"Unknown similarity metric {metric!r}")


def find_neighbors(
    source,
    embedding: Sequence[float],
    col: Optional[str] = None,
    k: int = 10,
    filter=None,
    metric: str = "l2",
) -> DataFrame:
    """Exact brute-force kNN: one scan, distance expression, top-k.

    ``source`` is a DataFrame or FeatureGroup; ``filter`` (a Filter /
    Logic / Column) is applied BEFORE the top-k, mirroring the
    reference's filter pushdown into the kNN query
    (``core/vector_db_client.py:232-298``).
    """
    from ..feature_group import FeatureGroupBase

    if isinstance(source, FeatureGroupBase):
        from ..session import get_spark

        df = source.read_source(get_spark())
        col = col or next(
            f.name for f in df.schema.fields if str(f.dataType).startswith("ArrayType")
        )
    else:
        df = source
        if col is None:
            col = next(
                f.name for f in df.schema.fields if str(f.dataType).startswith("ArrayType")
            )
    if filter is not None:
        if isinstance(filter, Column):
            df = df.where(filter)
        else:
            df = df.where(filters_to_column(normalize_filters(filter)))
    dist = distance_expr(col, embedding, metric)
    scored = df.withColumn("distance", F.round(dist.cast("double"), 6))
    return scored.orderBy(F.col("distance").asc()).limit(k)


# ---------------------------------------------------------------------------
# LSH (random hyperplane) bucketed index — the 100 TB path
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, num_planes: int, seed: int) -> List[List[float]]:
    rnd = random.Random(seed)
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def signature_sql(col_name: str, planes: List[List[float]]) -> str:
    """Bit-signature SQL: sign of the dot product with each hyperplane,
    packed into a long. Rendered as ONE string parsed server-side —
    the Column-object formulation cost dim × num_planes py4j round
    trips (~0.8 s of pure driver time per index build at 64×12; see the
    plan-build note in operators/dedup.py). Math is identical to the
    old Column form: zip_with multiply, left-fold add from 0.0D,
    if(dot >= 0, 1<<i, 0) summed."""
    bits = []
    for i, p in enumerate(planes):
        arr = ", ".join(f"{float(v)!r}D" for v in p)
        dot = (
            f"aggregate(zip_with({_quote_ident(col_name)}, array({arr}), "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"if({dot} >= 0, {1 << i}, 0)")
    return f"cast(({' + '.join(bits)}) as bigint)"


def signature_expr(col_name: str, planes: List[List[float]]) -> Column:
    """Bit signature as a Column; ``col_name`` is the COLUMN NAME (the
    SQL rendering needs it — a Column object can't be stringified)."""
    return F.expr(signature_sql(col_name, planes))


def build_ann_index(
    df: DataFrame, col: str, dim: int, num_planes: int = 12, seed: int = 7
) -> DataFrame:
    """Materialize an LSH-bucketed copy of the table: adds ``__bucket``.
    Write this partitioned/bucketed by ``__bucket`` so a probe reads only
    matching buckets (partition pruning at scan time)."""
    planes = _hyperplanes(dim, num_planes, seed)
    return df.withColumn("__bucket", signature_expr(col, planes))


def write_ann_index(index_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize an LSH index partitioned by ``__bucket`` — the 100 TB
    layout the probe functions are designed for: the Hamming-radius
    bucket predicate becomes DIRECTORY-level partition pruning at the
    scan (asserted in tests/test_similarity.py), so a probe reads only
    candidate buckets instead of the full index."""
    index_df.write.partitionBy("__bucket").mode(mode).parquet(path)


def read_ann_index(spark, path: str) -> DataFrame:
    """Load a persisted LSH index. ``__bucket`` comes back as a
    partition column; cast to long so the probes' bitwise expressions
    type-match the in-memory index."""
    df = spark.read.parquet(path)
    return df.withColumn("__bucket", F.col("__bucket").cast("long"))


def write_ivf_index(index: "IvfIndex", path: str, mode: str = "overwrite") -> None:
    """Materialize an IVF index partitioned by ``__cell`` (probes prune
    to the nprobe nearest cell directories) plus a centroid sidecar."""
    import json
    import os

    index.df.write.partitionBy("__cell").mode(mode).parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as fh:
        json.dump(index.centroids, fh)


def read_ivf_index(spark, path: str) -> "IvfIndex":
    import json
    import os

    df = spark.read.parquet(path).withColumn(
        "__cell", F.col("__cell").cast("int")
    )
    with open(os.path.join(path, "_centroids.json")) as fh:
        centroids = json.load(fh)
    return IvfIndex(df, centroids)


def find_neighbors_ann(
    index_df: DataFrame,
    embedding: Sequence[float],
    col: str,
    k: int = 10,
    metric: str = "cosine",
    num_planes: int = 12,
    seed: int = 7,
    max_hamming: int = 2,
) -> DataFrame:
    """Probe the LSH index: keep rows whose bucket is within
    ``max_hamming`` bits of the query bucket, then exact re-rank. The
    bucket predicate uses ``bit_count(xor)`` — evaluated at the scan, so
    with a bucket-partitioned index only candidate files are read."""
    planes = _hyperplanes(len(embedding), num_planes, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(embedding, p)) >= 0:
            qsig |= 1 << i
    cand = index_df.where(
        F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qsig))) <= max_hamming
    )
    dist = distance_expr(col, embedding, metric)
    return (
        cand.withColumn("distance", F.round(dist.cast("double"), 6))
        .orderBy(F.col("distance").asc())
        .limit(k)
        .drop("__bucket")
    )


def find_neighbors_ann_retry(
    index_df: DataFrame,
    embedding: Sequence[float],
    col: str,
    k: int = 10,
    metric: str = "cosine",
    num_planes: int = 12,
    seed: int = 7,
    max_hamming: int = 2,
    filter: Optional[Column] = None,
) -> DataFrame:
    """ANN probe with k-limit retry (parity: the reference widens k and
    re-queries when filters starve the result set,
    ``core/vector_db_client.py:107-200``). Here the widening knob is the
    Hamming radius: if the (optionally filtered) probe yields <k rows,
    double the radius and re-probe; at radius = num_planes every bucket
    qualifies, so the final fallback is exact brute force over the
    filter — never silently fewer than min(k, |matching rows|).

    Each retry is one more pruned probe (cheap with a bucket-partitioned
    index); retries only happen when the thin-bucket case actually
    occurs, so the common path stays single-probe. The convergence check
    persists the scored candidate frame and counts THAT — one scan total:
    the returned top-k reads the cached candidates, so the caller's
    action does not re-run the probe (the candidate set is small by
    construction — that is what the bucket pruning is for)."""
    qsig = _qsig(embedding, num_planes, seed)
    h = max_hamming
    while True:
        cand = index_df.where(
            F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qsig))) <= h
        )
        if filter is not None:
            cand = cand.where(filter)
        dist = distance_expr(col, embedding, metric)
        scored = cand.withColumn(
            "distance", F.round(dist.cast("double"), 6)
        ).persist()
        n = scored.count()  # the ONE probe scan; materializes the cache
        if h >= num_planes or n >= k:
            # Materialize the k rows from the cache, then free it —
            # persist() registers in Spark's CacheManager and is NOT
            # GC-freed, so returning the cached frame would leak one
            # cache entry per serving call. k is small (a serving
            # top-k), so a driver-side localized result is cheap.
            out = scored.orderBy(F.col("distance").asc()).limit(k).drop("__bucket")
            rows, schema = out.collect(), out.schema
            scored.unpersist()
            return index_df.sparkSession.createDataFrame(rows, schema)
        scored.unpersist()
        h = min(num_planes, max(h * 2, h + 1))


def find_neighbors_batch(
    index_df: DataFrame,
    queries: Sequence,
    col: str,
    k: int = 10,
    metric: str = "cosine",
    num_planes: int = 12,
    seed: int = 7,
    max_hamming: int = 2,
) -> DataFrame:
    """Batch ANN: score M query vectors against the LSH index in ONE
    plan (the bulk-scoring / batch-serving pattern — M sequential
    probes would scan the index M times).

    ``queries`` = [(query_id, vector), ...]. The query frame (tiny: M
    rows of id + signature + vector) is broadcast; candidates survive
    the per-query Hamming bucket predicate; the exact re-rank is a
    row_number window per query_id ordered by (distance, row id) — one
    scan of the index, one shuffle on query_id, results for all M
    probes. Returns (query_id, <index columns>, distance, rank).
    """
    from pyspark.sql import Window

    spark = index_df.sparkSession
    rows = []
    for qid, vec in queries:
        vec = [float(v) for v in vec]
        # query norm driver-side, same left-to-right summation order as
        # the JVM fold it replaces — bit-identical doubles
        qn = sum(x * x for x in vec) ** 0.5
        rows.append((qid, _qsig(vec, num_planes, seed), vec, qn))
    qdf = spark.createDataFrame(
        rows, "query_id string, __qsig long, __qv array<double>, __qn double"
    )
    base = index_df
    if metric == "cosine":
        # the row's own norm is query-independent: fold it ONCE per
        # index row before the join instead of once per surviving
        # (row x query) pair (r15; same expression, same value)
        base = base.withColumn("__vnorm", _norm(F.col(col)))
    cand = base.join(
        F.broadcast(qdf),
        F.bit_count(F.col("__bucket").bitwiseXOR(F.col("__qsig"))) <= max_hamming,
    )
    v = F.col(col)
    qv = F.col("__qv")
    if metric == "l2":
        dist = F.sqrt(
            F.aggregate(
                F.zip_with(v, qv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    elif metric == "cosine":
        dist = -(_dot(v, qv) / (F.col("__vnorm") * F.col("__qn")))
    elif metric == "dot":
        dist = -_dot(v, qv)
    else:
        raise ValueError(f"Unknown similarity metric {metric!r}")
    scored = cand.withColumn("distance", F.round(dist.cast("double"), 6))
    order = [F.col("distance").asc()] + [
        F.col(c).asc() for c in index_df.columns if c != "__bucket"
    ][:1]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("__bucket", "__qsig", "__qv", "__qn", "__vnorm")
    )


def _qsig(embedding: Sequence[float], num_planes: int, seed: int) -> int:
    planes = _hyperplanes(len(embedding), num_planes, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(embedding, p)) >= 0:
            qsig |= 1 << i
    return qsig


def embedding_cosine_dup_pairs(
    df: DataFrame, id_col: str, col: str, dim: int, threshold: float = 0.95,
    num_planes: int = 6, seed: int = 7, num_tables: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs: multi-table LSH self-join
    (equi-join on (table, bucket) → one shuffle on the bucket key, no
    O(n²)), then exact cosine filter.

    Recall math: a pair at angle θ collides in one table with
    p = (1 - θ/π)^num_planes; miss probability across tables is
    (1-p)^num_tables. Defaults (6 planes × 8 tables) give <0.3% miss at
    cos ≥ 0.95 and ~1e-5 at cos ≥ 0.99 — candidate count stays ~n²/2^6
    per table, so the exact re-check is cheap."""
    structs = ", ".join(
        f"struct({t} as t, "
        f"{signature_sql(col, _hyperplanes(dim, num_planes, seed + 7919 * t))}"
        " as b)"
        for t in range(num_tables)
    )
    # the row norm is pair-independent: fold it once per (row, table)
    # before the self-join instead of twice per candidate pair (r15;
    # identical expression, identical value)
    idx = df.select(
        id_col, col, _norm(F.col(col)).alias("__vn")
    ).withColumn("__bucket", F.expr(f"explode(array({structs}))"))
    a = idx.select(
        F.col(id_col).alias("id_a"), F.col(col).alias("__va"),
        F.col("__vn").alias("__na"), F.col("__bucket"),
    )
    b = idx.select(
        F.col(id_col).alias("id_b"), F.col(col).alias("__vb"),
        F.col("__vn").alias("__nb"), F.col("__bucket"),
    )
    pairs = a.join(b, on="__bucket").where(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("__va"), F.col("__vb")) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        pairs.withColumn("cosine", F.round(cos.cast("double"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def read_by_keys(df: DataFrame, key_col: str, keys: Sequence) -> DataFrame:
    """Fetch index rows by key list (parity
    ``core/vector_db_client.py:311-379`` read-index path): an IN filter
    the scanner pushes down; batched lookups stay a single scan."""
    return df.where(F.col(key_col).isin(*keys))


def index_count(df: DataFrame) -> int:
    """Index row count (parity ``core/vector_db_client.py:381-391``)."""
    return df.count()


# ---------------------------------------------------------------------------
# IVF-Flat index — the second ANN scale path (alongside hyperplane LSH)
# ---------------------------------------------------------------------------

class IvfIndex:
    """An inverted-file (IVF-Flat) index: ``df`` carries a ``__cell``
    column (nearest-centroid id); ``centroids`` is the small coarse
    quantizer, kept driver-side for probe planning."""

    def __init__(self, df: DataFrame, centroids: List[List[float]]) -> None:
        self.df = df
        self.centroids = centroids


def _assign_cell_expr(col: str, centroids: List[List[float]]) -> Column:
    """argmin over centroids of ``|c|² − 2·v·c`` (the ``|v|²`` term is
    common to all cells) — each dot product a JVM fold against a
    literal array, ties broken by centroid index."""
    scored = []
    for i, c in enumerate(centroids):
        norm2 = sum(x * x for x in c)
        score = F.lit(norm2) - 2.0 * _dot(F.col(col), F.array(*[F.lit(x) for x in c]))
        scored.append(F.struct(score.alias("d"), F.lit(i).alias("cell")))
    return F.array_min(F.array(*scored)).getField("cell")


def build_ivf_index(
    df: DataFrame,
    col: str,
    id_col: str = "vec_id",
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
) -> IvfIndex:
    """IVF-Flat build. The coarse quantizer starts from a DETERMINISTIC
    sample — the vectors with the smallest ids — fully reproducible
    across engines and runs (an oracle can re-derive it).

    ``kmeans_iterations > 0`` adds that many Lloyd refinement rounds as
    DataFrame aggregations: re-assign every vector to its nearest
    centroid (scan-side argmin, no shuffle), then recompute each
    centroid as the element-wise mean of its cell via ``posexplode`` →
    ``groupBy(cell, pos).avg`` — one shuffle carrying
    ``num_centroids × dim`` aggregated rows, collected driver-side
    (tiny). Means are rounded to 9 dp so float summation order cannot
    perturb assignments — the refinement stays deterministic given the
    seed sample. On clustered real-world embedding distributions the
    first-N seeds give unbalanced Voronoi cells (fat cells defeat
    nprobe pruning); 2-3 Lloyd rounds restore balanced cells and
    measurably better recall@k (see tests/test_similarity.py).

    Assignment is scan-side; write ``df`` partitioned by ``__cell``
    and a probe reads only ``nprobe`` directories.
    """
    cents = [
        [float(x) for x in r[1]]
        for r in df.select(id_col, col).orderBy(id_col).limit(num_centroids).collect()
    ]
    for _ in range(kmeans_iterations):
        # two projections: a generator (posexplode) sharing a SELECT
        # with the struct-argmin loses the struct's field names
        assigned = df.select(
            _assign_cell_expr(col, cents).alias("__cell"),
            F.col(col).alias("__v"),
        ).select("__cell", F.posexplode("__v").alias("__p", "__x"))
        means = (
            assigned.groupBy("__cell", "__p")
            .agg(F.round(F.avg("__x"), 9).alias("__m"))
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["__p"]] = float(r["__m"])
        cents = [
            [by_cell[i][p] for p in range(len(c))] if i in by_cell else c
            for i, c in enumerate(cents)
        ]
    out = df.withColumn("__cell", _assign_cell_expr(col, cents))
    return IvfIndex(out, cents)


def find_neighbors_ivf(
    index: IvfIndex,
    embedding: Sequence[float],
    col: str,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    filter: Optional[Column] = None,
) -> DataFrame:
    """Probe the IVF index: rank cells by centroid distance to the
    query (driver-side, |centroids| is tiny), scan only the ``nprobe``
    nearest cells, exact re-rank inside them. With a ``__cell``-
    partitioned index the cell predicate is partition pruning."""
    return (
        _ivf_candidates(index, embedding, col, nprobe, metric, filter)
        .orderBy(F.col("distance").asc())
        .limit(k)
        .drop("__cell")
    )


def _ivf_candidates(
    index: "IvfIndex",
    embedding: Sequence[float],
    col: str,
    nprobe: int,
    metric: str,
    filter: Optional[Column],
) -> DataFrame:
    """Scored candidate frame of one IVF probe (pre-top-k): the
    ``nprobe`` nearest cells by driver-side centroid ranking, the
    optional filter, and the exact distance column."""

    def d2(c):
        return sum(x * x for x in c) - 2.0 * sum(
            a * b for a, b in zip(embedding, c)
        )

    order = sorted(
        range(len(index.centroids)), key=lambda i: (d2(index.centroids[i]), i)
    )
    cells = order[:nprobe]
    cand = index.df.where(F.col("__cell").isin(cells))
    if filter is not None:
        cand = cand.where(filter)
    dist = distance_expr(col, embedding, metric)
    return cand.withColumn("distance", F.round(dist.cast("double"), 6))


def find_neighbors_ivf_batch(
    index: IvfIndex,
    queries: Sequence,
    col: str,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Batch IVF probe: M query vectors in ONE plan. Cell ranking per
    query happens driver-side (|centroids| tiny); the broadcast query
    frame carries each query's probe-cell list, candidates survive an
    ``array_contains`` on their cell, and the exact re-rank is a
    row_number window per query_id — one index scan for all probes."""
    from pyspark.sql import Window

    spark = index.df.sparkSession

    def d2(c, q):
        return sum(x * x for x in c) - 2.0 * sum(a * b for a, b in zip(q, c))

    rows = []
    for qid, vec in queries:
        order = sorted(
            range(len(index.centroids)),
            key=lambda i: (d2(index.centroids[i], vec), i),
        )
        vec = [float(v) for v in vec]
        qn = sum(x * x for x in vec) ** 0.5
        rows.append((qid, order[:nprobe], vec, qn))
    qdf = spark.createDataFrame(
        rows, "query_id string, __cells array<int>, __qv array<double>, "
        "__qn double"
    )
    base = index.df
    if metric == "cosine":
        # query-independent row norm folded once per row, not once per
        # (row x query) pair (r15; identical value, same op order)
        base = base.withColumn("__vnorm", _norm(F.col(col)))
    cand = base.join(
        F.broadcast(qdf), F.array_contains(F.col("__cells"), F.col("__cell"))
    )
    v, qv = F.col(col), F.col("__qv")
    if metric == "l2":
        dist = F.sqrt(
            F.aggregate(
                F.zip_with(v, qv, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    elif metric == "cosine":
        dist = -(_dot(v, qv) / (F.col("__vnorm") * F.col("__qn")))
    elif metric == "dot":
        dist = -_dot(v, qv)
    else:
        raise ValueError(f"Unknown similarity metric {metric!r}")
    scored = cand.withColumn("distance", F.round(dist.cast("double"), 6))
    first_id = [c for c in index.df.columns if c != "__cell"][:1]
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), *[F.col(c).asc() for c in first_id]
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("__cell", "__cells", "__qv", "__qn", "__vnorm")
    )


def find_neighbors_ivf_retry(
    index: IvfIndex,
    embedding: Sequence[float],
    col: str,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    filter: Optional[Column] = None,
) -> DataFrame:
    """IVF probe with k-limit retry: when the (optionally filtered)
    probe returns <k rows, double ``nprobe`` and re-probe; at
    nprobe = |centroids| the scan is exhaustive, so the result is never
    silently short (parity ``core/vector_db_client.py:107-200``).

    Like :func:`find_neighbors_ann_retry`, the convergence check counts
    a persisted scored-candidate frame — ONE scan per probe, and the
    returned top-k reads the cache instead of re-running it."""
    n = nprobe
    total = len(index.centroids)
    while True:
        scored = _ivf_candidates(
            index, embedding, col, nprobe=n, metric=metric, filter=filter
        ).persist()
        cnt = scored.count()  # the ONE probe scan; materializes the cache
        if n >= total or cnt >= k:
            # As in find_neighbors_ann_retry: localize the k rows, then
            # unpersist — otherwise every serving call leaks a
            # CacheManager entry for the session lifetime.
            out = scored.orderBy(F.col("distance").asc()).limit(k).drop("__cell")
            rows, schema = out.collect(), out.schema
            scored.unpersist()
            return index.df.sparkSession.createDataFrame(rows, schema)
        scored.unpersist()
        n = min(total, n * 2)


def normalize_embeddings(df: DataFrame, col: str, out_col: Optional[str] = None) -> DataFrame:
    """L2-normalize an embedding column (unit vectors make cosine = dot
    and let downstream ANN skip per-row norms) — one JVM fold + one
    transform per row, scan-side, zero Python. Zero vectors pass
    through unchanged (no divide-by-zero NaNs). Values round to 6 dp so
    the result is engine-portable."""
    out_col = out_col or col
    c = F.col(col)
    norm = _norm(c)
    normalized = F.when(
        norm == 0, c
    ).otherwise(F.transform(c, lambda x: F.round(x / norm, 6)))
    return df.withColumn(out_col, normalized)


def group_centroids(
    df: DataFrame, group_col: str, col: str, out_col: str = "centroid"
) -> DataFrame:
    """Element-wise mean embedding per group (cluster summaries, class
    prototypes, IVF refinement): ``posexplode`` → one
    ``groupBy(group, position).avg`` with map-side partial aggregation
    (the shuffle carries ``groups × dim`` aggregated rows, not
    vectors) → per-group reassembly ordered by position. Returns
    ``(group_col, out_col, n_members)``."""
    pos = df.select(
        F.col(group_col), F.col(col).alias("__v")
    ).select(group_col, F.posexplode("__v").alias("__p", "__x"))
    means = pos.groupBy(group_col, "__p").agg(
        F.round(F.avg("__x"), 6).alias("__m")
    )
    members = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    vecs = means.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__p", "__m"))),
            lambda s: s["__m"],
        ).alias(out_col)
    )
    return members.join(vecs, on=group_col)


def quantization_params(df: DataFrame, col: str) -> List[dict]:
    """Per-dimension (min, scale) for 8-bit scalar quantization,
    computed corpus-wide: one posexplode + groupBy(position) min/max
    (map-side combined; the shuffle carries ``dim`` aggregated rows),
    collected driver-side (tiny)."""
    rows = (
        df.select(F.posexplode(F.col(col)).alias("__p", "__x"))
        .groupBy("__p")
        .agg(F.min("__x").alias("lo"), F.max("__x").alias("hi"))
        .collect()
    )
    if not rows:
        return []
    # Size by the max observed position, not len(rows): with ragged
    # embedding arrays a middle dimension can be missing entirely, and
    # indexing by position into a len(rows) list would IndexError (or
    # leave a None that crashes quantize_embeddings later). Missing
    # positions are an inconsistent-dimension corpus — fail loudly.
    params = [None] * (max(r["__p"] for r in rows) + 1)
    for r in rows:
        lo, hi = float(r["lo"]), float(r["hi"])
        scale = (hi - lo) / 255.0 or 1.0
        params[r["__p"]] = {"lo": lo, "scale": scale}
    holes = [i for i, p in enumerate(params) if p is None]
    if holes:
        raise ValueError(
            f"Inconsistent embedding dimensions in column {col!r}: no "
            f"vector carries position(s) {holes} although longer vectors "
            "exist — quantization needs a fixed dimensionality"
        )
    return params


def quantize_embeddings(
    df: DataFrame, col: str, params: List[dict], out_col: Optional[str] = None
) -> DataFrame:
    """8-bit scalar quantization: each dimension maps to a 0-255 code
    via its corpus (min, scale) — a 4× memory cut for ANN candidate
    storage with the exact re-rank still running on original vectors
    when kept. Code = floor((x-lo)/scale + 0.5) clamped (floor+0.5
    rather than round(): identical across engines regardless of
    half-rounding mode). Pure per-row Column expression, scan-side."""
    out_col = out_col or f"{col}_q8"
    los = F.array(*[F.lit(p["lo"]) for p in params])
    scales = F.array(*[F.lit(p["scale"]) for p in params])
    code = F.zip_with(
        F.col(col),
        F.zip_with(los, scales, lambda lo, s: F.struct(lo.alias("lo"), s.alias("s"))),
        lambda x, p: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor((x - p["lo"]) / p["s"] + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    return df.withColumn(out_col, code)


def dequantize_expr(col: str, params: List[dict]) -> Column:
    """Approximate reconstruction: code*scale + lo per dimension."""
    los = F.array(*[F.lit(p["lo"]) for p in params])
    scales = F.array(*[F.lit(p["scale"]) for p in params])
    return F.zip_with(
        F.col(col),
        F.zip_with(los, scales, lambda lo, s: F.struct(lo.alias("lo"), s.alias("s"))),
        lambda c, p: c.cast("double") * p["s"] + p["lo"],
    )


# ---------------------------------------------------------------------------
# Product Quantization (PQ): m-subspace codebooks, 4-bit/8-bit codes,
# asymmetric-distance (ADC) scoring. The compressed-index ANN scale path
# beyond scalar quantization: dim-64 float64 vectors (512 B) compress to
# m=8 uint8 codes (8 B, 64x) while ADC keeps ranking quality; codes are
# scan-side Column expressions, training is a handful of tiny aggregates.
# Public technique: Jegou, Douze, Schmid, "Product Quantization for
# Nearest Neighbor Search" (TPAMI 2011).
# ---------------------------------------------------------------------------

class PqCodebook:
    """``codebooks[m][c]`` = centroid ``c`` of subspace ``m`` (each of
    ``subdim`` dims). Deterministic by construction (seeded from the
    smallest-id vectors, Lloyd means rounded) — reproducible across
    engines and runs."""

    def __init__(self, codebooks: List[List[List[float]]]) -> None:
        self.codebooks = codebooks
        self.num_subspaces = len(codebooks)
        self.num_centroids = len(codebooks[0]) if codebooks else 0
        self.subdim = len(codebooks[0][0]) if codebooks and codebooks[0] else 0

    def to_dict(self) -> dict:
        return {"codebooks": self.codebooks}

    @classmethod
    def from_dict(cls, d: dict) -> "PqCodebook":
        return cls(d["codebooks"])


def _pq_sub_slice(col: str, mi: int, subdim: int) -> Column:
    return F.slice(F.col(col), mi * subdim + 1, subdim)


def _pq_d2(sub: Column, centroid: List[float]) -> Column:
    """Σ(x−y)² as a SEQUENTIAL left fold over positions — the exact
    float operation order an oracle engine's list_sum reproduces, so
    codes match bit-for-bit across engines."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_assign_expr(sub: Column, centroids: List[List[float]]) -> Column:
    """argmin over centroids of d² ROUNDED to 9 dp, ties by centroid
    index — rounding absorbs last-ulp float divergence between engines
    so the argmin (hence the code) is engine-portable."""
    scored = [
        F.struct(F.round(_pq_d2(sub, c), 9).alias("d"), F.lit(i).alias("c"))
        for i, c in enumerate(centroids)
    ]
    return F.array_min(F.array(*scored)).getField("c")


def train_pq(
    df: DataFrame,
    col: str,
    id_col: str = "vec_id",
    num_subspaces: int = 8,
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
) -> PqCodebook:
    """Train per-subspace codebooks. Seeds = sub-slices of the
    ``num_centroids`` smallest-id vectors (deterministic, oracle-
    re-derivable); optional Lloyd rounds refine ALL subspaces with ONE
    job per round: every (subspace, slice) is exploded once, assigned
    scan-side, and a single groupBy(subspace, cell, pos) mean — the
    shuffle carries ``m × k × subdim`` aggregated rows, collected
    driver-side (tiny)."""
    seeds = (
        df.select(id_col, col).orderBy(id_col).limit(num_centroids).collect()
    )
    if not seeds:
        raise ValueError("train_pq: empty input")
    dim = len(seeds[0][1])
    if dim % num_subspaces:
        raise ValueError(
            f"dim {dim} not divisible by num_subspaces {num_subspaces}"
        )
    subdim = dim // num_subspaces
    books = [
        [
            [float(x) for x in r[1][mi * subdim : (mi + 1) * subdim]]
            for r in seeds
        ]
        for mi in range(num_subspaces)
    ]
    for _ in range(kmeans_iterations):
        subs = F.array(
            *[
                F.struct(
                    F.lit(mi).alias("m"),
                    _pq_assign_expr(
                        _pq_sub_slice(col, mi, subdim), books[mi]
                    ).alias("cell"),
                    _pq_sub_slice(col, mi, subdim).alias("v"),
                )
                for mi in range(num_subspaces)
            ]
        )
        exploded = (
            df.select(F.explode(subs).alias("s"))
            .select("s.m", "s.cell", F.posexplode("s.v").alias("p", "x"))
        )
        means = (
            exploded.groupBy("m", "cell", "p")
            .agg(F.round(F.avg("x"), 9).alias("mu"))
            .collect()
        )
        got: dict = {}
        for r in means:
            got.setdefault((r["m"], r["cell"]), {})[r["p"]] = float(r["mu"])
        for mi in range(num_subspaces):
            for ci in range(num_centroids):
                cell = got.get((mi, ci))
                if cell:
                    books[mi][ci] = [cell[p] for p in range(subdim)]
    return PqCodebook(books)


def pq_encode(
    df: DataFrame, col: str, codebook: PqCodebook, out_col: str = "pq_code"
) -> DataFrame:
    """Attach the ``array<int>`` PQ code — pure scan-side Column
    expression (one argmin per subspace against literal centroids), no
    shuffle, no Python."""
    codes = F.array(
        *[
            _pq_assign_expr(
                _pq_sub_slice(col, mi, codebook.subdim), codebook.codebooks[mi]
            )
            for mi in range(codebook.num_subspaces)
        ]
    )
    return df.withColumn(out_col, codes)


def pq_distance_expr(
    code_col: str, codebook: PqCodebook, query: Sequence[float]
) -> Column:
    """ADC distance: the query is sliced once driver-side into a
    ``m × k`` lookup table of exact sub-distances; a row's distance is
    ``sqrt(Σ_m lut[m][code[m]])`` — an O(m) JVM fold per row over the
    literal table, never touching the original vectors."""
    lut = []
    for mi in range(codebook.num_subspaces):
        qs = [float(x) for x in query[mi * codebook.subdim : (mi + 1) * codebook.subdim]]
        row = []
        for cent in codebook.codebooks[mi]:
            d2 = 0.0
            for a, b in zip(qs, cent):
                d2 += (a - b) * (a - b)
            row.append(d2)
        lut.append(row)
    # one server-side-parsed SQL string: the m×k literal table as
    # Column objects cost m*k py4j round trips per probe (1024 at the
    # 8×16 default — ~0.3 s of driver time each call)
    lut_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in lut
    ) + ")"
    return F.expr(
        f"sqrt(aggregate(transform(`{code_col}`, (c, i) -> "
        f"element_at(element_at({lut_sql}, i + 1), c + 1)), "
        "0.0D, (a, x) -> a + x))"
    )


def find_neighbors_pq(
    df: DataFrame,
    query: Sequence[float],
    codebook: PqCodebook,
    code_col: str = "pq_code",
    col: Optional[str] = None,
    k: int = 10,
    rerank_factor: int = 4,
    id_col: Optional[str] = None,
) -> DataFrame:
    """Top-k by ADC over the compressed codes; with ``col`` given, the
    ADC top ``k × rerank_factor`` candidates re-rank by EXACT L2 on the
    original vectors (the standard PQ recall fix — the compressed scan
    does the data reduction, exact math only touches a constant-size
    candidate set). ``id_col`` makes tie-breaks at both cut points
    deterministic (rounded distances collide; without it the k-th row
    is engine-luck). Both cuts compile to TakeOrderedAndProject — a
    per-partition top-k heap + driver merge, never a global sort."""
    order = [F.col("adc_distance").asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    adc = F.round(pq_distance_expr(code_col, codebook, query), 6)
    scored = df.withColumn("adc_distance", adc)
    if col is None:
        return scored.orderBy(*order).limit(k)
    cand = scored.orderBy(*order).limit(k * rerank_factor)
    exact = cand.withColumn(
        "distance", F.round(distance_expr(col, query, "l2"), 6)
    )
    final = [F.col("distance").asc()] + (
        [F.col(id_col).asc()] if id_col is not None else []
    )
    return exact.orderBy(*final).limit(k)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file cells + in-cell PQ codes (the classic
# compressed-index composition, e.g. FAISS IVFPQ with by_residual=False).
# A probe prunes to nprobe cell partitions, ADC-scans only the 8-byte
# codes inside them, and touches full vectors for a constant-size rerank
# set — the 100 TB read pattern: partition pruning × 64x column shrink.
# ---------------------------------------------------------------------------

class IvfPqIndex:
    """``df`` carries ``__cell`` (coarse nearest-centroid id) and
    ``pq_code``; ``centroids`` (coarse quantizer) and ``codebook`` (PQ)
    stay driver-side for probe planning."""

    def __init__(
        self,
        df: DataFrame,
        centroids: List[List[float]],
        codebook: PqCodebook,
        code_col: str = "pq_code",
    ) -> None:
        self.df = df
        self.centroids = centroids
        self.codebook = codebook
        self.code_col = code_col


def build_ivfpq_index(
    df: DataFrame,
    col: str,
    id_col: str = "vec_id",
    num_cells: int = 16,
    num_subspaces: int = 8,
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
    pq_iterations: int = 0,
) -> IvfPqIndex:
    """Coarse IVF assignment + one shared PQ codebook over the corpus
    (non-residual — codes stay engine-portable and one codebook serves
    every cell). Both training passes are deterministic (smallest-id
    seeds, rounded Lloyd means). Write ``df`` partitioned by ``__cell``
    and a probe reads nprobe directories of code columns only."""
    ivf = build_ivf_index(
        df, col, id_col=id_col, num_centroids=num_cells,
        kmeans_iterations=kmeans_iterations,
    )
    cb = train_pq(
        df, col, id_col=id_col, num_subspaces=num_subspaces,
        num_centroids=num_centroids, kmeans_iterations=pq_iterations,
    )
    return IvfPqIndex(pq_encode(ivf.df, col, cb), ivf.centroids, cb)


def find_neighbors_ivfpq(
    index: IvfPqIndex,
    embedding: Sequence[float],
    col: Optional[str] = None,
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
    id_col: Optional[str] = "vec_id",
    filter: Optional[Column] = None,
) -> DataFrame:
    """Probe: rank cells by centroid distance driver-side (same rule as
    IVF-Flat: ``|c|² − 2 q·c``, ties by cell id), restrict to the
    ``nprobe`` nearest, ADC-score their codes, exact-L2 rerank the top
    ``k × rerank_factor`` when ``col`` is given."""

    def d2(c):
        return sum(x * x for x in c) - 2.0 * sum(
            a * b for a, b in zip(embedding, c)
        )

    order = sorted(
        range(len(index.centroids)),
        key=lambda i: (d2(index.centroids[i]), i),
    )
    cand = index.df.where(F.col("__cell").isin(order[:nprobe]))
    if filter is not None:
        cand = cand.where(filter)
    return find_neighbors_pq(
        cand, embedding, index.codebook, code_col=index.code_col,
        col=col, k=k, rerank_factor=rerank_factor, id_col=id_col,
    ).drop("__cell")


def write_ivfpq_index(
    index: IvfPqIndex, path: str, mode: str = "overwrite",
    keep_vectors: bool = True,
) -> None:
    """Materialize an IVF-PQ index partitioned by ``__cell`` (probes
    prune to nprobe directories) with the coarse centroids + PQ
    codebook in a JSON sidecar. ``keep_vectors=False`` drops the full
    embedding column from the layout — the 64×-smaller codes-only
    index for ADC-only serving (rerank then needs the source table)."""
    import json
    import os

    df = index.df
    if not keep_vectors:
        # drop EVERY float-family array column except the PQ codes —
        # matching on the element type (not a str() prefix) so
        # array<float> embeddings shrink away too
        vec_cols = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, (T.FloatType, T.DoubleType))
            and f.name != index.code_col
        ]
        df = df.drop(*vec_cols)
    df.write.partitionBy("__cell").mode(mode).parquet(path)
    with open(os.path.join(path, "_ivfpq_meta.json"), "w") as fh:
        json.dump(
            {
                "centroids": index.centroids,
                "codebook": index.codebook.to_dict(),
                "code_col": index.code_col,
            },
            fh,
        )


def read_ivfpq_index(spark, path: str) -> IvfPqIndex:
    import json
    import os

    df = spark.read.parquet(path).withColumn(
        "__cell", F.col("__cell").cast("int")
    )
    with open(os.path.join(path, "_ivfpq_meta.json")) as fh:
        meta = json.load(fh)
    return IvfPqIndex(
        df, meta["centroids"], PqCodebook.from_dict(meta["codebook"]),
        code_col=meta.get("code_col", "pq_code"),
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss) dimensionality reduction.
# The standard pre-ANN shrink for high-dim embeddings (1536 → 128 keeps
# pairwise distances within (1±eps)). Signs come from md5 parity of
# (seed, out_dim_index, in_dim_index) — deterministic AND re-derivable
# by any engine with md5, so projections are oracle-checkable
# (Achlioptas 2003: ±1 entries satisfy the JL lemma).
# ---------------------------------------------------------------------------

def _rp_sign(seed: int, j: int, i: int) -> float:
    import hashlib

    h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) < 8 else -1.0


def semantic_dedup(
    df: DataFrame,
    col: str,
    id_col: str = "vec_id",
    num_clusters: int = 8,
    threshold: float = 0.95,
    method: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public
    algorithm): semantic near-duplicate removal over an embedding
    column. Cluster the embeddings, then WITHIN each cluster mark every
    item that has a near-identical neighbor (rounded cosine ≥
    ``threshold``) with a smaller id as a duplicate — one survivor per
    near-identical group, never comparing across clusters.

    Output: ``(id_col, cluster, is_dup)`` — fully deterministic.

    Engine notes: the coarse clustering is nearest-seed assignment with
    DETERMINISTIC seeds (the ``num_clusters`` smallest-id embeddings),
    argmax of rounded cosine with ties to the smallest seed index, so
    any engine re-derives the exact partition (swap in
    ``build_ivf_index``'s Lloyd-refined centroids for quality at
    scale — the dedup semantics are identical). Scale posture: seeds
    are a k-row collect (tiny), assignment is a scan-side fold, and the
    only join is the within-cluster self-join — SemDeDup's whole point:
    O(Σ cᵢ²) pair work instead of O(n²), with cluster count sized so
    cᵢ ≈ n/k fits a partition.

    ``method``: ``"expr"`` evaluates every cosine as Column expressions
    (higher-order folds — interpreted per element, byte-stable across
    engines: the oracle path) and verifies pairs through a
    within-cluster self-join; ``"pandas"`` runs the assignment as an
    Arrow-batched numpy matmul (``mapInPandas``) and the pair check as
    ONE per-cluster blocked matmul (``applyInPandas`` — the shuffle
    moves n rows, never the O(sum c_i^2) joined pairs) — 10-100x
    faster when k x dim or cluster sizes are large, identical results
    except on exact .5e-7 rounding boundaries (numpy rounds
    half-to-even, Spark half-up). ``"auto"`` picks pandas once
    ``num_clusters x dim`` exceeds ~1k (where interpreted folds stop
    scaling)."""
    base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__v"))
    # assignment is a k-cosines-per-row fold — compute-bound, so spread
    # it across the cluster even when the input is one small file.
    # Repartition UP only — never coalesce an already-parallel layout
    # (plan-analysis-free guard: parallelism.py)
    base = repartition_up(base, "__id")
    seeds = [
        list(r["__v"])
        for r in base.orderBy("__id").limit(num_clusters).collect()
    ]
    if not seeds:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], f"{id_col} long, cluster int, is_dup boolean"
        )
    dim = len(seeds[0])
    if method == "auto":
        # measured crossover on local[32]: the Arrow path wins once
        # k x dim clears ~1k (assignment matmul + vectorized pair
        # verify); below that the expression path's zero-serialization
        # start beats it — and stays byte-portable for oracles
        method = "pandas" if num_clusters * dim > 1024 else "expr"
    if method == "pandas":
        # scale path: per-cluster blocked matmul (ONE applyInPandas) —
        # Arrow moves n rows, not the O(sum c_i^2) joined pairs the
        # expr path's self-join materializes (at 10x bench scale that
        # join shipped ~7M pair rows x 2 vectors through a per-pair
        # UDF; the matmul does the same 15M cosines in-memory in ms)
        assigned = _semantic_assign_pandas(base, seeds)
        return _semantic_dedup_groups(assigned, threshold).select(
            F.col("__id").alias(id_col), "cluster", "is_dup"
        )
    else:
        vnorm = _norm(F.col("__v"))
        scored = []
        for i, s in enumerate(seeds):
            snorm = sum(x * x for x in s) ** 0.5 or 1.0
            dot = _dot(F.col("__v"), F.array(*[F.lit(float(x)) for x in s]))
            cos = F.when(vnorm == 0, F.lit(-2.0)).otherwise(
                F.round(dot / (vnorm * F.lit(snorm)), 6)
            )
            # struct max: highest cosine wins, ties to the SMALLEST index
            # (-i sorts the tie the right way inside array_max)
            scored.append(
                F.struct(
                    cos.alias("c"), F.lit(-i).alias("ni"), F.lit(i).alias("cell")
                )
            )
        assigned = base.withColumn(
            "cluster", F.array_max(F.array(*scored)).getField("cell")
        )
    # materialize once: the assignment feeds both self-join sides AND
    # the final output join — without this it would run three times
    # (localCheckpoint frees itself on RDD GC, no CacheManager entry)
    assigned = assigned.localCheckpoint(eager=True)
    a = assigned.alias("a")
    b = assigned.alias("b")
    # zero-norm guard: cosine is undefined for a zero vector, so
    # such a pair is never a duplicate (ANSI would raise on the /0)
    norm_prod = _norm(F.col("a.__v")) * _norm(F.col("b.__v"))
    pair_cos = F.when(norm_prod == 0, F.lit(-2.0)).otherwise(
        F.round(_dot(F.col("a.__v"), F.col("b.__v")) / norm_prod, 6)
    )
    dup_ids = (
        a.join(
            b,
            on=[
                F.col("a.cluster") == F.col("b.cluster"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .where(pair_cos >= threshold)
        .select(F.col("b.__id").alias("__id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.join(dup_ids, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def _semantic_assign_pandas(base: DataFrame, seeds) -> DataFrame:
    """Arrow-batched nearest-seed assignment: one numpy matmul per
    batch (V @ S.T), zero-vector rows score -2 everywhere, argmax ties
    to the first (smallest) seed index — the same contract as the
    expression path."""
    S = np.asarray(seeds, dtype=np.float64)  # k x d
    snorms = np.linalg.norm(S, axis=1)
    snorms[snorms == 0] = 1.0
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField("cluster", T.IntegerType(), False)]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
            vn = np.linalg.norm(V, axis=1)
            safe = np.where(vn == 0, 1.0, vn)
            cos = np.round((V @ S.T) / safe[:, None] / snorms[None, :], 6)
            cos[vn == 0, :] = -2.0
            pdf = pdf.copy()
            pdf["cluster"] = cos.argmax(axis=1).astype("int32")
            yield pdf

    return base.mapInPandas(assign, schema=schema)


def _semantic_dedup_groups(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cluster near-dup marking as ONE ``applyInPandas`` over the
    cluster key: per group, a blocked V @ V.T cosine matmul marks every
    row with a smaller-id neighbor at rounded cosine >= threshold.

    Pair semantics are byte-identical to the expr path's self-join
    (same dot/(|a||b|) operand order before the 6-dp round, zero-norm
    rows score -2.0 so they never match), but the shuffle moves n rows
    instead of the O(sum c_i^2) joined pairs. Block size adapts to the
    group so the cos block stays ~64 MB however large one cluster gets;
    the per-task memory bound is SemDeDup's own contract (size k so
    c_i ~ n/k fits a task — identical to the join path, where one
    cluster's pairs also landed on one task)."""
    id_field = next(f for f in assigned.schema.fields if f.name == "__id")
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType, id_field.nullable),
            T.StructField("cluster", T.IntegerType(), False),
            T.StructField("is_dup", T.BooleanType(), False),
        ]
    )
    thr = float(threshold)

    def dedup(pdf):
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        n = len(pdf)
        V = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
        vn = np.linalg.norm(V, axis=1)
        zero = vn == 0
        safe = np.where(zero, 1.0, vn)
        is_dup = np.zeros(n, dtype=bool)
        cols = np.arange(n)
        bs = max(64, min(4096, 8_000_000 // max(n, 1)))
        for s in range(0, n, bs):
            e = min(s + bs, n)
            # same op order as the pair path: dot / (|a|*|b|), then round
            cos = np.round(
                (V[s:e] @ V.T) / (safe[s:e, None] * safe[None, :]), 6
            )
            cos[zero[s:e], :] = -2.0
            cos[:, zero] = -2.0
            hit = (cos >= thr) & (np.arange(s, e)[:, None] < cols[None, :])
            is_dup |= hit.any(axis=0)
        return pd.DataFrame(
            {
                "__id": pdf["__id"],
                "cluster": pdf["cluster"].astype("int32"),
                "is_dup": is_dup,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(dedup, schema=out_schema)


def random_projection(
    df: DataFrame,
    col: str,
    in_dim: int,
    out_dim: int,
    seed: int = 7,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Project ``col`` (array<double>, ``in_dim``) to ``out_dim`` dims:
    ``out[j] = Σ_i x[i] · sign(seed,j,i) / sqrt(out_dim)``. Pure
    scan-side fold per output dim against ONE flat literal sign array —
    no shuffle, no Python stage; at 100 TB this is a projection pushed
    into the scan, shrinking every downstream exchange by
    ``in_dim/out_dim``×.

    Plan-size note: the whole in_dim×out_dim sign matrix is a SINGLE
    ``array<double>`` literal (row-major, ``signs[j*in_dim+i]``)
    indexed via ``slice`` inside ``transform(sequence(...))`` — a
    1536→128 projection is a handful of Catalyst nodes, not ~197k
    per-entry literals that would blow up analysis/codegen."""
    scale = 1.0 / (out_dim ** 0.5)
    flat = [
        _rp_sign(seed, j, i) for j in range(out_dim) for i in range(in_dim)
    ]
    # ONE string literal → split → cast: three Catalyst nodes that the
    # optimizer constant-folds into a single array literal at plan time.
    # (F.lit(list) / F.array(*lits) would round-trip every element
    # through py4j — ~100 s of driver time at 1536×128.)
    signs = F.split(
        F.lit(",".join("1" if s > 0 else "-1" for s in flat)), ","
    ).cast("array<double>")
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    F.col(col),
                    F.slice(signs, j * in_dim + 1, in_dim),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale),
            9,
        ),
    )
    return df.withColumn(out_col or f"{col}_rp{out_dim}", proj)
