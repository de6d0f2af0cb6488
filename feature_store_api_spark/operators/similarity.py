"""Vector similarity search over embedding columns.

Parity surface: ``find_neighbors``
(``/root/reference/python/hsfs/feature_group.py:2394-2459``,
``core/vector_db_client.py:107-200``) with similarity types L2 / cosine
/ dot (``embedding.py:41-43``). The reference delegates to an OpenSearch
kNN index. Here every search runs one core: an index only generates
candidates, with one widening value — exact search keeps every row, the
random-hyperplane LSH index the buckets within a Hamming radius of the
query's, IVF the query's ``nprobe`` nearest cells — and one scorer
(:func:`_distance_sql`), one top-k (:func:`_top_k`) and one retry loop
(:func:`_widening_probe`) rank them.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from typing import Callable, List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constructor.filter import filters_to_column, normalize_filters
from .parallelism import repartition_up


def _quote_ident(name: str) -> str:
    """Backtick-quote an identifier for rendered SQL (embedded backticks
    doubled, Spark's quoting rule)."""
    return "`" + name.replace("`", "``") + "`"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def _literal_array(values: Sequence[float]) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in values) + ")"


def _argmin_sql(scores: Sequence[str]) -> str:
    """Index of the smallest of the SQL ``scores``, ties to the smaller
    index (a struct ``array_min``): the one nearest-centroid assignment
    of IVF cells and PQ codes, scan-side."""
    structs = ", ".join(f"struct({s} as d, {i} as c)" for i, s in enumerate(scores))
    return f"array_min(array({structs})).c"


def _zip_sum_sql(a: str, b: str, term: str) -> str:
    """SQL ``Σ term(x, y)`` over two arrays: a left fold from 0.0D, the
    float operation order every distance and signature here shares."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _vector_norm(vec: Sequence[float]) -> float:
    # same left-to-right summation order as the JVM fold
    return sum(float(x) * float(x) for x in vec) ** 0.5


def _distance_sql(metric: str, col: str, query, query_norms=()) -> str:
    """The one scorer, rendered as ONE SQL string parsed server-side
    (Column objects would cost ~dim py4j round trips per probe). Smaller
    is nearer: cosine and dot are NEGATED similarities. ``query`` is a
    literal vector, or None for the joined batch columns ``__qv``,
    ``__qn`` (its norm; ``query_norms`` lists them all) and ``__vnorm``
    (the row norm, folded before the join). Under cosine a zero-norm row
    scores NULL — never similar, as in :func:`semantic_dedup` — and a
    zero query raises ValueError before any job runs."""
    v = _quote_ident(col)
    if query is not None:
        query_norms = [_vector_norm(query)]
        vn = f"sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))"
        q, qn = _literal_array(query), f"{query_norms[0]!r}D"
    else:
        q, vn, qn = "`__qv`", "`__vnorm`", "`__qn`"
    if metric == "l2":
        return f"sqrt({_zip_sum_sql(v, q, '(x - y) * (x - y)')})"
    if metric == "cosine":
        if 0.0 in query_norms:
            raise ValueError("cosine distance to a zero query vector is undefined")
        return f"-try_divide({_zip_sum_sql(v, q, 'x * y')}, {vn} * {qn})"
    if metric == "dot":
        return f"-{_zip_sum_sql(v, q, 'x * y')}"
    raise ValueError(f"Unknown similarity metric {metric!r}")


def distance_expr(col: str, query: Sequence[float], metric: str) -> Column:
    """Distance of the vectors in column ``col`` (a NAME) to a literal
    query: smaller is nearer for l2, cosine and dot alike."""
    return F.expr(_distance_sql(metric, col, query))


def _scored(df, query, col, metric, where=None, filter=None) -> DataFrame:
    """A literal query's candidates (index predicate ``where``, then the
    caller's ``filter``) with their ``distance``."""
    dist = distance_expr(col, query, metric)
    cand = df if where is None else df.where(where)
    if filter is not None:
        cand = cand.where(filter)
    return cand.withColumn("distance", F.round(dist.cast("double"), 6))


def _top_k(scored: DataFrame, k: int, drop=(), per_query=False) -> DataFrame:
    """The one top-k: nearest first, NULL distances last, ties on the
    first index column, the index's internal ``drop`` columns removed.
    One literal query is ``orderBy().limit()`` — TakeOrderedAndProject,
    no shuffle; a batch is a row_number window per ``query_id``, one
    shuffle for all queries (a single query as a batch of one would put
    a broadcast join and a shuffle on every serving probe)."""
    order = [F.col("distance").asc_nulls_last()] + [
        F.col(c).asc() for c in scored.columns if c not in drop
    ][:1]
    if per_query:
        w = Window.partitionBy("query_id").orderBy(*order)
        ranked = scored.withColumn("rank", F.row_number().over(w))
        return ranked.where(F.col("rank") <= k).drop(*drop)
    return scored.orderBy(*order).limit(k).drop(*drop)


def _widening_probe(
    df, query, col, k, metric, where: Callable[[int], Column], width: int,
    cap: int, filter, drop,
) -> DataFrame:
    """The one k-limit retry loop (parity: the reference widens and
    re-queries when filters starve the result set,
    ``core/vector_db_client.py:107-200``): while the filtered probe
    ``where(width)`` yields <k rows, double the widening value up to
    ``cap``, where every row qualifies — never silently fewer than
    min(k, |matching rows|). One scan per probe: the count materializes
    the persisted candidates, the top-k is collected from that cache,
    and the cache is freed (a persisted frame stays in the CacheManager
    for the session, so returning it would leak one entry per call)."""
    while True:
        scored = _scored(df, query, col, metric, where(width), filter).persist()
        n = scored.count()
        if width >= cap or n >= k:
            out = _top_k(scored, k, drop)
            rows, schema = out.collect(), out.schema
            scored.unpersist()
            return df.sparkSession.createDataFrame(rows, schema)
        scored.unpersist()
        width = min(cap, max(2 * width, width + 1))


def _batch_probe(df, queries, col, k, metric, key_ddl, on, drop) -> DataFrame:
    """M queries ``[(query_id, candidate key, vector)]`` in ONE plan: the
    tiny query frame (key column ``key_ddl``) is broadcast into the
    candidate join ``on``, then the per-query top-k — one index scan and
    one shuffle instead of M scans. Returns (query_id, <index columns>,
    distance, rank)."""
    vecs = [[float(v) for v in vec] for _, _, vec in queries]
    norms = [_vector_norm(v) for v in vecs]
    dist = F.expr(_distance_sql(metric, col, None, norms))
    qdf = df.sparkSession.createDataFrame(
        [(q[0], q[1], v, n) for q, v, n in zip(queries, vecs, norms)],
        f"query_id string, {key_ddl}, __qv array<double>, __qn double",
    )
    # the row norm is query-independent: fold it once per index row, not
    # once per (row x query) pair; l2 and dot never read it, and column
    # pruning drops it from their plans
    base = df.withColumn("__vnorm", _norm(F.col(col)))
    scored = base.join(F.broadcast(qdf), on).withColumn(
        "distance", F.round(dist.cast("double"), 6)
    )
    drop = [*drop, *qdf.columns[1:], "__vnorm"]
    return _top_k(scored, k, drop, per_query=True)


def find_neighbors(
    source,
    embedding: Sequence[float],
    col: Optional[str] = None,
    k: int = 10,
    filter=None,
    metric: str = "l2",
) -> DataFrame:
    """Exact brute-force kNN: every row is a candidate.

    ``source`` is a DataFrame or FeatureGroup; ``filter`` (a Filter /
    Logic / Column) is applied BEFORE the top-k, mirroring the
    reference's filter pushdown into the kNN query
    (``core/vector_db_client.py:232-298``).
    """
    from ..feature_group import FeatureGroupBase

    df = source
    if isinstance(source, FeatureGroupBase):
        from ..session import get_spark

        df = source.read_source(get_spark())
    col = col or next(
        f.name for f in df.schema.fields if str(f.dataType).startswith("ArrayType")
    )
    if filter is not None and not isinstance(filter, Column):
        filter = filters_to_column(normalize_filters(filter))
    return _top_k(_scored(df, embedding, col, metric, filter=filter), k)


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
    plan-build note in operators/dedup.py)."""
    c = _quote_ident(col_name)
    bits = [
        f"if({_zip_sum_sql(c, _literal_array(p), 'x * y')} >= 0, {1 << i}, 0)"
        for i, p in enumerate(planes)
    ]
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


def _qsig(embedding: Sequence[float], num_planes: int, seed: int) -> int:
    planes = _hyperplanes(len(embedding), num_planes, seed)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(embedding, p)) >= 0:
            qsig |= 1 << i
    return qsig


def _hamming(qsig: Column, radius: int) -> Column:
    """LSH candidates: the bucket is within ``radius`` bits of the query
    signature. Evaluated at the scan, so on a bucket-partitioned index
    only candidate files are read."""
    return F.bit_count(F.col("__bucket").bitwiseXOR(qsig)) <= radius


def _write_index(df: DataFrame, part: str, path: str, mode: str, meta: dict) -> None:
    """The one persisted-index format: partitioned by the candidate
    column ``part`` (``__bucket`` or ``__cell``), so a probe's candidate
    predicate prunes directories at the scan, plus one JSON sidecar with
    that column, its type and the driver-side probe state."""
    df.write.partitionBy(part).mode(mode).parquet(path)
    meta = {"partition": part, "type": df.schema[part].dataType.simpleString(), **meta}
    with open(os.path.join(path, "_index.json"), "w") as fh:
        json.dump(meta, fh)


def _read_index(spark, path: str):
    """``(df, sidecar)`` of a persisted index; the partition column is
    cast back to its built type so probe predicates type-match."""
    with open(os.path.join(path, "_index.json")) as fh:
        meta = json.load(fh)
    part = meta["partition"]
    df = spark.read.parquet(path).withColumn(part, F.col(part).cast(meta["type"]))
    return df, meta


def write_ann_index(index_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize an LSH index partitioned by ``__bucket``: a probe
    reads only its candidate buckets (asserted in
    tests/test_similarity.py)."""
    _write_index(index_df, "__bucket", path, mode, {})


def read_ann_index(spark, path: str) -> DataFrame:
    return _read_index(spark, path)[0]


def write_ivf_index(index: "IvfIndex", path: str, mode: str = "overwrite") -> None:
    """Materialize an IVF index partitioned by ``__cell`` (probes prune
    to the nprobe nearest cell directories) with its centroids."""
    _write_index(index.df, "__cell", path, mode, {"centroids": index.centroids})


def read_ivf_index(spark, path: str) -> "IvfIndex":
    df, meta = _read_index(spark, path)
    return IvfIndex(df, meta["centroids"])


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
    """Probe the LSH index: rows whose bucket is within ``max_hamming``
    bits of the query bucket, exact re-rank."""
    where = _hamming(F.lit(_qsig(embedding, num_planes, seed)), max_hamming)
    return _top_k(_scored(index_df, embedding, col, metric, where), k, ["__bucket"])


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
    """LSH probe with k-limit retry: the Hamming radius doubles from
    ``max_hamming`` up to ``num_planes`` (every bucket: exact search
    over the filter). Retries only happen when a filter starves the
    buckets, so the common path stays single-probe."""
    qsig = F.lit(_qsig(embedding, num_planes, seed))
    return _widening_probe(
        index_df, embedding, col, k, metric, lambda h: _hamming(qsig, h),
        max_hamming, num_planes, filter, ["__bucket"],
    )


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
    """Batch LSH probe of ``queries`` = [(query_id, vector), ...] in ONE
    plan: candidates pass each query's Hamming bucket predicate.
    Returns (query_id, <index columns>, distance, rank)."""
    return _batch_probe(
        index_df,
        [(qid, _qsig(vec, num_planes, seed), vec) for qid, vec in queries],
        col, k, metric, "__qsig long",
        _hamming(F.col("__qsig"), max_hamming), ["__bucket"],
    )


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
    # before the self-join instead of twice per candidate pair
    idx = df.select(
        id_col, col, _norm(F.col(col)).alias("__vn")
    ).withColumn("__bucket", F.expr(f"explode(array({structs}))"))
    a, b = (
        idx.select(
            F.col(id_col).alias(f"id_{s}"), F.col(col).alias(f"__v{s}"),
            F.col("__vn").alias(f"__n{s}"), F.col("__bucket"),
        )
        for s in "ab"
    )
    pairs = a.join(b, on="__bucket").where(F.col("id_a") < F.col("id_b"))
    # a zero vector shares every bucket with another zero vector; its
    # cosine is NULL (never a duplicate) instead of a divide-by-zero
    cos = F.try_divide(
        _dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
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

@dataclass(eq=False)
class IvfIndex:
    """An inverted-file (IVF-Flat) index: ``df`` carries a ``__cell``
    column (nearest-centroid id); ``centroids`` is the small coarse
    quantizer, kept driver-side for probe planning."""

    df: DataFrame
    centroids: List[List[float]]


def _assign_cell_expr(col: str, centroids: List[List[float]]) -> Column:
    """Nearest centroid by ``|c|² − 2·v·c`` (the ``|v|²`` term is common
    to all cells), ties by centroid index."""
    v = _quote_ident(col)
    return F.expr(_argmin_sql([
        f"{sum(x * x for x in c)!r}D - "
        f"{_zip_sum_sql(v, _literal_array(c), 'x * y')} * 2.0D"
        for c in centroids
    ]))


def _cell_means(exploded: DataFrame, keys: List[str]) -> dict:
    """One Lloyd mean step over ``exploded`` = (``keys``, ``__p``,
    ``__x``): each cell's element-wise mean in ONE groupBy (the shuffle
    carries cells × dim aggregated rows), collected driver-side as
    ``{key tuple: means by position}``. Means round to 9 dp so float
    summation order cannot perturb the next assignment."""
    got: dict = {}
    for r in exploded.groupBy(*keys, "__p").agg(
        F.round(F.avg("__x"), 9).alias("__m")
    ).collect():
        got.setdefault(tuple(r[k] for k in keys), {})[r["__p"]] = float(r["__m"])
    return {key: [m[p] for p in range(len(m))] for key, m in got.items()}


def build_ivf_index(
    df: DataFrame,
    col: str,
    id_col: str = "vec_id",
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
) -> IvfIndex:
    """IVF-Flat build. The coarse quantizer starts from a DETERMINISTIC
    sample — the vectors with the smallest ids — so an oracle can
    re-derive it. ``kmeans_iterations`` Lloyd rounds then re-assign every
    vector scan-side and move each centroid to its cell's mean
    (:func:`_cell_means`): on clustered embeddings the first-N seeds give
    fat cells that defeat nprobe pruning, and 2-3 rounds measurably
    restore recall@k (tests/test_similarity.py). Write ``df``
    partitioned by ``__cell`` and a probe reads ``nprobe`` directories.
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
        means = _cell_means(assigned, ["__cell"])
        cents = [means.get((i,), c) for i, c in enumerate(cents)]
    out = df.withColumn("__cell", _assign_cell_expr(col, cents))
    return IvfIndex(out, cents)


def _nearest_cells(centroids: List[List[float]], embedding) -> List[int]:
    """Cell ids nearest-first by ``|c|² − 2 q·c`` (``|q|²`` is common to
    all cells), ties by cell id: the one cell ranking of IVF and IVF-PQ
    probes, driver-side (|centroids| is tiny)."""

    def d2(c):
        return sum(x * x for x in c) - 2.0 * sum(
            a * b for a, b in zip(embedding, c)
        )

    return sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))


def _ivf_where(centroids, embedding) -> Callable[[int], Column]:
    """IVF candidates: the ``nprobe`` cells nearest the query (partition
    pruning on a ``__cell``-partitioned index)."""
    cells = _nearest_cells(centroids, embedding)
    return lambda nprobe: F.col("__cell").isin(cells[:nprobe])


def find_neighbors_ivf(
    index: IvfIndex,
    embedding: Sequence[float],
    col: str,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    filter: Optional[Column] = None,
) -> DataFrame:
    """Probe the IVF index: scan only the ``nprobe`` cells nearest the
    query, exact re-rank inside them."""
    where = _ivf_where(index.centroids, embedding)(nprobe)
    return _top_k(
        _scored(index.df, embedding, col, metric, where, filter), k, ["__cell"]
    )


def find_neighbors_ivf_batch(
    index: IvfIndex,
    queries: Sequence,
    col: str,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Batch IVF probe in ONE plan: the broadcast query frame carries
    each query's probe-cell list; candidates pass an ``array_contains``
    on their cell."""
    cells = [(q, _nearest_cells(index.centroids, v)[:nprobe], v) for q, v in queries]
    return _batch_probe(
        index.df, cells, col, k, metric, "__cells array<int>",
        F.array_contains(F.col("__cells"), F.col("__cell")), ["__cell"],
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
    """IVF probe with k-limit retry: ``nprobe`` doubles up to
    |centroids| (an exhaustive scan), so the result is never silently
    short."""
    return _widening_probe(
        index.df, embedding, col, k, metric,
        _ivf_where(index.centroids, embedding), nprobe, len(index.centroids),
        filter, ["__cell"],
    )


def normalize_embeddings(df: DataFrame, col: str, out_col: Optional[str] = None) -> DataFrame:
    """L2-normalize an embedding column (unit vectors make cosine = dot
    and let downstream ANN skip per-row norms) — one JVM fold + one
    transform per row, scan-side, zero Python. Zero vectors pass
    through unchanged (no divide-by-zero NaNs). Values round to 6 dp so
    the result is engine-portable."""
    c = F.col(col)
    norm = _norm(c)
    normalized = F.when(norm == 0, c).otherwise(
        F.transform(c, lambda x: F.round(x / norm, 6))
    )
    return df.withColumn(out_col or col, normalized)


def group_centroids(
    df: DataFrame, group_col: str, col: str, out_col: str = "centroid"
) -> DataFrame:
    """Element-wise mean embedding per group (cluster summaries, class
    prototypes): ``posexplode`` → one
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
    # size by the max observed position: ragged arrays can miss a middle
    # dimension entirely, an inconsistent corpus that must fail loudly
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
    code = _per_dimension(col, params, lambda x, p: F.greatest(
        F.lit(0),
        F.least(F.lit(255), F.floor((x - p["lo"]) / p["s"] + F.lit(0.5)).cast("int")),
    ))
    return df.withColumn(out_col or f"{col}_q8", code)


def dequantize_expr(col: str, params: List[dict]) -> Column:
    """Approximate reconstruction: code*scale + lo per dimension."""
    return _per_dimension(col, params, lambda c, p: c.cast("double") * p["s"] + p["lo"])


def _per_dimension(col: str, params: List[dict], f) -> Column:
    """``f(x, p)`` over each element ``x`` of ``col`` with its dimension's
    quantization parameters ``p`` (fields ``lo`` and ``s``, the scale)."""
    los = F.array(*[F.lit(p["lo"]) for p in params])
    scales = F.array(*[F.lit(p["scale"]) for p in params])
    pairs = F.zip_with(
        los, scales, lambda lo, s: F.struct(lo.alias("lo"), s.alias("s"))
    )
    return F.zip_with(F.col(col), pairs, f)


# ---------------------------------------------------------------------------
# Product Quantization (Jegou, Douze, Schmid, TPAMI 2011): m-subspace
# codebooks and asymmetric-distance (ADC) scoring over the codes — dim-64
# float64 vectors (512 B) compress to m=8 codes (8 B)
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


def _pq_assign_expr(
    col: str, mi: int, subdim: int, centroids: List[List[float]]
) -> Column:
    """Nearest centroid of subspace ``mi`` by Σ(x−y)² ROUNDED to 9 dp,
    ties by centroid index. The left fold is the float operation order
    an oracle engine's list_sum reproduces, and the rounding absorbs
    last-ulp divergence, so codes match bit-for-bit across engines."""
    sub = f"slice({_quote_ident(col)}, {mi * subdim + 1}, {subdim})"
    return F.expr(_argmin_sql([
        f"round({_zip_sum_sql(sub, _literal_array(c), '(x - y) * (x - y)')}, 9)"
        for c in centroids
    ]))


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
    scan-side, and one :func:`_cell_means` over (subspace, cell)."""
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
        [[float(x) for x in r[1][mi * subdim : (mi + 1) * subdim]] for r in seeds]
        for mi in range(num_subspaces)
    ]
    for _ in range(kmeans_iterations):
        subs = F.array(*[
            F.struct(
                F.lit(mi).alias("m"),
                _pq_assign_expr(col, mi, subdim, books[mi]).alias("cell"),
                _pq_sub_slice(col, mi, subdim).alias("v"),
            )
            for mi in range(num_subspaces)
        ])
        exploded = df.select(F.explode(subs).alias("s")).select(
            "s.m", "s.cell", F.posexplode("s.v").alias("__p", "__x")
        )
        means = _cell_means(exploded, ["m", "cell"])
        books = [
            [means.get((mi, ci), c) for ci, c in enumerate(book)]
            for mi, book in enumerate(books)
        ]
    return PqCodebook(books)


def pq_encode(
    df: DataFrame, col: str, codebook: PqCodebook, out_col: str = "pq_code"
) -> DataFrame:
    """Attach the ``array<int>`` PQ code — pure scan-side Column
    expression (one argmin per subspace against literal centroids), no
    shuffle, no Python."""
    codes = F.array(
        *[
            _pq_assign_expr(col, mi, codebook.subdim, codebook.codebooks[mi])
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
    # one server-side-parsed SQL string: the m×k literal table as
    # Column objects cost m*k py4j round trips per probe
    s, qs = codebook.subdim, [float(x) for x in query]
    lut_sql = "array(" + ", ".join(
        _literal_array([
            sum((a - b) * (a - b) for a, b in zip(qs[mi * s : (mi + 1) * s], cent))
            for cent in book
        ])
        for mi, book in enumerate(codebook.codebooks)
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
    original vectors (the standard PQ recall fix). ``id_col`` makes
    tie-breaks at both cut points deterministic. Both cuts compile to
    TakeOrderedAndProject, never a global sort."""
    tie = [F.col(id_col).asc()] if id_col is not None else []
    adc = F.round(pq_distance_expr(code_col, codebook, query), 6)
    cand = df.withColumn("adc_distance", adc).orderBy("adc_distance", *tie)
    if col is None:
        return cand.limit(k)
    exact = cand.limit(k * rerank_factor).withColumn(
        "distance", F.round(distance_expr(col, query, "l2"), 6)
    )
    return exact.orderBy("distance", *tie).limit(k)


# ---------------------------------------------------------------------------
# IVF-PQ (FAISS IVFPQ with by_residual=False): a probe prunes to nprobe
# cell partitions, ADC-scans only their codes, and touches full vectors
# for a constant-size rerank set
# ---------------------------------------------------------------------------

@dataclass(eq=False)
class IvfPqIndex:
    """``df`` carries ``__cell`` (coarse nearest-centroid id) and
    ``pq_code``; ``centroids`` (coarse quantizer) and ``codebook`` (PQ)
    stay driver-side for probe planning."""

    df: DataFrame
    centroids: List[List[float]]
    codebook: PqCodebook
    code_col: str = "pq_code"


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
    """Probe: restrict to the ``nprobe`` cells nearest the query (the
    IVF-Flat cell ranking), ADC-score their codes, exact-L2 rerank the
    top ``k × rerank_factor`` when ``col`` is given."""
    cand = index.df.where(_ivf_where(index.centroids, embedding)(nprobe))
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
    df = index.df
    if not keep_vectors:
        # every float-family array column but the codes (array<float>
        # embeddings too)
        df = df.drop(*[
            f.name for f in df.schema.fields
            if isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, (T.FloatType, T.DoubleType))
            and f.name != index.code_col
        ])
    _write_index(df, "__cell", path, mode, {
        "centroids": index.centroids,
        "codebook": index.codebook.to_dict(),
        "code_col": index.code_col,
    })


def read_ivfpq_index(spark, path: str) -> IvfPqIndex:
    df, meta = _read_index(spark, path)
    return IvfPqIndex(
        df, meta["centroids"], PqCodebook.from_dict(meta["codebook"]),
        code_col=meta["code_col"],
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss; Achlioptas 2003 ±1 entries):
# signs are md5 parity of (seed, out_dim_index, in_dim_index), so any
# engine with md5 re-derives every projection
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
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column. Cluster the
    embeddings, then WITHIN each cluster mark every item that has a
    near-identical neighbor (rounded cosine ≥ ``threshold``) with a
    smaller id as a duplicate — one survivor per near-identical group,
    O(Σ cᵢ²) pair work instead of O(n²).

    Output: ``(id_col, cluster, is_dup)`` — fully deterministic. The
    clustering is nearest-seed assignment with DETERMINISTIC seeds (the
    ``num_clusters`` smallest-id embeddings): highest rounded cosine,
    ties to the smallest seed index, so any engine re-derives the exact
    partition.

    ``method``: ``"expr"`` evaluates every cosine as a SQL fold
    (byte-stable across engines: the oracle path) and verifies pairs
    through a within-cluster self-join; ``"pandas"`` runs the assignment
    as an Arrow-batched numpy matmul and the pair check as ONE
    per-cluster blocked matmul (the shuffle moves n rows, never the
    joined pairs) — identical results except on exact .5e-7 rounding
    boundaries (numpy rounds half-to-even, Spark half-up). ``"auto"``
    picks pandas once ``num_clusters x dim`` exceeds ~1k, the measured
    crossover where interpreted folds stop scaling."""
    base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__v"))
    # assignment is compute-bound: spread it even when the input is one
    # small file (repartition UP only, parallelism.py)
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
    if method == "auto":
        method = "pandas" if num_clusters * len(seeds[0]) > 1024 else "expr"
    if method == "pandas":
        assigned = _semantic_assign_pandas(base, seeds)
        return _semantic_dedup_groups(assigned, threshold).select(
            F.col("__id").alias(id_col), "cluster", "is_dup"
        )
    # the highest rounded cosine is the smallest negated one; a zero
    # vector scores -2 against every seed (cluster 0)
    vn = "sqrt(aggregate(`__v`, 0.0D, (acc, x) -> acc + x * x))"
    assigned = base.withColumn("cluster", F.expr(_argmin_sql([
        f"-(CASE WHEN {vn} = 0 THEN -2.0D ELSE round("
        f"{_zip_sum_sql('`__v`', _literal_array(s), 'x * y')}"
        f" / ({vn} * {sum(x * x for x in s) ** 0.5 or 1.0!r}D), 6) END)"
        for s in seeds
    ])))
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
    row with a smaller-id neighbor at rounded cosine >= threshold. Pair
    semantics match the expr path's self-join (same dot/(|a||b|) operand
    order before the 6-dp round; zero-norm rows score -2.0 and never
    match). The block size keeps one cos block near 64 MB however large
    a cluster gets."""
    id_field = assigned.schema["__id"]
    out_schema = T.StructType([
        T.StructField("__id", id_field.dataType, id_field.nullable),
        T.StructField("cluster", T.IntegerType(), False),
        T.StructField("is_dup", T.BooleanType(), False),
    ])
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
        return pd.DataFrame({
            "__id": pdf["__id"],
            "cluster": pdf["cluster"].astype("int32"),
            "is_dup": is_dup,
        })

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
    scan-side fold per output dim, no shuffle, no Python stage. The whole
    sign matrix is ONE ``array<double>`` literal (row-major,
    ``signs[j*in_dim+i]``) sliced inside ``transform(sequence(...))``: a
    1536→128 projection is a handful of Catalyst nodes, not ~197k
    per-entry literals."""
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
            _dot(F.col(col), F.slice(signs, j * in_dim + 1, in_dim)) * F.lit(scale), 9
        ),
    )
    return df.withColumn(out_col or f"{col}_rp{out_dim}", proj)
