"""ANN probes: k-limit retry parity (the reference widens the query
when filters starve the result set, core/vector_db_client.py:107-200)."""

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark.operators import similarity as sim
from tests.conftest import spark_jobs


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)], "keep" if i % 50 == 0 else "drop")
        for i in range(500)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )


def test_ann_retry_widens_until_k(emb):
    q = [0.1] * 16
    idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=10)
    flt = F.col("label") == "keep"  # only 10 of 500 rows qualify
    # tight first probe: radius 0 almost surely starves a 10-row filter
    starved = sim.find_neighbors_ann(
        idx.where(flt), q, col="embedding", k=8, num_planes=10, max_hamming=0
    )
    retried = sim.find_neighbors_ann_retry(
        idx, q, col="embedding", k=8, num_planes=10, max_hamming=0, filter=flt
    )
    assert retried.count() == 8 >= starved.count()
    # retry results are genuine top-k under the filter: match brute force
    brute = sim.find_neighbors(
        emb.where(flt), q, col="embedding", k=8, metric="cosine"
    )
    assert sorted(r["distance"] for r in retried.collect()) == sorted(
        r["distance"] for r in brute.collect()
    )


def test_ivf_retry_widens_until_k(emb):
    q = [0.1] * 16
    idx = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    flt = F.col("label") == "keep"
    retried = sim.find_neighbors_ivf_retry(
        idx, q, col="embedding", k=8, nprobe=1, filter=flt
    )
    assert retried.count() == 8
    brute = sim.find_neighbors(
        emb.where(flt), q, col="embedding", k=8, metric="cosine"
    )
    assert sorted(r["distance"] for r in retried.collect()) == sorted(
        r["distance"] for r in brute.collect()
    )


def test_retry_caps_at_exhaustive(emb):
    """Fewer matching rows than k: the widened probe ends exhaustive and
    returns every match instead of looping forever."""
    q = [0.1] * 16
    idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=10)
    flt = F.col("vec_id") < 3  # only 3 rows exist
    out = sim.find_neighbors_ann_retry(
        idx, q, col="embedding", k=8, num_planes=10, max_hamming=0, filter=flt
    )
    assert out.count() == 3


def test_ivf_retry_widens_from_zero_nprobe(emb):
    """A zero widening value still widens (0 doubled is 0): the probe
    ends with k rows instead of looping on an empty cell list."""
    idx = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    out = sim.find_neighbors_ivf_retry(idx, [0.1] * 16, col="embedding", k=5, nprobe=0)
    assert out.count() == 5


def test_batch_probes_match_single_probes(emb):
    """Batch LSH and batch IVF must return exactly the per-query single
    probes' results (same candidates, same ranking)."""
    qs = [("a", [0.1] * 16), ("b", [-0.3] * 16), ("c", [0.25] * 16)]

    idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=10)
    batch = sim.find_neighbors_batch(
        idx, qs, col="embedding", k=5, num_planes=10
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["distance"]))
    for qid, vec in qs:
        single = sim.find_neighbors_ann(
            idx, vec, col="embedding", k=5, num_planes=10
        ).collect()
        assert sorted(by_q.get(qid, [])) == sorted(
            (r["vec_id"], r["distance"]) for r in single
        ), qid

    ivf = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    ibatch = sim.find_neighbors_ivf_batch(ivf, qs, col="embedding", k=5, nprobe=3)
    by_q = {}
    for r in ibatch.collect():
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["distance"]))
    for qid, vec in qs:
        single = sim.find_neighbors_ivf(
            ivf, vec, col="embedding", k=5, nprobe=3
        ).collect()
        assert sorted(by_q.get(qid, [])) == sorted(
            (r["vec_id"], r["distance"]) for r in single
        ), qid


def test_retry_no_retry_path_scans_once(emb, spark):
    """The retry convergence check must not double-execute the probe:
    inside the call exactly ONE job runs (the candidate count that
    materializes the cache), and consuming the returned frame reads the
    cached candidates (InMemoryTableScan) instead of re-scanning."""
    q = [0.1] * 16
    idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=10)
    idx = idx.localCheckpoint(eager=True)  # pin the input, isolate jobs

    with spark_jobs(spark) as during:
        out = sim.find_neighbors_ann_retry(
            idx, q, col="embedding", k=5, num_planes=10, max_hamming=10
        )  # radius = num_planes → every row qualifies → never retries
    # two actions: the candidate count (materializes the cache) and the
    # top-k collect that localizes the result before unpersist; AQE may
    # split each into a job per query stage, so bound, don't pin
    assert 1 <= len(during) <= 6
    # consumption is a local relation — the probe never re-runs and no
    # cache entry survives the call
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("LocalTableScan" in plan or "ExistingRDD" in plan)
    assert "InMemoryTableScan" not in plan
    assert out.count() == 5

    # same contract for the IVF retry
    ivf = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    ivf.df = ivf.df.localCheckpoint(eager=True)
    with spark_jobs(spark) as during:
        out = sim.find_neighbors_ivf_retry(
            ivf, q, col="embedding", k=5, nprobe=8
        )  # nprobe = |centroids| → exhaustive → never retries
    assert 1 <= len(during) <= 6
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("LocalTableScan" in plan or "ExistingRDD" in plan)
    assert "InMemoryTableScan" not in plan
    assert out.count() == 5


def test_ivf_kmeans_refinement_improves_recall_on_clustered_data(spark):
    """First-N seeding on CLUSTERED embeddings puts every seed in one
    cluster → fat Voronoi cells → nprobe pruning loses true neighbors.
    A few Lloyd rounds must restore recall@k, and the refinement must
    be deterministic (same seeds → same centroids)."""
    import random

    rnd = random.Random(7)
    dim, per = 8, 60
    centers = [
        [10.0 * (1 if (c >> b) & 1 else -1) for b in range(dim)][:dim]
        for c in range(4)
    ]
    rows = []
    # ids 0..59 ALL in cluster 0 → the 16 first-N seeds are all there
    for c, center in enumerate(centers):
        for j in range(per):
            rows.append(
                (
                    c * per + j,
                    [x + rnd.uniform(-0.5, 0.5) for x in center],
                )
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [x + 0.1 for x in centers[2]]  # query near cluster 2
    brute = {
        r["vec_id"]
        for r in sim.find_neighbors(df, q, col="embedding", k=10, metric="l2").collect()
    }

    def recall(index):
        got = {
            r["vec_id"]
            for r in sim.find_neighbors_ivf(
                index, q, col="embedding", k=10, nprobe=4, metric="l2"
            ).collect()
        }
        return len(got & brute) / len(brute)

    plain = sim.build_ivf_index(df, "embedding", num_centroids=16)
    refined = sim.build_ivf_index(
        df, "embedding", num_centroids=16, kmeans_iterations=3
    )
    r_plain, r_ref = recall(plain), recall(refined)
    assert r_ref >= r_plain
    assert r_ref >= 0.9
    # determinism: rebuilding gives byte-identical centroids
    again = sim.build_ivf_index(
        df, "embedding", num_centroids=16, kmeans_iterations=3
    )
    assert again.centroids == refined.centroids


def test_persisted_indexes_prune_partitions_and_match(emb, spark, tmp_path):
    """The persisted bucket/cell-partitioned layouts deliver the scale
    contract the probe docstrings promise: the probe predicate appears
    as a PartitionFilter (directory pruning, no full-index scan) and
    results match the in-memory index exactly."""
    q = [0.1] * 16

    # -- LSH: Hamming predicate over the __bucket partition column
    mem_idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=6)
    sim.write_ann_index(mem_idx, str(tmp_path / "ann"))
    disk_idx = sim.read_ann_index(spark, str(tmp_path / "ann"))
    got = sim.find_neighbors_ann(
        disk_idx, q, col="embedding", k=7, num_planes=6, max_hamming=1
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "bit_count" in pf  # pruned at directory level, not post-scan
    want = sim.find_neighbors_ann(
        mem_idx, q, col="embedding", k=7, num_planes=6, max_hamming=1
    )
    assert [r["vec_id"] for r in got.collect()] == [
        r["vec_id"] for r in want.collect()
    ]

    # -- IVF: cell IN-list over the __cell partition column
    mem_ivf = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    sim.write_ivf_index(mem_ivf, str(tmp_path / "ivf"))
    disk_ivf = sim.read_ivf_index(spark, str(tmp_path / "ivf"))
    assert disk_ivf.centroids == mem_ivf.centroids
    got = sim.find_neighbors_ivf(disk_ivf, q, col="embedding", k=7, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "__cell" in pf
    want = sim.find_neighbors_ivf(mem_ivf, q, col="embedding", k=7, nprobe=2)
    assert [r["vec_id"] for r in got.collect()] == [
        r["vec_id"] for r in want.collect()
    ]


def test_normalize_and_group_centroids(spark):
    from feature_store_api_spark.operators.similarity import (
        group_centroids, normalize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, "a", [3.0, 4.0]),
            (2, "a", [0.0, 2.0]),
            (3, "b", [1.0, 0.0]),
            (4, "z", [0.0, 0.0]),  # zero vector passes through
        ],
        "vec_id long, label string, embedding array<double>",
    )
    n = {r["vec_id"]: r["embedding"] for r in normalize_embeddings(df, "embedding").collect()}
    assert n[1] == [0.6, 0.8]
    assert n[2] == [0.0, 1.0]
    assert n[4] == [0.0, 0.0]

    cents = {
        r["label"]: r
        for r in group_centroids(
            normalize_embeddings(df, "embedding"), "label", "embedding"
        ).collect()
    }
    assert cents["a"]["n_members"] == 2
    assert cents["a"]["centroid"] == [0.3, 0.9]  # mean of (.6,.8),(0,1)
    assert cents["b"]["centroid"] == [1.0, 0.0]


def test_embedding_index_drives_find_neighbors(spark, tmp_path):
    """A declared EmbeddingIndex supplies the default search column and
    similarity function, validates query dimension, and survives store
    rehydration (parity embedding.py:31-143,234-330)."""
    from feature_store_api_spark import (
        EmbeddingFeature, EmbeddingIndex, FeatureStore, SimilarityFunctionType,
    )

    idx = EmbeddingIndex(features=[
        EmbeddingFeature("vec", 4, SimilarityFunctionType.COSINE),
    ])
    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "emb_fg", primary_key=["vid"], embedding_index=idx,
    )
    fg.insert(spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [-1.0, 0.0, 0.0, 0.0]),
        ],
        "vid long, vec array<double>",
    ))
    # no col/metric passed: the index supplies both (cosine => doc 3
    # is FARTHEST despite equal L2-to-origin symmetry games)
    got = [r["vid"] for r in fg.find_neighbors([1.0, 0.0, 0.0, 0.0], k=3).collect()]
    assert got == [1, 2, 3]

    with pytest.raises(ValueError, match="dimensions"):
        fg.find_neighbors([1.0, 0.0])

    # rehydrated store keeps the index
    fg2 = FeatureStore(root=str(tmp_path)).get_feature_group("emb_fg")
    ef = fg2.embedding_index.get_embedding("vec")
    assert ef.dimension == 4 and ef.metric == "cosine"
    # add_embedding extends the index
    fg2.embedding_index.add_embedding("vec2", 8)
    assert fg2.embedding_index.get_embedding("vec2").metric == "l2"


def test_scalar_quantization_roundtrip_and_recall(spark):
    """8-bit scalar quantization: codes in [0,255], reconstruction
    error bounded by scale/2 per dimension, and brute-force kNN over
    dequantized vectors keeps high recall vs the originals."""
    import random

    from feature_store_api_spark.operators.similarity import (
        dequantize_expr, quantization_params, quantize_embeddings,
    )

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-2, 2) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    params = quantization_params(df, "embedding")
    assert len(params) == 8
    q = quantize_embeddings(df, "embedding", params)
    first = q.select("embedding", "embedding_q8").first()
    assert all(0 <= c <= 255 for c in first["embedding_q8"])
    deq = q.withColumn("deq", dequantize_expr("embedding_q8", params))
    r = deq.select("embedding", "deq").first()
    for orig, rec in zip(r["embedding"], r["deq"]):
        assert abs(orig - rec) <= 4.0 / 255.0 / 2 + 1e-9  # half a step

    # recall@10 of kNN over dequantized vs original
    q_vec = rows[0][1]
    brute = {
        r2["vec_id"]
        for r2 in sim.find_neighbors(df, q_vec, col="embedding", k=10, metric="l2").collect()
    }
    approx = {
        r2["vec_id"]
        for r2 in sim.find_neighbors(
            deq.select("vec_id", F.col("deq").alias("embedding")),
            q_vec, col="embedding", k=10, metric="l2",
        ).collect()
    }
    assert len(brute & approx) >= 9


def test_retry_probes_leave_no_cache_entries(emb):
    """find_neighbors_ann_retry / find_neighbors_ivf_retry persist the
    scored candidate frame for the convergence count; the success path
    must free it — persist() registers in Spark's CacheManager and is
    not GC-collected, so a leak grows per serving call for the session
    lifetime."""
    spark = emb.sparkSession
    jcm = spark._jsparkSession.sharedState().cacheManager()
    q = [0.1] * 16
    idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=10)
    before_empty = jcm.isEmpty()
    out = sim.find_neighbors_ann_retry(
        idx, q, col="embedding", k=5, num_planes=10, max_hamming=0
    )
    assert out.count() == 5
    ivf = sim.build_ivf_index(emb, "embedding", id_col="vec_id", num_centroids=8)
    out2 = sim.find_neighbors_ivf_retry(ivf, q, col="embedding", k=5, nprobe=1)
    assert out2.count() == 5
    if before_empty:
        assert jcm.isEmpty(), "retry probe leaked a CacheManager entry"


def test_quantization_params_ragged_embeddings_raise(spark):
    """Ragged embedding arrays (a dimension missing from every vector
    that would carry it) must raise a clear error, not IndexError or a
    None param that crashes quantize_embeddings later."""
    from feature_store_api_spark.operators.similarity import quantization_params

    # max position 3 (4 dims implied) but only 3 distinct positions
    # observed corpus-wide is impossible with contiguous arrays — force
    # the ragged shape instead: some vectors dim 2, some dim 4.
    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.5, 0.5, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    # positions 0..3 all observed → fine, params sized 4
    assert len(quantization_params(df, "embedding")) == 4

    # empty corpus → empty params, no crash
    assert quantization_params(df.where("vec_id < 0"), "embedding") == []


# ---------------------------------------------------------------------------
# Product quantization (reference: embedding.py similarity surface; the
# compressed-index path has no reference twin — standard PQ per Jegou
# et al. 2011, built as scan-side Column expressions)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pq_setup(emb):
    cb = sim.train_pq(emb, "embedding", id_col="vec_id",
                      num_subspaces=4, num_centroids=8)
    coded = sim.pq_encode(emb, "embedding", cb)
    return cb, coded


def test_pq_codebook_shape_and_roundtrip(pq_setup):
    cb, _ = pq_setup
    assert cb.num_subspaces == 4
    assert cb.num_centroids == 8
    assert cb.subdim == 4
    back = sim.PqCodebook.from_dict(cb.to_dict())
    assert back.codebooks == cb.codebooks


def test_pq_codes_shape_and_range(pq_setup):
    cb, coded = pq_setup
    rows = coded.select("pq_code").collect()
    assert len(rows) == 500
    for (code,) in rows:
        assert len(code) == 4
        assert all(0 <= c < 8 for c in code)


def test_pq_seed_vectors_encode_to_self(pq_setup):
    """The i-th smallest-id vector IS centroid i of every subspace —
    d²=0 beats everything, so its code must be [i, i, i, i]."""
    cb, coded = pq_setup
    rows = (
        coded.orderBy("vec_id").limit(8).select("vec_id", "pq_code").collect()
    )
    for i, (_, code) in enumerate(rows):
        assert list(code) == [i] * 4


def test_pq_rerank_topk_matches_exact_within_candidates(emb):
    """Rerank output == exact L2 ordering restricted to the ADC
    candidate set, and recall@10 vs full exact kNN is non-trivial."""
    cb = sim.train_pq(emb, "embedding", id_col="vec_id",
                      num_subspaces=4, num_centroids=16, kmeans_iterations=3)
    coded = sim.pq_encode(emb, "embedding", cb)
    q = [0.1] * 16
    got = sim.find_neighbors_pq(
        coded, q, cb, col="embedding", k=10, rerank_factor=8, id_col="vec_id"
    ).select("vec_id").collect()
    got_ids = [r[0] for r in got]
    exact = sim.find_neighbors(emb, q, col="embedding", k=10, metric="l2")
    exact_ids = {r["vec_id"] for r in exact.collect()}
    recall = len(set(got_ids) & exact_ids) / 10
    assert recall >= 0.5, f"PQ rerank recall collapsed: {recall}"
    # determinism: same call twice, same rows in same order
    again = sim.find_neighbors_pq(
        coded, q, cb, col="embedding", k=10, rerank_factor=8, id_col="vec_id"
    ).select("vec_id").collect()
    assert got_ids == [r[0] for r in again]


def test_pq_kmeans_refinement_reduces_quantization_error(emb):
    """Lloyd rounds must reduce the codebook's mean quantization error
    (Σ_m d² of each sub-vector to its assigned centroid) — the quantity
    Lloyd provably does not increase."""
    def qerr(cb):
        coded = sim.pq_encode(emb, "embedding", cb)
        tot = None
        for mi in range(cb.num_subspaces):
            sub = sim._pq_sub_slice("embedding", mi, cb.subdim)
            cents = F.array(
                *[F.array(*[F.lit(x) for x in c]) for c in cb.codebooks[mi]]
            )
            chosen = F.element_at(cents, F.col("pq_code")[mi] + F.lit(1))
            d2 = F.aggregate(
                F.zip_with(sub, chosen, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, x: a + x,
            )
            tot = d2 if tot is None else tot + d2
        return coded.select(F.avg(tot)).first()[0]

    cb0 = sim.train_pq(emb, "embedding", id_col="vec_id",
                       num_subspaces=4, num_centroids=8)
    cb2 = sim.train_pq(emb, "embedding", id_col="vec_id",
                       num_subspaces=4, num_centroids=8, kmeans_iterations=2)
    assert qerr(cb2) < qerr(cb0)


def test_pq_encode_is_scan_side(pq_setup):
    """pq_encode is a pure projection: no shuffle, no Python stage."""
    _, coded = pq_setup
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pq_dim_mismatch_raises(emb):
    with pytest.raises(ValueError, match="not divisible"):
        sim.train_pq(emb, "embedding", id_col="vec_id", num_subspaces=5)


def test_ivfpq_matches_pq_on_probed_cells(emb):
    """find_neighbors_ivfpq == find_neighbors_pq restricted to the
    nprobe nearest cells (same codebook, same tie-breaks)."""
    idx = sim.build_ivfpq_index(
        emb, "embedding", num_cells=8, num_subspaces=4, num_centroids=16
    )
    q = [0.1] * 16
    got = sim.find_neighbors_ivfpq(
        idx, q, col="embedding", k=10, nprobe=3, rerank_factor=8
    ).select("vec_id").collect()

    def d2(c):
        return sum(x * x for x in c) - 2.0 * sum(a * b for a, b in zip(q, c))

    order = sorted(range(len(idx.centroids)), key=lambda i: (d2(idx.centroids[i]), i))
    from pyspark.sql import functions as FF
    cand = idx.df.where(FF.col("__cell").isin(order[:3]))
    want = sim.find_neighbors_pq(
        cand, q, idx.codebook, col="embedding", k=10, rerank_factor=8,
        id_col="vec_id",
    ).select("vec_id").collect()
    assert [r[0] for r in got] == [r[0] for r in want]


def test_ivfpq_full_probe_equals_flat_pq(emb):
    """nprobe = num_cells removes the coarse pruning entirely — the
    result must equal flat PQ over the whole corpus."""
    idx = sim.build_ivfpq_index(
        emb, "embedding", num_cells=4, num_subspaces=4, num_centroids=16
    )
    q = [0.25] * 16
    got = sim.find_neighbors_ivfpq(
        idx, q, col="embedding", k=10, nprobe=4, rerank_factor=8
    ).select("vec_id").collect()
    cb = sim.train_pq(emb, "embedding", id_col="vec_id",
                      num_subspaces=4, num_centroids=16)
    flat = sim.find_neighbors_pq(
        sim.pq_encode(emb, "embedding", cb), q, cb, col="embedding",
        k=10, rerank_factor=8, id_col="vec_id",
    ).select("vec_id").collect()
    assert [r[0] for r in got] == [r[0] for r in flat]


def test_ivfpq_filter_pushed_before_topk(emb):
    idx = sim.build_ivfpq_index(
        emb, "embedding", num_cells=4, num_subspaces=4, num_centroids=16
    )
    from pyspark.sql import functions as FF
    out = sim.find_neighbors_ivfpq(
        idx, [0.1] * 16, col="embedding", k=10, nprobe=4,
        filter=FF.col("label") == "keep",
    ).collect()
    assert out and all(r["label"] == "keep" for r in out)


def test_persisted_ivfpq_prunes_partitions_and_matches(emb, spark, tmp_path):
    """Persisted IVF-PQ delivers the same directory-pruning contract as
    the other persisted layouts, round-trips centroids + codebook, and
    matches the in-memory probe exactly; the codes-only layout drops
    the vector column."""
    import re

    q = [0.1] * 16
    mem = sim.build_ivfpq_index(
        emb, "embedding", num_cells=8, num_subspaces=4, num_centroids=16
    )
    sim.write_ivfpq_index(mem, str(tmp_path / "ivfpq"))
    disk = sim.read_ivfpq_index(spark, str(tmp_path / "ivfpq"))
    assert disk.centroids == mem.centroids
    assert disk.codebook.codebooks == mem.codebook.codebooks

    got = sim.find_neighbors_ivfpq(
        disk, q, col="embedding", k=7, nprobe=2, rerank_factor=4
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
    assert "__cell" in pf
    want = sim.find_neighbors_ivfpq(
        mem, q, col="embedding", k=7, nprobe=2, rerank_factor=4
    )
    assert [r["vec_id"] for r in got.collect()] == [
        r["vec_id"] for r in want.collect()
    ]

    # codes-only layout: vector column gone, ADC-only probe still works
    sim.write_ivfpq_index(mem, str(tmp_path / "ivfpq_codes"), keep_vectors=False)
    codes_only = sim.read_ivfpq_index(spark, str(tmp_path / "ivfpq_codes"))
    assert "embedding" not in codes_only.df.columns
    adc = sim.find_neighbors_ivfpq(codes_only, q, k=7, nprobe=2)
    assert adc.count() == 7


def test_random_projection_preserves_distances(emb):
    """JL sanity: relative pairwise L2 ordering is roughly preserved at
    16 → 8 dims — rank correlation of pairwise distances stays clearly
    positive — and the projection is deterministic."""
    out = sim.random_projection(emb, "embedding", in_dim=16, out_dim=8)
    rows = out.orderBy("vec_id").limit(30).collect()

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5

    orig, proj = [], []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            orig.append(l2(rows[i]["embedding"], rows[j]["embedding"]))
            proj.append(l2(rows[i]["embedding_rp8"], rows[j]["embedding_rp8"]))
    # Spearman-ish: correlation of ranks
    def ranks(xs):
        order = sorted(range(len(xs)), key=lambda k: xs[k])
        r = [0] * len(xs)
        for pos, k in enumerate(order):
            r[k] = pos
        return r

    ro, rp = ranks(orig), ranks(proj)
    n = len(ro)
    mo = sum(ro) / n
    cov = sum((a - mo) * (b - mo) for a, b in zip(ro, rp))
    var = sum((a - mo) ** 2 for a in ro)
    # uniform random vectors concentrate pairwise distances (all pairs
    # nearly equidistant), so rank correlation is inherently modest at
    # 16 → 8; clearly-positive is the JL signal, ~0 would be breakage
    assert cov / var > 0.3

    again = sim.random_projection(emb, "embedding", in_dim=16, out_dim=8)
    a = [r["embedding_rp8"] for r in again.orderBy("vec_id").limit(5).collect()]
    b = [r["embedding_rp8"] for r in out.orderBy("vec_id").limit(5).collect()]
    assert a == b


def test_random_projection_is_scan_side(emb):
    out = sim.random_projection(emb, "embedding", in_dim=16, out_dim=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_random_projection_production_dims_plan_budget(spark):
    """1536 → 128 (the motivating production shape) must BUILD fast: the
    sign matrix is ONE folded literal, not ~197k per-entry Catalyst
    nodes. Budget: plan construction + analysis in single-digit
    seconds, and values still match the md5 parity derivation."""
    import math
    import time

    df = spark.createDataFrame(
        [(0, [1.0] * 1536)], "id int, emb array<double>"
    )
    t0 = time.time()
    out = sim.random_projection(df, "emb", in_dim=1536, out_dim=128)
    out.schema  # forces analysis
    build = time.time() - t0
    assert build < 10.0, f"plan build took {build:.1f}s — literal blowup"
    got = out.collect()[0]["emb_rp128"]
    assert len(got) == 128
    exp0 = round(
        sum(sim._rp_sign(7, 0, i) for i in range(1536)) / math.sqrt(128), 9
    )
    assert got[0] == exp0


def test_write_ivfpq_codes_only_drops_float_vectors(spark, tmp_path):
    """keep_vectors=False must shed array<float> embeddings too (the
    dtype-match bug would silently keep them, defeating the 64×
    shrink)."""
    import random as _r

    _r.seed(5)
    rows = [(i, [_r.random() for _ in range(16)]) for i in range(120)]
    f32 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    idx = sim.build_ivfpq_index(
        f32, "embedding", num_cells=4, num_subspaces=4, num_centroids=8
    )
    sim.write_ivfpq_index(idx, str(tmp_path / "codes_f32"), keep_vectors=False)
    disk = sim.read_ivfpq_index(spark, str(tmp_path / "codes_f32"))
    assert "embedding" not in disk.df.columns
    assert disk.find_neighbors if hasattr(disk, "find_neighbors") else True
    q = [0.5] * 16
    assert sim.find_neighbors_ivfpq(disk, q, k=5, nprobe=2).count() == 5


def test_semantic_dedup_marks_planted_copies(spark):
    """SemDeDup: colinear copies (cosine 1.0) in the same cluster mark
    is_dup on the LARGER id; originals survive; assignment is
    deterministic across calls."""
    import random as _r

    _r.seed(9)
    rows = [(i, [_r.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = base.selectExpr(
        "vec_id + 1000 AS vec_id",
        "transform(embedding, x -> x * 2.0) AS embedding",
    )
    both = base.unionByName(planted)
    out = sim.semantic_dedup(both, "embedding", num_clusters=4, threshold=0.99)
    got = {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in out.collect()}
    assert len(got) == 120
    for i in range(60):
        # copy and original land in the same cluster; only the copy dups
        assert got[i][0] == got[i + 1000][0]
        assert got[i][1] is False
        assert got[i + 1000][1] is True
    # deterministic
    again = {r["vec_id"]: (r["cluster"], r["is_dup"])
             for r in sim.semantic_dedup(both, "embedding", num_clusters=4,
                                         threshold=0.99).collect()}
    assert again == got


def test_semantic_dedup_no_cross_cluster_comparison(spark):
    """Two identical vectors forced into different clusters must NOT
    pair (the SemDeDup trade: within-cluster only)."""
    # seeds are the 2 smallest ids: orthogonal axes
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [1.0, 0.001]), (3, [0.001, 1.0]),  # near each axis
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           sim.semantic_dedup(df, "embedding", num_clusters=2,
                              threshold=0.99).collect()}
    assert out[2]["cluster"] == out[0]["cluster"]
    assert out[3]["cluster"] == out[1]["cluster"]
    assert out[2]["is_dup"] and out[3]["is_dup"]  # within-cluster pairs
    assert not out[0]["is_dup"] and not out[1]["is_dup"]


def test_backticked_column_names_handled(spark):
    """Identifier quoting in rendered SQL escapes embedded backticks
    (Spark's doubling rule) instead of producing a parse error or
    referencing the wrong column."""
    from feature_store_api_spark.operators.similarity import distance_expr

    df = spark.createDataFrame(
        [([1.0, 0.0],)], "`weird long` array<double>"
    ).withColumnRenamed("weird long", "we`ird")
    out = df.select(
        distance_expr("we`ird", [1.0, 0.0], "l2").alias("d")
    ).first()
    assert out["d"] == 0.0


def test_exact_knn_cosine_and_l2_match_numpy(emb):
    """Brute-force find_neighbors distance math pinned against numpy
    for BOTH metrics (r15 retirement backing: the knn_cosine oracle
    row retired in favor of knn_batch/knn_ann/knn_l2 — this keeps the
    exact cosine path independently value-verified)."""
    import numpy as np

    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist())
    q = np.array([0.1] * 16)

    got_cos = sim.find_neighbors(
        emb, list(q), col="embedding", k=7, metric="cosine"
    ).select("vec_id", "distance").collect()
    # engine's cosine "distance" is NEGATED similarity (same
    # ordering as 1 - cos, stays a min-heap ascending sort key)
    cos = -(mat @ q) / (
        np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    )
    order = np.argsort(cos, kind="stable")[:7]
    expect = {int(pdf["vec_id"][i]): float(cos[i]) for i in order}
    assert len(got_cos) == 7
    for r in got_cos:
        assert r["vec_id"] in expect
        assert abs(r["distance"] - expect[r["vec_id"]]) < 1e-6

    got_l2 = sim.find_neighbors(
        emb, list(q), col="embedding", k=7, metric="l2"
    ).select("vec_id", "distance").collect()
    l2 = np.linalg.norm(mat - q, axis=1)
    order = np.argsort(l2, kind="stable")[:7]
    expect = {int(pdf["vec_id"][i]): float(l2[i]) for i in order}
    for r in got_l2:
        assert r["vec_id"] in expect
        assert abs(r["distance"] - expect[r["vec_id"]]) < 1e-6


# ---------------------------------------------------------------------------
# Plan pins: the kNN plans stay put whichever index generates candidates
# ---------------------------------------------------------------------------

def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_batch_plan_scans_once_broadcasts_and_shuffles_on_query_id(
    emb, spark, tmp_path
):
    """M queries cost one index scan: the query frame is broadcast into
    the candidate join and the per-query top-k is one shuffle on
    ``query_id`` (the corpus-curation kNN plan)."""
    sim.write_ann_index(
        sim.build_ann_index(emb, "embedding", dim=16, num_planes=6),
        str(tmp_path / "ann"),
    )
    idx = sim.read_ann_index(spark, str(tmp_path / "ann"))
    qs = [("a", [0.1] * 16), ("b", [-0.3] * 16)]
    plan = _executed(
        sim.find_neighbors_batch(idx, qs, col="embedding", k=5, num_planes=6)
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert "BroadcastExchange" in plan, plan
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(query_id" in shuffles[0], plan


@pytest.mark.parametrize("index", ["lsh", "ivf"])
def test_single_probe_plans_as_take_ordered_without_exchange(emb, index):
    """One literal query is a per-partition top-k heap plus a driver
    merge (TakeOrderedAndProject): no shuffle, no window."""
    q = [0.1] * 16
    if index == "lsh":
        idx = sim.build_ann_index(emb, "embedding", dim=16, num_planes=6)
        out = sim.find_neighbors_ann(
            idx, q, col="embedding", k=5, num_planes=6, max_hamming=1
        )
    else:
        ivf = sim.build_ivf_index(emb, "embedding", num_centroids=8)
        out = sim.find_neighbors_ivf(ivf, q, col="embedding", k=5, nprobe=2)
    plan = _executed(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Cosine over zero vectors: a zero row is never similar, a zero query is
# rejected before any job runs
# ---------------------------------------------------------------------------

_ZERO_ROWS = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]


def _cosine_probe(spark, entry):
    """The entry point as a function of the query; indexes built here."""
    df = spark.createDataFrame(_ZERO_ROWS, "vec_id long, embedding array<double>")
    if entry == "find_neighbors":
        return lambda q: sim.find_neighbors(
            df, q, col="embedding", k=3, metric="cosine"
        )
    if entry == "find_neighbors_ivf_batch":
        ivf = sim.build_ivf_index(df, "embedding", num_centroids=3)
        return lambda q: sim.find_neighbors_ivf_batch(
            ivf, [("q", q)], col="embedding", k=3, nprobe=3
        ).orderBy("rank")
    idx = sim.build_ann_index(df, "embedding", dim=2, num_planes=4)
    if entry == "find_neighbors_ann":
        return lambda q: sim.find_neighbors_ann(
            idx, q, col="embedding", k=3, num_planes=4, max_hamming=4
        )
    return lambda q: sim.find_neighbors_batch(
        idx, [("q", q)], col="embedding", k=3, num_planes=4, max_hamming=4
    ).orderBy("rank")


@pytest.mark.parametrize(
    "entry",
    ["find_neighbors", "find_neighbors_ann", "find_neighbors_batch",
     "find_neighbors_ivf_batch"],
)
def test_cosine_zero_vector_ranks_last_and_zero_query_raises(spark, entry):
    probe = _cosine_probe(spark, entry)
    got = [(r["vec_id"], r["distance"]) for r in probe([1.0, 0.5]).collect()]
    assert got == [(2, -0.894427), (3, -0.447214), (1, None)]
    with spark_jobs(spark) as during:
        with pytest.raises(ValueError, match="zero"):
            probe([0.0, 0.0]).collect()
    assert during == []


def test_cosine_dup_pairs_skip_zero_vectors(spark):
    """Two zero vectors share every LSH bucket: their pair has no cosine
    and is never a duplicate."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0]), (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = sim.embedding_cosine_dup_pairs(df, "vec_id", "embedding", dim=2)
    assert [tuple(r) for r in got.collect()] == [(2, 3, 1.0)]
