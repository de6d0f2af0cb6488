"""Training-dataset splits.

Parity: random split ``randomSplit(weights, seed)``
(``/root/reference/python/hsfs/engine/spark.py:752-756``), time-series
split = event-time range filters (``engine/spark.py:758-863``,
``training_dataset_split.py:25-29``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.event_time import to_epoch_millis
from ..plan_memo import memo, plan_key


def random_split(
    df: DataFrame, weights: Dict[str, float], seed: Optional[int] = None
) -> Dict[str, DataFrame]:
    """Named random splits, e.g. ``{"train": .8, "test": .2}``.

    Implemented with a per-row uniform hash draw rather than
    ``randomSplit`` so each split is a deterministic filter of ONE scan
    (``randomSplit`` re-samples per split and needs a cached lineage to
    be consistent). ``rand(seed)`` is seeded per-partition by Spark;
    determinism at 100 TB additionally requires stable partitioning, so
    we draw from a hash of the whole row when ``seed`` is given.
    """
    names = list(weights)
    total = float(sum(weights.values()))
    bounds: List[Tuple[str, float, float]] = []
    acc = 0.0
    for n in names:
        lo = acc / total
        acc += weights[n]
        hi = acc / total
        bounds.append((n, lo, hi))

    if seed is None:
        u = F.rand()
    else:
        # uniform in [0,1) from a 64-bit hash of the full row + seed —
        # reproducible regardless of partitioning/task retries
        u = (F.abs(F.xxhash64(F.struct(*df.columns), F.lit(seed))) % F.lit(1_000_000_000)) / F.lit(
            1_000_000_000.0
        )
    tagged = df.withColumn("__u", u)
    out = {}
    for n, lo, hi in bounds:
        cond = (F.col("__u") >= lo) & (F.col("__u") < hi)
        if n == names[-1]:
            cond = F.col("__u") >= lo  # close the last interval at 1.0
        out[n] = tagged.where(cond).drop("__u")
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Dict[str, float],
    key_cols: Sequence[str],
    seed: int = 13,
    default_fraction: float = 0.0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling — rebalance a training corpus
    by class (e.g. language) with an exact, reproducible row set.

    The keep/drop draw is a uniform in [0,1) from a hash of
    ``key_cols`` + ``seed``, compared against the stratum's fraction:
    no per-partition RNG state, so the selected set is identical across
    partitionings, retries, and engines. ``hash_fn='md5_64'`` uses the
    md5-prefix hash other engines can reproduce byte-for-byte (the
    correctness-oracle path; same trick as the MinHash operators);
    ``'xxhash64'`` is the fast JVM path. One scan, no shuffle — the
    filter pushes down like any predicate.
    """
    from .dedup import _md5_64

    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed))
    )
    if hash_fn == "md5_64":
        h = _md5_64(key)  # non-negative 60-bit
    else:
        h = F.abs(F.xxhash64(key))
    u = (h % F.lit(1_000_000_000)) / F.lit(1_000_000_000.0)
    frac = None
    for k, v in fractions.items():
        clause = F.when(F.col(strata_col) == F.lit(k), F.lit(float(v)))
        frac = clause if frac is None else frac.when(
            F.col(strata_col) == F.lit(k), F.lit(float(v))
        )
    frac = (
        frac.otherwise(F.lit(float(default_fraction)))
        if frac is not None
        else F.lit(float(default_fraction))
    )
    return df.where(u < frac)


def time_series_split(
    df: DataFrame,
    event_time: str,
    splits: Sequence[Tuple[str, object, object]],
) -> Dict[str, DataFrame]:
    """Named time-range splits: ``[(name, start, end), ...]`` with
    start inclusive, end exclusive; bounds accept str/int/date/datetime
    (normalized to epoch-millis UTC, ``util.py:216`` convention)."""
    out = {}
    col = F.col(event_time)
    for name, start, end in splits:
        cond = F.lit(True)
        if start is not None:
            cond = cond & (col >= F.timestamp_millis(F.lit(to_epoch_millis(start))))
        if end is not None:
            cond = cond & (col < F.timestamp_millis(F.lit(to_epoch_millis(end))))
        out[name] = df.where(cond)
    return out


def split_labels(df: DataFrame, labels: Sequence[str]) -> Tuple[DataFrame, DataFrame]:
    """X / y column slice (parity ``engine/spark.py:615-628``)."""
    labels = [l for l in labels]
    x = df.drop(*labels)
    y = df.select(*labels)
    return x, y


def rebalance_to_mixture(
    df: DataFrame,
    strata_col: str,
    target_weights: Dict[str, float],
    key_cols: Sequence[str],
    seed: int = 13,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Downsample a corpus to a TARGET MIXTURE over a domain column
    (the static domain-reweighting step of LLM data pipelines): given
    desired proportions per class, derive the largest achievable corpus
    that meets them WITHOUT upsampling — the binding class is kept
    whole; every other class's fraction is scaled down — then draw via
    :func:`stratified_sample`'s deterministic hash (exact, reproducible
    row set; classes outside the target are dropped).

    Driver math is one tiny ``groupBy(strata).count()`` collect
    (bounded by the number of domains); the sampling itself is a
    pushed-down filter — one scan, no shuffle.
    """
    wsum = float(sum(target_weights.values()))
    weights = {k: v / wsum for k, v in target_weights.items()}
    counts = {
        r[strata_col]: r["__n"]
        for r in df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    present = {c: w for c, w in weights.items() if counts.get(c)}
    if not present:
        raise ValueError(
            f"No target class of {sorted(weights)} present in column "
            f"{strata_col!r}"
        )
    total = min(counts[c] / w for c, w in present.items())
    fractions = {
        c: min(1.0, (total * w) / counts[c]) for c, w in present.items()
    }
    return stratified_sample(
        df,
        strata_col,
        fractions,
        key_cols,
        seed=seed,
        default_fraction=0.0,
        hash_fn=hash_fn,
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_cols: Sequence[str],
    temperature: float = 2.0,
    seed: int = 13,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Temperature-based domain rebalancing: target mixture
    ``w_d ∝ n_d^(1/T)`` (multilingual-training convention — mBERT/XLM-R
    exponent-smoothed sampling: T=1 keeps the natural distribution,
    T→∞ approaches uniform), then the same largest-achievable
    no-upsampling draw as :func:`rebalance_to_mixture` — deterministic
    hash selection, reproducible row set, one scan.

    Driver math is one tiny groupBy(strata).count() (bounded by the
    number of domains)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature!r}")
    counts = {
        r[strata_col]: r["__n"]
        for r in df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
        if r[strata_col] is not None and r["__n"]
    }
    if not counts:
        raise ValueError(f"temperature_sample: no classes in {strata_col!r}")
    powed = {c: float(n) ** (1.0 / temperature) for c, n in counts.items()}
    z = sum(powed[c] for c in sorted(powed, key=str))  # stable float order
    weights = {c: p / z for c, p in powed.items()}
    total = min(counts[c] / w for c, w in weights.items())
    fractions = {
        c: min(1.0, (total * w) / counts[c]) for c, w in weights.items()
    }
    return stratified_sample(
        df,
        strata_col,
        fractions,
        key_cols,
        seed=seed,
        default_fraction=0.0,
        hash_fn=hash_fn,
    )


#: broadcast the dense candidate index when the candidate count is at
#: most this (~50 MB of (item, long)); the count is already known
#: driver-side from the bucket-offset aggregate
_NS_BCAST_ITEMS = 2_000_000


def negative_sampling(
    positives: DataFrame,
    candidates: DataFrame,
    user_col: str,
    item_col: str,
    n_negatives: int = 4,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    index_buckets: int = 1024,
) -> DataFrame:
    """Deterministic distributed negative sampling: for every positive
    (user, item) pair, draw ``n_negatives`` pseudo-random items from
    ``candidates`` and drop any that are actually positives for that
    user — the standard implicit-feedback training-set construction
    (BPR/word2vec-style sampling), built as plain joins so it scales to
    any corpus without driver-side item lists.

    Shape (100 TB posture):

    1. candidates get a dense index 0..M-1 via BUCKETED two-pass
       numbering: ``row_number`` within ``pmod(hash(item),
       index_buckets)`` buckets plus cumulative bucket offsets from one
       ``index_buckets``-row aggregate (collected — ≤ ``index_buckets``
       rows — and broadcast back). Deterministic, and every window
       partitions on a bucket, so a billion-item candidate set numbers
       across the cluster instead of funnelling into the single task a
       global-window ``row_number`` would plan;
    2. each positive explodes into ``n_negatives`` slots whose item
       index = ``hash(user, item, slot, seed) mod M`` — no RNG state,
       reproducible across runs/engines;
    3. an equi-join on the index attaches the sampled item (broadcast
       when the candidate table is small — the usual case);
    4. a left-anti join against the positives removes accidental hits
       (true negatives only; a collision slot yields one fewer sample
       for that pair rather than a wrong label — the cheap, unbiased
       choice at scale).

    ``hash_fn='md5_64'`` switches to the md5-prefix hash that other
    engines can reproduce byte-for-byte (same trick as the dedup
    oracles); xxhash64 is the fast default. Output: (user, item,
    ``label=1``) positives ∪ (user, sampled item, ``label=0``).
    """
    from pyspark.sql import Window

    from .dedup import _md5_64

    m_col = "__nsidx"
    # 1. dense candidate index 0..M-1, bucketed: hash each distinct item
    # into index_buckets buckets, row_number WITHIN the bucket (ordered
    # by item id), then add the cumulative count of all lower buckets.
    # The only global structure is the ≤ index_buckets-row count vector,
    # which one small agg collects and a broadcast join re-attaches —
    # no window ever partitions the full candidate table into one task.
    items = candidates.select(F.col(item_col).alias("__ns_item")).distinct()
    bh = (
        _md5_64(F.col("__ns_item").cast("string"))
        if hash_fn == "md5_64"
        else F.xxhash64(F.col("__ns_item").cast("string"), F.lit(seed))
    )
    items = items.withColumn(
        "__nsb", F.pmod(bh, F.lit(index_buckets)).cast("int")
    )
    # the ONE eager aggregate per call: the ≤ index_buckets-row bucket
    # count vector. It is deterministic given (hash_fn, seed,
    # index_buckets), so repeated sampling against a stable catalog —
    # the serving pattern, sampled every training run — reuses it. The
    # memo key folds in the leaf file set, which matters here: unlike
    # the PIT probe/bounds (where staleness costs only performance) a
    # stale count vector would desynchronize the offsets from the live
    # row_number pass, so an in-place rewrite must miss.
    cnt_rows = memo(
        plan_key("ns_offsets", candidates, item_col, hash_fn, seed,
                 index_buckets),
        lambda: sorted(
            (r["__nsb"], r["cnt"])
            for r in items.groupBy("__nsb")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ),
    )
    m = sum(c for _, c in cnt_rows)
    if m == 0:
        raise ValueError("negative_sampling: empty candidates")
    offsets, acc = [], 0
    for b, c in cnt_rows:
        offsets.append((b, acc))
        acc += c
    off_df = F.broadcast(
        positives.sparkSession.createDataFrame(
            offsets, "__nsb int, __nsoff long"
        )
    )
    wi = Window.partitionBy("__nsb").orderBy(F.col("__ns_item").asc())
    idx = (
        items.withColumn("__nslr", F.row_number().over(wi))
        .join(off_df, on="__nsb")
        .select(
            "__ns_item",
            # long, not int: the advertised billion-item candidate sets
            # would silently overflow a 32-bit index beyond 2^31-1
            (F.col("__nsoff") + F.col("__nslr") - 1).cast("long").alias(m_col),
        )
    )

    # 2. explode slots, hash to an index
    slots = F.explode(
        F.array(*[F.lit(s) for s in range(n_negatives)])
    ).alias("__slot")
    base = positives.select(
        F.col(user_col), F.col(item_col), slots
    )
    # no abs(): pmod maps negative hashes correctly, and abs(MIN_LONG)
    # would overflow negative anyway. The md5 variant hashes a string
    # key (the form other engines reproduce byte-for-byte); xxhash64
    # hashes the COLUMNS directly — the string build (3 casts + concat
    # per drawn row) measured ~4x the cost of the hash itself on the
    # hot path, for no reproducibility gain
    if hash_fn == "md5_64":
        h = _md5_64(F.concat_ws(
            "\x1f",
            F.col(user_col).cast("string"),
            F.col(item_col).cast("string"),
            F.col("__slot").cast("string"),
            F.lit(str(seed)),
        ))
    else:
        h = F.xxhash64(
            F.col(user_col), F.col(item_col), F.col("__slot"), F.lit(seed)
        )
    drawn = base.select(
        F.col(user_col),
        F.pmod(h, F.lit(m)).cast("long").alias(m_col),
    )

    # 3. attach the sampled item. M is known driver-side, so the
    # broadcast decision is exact, not an estimator's guess (the
    # window+join index plan misleads Catalyst into a 2-sided shuffle
    # join otherwise); past the bound the dense-int key shuffle join
    # is the right plan for a billion-item candidate set
    if m <= _NS_BCAST_ITEMS:
        idx = F.broadcast(idx)
    negs = drawn.join(idx, on=m_col, how="inner").select(
        F.col(user_col), F.col("__ns_item").alias(item_col)
    )

    # 4. drop accidental positives, dedupe repeated draws
    negs = (
        negs.join(
            positives.select(user_col, item_col).distinct(),
            on=[user_col, item_col],
            how="left_anti",
        )
        .distinct()
        .withColumn("label", F.lit(0))
    )
    pos = positives.select(user_col, item_col).distinct().withColumn(
        "label", F.lit(1)
    )
    return pos.unionByName(negs)
