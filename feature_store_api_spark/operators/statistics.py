"""Statistics / profiling aggregations.

Parity: the reference's Deequ column profiler
(``/root/reference/python/hsfs/engine/spark.py:1038-1053`` →
``java/spark/.../SparkEngine.java:686-708``) and the descriptive
statistics schema (``core/feature_descriptive_statistics.py:43-317``):
count, completeness, numNonNull/numNull, approxNumDistinct, min, max,
sum, mean, stddev, percentiles, distinctness, entropy, uniqueness,
exactNumDistinct — plus correlation matrix and top-k histogram.

Everything is computed in as few passes as possible: ONE wide
``df.agg`` for all per-column scalar stats (Catalyst fuses them into a
single scan + partial/final aggregate — map-side combine, one shuffle of
tiny partial states), plus optional per-column passes only for the
frequency-based stats (entropy/uniqueness/histogram).
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


class StatisticsConfig:
    """What to compute when profiling a feature group (parity
    ``/root/reference/python/hsfs/statistics_config.py:25-56``)."""

    def __init__(
        self,
        enabled: bool = True,
        correlations: bool = False,
        histograms: bool = False,
        exact_uniqueness: bool = False,
        columns: Optional[Sequence[str]] = None,
    ) -> None:
        self.enabled = enabled
        self.correlations = correlations
        self.histograms = histograms
        self.exact_uniqueness = exact_uniqueness
        self.columns = list(columns or [])

    def to_dict(self) -> Dict:
        return {
            "enabled": self.enabled,
            "correlations": self.correlations,
            "histograms": self.histograms,
            "exact_uniqueness": self.exact_uniqueness,
            "columns": list(self.columns),
        }

    @classmethod
    def from_dict(cls, d: Optional[Dict]) -> Optional["StatisticsConfig"]:
        if d is None:
            return None
        return cls(
            enabled=d.get("enabled", True),
            correlations=d.get("correlations", False),
            histograms=d.get("histograms", False),
            exact_uniqueness=d.get("exact_uniqueness", False),
            columns=d.get("columns") or [],
        )


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC)


def _file_scan_minmax(df: DataFrame, cols: Sequence[str]) -> Dict[str, tuple]:
    """Exact per-column (min, max) from parquet FOOTER statistics —
    driver-side, no job — or ``{}`` when they can't be trusted.

    Trusted only when the analyzed plan is provably a plain
    column-pruned file scan: Project/Relation(/SubqueryAlias) nodes
    only, attribute-only projections (no Filter, no computed/renamed
    columns — a filter could shrink the true range below the footer's,
    and a computed column's stats aren't in the footer at all). For
    such a scan the footer min/max IS the data min/max (bounds are
    read by :func:`..sources.footer_stats.footer_stats`; one known gap:
    writers that leave NaN out of float footer stats), so a consumer
    (the percentile bin pass) gets identical bounds one whole
    aggregation pass earlier. Footers are ~KB and independent, so they
    are read on a thread pool — the cap of 4096 files (~0.3 s of
    metadata I/O) exists only to bound driver time on pathological
    file counts; anything bigger falls back to the aggregate."""
    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:
        return {}
    for line in tree.splitlines():
        stripped = line.lstrip(" :+-")
        if not stripped:
            continue
        node = stripped.split(" ", 1)[0].split("[", 1)[0]
        if node not in ("Project", "Relation", "SubqueryAlias"):
            return {}
        if node == "Project":
            body = stripped.split("[", 1)[-1]
            if " AS " in body or "(" in body:
                return {}
    try:
        files = df.inputFiles()
    except Exception:
        return {}
    if not files or len(files) > 4096:
        return {}
    from ..sources.footer_stats import footer_stats

    want = set(cols)

    def _file_minmax(path: str):
        """Per-file ``name -> (min, max)`` or None when a wanted column's
        bounds can't be trusted or aren't numeric — the caller poisons
        the lot. A column with no non-null values has no bounds and
        contributes nothing, exactly as in Spark's min/max."""
        out: Dict[str, tuple] = {}
        for name, (mn, mx, nulls, rows) in footer_stats(
            path.replace("file:", "")
        ).items():
            if name not in want:
                continue
            if mn is None:
                if nulls != rows:
                    return None
                continue
            if not isinstance(mn, (int, float)):
                return None
            out[name] = (mn, mx)
        return out

    try:
        if len(files) == 1:
            results = [_file_minmax(files[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(16, len(files))
            ) as pool:
                results = list(pool.map(_file_minmax, files))
        bounds: Dict[str, tuple] = {}
        for res in results:
            if res is None:
                return {}  # any untrusted group poisons the lot
            for name, (lo, hi) in res.items():
                if name in bounds:
                    lo = min(bounds[name][0], lo)
                    hi = max(bounds[name][1], hi)
                bounds[name] = (lo, hi)
    except Exception:
        return {}
    return {c: bounds[c] for c in cols if c in bounds}


def describe(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    percentiles: Sequence[float] = (0.25, 0.5, 0.75),
    exact_distinct: bool = False,
    approx_distinct: bool = True,
    cache_source: bool = False,
) -> Dict[str, Dict]:
    """Column profiles via a few concurrent, codegen-friendly passes.

    Returns ``{column: {stat: value}}`` with the §2.4 stat fields.
    ``approx_count_distinct`` (HLL) by default; with
    ``exact_distinct=True`` the HLL pass is skipped entirely and the
    approx field is served from the exact count (an exact count is the
    best possible approximation — one full pass saved).

    Pass structure (measured on local[32], Spark 4.1 — see BENCH b6):
    small SEPARATE aggregates beat one mega-agg several times over —
    an HLL sketch (ImperativeAggregate), a varlen (string) min/max
    buffer, or a multi-distinct Expand mixed into the scalar agg each
    force the whole aggregate off the codegen HashAggregate path
    (SortAggregate, interpreted row-at-a-time: 0.24 s → 0.87 s for one
    string min/max added to 24 numeric aggs at sf0.1). So: one numeric
    scalar pass on the main thread, with per-column distinct jobs,
    the varlen min/max job, and per-column percentile bin counts each
    as their own small plan, overlapped on threads. Column pruning
    keeps total scan I/O the same as fused passes.

    ``cache_source=False`` (default) re-scans the pruned parquet per
    pass — at warehouse scale the projection doesn't fit in cache
    anyway and pruned scans are what the format is for; measured at
    sf0.1 the cache write + materialization races cost MORE than the
    re-scans (0.97 s vs 0.66 s). ``cache_source=True`` persists the
    narrow projection for callers profiling an expensive upstream
    (joins/UDFs) where recomputation, not I/O, dominates.
    """
    cols = list(columns) if columns else df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    num_cols = [c for c in cols if _is_numeric(schema[c])]

    src = df.select(*cols)
    if cache_source:
        src = src.persist()
    try:
        # Two scalar aggregates, not one: a min/max whose buffer field is
        # variable-length (StringType/BinaryType) makes the WHOLE
        # aggregate ineligible for HashAggregate — Spark plans
        # SortAggregate and every expression (including the numeric
        # stddev/avg chain) drops to interpreted row-at-a-time
        # evaluation (measured 0.24 s → 0.87 s at sf0.1 for one string
        # min/max added to 24 numeric aggs). Keeping varlen min/max in
        # their own tiny aggregate leaves the numeric pass on the
        # codegen'd HashAggregate path; the two jobs overlap on a
        # thread below. Counts stay in the numeric pass (long buffers)
        # whatever the column type; timestamp/date/boolean min/max have
        # fixed-width buffers and stay too.
        basic = [F.count(F.lit(1)).alias("__total")]
        varlen = []
        for c in cols:
            dt = schema[c]
            basic.append(F.count(F.col(c)).alias(f"{c}__nonnull"))
            if _is_numeric(dt):
                basic.append(F.min(F.col(c)).alias(f"{c}__min"))
                basic.append(F.max(F.col(c)).alias(f"{c}__max"))
                basic.append(F.sum(F.col(c)).alias(f"{c}__sum"))
                basic.append(F.avg(F.col(c)).alias(f"{c}__mean"))
                basic.append(F.stddev(F.col(c)).alias(f"{c}__stddev"))
            elif isinstance(dt, (T.StringType, T.BinaryType)):
                varlen.append(F.min(F.col(c)).alias(f"{c}__min"))
                varlen.append(F.max(F.col(c)).alias(f"{c}__max"))
            elif isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType, T.BooleanType)):
                basic.append(F.min(F.col(c)).alias(f"{c}__min"))
                basic.append(F.max(F.col(c)).alias(f"{c}__max"))

        # the distinct pass is independent of the scalar pass — submit it
        # from a second thread so the two Spark jobs overlap (the
        # scheduler interleaves their stages across cores; per-shape
        # codegen compile, the dominant cost on short inputs, overlaps
        # too). The percentile pass still waits on min/max from pass 1.
        # a multi-column COUNT(DISTINCT) compiles to an Expand (k× the
        # rows through a two-level aggregate, off the fast path:
        # measured 0.9 s for 5 columns at sf0.1). One single-distinct
        # aggregate PER COLUMN is a plain partial-aggregated plan;
        # submitted concurrently they finish in roughly the slowest
        # column's time (~0.3 s wall) while the numeric pass runs on
        # the main thread. Same trick as the percentile pass — total
        # scan I/O is unchanged (each job prunes to one column).
        # (measured dead end, kept as a note: fusing each numeric
        # column's exact countDistinct into its percentile bin job —
        # per-bin distincts sum exactly over equi-width bins — LOOKS
        # like it halves the job count, but the fused groupBy(bin)
        # + countDistinct turns a 2-int-shuffle bin job into a
        # distinct-value shuffle and measured b6 1.14 s → 1.40 s at
        # sf0.1. Separate small jobs overlapped on threads win.)
        side_aggs = []
        if exact_distinct:
            side_aggs += [
                [F.countDistinct(F.col(c)).alias(f"{c}__exact_distinct")]
                for c in cols
            ]
        elif approx_distinct:
            side_aggs.append([
                F.approx_count_distinct(F.col(c)).alias(f"{c}__approx_distinct")
                for c in cols
            ])
        if varlen:
            side_aggs.append(varlen)
        futs = []
        pct_fut = None
        if side_aggs or (num_cols and percentiles):
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(max_workers=min(len(side_aggs) + 1, 9))
            futs = [
                pool.submit(lambda a=a: src.agg(*a).collect()[0].asDict())
                for a in side_aggs
            ]
            # The percentile bin pass only needs each column's min/max.
            # When the source is a plain file scan those are in the
            # parquet FOOTERS (exact, driver-side, no job) — so the
            # pass launches HERE, concurrent with the basic aggregate,
            # instead of serializing behind it. Identical bins either
            # way (footer min/max == aggregate min/max for an
            # unfiltered scan); non-file-scan sources fall back to the
            # post-aggregate ordering below.
            if num_cols and percentiles:
                footer_mm = _file_scan_minmax(src, num_cols)
                if all(c in footer_mm for c in num_cols):
                    pct_fut = pool.submit(
                        approx_percentiles_multi,
                        src, num_cols, list(percentiles), footer_mm,
                    )
            pool.shutdown(wait=False)

        row = src.agg(*basic).collect()[0].asDict()
        # the percentile/fused pass depends ONLY on the basic row's
        # min/max — run it BEFORE gathering the side futures so its bin
        # jobs overlap the still-running distinct/varlen jobs instead
        # of serializing after them
        if num_cols and percentiles:
            if pct_fut is not None:
                pctls, _ = pct_fut.result()
            else:
                minmax = {
                    c: (row[f"{c}__min"], row[f"{c}__max"]) for c in num_cols
                }
                pctls, _ = approx_percentiles_multi(
                    src, num_cols, list(percentiles), minmax
                )
            for c in num_cols:
                row[f"{c}__percentiles"] = pctls.get(c)
        for fut in futs:
            row.update(fut.result())
        if exact_distinct and approx_distinct:
            for c in cols:
                row[f"{c}__approx_distinct"] = row[f"{c}__exact_distinct"]
        total = row["__total"]
    finally:
        if cache_source:
            src.unpersist()

    out: Dict[str, Dict] = {}
    for c in cols:
        nonnull = row[f"{c}__nonnull"]
        stats = {
            "count": total,
            "numNonNullValues": nonnull,
            "numNullValues": total - nonnull,
            "completeness": (nonnull / total) if total else None,
        }
        if approx_distinct:
            stats["approxNumDistinctValues"] = row[f"{c}__approx_distinct"]
        if exact_distinct:
            stats["exactNumDistinctValues"] = row[f"{c}__exact_distinct"]
            stats["distinctness"] = (
                row[f"{c}__exact_distinct"] / total if total else None
            )
        for k in ("min", "max", "sum", "mean", "stddev", "percentiles"):
            key = f"{c}__{k}"
            if key in row:
                stats[k] = row[key]
        out[c] = stats
    return out


def approx_percentiles_multi(
    df: DataFrame,
    columns: Sequence[str],
    percentiles: Sequence[float],
    minmax: Dict[str, tuple],
    buckets: int = 8192,
    exact_distinct_cols: Optional[set] = None,
) -> tuple:
    """Approximate percentiles for many columns via concurrent
    binned-count jobs.

    Built from first principles instead of ``percentile_approx`` (whose
    QuantileSummaries implementation degenerates on high-cardinality
    doubles in this runtime): each value maps to one of ``buckets``
    equi-width bins using the already-known min/max, bins are counted
    per column (one codegen'd groupBy per column, run concurrently —
    column pruning keeps total I/O equal to a single melted pass), then
    percentiles interpolate inside bins driver-side.
    Error bound: (max-min)/buckets per column, independent of row count;
    each shuffle carries only partial bin counts (map-side combined), so
    the pass scales to arbitrary data sizes.

    ``exact_distinct_cols``: columns whose bin job should ALSO carry an
    exact ``countDistinct`` per bin — equi-width bins partition the
    value space, so per-bin distinct counts sum to the global exact
    count, folding the separate distinct pass into this one. Returns
    ``(percentiles_by_col, exact_distinct_by_col)``.
    """
    exact_distinct_cols = exact_distinct_cols or set()
    cols = [c for c in columns if minmax.get(c) and minmax[c][0] is not None]
    if not cols:
        return {}, {}

    # bin assignment happens INSIDE the per-column struct (each column's
    # min/width inlined as constants) so the exploded rows carry just
    # (name, bin) ints — no post-explode CASE chain to compile, and the
    # shuffle rows are 2 small ints instead of (string, double)
    def _bin(c):
        mn, mx = (float(minmax[c][0]), float(minmax[c][1]))
        width = (mx - mn) or 1.0
        return F.when(
            F.col(c).isNotNull(),
            F.least(
                F.lit(buckets - 1),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn)) / F.lit(width) * buckets
                ).cast("int"),
            ),
        )

    # One binned-count job PER COLUMN, submitted concurrently, instead
    # of a single melt(explode) job: total I/O is identical (column
    # pruning means each job scans exactly one column, the melt reads
    # all of them once), but each per-column plan is a plain
    # groupBy(int)→count that stays on the codegen fast path with a
    # 2-int shuffle row, and the jobs overlap across scheduler slots —
    # measured 0.6 s (melt) → ~0.25 s wall at sf0.1 on local[32].
    from concurrent.futures import ThreadPoolExecutor

    def one(c):
        if c in exact_distinct_cols:
            # fused shape: shuffle carries distinct (bin, value) pairs
            # (≈ the standalone countDistinct job's shuffle) but saves
            # that job — and its codegen compile — entirely
            return (
                df.select(_bin(c).alias("b"), F.col(c).alias("v"))
                .where(F.col("b").isNotNull())
                .groupBy("b")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("v").alias("d"),
                )
                .collect()
            )
        return (
            df.select(_bin(c).alias("b"))
            .where(F.col("b").isNotNull())
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    by_col: Dict[str, Dict[int, int]] = {}
    distinct_out: Dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=min(len(cols), 8)) as pool:
        for c, rows in zip(cols, pool.map(one, cols)):
            by_col[c] = {r["b"]: r["n"] for r in rows}
            if c in exact_distinct_cols:
                distinct_out[c] = sum(r["d"] for r in rows)

    out: Dict[str, List[float]] = {}
    for c in cols:
        mn, mx = (float(minmax[c][0]), float(minmax[c][1]))
        width = (mx - mn) or 1.0
        bins = sorted(by_col.get(c, {}).items())
        total = sum(n for _, n in bins)
        res = []
        for p in percentiles:
            target = p * (total - 1)
            acc = 0
            val = mx
            for b, n in bins:
                if acc + n > target:
                    frac = (target - acc) / n if n else 0.0
                    val = mn + (b + frac) * width / buckets
                    break
                acc += n
            res.append(min(max(val, mn), mx))
        out[c] = res
    return out, distinct_out


def exact_percentiles(
    df: DataFrame,
    columns: Sequence[str],
    percentiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> Dict[str, List[float]]:
    """EXACT percentiles (linear interpolation, ``quantile_cont``
    semantics) for many columns in one aggregate via ``F.percentile``.

    Use for bounded-size inputs (train splits, monitoring windows) —
    exact percentile aggregation buffers each column's values, so for
    the full 100 TB table prefer :func:`approx_percentiles_multi`.
    """
    ps = F.array(*[F.lit(float(p)) for p in percentiles])
    row = df.agg(
        *[F.percentile(F.col(c), ps).alias(c) for c in columns]
    ).collect()[0].asDict()
    return {c: list(row[c]) if row[c] is not None else None for c in columns}


def exact_percentiles_df(
    df: DataFrame,
    columns: Sequence[str],
    percentiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """DataFrame shape of :func:`exact_percentiles`: one row per column
    with ``p<pct>`` columns — the SQL-oracle-friendly form."""
    vals = exact_percentiles(df, columns, percentiles)
    spark = df.sparkSession
    names = [f"p{int(round(p * 100))}" for p in percentiles]
    data = [
        tuple([c] + [round(v, 6) for v in vals[c]]) for c in columns if vals[c]
    ]
    schema = "feature string, " + ", ".join(f"{n} double" for n in names)
    return spark.createDataFrame(data, schema)


def describe_df(df: DataFrame, columns: Optional[Sequence[str]] = None) -> DataFrame:
    """Numeric profile as a DataFrame (one row per column) — the
    SQL-oracle-friendly shape used by the correctness gate."""
    cols = [
        c for c in (columns or df.columns)
        if _is_numeric(dict((f.name, f.dataType) for f in df.schema.fields)[c])
    ]
    parts = []
    for c in cols:
        parts.append(
            df.agg(
                F.lit(c).alias("feature"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.count(F.col(c)).cast("long").alias("non_null"),
                F.round(F.min(F.col(c)).cast("double"), 6).alias("min_val"),
                F.round(F.max(F.col(c)).cast("double"), 6).alias("max_val"),
                F.round(F.sum(F.col(c)).cast("double"), 4).alias("sum_val"),
                F.round(F.avg(F.col(c)), 6).alias("mean_val"),
                F.round(F.stddev(F.col(c)), 6).alias("stddev_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def value_counts(df: DataFrame, column: str, k: int = 20) -> DataFrame:
    """Top-k histogram (Deequ ``withHistogram(true, 20)`` parity)."""
    total = df.count()
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("value_count"))
        .withColumn("ratio", F.round(F.col("value_count") / F.lit(total), 6))
        .orderBy(F.col("value_count").desc(), F.col(column).asc())
        .limit(k)
    )


def entropy(df: DataFrame, column: str) -> float:
    """Shannon entropy over the value distribution (natural log, Deequ
    convention), computed distributively: groupBy + one agg."""
    counts = df.where(F.col(column).isNotNull()).groupBy(column).agg(
        F.count(F.lit(1)).alias("c")
    )
    row = counts.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    ).collect()[0]
    if not row["n"]:
        return 0.0
    n = float(row["n"])
    return math.log(n) - float(row["clogc"]) / n


def uniqueness(df: DataFrame, column: str) -> float:
    """Fraction of values occurring exactly once (Deequ uniqueness)."""
    counts = df.where(F.col(column).isNotNull()).groupBy(column).agg(
        F.count(F.lit(1)).alias("c")
    )
    row = counts.agg(
        F.count(F.lit(1)).alias("distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("unique"),
    ).collect()[0]
    return (row["unique"] / row["distinct"]) if row["distinct"] else 0.0


def correlations(df: DataFrame, columns: Optional[Sequence[str]] = None) -> DataFrame:
    """Pearson correlation matrix of numeric columns (Deequ
    ``withCorrelation`` parity) — all pairs in ONE agg pass via
    ``corr(a, b)`` expressions; a single scan regardless of pair count."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = [c for c in (columns or df.columns) if _is_numeric(schema[c])]
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"{a}__{b}"))
    row = df.agg(*aggs).collect()[0].asDict()
    spark = df.sparkSession
    data = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            data.append((a, b, row[f"{a}__{b}"]))
    return spark.createDataFrame(data, "feature_a string, feature_b string, corr double")


def unique_values(df: DataFrame, column: str) -> List:
    """Exact distinct values (feeds label/one-hot encoders; parity
    ``engine/spark.py:1393-1396``)."""
    return [r[0] for r in df.select(column).distinct().collect()]


def transformation_statistics(
    df: DataFrame, features: Sequence[str], percentiles=(0.25, 0.5, 0.75),
    exact_pctl: bool = False,
    fields: Optional[Dict[str, Optional[set]]] = None,
) -> Dict[str, Dict]:
    """Stats needed by statistics-bound UDFs, computed only over the
    features the UDFs use, on the (train) split passed in — parity
    ``core/transformation_function_engine.py:116-259``.

    ``exact_pctl=True`` swaps the approximate percentile pass for the
    exact one (train splits are bounded; robust_scaler then matches a
    ``quantile_cont`` oracle bit-for-bit).

    ``fields`` maps each feature to the set of stat fields its UDFs
    actually read (``None`` value = unknown → full profile for that
    feature). Every pass not demanded by some feature is skipped whole:
    a ``min_max_scaler``+``standard_scaler`` list costs ONE scalar
    aggregate — no HLL pass, no percentile melt, no distinct scan. Each
    skipped pass is a full re-execution of the upstream plan avoided.
    """
    features = list(features)
    schema = {f.name: f.dataType for f in df.schema.fields}

    def _needs(c: str, name: str) -> bool:
        if fields is None:
            return True
        req = fields.get(c, None)
        return req is None or name in req

    pctl_feats = [
        c for c in features if _is_numeric(schema[c]) and _needs(c, "percentiles")
    ]
    need_approx = any(_needs(c, "approxNumDistinctValues") for c in features)

    # scalar pass (+ HLL pass only if demanded); percentiles handled
    # below so exact_pctl never pays for a redundant approximate melt
    stats = describe(
        df, columns=features, percentiles=(), approx_distinct=need_approx
    )
    if pctl_feats and percentiles:
        if exact_pctl:
            ex = exact_percentiles(df, pctl_feats, percentiles)
            for c in pctl_feats:
                stats[c]["percentiles"] = ex[c]
        else:
            minmax = {c: (stats[c]["min"], stats[c]["max"]) for c in pctl_feats}
            pc, _ = approx_percentiles_multi(
                df, pctl_feats, list(percentiles), minmax
            )
            for c in pctl_feats:
                stats[c]["percentiles"] = pc.get(c)
    for c in features:
        if not _needs(c, "unique_values"):
            continue
        if isinstance(schema[c], T.StringType) or not _is_numeric(schema[c]):
            stats[c]["unique_values"] = sorted(
                v for v in unique_values(df, c) if v is not None
            )
    return stats
