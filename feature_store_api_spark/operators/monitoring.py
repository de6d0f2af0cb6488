"""Feature-monitoring windows: window config → event-time range →
(sampled) statistics → detection-vs-reference comparison.

Parity surface (SURVEY §2.4): the reference's monitoring-window engine —
window types ``ROLLING_TIME`` (``time_offset`` strings like ``"1w2d3h"``,
optional ``window_length``), ``ALL_TIME`` and ``SPECIFIC_VALUE``
(``/root/reference/python/hsfs/core/monitoring_window_config.py:27-43``),
offset parsing and start/end computation
(``core/monitoring_window_config_engine.py:153-229``), fetch + row
sampling + statistics (``:231-426``), and scalar comparison of a
detection window against a reference window
(``core/feature_monitoring_config.py`` comparison metrics).

Spark-first: a window is just an event-time range predicate — Catalyst
pushes it into the parquet/Delta scan (partition + row-group pruning on
the event-time column), ``df.sample`` handles ``row_percentage``, and
the statistics pass reuses :mod:`.statistics` (one wide aggregate).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OFFSET_RE = re.compile(r"^(?:(\d+)w)?(?:(\d+)d)?(?:(\d+)h)?$")


def parse_time_offset(offset: str) -> timedelta:
    """Parse ``"1w2d3h"``-style offsets (monitoring_window_config_engine.py:153-186).

    Any of the three components may be omitted; order is fixed w, d, h.
    """
    m = _OFFSET_RE.match(offset.strip())
    if not m or not any(m.groups()):
        raise ValueError(
            f"Invalid time offset {offset!r}: expected e.g. '1w2d3h', '4w', '12h'"
        )
    weeks, days, hours = (int(g) if g else 0 for g in m.groups())
    return timedelta(weeks=weeks, days=days, hours=hours)


@dataclass
class MonitoringWindowConfig:
    """One monitoring window (monitoring_window_config.py:27-43).

    - ``ALL_TIME``: no time bounds.
    - ``ROLLING_TIME``: ``[now - time_offset, now - time_offset +
      window_length)``; without ``window_length`` the window extends to
      ``now``.
    - ``SPECIFIC_VALUE``: no data fetch — ``specific_value`` is the
      reference scalar to compare against.
    """

    window_type: str = "ALL_TIME"
    time_offset: Optional[str] = None
    window_length: Optional[str] = None
    specific_value: Optional[float] = None
    row_percentage: float = 1.0

    def __post_init__(self):
        allowed = {"ALL_TIME", "ROLLING_TIME", "SPECIFIC_VALUE", "TRAINING_DATASET"}
        if self.window_type not in allowed:
            raise ValueError(f"window_type must be one of {sorted(allowed)}")
        if self.window_type == "ROLLING_TIME" and not self.time_offset:
            raise ValueError("ROLLING_TIME requires time_offset")


def window_bounds(
    cfg: MonitoringWindowConfig, now: datetime
) -> tuple[Optional[datetime], Optional[datetime]]:
    """(start, end) of the window; ``None`` = unbounded on that side.

    Parity: ``monitoring_window_config_engine.py:188-229`` — the end is
    capped at ``now``.
    """
    if cfg.window_type != "ROLLING_TIME":
        return None, None
    start = now - parse_time_offset(cfg.time_offset)
    end = now
    if cfg.window_length:
        end = min(start + parse_time_offset(cfg.window_length), now)
    return start, end


def fetch_window(
    df: DataFrame,
    event_time: str,
    cfg: MonitoringWindowConfig,
    now: datetime,
    seed: Optional[int] = None,
) -> DataFrame:
    """Rows inside the window, optionally row-sampled
    (``monitoring_window_config_engine.py:319-373``).

    The range predicate is a plain column comparison — pushed into the
    scan by Catalyst, so a partitioned/sorted event-time layout only
    reads the window's files.
    """
    start, end = window_bounds(cfg, now)
    out = df
    col = F.col(event_time)
    lo, hi = start, end
    dtype = df.schema[event_time].dataType
    if not str(dtype).startswith(("Timestamp", "Date")):
        # numeric/string event time: normalize both sides to epoch-millis
        # UTC (util.py:216 convention)
        from ..functions.event_time import event_time_col_to_millis, to_epoch_millis

        col = event_time_col_to_millis(col, dtype)
        lo = to_epoch_millis(start) if start is not None else None
        hi = to_epoch_millis(end) if end is not None else None
    if lo is not None:
        out = out.where(col >= F.lit(lo))
    if hi is not None:
        out = out.where(col < F.lit(hi))
    if cfg.row_percentage < 1.0:
        out = out.sample(fraction=cfg.row_percentage, seed=seed if seed is not None else 13)
    return out


def window_statistics(
    df: DataFrame,
    event_time: str,
    columns: Sequence[str],
    cfg: MonitoringWindowConfig,
    now: datetime,
    seed: Optional[int] = None,
) -> DataFrame:
    """Statistics DataFrame (one row per column) over the window —
    the fetch-and-compute path (``monitoring_window_config_engine.py:231-426``)."""
    from .statistics import describe_df

    return describe_df(fetch_window(df, event_time, cfg, now, seed), columns)


def compare_windows(
    detection_value: Optional[float],
    reference_value: Optional[float],
    threshold: float,
    relative: bool = False,
    strict: bool = False,
) -> Dict:
    """Compare a detection-window statistic against a reference value.

    ``difference = detection - reference`` (relative: divided by the
    reference; 0-reference → inf difference unless both are 0). Shift
    is "triggered" when the absolute difference exceeds (or, with
    ``strict``, equals-or-exceeds) ``threshold``.
    """
    if detection_value is None or reference_value is None:
        return {"difference": None, "shift_detected": False}
    diff = float(detection_value) - float(reference_value)
    if relative:
        if reference_value == 0:
            diff = float("inf") if diff != 0 else 0.0
        else:
            diff = diff / float(reference_value)
    mag = abs(diff)
    shift = mag >= threshold if strict else mag > threshold
    return {"difference": diff, "shift_detected": bool(shift)}


@dataclass
class FeatureMonitoringConfig:
    """A named drift check attached to a feature group (parity
    ``core/feature_monitoring_config_engine.py``): a detection window, a
    reference window (or SPECIFIC_VALUE scalar), one statistic, and a
    threshold."""

    name: str
    feature_name: str
    statistic: str = "mean_val"  # column of describe_df
    detection_window: MonitoringWindowConfig = field(
        default_factory=MonitoringWindowConfig
    )
    reference_window: Optional[MonitoringWindowConfig] = None
    threshold: float = 0.0
    relative: bool = False
    strict: bool = False

    def to_dict(self) -> Dict:
        from dataclasses import asdict

        return asdict(self)

    @classmethod
    def from_dict(cls, d: Dict) -> "FeatureMonitoringConfig":
        d = dict(d)
        d["detection_window"] = MonitoringWindowConfig(**d["detection_window"])
        if d.get("reference_window"):
            d["reference_window"] = MonitoringWindowConfig(**d["reference_window"])
        return cls(**d)


def run_monitoring(
    df: DataFrame,
    event_time: str,
    cfg: FeatureMonitoringConfig,
    now: datetime,
    seed: Optional[int] = None,
) -> Dict:
    """Execute one monitoring config: stats over the detection window,
    reference value from the reference window (or its SPECIFIC_VALUE),
    then :func:`compare_windows`."""

    def _stat(window_cfg) -> Optional[float]:
        stats = window_statistics(
            df, event_time, [cfg.feature_name], window_cfg, now, seed
        ).collect()
        if not stats:
            return None
        return stats[0][cfg.statistic]

    detection = _stat(cfg.detection_window)
    ref_cfg = cfg.reference_window
    if ref_cfg is None:
        reference = None
    elif ref_cfg.window_type == "SPECIFIC_VALUE":
        reference = ref_cfg.specific_value
    else:
        reference = _stat(ref_cfg)
    result = compare_windows(
        detection, reference, cfg.threshold, cfg.relative, cfg.strict
    )
    return {
        "config_name": cfg.name,
        "feature_name": cfg.feature_name,
        "statistic": cfg.statistic,
        "detection_value": detection,
        "reference_value": reference,
        **result,
    }


# ---------------------------------------------------------------------------
# distribution-level drift (extension beyond the reference's scalar
# statistic comparison): PSI / Jensen-Shannon / Kolmogorov-Smirnov over
# equi-width histograms of a detection vs a reference window.
# ---------------------------------------------------------------------------

def _bin_counts(df: DataFrame, column: str, mn: float, width: float, buckets: int):
    """One codegen'd groupBy(int)→count pass; the shuffle carries at
    most ``buckets`` partial counts per task (map-side combined), so the
    pass scales to arbitrary window sizes."""
    b = F.when(
        F.col(column).isNotNull(),
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(buckets - 1),
                F.floor(
                    (F.col(column).cast("double") - F.lit(mn)) / F.lit(width) * buckets
                ).cast("int"),
            ),
        ),
    )
    rows = (
        df.select(b.alias("__b"))
        .where(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    counts = [0] * buckets
    for r in rows:
        counts[r["__b"]] = r["__n"]
    return counts


def _ref_minmax(ref: DataFrame, column: str):
    """Reference [min, max] for drift binning: parquet FOOTER statistics
    when the reference is a provably plain file scan (driver-side, zero
    jobs — same guard as ``statistics._file_scan_minmax``), else one
    tiny min/max aggregate. Returns ``(mn, mx)`` or ``(None, None)`` for
    an all-null/empty reference.

    Known gap: the two paths disagree on float columns holding NaN in
    files whose writer leaves NaN out of footer min/max (parquet-cpp /
    pyarrow): the footer gives the finite range, while Spark's ``max``
    is NaN."""
    from .statistics import _file_scan_minmax

    fm = _file_scan_minmax(ref.select(column), [column])
    if column in fm:
        return float(fm[column][0]), float(fm[column][1])
    mm = ref.agg(
        F.min(F.col(column).cast("double")).alias("mn"),
        F.max(F.col(column).cast("double")).alias("mx"),
    ).collect()[0]
    if mm["mn"] is None:
        return None, None
    return float(mm["mn"]), float(mm["mx"])


def distribution_drift(
    detection: DataFrame,
    reference: DataFrame,
    column: str,
    buckets: int = 10,
    epsilon: float = 1e-6,
) -> Dict:
    """Histogram drift metrics between two windows of one feature.

    Bins are ``buckets`` equi-width intervals over the REFERENCE
    window's [min, max] (the standard PSI convention — drift is
    measured against where the reference distribution lived; detection
    values outside clamp into the edge bins). Three tiny Spark jobs:
    reference min/max, then one binned count per window; everything
    else is driver arithmetic on ≤ ``buckets`` integers.

    - ``psi``: Σ (p−q)·ln(p/q), bins ε-floored. <0.1 stable, 0.1-0.25
      moderate, >0.25 major shift (industry rule of thumb).
    - ``js_divergence``: Jensen-Shannon (base-2, in [0,1]).
    - ``ks_statistic``: max CDF gap over bin boundaries (binned
      approximation of two-sample KS).
    """
    mn, mx = _ref_minmax(reference, column)
    if mn is None:
        return {
            "psi": None, "js_divergence": None, "ks_statistic": None,
            "detection_count": 0, "reference_count": 0,
        }
    width = (mx - mn) or 1.0
    # the two window bin passes are independent jobs — overlap them
    # (guide §2.6) instead of serializing two small scans
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        det_f = pool.submit(_bin_counts, detection, column, mn, width, buckets)
        ref = _bin_counts(reference, column, mn, width, buckets)
        det = det_f.result()
    n_det, n_ref = sum(det), sum(ref)
    if n_det == 0 or n_ref == 0:
        return {
            "psi": None, "js_divergence": None, "ks_statistic": None,
            "detection_count": n_det, "reference_count": n_ref,
        }
    import math

    psi = js = 0.0
    cdf_d = cdf_r = 0.0
    ks = 0.0
    for i in range(buckets):
        p = max(det[i] / n_det, epsilon)
        q = max(ref[i] / n_ref, epsilon)
        psi += (p - q) * math.log(p / q)
        m = (p + q) / 2.0
        js += 0.5 * p * math.log2(p / m) + 0.5 * q * math.log2(q / m)
        cdf_d += det[i] / n_det
        cdf_r += ref[i] / n_ref
        ks = max(ks, abs(cdf_d - cdf_r))
    return {
        "psi": psi,
        "js_divergence": js,
        "ks_statistic": ks,
        "detection_count": n_det,
        "reference_count": n_ref,
    }


def windowed_drift(
    df: DataFrame,
    column: str,
    ts_col: str,
    window: str = "1 hour",
    reference: Optional[DataFrame] = None,
    buckets: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """PSI per TIME WINDOW against a fixed reference — the continuous
    production-monitoring shape of :func:`distribution_drift` (which
    scores one window pair per call): bin a feature into the reference
    histogram's bins, group by tumbling window, and compute PSI and JS
    per window in-plan.

    Output: ``(window_start, window_end, n, psi, js_divergence)``, one
    row per non-empty window — same math (and same epsilon floors) as
    ``distribution_drift``, so thresholds transfer.

    Scale posture: the reference histogram is ONE tiny collect
    (``buckets`` integers → literal probabilities); detection is a
    single ``groupBy(window)`` wide agg with one conditional count per
    bucket (map-side combined; the shuffle carries windows × buckets
    partials), then PSI/JS are Column arithmetic over those counts —
    no per-window jobs, no Python in the hot path, unbounded window
    count."""
    import math

    ref = reference if reference is not None else df
    mn, mx = _ref_minmax(ref, column)
    if mn is None:
        raise ValueError("windowed_drift: reference has no non-null values")
    width = (mx - mn) or 1.0
    ref_counts = _bin_counts(ref, column, mn, width, buckets)
    n_ref = sum(ref_counts)
    if n_ref == 0:
        raise ValueError("windowed_drift: reference is empty")
    q = [max(c / n_ref, epsilon) for c in ref_counts]

    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(buckets - 1),
            F.floor(
                (F.col(column).cast("double") - F.lit(mn))
                / F.lit(width)
                * buckets
            ).cast("int"),
        ),
    )
    binned = df.where(F.col(column).isNotNull()).select(
        F.window(F.col(ts_col), window).alias("__w"), b.alias("__b")
    )
    per_bin = [
        F.sum(F.when(F.col("__b") == i, 1).otherwise(0)).alias(f"__c{i}")
        for i in range(buckets)
    ]
    agg = binned.groupBy("__w").agg(
        F.count(F.lit(1)).alias("n"), *per_bin
    )
    total = F.col("n").cast("double")
    psi = None
    js = None
    ln2 = math.log(2.0)
    for i in range(buckets):
        p = F.greatest(F.col(f"__c{i}") / total, F.lit(epsilon))
        qi = F.lit(q[i])
        term = (p - qi) * F.log(p / qi)
        m = (p + qi) / 2.0
        js_term = (p * F.log(p / m) + qi * F.log(qi / m)) / (2.0 * ln2)
        psi = term if psi is None else psi + term
        js = js_term if js is None else js + js_term
    return agg.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n",
        F.round(psi, 6).alias("psi"),
        F.round(js, 6).alias("js_divergence"),
    )


class FeatureMonitoringBuilder:
    """Fluent monitoring-config builder (parity
    ``core/feature_monitoring_config.py:218,270,315,380,426`` —
    ``fg.create_feature_monitoring(...).with_detection_window(...)
    .with_reference_window(...).compare_on(...).save()``). ``save()``
    validates and persists the config on the owning feature group via
    ``create_feature_monitoring_config``; run it with
    ``fg.run_feature_monitoring(name)``."""

    def __init__(
        self,
        owner,
        name: str,
        feature_name: Optional[str] = None,
        description: str = "",
        statistics_only: bool = False,
    ) -> None:
        self._owner = owner
        self._name = name
        self._feature_name = feature_name
        self._description = description
        self._statistics_only = statistics_only
        self._detection: Optional[MonitoringWindowConfig] = None
        self._reference: Optional[MonitoringWindowConfig] = None
        self._metric = "mean_val"
        self._threshold = 0.0
        self._strict = False
        self._relative = False

    def with_detection_window(
        self,
        time_offset: Optional[str] = None,
        window_length: Optional[str] = None,
        row_percentage: float = 1.0,
    ) -> "FeatureMonitoringBuilder":
        self._detection = MonitoringWindowConfig(
            window_type="ROLLING_TIME" if (time_offset or window_length) else "ALL_TIME",
            time_offset=time_offset,
            window_length=window_length,
            row_percentage=row_percentage,
        )
        return self

    def with_reference_window(
        self,
        time_offset: Optional[str] = None,
        window_length: Optional[str] = None,
        row_percentage: float = 1.0,
    ) -> "FeatureMonitoringBuilder":
        if self._statistics_only:
            raise ValueError(
                "statistics-only monitoring takes no reference window "
                "(reference contract: create_feature_monitoring for comparisons)"
            )
        self._reference = MonitoringWindowConfig(
            window_type="ROLLING_TIME" if (time_offset or window_length) else "ALL_TIME",
            time_offset=time_offset,
            window_length=window_length,
            row_percentage=row_percentage,
        )
        return self

    def with_reference_value(self, value: float) -> "FeatureMonitoringBuilder":
        if self._statistics_only:
            raise ValueError("statistics-only monitoring takes no reference")
        self._reference = MonitoringWindowConfig(
            window_type="SPECIFIC_VALUE", specific_value=float(value)
        )
        return self

    def compare_on(
        self,
        metric: str,
        threshold: float,
        strict: bool = False,
        relative: bool = False,
    ) -> "FeatureMonitoringBuilder":
        if self._reference is None:
            raise ValueError(
                "compare_on requires a reference window/value first "
                "(reference contract)"
            )
        # reference metric names are bare ('mean'); describe_df columns
        # carry the _val suffix — accept both
        self._metric = metric if metric.endswith("_val") else f"{metric}_val"
        self._threshold = float(threshold)
        self._strict = bool(strict)
        self._relative = bool(relative)
        return self

    def save(self) -> FeatureMonitoringConfig:
        if not self._statistics_only and self._feature_name is None:
            raise ValueError("feature monitoring requires feature_name")
        cfg = FeatureMonitoringConfig(
            name=self._name,
            feature_name=self._feature_name or "",
            statistic=self._metric,
            detection_window=self._detection or MonitoringWindowConfig(),
            reference_window=self._reference,
            threshold=self._threshold,
            relative=self._relative,
            strict=self._strict,
        )
        self._owner.create_feature_monitoring_config(cfg)
        return cfg


def streaming_windowed_drift(
    stream_df: DataFrame,
    column: str,
    ts_col: str,
    reference: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    buckets: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Streaming twin of :func:`windowed_drift`: continuous per-window
    PSI/JS against a FIXED batch reference, over an unbounded stream.

    The reference histogram folds into literals exactly as in the batch
    variant, so the streaming plan is a watermarked window aggregation
    with per-bucket conditional counts — state is O(open windows ×
    buckets) and append mode emits each window's drift row exactly once
    when the watermark passes its end (idempotent foreachBatch upsert
    into a monitoring-results feature group).

    ``reference`` must be a bounded (batch) frame — at production scale
    the previous day/week's materialized window, re-folded per
    restart."""
    if reference.isStreaming:
        raise ValueError(
            "streaming_windowed_drift needs a BOUNDED reference frame "
            "(the histogram folds into plan literals)"
        )
    wm = stream_df.withWatermark(ts_col, watermark)
    return windowed_drift(
        wm, column, ts_col, window=window, reference=reference,
        buckets=buckets, epsilon=epsilon,
    )
