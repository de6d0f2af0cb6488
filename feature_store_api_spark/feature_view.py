"""FeatureView: a named, versioned logical view over a Query.

Parity: ``/root/reference/python/hsfs/feature_view.py:97-4036`` — a
Query + labels + transformation functions + serving keys; the unit for
training data and serving. Batch/training reads of a view whose left
side has an event time run the point-in-time join
(``constructor/fs_query.py:32-43``); training data adds random or
time-series splits (``core/feature_view_engine.py:298-409``,
``engine/spark.py:582-721``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constructor.filter import filters_to_column, normalize_filters
from .constructor.query import Query
from .feature_group import SpineGroup
from .functions.event_time import to_epoch_millis
from .operators.splits import random_split, split_labels, time_series_split
from .plans.compiler import PitRead, compile_query


class FeatureView:
    def __init__(
        self,
        name: str,
        query: Query,
        version: int = 1,
        labels: Sequence[str] = (),
        transformation_functions: Sequence = (),
        inference_helper_columns: Sequence[str] = (),
        training_helper_columns: Sequence[str] = (),
        description: str = "",
    ) -> None:
        self.name = name
        self.version = version
        self.query = query
        self.labels = [l.lower() for l in labels]
        self.transformation_functions = list(transformation_functions)
        self.inference_helper_columns = list(inference_helper_columns)
        self.training_helper_columns = list(training_helper_columns)
        self.description = description
        # backref set by FeatureStore.create/get_feature_view: gives the
        # view a home for versioned training-dataset materializations
        self._feature_store = None

    # -- serialization (a saved view survives process restarts; the
    # transformation registry already round-trips UDF source) -------------
    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "version": self.version,
            "query": self.query.to_dict(),
            "labels": list(self.labels),
            "transformation_functions": [
                t.to_dict() for t in self.transformation_functions
            ],
            "inference_helper_columns": list(self.inference_helper_columns),
            "training_helper_columns": list(self.training_helper_columns),
            "description": self.description,
        }

    @classmethod
    def from_dict(cls, d: dict, fs) -> "FeatureView":
        from .functions.udf import TransformationFunction

        return cls(
            d["name"],
            Query.from_dict(d["query"], fs),
            version=d.get("version", 1),
            labels=d.get("labels", ()),
            transformation_functions=[
                TransformationFunction.from_dict(t)
                for t in d.get("transformation_functions", [])
            ],
            inference_helper_columns=d.get("inference_helper_columns", ()),
            training_helper_columns=d.get("training_helper_columns", ()),
            description=d.get("description", ""),
        )

    # -- PIT compilation ---------------------------------------------------
    def _pit_plan(
        self,
        spark: SparkSession,
        spine: Optional[DataFrame] = None,
        pit_strategy: Optional[str] = None,
        event_start_ms: Optional[int] = None,
        event_end_ms: Optional[int] = None,
    ) -> DataFrame:
        """The view's read: its query compiled in as-of mode. The left
        feature group (or a passed spine) is the root; every joined
        group with an event time is as-of joined (``PitRead`` in
        ``plans/compiler.py`` has the semantics and the event-window
        pushdown rules for ``event_start_ms``/``event_end_ms``).

        ``pit_strategy`` overrides the PIT physical strategy for this
        read (``union_window`` default; ``union_window_skew`` for
        zipfian entities — stays FUSED across feature groups; ``auto``
        probes). Falls back to the view's ``default_pit_strategy``
        attribute when unset."""
        if spine is not None:
            self._validate_spine(spine, self.query.left_feature_group)
        strategy = (
            pit_strategy
            or getattr(self, "default_pit_strategy", None)
            or "union_window"
        )
        return compile_query(self.query, spark, pit=PitRead(
            spine, strategy, event_start_ms, event_end_ms,
        ))

    @staticmethod
    def _validate_spine(spine: DataFrame, left_fg) -> None:
        """Schema contract for a passed spine (parity
        ``core/feature_view_engine.py:218-234``: the reference verifies
        a spine's schema against the left feature group before
        substituting it): every join key and the event-time column must
        be present with the left group's dtype — a silently missing key
        would surface as an unintelligible analysis error deep in the
        PIT plan, and a mismatched key dtype (e.g. string vs bigint)
        would make every as-of join miss."""
        required = list(left_fg.primary_key)
        if left_fg.event_time and left_fg.event_time not in required:
            required.append(left_fg.event_time)
        missing = [c for c in required if c not in spine.columns]
        if missing:
            raise ValueError(
                f"Spine is missing required column(s) {missing}: it must "
                f"carry the left feature group's keys {left_fg.primary_key} "
                f"and event time {left_fg.event_time!r}"
            )
        expected = {
            f.name: f.type for f in left_fg.features if f.type is not None
        }
        spine_types = {f.name: f.dataType for f in spine.schema.fields}

        def _compatible(got, want):
            # Exact match, or a safe SAME-FAMILY widening Spark's join
            # handles losslessly (int vs bigint, float vs double; date
            # vs timestamp). A numeric spine column against a
            # timestamp/date key is REJECTED: Spark's implicit cast
            # would compile, but the PIT as-of comparison would then
            # silently miss or mismatch — the exact failure this check
            # exists to catch.
            if got == want:
                return True
            from pyspark.sql.types import (
                DateType,
                NumericType,
                TimestampNTZType,
                TimestampType,
            )

            temporal = (DateType, TimestampType, TimestampNTZType)
            if isinstance(got, temporal) and isinstance(want, temporal):
                return True
            return isinstance(got, NumericType) and isinstance(
                want, NumericType
            )

        mismatched = [
            (c, str(spine_types[c]), str(expected[c]))
            for c in required
            if c in expected and not _compatible(spine_types[c], expected[c])
        ]
        if mismatched:
            detail = "; ".join(
                f"{c}: spine {got} vs feature group {want}"
                for c, got, want in mismatched
            )
            raise ValueError(f"Spine key dtype mismatch — {detail}")

    # -- batch scoring read (parity core/feature_view_engine.py:187-244) --
    def get_batch_data(
        self,
        spark: SparkSession,
        start_time=None,
        end_time=None,
        spine: Optional[DataFrame] = None,
        transformed: bool = True,
        stats=None,
        inference_helper_columns: bool = False,
        pit_strategy: Optional[str] = None,
    ) -> DataFrame:
        """Scoring-time batch frame: PIT plan, optional event-time range,
        labels dropped. ``transformed=True`` (reference default,
        ``core/feature_view_engine.py:771``) applies the view's
        model-dependent transformations; pass ``stats`` (the training
        run's statistics dict) to guarantee training/serving-consistent
        scaling — without it, statistics-bound transformations fall back
        to stats over this batch frame. That fallback makes the call
        eager: the batch frame is materialized once, the statistics and
        the returned rows both come from it, and the rows are fixed at
        call time (with ``stats``, or no such transformation, the frame
        stays lazy).

        Helper columns (parity ``feature_view.py:974-983``): declared
        ``training_helper_columns`` are always dropped from batch data;
        declared ``inference_helper_columns`` are dropped unless
        ``inference_helper_columns=True``. (Primary-key/event-time
        inclusion is governed by the view's own ``select`` in this
        engine — the selection IS the projection — so the reference's
        ``primary_key``/``event_time`` re-add flags have no analogue.)

        ``pit_strategy``: physical PIT strategy override
        (``union_window_skew`` / ``auto`` for zipfian entities).
        """
        et = self.query.left_feature_group.event_time
        start_ms = (
            to_epoch_millis(start_time)
            if et and start_time is not None else None
        )
        end_ms = (
            to_epoch_millis(end_time)
            if et and end_time is not None else None
        )
        # the window rides into the plan as source pushdown hints
        # (feature sides get the PIT-safe upper bound only); the exact
        # predicate below stays — hints only prune, never decide
        df = self._pit_plan(
            spark, spine, pit_strategy=pit_strategy,
            event_start_ms=start_ms, event_end_ms=end_ms,
        )
        if et and (start_ms is not None or end_ms is not None):
            col = F.col(et)
            if start_ms is not None:
                df = df.where(col >= F.timestamp_millis(F.lit(start_ms)))
            if end_ms is not None:
                df = df.where(col < F.timestamp_millis(F.lit(end_ms)))
        if transformed and self.transformation_functions:
            from .functions.udf import apply_transformations as _apply

            if stats is None:
                # init_batch_scoring pinned a TD version's train stats
                stats = getattr(self, "_batch_scoring_stats", None)
            df = _apply(df, self.transformation_functions, stats=stats)
        drop = [c for c in self.labels if c in df.columns]
        drop += [c for c in self.training_helper_columns if c in df.columns]
        if not inference_helper_columns:
            drop += [
                c for c in self.inference_helper_columns if c in df.columns
            ]
        return df.drop(*drop) if drop else df

    # -- training data -----------------------------------------------------
    def training_data(
        self,
        spark: SparkSession,
        spine: Optional[DataFrame] = None,
        apply_transformations: bool = True,
        training_helper_columns: bool = False,
    ) -> DataFrame:
        """Training frame. Declared ``inference_helper_columns`` are
        always dropped; declared ``training_helper_columns`` only
        survive with ``training_helper_columns=True`` (parity
        ``feature_view.py:2118-2130`` defaults).

        With a statistics-bound transformation the call is eager: the
        PIT frame is materialized once, the statistics and the returned
        rows both come from it, and the rows are fixed at call time.
        Otherwise the frame is lazy."""
        df = self._pit_plan(spark, spine)
        if apply_transformations and self.transformation_functions:
            from .functions.udf import apply_transformations as _apply

            df = _apply(df, self.transformation_functions, train_df=df)
        drop = [c for c in self.inference_helper_columns if c in df.columns]
        if not training_helper_columns:
            drop += [
                c for c in self.training_helper_columns if c in df.columns
            ]
        return df.drop(*drop) if drop else df

    def _random_splits(self, spark, spine, weights, seed):
        """Seeded random splits of the PIT frame, transformed with the
        train split's statistics. The frame is materialized once with an
        eager ``localCheckpoint``: the statistics pass and every split
        read it, and it frees itself when the splits are
        garbage-collected, so no cache outlives the returned frames."""
        from .operators.training import prepare_training_data

        df = self._pit_plan(spark, spine).localCheckpoint(eager=True)
        return prepare_training_data(
            df, transformations=self.transformation_functions,
            random=weights, seed=seed, cache=False,
        )

    def train_test_split(
        self,
        spark: SparkSession,
        test_size: float = 0.2,
        seed: Optional[int] = None,
        spine: Optional[DataFrame] = None,
    ) -> Tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        td = self._random_splits(
            spark, spine, {"train": 1 - test_size, "test": test_size}, seed
        )
        x_train, y_train = split_labels(td["train"], self.labels)
        x_test, y_test = split_labels(td["test"], self.labels)
        return x_train, x_test, y_train, y_test

    # -- online serving (parity feature_view.py:286, vector_server.py) -----
    def init_serving(
        self,
        spark: SparkSession,
        training_df: Optional[DataFrame] = None,
        pin_snapshots: bool = True,
    ):
        from .online.serving import VectorServer

        self._vector_server = VectorServer(self).init_serving(
            spark, training_df, pin_snapshots=pin_snapshots
        )
        return self._vector_server

    def get_feature_vector(self, spark: SparkSession, entry, **kw):
        if not hasattr(self, "_vector_server"):
            self.init_serving(spark)
        return self._vector_server.get_feature_vector(spark, entry, **kw)

    def get_feature_vectors(self, spark: SparkSession, entries, **kw):
        if not hasattr(self, "_vector_server"):
            self.init_serving(spark)
        return self._vector_server.get_feature_vectors(spark, entries, **kw)

    def get_inference_helper(self, spark: SparkSession, entry, **kw):
        """Assembled inference-helper column vector for one entry
        (parity ``feature_view.py:735``)."""
        if not hasattr(self, "_vector_server"):
            self.init_serving(spark)
        return self._vector_server.get_inference_helper(spark, entry, **kw)

    def get_inference_helpers(self, spark: SparkSession, entries, **kw):
        """Batch inference-helper vectors (parity ``feature_view.py:783``)."""
        if not hasattr(self, "_vector_server"):
            self.init_serving(spark)
        return self._vector_server.get_inference_helpers(spark, entries, **kw)

    def train_validation_test_split(
        self,
        spark: SparkSession,
        validation_size: float = 0.1,
        test_size: float = 0.2,
        seed: Optional[int] = None,
        spine: Optional[DataFrame] = None,
    ):
        """Three-way random split (parity ``feature_view.py:2451``):
        returns ``x_train, x_val, x_test, y_train, y_val, y_test``.
        Statistics for statistics-bound transformations come from the
        train split only and are shared by all three."""
        if validation_size + test_size >= 1.0:
            raise ValueError(
                "validation_size + test_size must be < 1.0, got "
                f"{validation_size} + {test_size}"
            )
        td = self._random_splits(spark, spine, {
            "train": 1 - validation_size - test_size,
            "validation": validation_size,
            "test": test_size,
        }, seed)
        x_train, y_train = split_labels(td["train"], self.labels)
        x_val, y_val = split_labels(td["validation"], self.labels)
        x_test, y_test = split_labels(td["test"], self.labels)
        return x_train, x_val, x_test, y_train, y_val, y_test

    # -- versioned training datasets (parity training_dataset.py: a TD is
    # a versioned file materialization of the view's query) ---------------
    def _td_root(self, path: Optional[str]) -> str:
        if path is not None:
            return path
        fs = self._feature_store
        if fs is None or fs.root is None:
            raise ValueError(
                "Feature view has no store root for training datasets; "
                "pass path= or create the view via FeatureStore.create_feature_view"
            )
        import os

        return os.path.join(
            fs.root, "_training_datasets", f"{self.name}_{self.version}"
        )

    def create_training_dataset(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        data_format: str = "parquet",
        random=None,
        time_splits=None,
        seed: Optional[int] = None,
        path: Optional[str] = None,
        coalesce: bool = False,
        spine: Optional[DataFrame] = None,
        training_helper_columns: bool = False,
    ) -> dict:
        """Materialize the view query to versioned split files
        (parity ``engine/spark.py:633-721,865-919``): PIT plan → split →
        one shared stats pass → transform per split → write per split
        under ``<root>/td_<version>/<split>``. Returns the TD metadata.
        Helper columns follow ``training_data``'s defaults: inference
        helpers never land in a TD, training helpers only on request."""
        import json
        import os

        from .operators.training import prepare_training_data
        from .sources.writers import write_training_dataset

        root = self._td_root(path)
        os.makedirs(root, exist_ok=True)
        if version is None:
            existing = [
                int(d[3:]) for d in os.listdir(root)
                if d.startswith("td_") and d[3:].isdigit()
            ]
            version = max(existing, default=0) + 1
        td_dir = os.path.join(root, f"td_{version}")

        # time_splits carve exact [start, end) ranges out of the PIT
        # frame, so their convex hull is a pushable window exactly like
        # get_batch_data's: rows outside the hull appear in NO split,
        # and every split row sits below max(end) — the PIT-safe upper
        # bound for feature sides. Unbounded splits (a None start/end)
        # leave that side unhinted.
        ev_start = ev_end = None
        if time_splits and self.query.left_feature_group.event_time:
            starts = [s for (_n, s, _e) in time_splits]
            ends = [e for (_n, _s, e) in time_splits]
            if all(s is not None for s in starts):
                ev_start = min(to_epoch_millis(s) for s in starts)
            if all(e is not None for e in ends):
                ev_end = max(to_epoch_millis(e) for e in ends)
        df = self._pit_plan(
            spark, spine, event_start_ms=ev_start, event_end_ms=ev_end
        )
        drop = [c for c in self.inference_helper_columns if c in df.columns]
        if not training_helper_columns:
            drop += [
                c for c in self.training_helper_columns if c in df.columns
            ]
        if drop:
            df = df.drop(*drop)
        with prepare_training_data(
            df,
            transformations=self.transformation_functions,
            random=random,
            time_splits=time_splits,
            event_time=self.query.left_feature_group.event_time,
            seed=seed,
        ) as td:
            written = write_training_dataset(
                td.splits, data_format, td_dir, coalesce=coalesce
            )
            meta = {
                "version": version,
                "data_format": data_format,
                "splits": sorted(td.splits),
                "split_dirs": written,
                "seed": seed,
                # the full recipe, so recreate_training_dataset can
                # re-materialize this version byte-for-byte
                "random": random,
                "time_splits": time_splits,
                "statistics": td.statistics,
            }
        with open(os.path.join(td_dir, "_td_meta.json"), "w") as fh:
            json.dump(meta, fh, indent=1, default=str)
        self._last_accessed_training_dataset = version
        return meta

    def read_training_dataset(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        split: Optional[str] = None,
        path: Optional[str] = None,
        schema=None,
    ):
        """Read a materialized TD back: one split (→ DataFrame) or all
        (→ dict split→DataFrame). ``version=None`` reads the newest."""
        import json
        import os

        from .sources.writers import read_training_dataset as _read

        root = self._td_root(path)
        if version is None:
            existing = [
                int(d[3:]) for d in os.listdir(root)
                if d.startswith("td_") and d[3:].isdigit()
            ]
            if not existing:
                raise FileNotFoundError(f"No training datasets under {root}")
            version = max(existing)
        td_dir = os.path.join(root, f"td_{version}")
        with open(os.path.join(td_dir, "_td_meta.json")) as fh:
            meta = json.load(fh)
        self._last_accessed_training_dataset = version
        fmt = meta["data_format"]
        if split is not None:
            return _read(spark, fmt, meta["split_dirs"][split], schema=schema)
        return {
            s: _read(spark, fmt, d, schema=schema)
            for s, d in meta["split_dirs"].items()
        }

    # -- feature monitoring (parity feature_view.py:3303-3430: the same
    # drift-config machinery the reference attaches to views; ours runs
    # the named config against the view's compiled batch frame) ------------
    def _monitoring_path(self) -> Optional[str]:
        fs = self._feature_store
        if fs is None or fs.root is None:
            return None
        import os

        return os.path.join(
            fs.root, "_feature_views", f"{self.name}_{self.version}_monitoring.json"
        )

    def _load_monitoring_configs(self) -> Dict:
        import json
        import os

        p = self._monitoring_path()
        if p and os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return dict(getattr(self, "_mem_monitoring", {}))

    def create_feature_monitoring(
        self, name: str, feature_name: str, description: str = ""
    ):
        """Fluent comparison-monitoring builder (parity reference
        ``feature_view.py:3363``) — same contract as the feature-group
        variant; runs against the view's compiled PIT frame."""
        from .operators.monitoring import FeatureMonitoringBuilder

        return FeatureMonitoringBuilder(
            self, name, feature_name=feature_name, description=description
        )

    def create_statistics_monitoring(
        self,
        name: str,
        feature_name: Optional[str] = None,
        description: str = "",
    ):
        """Statistics-only monitoring builder (parity reference
        ``feature_view.py:3303``)."""
        from .operators.monitoring import FeatureMonitoringBuilder

        return FeatureMonitoringBuilder(
            self,
            name,
            feature_name=feature_name,
            description=description,
            statistics_only=True,
        )

    def create_feature_monitoring_config(self, config) -> None:
        """Attach a named monitoring config to the view (persisted with
        the view when store-backed)."""
        import json
        import os

        configs = self._load_monitoring_configs()
        configs[config.name] = config.to_dict()
        p = self._monitoring_path()
        if p is not None:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w") as fh:
                json.dump(configs, fh, indent=1)
        else:
            self._mem_monitoring = configs

    def run_feature_monitoring(
        self, name: str, spark: Optional[SparkSession] = None, now=None
    ) -> Dict:
        """Run one named config against the view's compiled (PIT) batch
        frame — detection vs reference window + comparison, appended to
        the view's monitoring history."""
        import json
        import os
        import time as _time
        from datetime import datetime

        from .operators.monitoring import (
            FeatureMonitoringConfig,
            run_monitoring,
        )

        if spark is None:
            from .session import get_spark

            spark = get_spark()
        configs = self._load_monitoring_configs()
        if name not in configs:
            raise KeyError(f"No monitoring config {name!r}")
        cfg = FeatureMonitoringConfig.from_dict(configs[name])
        et = self.query.left_feature_group.event_time
        if not et:
            raise ValueError(
                "feature monitoring requires an event_time on the view's "
                "left feature group"
            )
        result = run_monitoring(
            self._pit_plan(spark), et, cfg, now or datetime.utcnow()
        )
        p = self._monitoring_path()
        if p is not None:
            d = p[: -len(".json")] + "_results"
            os.makedirs(d, exist_ok=True)
            with open(
                os.path.join(d, f"{name}_{int(_time.time() * 1000)}.json"), "w"
            ) as fh:
                json.dump(result, fh, indent=1, default=str)
        return result

    def get_feature_monitoring_configs(self) -> List[Dict]:
        """Parity ``feature_view.py`` ``get_feature_monitoring_configs``."""
        return list(self._load_monitoring_configs().values())

    def get_feature_monitoring_history(self, name: str) -> List[Dict]:
        """Result history of one named config, newest first (parity
        ``get_feature_monitoring_history``)."""
        import json
        import os

        p = self._monitoring_path()
        if p is None:
            return []
        d = p[: -len(".json")] + "_results"
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d), reverse=True):
            if f.startswith(f"{name}_") and f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    # -- provenance (parity feature_view.py:1145-1155) ---------------------
    def get_parent_feature_groups(self):
        """The feature groups this view's query reads from — walked off
        the logical Query tree, exact by construction. Returns a
        :class:`~feature_store_api_spark.provenance.Links` with gone
        groups under ``.deleted``."""
        from . import provenance as _prov

        return _prov.view_parent_feature_groups(self)

    # -- feature logging (parity feature_view.py:3573-3790, core/
    # feature_logging.py, core/feature_view_engine.py:959-1100): served
    # vectors are logged back into dedicated feature groups — one for
    # untransformed, one for transformed values — with request-time
    # metadata, and read back for drift/audit monitoring. The reference
    # buffers through Kafka and materializes on a schedule; here the log
    # FG's commit store IS the buffer (append-only O(batch) inserts) and
    # materialize = compaction, so the same API maps onto fewer moving
    # parts without losing the read-back contract. --------------------------
    _LOG_ID = "log_id"
    _LOG_TIME = "log_time"
    _LOG_TD_VERSION = "td_version"
    _LOG_MODEL = "hsml_model"

    def _log_fg_name(self, transformed: bool) -> str:
        kind = "transformed" if transformed else "untransformed"
        return f"{self.name}_{self.version}_log_{kind}"

    def _log_fg(self, transformed: bool):
        fs = self._feature_store
        if fs is None:
            raise ValueError(
                "Feature logging needs a store-backed view; create it via "
                "FeatureStore.create_feature_view"
            )
        return fs.get_or_create_feature_group(
            self._log_fg_name(transformed),
            version=1,
            primary_key=[self._LOG_ID],
            event_time=self._LOG_TIME,
            # append-only audit log: no upsert dedupe pressure, so a
            # longer tail before compaction is fine
            auto_compact_every=None,
        )

    @property
    def logging_enabled(self) -> bool:
        return getattr(self, "_logging_enabled", False)

    def enable_logging(self) -> None:
        """Create (or re-attach) the two log feature groups (parity
        ``feature_view.py:3573``)."""
        self._log_fg(transformed=False)
        self._log_fg(transformed=True)
        self._logging_enabled = True

    def log(
        self,
        features,
        predictions=None,
        transformed: bool = False,
        training_dataset_version: Optional[int] = None,
        model=None,
        spark: Optional[SparkSession] = None,
    ):
        """Log served features (+ optional predictions) into the view's
        log feature group (parity ``feature_view.py:3595``).

        ``features``: a Spark DataFrame, or a list of dicts (the shape
        ``get_feature_vectors(return_type='dict')`` returns).
        ``predictions``: only with list input — an aligned list of
        dicts merged per row (with a DataFrame, include prediction
        columns in the frame, as the reference documents). ``model``:
        anything with ``name``/``version`` attributes, or a string.
        Metadata columns ``log_id``/``log_time``/``td_version``/
        ``hsml_model`` ride along; ``read_log`` strips the first two.
        """
        import warnings as _warnings

        if not self.logging_enabled:
            _warnings.warn(
                "Feature logging is not enabled; enabling it now — call "
                "feature_view.enable_logging() beforehand to avoid the "
                "setup cost on the serving path",
                stacklevel=2,
            )
            self.enable_logging()
        if isinstance(features, DataFrame):
            if predictions is not None:
                raise ValueError(
                    "With a DataFrame, pass predictions as columns of the "
                    "frame (positional alignment of two distributed frames "
                    "is not well-defined)"
                )
            df = features
        else:
            rows = [dict(r) for r in features]
            if predictions is not None:
                if len(predictions) != len(rows):
                    raise ValueError(
                        f"{len(rows)} feature rows but "
                        f"{len(predictions)} prediction rows"
                    )
                for r, p in zip(rows, predictions):
                    r.update(p)
            if not rows:
                return None
            if spark is None:
                from .session import get_spark

                spark = get_spark()
            cols = list(rows[0])
            df = spark.createDataFrame(
                [tuple(r.get(c) for c in cols) for r in rows], cols
            )
        model_val = None
        if model is not None:
            model_val = (
                f"{model.name}_{model.version}"
                if hasattr(model, "name")
                else str(model)
            )
        if training_dataset_version is None:
            # parity feature_view.py:3636: default to the TD most
            # recently materialized / read / bound for scoring
            training_dataset_version = self.get_last_accessed_training_dataset()
        out = (
            df.withColumn(self._LOG_ID, F.expr("uuid()"))
            .withColumn(self._LOG_TIME, F.current_timestamp())
            .withColumn(
                self._LOG_TD_VERSION,
                F.lit(training_dataset_version).cast("long"),
            )
            .withColumn(self._LOG_MODEL, F.lit(model_val).cast("string"))
        )
        return self._log_fg(transformed).insert(
            out, operation="insert", compute_stats=False
        )

    def read_log(
        self,
        spark: Optional[SparkSession] = None,
        start_time=None,
        end_time=None,
        filter=None,
        transformed: bool = False,
        training_dataset_version: Optional[int] = None,
        model=None,
    ) -> DataFrame:
        """Read logged vectors back, optionally filtered by log-time
        range / training-dataset version / model / feature predicate
        (parity ``feature_view.py:3671``; like the reference, the
        ``log_id`` and ``log_time`` plumbing columns are dropped)."""
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        fg = self._log_fg(transformed)
        df = fg.read_source(spark)
        if start_time is not None:
            df = df.where(
                F.col(self._LOG_TIME)
                >= F.timestamp_millis(F.lit(to_epoch_millis(start_time)))
            )
        if end_time is not None:
            df = df.where(
                F.col(self._LOG_TIME)
                <= F.timestamp_millis(F.lit(to_epoch_millis(end_time)))
            )
        if training_dataset_version is not None:
            df = df.where(
                F.col(self._LOG_TD_VERSION) == training_dataset_version
            )
        if model is not None:
            model_val = (
                f"{model.name}_{model.version}"
                if hasattr(model, "name")
                else str(model)
            )
            df = df.where(F.col(self._LOG_MODEL) == model_val)
        if filter is not None:
            from pyspark.sql import Column as _Column

            if isinstance(filter, _Column):
                df = df.where(filter)
            else:
                df = df.where(filters_to_column(normalize_filters(filter)))
        return df.drop(self._LOG_ID, self._LOG_TIME)

    def get_log_timeline(
        self, limit: Optional[int] = None, transformed: bool = False
    ):
        """Commit timeline of the log FG (parity ``feature_view.py:3645``)."""
        return self._log_fg(transformed).commit_details(limit=limit)

    def pause_logging(self) -> None:
        """Pause log materialization (parity ``feature_view.py:3719``:
        the reference pauses the scheduled materialization job, NOT the
        logging itself — entries keep accumulating in the buffer)."""
        self._logging_paused = True

    def resume_logging(self) -> None:
        self._logging_paused = False

    def materialize_log(self, spark: Optional[SparkSession] = None, wait: bool = False):
        """Fold the append-only log tail into compacted bases (parity
        ``feature_view.py:3747``; compaction is our materialization —
        synchronous, so ``wait`` is honored trivially)."""
        if getattr(self, "_logging_paused", False):
            return []
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        out = []
        for t in (False, True):
            store = self._log_fg(t).commit_store
            if store.snapshot_or_none(spark) is not None:
                out.append(store.compact(spark))
        return out

    def delete_log(self, transformed: Optional[bool] = None) -> None:
        """Drop logged data (parity ``feature_view.py:3764``;
        ``transformed=None`` deletes both logs)."""
        kinds = [transformed] if transformed is not None else [False, True]
        for t in kinds:
            self._feature_store.delete_feature_group(self._log_fg_name(t), 1)

    # -- batch-scoring binding (parity feature_view.py init_batch_scoring
    # / get_last_accessed_training_dataset: pin a TD version's train-split
    # statistics so scoring scales EXACTLY like training) ------------------
    def init_batch_scoring(
        self, training_dataset_version: Optional[int] = None
    ) -> None:
        """Bind batch scoring to a training dataset version: its
        recorded train-split statistics become the default ``stats`` for
        ``get_batch_data`` — statistics-bound transformations then scale
        scoring data exactly as they scaled training data (no skew)."""
        if training_dataset_version is None:
            tds = self.get_training_datasets()
            if not tds:
                raise FileNotFoundError(
                    "No materialized training datasets to bind scoring to"
                )
            training_dataset_version = tds[-1]["version"]
        self._batch_scoring_stats = self.get_training_dataset_statistics(
            training_dataset_version
        )
        self._last_accessed_training_dataset = training_dataset_version

    def get_last_accessed_training_dataset(self) -> Optional[int]:
        """The TD version most recently materialized, read, or bound
        (parity ``get_last_accessed_training_dataset``; feature logging
        defaults its td-version metadata to this)."""
        return getattr(self, "_last_accessed_training_dataset", None)

    # -- training-dataset lifecycle (parity feature_view.py create_*/
    # get_*/delete_*/purge_* training data family) -------------------------
    def create_training_data(self, spark: SparkSession, **kw) -> dict:
        """Reference-named alias (feature_view.py create_training_data):
        materialize the single-split training dataset."""
        return self.create_training_dataset(spark, **kw)

    def create_train_test_split(
        self,
        spark: SparkSession,
        test_size: float = 0.2,
        seed: Optional[int] = None,
        data_format: str = "parquet",
        **kw,
    ) -> dict:
        """Materialize a versioned train/test TD (parity
        ``feature_view.py`` ``create_train_test_split``)."""
        return self.create_training_dataset(
            spark,
            data_format=data_format,
            random={"train": 1 - test_size, "test": test_size},
            seed=seed,
            **kw,
        )

    def create_train_validation_test_split(
        self,
        spark: SparkSession,
        validation_size: float = 0.1,
        test_size: float = 0.2,
        seed: Optional[int] = None,
        data_format: str = "parquet",
        **kw,
    ) -> dict:
        if validation_size + test_size >= 1.0:
            raise ValueError("validation_size + test_size must be < 1.0")
        return self.create_training_dataset(
            spark,
            data_format=data_format,
            random={
                "train": 1 - validation_size - test_size,
                "validation": validation_size,
                "test": test_size,
            },
            seed=seed,
            **kw,
        )

    def get_training_datasets(self) -> List[dict]:
        """Metadata of every materialized TD version, ascending (parity
        ``get_training_datasets``)."""
        import json
        import os

        root = self._td_root(None)
        if not os.path.isdir(root):
            return []
        out = []
        for d in sorted(os.listdir(root)):
            meta = os.path.join(root, d, "_td_meta.json")
            if d.startswith("td_") and os.path.exists(meta):
                with open(meta) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda m: m["version"])

    def get_training_dataset_statistics(self, version: int) -> Optional[Dict]:
        """The per-split statistics captured when the TD materialized
        (parity ``get_training_dataset_statistics``)."""
        for meta in self.get_training_datasets():
            if meta["version"] == version:
                return meta.get("statistics")
        raise FileNotFoundError(f"No training dataset version {version}")

    def get_training_data(
        self, spark: SparkSession, version: Optional[int] = None
    ):
        """Read back a materialized TD's single frame, or its splits as
        ``(X, y)`` per split when the TD was split (parity
        ``get_training_data`` / ``get_train_test_split`` /
        ``get_train_validation_test_split`` read-back family)."""
        splits = self.read_training_dataset(spark, version=version)
        if isinstance(splits, dict) and set(splits) == {"train"}:
            splits = splits["train"]
        return splits

    def get_train_test_split(
        self, spark: SparkSession, version: Optional[int] = None
    ):
        splits = self.read_training_dataset(spark, version=version)
        x_train, y_train = split_labels(splits["train"], self.labels)
        x_test, y_test = split_labels(splits["test"], self.labels)
        return x_train, x_test, y_train, y_test

    def get_train_validation_test_split(
        self, spark: SparkSession, version: Optional[int] = None
    ):
        splits = self.read_training_dataset(spark, version=version)
        xs = [
            split_labels(splits[s], self.labels)
            for s in ("train", "validation", "test")
        ]
        return (
            xs[0][0], xs[1][0], xs[2][0], xs[0][1], xs[1][1], xs[2][1]
        )

    def recreate_training_dataset(
        self, spark: SparkSession, version: int
    ) -> dict:
        """Re-materialize a TD version from its recorded recipe (splits
        + seed + format) — byte-reproducible because our splits are
        seed-deterministic (parity ``recreate_training_dataset``)."""
        import json
        import os
        import shutil

        root = self._td_root(None)
        td_dir = os.path.join(root, f"td_{version}")
        meta_path = os.path.join(td_dir, "_td_meta.json")
        if not os.path.exists(meta_path):
            raise FileNotFoundError(f"No training dataset version {version}")
        with open(meta_path) as fh:
            meta = json.load(fh)
        splits = meta["splits"]
        random = meta.get("random")
        if random is None and set(splits) == {"test", "train"}:
            # pre-recipe metadata: assume the default 80/20
            random = {"train": 0.8, "test": 0.2}
        time_splits = meta.get("time_splits")
        if time_splits is not None:
            time_splits = [tuple(t) for t in time_splits]
        shutil.rmtree(td_dir, ignore_errors=True)
        return self.create_training_dataset(
            spark,
            version=version,
            data_format=meta["data_format"],
            random=random,
            time_splits=time_splits,
            seed=meta.get("seed"),
        )

    def delete_training_dataset(self, version: int) -> None:
        """Drop one materialized TD version (parity
        ``delete_training_dataset``)."""
        import os
        import shutil

        td_dir = os.path.join(self._td_root(None), f"td_{version}")
        if not os.path.isdir(td_dir):
            raise FileNotFoundError(f"No training dataset version {version}")
        shutil.rmtree(td_dir)

    def delete_all_training_datasets(self) -> None:
        import os
        import shutil

        root = self._td_root(None)
        if os.path.isdir(root):
            shutil.rmtree(root)

    # purge_* = delete the data files, keep the metadata (parity)
    def purge_training_data(self, version: int) -> None:
        import json
        import os
        import shutil

        td_dir = os.path.join(self._td_root(None), f"td_{version}")
        meta_path = os.path.join(td_dir, "_td_meta.json")
        if not os.path.exists(meta_path):
            raise FileNotFoundError(f"No training dataset version {version}")
        with open(meta_path) as fh:
            meta = json.load(fh)
        for d in meta["split_dirs"].values():
            shutil.rmtree(d, ignore_errors=True)

    def purge_all_training_data(self) -> None:
        for meta in self.get_training_datasets():
            self.purge_training_data(meta["version"])

    # -- tags (parity feature_view.py add_tag/get_tag/... + per-TD tags) ---
    def _tags_path(self, td_version: Optional[int] = None) -> Optional[str]:
        fs = self._feature_store
        if fs is None or fs.root is None:
            return None
        import os

        suffix = f"_td{td_version}" if td_version is not None else ""
        return os.path.join(
            fs.root, "_feature_views",
            f"{self.name}_{self.version}{suffix}_tags.json",
        )

    def _load_tags(self, td_version=None) -> Dict:
        import json
        import os

        p = self._tags_path(td_version)
        if p and os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return dict(getattr(self, "_mem_tags", {}).get(td_version or 0, {}))

    def _save_tags(self, tags: Dict, td_version=None) -> None:
        import json
        import os

        p = self._tags_path(td_version)
        if p is None:
            mem = getattr(self, "_mem_tags", {})
            mem[td_version or 0] = tags
            self._mem_tags = mem
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as fh:
            json.dump(tags, fh, indent=1)

    def add_tag(self, name: str, value) -> None:
        tags = self._load_tags()
        tags[name] = value
        self._save_tags(tags)

    def get_tag(self, name: str):
        return self._load_tags().get(name)

    def get_tags(self) -> Dict:
        return dict(self._load_tags())

    def delete_tag(self, name: str) -> None:
        tags = self._load_tags()
        tags.pop(name, None)
        self._save_tags(tags)

    def add_training_dataset_tag(self, version: int, name: str, value) -> None:
        tags = self._load_tags(version)
        tags[name] = value
        self._save_tags(tags, version)

    def get_training_dataset_tag(self, version: int, name: str):
        return self._load_tags(version).get(name)

    def get_training_dataset_tags(self, version: int) -> Dict:
        return dict(self._load_tags(version))

    def delete_training_dataset_tag(self, version: int, name: str) -> None:
        tags = self._load_tags(version)
        tags.pop(name, None)
        self._save_tags(tags, version)

    # -- misc parity -------------------------------------------------------
    @property
    def primary_keys(self) -> List[str]:
        """Serving keys (parity ``feature_view.py`` ``primary_keys``)."""
        return list(self.query.left_feature_group.primary_key)

    @property
    def serving_keys(self) -> List[str]:
        return self.primary_keys

    def transform(self, df: DataFrame, stats=None) -> DataFrame:
        """Apply the view's model-dependent transformations to an
        arbitrary frame (parity ``feature_view.py`` ``transform``).
        Without ``stats``, statistics-bound transformations take their
        statistics from ``df`` itself; the call is then eager: ``df`` is
        materialized once and the rows are fixed at call time."""
        from .functions.udf import TransformationFunction, apply_transformations

        tfs = [
            t for t in self.transformation_functions
            if getattr(t, "mode", None) != TransformationFunction.ON_DEMAND
        ]
        if not tfs:
            return df
        return apply_transformations(df, tfs, stats=stats, train_df=df)

    def compute_on_demand_features(self, df: DataFrame) -> DataFrame:
        """Apply only the view's on-demand transformations (parity
        ``compute_on_demand_features``)."""
        from .functions.udf import TransformationFunction, apply_transformations

        tfs = [
            t for t in self.transformation_functions
            if getattr(t, "mode", None) == TransformationFunction.ON_DEMAND
            and all(f in df.columns for f in t.features)
        ]
        return apply_transformations(df, tfs) if tfs else df

    def find_neighbors(
        self, embedding, col=None, k=10, filter=None, metric=None
    ):
        """kNN against the view's left feature group's embedding column
        (parity ``feature_view.py`` ``find_neighbors``). ``metric=None``
        defers to the group's declared EmbeddingIndex (L2 fallback)."""
        return self.query.left_feature_group.find_neighbors(
            embedding, col=col, k=k, filter=filter, metric=metric
        )

    def get_batch_query(self) -> str:
        """The view's query as ANSI SQL (parity ``get_batch_query`` —
        the reference returns the server-generated batch SQL string;
        ours emits from the local plan; PIT semantics are a plan-level
        rewrite, so this is the plain-join form)."""
        return self.query.to_string()

    def delete(self) -> None:
        """Drop the view and its artifacts (parity ``clean``/``delete``)."""
        self.delete_all_training_datasets()
        if self._feature_store is not None:
            self._feature_store.delete_feature_view(self.name, self.version)

    @staticmethod
    def clean(feature_store, name: str, version: int = 1) -> None:
        """Parity reference ``feature_view.py:222``: delete a view and
        its training data BY NAME, without rehydrating it first — the
        escape hatch for a view whose recorded query no longer loads
        (e.g. its source group was dropped)."""
        import os
        import shutil

        path = feature_store._view_path(name, version)
        if path is not None and os.path.isdir(os.path.dirname(path)):
            base = os.path.dirname(path)
            # STRICT stem match: '{name}_{version}.json' or sidecars
            # '{name}_{version}_*' — a bare prefix test would absorb
            # '{name}_1' into '{name}_10' (the same absorption bug
            # model_registry._is_version_file_of guards against)
            # ...and the bare-underscore prefix test had the SAME bug
            # one level up: clean('v', 1) must not absorb 'v_1_2.json'
            # (view literally NAMED 'v_1', version 2) nor its sidecars.
            # Only the KNOWN sidecar suffixes this module writes are
            # eligible: _monitoring.json, _tags.json, _td<N>_tags.json,
            # and the _monitoring_results directory run_feature_monitoring
            # writes.
            import re

            stem = f"{name}_{version}"
            sidecar = re.compile(
                rf"^{re.escape(stem)}"
                r"(\.json|_monitoring\.json|_monitoring_results"
                r"|(_td\d+)?_tags\.json)$"
            )
            for entry in os.listdir(base):
                if sidecar.match(entry):
                    full = os.path.join(base, entry)
                    if os.path.isdir(full):
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.remove(full)
        # training data lives under its own root — remove it too (the
        # docstring's contract: view AND its training data)
        if feature_store.root is not None:
            shutil.rmtree(
                os.path.join(
                    feature_store.root,
                    "_training_datasets",
                    f"{name}_{version}",
                ),
                ignore_errors=True,
            )
        feature_store._views.pop((name, version), None)

    # -- schema / transformation introspection (parity
    # feature_view.py:3963-3976,4024) -------------------------------------
    @property
    def schema(self) -> List:
        """The view's features (parity ``schema``/``features``): the
        compiled query's output features."""
        return list(self.query.features)

    @property
    def features(self) -> List:
        """Alias of :attr:`schema` (reference parity)."""
        return self.schema

    def transformed_features(self) -> List[str]:
        """Post-transformation feature names (parity
        ``feature_view.py:4024``): query features minus every
        transformation input that is consumed, plus the declared
        transformation outputs."""
        consumed = set()
        outputs: List[str] = []
        for t in self.transformation_functions:
            outputs.extend(t.output_names())
            # dropped_features maps drop names (parameter names or raw
            # lowercased columns) onto actual bound feature names — the
            # canonical resolution, not a raw t.drop comparison
            dropper = getattr(t, "dropped_features", None)
            dropped = dropper() if callable(dropper) else (
                getattr(t, "drop", []) or []
            )
            consumed.update(d.lower() for d in dropped)
        base = [f.name for f in self.schema]
        return [c for c in base if c.lower() not in consumed] + outputs

    @property
    def model_dependent_transformation_functions(self) -> List:
        """Transformations applied at training/serving read time."""
        from .functions.udf import TransformationFunction

        return [
            t for t in self.transformation_functions
            if t.mode == TransformationFunction.MODEL_DEPENDENT
        ]

    @property
    def on_demand_transformation_functions(self) -> List:
        """Transformations computed at ingest / on demand."""
        from .functions.udf import TransformationFunction

        return [
            t for t in self.transformation_functions
            if t.mode == TransformationFunction.ON_DEMAND
        ]

    # the reference's public names carry a typo ("tranformation",
    # feature_view.py) — keep them as aliases so reference code runs
    model_dependent_tranformation_functions = model_dependent_transformation_functions
    on_demand_tranformation_functions = on_demand_transformation_functions

    def update_last_accessed_training_dataset(self, version: int) -> None:
        """Parity setter twin of ``get_last_accessed_training_dataset``."""
        self._last_accessed_training_dataset = version

    # -- model provenance (parity feature_view.py:1157-1208: models
    # generated from this view, resolved via the model registry) ----------
    def _model_registry(self):
        from .model_registry import ModelRegistry

        fs = self._feature_store
        if fs is None or fs.root is None:
            raise ValueError(
                "Feature view has no store root for model provenance; "
                "create the view via FeatureStore.create_feature_view"
            )
        return ModelRegistry(fs.root)

    def get_models_provenance(self, training_dataset_version=None):
        """Models generated from this view as a classified ``Links``
        (parity ``get_models_provenance``): registry entries that parse
        are accessible, corrupt sidecars are faulty, deleted is always
        empty (explicit provenance does not track deletions)."""
        return self._model_registry().models_for_view(
            self.name, self.version,
            training_dataset_version=training_dataset_version,
        )

    def get_models(self, training_dataset_version=None) -> List:
        """Accessible models generated from this view (parity
        ``get_models``)."""
        return self.get_models_provenance(
            training_dataset_version=training_dataset_version
        ).accessible

    def get_newest_model(self, training_dataset_version=None):
        """Latest generated model by creation time, or None (parity
        ``get_newest_model`` — same sort key: ``created`` desc)."""
        models = self.get_models(
            training_dataset_version=training_dataset_version
        )
        models.sort(key=lambda m: m.created, reverse=True)
        return models[0] if models else None

    def train_test_split_by_time(
        self,
        spark: SparkSession,
        train_start=None,
        train_end=None,
        test_start=None,
        test_end=None,
        spine: Optional[DataFrame] = None,
    ):
        df = self._pit_plan(spark, spine)
        et = self.query.left_feature_group.event_time
        if not et:
            raise ValueError("time-series split requires an event_time on the left feature group")
        parts = time_series_split(
            df, et, [("train", train_start, train_end), ("test", test_start, test_end)]
        )
        return parts["train"], parts["test"]
