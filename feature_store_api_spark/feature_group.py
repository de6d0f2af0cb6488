"""Feature-group metadata objects wrapping Spark tables.

Parity targets in ``/root/reference/python/hsfs/feature_group.py``:
cached ``FeatureGroup`` (class at :2050; select surface :240-408),
``ExternalFeatureGroup`` (:3569), ``SpineGroup`` (:4108). Storage here is
Spark-native: a parquet path, a live DataFrame, or a managed
commit-store location (our time-travel format, see
:mod:`.sources.commit_store`).
"""

from __future__ import annotations

import os
from typing import Any, Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constructor.query import Query
from .feature import Feature, autofix_feature_name


class FeatureGroupBase:
    """Shared select/filter surface for all feature-group flavors."""

    def __init__(
        self,
        name: str,
        version: int = 1,
        primary_key: Sequence[str] = (),
        partition_key: Sequence[str] = (),
        event_time: Optional[str] = None,
        features: Optional[List[Feature]] = None,
        description: str = "",
        online_enabled: bool = False,
    ) -> None:
        self.name = autofix_feature_name(name)
        self.version = version
        self.primary_key = [autofix_feature_name(k) for k in primary_key]
        self.partition_key = [autofix_feature_name(k) for k in partition_key]
        self.event_time = autofix_feature_name(event_time) if event_time else None
        self.description = description
        self.online_enabled = online_enabled
        # backref set by FeatureStore.create/_rehydrate: resolves
        # provenance links, log groups, and online homes
        self._feature_store = None
        self._features: List[Feature] = []
        # deferred schema: a zero-arg callable returning List[Feature],
        # invoked on first feature access — catalogs over many tables
        # pay schema reads only for the tables a query actually touches
        self._features_loader = None
        if features:
            self.set_features(features)

    # -- schema -----------------------------------------------------------
    def set_features(self, features: List[Feature]) -> None:
        self._features = []
        self._features_loader = None
        for f in features:
            f = f.with_feature_group(self)
            f.primary = f.name in self.primary_key
            f.partition = f.name in self.partition_key
            f.event_time = f.name == self.event_time
            self._features.append(f)

    def set_features_loader(self, loader) -> None:
        self._features_loader = loader

    def _resolved_features(self) -> List[Feature]:
        if not self._features and self._features_loader is not None:
            loader, self._features_loader = self._features_loader, None
            self.set_features(loader())
        return self._features

    @property
    def features(self) -> List[Feature]:
        return self._resolved_features()

    @property
    def feature_names(self) -> List[str]:
        return [f.name for f in self.features]

    def get_feature(self, name: str) -> Feature:
        name = autofix_feature_name(name)
        for f in self._resolved_features():
            if f.name == name:
                return f
        raise KeyError(f"Feature {name!r} not in feature group {self.name!r}")

    def __getattr__(self, name: str) -> Feature:
        # metadata attributes resolve normally; unknown names fall
        # through to feature lookup (reference allows fg.feature_name)
        if name.startswith("_"):  # never treat internals as features
            raise AttributeError(name)
        try:
            return self.get_feature(name)
        except KeyError as e:
            raise AttributeError(str(e)) from e

    def __getitem__(self, name: str) -> Feature:
        return self.get_feature(name)

    # -- projection → Query (parity feature_group.py:240-408) -------------
    def select_all(
        self,
        include_primary_key: bool = True,
        include_event_time: bool = True,
        include_partition_key: bool = True,
    ) -> Query:
        feats = [
            f
            for f in self._resolved_features()
            if (include_primary_key or not f.primary)
            and (include_event_time or not f.event_time)
            and (include_partition_key or not f.partition)
        ]
        return Query(self, feats)

    def select(self, features: Sequence[Union[str, Feature]]) -> Query:
        feats = [
            self.get_feature(f) if isinstance(f, str) else self.get_feature(f.name)
            for f in features
        ]
        return Query(self, feats)

    def select_except(self, features: Sequence[Union[str, Feature]]) -> Query:
        drop = {
            autofix_feature_name(f if isinstance(f, str) else f.name)
            for f in features
        }
        return Query(
            self, [f for f in self._resolved_features() if f.name not in drop]
        )

    def filter(self, f) -> Query:
        return self.select_all().filter(f)

    # -- source resolution (implemented by subclasses) ---------------------
    def read_source(
        self,
        spark: SparkSession,
        start_time: Optional[int] = None,
        end_time: Optional[int] = None,
        filters=None,
        columns=None,
    ) -> DataFrame:
        """``filters``/``columns`` are best-effort PUSHDOWN HINTS (the
        node's own Filter IR and the columns the plan can keep):
        sources that can prune on them (Iceberg manifests, DBAPI SQL)
        do; everyone else ignores them — the compiler always re-applies
        the exact predicate and projection at the plan."""
        raise NotImplementedError

    def find_neighbors(self, embedding, col=None, k=10, filter=None, metric=None):
        """kNN over this group's embedding column (parity
        ``feature_group.py:2394-2459``; available on cached, external,
        and spine groups alike). A declared ``embedding_index``
        (``embedding.EmbeddingIndex``) supplies the default column and
        similarity function and validates the query dimension; with no
        index, ``col`` falls back to the first array column and
        ``metric`` to L2."""
        from .operators.similarity import find_neighbors

        idx = getattr(self, "embedding_index", None)
        if idx is not None and idx.get_embeddings():
            feats = idx.get_embeddings()
            if col is None:
                col = feats[0].name
            ef = idx.get_embedding(col)
            if ef is not None:
                if metric is None:
                    metric = ef.metric
                if len(embedding) != ef.dimension:
                    raise ValueError(
                        f"Query vector has {len(embedding)} dimensions but "
                        f"embedding feature {col!r} declares {ef.dimension}"
                    )
        return find_neighbors(
            self, embedding, col=col, k=k, filter=filter, metric=metric or "l2"
        )

    def read(self, spark: Optional[SparkSession] = None, **kw) -> DataFrame:
        return self.select_all().read(spark, **kw)

    def show(self, n: int = 10):
        return self.select_all().show(n)

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.name!r}, v{self.version})"


    def get_storage_connector_provenance(self):
        """Parents of this group that are STORAGE CONNECTORS (parity
        reference ``feature_group.py:549-563``): the connector an
        external group reads through. Managed groups have no connector
        parent and return empty ``Links``. Accessible = the live
        connector object (still registered with the store when the
        store keeps a registry); deleted = the store's registry no
        longer lists it (minimal ``Artifact`` info); inaccessible = the
        group only carries a connector NAME whose object is gone."""
        from .provenance import Artifact, Links

        links = Links()
        conn = getattr(self, "storage_connector", None)
        if conn is None:
            return links
        if isinstance(conn, str):
            links.inaccessible.append(Artifact(conn, 1, "STORAGE_CONNECTOR"))
            return links
        registry = getattr(self._feature_store, "_connectors", None)
        name = getattr(conn, "name", None)
        if registry is not None and name is not None and name not in registry:
            links.deleted.append(Artifact(name, 1, "STORAGE_CONNECTOR"))
            return links
        links.accessible.append(conn)
        return links

    def get_storage_connector(self):
        """The accessible storage connector this group reads through,
        or ``None`` (parity reference ``feature_group.py:565-586``:
        deleted/inaccessible parents are only surfaced by
        :meth:`get_storage_connector_provenance`)."""
        links = self.get_storage_connector_provenance()
        if links.deleted or links.inaccessible:
            import warnings

            warnings.warn(
                "The parent storage connector is deleted or inaccessible."
                " For more details use get_storage_connector_provenance",
                stacklevel=2,
            )
        return links.accessible[0] if links.accessible else None


class FeatureGroup(FeatureGroupBase):
    """A cached (materialized) feature group.

    Backed either by an immutable parquet path (read-only sources such as
    the test tables) or by a managed commit store supporting
    upsert/delete/time-travel (``time_travel_format="COMMITLOG"`` — our
    replacement for the reference's Hudi/Delta duality,
    ``feature_group.py:2050`` + ``core/hudi_engine.py`` /
    ``core/delta_engine.py``).
    """

    def __init__(
        self,
        name: str,
        version: int = 1,
        primary_key: Sequence[str] = (),
        partition_key: Sequence[str] = (),
        event_time: Optional[str] = None,
        features: Optional[List[Feature]] = None,
        description: str = "",
        online_enabled: bool = False,
        path: Optional[str] = None,
        location: Optional[str] = None,
        precombine_key: Optional[str] = None,
        stream: bool = False,
        transformation_functions: Sequence = (),
        auto_compact_every: Optional[int] = 10,
        statistics_config=None,
        embedding_index=None,
        max_staleness=None,
        cluster_by: Sequence[str] = (),
        time_travel_format: str = "COMMITLOG",
    ) -> None:
        super().__init__(
            name, version, primary_key, partition_key, event_time, features,
            description, online_enabled,
        )
        # physical storage format (parity: reference FeatureGroup
        # time_travel_format HUDI/DELTA/None). COMMITLOG = our own
        # parquet+JSON log; DELTA = a real protocol-conformant Delta
        # table (sources/delta_backend.py) readable by any Delta
        # client; ICEBERG = a real Iceberg v2 table
        # (sources/iceberg_backend.py); HUDI = a published-layout
        # COPY_ON_WRITE table (sources/hudi_backend.py); HUDI_MOR = its
        # MERGE_ON_READ twin (small commits log-append to file groups,
        # the reference's streaming default) — all jarless, all
        # readable by external clients of the respective format.
        fmt = (time_travel_format or "COMMITLOG").upper()
        if fmt not in ("COMMITLOG", "DELTA", "ICEBERG", "HUDI", "HUDI_MOR"):
            raise ValueError(
                f"Unsupported time_travel_format {time_travel_format!r}: "
                "expected 'COMMITLOG', 'DELTA', 'ICEBERG', 'HUDI' or "
                "'HUDI_MOR'"
            )
        self.time_travel_format = fmt
        self.statistics_config = statistics_config
        self.embedding_index = embedding_index
        # feature TTL: PIT reads of this group through a FeatureView
        # null out matches older than spine_ts - max_staleness
        # (interval string or timedelta for timestamps, number for
        # numeric times) — validated HERE, at declaration, so a typo
        # fails fast instead of as a Catalyst parse error at read time
        from .operators.pit_join import validate_max_staleness

        self.max_staleness = validate_max_staleness(max_staleness)
        # declared clustering: writes sort within partitions by these
        # columns so parquet row-group stats data-skip pushed predicates
        self.cluster_by = [autofix_feature_name(c) for c in cluster_by]
        self.deprecated = False
        self.path = path  # immutable parquet source
        self.location = location  # managed commit-store dir
        self.precombine_key = (
            autofix_feature_name(precombine_key) if precombine_key else None
        )
        self.stream = stream
        self.auto_compact_every = auto_compact_every
        # on-demand transformations: computed at ingest time (and again at
        # request time for serving) — parity hopsworks_udf.py:35-41 +
        # feature_group.py:2226 (deterministic apply order by output name)
        self.transformation_functions = list(transformation_functions)
        self.expectation_suite = None  # set via save_expectation_suite
        self._store = None
        # multi_part_insert buffer (parity feature_group.py:2799,2934)
        self._multi_part_parts: List[DataFrame] = []
        self._multi_part_operation: Optional[str] = None

    # -- managed storage ---------------------------------------------------
    @property
    def commit_store(self):
        if self.location is None:
            raise ValueError(
                f"Feature group {self.name!r} is not managed (no location); "
                "insert/commit operations require a managed feature group"
            )
        if self._store is None:
            from importlib import import_module

            from .sources.commit_store import CommitStore

            # HUDI_MOR is MERGE_ON_READ: follow-up commits append log
            # files to existing file groups instead of new parquet groups
            # (the reference's streaming-FG default table type)
            module, cls = {
                "COMMITLOG": ("backend", "CommitLogBackend"),
                "DELTA": ("delta_backend", "DeltaLogBackend"),
                "ICEBERG": ("iceberg_backend", "IcebergBackend"),
                "HUDI": ("hudi_backend", "HudiBackend"),
                "HUDI_MOR": ("hudi_backend", "HudiMorBackend"),
            }[self.time_travel_format]
            backend = getattr(
                import_module(f".sources.{module}", __package__), cls
            )(self.location)
            self._store = CommitStore(
                self.location,
                primary_key=self.primary_key,
                event_time=self.event_time,
                partition_key=self.partition_key,
                precombine_key=self.precombine_key,
                auto_compact_every=self.auto_compact_every,
                cluster_by=self.cluster_by,
                backend=backend,
            )
        return self._store

    def save(self, features=None, write_options=None):
        """Parity ``feature_group.py:2489``: with a DataFrame, persist
        metadata AND ingest it (first insert); with a feature list (or
        nothing), register the schema only — our groups register at
        create time, so the data-free call just declares features."""
        if isinstance(features, DataFrame):
            return self.insert(features, write_options=write_options)
        if features:
            self.set_features(list(features))
        return self

    def insert(
        self,
        df: DataFrame,
        operation: str = "upsert",
        write_options: Optional[Dict[str, Any]] = None,
        compute_stats: bool = True,
        parents: Optional[Sequence] = None,
        overwrite: bool = False,
        storage: Optional[str] = None,
    ) -> "Optional[FeatureGroupCommit]":
        """Ingest a DataFrame (parity ``feature_group.py:2623`` →
        ``engine/spark.py:349-396``). Infers/validates schema, sanitizes
        names, writes a commit (upsert/delete semantics in the commit
        store). ``overwrite=True`` is the reference's truncate-and-insert
        (``insert(overwrite=True)`` → Hudi ``insert_overwrite_table`` /
        SaveMode.Overwrite): the commit replaces the visible snapshot,
        while ``as_of`` below it keeps working until vacuum.

        The returned commit's counts come from the write itself
        (``CommitStore.write``): the row count and ``rows_updated`` are
        both observed on the write's one query, ``rows_updated`` through
        an existence join of the batch keys against the live keys.
        ``compute_stats=False`` skips both and records 0/0/0.

        Provenance: the ingested frame's physical plan is matched
        against the store's managed feature-group locations and any hit
        is recorded as a parent link (``provenance.parents_from_plan``);
        ``parents`` adds explicit links (FeatureGroups or (name,
        version) pairs) for plans whose lineage was truncated."""
        from . import provenance as _prov
        from .sources.ingestion import convert_to_default_dataframe

        derived = _prov.parents_from_plan(df, self._feature_store, exclude=self)
        if parents:
            for p in parents:
                if isinstance(p, tuple):
                    derived.append((p[0], int(p[1])))
                else:
                    derived.append((p.name, getattr(p, "version", 1)))
        if derived:
            _prov.record_parents(self, derived)

        df = convert_to_default_dataframe(df)
        on_demand = [
            t for t in self.transformation_functions
            if getattr(t, "mode", None) == "on_demand"
        ]
        if on_demand:
            from .functions.udf import apply_transformations

            df = apply_transformations(df, on_demand)
        if not self._resolved_features():
            self.set_features(
                [Feature(f.name, f.dataType) for f in df.schema.fields]
            )
        else:
            # declared schema wins: cast incoming columns to feature types
            # (parity engine/spark.py:1464-1474)
            from .sources.ingestion import cast_to_schema

            df = cast_to_schema(df, self._features)
        if self.expectation_suite is not None:
            # ingest-time validation (parity engine/spark.py:1055-1109):
            # STRICT raises before anything is written; every run —
            # including the refused one — lands in the report history
            from .operators.validation import DataValidationError, validate_for_ingest

            try:
                report = validate_for_ingest(df, self.expectation_suite)
            except DataValidationError as e:
                self._record_validation(e.report)
                raise
            self._record_validation(report)
        if storage not in (None, "online", "offline"):
            raise ValueError(
                f"storage must be 'online', 'offline' or None, got "
                f"{storage!r}"
            )
        if storage == "online" and not self.online_enabled:
            raise ValueError(
                "storage='online' requires an online-enabled feature group"
            )
        commit = None
        if storage != "online":
            commit = self.commit_store.write(
                df,
                operation="overwrite" if overwrite else operation,
                compute_stats=compute_stats,
            )
        if self.online_enabled and storage != "offline":
            from .online.store import OnlineStore

            store = OnlineStore.for_feature_group(self)
            if overwrite:
                # reference feature_group_engine.py:181: overwrite
                # truncates online content FIRST, so keys absent from
                # the overwrite frame stop serving stale vectors and
                # both stores land on the same snapshot
                store.truncate()
            store.upsert(df)
        return commit

    # -- multi-part insert (parity ``feature_group.py:2799`` /
    # ``:2934`` + ``feature_group_writer.py``): many small DataFrames
    # accumulate into ONE commit. The reference batches rows into its
    # streaming producer to skip per-insert metadata round-trips; the
    # Spark-first equivalent defers the physical write — parts buffer as
    # logical plans, finalize unions them and runs one insert, so the
    # commit log gains one commit (not N) and the commit store sees one
    # write amortizing its snapshot/compaction machinery -----------------

    def multi_part_insert(
        self,
        df: Optional[DataFrame] = None,
        operation: str = "upsert",
    ):
        """Chunked ingestion. Two styles (both reference-parity):

        ``with fg.multi_part_insert() as writer: writer.insert(part)``
        finalizes automatically on context exit; or call
        ``fg.multi_part_insert(part)`` per chunk and finish with
        :meth:`finalize_multi_part_insert`. All parts must share one
        ``operation``; nothing is written until finalization."""
        if df is None:
            return FeatureGroupWriter(self)
        if self._multi_part_parts and self._multi_part_operation != operation:
            raise ValueError(
                "multi_part_insert parts must share one operation; got "
                f"{operation!r} after {self._multi_part_operation!r} — "
                "finalize_multi_part_insert() before switching"
            )
        self._multi_part_operation = operation
        self._multi_part_parts.append(df)
        return None

    def finalize_multi_part_insert(self):
        """Blocking finalize: union every buffered part (by name, so
        chunks may order columns differently) and ingest once — one
        commit, one snapshot, stats computed over the whole batch.
        No-op when nothing was buffered."""
        parts = self._multi_part_parts
        if not parts:
            self._multi_part_operation = None
            return None
        self._multi_part_parts = []
        op = self._multi_part_operation or "upsert"
        self._multi_part_operation = None
        whole = parts[0]
        for p in parts[1:]:
            whole = whole.unionByName(p, allowMissingColumns=True)
        return self.insert(whole, operation=op)

    @property
    def avro_schema(self) -> str:
        """Avro record schema JSON for this group's features, every
        field a ``[null, T]`` union (parity ``feature_group.py:1952`` —
        the schema the online Kafka path encodes values under)."""
        import json as _json

        from .sources.avro_codec import avro_schema_of

        fields = []
        for f in self.features:
            if f.type is None:
                raise ValueError(
                    f"Feature {f.name!r} has no resolved type; ingest "
                    "data or declare a schema before requesting the "
                    "Avro schema"
                )
            fields.append(
                {"name": f.name, "type": ["null", avro_schema_of(f.type)]}
            )
        return _json.dumps(
            {"type": "record", "name": self.name, "fields": fields}
        )

    # -- metadata updates (persisted in the managed sidecar) ---------------
    def _update_meta(self, **changes) -> None:
        import json as _json

        if self.location is None:
            return
        p = os.path.join(self.location, "_fg_meta.json")
        if not os.path.exists(p):
            return
        with open(p) as fh:
            meta = _json.load(fh)
        meta.update(changes)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(meta, fh, indent=1)
        os.replace(tmp, p)

    def update_description(self, description: str) -> "FeatureGroup":
        """Parity ``feature_group.py`` ``update_description``."""
        self.description = description
        self._update_meta(description=description)
        return self

    def update_feature_description(
        self, feature_name: str, description: str
    ) -> "FeatureGroup":
        """Parity ``update_feature_description``: annotate one feature."""
        feat = self.get_feature(feature_name)
        feat.description = description
        self._persist_declared_schema()
        return self

    def update_features(self, features) -> "FeatureGroup":
        """Parity ``feature_group.py:779`` — metadata update for
        existing features; like the reference, only the DESCRIPTION is
        updatable (type/name changes need schema evolution via
        ``append_features``)."""
        from .feature import Feature as _Feature

        if isinstance(features, _Feature):
            features = [features]
        for f in features:
            self.update_feature_description(f.name, f.description)
        return self

    def get_fg_name(self) -> str:
        """Parity ``feature_group.py:1682``: the storage-layer name."""
        return f"{self.name}_{self.version}"

    def get_complex_features(self) -> List[str]:
        """Parity ``feature_group.py:1956``: names of features whose
        type is complex (array/map/struct) — the ones the Kafka/Avro
        path serializes as nested records."""
        out = []
        for f in self.features:
            t = str(f.type or "")
            if t.startswith(("ArrayType", "MapType", "StructType")) or (
                isinstance(f.type, str)
                and f.type.strip().lower().startswith(("array", "map", "struct"))
            ):
                out.append(f.name)
        return out

    def check_deprecated(self) -> None:
        """Parity ``check_deprecated``: warn when reading a group that
        was marked deprecated."""
        if self.deprecated:
            import warnings as _warnings

            _warnings.warn(
                f"Feature group {self.name!r} v{self.version} is "
                "deprecated; migrate readers to its replacement",
                DeprecationWarning,
                stacklevel=2,
            )

    @property
    def hudi_precombine_key(self) -> Optional[str]:
        """Parity alias: the reference exposes the precombine field
        under its Hudi name."""
        return self.precombine_key

    @property
    def statistics(self) -> Optional[Dict]:
        """Parity ``feature_group.py:1686``: the LATEST computed
        statistics (or None if none were persisted)."""
        return self.get_statistics()

    def update_statistics_config(self, config) -> "FeatureGroup":
        """Parity ``update_statistics_config``: replaces the profiling
        config used by future ``compute_statistics`` runs."""
        self.statistics_config = config
        self._update_meta(
            statistics_config=config.to_dict() if config else None
        )
        return self

    def update_deprecated(self, deprecated: bool = True) -> "FeatureGroup":
        """Parity ``update_deprecated``: reads of a deprecated group
        warn (but keep working) so downstream users migrate."""
        self.deprecated = bool(deprecated)
        self._update_meta(deprecated=self.deprecated)
        return self

    def delete(self) -> None:
        """Drop this group and its artifacts (parity ``delete``)."""
        if self._feature_store is None:
            raise ValueError("Feature group is not attached to a store")
        self._feature_store.delete_feature_group(self.name, self.version)

    # -- expectation suite accessors (parity feature_group.py) -------------
    def get_expectation_suite(self):
        return self.expectation_suite

    def delete_expectation_suite(self) -> None:
        self.expectation_suite = None

    def get_latest_validation_report(self):
        """Parity ``get_latest_validation_report``."""
        hist = self.get_validation_history(limit=1)
        return hist[0] if hist else None

    def get_all_validation_reports(self):
        """Parity ``get_all_validation_reports``."""
        return self.get_validation_history()

    # -- monitoring accessors (parity get_feature_monitoring_configs /
    # get_feature_monitoring_history) --------------------------------------
    def get_feature_monitoring_configs(self) -> List[Dict]:
        return list(self._load_monitoring_configs().values())

    def get_feature_monitoring_history(self, name: str) -> List[Dict]:
        """Result history of one named config, newest first."""
        import json as _json

        if self.location is None:
            return []
        d = os.path.join(self.location, "monitoring_results")
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d), reverse=True):
            if f.startswith(f"{name}_") and f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(_json.load(fh))
        return out

    # -- provenance (parity feature_group.py:534-601) ----------------------
    def get_generated_feature_groups(self):
        """Downstream feature groups derived FROM this one — the child
        direction of the ingest-plan lineage (parity
        ``feature_group.py`` ``get_generated_feature_groups``): scans
        the store's managed groups' provenance sidecars for links to
        (name, version)."""
        from . import provenance as _prov

        links = _prov.Links()
        fs = self._feature_store
        if fs is None:
            return links
        names = set()
        if fs.root and os.path.isdir(fs.root):
            for d in os.listdir(fs.root):
                if os.path.exists(os.path.join(fs.root, d, "_fg_meta.json")):
                    stem, _, ver = d.rpartition("_")
                    if stem and ver.isdigit():
                        names.add((stem, int(ver)))
        names |= set(fs._registry.keys())
        for key in sorted(names):
            if key == (self.name, self.version):
                continue
            try:
                child = fs.get_feature_group(*key)
            except Exception:
                continue
            if (self.name, self.version) in {
                (n, int(v)) for n, v in _prov.load_parents(child)
            }:
                links.accessible.append(child)
        return links

    def get_parent_feature_groups(self):
        """Upstream feature groups this group was derived from (links
        recorded at insert time from the ingested frame's plan, or
        passed explicitly via ``insert(parents=)``). Returns a
        :class:`~feature_store_api_spark.provenance.Links`."""
        from . import provenance as _prov

        return _prov.fg_parent_feature_groups(self, self._feature_store)

    def get_generated_feature_views(self):
        """Feature views built over this group (registered or persisted
        in the store root). Returns a ``Links``."""
        from . import provenance as _prov

        return _prov.fg_generated_feature_views(self, self._feature_store)


    def commit_delete_record(self, df: DataFrame) -> "FeatureGroupCommit":
        """Parity ``core/hudi_engine.py:94-100`` / ``core/delta_engine.py:87-114``."""
        return self.commit_store.write(df, operation="delete")

    # -- feature monitoring (parity feature_monitoring_config_engine:
    # named drift checks persisted with the group, run on demand) ---------
    def create_feature_monitoring(
        self, name: str, feature_name: str, description: str = ""
    ):
        """Fluent comparison-monitoring builder (parity reference
        ``feature_group.py:1526``):
        ``fg.create_feature_monitoring(...).with_detection_window(...)
        .with_reference_window(...).compare_on(...).save()``."""
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
        ``feature_group.py:1460``): computes window statistics with no
        reference comparison; ``with_reference_*``/``compare_on``
        raise, matching the reference's split."""
        from .operators.monitoring import FeatureMonitoringBuilder

        return FeatureMonitoringBuilder(
            self,
            name,
            feature_name=feature_name,
            description=description,
            statistics_only=True,
        )

    def create_feature_monitoring_config(self, config) -> None:
        import json as _json

        configs = self._load_monitoring_configs()
        configs[config.name] = config.to_dict()
        if self.location is not None:
            p = os.path.join(self.location, "_monitoring.json")
            with open(p, "w") as fh:
                _json.dump(configs, fh, indent=1)
        else:
            self._mem_monitoring = configs

    def _load_monitoring_configs(self) -> Dict:
        import json as _json

        if self.location is not None:
            p = os.path.join(self.location, "_monitoring.json")
            if os.path.exists(p):
                with open(p) as fh:
                    return _json.load(fh)
            return {}
        return dict(getattr(self, "_mem_monitoring", {}))

    def run_feature_monitoring(
        self, name: str, spark: Optional[SparkSession] = None, now=None
    ) -> Dict:
        """Run one named config: detection vs reference window over the
        group's current state; the result is appended to the group's
        monitoring history."""
        import json as _json
        import time as _time
        from datetime import datetime

        from .operators.monitoring import (
            FeatureMonitoringConfig,
            run_monitoring,
        )
        from .session import get_spark

        spark = spark or get_spark()
        configs = self._load_monitoring_configs()
        if name not in configs:
            raise KeyError(f"No monitoring config {name!r}")
        cfg = FeatureMonitoringConfig.from_dict(configs[name])
        if not self.event_time:
            raise ValueError("feature monitoring requires an event_time")
        result = run_monitoring(
            self.read_source(spark),
            self.event_time,
            cfg,
            now or datetime.utcnow(),
        )
        if self.location is not None:
            d = os.path.join(self.location, "monitoring_results")
            os.makedirs(d, exist_ok=True)
            with open(
                os.path.join(d, f"{name}_{int(_time.time() * 1000)}.json"), "w"
            ) as fh:
                _json.dump(result, fh, indent=1, default=str)
        return result

    # -- tags (parity feature_group.py add_tag/get_tag/delete_tag: free-
    # form metadata, persisted in the sidecar for managed groups) ---------
    def _tags_path(self) -> Optional[str]:
        if self.location is None:
            return None
        return os.path.join(self.location, "_tags.json")

    def _load_tags(self) -> Dict[str, Any]:
        import json as _json

        p = self._tags_path()
        if p and os.path.exists(p):
            with open(p) as fh:
                return _json.load(fh)
        return getattr(self, "_mem_tags", {})

    def _save_tags(self, tags: Dict[str, Any]) -> None:
        import json as _json

        p = self._tags_path()
        if p is None:
            self._mem_tags = tags
            return
        with open(p, "w") as fh:
            _json.dump(tags, fh, indent=1, default=str)

    def add_tag(self, name: str, value: Any) -> None:
        tags = self._load_tags()
        tags[name] = value
        self._save_tags(tags)

    def get_tag(self, name: str) -> Any:
        return self._load_tags().get(name)

    def get_tags(self) -> Dict[str, Any]:
        return dict(self._load_tags())

    def delete_tag(self, name: str) -> None:
        tags = self._load_tags()
        tags.pop(name, None)
        self._save_tags(tags)

    # -- validation (parity feature_group.py save_expectation_suite /
    # get_validation_history) ---------------------------------------------
    def save_expectation_suite(self, suite) -> None:
        self.expectation_suite = suite

    def validate(
        self,
        dataframe: Optional[DataFrame] = None,
        expectation_suite=None,
        save_report: bool = False,
        ingestion_result: str = "UNKNOWN",
    ):
        """Run an expectation suite against an arbitrary DataFrame
        WITHOUT inserting (parity reference ``feature_group.py:1243``):
        one wide aggregation pass, a :class:`ValidationReport` back.

        ``expectation_suite`` overrides the attached suite for
        testing-new-suites workflows — and, matching the reference's
        contract, results for an override suite are NEVER persisted.
        ``dataframe=None`` validates the group's own stored data (the
        reference's ``ingestion_result='fg_data'`` mode). With
        ``save_report=True`` (attached suite only) the report lands in
        the same history ``get_validation_history`` serves."""
        override = expectation_suite is not None
        suite = expectation_suite if override else self.expectation_suite
        if suite is None:
            return None
        df = dataframe if dataframe is not None else self.read()
        report = suite.validate(df)
        # uppercase vocabulary on the record (reference parity:
        # validation_report.py:103); any input case accepted
        report.ingestion_result = (
            "FG_DATA" if dataframe is None else str(ingestion_result).upper()
        )
        if save_report and not override:
            self._record_validation(report)
        return report

    def save_validation_report(
        self, validation_report, ingestion_result: Optional[str] = None
    ) -> None:
        """Persist an externally produced validation report alongside
        this group's history (parity ``feature_group.py:1114``, which
        also takes ``ingestion_result``). Accepts a
        :class:`ValidationReport` or a GE-format dict
        (``success``/``results`` with ``expectation_config``);
        ``ingestion_result`` (any case) overrides/sets the recorded
        fate, normalized to the reference's UPPERCASE vocabulary."""
        from .operators.validation import (
            ExpectationResult,
            ValidationReport,
        )

        if isinstance(validation_report, dict):
            results = []
            for r in validation_report.get("results", []):
                cfg = r.get("expectation_config", {})
                kwargs = dict(cfg.get("kwargs", {}))
                results.append(
                    ExpectationResult(
                        expectation_type=cfg.get("expectation_type", ""),
                        column=kwargs.pop("column", None),
                        success=bool(r.get("success", False)),
                        observed=(r.get("result") or {}).get(
                            "observed_value"
                        ),
                        kwargs=kwargs,
                    )
                )
            validation_report = ValidationReport(
                bool(validation_report.get("success", False)),
                results,
                len(results),
                ingestion_result=str(
                    validation_report.get("ingestion_result", "UNKNOWN")
                ).upper(),
            )
        if ingestion_result is not None:
            validation_report.ingestion_result = str(ingestion_result).upper()
        self._record_validation(validation_report)

    def _record_validation(self, report) -> None:
        import json as _json
        import time as _time

        if report is None or self.location is None:
            return
        d = os.path.join(self.location, "validation_reports")
        os.makedirs(d, exist_ok=True)
        payload = {
            "success": report.success,
            "evaluated": report.evaluated,
            "ingestion_result": str(
                getattr(report, "ingestion_result", "UNKNOWN")
            ).upper(),
            "results": [
                {
                    "expectation_type": r.expectation_type,
                    "column": r.column,
                    "success": r.success,
                    "observed": r.observed,
                    "kwargs": r.kwargs,
                }
                for r in report.results
            ],
        }
        # millisecond timestamps collide for back-to-back saves; bump
        # until free so every report lands as its own history entry
        stamp = int(_time.time() * 1000)
        while os.path.exists(os.path.join(d, f"{stamp}.json")):
            stamp += 1
        with open(os.path.join(d, f"{stamp}.json"), "w") as fh:
            _json.dump(payload, fh, indent=1, default=str)

    def get_validation_history(self, limit: Optional[int] = None):
        import json as _json

        if self.location is None:
            return []
        d = os.path.join(self.location, "validation_reports")
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d), reverse=True):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(_json.load(fh))
            if limit and len(out) >= limit:
                break
        return out

    def append_features(self, features: Sequence[Feature]) -> None:
        """Schema evolution: add nullable columns (parity
        ``feature_group.py:853`` + ``engine/spark.py:1237-1265`` — the
        reference reconciles the metastore schema against storage and
        re-registers the view with the widened schema). Storage is
        untouched: reads reconcile missing declared columns to typed
        NULLs; a declared ``default_value`` fills them when the column
        is selected through a Query (compiler coalesce). The widened
        schema persists to the metadata sidecar, so it survives
        restarts; later inserts may carry real values for the column."""
        existing = {f.name for f in self._resolved_features()}
        new = [f for f in features if f.name not in existing]
        if not new:
            return
        for f in new:
            if f.type is None:
                raise ValueError(
                    f"append_features needs a type for feature {f.name!r}"
                )
        self.set_features(list(self._resolved_features()) + list(new))
        self._persist_declared_schema()

    def _persist_declared_schema(self) -> None:
        """Record declared features in the metadata sidecar (restart
        survival for schema evolution)."""
        import json as _json

        from .feature import spark_type_to_ddl

        if self.location is None:
            return
        meta_path = os.path.join(self.location, "_fg_meta.json")
        if not os.path.exists(meta_path):
            return
        with open(meta_path) as fh:
            meta = _json.load(fh)
        meta["features"] = [
            {
                "name": f.name,
                "type": spark_type_to_ddl(f.type) if f.type is not None else None,
                "default_value": f.default_value,
                "description": f.description,
            }
            for f in self._resolved_features()
        ]
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(meta, fh, indent=1)
        os.replace(tmp, meta_path)

    def _profile(self, df) -> Dict:
        """describe() honoring the group's ``statistics_config``
        (parity ``statistics_config.py``: enabled / columns restriction /
        exactUniqueness / correlations / histograms)."""
        from .operators.statistics import correlations, describe, value_counts

        cfg = self.statistics_config
        if cfg is not None and not cfg.enabled:
            return {}
        cols = [f.name for f in df.schema.fields]
        if cfg is not None and cfg.columns:
            cols = [c for c in cols if c in set(cfg.columns)]
        exact = bool(cfg.exact_uniqueness) if cfg is not None else False
        stats = describe(df, cols, exact_distinct=exact)
        if cfg is not None and cfg.correlations:
            num = [
                c for c in cols
                if str(df.schema[c].dataType) in
                ("DoubleType()", "FloatType()", "LongType()", "IntegerType()")
            ]
            if len(num) >= 2:
                stats["_correlations"] = [
                    r.asDict() for r in correlations(df, num).collect()
                ]
        if cfg is not None and cfg.histograms:
            stats["_histograms"] = {
                c: [r.asDict() for r in value_counts(df, c, k=20).collect()]
                for c in cols
            }
        return stats

    def compute_statistics(self, spark: Optional[SparkSession] = None) -> Dict:
        """Profile the current snapshot and persist it next to the data,
        keyed by the newest commit time (parity
        ``core/statistics_engine.py:35-220`` — the reference persists per
        commit; ours is a JSON sidecar under ``<location>/statistics``)."""
        import json as _json

        from .session import get_spark

        spark = spark or get_spark()
        stats = self._profile(self.read_source(spark))
        details = self.commit_details(limit=1)
        commit_time = details[0]["commit_time"] if details else 0
        if self.location is not None:
            d = os.path.join(self.location, "statistics")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{commit_time}.json"), "w") as fh:
                _json.dump(stats, fh, indent=1, default=str)
        return stats

    def get_statistics_by_commit_window(
        self,
        start_commit_time: Optional[int] = None,
        end_commit_time: Optional[int] = None,
        spark: Optional[SparkSession] = None,
    ) -> Dict:
        """Profile the rows changed in ``(start, end]`` — an incremental
        read — or the snapshot AT ``end`` when no start is given (parity
        ``feature_group.py:3212``, ``core/statistics_engine.py:325-367``)."""
        from .session import get_spark

        spark = spark or get_spark()
        df = self.commit_store.snapshot(
            spark, start_commit=start_commit_time, end_commit=end_commit_time
        )
        return self._profile(df)

    def get_all_statistics(self) -> List[Dict]:
        """Every persisted profile, newest first, each wrapped with its
        commit time (parity ``feature_group.py`` ``get_all_statistics``)."""
        import json as _json

        if self.location is None:
            return []
        d = os.path.join(self.location, "statistics")
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d), reverse=True):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(
                        {"commit_time": int(f[:-5]), "statistics": _json.load(fh)}
                    )
        return out

    def get_statistics(self, commit_time: Optional[int] = None) -> Optional[Dict]:
        """Latest persisted profile, or the newest one at/before
        ``commit_time`` (parity ``feature_group.py:3212``)."""
        import json as _json

        if self.location is None:
            return None
        d = os.path.join(self.location, "statistics")
        if not os.path.isdir(d):
            return None
        times = sorted(
            int(f[:-5]) for f in os.listdir(d) if f.endswith(".json")
        )
        if commit_time is not None:
            times = [t for t in times if t <= commit_time]
        if not times:
            return None
        with open(os.path.join(d, f"{times[-1]}.json")) as fh:
            return _json.load(fh)

    def commit_details(self, limit: Optional[int] = None):
        """Commit metadata, newest first (parity ``feature_group.py:3115``,
        ``core/delta_engine.py:172-204``)."""
        details = self.commit_store.commit_details()
        return details[:limit] if limit else details

    @property
    def materialization_job(self):
        """Job-shaped handle for this group's offline materialization
        (parity ``feature_group.py:3490`` — the reference resolves a
        remote ``{name}_{version}_offline_fg_materialization`` job that
        folds Kafka-buffered inserts into the offline store). This
        engine lands stream inserts offline per micro-batch, so the
        recurring work the job represents is COMPACTION: folding the
        commit store's merge-on-read tail into a read-optimized base
        (plus the online store's, when enabled). ``run()`` does that,
        synchronously; state/executions/schedule follow
        ``core/job.py:94`` / ``core/job_schedule.py:27``."""
        if getattr(self, "_materialization_job", None) is None:
            from .jobs import Job

            def _materialize(_args=None):
                from .session import get_spark

                spark = get_spark()
                out = {"offline_commit": None, "online_compacted": False}
                commit = self.commit_store.compact(spark)
                out["offline_commit"] = getattr(commit, "commit_time", commit)
                if self.online_enabled:
                    from .online.store import OnlineStore

                    OnlineStore.for_feature_group(self).compact(spark)
                    out["online_compacted"] = True
                return out

            self._materialization_job = Job(
                f"{self.name}_{self.version}_offline_fg_materialization",
                _materialize,
                config={"type": "compaction", "feature_group": self.name,
                        "version": self.version},
            )
        return self._materialization_job

    def vacuum(self, retain_hours: float = 168.0) -> List[int]:
        """Delete commit history outside the retention window that a
        compaction base has superseded (parity: Delta ``VACUUM`` /
        Hudi cleaner, default 168h horizon). Time travel within
        retention is unaffected; reads before the horizon raise."""
        return self.commit_store.vacuum(retain_hours=retain_hours)

    def as_of(self, wallclock_time=None, exclude_until=None) -> Query:
        return self.select_all().as_of(wallclock_time, exclude_until)

    def read_changes(self, start_wallclock_time, end_wallclock_time) -> DataFrame:
        return (
            self.select_all()
            .pull_changes(start_wallclock_time, end_wallclock_time)
            .read()
        )

    # -- source resolution -------------------------------------------------
    def read_source(
        self, spark, start_time=None, end_time=None, filters=None,
        columns=None,
    ) -> DataFrame:
        # columns ignored: the commit store needs its merge columns and
        # Catalyst prunes the parquet scan anyway.
        # filters: the store pushes only the PARTITION-KEY subtree into
        # its backend scan (safe pre-version-resolution; prunes MOR
        # file groups / Delta add actions / Iceberg manifests); the
        # compiler's root predicate stays the exact filter
        if self.deprecated:
            import warnings as _warnings

            _warnings.warn(
                f"Feature group {self.name!r} v{self.version} is "
                "deprecated; migrate readers to its replacement",
                DeprecationWarning,
                stacklevel=2,
            )
        if self.location is not None:
            df = self.commit_store.snapshot(
                spark, start_commit=start_time, end_commit=end_time,
                filters=filters,
            )
            # schema reconciliation (append_features evolution): declared
            # columns absent from storage surface as typed NULLs
            missing = [
                f
                for f in (self._features or [])
                if f.name not in df.columns and f.type is not None
            ]
            for f in missing:
                df = df.withColumn(f.name, F.lit(None).cast(f.type))
            return df
        if self.path is not None:
            from .sources.readers import read_parquet

            df = read_parquet(spark, self.path)
            if start_time is not None or end_time is not None:
                # immutable parquet has a single implicit commit; honor
                # event-time bounds when an event_time column exists
                if self.event_time:
                    col = F.col(self.event_time)
                    if start_time is not None:
                        df = df.where(
                            col > F.timestamp_millis(F.lit(start_time))
                        )
                    if end_time is not None:
                        df = df.where(
                            col <= F.timestamp_millis(F.lit(end_time))
                        )
            return df
        raise ValueError(f"Feature group {self.name!r} has no storage bound")

    def insert_stream(self, df: DataFrame, **kw):
        from .streaming.insert_stream import insert_stream

        return insert_stream(self, df, **kw)


class ExternalFeatureGroup(FeatureGroupBase):
    """On-demand feature group: a query or path against an external
    connector, evaluated at read time (parity ``feature_group.py:3569``,
    registered as temp view at ``engine/spark.py:195-209``)."""

    def __init__(
        self,
        name: str,
        storage_connector,
        query: Optional[str] = None,
        path: Optional[str] = None,
        data_format: Optional[str] = None,
        options: Optional[Dict[str, str]] = None,
        **kw,
    ) -> None:
        super().__init__(name, **kw)
        self.storage_connector = storage_connector
        self.query = query
        self.path = path
        self.data_format = data_format
        self.options = options or {}
        if not self._features:
            # deferred schema from the external source: paid only when
            # a projection actually needs the feature list
            def _load():
                from .session import get_spark

                return [
                    Feature(f.name, f.dataType)
                    for f in self.read_source(get_spark()).schema.fields
                ]

            self.set_features_loader(_load)

    def read_source(
        self, spark, start_time=None, end_time=None, filters=None,
        columns=None,
    ) -> DataFrame:
        return self.storage_connector.read(
            spark,
            query=self.query,
            data_format=self.data_format,
            options=self.options,
            path=self.path,
            filters=filters,
            columns=columns,
        )

    @property
    def location(self) -> Optional[str]:
        """Managed home for the ONLINE materialization only — external
        groups keep their offline data in the external system, but an
        online-enabled one needs somewhere local for its latest-per-key
        store (the reference's analogue is the Hopsworks online store
        the external data gets inserted into)."""
        fs = self._feature_store
        if fs is None or fs.root is None:
            return None
        return os.path.join(fs.root, f"_external_{self.name}_{self.version}")

    def insert(self, df: DataFrame) -> None:
        """ONLINE-ONLY ingest (parity ``feature_group.py`` external
        ``insert``: offline values live in the external system; this
        populates the online store so the group can serve real-time
        feature vectors — single entry per primary key, newest wins)."""
        if not self.online_enabled:
            raise ValueError(
                f"External feature group {self.name!r} is not "
                "online_enabled; its offline data lives in the external "
                "system and insert() only populates the online store"
            )
        if self.location is None:
            raise ValueError(
                "Online ingest for an external group needs a store-backed "
                "group (create it via FeatureStore.create_external_"
                "feature_group on a store with a root)"
            )
        from .online.store import OnlineStore

        OnlineStore.for_feature_group(self).upsert(df)


class SpineGroup(FeatureGroupBase):
    """An ephemeral user DataFrame carrying only pk/event-time metadata —
    the left side of point-in-time joins (parity
    ``feature_group.py:4108``, ``constructor/fs_query.py:96-111``)."""

    def __init__(
        self,
        name: str,
        dataframe: DataFrame,
        primary_key: Sequence[str] = (),
        event_time: Optional[str] = None,
        **kw,
    ) -> None:
        super().__init__(
            name, primary_key=primary_key, event_time=event_time, **kw
        )
        self._dataframe = dataframe
        if not self._features:
            self.set_features(
                [Feature(f.name, f.dataType) for f in dataframe.schema.fields]
            )

    @property
    def dataframe(self) -> DataFrame:
        return self._dataframe

    def read_source(
        self, spark, start_time=None, end_time=None, filters=None,
        columns=None,
    ) -> DataFrame:
        return self._dataframe


class FeatureGroupWriter:
    """Context manager for chunked inserts (parity
    ``feature_group_writer.py``): buffers each part via
    ``FeatureGroup.multi_part_insert`` and finalizes — one commit for
    the whole batch — on clean context exit.

    Exception semantics differ from the reference DELIBERATELY: there,
    each ``insert`` has already transmitted its rows, so exit-flush
    merely closes the batch. Here the physical write happens at
    finalize, so flushing after a mid-body exception would persist a
    silently partial commit — instead the buffer is DISCARDED and the
    exception propagates (nothing written, the all-or-nothing contract
    a buffering writer should honor)."""

    def __init__(self, feature_group: FeatureGroup) -> None:
        self._feature_group = feature_group

    def insert(self, df: DataFrame, operation: str = "upsert"):
        return self._feature_group.multi_part_insert(df, operation=operation)

    def __enter__(self) -> "FeatureGroupWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._feature_group._multi_part_parts = []
            self._feature_group._multi_part_operation = None
            return  # propagate: aborted loop must not commit partial parts
        self._feature_group.finalize_multi_part_insert()
