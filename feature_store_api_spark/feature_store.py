"""FeatureStore: the registry / entry point.

Parity: ``/root/reference/python/hsfs/feature_store.py:120-1725``
(``create_feature_group`` :489, ``sql`` :426,
``get_or_create_spine_group`` :1064). Instead of a remote metadata
service, registration is an in-process catalog persisted per store
root directory; storage is Spark-native (parquet commit store).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .feature import Feature, autofix_feature_name
from .feature_group import ExternalFeatureGroup, FeatureGroup, SpineGroup


class FeatureStore:
    def __init__(self, root: Optional[str] = None, name: str = "default") -> None:
        self.name = name
        self.root = root  # directory for managed feature groups
        self._registry: Dict[tuple, FeatureGroup] = {}
        self._views: Dict[tuple, object] = {}

    # -- registration ------------------------------------------------------
    def create_feature_group(
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
        precombine_key: Optional[str] = None,
        stream: bool = False,
        transformation_functions: Sequence = (),
        auto_compact_every: Optional[int] = 10,
        statistics_config=None,
        embedding_index=None,
        max_staleness=None,
        cluster_by: Sequence[str] = (),
        time_travel_format: str = "COMMITLOG",
    ) -> FeatureGroup:
        name = autofix_feature_name(name)
        location = None
        if path is None:
            if self.root is None:
                raise ValueError(
                    "FeatureStore has no root directory; pass path= for an "
                    "unmanaged parquet-backed feature group"
                )
            location = os.path.join(self.root, f"{name}_{version}")
        fg = FeatureGroup(
            name,
            version=version,
            primary_key=primary_key,
            partition_key=partition_key,
            event_time=event_time,
            features=features,
            description=description,
            online_enabled=online_enabled,
            path=path,
            location=location,
            precombine_key=precombine_key,
            stream=stream,
            transformation_functions=transformation_functions,
            auto_compact_every=auto_compact_every,
            statistics_config=statistics_config,
            embedding_index=embedding_index,
            max_staleness=max_staleness,
            cluster_by=cluster_by,
            time_travel_format=time_travel_format,
        )
        fg._feature_store = self  # provenance + log-FG resolution backref
        self._registry[(name, version)] = fg
        if location is not None:
            # persist metadata so a fresh FeatureStore over the same root
            # can rehydrate the group (the reference keeps this in its
            # metadata service; ours is a sidecar JSON)
            import json

            os.makedirs(location, exist_ok=True)
            meta = {
                "name": name,
                "version": version,
                "primary_key": list(primary_key),
                "partition_key": list(partition_key),
                "event_time": event_time,
                "description": description,
                "online_enabled": online_enabled,
                "precombine_key": precombine_key,
                "stream": stream,
                "max_staleness": max_staleness,
                "cluster_by": list(cluster_by),
                "time_travel_format": fg.time_travel_format,
                "auto_compact_every": auto_compact_every,
                "transformation_functions": [
                    t.to_dict() for t in transformation_functions
                ],
                "statistics_config": (
                    statistics_config.to_dict() if statistics_config else None
                ),
                "embedding_index": (
                    embedding_index.to_dict() if embedding_index else None
                ),
            }
            with open(os.path.join(location, "_fg_meta.json"), "w") as fh:
                json.dump(meta, fh, indent=1)
        return fg

    def get_feature_group(self, name: str, version: int = 1) -> FeatureGroup:
        key = (autofix_feature_name(name), version)
        if key not in self._registry:
            fg = self._rehydrate_feature_group(*key)
            if fg is None:
                raise KeyError(f"Feature group {key} not registered")
            self._registry[key] = fg
        return self._registry[key]

    def _rehydrate_feature_group(self, name: str, version: int):
        if self.root is None:
            return None
        location = os.path.join(self.root, f"{name}_{version}")
        meta_path = os.path.join(location, "_fg_meta.json")
        if not os.path.exists(meta_path):
            return None
        import json

        with open(meta_path) as fh:
            meta = json.load(fh)
        from .functions.udf import TransformationFunction
        from .embedding import EmbeddingIndex
        from .operators.statistics import StatisticsConfig

        fg = FeatureGroup(
            meta["name"],
            version=meta["version"],
            primary_key=meta["primary_key"],
            partition_key=meta["partition_key"],
            event_time=meta["event_time"],
            description=meta.get("description", ""),
            online_enabled=meta.get("online_enabled", False),
            location=location,
            precombine_key=meta.get("precombine_key"),
            stream=meta.get("stream", False),
            max_staleness=meta.get("max_staleness"),
            cluster_by=meta.get("cluster_by", ()),
            time_travel_format=meta.get("time_travel_format", "COMMITLOG"),
            transformation_functions=[
                TransformationFunction.from_dict(t)
                for t in meta.get("transformation_functions", [])
            ],
            auto_compact_every=meta.get("auto_compact_every", 10),
            statistics_config=StatisticsConfig.from_dict(
                meta.get("statistics_config")
            ),
            embedding_index=EmbeddingIndex.from_dict(
                meta.get("embedding_index")
            ),
        )
        fg._feature_store = self
        fg.deprecated = bool(meta.get("deprecated", False))

        if meta.get("features"):
            # declared schema recorded (append_features evolution) wins
            fg.set_features(
                [
                    Feature(
                        f["name"], f["type"],
                        default_value=f.get("default_value"),
                        description=f.get("description"),
                    )
                    for f in meta["features"]
                ]
            )
            return fg

        def _schema_from_data():
            # declared schema lives in the written data; resolve lazily
            # on first feature access via the active session's snapshot
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    f"Rehydrating feature group {fg.name!r} schema needs an "
                    "active SparkSession"
                )
            return [
                Feature(f.name, f.dataType)
                for f in fg.read_source(spark).schema.fields
            ]

        fg.set_features_loader(_schema_from_data)
        return fg

    def get_or_create_feature_group(self, name: str, version: int = 1, **kw) -> FeatureGroup:
        try:
            return self.get_feature_group(name, version)
        except KeyError:
            return self.create_feature_group(name, version=version, **kw)

    def get_feature_groups(self, name: str) -> List[FeatureGroup]:
        """All versions of a named feature group, ascending (parity
        ``feature_store.py:168``): registered versions plus any managed
        ``<name>_<version>`` directory under the store root."""
        name = autofix_feature_name(name)
        versions = {v for (n, v) in self._registry if n == name}
        if self.root and os.path.isdir(self.root):
            for d in os.listdir(self.root):
                if d.startswith(f"{name}_") and d[len(name) + 1 :].isdigit():
                    if os.path.exists(os.path.join(self.root, d, "_fg_meta.json")):
                        versions.add(int(d[len(name) + 1 :]))
        return [self.get_feature_group(name, v) for v in sorted(versions)]

    def get_model_registry(self):
        """The store-rooted local model registry (parity: the reference
        connection's ``get_model_registry()``; ours is JSON sidecars
        under ``<root>/_models`` — see model_registry.py)."""
        from .model_registry import ModelRegistry

        return ModelRegistry(self.root)

    def get_feature_views(self, name: str) -> List:
        """All versions of a named feature view, ascending (parity
        ``feature_store.py:1725``): registered plus persisted views."""
        name = autofix_feature_name(name)
        versions = {v for (n, v) in self._views if n == name}
        if self.root:
            vdir = os.path.join(self.root, "_feature_views")
            if os.path.isdir(vdir):
                for f in os.listdir(vdir):
                    stem = f[: -len(".json")] if f.endswith(".json") else None
                    if stem and stem.startswith(f"{name}_") and stem[len(name) + 1 :].isdigit():
                        versions.add(int(stem[len(name) + 1 :]))
        return [self.get_feature_view(name, v) for v in sorted(versions)]

    def delete_feature_group(self, name: str, version: int = 1) -> None:
        """Drop a feature group: registry entry and, for managed groups,
        every stored artifact (data, commit log, online store,
        statistics, validation reports)."""
        import shutil

        key = (autofix_feature_name(name), version)
        fg = self._registry.pop(key, None)
        location = (
            fg.location
            if fg is not None
            else (
                os.path.join(self.root, f"{key[0]}_{version}")
                if self.root
                else None
            )
        )
        if location and os.path.isdir(location):
            shutil.rmtree(location, ignore_errors=True)

    def get_or_create_feature_view(self, name: str, query=None, version: int = 1, **kw):
        """Parity ``feature_store.py`` ``get_or_create_feature_view``."""
        try:
            return self.get_feature_view(name, version)
        except KeyError:
            if query is None:
                raise ValueError(
                    f"Feature view {name!r} v{version} does not exist and "
                    "no query was given to create it"
                )
            return self.create_feature_view(name, query, version=version, **kw)

    def get_or_create_spine_group(
        self,
        name: str,
        dataframe: DataFrame,
        primary_key: Sequence[str] = (),
        event_time: Optional[str] = None,
        version: int = 1,
    ) -> SpineGroup:
        return SpineGroup(
            name,
            dataframe,
            primary_key=primary_key,
            event_time=event_time,
            version=version,
        )

    def create_external_feature_group(self, name: str, storage_connector, **kw) -> ExternalFeatureGroup:
        fg = ExternalFeatureGroup(name, storage_connector, **kw)
        fg._feature_store = self
        self._registry[(fg.name, fg.version)] = fg
        return fg

    # deprecated-name aliases (parity feature_store.py
    # create_on_demand_feature_group / get_on_demand_feature_group(s) —
    # the reference keeps both names; "external" is current)
    def create_on_demand_feature_group(self, name, storage_connector, **kw):
        return self.create_external_feature_group(name, storage_connector, **kw)

    def get_external_feature_group(self, name: str, version: int = 1) -> ExternalFeatureGroup:
        fg = self.get_feature_group(name, version)
        if not isinstance(fg, ExternalFeatureGroup):
            raise TypeError(f"{name!r} v{version} is not an external feature group")
        return fg

    def get_on_demand_feature_group(self, name: str, version: int = 1):
        """Deprecated reference alias (feature_store.py
        get_on_demand_feature_group) for external feature groups."""
        return self.get_external_feature_group(name, version)

    def get_on_demand_feature_groups(self, name: str):
        return self.get_external_feature_groups(name)

    def get_external_feature_groups(self, name: str) -> List[ExternalFeatureGroup]:
        name = autofix_feature_name(name)
        return [
            self._registry[k]
            for k in sorted(self._registry)
            if k[0] == name and isinstance(self._registry[k], ExternalFeatureGroup)
        ]

    get_on_demand_feature_group = get_external_feature_group
    get_on_demand_feature_groups = get_external_feature_groups

    # -- storage connectors (parity feature_store.py get_storage_connector
    # / get_online_storage_connector: the reference resolves named
    # connectors from its metadata service; ours is a store-level
    # registry) ------------------------------------------------------------
    def register_storage_connector(self, connector) -> None:
        if not hasattr(self, "_connectors"):
            self._connectors: Dict[str, object] = {}
        self._connectors[connector.name] = connector

    def get_storage_connector(self, name: str):
        reg = getattr(self, "_connectors", {})
        if name not in reg:
            raise KeyError(f"No storage connector {name!r} registered")
        return reg[name]

    def get_online_storage_connector(self):
        """The connector serving the online store. Our online store is
        the local LSM materialization, not a JDBC service — there is no
        connector object to return, and fabricating one would invite
        code that cannot work offline."""
        raise NotImplementedError(
            "The online store is the engine's built-in latest-per-key "
            "materialization (online/store.py); no JDBC connector exists"
        )

    # -- transformation-function registry (parity feature_store.py
    # create_transformation_function / get_transformation_function(s):
    # named, versioned, persisted UDF sources) -----------------------------
    def _tf_dir(self) -> Optional[str]:
        if self.root is None:
            return None
        return os.path.join(self.root, "_transformation_functions")

    def create_transformation_function(self, fn, version: int = 1):
        """Register (and persist) a named transformation function."""
        import json

        key = (fn.name, version)
        if not hasattr(self, "_transformation_fns"):
            self._transformation_fns: Dict[tuple, object] = {}
        self._transformation_fns[key] = fn
        d = self._tf_dir()
        if d is not None:
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{fn.name}_{version}.json"), "w") as fh:
                json.dump(fn.to_dict(), fh, indent=1)
        return fn

    def get_transformation_function(self, name: str, version: int = 1):
        import json

        key = (name, version)
        mem = getattr(self, "_transformation_fns", {})
        if key in mem:
            return mem[key]
        d = self._tf_dir()
        p = os.path.join(d, f"{name}_{version}.json") if d else None
        if p and os.path.exists(p):
            from .functions.udf import TransformationFunction

            with open(p) as fh:
                fn = TransformationFunction.from_dict(json.load(fh))
            mem[key] = fn
            self._transformation_fns = mem
            return fn
        raise KeyError(f"No transformation function {name!r} v{version}")

    def get_transformation_functions(self) -> List:
        """Every registered transformation function (parity
        ``get_transformation_functions``)."""
        import json

        out = dict(getattr(self, "_transformation_fns", {}))
        d = self._tf_dir()
        if d and os.path.isdir(d):
            from .functions.udf import TransformationFunction

            for f in sorted(os.listdir(d)):
                if f.endswith(".json"):
                    stem, _, ver = f[:-5].rpartition("_")
                    key = (stem, int(ver)) if ver.isdigit() else (f[:-5], 1)
                    if key not in out:
                        with open(os.path.join(d, f)) as fh:
                            out[key] = TransformationFunction.from_dict(
                                json.load(fh)
                            )
        return [out[k] for k in sorted(out)]

    # -- feature views (parity feature_store.py:1476 create_feature_view /
    # get_feature_view; persisted as JSON under the store root so a view
    # — query tree, filters, labels, transformation sources — survives
    # process restarts) ----------------------------------------------------
    def _view_path(self, name: str, version: int) -> Optional[str]:
        if self.root is None:
            return None
        return os.path.join(self.root, "_feature_views", f"{name}_{version}.json")

    def create_feature_view(self, name: str, query, version: int = 1, **kw):
        from .feature_view import FeatureView

        name = autofix_feature_name(name)
        fv = FeatureView(name, query, version=version, **kw)
        fv._feature_store = self
        self._views[(name, version)] = fv
        path = self._view_path(name, version)
        if path is not None:
            import json

            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump(fv.to_dict(), fh, indent=1)
        return fv

    def delete_feature_view(self, name: str, version: int = 1) -> None:
        key = (autofix_feature_name(name), version)
        self._views.pop(key, None)
        path = self._view_path(*key)
        if path is not None and os.path.exists(path):
            os.remove(path)

    def get_feature_view(self, name: str, version: int = 1):
        from .feature_view import FeatureView

        key = (autofix_feature_name(name), version)
        if key in self._views:
            return self._views[key]
        path = self._view_path(*key)
        if path is not None and os.path.exists(path):
            import json

            with open(path) as fh:
                fv = FeatureView.from_dict(json.load(fh), self)
            fv._feature_store = self
            self._views[key] = fv
            return fv
        raise KeyError(f"Feature view {key} not registered")

    # -- legacy store-level TrainingDataset API (parity
    # feature_store.py:337,376,1207 — deprecated there in favor of
    # feature views; thin aliases kept so legacy callers keep running) ----
    def create_training_dataset(self, name: str, version=None, **kw):
        """Deprecated (reference deprecates it too): lazy legacy TD
        object; call ``.save(query_or_df)`` to materialize. Prefer
        ``FeatureView.create_training_dataset``."""
        from . import training_dataset as _td

        return _td.create_training_dataset(self, name, version=version, **kw)

    def get_training_dataset(self, name: str, version=None):
        from . import training_dataset as _td

        return _td.get_training_dataset(self, name, version=version)

    def get_training_datasets(self, name: str):
        from . import training_dataset as _td

        return _td.get_training_datasets(self, name)

    # -- ad-hoc SQL (parity feature_store.py:426) --------------------------
    def sql(
        self,
        query: str,
        spark: Optional[SparkSession] = None,
        online: bool = False,
    ) -> DataFrame:
        """Ad-hoc SQL over registered feature groups (parity
        ``feature_store.py:426``). ``online=True`` binds each
        online-enabled group's view to its ONLINE latest-per-key state
        (the reference routes the query to its online DB instead)."""
        from .session import get_spark

        spark = spark or get_spark()
        for (name, version), fg in self._registry.items():
            if online and not getattr(fg, "online_enabled", False):
                # An online query must never silently serve OFFLINE
                # history: drop any temp view a previous offline
                # fs.sql() bound under this name, so referencing a
                # non-online group fails with TABLE_OR_VIEW_NOT_FOUND
                # instead of returning full history.
                spark.catalog.dropTempView(f"{name}_{version}")
                if version == 1:
                    spark.catalog.dropTempView(name)
                continue
            if online:
                from .online.store import OnlineStore

                df = OnlineStore.for_feature_group(fg).read(spark)
            else:
                df = fg.read_source(spark)
            df.createOrReplaceTempView(f"{name}_{version}")
            if version == 1:
                df.createOrReplaceTempView(name)
        return spark.sql(query)


# ---------------------------------------------------------------------------
# Test-data catalog: the TPC-H-ish tables as parquet-backed feature groups
# ---------------------------------------------------------------------------

_TPCH_META = {
    # name: (primary_key, event_time)
    "region": (["r_regionkey"], None),
    "nation": (["n_nationkey"], None),
    "customer": (["c_custkey"], None),
    "supplier": (["s_suppkey"], None),
    "part": (["p_partkey"], None),
    "orders": (["o_orderkey"], "o_orderdate"),
    "lineitem": (["l_orderkey", "l_linenumber"], "l_shipdate"),
    "events": (["event_id"], "ts"),
    "documents": (["doc_id"], None),
    "embeddings": (["vec_id"], None),
}


def testdata_catalog(spark: SparkSession, sf_dir: str) -> FeatureStore:
    """Bind the driver's synthetic tables (TESTDATA.md) as feature groups.

    Schemas resolve LAZILY on first feature access — each harness
    subprocess builds a catalog but touches only the tables its query
    uses — through ``read_parquet``, whose memoized plans keep their
    schema; primary keys follow FIXTURES.md §F6.
    """
    from .sources.readers import read_parquet

    def _loader(path: str):
        def load():
            return [
                Feature(f.name, f.dataType)
                for f in read_parquet(spark, path).schema.fields
            ]

        return load

    fs = FeatureStore(name=f"testdata:{sf_dir}")
    for name, (pk, et) in _TPCH_META.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        fg = FeatureGroup(name, primary_key=pk, event_time=et, path=path)
        fg.set_features_loader(_loader(path))
        fs._registry[(name, 1)] = fg
    return fs
