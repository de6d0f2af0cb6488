"""File-backed fake Kafka broker — a test seam for the online path.

The reference's primary online write path produces Avro-encoded rows to
Kafka and a materialization job consumes them with bounded offsets
(``/root/reference/python/hsfs/engine/spark.py:507-580`` produce,
``core/kafka_engine.py:118-142`` offset bookkeeping). No broker or
kafka jars exist in this environment, so this module gives the encode
path something real to round-trip through:

* topics are directories of parquet segments with the exact batch
  Kafka-source schema (key/value binary, topic, partition, offset,
  timestamp),
* offsets are per-partition and monotonic; ``end_offsets`` mirrors the
  consumer's ``endOffsets`` call,
* consumer groups commit offsets to a sidecar, so a bounded backfill
  job can read ``(committed, end]`` exactly like the reference's
  ``kafka_engine.get_kafka_offsets`` flow.

Swap for the real ``spark.read.format("kafka")`` source in production —
the frame shape is identical.
"""

from __future__ import annotations

import json
import os
import time
import zlib
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class FakeKafkaBroker:
    def __init__(self, root: str, num_partitions: int = 4) -> None:
        self.root = root
        self.num_partitions = num_partitions
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def _meta_path(self, topic: str) -> str:
        return os.path.join(self._topic_dir(topic), "_offsets.json")

    def _read_meta(self, topic: str) -> Dict:
        p = self._meta_path(topic)
        if not os.path.exists(p):
            return {"end": {str(i): 0 for i in range(self.num_partitions)},
                    "groups": {}}
        with open(p) as fh:
            return json.load(fh)

    def _write_meta(self, topic: str, meta: Dict) -> None:
        tmp = self._meta_path(topic) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1)
        os.replace(tmp, self._meta_path(topic))

    # -- produce -----------------------------------------------------------
    def produce(self, df: DataFrame, topic: str) -> Dict[str, int]:
        """Append a (key binary, value binary[, headers]) frame.

        Partition = crc32(key) % num_partitions (Kafka's default sticky
        partitioner hashes the key bytes; crc32 keeps it reproducible
        driver-side). Offsets continue from the topic's current end.
        Returns the new end offsets."""
        os.makedirs(self._topic_dir(topic), exist_ok=True)
        meta = self._read_meta(topic)
        base = {int(k): v for k, v in meta["end"].items()}

        part = F.pmod(F.crc32(F.col("key")), F.lit(self.num_partitions)).cast("int")
        from pyspark.sql import Window

        w = Window.partitionBy("partition").orderBy(F.col("key"))
        base_map = F.create_map(
            *[x for p, o in base.items() for x in (F.lit(p), F.lit(o))]
        )
        out = (
            df.withColumn("partition", part)
            .withColumn(
                "offset",
                base_map[F.col("partition")]
                + F.row_number().over(w)
                - F.lit(1),
            )
            .withColumn("topic", F.lit(topic))
            .withColumn("timestamp", F.lit(int(time.time() * 1000)))
        )
        cols = ["key", "value", "topic", "partition", "offset", "timestamp"]
        if "headers" in df.columns:
            cols.append("headers")
        out = out.select(cols)
        out.write.mode("append").parquet(os.path.join(self._topic_dir(topic), "log"))
        counts = {
            r["partition"]: r["n"]
            for r in df.withColumn("partition", part)
            .groupBy("partition")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for p, n in counts.items():
            base[p] = base.get(p, 0) + n
        meta["end"] = {str(p): o for p, o in base.items()}
        self._write_meta(topic, meta)
        return dict(base)

    # -- consume -----------------------------------------------------------
    def end_offsets(self, topic: str) -> Dict[int, int]:
        return {int(k): v for k, v in self._read_meta(topic)["end"].items()}

    def committed(self, topic: str, group: str) -> Dict[int, int]:
        g = self._read_meta(topic)["groups"].get(group, {})
        return {int(k): v for k, v in g.items()}

    def commit(self, topic: str, group: str, offsets: Dict[int, int]) -> None:
        meta = self._read_meta(topic)
        meta["groups"][group] = {str(k): v for k, v in offsets.items()}
        self._write_meta(topic, meta)

    def read_batch(
        self,
        spark: SparkSession,
        topic: str,
        starting_offsets: Optional[Dict[int, int]] = None,
        ending_offsets: Optional[Dict[int, int]] = None,
    ) -> DataFrame:
        """Batch read bounded by offsets — the shape of
        ``spark.read.format("kafka")`` with startingOffsets /
        endingOffsets (``core/kafka_engine.py:118-142`` bounded-backfill
        parity). Kafka convention: inclusive start, exclusive end per
        partition; start defaults to the beginning, end to the topic
        end. A committed offset is the NEXT offset to consume."""
        path = os.path.join(self._topic_dir(topic), "log")
        if not os.path.exists(path):
            raise FileNotFoundError(f"No such topic {topic!r}")
        df = spark.read.parquet(path)
        if starting_offsets:
            cond = None
            for p, o in starting_offsets.items():
                c = (F.col("partition") == p) & (F.col("offset") >= o)
                cond = c if cond is None else (cond | c)
            unseen = ~F.col("partition").isin(*starting_offsets)
            df = df.where(cond | unseen)
        if ending_offsets:
            cond = None
            for p, o in ending_offsets.items():
                c = (F.col("partition") == p) & (F.col("offset") < o)
                cond = c if cond is None else (cond | c)
            df = df.where(cond if cond is not None else F.lit(True))
        return df

    def backfill(
        self,
        spark: SparkSession,
        topic: str,
        group: str,
    ) -> DataFrame:
        """Read everything this consumer group hasn't seen, and commit
        the end offsets — one bounded materialization job (parity:
        ``materialization job with initialCheckPointString``,
        ``core/kafka_engine.py:118-142``). The commit happens on call;
        the returned frame is the bounded window."""
        start = self.committed(topic, group)
        end = self.end_offsets(topic)
        df = self.read_batch(
            spark, topic,
            starting_offsets=start or None,
            ending_offsets=end or None,
        )
        self.commit(topic, group, end)
        return df
