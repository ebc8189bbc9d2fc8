"""Custom Python DataSource: ``spark.readStream.format("flyq")``.

The Spark 4 Python DataSource API lets the engine expose its log exactly
like the Kafka source — named format, ``startingOffsets``
(earliest | latest | {"0": 5, ...}), per-partition offset ranges as
stream offsets, exactly-once via checkpointed offset commits:

    spark.dataSource.register(FlyQDataSource)
    df = (spark.readStream.format("flyq")
          .option("base_dir", "/data/logs")
          .option("topic", "events")
          .option("startingOffsets", "earliest")
          .load())

Offsets are the engine's own (partition -> next offset to read) map —
the same numbers consumer groups commit, so a stream's checkpoint and a
batch consumer's committed offsets are interchangeable positions.

Each micro-batch is the committed range [start, end) of every partition:
``start`` is clamped at the low watermark and ``end`` is the LEO (log end
offset), so a batch never holds truncated or uncommitted records.
Positions are offsets, not file paths, so compaction cannot re-deliver.

Executor-side reads go straight to the partition's parquet files through
pyarrow with an offset-range filter (row-group stats give the same
skipping the JVM scan gets) and hand Spark Arrow record batches; the
driver never touches data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from flyq_spark import storage

# Full log-row shape (LOG_SCHEMA minus the implicit topic): headers ride
# along as array<struct<key,value>> — the reference Message carries them
# (flyq-protocol/src/message.rs:17-22) and dropping a column from the
# Kafka-shaped source would silently lose data on migration.
FLYQ_SOURCE_SCHEMA = (
    "partition int, offset bigint, key binary, value binary, "
    "timestamp timestamp, headers array<struct<key: string, value: binary>>"
)


class FlyQRangePartition(InputPartition):
    def __init__(self, pdir: str, partition: int, start: int, end: int):
        self.pdir = pdir
        self.partition = partition
        self.start = start
        self.end = end


class FlyQStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.base_dir = options.get("base_dir")
        self.topic = options.get("topic")
        if not self.base_dir or not self.topic:
            raise ValueError("flyq source requires base_dir and topic options")
        self.starting = options.get("startingOffsets", "earliest")

    # -- offset bookkeeping (driver side) ---------------------------------
    def _meta(self) -> dict:
        meta = storage.load_topic_meta(self.base_dir, self.topic)
        if meta is None:
            raise ValueError(f"unknown topic {self.topic!r} under {self.base_dir}")
        return meta

    def _leos(self) -> dict[str, int]:
        meta = self._meta()
        return {
            str(p): int(meta["log_end_offsets"].get(str(p), 0))
            for p in range(int(meta["partitions"]))
        }

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return self._leos()
        if self.starting == "earliest":
            meta = self._meta()
            return {
                str(p): int(meta["low_watermarks"].get(str(p), 0))
                for p in range(int(meta["partitions"]))
            }
        explicit = json.loads(self.starting)
        return {str(p): int(o) for p, o in explicit.items()}

    def latestOffset(self) -> dict:
        # Spark takes a batch's end as the next batch's start, so an end
        # below an explicit start past the LEO would rewind the stream
        start = self.initialOffset()
        return {p: max(leo, start.get(p, 0)) for p, leo in self._leos().items()}

    def partitions(self, start: dict, end: dict):
        # clamp at the low watermark: delete_records is a logical
        # truncation (a file straddling the cutoff keeps its lower rows on
        # disk), the same rule as engine._clamped_start
        low = self._meta()["low_watermarks"]
        parts = []
        for p, end_off in end.items():
            start_off = max(int(start.get(p, 0)), int(low.get(p, 0)))
            if int(end_off) > start_off:
                parts.append(
                    FlyQRangePartition(
                        storage.partition_dir(self.base_dir, self.topic, int(p)),
                        int(p),
                        start_off,
                        int(end_off),
                    )
                )
        return parts or [FlyQRangePartition("", -1, 0, 0)]  # no-op batch

    def commit(self, end: dict) -> None:
        # positions live in the stream checkpoint; nothing engine-side to
        # persist (mirrors the Kafka source contract).
        pass

    # -- data path (executor side) ----------------------------------------
    def read(self, partition: FlyQRangePartition):
        if partition.partition < 0:
            return iter(())  # the declared no-op batch
        if not os.path.isdir(partition.pdir):
            # a REAL range always has data behind it (partitions() only
            # emits end > start); a missing dir is transient (e.g. the
            # compaction swap window) — raise so Spark retries the task.
            # Returning empty here would let the checkpoint commit past
            # offsets that were never delivered: silent data loss.
            raise FileNotFoundError(
                f"partition dir {partition.pdir} missing for range "
                f"[{partition.start}, {partition.end}) — transient "
                "(compaction swap?); task will retry"
            )
        import pyarrow as pa
        import pyarrow.dataset as ds

        dataset = ds.dataset(partition.pdir, format="parquet")
        table = dataset.to_table(
            columns=["offset", "key", "value", "timestamp", "headers"],
            filter=(ds.field("offset") >= partition.start)
            & (ds.field("offset") < partition.end),
        ).sort_by("offset")
        table = table.add_column(
            0,
            "partition",
            pa.repeat(pa.scalar(partition.partition, pa.int32()), table.num_rows),
        )
        return iter(table.to_batches(max_chunksize=8192))


class FlyQDataSource(DataSource):
    """``format("flyq")``: the engine's log as a streaming source.

    ``trigger(availableNow=True)`` is not honoured as such: on PySpark
    4.1 a Python streaming source has no ``Trigger.AvailableNow`` hook,
    so Spark falls back to one single batch, up to the LEO seen when that
    batch is planned. After a restart that finds an uncommitted batch,
    records produced since may wait for the next start."""

    @classmethod
    def name(cls) -> str:
        return "flyq"

    def schema(self) -> str:
        return FLYQ_SOURCE_SCHEMA

    def streamReader(self, schema: StructType) -> FlyQStreamReader:
        return FlyQStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(FlyQDataSource)
