"""Crash windows of the one directory swap (``storage.replace_dir``).

Compaction, compaction by key, subject erasure and the upsert sink each
replace a directory whole. Every case below makes the rename of the
staged directory onto the live one fail, which is the state a crash
between the swap's two renames leaves, then runs that path's own
recovery and checks that rows, offsets and watermarks read as they did
before the call.
"""

from __future__ import annotations

import os

import pytest


class _Crash(RuntimeError):
    """Stands in for a process dying mid-swap."""


def _fail_rename_onto(m, live):
    """Make the first rename onto ``live`` raise ``_Crash``; returns the
    list of the renames it failed."""
    real = os.rename
    failed = []

    def rename(src, dst, *args, **kwargs):
        if not failed and os.path.normpath(os.fspath(dst)) == os.path.normpath(live):
            failed.append((os.fspath(src), os.fspath(dst)))
            raise _Crash(f"injected crash renaming onto {dst}")
        return real(src, dst, *args, **kwargs)

    m.setattr(os, "rename", rename)
    return failed


def _keyed(n, ts0=1_700_000_000_000):
    keys = [b"alice", b"bob", b"carol", None]
    return [
        {"key": keys[i % 4], "value": f"v{ts0}-{i}".encode(), "timestamp": ts0 + i}
        for i in range(n)
    ]


class _TopicCase:
    """A one-partition topic of several files; state = the partition's
    rows, its watermark triple and a point read at the low watermark."""

    topic = "swap"

    def __init__(self, spark, tmp_path):
        from flyq_spark import storage
        from flyq_spark.engine import FlyQEngine

        self.engine = FlyQEngine(spark, str(tmp_path / "broker"))
        self.engine.create_topic(self.topic, partitions=1)
        for i in range(3):
            self.engine.produce(self.topic, _keyed(8, ts0=1_700_000_000_000 + 1000 * i))
        self.live = storage.partition_dir(self.engine.base_dir, self.topic, 0)

    def state(self):
        eng, t = self.engine, self.topic
        rows = sorted(tuple(r) for r in eng.read_from_offset(t, 0, 0))
        watermark = eng.get_watermark(t, 0)
        return rows, watermark, eng.consume(t, 0, watermark[0])


class _Compact(_TopicCase):
    def call(self):
        self.engine.compact_partition(self.topic, 0)

    def recover(self):
        self.engine.repair_topic(self.topic)


class _CompactByKey(_Compact):
    def call(self):
        self.engine.compact_partition_by_key(self.topic, 0)


class _EraseSubject(_TopicCase):
    def call(self):
        self.engine.erase_subject([b"alice"], [self.topic])

    def recover(self):
        # the next erasure, of a subject with no records
        self.engine.erase_subject([b"nobody"], [self.topic])


class _UpsertSink:
    """A two-batch snapshot; the recovery is the next batch, an
    at-least-once redelivery of batch 0 that changes nothing."""

    schema = "k long, v string, ts long, op string"

    def __init__(self, spark, tmp_path):
        from flyq_spark.streaming.sink import upsert_sink

        self.spark = spark
        self.live = str(tmp_path / "snapshot")
        self.sink = upsert_sink(self.live, ("k",), "ts")
        self.sink(self._batch0(), 0)

    def _batch0(self):
        return self.spark.createDataFrame(
            [(1, "a", 10, "u"), (2, "b", 10, "u"), (3, "c", 10, "u")], self.schema
        )

    def state(self):
        return sorted(tuple(r) for r in self.spark.read.parquet(self.live).collect())

    def call(self):
        batch = self.spark.createDataFrame([(1, "a2", 20, "u"), (2, None, 20, "d")], self.schema)
        self.sink(batch, 1)

    def recover(self):
        self.sink(self._batch0(), 0)


@pytest.mark.parametrize(
    "case",
    [_Compact, _CompactByKey, _EraseSubject, _UpsertSink],
    ids=["compact_partition", "compact_partition_by_key", "erase_subject", "upsert_sink"],
)
def test_failed_swap_in_recovers_prior_state(spark, tmp_path, monkeypatch, case):
    c = case(spark, tmp_path)
    before = c.state()
    with monkeypatch.context() as m, pytest.raises(RuntimeError):
        failed = _fail_rename_onto(m, c.live)
        c.call()
    assert len(failed) == 1, "the swap never renamed a directory onto the live one"
    assert not os.path.isdir(c.live)  # the crash window: live renamed away
    c.recover()
    assert c.state() == before
