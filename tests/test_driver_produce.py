"""Driver-side produce and footer-selected point reads.

List batches are routed, offset-assigned and written from the driver
with pyarrow; point consumes read the one file the footer stats select.
These tests pin both against the Spark forms they replace (``route`` +
``assign_offsets``, a ``log(topic)`` collect) and check that every
Spark reader of the log still reads the driver-written files.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from tests.conftest import make_messages


def _batch(with_seq: bool) -> list[dict]:
    """Keyed, keyless and empty-key (quirk Q1) rows, some with headers;
    keys are numeric strings so every routing method accepts them."""
    keys = [b"7", None, b"12", b"", b"-3", b"12", None, b"40", b"", b"5"]
    out = []
    for i, k in enumerate(keys):
        m = {"key": k, "value": f"v{i}".encode(), "timestamp": 1_700_000_000_000 + 17 * i}
        if i % 3 == 0:
            m["headers"] = [("h", f"x{i}".encode()), ("trace", b"\x00\x01")]
        if with_seq:
            m["seq"] = (i * 7) % len(keys)  # a permutation of list order
        out.append(m)
    return out


def _spark_reference(spark, msgs, n, method, rr_cursor, prev_leo):
    """The Spark produce plan for a list batch: seq = caller's or list
    order, _rr = keyless rank in list order."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from flyq_spark.operators.offsets import assign_offsets
    from flyq_spark.operators.routing import route
    from flyq_spark.schemas import LOG_SCHEMA, MESSAGE_SCHEMA

    rows, rank = [], 0
    for i, m in enumerate(msgs):
        keyless = m["key"] is None or len(m["key"]) == 0
        rows.append(
            Row(
                key=m["key"],
                value=m["value"],
                timestamp=datetime.fromtimestamp(m["timestamp"] / 1000.0, tz=timezone.utc),
                headers=m.get("headers"),
                seq=m.get("seq", i),
                _rr=rank if keyless else None,
            )
        )
        rank += keyless
    schema = T.StructType(
        list(MESSAGE_SCHEMA.fields)
        + [T.StructField("seq", T.LongType(), False), T.StructField("_rr", T.LongType(), True)]
    )
    df = spark.createDataFrame(rows, schema)
    assigned = assign_offsets(route(df, n, method=method, rr_cursor=rr_cursor), prev_leo)
    got = assigned.orderBy("seq").collect()
    acks = [(r["partition"], r["offset"]) for r in got]
    names = [f.name for f in LOG_SCHEMA.fields]
    return acks, [tuple(r[c] for c in names) for r in got], rank


@pytest.mark.parametrize("method", ["xxhash64", "xxh3", "mod"])
@pytest.mark.parametrize("n", [1, 4])
def test_driver_produce_matches_spark_plan(spark, tmp_path, method, n):
    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine
    from flyq_spark.schemas import LOG_SCHEMA

    eng = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=2))
    eng.create_topic("t", partitions=n)
    names = [f.name for f in LOG_SCHEMA.fields]
    want_rows = []
    for with_seq in (False, True):
        msgs = _batch(with_seq)
        meta = storage.load_topic_meta(eng.base_dir, "t")
        prev_leo = {int(p): int(o) for p, o in meta["log_end_offsets"].items()}
        acks, rows, n_keyless = _spark_reference(
            spark, msgs, n, method, meta["rr_cursor"], prev_leo
        )
        assert eng.produce("t", msgs, method=method) == acks
        assert storage.load_topic_meta(eng.base_dir, "t")["rr_cursor"] == (
            (meta["rr_cursor"] + n_keyless) % n
        )
        want_rows += rows
    by_place = lambda r: (r[-1], r[0])  # noqa: E731 — (partition, offset)
    got = sorted((tuple(r[c] for c in names) for r in eng.log("t").collect()), key=by_place)
    assert got == sorted(want_rows, key=by_place)
    for p in range(n):
        stats = storage.partition_file_stats(eng.base_dir, "t", p)
        assert all(st.num_rows <= 2 for st in stats)
        assert sum(st.num_rows for st in stats) == sum(r[-1] == p for r in want_rows)


def test_mod_routing_rejects_non_numeric_key_before_writing(engine):
    from flyq_spark import storage

    engine.create_topic("m", partitions=4)
    msgs = [
        {"key": b"3", "value": b"a", "timestamp": 1_700_000_000_000},
        {"key": b"abc", "value": b"b", "timestamp": 1_700_000_000_001},
    ]
    with pytest.raises(ValueError, match="numeric"):
        engine.produce("m", msgs, method="mod")
    assert all(
        storage.partition_file_stats(engine.base_dir, "m", p) == [] for p in range(4)
    )
    assert engine.get_watermark("m", 3) == (0, 0, 0)


def test_consume_row_equals_spark_row(engine):
    """Field by field and type by type, at every offset."""
    engine.create_topic("c", partitions=2)
    msgs = _batch(with_seq=False)
    msgs[1]["headers"] = []
    engine.produce("c", msgs)
    spark_rows = {(r["partition"], r["offset"]): r for r in engine.log("c").collect()}
    assert spark_rows
    for (p, off), want in spark_rows.items():
        got = engine.consume("c", p, off)
        assert got.__fields__ == want.__fields__
        assert got == want
        assert [type(v) for v in got] == [type(v) for v in want]
        if want["headers"]:
            assert [[type(v) for v in h] for h in got["headers"]] == [
                [type(v) for v in h] for h in want["headers"]
            ]
            assert [h.__fields__ for h in got["headers"]] == [
                h.__fields__ for h in want["headers"]
            ]


def test_consume_selects_across_spark_and_driver_files(engine, spark):
    """A partition holding Spark-written (DataFrame) and driver-written
    (list) files: every offset reads back its own record, and the
    flyq tail delivers them all."""
    from pyspark.sql import functions as F

    from flyq_spark.streaming.datasource import register

    engine.create_topic("mix", partitions=1)
    engine.produce("mix", make_messages(3))
    df = spark.range(4).select(
        F.encode(F.concat(F.lit("df"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_100_000) + F.col("id")).alias("timestamp"),
    )
    engine.produce("mix", df)
    engine.produce("mix", make_messages(2, ts0=1_700_000_200_000))
    values = [bytes(engine.consume("mix", 0, o)["value"]) for o in range(9)]
    assert values[:3] == [b"Message 0", b"Message 1", b"Message 2"]
    assert sorted(values[3:7]) == [b"df0", b"df1", b"df2", b"df3"]
    assert values[7:] == [b"Message 0", b"Message 1"]
    assert engine.consume("mix", 0, 9) is None

    register(spark)
    got = {}

    def collect(batch, _bid):
        for r in batch.collect():
            got[r["offset"]] = bytes(r["value"])

    (
        spark.readStream.format("flyq")
        .option("base_dir", engine.base_dir)
        .option("topic", "mix")
        .option("startingOffsets", "earliest")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", os.path.join(engine.base_dir, "_ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert got == dict(enumerate(values))


def test_driver_files_serve_retention_key_reads_and_compaction(engine):
    day = 86_400_000
    now = 1_700_000_000_000 + 10 * day
    engine.create_topic("r", partitions=1)
    engine.produce("r", make_messages(3, key=b"a", ts0=now - 5 * day))
    engine.produce("r", make_messages(2, key=b"b", ts0=now - 3 * day))
    engine.produce("r", make_messages(2, key=b"a", ts0=now - 1000))
    # time retention keys on the driver-written footer timestamp stats
    assert len(engine.apply_retention("r", now_ms=now, retention_ms=4 * day)) == 1
    assert engine.get_watermark("r", 0) == (3, 6, 7)
    assert [r["offset"] for r in engine.consume_by_key("r", b"a")] == [5, 6]
    before = [tuple(r) for r in engine.read_from_offset("r", 0, 0)]
    assert engine.compact_partition("r", 0) == 1
    assert [tuple(r) for r in engine.read_from_offset("r", 0, 0)] == before
    assert engine.consume("r", 0, 0)["offset"] == 3


def test_uncommitted_append_is_invisible_and_rolled_back(engine, monkeypatch):
    """A produce that dies between its file write and its meta commit
    leaves a file past LEO: reads never see it, and the next produce
    deletes it and reuses its offsets densely."""
    from flyq_spark import storage

    engine.produce("t", make_messages(3))
    real = storage.save_topic_meta
    calls = []

    def fail_once(*args):
        if not calls:
            calls.append(args)
            raise OSError("injected meta commit failure")
        return real(*args)

    monkeypatch.setattr(storage, "save_topic_meta", fail_once)
    with pytest.raises(OSError, match="injected"):
        engine.produce("t", make_messages(2, ts0=1_800_000_000_000))
    assert len(storage.partition_file_stats(engine.base_dir, "t", 0)) == 2
    assert engine.consume("t", 0, 3) is None
    assert engine.get_watermark("t", 0) == (0, 2, 3)

    assert engine.produce("t", make_messages(2)) == [(0, 3), (0, 4)]
    offsets = sorted(r["offset"] for r in engine.log("t").collect())
    assert offsets == [0, 1, 2, 3, 4]
    assert engine.consume("t", 0, 3)["timestamp"] == engine.consume("t", 0, 0)["timestamp"]


def _uncached_stats(base_dir, topic, partition):
    from flyq_spark import storage

    pdir = storage.partition_dir(base_dir, topic, partition)
    out = [
        storage.footer_stats(os.path.join(pdir, name))
        for name in os.listdir(pdir)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    ]
    out.sort(key=lambda s: (s.min_offset if s.min_offset is not None else 1 << 62, s.path))
    return out


def test_footer_cache_tracks_deletes_swaps_and_repair(engine):
    from flyq_spark import storage

    day = 86_400_000
    now = 1_700_000_000_000 + 10 * day

    def check():
        for p in range(2):
            cached = storage.partition_file_stats(engine.base_dir, "f", p)
            assert cached == _uncached_stats(engine.base_dir, "f", p)

    engine.create_topic("f", partitions=2)
    for i in range(4):
        engine.produce("f", make_messages(4, ts0=now - (5 - i) * day))
    check()
    assert engine.apply_retention("f", now_ms=now, retention_ms=3 * day)
    check()
    assert engine.delete_records("f", 0, 5) == []
    engine.compact_partition("f", 0)
    check()
    meta = storage.load_topic_meta(engine.base_dir, "f")
    meta["log_end_offsets"] = {}
    storage.save_topic_meta(engine.base_dir, "f", meta)
    engine.repair_topic("f")
    check()
    assert engine.get_watermark("f", 0) == (5, 7, 8)
