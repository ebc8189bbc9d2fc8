"""Driver-side produce, footer-selected point reads and the row cache.

List batches are routed, offset-assigned and written from the driver
with pyarrow; point consumes read the one file the footer stats select,
from the row cache when this process wrote it recently.
These tests pin both against the Spark forms they replace (``route`` +
``assign_offsets``, a ``log(topic)`` collect) and check that every
Spark reader of the log still reads the driver-written files.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
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


def test_uncommitted_append_is_invisible_and_rolled_back(engine, spark, monkeypatch):
    """A produce that dies between its file write and its meta commit
    leaves a file past LEO: reads, health, describe and the stream never
    see it, and the next produce deletes it and reuses its offsets
    densely."""
    from flyq_spark import storage
    from flyq_spark.streaming.source import read_stream

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
    committed, _leftover = storage.partition_file_stats(engine.base_dir, "t", 0)
    assert engine.consume("t", 0, 3) is None
    assert engine.get_watermark("t", 0) == (0, 2, 3)
    health = engine.get_partition_health("t", 0)
    assert (health["segment_count"], health["total_size_bytes"]) == (1, committed.size_bytes)
    desc = engine.describe_topic("t")
    assert (desc["total_files"], desc["total_bytes"]) == (1, committed.size_bytes)
    assert desc["partition_state"][0]["files"] == 1
    # range reads stop at LEO too; log() itself stays unbounded
    assert [r["offset"] for r in engine.read_from_offset("t", 0, 0)] == [0, 1, 2]
    assert [r["offset"] for r in engine.read_from_offset("t", 0, 2, limit=5)] == [2]
    streamed = []
    (
        read_stream(spark, engine.base_dir, "t")
        .writeStream.foreachBatch(
            lambda df, _bid: streamed.extend(r["offset"] for r in df.collect())
        )
        .option("checkpointLocation", os.path.join(engine.base_dir, "_ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert sorted(streamed) == [0, 1, 2]
    assert engine.log("t").count() == 5

    assert engine.produce("t", make_messages(2)) == [(0, 3), (0, 4)]
    offsets = sorted(r["offset"] for r in engine.log("t").collect())
    assert offsets == [0, 1, 2, 3, 4]
    assert engine.consume("t", 0, 3)["timestamp"] == engine.consume("t", 0, 0)["timestamp"]


def test_mirror_copies_only_committed_records(engine, spark, tmp_path, monkeypatch):
    """A crashed produce's leftover file past the source LEO is never
    mirrored: the mirror keeps the source's watermark triple and serves
    only the acked records."""
    from flyq_spark import storage
    from flyq_spark.engine import FlyQEngine

    engine.create_topic("m", partitions=1)
    engine.produce("m", make_messages(5))
    real = storage.save_topic_meta

    def fail(*args):
        raise OSError("injected meta commit failure")

    monkeypatch.setattr(storage, "save_topic_meta", fail)
    with pytest.raises(OSError, match="injected"):
        engine.produce("m", make_messages(2, ts0=1_800_000_000_000))
    monkeypatch.setattr(storage, "save_topic_meta", real)
    leftover = storage.partition_file_stats(engine.base_dir, "m", 0)[-1]
    assert (leftover.min_offset, leftover.max_offset) == (5, 6)
    assert engine.get_watermark("m", 0) == (0, 4, 5)

    mirror = FlyQEngine(spark, str(tmp_path / "mirror"))
    meta = mirror.mirror_topic(engine, "m")
    assert meta["log_end_offsets"] == {"0": 5}
    assert mirror.get_watermark("m", 0) == (0, 4, 5)
    assert sorted(r["offset"] for r in mirror.log("m").collect()) == [0, 1, 2, 3, 4]
    assert mirror.consume("m", 0, 5) is None


def _uncached_stats(base_dir, topic, partition):
    from flyq_spark import storage

    pdir = storage.partition_dir(base_dir, topic, partition)
    if not os.path.isdir(pdir):
        return []
    out = [
        storage.footer_stats(os.path.join(pdir, name))
        for name in os.listdir(pdir)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    ]
    out.sort(key=lambda s: (s.min_offset if s.min_offset is not None else 1 << 62, s.path))
    return out


@contextmanager
def _within_one_mtime_tick(base_dir, topic):
    """Run in-process changes as if the directory mtime were too coarse
    to show them: every partition directory's mtime is set back
    afterwards. Only the engine's own index updates can then keep the
    segment index current."""
    from flyq_spark import storage

    tdir = storage.topic_dir(base_dir, topic)
    before = {}
    for name in os.listdir(tdir):
        if name.startswith("partition="):
            st = os.stat(os.path.join(tdir, name))
            before[name] = (st.st_atime_ns, st.st_mtime_ns)
    yield
    for name, ns in before.items():
        path = os.path.join(tdir, name)
        if os.path.isdir(path):
            os.utime(path, ns=ns)


def _move_mtime(path, seconds=1):
    """A foreign writer's change as seen on a coarse clock: the
    directory mtime moves, without sleeping."""
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + seconds * 1_000_000_000))


def _count_scans(monkeypatch, pdir):
    """Directory scans of ``pdir`` from here on."""
    calls = []
    real = os.scandir

    def scandir(path="."):
        if os.fspath(path) == pdir:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(os, "scandir", scandir)
    return calls


def test_footer_cache_tracks_deletes_swaps_and_repair(spark, tmp_path):
    from pyspark.sql import functions as F

    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    day = 86_400_000
    now = 1_700_000_000_000 + 10 * day
    engine = FlyQEngine(spark, str(tmp_path / "a"), EngineConfig(max_records_per_file=3))

    def check(eng=engine, topic="f"):
        for p in range(2):
            cached = storage.partition_file_stats(eng.base_dir, topic, p)
            assert cached == _uncached_stats(eng.base_dir, topic, p)

    def same_tick(eng=engine, topic="f"):
        return _within_one_mtime_tick(eng.base_dir, topic)

    engine.create_topic("f", partitions=2)
    check()
    for i in range(4):
        with same_tick():
            engine.produce("f", make_messages(4, ts0=now - (5 - i) * day))
        check()
    with same_tick():
        assert engine.apply_retention("f", now_ms=now, retention_ms=3 * day)
    check()
    with same_tick():
        assert engine.delete_records("f", 0, 5) == []
    check()
    with same_tick():
        engine.compact_partition("f", 0)
    check()
    meta = storage.load_topic_meta(engine.base_dir, "f")
    meta["log_end_offsets"] = {}
    storage.save_topic_meta(engine.base_dir, "f", meta)
    with same_tick():
        engine.repair_topic("f")
    check()
    assert engine.get_watermark("f", 0) == (5, 7, 8)

    keyed = spark.range(6).select(
        F.encode(F.concat(F.lit("k"), (F.col("id") % 2).cast("string")), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(now) + F.col("id")).alias("timestamp"),
    )
    with same_tick():
        engine.produce("f", keyed)
    check()
    with same_tick():
        engine.compact_partition_by_key("f", 1)
    check()

    mirror = FlyQEngine(spark, str(tmp_path / "b"), EngineConfig(max_records_per_file=3))
    mirror.create_topic("f", partitions=2)
    check(mirror)
    with same_tick(mirror):
        mirror.mirror_topic(engine, "f")
    check(mirror)

    with same_tick():
        engine.delete_topic("f")
    check()
    engine.create_topic("f", partitions=2)
    with same_tick():
        engine.produce("f", make_messages(2, ts0=now))
    check()


def test_write_through_stats_equal_footers(spark, tmp_path, monkeypatch):
    """Files a list produce adds enter the index from the writer's own
    footer metadata, without a directory scan, equal field by field to
    a footer read (size_bytes and max_timestamp_ms included)."""
    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    engine = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=3))
    engine.create_topic("w", partitions=2)
    engine.produce("w", _batch(with_seq=False))
    pdirs = [storage.partition_dir(engine.base_dir, "w", p) for p in range(2)]
    scans = [_count_scans(monkeypatch, pdir) for pdir in pdirs]
    micros = datetime(2024, 2, 29, 23, 59, 59, 999_999, tzinfo=timezone.utc)
    for i in range(3):
        msgs = _batch(with_seq=i == 1)
        msgs[-1]["timestamp"] = micros
        engine.produce("w", msgs)
    assert scans == [[], []]
    for p in range(2):
        stats = storage.partition_file_stats(engine.base_dir, "w", p)
        assert len(stats) >= 4
        assert stats == [storage.footer_stats(st.path) for st in stats]
        assert stats == _uncached_stats(engine.base_dir, "w", p)
    assert scans == [[], []]


def test_index_lists_once_and_sees_foreign_changes(engine, monkeypatch):
    """Warm produce/consume pairs never scan the directory; a change by
    another process (files written or removed directly, the directory
    mtime moved) is seen on the next call, with exactly one scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flyq_spark import storage

    engine.create_topic("s", partitions=1)
    engine.produce("s", make_messages(3))
    assert engine.consume("s", 0, 0)["offset"] == 0
    pdir = storage.partition_dir(engine.base_dir, "s", 0)
    scans = _count_scans(monkeypatch, pdir)
    for i in range(200):
        [(_, off)] = engine.produce("s", make_messages(1, ts0=1_700_000_000_000 + i))
        assert engine.consume("s", 0, off)["offset"] == off
    assert engine.get_partition_health("s", 0)["segment_count"] == 201
    assert scans == []

    # another process appends offsets 203..204 and commits them
    foreign = {
        "offset": [203, 204],
        "key": [None, b"f"],
        "value": [b"foreign0", b"foreign1"],
        "timestamp": [1_800_000_000_000_000, 1_800_000_000_000_001],
        "headers": [None, None],
    }
    pq.write_table(
        pa.Table.from_pydict(foreign, schema=storage.LOG_ARROW_SCHEMA),
        os.path.join(pdir, "part-foreign.parquet"),
    )
    meta = storage.load_topic_meta(engine.base_dir, "s")
    meta["log_end_offsets"]["0"] = 205
    storage.save_topic_meta(engine.base_dir, "s", meta)
    _move_mtime(pdir)
    assert bytes(engine.consume("s", 0, 204)["value"]) == b"foreign1"
    assert len(scans) == 1
    assert bytes(engine.consume("s", 0, 203)["value"]) == b"foreign0"
    assert storage.partition_file_stats(engine.base_dir, "s", 0) == _uncached_stats(
        engine.base_dir, "s", 0
    )
    assert len(scans) == 1

    # another process removes the oldest file
    oldest = storage.partition_file_stats(engine.base_dir, "s", 0)[0]
    os.remove(oldest.path)
    _move_mtime(pdir, seconds=2)
    stats = storage.partition_file_stats(engine.base_dir, "s", 0)
    assert oldest not in stats
    assert stats == _uncached_stats(engine.base_dir, "s", 0)
    assert len(scans) == 2


def test_index_rescan_never_overwrites_a_newer_write(engine, monkeypatch):
    """A reader's rescan of a stale index and a produce interleave: the
    produce lands between the reader's identity read and its publish,
    within one mtime tick. The reader returns its older listing, but
    must not publish it over the produce's index: the next listing
    holds the new file and consume finds its offset."""
    from flyq_spark import storage

    engine.create_topic("c", partitions=1)
    engine.produce("c", make_messages(2))
    pdir = storage.partition_dir(engine.base_dir, "c", 0)
    storage.invalidate_index(engine.base_dir, "c", 0)
    real = os.scandir
    acks = []

    def scandir(path="."):
        entries = list(real(path))
        if os.fspath(path) == pdir and not acks:
            acks.append(None)  # the produce's own listings pass through
            with _within_one_mtime_tick(engine.base_dir, "c"):
                acks[:] = engine.produce("c", make_messages(1, ts0=1_800_000_000_000))
        return iter(entries)

    monkeypatch.setattr(os, "scandir", scandir)
    reader = storage.partition_file_stats(engine.base_dir, "c", 0)
    assert acks == [(0, 2)]
    assert [st.min_offset for st in reader] == [0]
    monkeypatch.setattr(os, "scandir", real)

    stats = storage.partition_file_stats(engine.base_dir, "c", 0)
    assert [st.min_offset for st in stats] == [0, 2]
    assert stats == _uncached_stats(engine.base_dir, "c", 0)
    assert engine.consume("c", 0, 2)["offset"] == 2


def _linear_consume(engine, topic, partition, offset):
    """Reference point read: walk every file of the partition from the
    oldest, from a fresh footer read of the directory."""
    from flyq_spark import storage
    from flyq_spark.engine import _log_row

    low, _, leo = engine.get_watermark(topic, partition)
    start = max(int(offset), low)
    if start >= leo:
        return None
    best = None
    for st in _uncached_stats(engine.base_dir, topic, partition):
        if st.min_offset is not None:
            if st.min_offset >= leo or (best is not None and st.min_offset > best["offset"]):
                break
            if st.max_offset < start:
                continue
        table = storage.read_offset_range(st.path, start, leo)
        for row in table.to_pylist():
            if best is None or row["offset"] < best["offset"]:
                best = row
    return None if best is None else _log_row(best, partition)


def test_seek_matches_linear_walk_on_every_layout(spark, tmp_path):
    """The bisect seek equals the linear walk at every start offset, on
    the layouts each writer leaves: driver files split by
    max_records_per_file, Spark DataFrame files, a straddling
    delete_records, compaction-by-key gaps and retention."""
    from pyspark.sql import functions as F

    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    day = 86_400_000
    now = 1_700_000_000_000 + 10 * day
    engine = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=3))
    engine.create_topic("k", partitions=2)

    def check(layout):
        for p in range(2):
            _, _, leo = engine.get_watermark("k", p)
            for off in range(-1, leo + 2):
                assert engine.consume("k", p, off) == _linear_consume(engine, "k", p, off), (
                    layout, p, off,
                )

    def keyed(n, ts0):
        return [
            {"key": f"key{i % 3}".encode(), "value": f"v{ts0}-{i}".encode(), "timestamp": ts0 + i}
            for i in range(n)
        ]

    engine.produce("k", keyed(14, now - 6 * day))
    assert max(len(storage.partition_file_stats(engine.base_dir, "k", p)) for p in range(2)) > 2
    check("driver files")
    frame = spark.range(12).select(
        F.encode(F.concat(F.lit("key"), (F.col("id") % 3).cast("string")), "utf-8").alias("key"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(now - 5 * day) + F.col("id")).alias("timestamp"),
    )
    engine.produce("k", frame)
    engine.produce("k", keyed(8, now - 4 * day))
    engine.produce("k", keyed(9, now - 3 * day)[::3])  # key0 only: gaps elsewhere
    check("driver + Spark files")
    for p in range(2):
        first = storage.partition_file_stats(engine.base_dir, "k", p)[0]
        engine.delete_records("k", p, first.max_offset)  # inside the first file
    check("straddling delete_records")
    for p in range(2):
        engine.compact_partition_by_key("k", p)
    assert any(
        st.max_offset - st.min_offset + 1 > st.num_rows
        for p in range(2)
        for st in storage.partition_file_stats(engine.base_dir, "k", p)
    )
    check("compaction gaps")
    engine.produce("k", keyed(10, now - 1000))
    assert engine.apply_retention("k", now_ms=now, retention_ms=2 * day)
    check("retention")


# ----------------------------- row cache ------------------------------ #


@contextmanager
def _disk_only(monkeypatch):
    """Point reads inside the block see an empty row cache, so every
    ``read_offset_range`` decodes its file."""
    from flyq_spark import storage

    with monkeypatch.context() as m:
        m.setattr(storage, "_ROWS", {})
        yield


def _all_consumes(engine, topic):
    out = {}
    for p in range(engine.topic_partitions(topic)):
        low, _, leo = engine.get_watermark(topic, p)
        for off in range(low - 1, leo + 1):
            out[(p, off)] = engine.consume(topic, p, off)
    return out


def _assert_warm_equals_cold(engine, topic, monkeypatch):
    warm = _all_consumes(engine, topic)
    with _disk_only(monkeypatch):
        cold = _all_consumes(engine, topic)
    assert warm == cold
    return warm


def _assert_cache_matches_disk(engine, topic):
    """Every cached file of the topic is on disk and holds exactly the
    cached rows: the cache serves nothing a file read would not."""
    import pyarrow.parquet as pq

    from flyq_spark import storage

    prefix = storage.topic_dir(engine.base_dir, topic) + os.sep
    for path, (rows, _) in list(storage._ROWS.items()):
        if path.startswith(prefix):
            assert rows.equals(pq.read_table(path)), path


def _assert_gone(paths):
    """Removed files read as removed: the cache no longer answers for them."""
    from flyq_spark import storage

    assert paths
    for path in paths:
        with pytest.raises(FileNotFoundError):
            storage.read_offset_range(path, 0, 1 << 62)


def test_row_cache_reads_equal_file_reads(spark, tmp_path, monkeypatch):
    """Every committed offset consumed from the row cache equals the same
    consume with the cache empty, field by field: keys (None, empty,
    numeric), headers (None, empty, several), microsecond timestamps,
    files split by max_records_per_file, and Spark-written files of a
    DataFrame produce beside them."""
    from pyspark.sql import functions as F

    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    engine = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=3))
    engine.create_topic("rc", partitions=2)
    frame = spark.range(5).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.encode(F.concat(F.lit("df"), F.col("id").cast("string")), "utf-8").alias("value"),
        F.timestamp_millis(F.lit(1_700_000_100_000) + F.col("id")).alias("timestamp"),
    )
    # a DataFrame produce drops the topic's cached rows, so it goes first
    engine.produce("rc", frame)
    msgs = _batch(with_seq=False)
    msgs[1]["headers"] = []
    msgs[2]["timestamp"] = datetime(2024, 2, 29, 23, 59, 59, 999_999, tzinfo=timezone.utc)
    engine.produce("rc", msgs)
    engine.produce("rc", _batch(with_seq=True))
    engine.produce("rc", make_messages(4, key=b"9"))
    cached = [p for p in storage._ROWS if p.startswith(storage.topic_dir(engine.base_dir, "rc"))]
    assert len(cached) >= 6  # the 3-row split gave several files per partition
    got = _assert_warm_equals_cold(engine, "rc", monkeypatch)
    spark_rows = {(r["partition"], r["offset"]): r for r in engine.log("rc").collect()}
    assert {k: got[k] for k in spark_rows} == spark_rows
    _assert_cache_matches_disk(engine, "rc")


def test_row_cache_hit_opens_no_file(engine, monkeypatch):
    """Consumes of this process's recent produces open no parquet file;
    with the topic's cached rows dropped, each consume opens one."""
    import pyarrow.parquet as pq

    from flyq_spark import storage

    engine.create_topic("h", partitions=1)
    engine.produce("h", make_messages(1))
    storage.partition_file_stats(engine.base_dir, "h", 0)  # index current: write-through
    for i in range(20):
        engine.produce("h", make_messages(1, key=b"k", ts0=1_700_000_001_000 + i))
    opens = []
    real = pq.ParquetFile

    def counting(*args, **kwargs):
        opens.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(storage.pq, "ParquetFile", counting)
    for off in range(21):
        assert engine.consume("h", 0, off)["offset"] == off
    assert opens == []
    storage.invalidate_index(engine.base_dir, "h")
    storage.partition_file_stats(engine.base_dir, "h", 0)  # rescan: footer opens
    opens.clear()
    for off in range(21):
        assert engine.consume("h", 0, off)["offset"] == off
    assert len(opens) == 21


def test_row_cache_drops_what_each_change_removes(spark, tmp_path, monkeypatch):
    """After retention, delete_records, compaction by key, delete_topic
    and re-create, and a produce that died before its meta commit, the
    removed files read as removed, warm consumes equal cold ones, and
    every cached file still matches its file on disk."""
    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    day = 86_400_000
    now = 1_700_000_000_000 + 10 * day
    engine = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=2))
    engine.create_topic("e", partitions=1)

    def check():
        _assert_warm_equals_cold(engine, "e", monkeypatch)
        _assert_cache_matches_disk(engine, "e")

    def keyed(n, ts0):
        return [
            {"key": f"k{i % 2}".encode(), "value": f"{ts0}-{i}".encode(), "timestamp": ts0 + i}
            for i in range(n)
        ]

    for i in range(4):
        engine.produce("e", keyed(4, now - (5 - i) * day))
    check()
    _assert_gone(engine.apply_retention("e", now_ms=now, retention_ms=4 * day))
    check()
    _assert_gone(engine.delete_records("e", 0, 7))
    check()

    before = [st.path for st in storage.partition_file_stats(engine.base_dir, "e", 0)]
    engine.compact_partition_by_key("e", 0)
    _assert_gone(before)
    check()

    engine.produce("e", keyed(3, now))
    before = [st.path for st in storage.partition_file_stats(engine.base_dir, "e", 0)]
    engine.delete_topic("e")
    _assert_gone(before)
    engine.create_topic("e", partitions=1)
    engine.produce("e", make_messages(3, ts0=now))
    check()

    real = storage.save_topic_meta

    def fail(*args):
        raise OSError("injected meta commit failure")

    monkeypatch.setattr(storage, "save_topic_meta", fail)
    with pytest.raises(OSError, match="injected"):
        engine.produce("e", make_messages(2, key=b"lost", ts0=now + 1000))
    monkeypatch.setattr(storage, "save_topic_meta", real)
    leftovers = [st.path for st in storage.partition_file_stats(engine.base_dir, "e", 0)][2:]
    assert engine.consume("e", 0, 3) is None
    assert engine.produce("e", make_messages(1, ts0=now + 2000)) == [(0, 3)]
    _assert_gone(leftovers)
    assert engine.consume("e", 0, 3)["key"] is None
    assert engine.consume("e", 0, 4) is None
    check()


def test_row_cache_stays_within_budget(spark, tmp_path, monkeypatch):
    """Retained bytes never exceed the budget, each file's entry retains
    only its own rows, and offsets whose rows were evicted still read
    from their files."""
    import pyarrow as pa

    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    budget = 64 << 10
    monkeypatch.setattr(storage, "_ROWS_BUDGET_BYTES", budget)
    engine = FlyQEngine(spark, str(tmp_path), EngineConfig(max_records_per_file=4))
    engine.create_topic("b", partitions=1)
    want = {}
    for i in range(12):
        msgs = make_messages(40, value_size=100, ts0=1_700_000_000_000 + 100 * i)
        for j, m in enumerate(msgs):
            m["value"] = f"{i}-{j}".encode() + m["value"]
        for (_, off), m in zip(engine.produce("b", msgs), msgs):
            want[off] = m["value"]
        assert storage._rows_bytes <= budget
        assert storage._rows_bytes == sum(size for _, size in storage._ROWS.values())

    prefix = storage.topic_dir(engine.base_dir, "b") + os.sep
    cached = {p: rows for p, (rows, _) in storage._ROWS.items() if p.startswith(prefix)}
    assert 0 < len(cached) < len(storage.partition_file_stats(engine.base_dir, "b", 0))
    batch = pa.Table.from_pylist(
        [{"offset": 0, "key": None, "value": want[0], "timestamp": 0, "headers": None}] * 40,
        schema=storage.LOG_ARROW_SCHEMA,
    )
    # a slice of the batch would retain all 40 rows' buffers
    assert max(r.get_total_buffer_size() for r in cached.values()) * 4 < (
        batch.get_total_buffer_size()
    )
    for off, value in want.items():
        assert bytes(engine.consume("b", 0, off)["value"]) == value


def test_row_cache_count_holds_under_concurrent_writers(tmp_path, monkeypatch):
    """Writer threads append and remove files while reader threads read
    them back, with a short switch interval: every read returns the
    file's own rows or FileNotFoundError, and afterwards the retained
    bytes equal the entries' sum and fit the budget (a lost update to
    the count would break both)."""
    import random
    import sys
    import threading

    from flyq_spark import storage

    budget = 96 << 10
    monkeypatch.setattr(storage, "_ROWS_BUDGET_BYTES", budget)
    written: list[str] = []
    errors: list[BaseException] = []
    done = threading.Event()

    def writer(w):
        pdir = str(tmp_path / f"w{w}")
        os.makedirs(pdir)
        rng = random.Random(w)
        off = 0
        try:
            for _ in range(40):
                n = rng.randint(1, 3)
                cols = {
                    "offset": list(range(off, off + n)),
                    "key": [None] * n,
                    "value": [f"w{w}-{o}".encode() * 8 for o in range(off, off + n)],
                    "timestamp": [1_700_000_000_000_000 + o for o in range(off, off + n)],
                    "headers": [None] * n,
                }
                off += n
                storage.append_log_files(pdir, cols, 2)
                names = sorted(x for x in os.listdir(pdir) if not x.startswith("."))
                written.extend(os.path.join(pdir, x) for x in names)
                if rng.random() < 0.5:
                    storage.remove_log_files([os.path.join(pdir, names[0])])
        except BaseException as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    def reader(r):
        rng = random.Random(100 + r)
        try:
            while not done.is_set() or rng.random() < 0.5:
                if not written:
                    continue
                path = written[rng.randrange(len(written))]
                w = os.path.basename(os.path.dirname(path))
                try:
                    rows = storage.read_offset_range(path, 0, 1 << 62).to_pylist()
                except FileNotFoundError:
                    continue
                assert rows
                for row in rows:
                    assert row["value"] == f"{w}-{row['offset']}".encode() * 8
        except BaseException as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        writers = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        readers = [threading.Thread(target=reader, args=(r,)) for r in range(4)]
        for t in writers + readers:
            t.start()
        for t in writers:
            t.join(timeout=120)
        done.set()
        for t in readers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in writers + readers)
    assert errors == []
    assert storage._rows_bytes == sum(size for _, size in storage._ROWS.values())
    assert 0 < storage._rows_bytes <= budget
