"""Structured Streaming tests: produce sink roundtrip, log tailing,
event-time windows under watermark, within-watermark dedup, and the
custom stateful operator."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
    ]
)


def _write_input_chunk(spark, path, start, n, ts0=1_700_000_000_000):
    rows = (
        spark.range(start, start + n)
        .select(
            F.col("id").alias("seq"),
            F.encode((F.col("id") % 3).cast("string"), "utf-8").alias("key"),
            F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
            F.timestamp_millis(F.lit(ts0) + F.col("id") * 60_000).alias("timestamp"),
        )
    )
    rows.coalesce(1).write.mode("append").parquet(path)


def _drain(stream, ckpt, mode="append"):
    """One availableNow run of ``stream`` on checkpoint ``ckpt`` through a
    foreachBatch sink (the memory sink cannot resume a checkpoint);
    returns every row the run's micro-batches held."""
    rows: list = []
    q = (
        stream.writeStream.outputMode(mode)
        .foreachBatch(lambda df, _bid: rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return rows


def test_produce_sink_roundtrip(engine, spark, tmp_path):
    """file stream -> foreachBatch produce sink -> log table has every
    record with dense offsets; a second chunk continues LEO."""
    from flyq_spark.streaming.sink import write_stream_to_topic

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    engine.create_topic("st", partitions=2)

    _write_input_chunk(spark, src, 0, 10)
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(src)
    q = write_stream_to_topic(engine, "st", stream, ckpt, trigger_once=True)
    q.awaitTermination(120)
    assert sum(engine.get_watermark("st", p)[2] for p in (0, 1)) == 10

    _write_input_chunk(spark, src, 10, 5)
    q = write_stream_to_topic(engine, "st", stream, ckpt, trigger_once=True)
    q.awaitTermination(120)
    leos = [engine.get_watermark("st", p)[2] for p in (0, 1)]
    assert sum(leos) == 15
    for p in (0, 1):
        offsets = [int(r["offset"]) for r in engine.read_from_offset("st", p, 0)]
        assert offsets == list(range(leos[p]))


def test_tail_log_stream(engine, spark, tmp_path):
    """readStream over the topic dir sees existing data and new produces
    (the consumer-iterator analog, partition.rs:311-355)."""
    from flyq_spark.streaming.source import read_stream
    from tests.conftest import make_messages

    engine.produce("tl", make_messages(6))
    stream = read_stream(spark, engine.base_dir, "tl", from_offset=2)
    q = (
        stream.writeStream.format("memory")
        .queryName("tail_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT offset FROM tail_test ORDER BY offset").collect()
    assert [int(r["offset"]) for r in got] == [2, 3, 4, 5]

    engine.produce("tl", make_messages(3))
    q = (
        stream.writeStream.format("memory")
        .queryName("tail_test2")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT offset FROM tail_test2 ORDER BY offset").collect()
    assert [int(r["offset"]) for r in got] == [2, 3, 4, 5, 6, 7, 8]

    # a start past the LEO waits for the log to reach it, never rewinds
    ahead = read_stream(spark, engine.base_dir, "tl", from_offset=11)
    assert _drain(ahead, str(tmp_path / "ckpt3")) == []
    engine.produce("tl", make_messages(3))
    assert [r["offset"] for r in _drain(ahead, str(tmp_path / "ckpt3"))] == [11]


def test_windowed_counts_under_watermark(engine, spark, tmp_path):
    from flyq_spark.streaming.source import read_stream, windowed_counts
    from tests.conftest import make_messages

    # 90 messages one minute apart from a wall-clock hour boundary ->
    # 1h tumbling windows of 60 and 30 events
    t0 = 1_699_999_200_000  # 2023-11-14 22:00:00 UTC
    engine.produce(
        "wc",
        [
            {"key": None, "value": b"x", "timestamp": t0 + i * 60_000}
            for i in range(90)
        ],
    )

    # events are minute-spaced starting at a fixed epoch; count per hour
    stream = read_stream(spark, engine.base_dir, "wc")
    agg = windowed_counts(stream, window="1 hour", watermark="10 minutes")
    # complete mode: a single availableNow batch never advances the
    # watermark past its own data, so append would emit nothing; complete
    # shows every window (the watermark still bounds state size).
    q = (
        agg.writeStream.format("memory")
        .queryName("wc_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT cnt FROM wc_test ORDER BY window_start").collect()
    assert [int(r["cnt"]) for r in rows] == [60, 30]


def test_streaming_dedup_within_watermark(engine, spark, tmp_path):
    from flyq_spark.streaming.source import read_stream, streaming_dedup

    engine.produce(
        "dd",
        [
            {"key": b"a", "value": b"1", "timestamp": 1_700_000_000_000},
            {"key": b"a", "value": b"1", "timestamp": 1_700_000_060_000},
            {"key": b"b", "value": b"2", "timestamp": 1_700_000_120_000},
        ],
    )
    stream = read_stream(spark, engine.base_dir, "dd")
    dedup = streaming_dedup(stream, ("value",), watermark="1 hour")
    q = (
        dedup.writeStream.format("memory")
        .queryName("dd_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        bytes(r["value"]) for r in spark.sql("SELECT value FROM dd_test").collect()
    )
    assert got == [b"1", b"2"]


def test_running_counts_stateful(engine, spark, tmp_path):
    """applyInPandasWithState keeps per-key counts across micro-batches:
    the second run on the checkpoint adds to the first run's state."""
    from flyq_spark.streaming.source import read_stream, running_counts_stateful
    from tests.conftest import make_messages

    engine.produce("rc", make_messages(4, key=b"k1"))
    stream = read_stream(spark, engine.base_dir, "rc")
    counts = running_counts_stateful(stream, key_col="key")
    ckpt = str(tmp_path / "ckpt")
    first = _drain(counts, ckpt, "update")
    engine.produce("rc", make_messages(2, key=b"k2") + make_messages(1, key=b"k1"))
    second = _drain(counts, ckpt, "update")
    assert {r["key"]: int(r["n"]) for r in first} == {"k1": 4}
    assert {r["key"]: int(r["n"]) for r in second} == {"k1": 5, "k2": 2}


def test_stream_clamps_at_low_watermark(engine, spark, tmp_path):
    """delete_records is a logical truncation: the file straddling the
    cutoff keeps its lower rows on disk. The next micro-batch still starts
    at the low watermark, as read_from_offset does."""
    from flyq_spark.streaming.source import read_stream
    from tests.conftest import make_messages

    engine.produce("lw", make_messages(3))
    stream = read_stream(spark, engine.base_dir, "lw")
    ckpt = str(tmp_path / "ckpt")
    assert sorted(r["offset"] for r in _drain(stream, ckpt)) == [0, 1, 2]
    engine.produce("lw", make_messages(7, ts0=1_800_000_000_000))
    engine.delete_records("lw", 0, before_offset=6)
    want = [r["offset"] for r in engine.read_from_offset("lw", 0, 0)]
    assert want == [6, 7, 8, 9]
    assert sorted(r["offset"] for r in _drain(stream, ckpt)) == want


def test_consume_stream_with_group_commits_offsets(engine, spark, tmp_path):
    """Streaming group consumer: starts at the committed offset, processes
    batches, and advances the group's committed offsets (visible to lag)."""
    from flyq_spark.streaming.source import consume_stream_with_group
    from tests.conftest import make_messages

    engine.create_topic("cg", partitions=2)
    engine.produce("cg", make_messages(10))
    engine.commit_offset("g", "cg", 0, 2)  # pre-committed: skip offsets < 2

    seen = []
    q = consume_stream_with_group(
        engine, "cg", "g", str(tmp_path / "ckpt"),
        lambda df: seen.extend((int(r["partition"]), int(r["offset"])) for r in df.collect()),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert (0, 0) not in seen and (0, 1) not in seen  # pre-committed skipped
    assert (0, 2) in seen and (1, 0) in seen
    for p in (0, 1):
        _, _, leo = engine.get_watermark("cg", p)
        assert engine.committed_offset("g", "cg", p) == leo
    assert engine.get_consumer_lag("g", "cg")["total_lag"] == 0


def test_consume_stream_with_group_survives_retention_truncation(
    engine, spark, tmp_path
):
    """If retention/delete_records advances the low watermark PAST a
    group's committed offset, the committed offset never reappears in any
    batch. The stream starts at max(committed, low watermark), so only
    retained offsets are delivered and the cursor advances to the LEO."""
    from flyq_spark.streaming.source import consume_stream_with_group
    from tests.conftest import make_messages

    engine.create_topic("cgrt", partitions=1)
    engine.produce("cgrt", make_messages(10))
    engine.commit_offset("g", "cgrt", 0, 2)
    # logical truncation past the committed offset: low watermark -> 5
    engine.delete_records("cgrt", 0, before_offset=5)
    low, _, leo = engine.get_watermark("cgrt", 0)
    assert low == 5 and leo == 10

    seen = []
    q = consume_stream_with_group(
        engine, "cgrt", "g", str(tmp_path / "ckpt"),
        lambda df: seen.extend(int(r["offset"]) for r in df.collect()),
        trigger_once=True,
    )
    q.awaitTermination(120)
    # only retained offsets delivered, and the cursor is NOT stuck at 2
    assert min(seen) == 5 and max(seen) == 9
    assert engine.committed_offset("g", "cgrt", 0) == leo
    assert engine.get_consumer_lag("g", "cgrt")["total_lag"] == 0


def test_flyq_datasource_stream(engine, spark, tmp_path):
    """Custom Python DataSource: Kafka-shaped startingOffsets + offset
    ranges; second produce delivers only new records under one checkpoint."""
    from flyq_spark.streaming.datasource import register
    from tests.conftest import make_messages

    register(spark)
    engine.create_topic("dsrc", partitions=2)
    msgs = make_messages(6)
    msgs[1]["headers"] = [("trace", b"\x01\x02"), ("src", b"cli")]
    engine.produce("dsrc", msgs)

    def drain(ckpt):
        # foreachBatch sink: supports checkpoint resume (memory does not)
        out: dict = {}
        headers_seen: dict = {}

        def collect(df, _bid):
            for r in df.collect():
                out[(int(r["partition"]), int(r["offset"]))] = bytes(r["value"])
                if r["headers"] is not None:
                    headers_seen[bytes(r["value"])] = [
                        (h["key"], bytes(h["value"])) for h in r["headers"]
                    ]
        drain.headers_seen = headers_seen

        q = (
            spark.readStream.format("flyq")
            .option("base_dir", engine.base_dir)
            .option("topic", "dsrc")
            .option("startingOffsets", '{"0": 1, "1": 0}')
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    ckpt = str(tmp_path / "ck1")
    got = drain(ckpt)
    # partition 0 starts at offset 1 (explicit startingOffsets), 1 at 0
    assert (0, 0) not in got
    assert set(got) == {(0, 1), (0, 2), (1, 0), (1, 1), (1, 2)}
    assert got[(1, 0)] == b"Message 1"  # keyless RR: seq 1 -> partition 1
    # headers survive the DataSource row protocol (message.rs:17-22)
    assert drain.headers_seen == {
        b"Message 1": [("trace", b"\x01\x02"), ("src", b"cli")]
    }

    engine.produce("dsrc", make_messages(4, ts0=1_800_000_000_000))
    got2 = drain(ckpt)  # same checkpoint -> only the new offsets
    assert set(got2) == {(0, 3), (0, 4), (1, 3), (1, 4)}


def test_flyq_datasource_survives_compaction(engine, spark, tmp_path):
    """The format("flyq") source tracks positions by OFFSET, so engine
    compaction (which rewrites a partition into new FILES carrying the
    same offsets) must not re-deliver already-read records."""
    from flyq_spark.streaming.datasource import register
    from tests.conftest import make_messages

    register(spark)
    engine.create_topic("dsrcc", partitions=1)
    engine.produce("dsrcc", make_messages(5))

    seen: dict = {}

    def drain(ckpt):
        batch: list = []

        def collect(df, _bid):
            batch.extend(int(r["offset"]) for r in df.collect())

        q = (
            spark.readStream.format("flyq")
            .option("base_dir", engine.base_dir)
            .option("topic", "dsrcc")
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(batch)

    ckpt = str(tmp_path / "ck")
    assert drain(ckpt) == [0, 1, 2, 3, 4]

    # compaction rewrites the partition's files; offsets are unchanged
    engine.compact_partition("dsrcc", 0)
    engine.produce("dsrcc", make_messages(3, ts0=1_800_000_000_000))
    assert drain(ckpt) == [5, 6, 7]  # no re-delivery of compacted rows


def test_streaming_session_window(engine, spark, tmp_path):
    """Native session_window aggregation on the stream: same gap
    semantics as the batch gaps-and-islands sessionizer."""
    from flyq_spark.streaming.source import read_stream

    t0 = 1_700_000_000_000
    engine.produce(
        "sw",
        [
            {"key": b"u1", "value": b"x", "timestamp": t0},
            {"key": b"u1", "value": b"x", "timestamp": t0 + 10 * 60_000},
            {"key": b"u1", "value": b"x", "timestamp": t0 + 120 * 60_000},  # new session
            {"key": b"u2", "value": b"x", "timestamp": t0},
        ],
    )
    stream = read_stream(spark, engine.base_dir, "sw")
    agg = (
        stream.withWatermark("timestamp", "1 hour")
        .groupBy(F.session_window("timestamp", "30 minutes"), F.col("key"))
        .agg(F.count("*").alias("n"))
        .select(F.col("key").cast("string").alias("k"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sw_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], int(r["n"])) for r in spark.sql("SELECT * FROM sw_test").collect()
    )
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_watermark_tracker_stateful_tws(engine, spark, tmp_path):
    """transformWithStateInPandas ValueState survives across triggers:
    the tracker's final high/n_seen equal the batch watermark facts.

    The TWS Python worker protocol needs google.protobuf, which this
    container lacks -> skip there (the applyInPandasWithState path in
    test_running_counts_stateful covers custom state without it)."""
    pytest.importorskip("google.protobuf")
    from flyq_spark.streaming.source import read_stream, watermark_tracker_stateful
    from tests.conftest import make_messages

    engine.produce("wt", make_messages(5, key=b"a"))
    tracked = watermark_tracker_stateful(read_stream(spark, engine.base_dir, "wt"))
    ckpt = str(tmp_path / "ckpt_wt")
    first = _drain(tracked, ckpt, "update")
    engine.produce("wt", make_messages(3, key=b"a"))
    second = _drain(tracked, ckpt, "update")

    def bounds(rows):
        return {r["key"]: (r["high"], r["n_seen"]) for r in rows}

    # single-partition topic: 5 then 3 messages, offsets 0..7
    assert bounds(first) == {0: (4, 5)}
    assert bounds(second) == {0: (7, 8)}


def test_stream_stream_interval_join(engine, spark, tmp_path):
    """Stream-stream inner join with bounded state: purchases join the
    click they follow within 5 seconds, same key; a purchase outside the
    interval produces no row."""
    from flyq_spark.streaming.source import read_stream, stream_stream_interval_join

    ts0 = 1_700_000_000_000
    engine.produce(
        "clicks",
        [
            {"key": b"u1", "value": b"c", "timestamp": ts0},
            {"key": b"u2", "value": b"c", "timestamp": ts0 + 1_000},
        ],
    )
    engine.produce(
        "buys",
        [
            {"key": b"u1", "value": b"b", "timestamp": ts0 + 3_000},   # within 5s
            {"key": b"u2", "value": b"b", "timestamp": ts0 + 20_000},  # outside
        ],
    )
    clicks = read_stream(spark, engine.base_dir, "clicks").select(
        F.decode("key", "utf-8").alias("key"), "timestamp"
    )
    buys = read_stream(spark, engine.base_dir, "buys").select(
        F.decode("key", "utf-8").alias("key"), "timestamp"
    )
    joined = stream_stream_interval_join(clicks, buys, max_delay="5 seconds")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT key, delay_us FROM ssj_test").collect()
    assert [(r["key"], r["delay_us"]) for r in rows] == [("u1", 3_000_000)]


def test_latest_per_key_ktable_view(engine, spark, tmp_path):
    """Streaming KTable: after two produce rounds the complete-mode view
    holds exactly the latest value per (partition, key) — bit-identical
    to batch compact_by_key over the same log."""
    from flyq_spark.operators.retention import compact_by_key
    from flyq_spark.streaming.source import latest_per_key, read_stream

    msgs = [
        {"key": b"a", "value": b"a0", "timestamp": 1_700_000_000_000},
        {"key": b"b", "value": b"b0", "timestamp": 1_700_000_000_001},
        {"key": b"a", "value": b"a1", "timestamp": 1_700_000_000_002},
    ]
    engine.create_topic("kt", partitions=2)
    engine.produce("kt", msgs)
    engine.produce("kt", [{"key": b"b", "value": b"b1", "timestamp": 1_700_000_000_003}])

    stream = read_stream(spark, engine.base_dir, "kt")
    q = (
        latest_per_key(stream)
        .writeStream.format("memory")
        .queryName("ktable")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from flyq_spark import storage

    got = {
        (int(r["partition"]), bytes(r["key"])): bytes(r["latest_value"])
        for r in spark.sql("SELECT * FROM ktable").collect()
    }
    batch = compact_by_key(
        spark.read.option("basePath", storage.topic_dir(engine.base_dir, "kt"))
        .parquet(storage.topic_dir(engine.base_dir, "kt")),
        part_col="partition",
        key_col="key",
        offset_col="offset",
    )
    expected = {
        (int(r["partition"]), bytes(r["key"])): bytes(r["value"])
        for r in batch.collect()
    }
    assert got == expected
    latest_a = {k: v for k, v in got.items() if k[1] == b"a"}
    assert set(latest_a.values()) == {b"a1"}  # the revision won


def test_stream_static_dimension_join(engine, spark, tmp_path):
    """Stream-static enrichment: a static dimension table joined onto
    the log stream (the broadcast-dimension pattern — the static side
    re-resolves per micro-batch, no state store involved). Keys missing
    from the dimension survive with NULL via a left join."""
    from flyq_spark.streaming.source import read_stream

    t0 = 1_700_000_000_000
    engine.produce(
        "enrich",
        [
            {"key": b"0", "value": b"a", "timestamp": t0},
            {"key": b"1", "value": b"b", "timestamp": t0 + 1},
            {"key": b"9", "value": b"c", "timestamp": t0 + 2},  # no dim row
        ],
    )
    dim = spark.createDataFrame(
        [("0", "zero"), ("1", "one"), ("2", "two")], "k string, name string"
    )
    stream = read_stream(spark, engine.base_dir, "enrich").select(
        F.col("key").cast("string").alias("k"), "offset"
    )
    enriched = stream.join(F.broadcast(dim), on="k", how="left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["name"])
        for r in spark.sql("SELECT k, name FROM enrich_test").collect()
    }
    assert got == {("0", "zero"), ("1", "one"), ("9", None)}


def test_streaming_cdc_upsert_snapshot(engine, spark, tmp_path):
    """CDC change stream -> foreachBatch latest-wins snapshot: after two
    chunks (second updates one key, deletes another, adds one), the
    snapshot equals applying all changes in ts order."""
    from flyq_spark.streaming.sink import upsert_sink

    src = str(tmp_path / "changes")
    snap = str(tmp_path / "snapshot")
    schema = "k long, v string, ts long, op string"

    def write_chunk(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(src)

    write_chunk([(1, "a", 10, "u"), (2, "b", 10, "u"), (3, "c", 10, "u")])
    stream = spark.readStream.schema(schema).json(src)
    sink = upsert_sink(snap, ("k",), "ts")
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    write_chunk([(1, "a2", 20, "u"), (2, "x", 20, "d"), (4, "d", 20, "u")])
    q = (
        spark.readStream.schema(schema).json(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "a2"), (3, "c"), (4, "d")}


def test_progress_listener_persists_metrics(engine, spark, tmp_path):
    """Each micro-batch emits one JSON progress line with the batch's
    input-row count; the log is queryable as a plain DataFrame."""
    import json
    import time

    from flyq_spark.streaming.metrics import attach_progress_listener
    from flyq_spark.streaming.source import read_stream

    out = str(tmp_path / "progress.jsonl")
    listener = attach_progress_listener(spark, out)
    try:
        engine.produce(
            "met",
            [{"key": None, "value": b"x", "timestamp": 1_700_000_000_000 + i}
             for i in range(7)],
        )
        q = (
            read_stream(spark, engine.base_dir, "met")
            .writeStream.format("memory")
            .queryName("met_q")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener bus is async; give it a moment to drain
        for _ in range(40):
            if os.path.exists(out) and sum(
                json.loads(ln)["num_input_rows"] for ln in open(out)
            ) >= 7:
                break
            time.sleep(0.5)
        recs = [json.loads(ln) for ln in open(out)]
        assert sum(r["num_input_rows"] for r in recs) == 7
        assert all(r["name"] == "met_q" for r in recs if r["name"])
    finally:
        spark.streams.removeListener(listener)


def test_upsert_sink_recovers_stranded_old_snapshot(spark, tmp_path):
    """A crash between the swap's two renames strands the snapshot under
    .snapshot.old; the next batch must roll it back before merging so
    no committed state is lost."""
    import os

    from flyq_spark.streaming.sink import upsert_sink

    snap = str(tmp_path / "snapshot")
    old = str(tmp_path / ".snapshot.old")
    staged = str(tmp_path / ".snapshot.staged")
    schema = "k long, v string, ts long, op string"
    sink = upsert_sink(snap, ("k",), "ts")
    sink(spark.createDataFrame([(1, "a", 10, "u"), (2, "b", 10, "u")], schema), 0)
    assert os.path.isdir(snap)
    # simulate the crash window: current renamed away, staged never landed
    os.rename(snap, old)
    os.makedirs(staged)  # stale partial write, must be swept
    sink(spark.createDataFrame([(3, "c", 20, "u")], schema), 1)
    got = {(r["k"], r["v"]) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert not os.path.exists(old)
    assert not os.path.exists(staged)


def test_watermark_tracker_stateful_plan_analyzes(engine, spark):
    """Runtime execution of transformWithStateInPandas needs
    google.protobuf (absent in this container; the sibling test skips),
    but ANALYSIS is JVM-side: pin that the operator builds, resolves the
    grouping key/state types, and lands TransformWithStateInPandas in
    the analyzed plan with the declared output schema — so the skip
    cannot hide an API break in the operator itself."""
    from flyq_spark.streaming.source import read_stream, watermark_tracker_stateful
    from tests.conftest import make_messages

    engine.produce("wtp", make_messages(3, key=b"a"))
    stream = read_stream(spark, engine.base_dir, "wtp")
    tracked = watermark_tracker_stateful(stream)
    assert tracked.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in tracked.schema.fields] == [
        ("key", "bigint"), ("high", "bigint"), ("n_seen", "bigint"),
    ]
    analyzed = tracked._jdf.queryExecution().analyzed().toString()
    # Spark 4.1 names the analyzed node TransformWithStateInPySpark
    assert "transformwithstatein" in analyzed.lower()


def test_neardup_dedup_sink_filters_across_batches(spark, tmp_path):
    """Batch-internal near-dups keep the smallest id; a later batch's
    near-copy of an accepted doc is dropped; novel docs pass; replaying
    a batch (at-least-once redelivery) is idempotent."""
    from flyq_spark.streaming.sink import neardup_dedup_sink

    out = str(tmp_path / "accepted")
    state = str(tmp_path / "bands")
    sink = neardup_dedup_sink(out, state, k=32, bands=8)
    base = (
        "spark shuffles data across the cluster by key so joins "
        "colocate matching rows before the merge step runs"
    )
    perturbed = base.replace("merge", "combine")
    other = (
        "completely unrelated prose about broker offsets watermarks "
        "retention segments and consumer lag accounting in a log"
    )
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], schema
    )
    sink(b0, 0)
    got0 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got0 == {1, 3}  # 2 is a within-batch copy of 1

    b1 = spark.createDataFrame(
        [(10, perturbed), (11, "novel text nothing like the others at all honestly truly")],
        schema,
    )
    sink(b1, 1)
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3, 11}  # 10 near-dups accepted doc 1

    # replay batch 1 (same epoch id): output unchanged, no double-drop
    sink(b1, 1)
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == got1


def test_phash_dedup_sink_filters_media_across_batches(spark, tmp_path):
    """Perceptual streaming dedup: a near-identical image (one-subpixel
    tweak of a real-decoded PPM) is dropped within a batch and across
    batches against the accepted store; a visually distinct image
    passes; replaying a batch is idempotent."""
    from flyq_spark.operators.multimodal import attach_media
    from flyq_spark.streaming.sink import phash_dedup_sink
    from tests.test_ext_operators import _make_ppm

    out = str(tmp_path / "accepted")
    state = str(tmp_path / "bands")
    sink = phash_dedup_sink(out, state, bands=8)

    base = _make_ppm(18, 16, lambda x, y: (x * 14, x * 14, x * 14))
    tweak1 = bytearray(base); tweak1[-1] ^= 0x08
    tweak2 = bytearray(base); tweak2[-4] ^= 0x08
    inverted = _make_ppm(18, 16, lambda x, y: (255 - x * 14,) * 3)

    def media(rows):
        df = spark.createDataFrame(rows, "id long, blob binary")
        return attach_media(df, "blob", kind="image").select(
            "id", "content_id", "payload"
        )

    b0 = media([(1, bytearray(base)), (2, bytes(tweak1)), (3, bytearray(inverted))])
    sink(b0, 0)
    got0 = {r["id"] for r in spark.read.parquet(out).collect()}
    assert len(got0) == 2 and 3 in got0  # one of the near-pair dropped

    b1 = media([(10, bytes(tweak2)), (11, bytearray(inverted))])
    sink(b1, 1)
    got1 = {r["id"] for r in spark.read.parquet(out).collect()}
    assert got1 == got0  # both batch-1 payloads collide with history

    sink(b1, 1)  # at-least-once replay: unchanged
    assert {r["id"] for r in spark.read.parquet(out).collect()} == got1


def test_neardup_dedup_sink_short_docs_pass(spark, tmp_path):
    """Docs below the shingle width have no signature and always pass."""
    from flyq_spark.streaming.sink import neardup_dedup_sink

    sink = neardup_dedup_sink(
        str(tmp_path / "o"), str(tmp_path / "s"), k=32, bands=8
    )
    b = spark.createDataFrame([(1, "hi"), (2, "hi")], "doc_id long, text string")
    sink(b, 0)
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "o")).collect()}
    assert got == {1, 2}


def test_streaming_session_counts_matches_batch_sessionize(engine, spark, tmp_path):
    """Native streaming session windows produce the same session
    boundaries as the batch sessionize operator on identical data —
    including the merge-at-exact-gap boundary case — and emit per-key
    sessions split by the gap."""
    from flyq_spark.streaming.source import read_stream, streaming_session_counts
    from tests.conftest import make_messages  # noqa: F401 (harness parity)

    t0 = 1_700_000_000_000
    gap_ms = 60_000
    batches = {
        b"u1": [0, 10_000, 70_000, 70_000 + gap_ms],  # merge at exact gap
        b"u2": [0, 200_000],  # two singleton sessions
    }
    msgs = [
        {"key": k, "value": b"x", "timestamp": t0 + off}
        for k, offs in batches.items()
        for off in offs
    ]
    engine.produce("ssw", msgs)
    stream = read_stream(spark, engine.base_dir, "ssw")
    agg = streaming_session_counts(
        stream, gap="1 minute", watermark="5 minutes", key_cols=("key",)
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ssw_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT key, session_start, n_events FROM ssw_test"
    ).collect()
    got = {}
    for r in rows:
        got.setdefault(bytes(r["key"]), []).append(int(r["n_events"]))
    for k in got:
        got[k].sort()
    # u1: events at 0s,10s,70s,130s with 60s gap all CHAIN into one
    # session (10->70 and 70->130 are exactly the gap, which merges)
    assert got[b"u1"] == [4]
    # u2: 0s and 200s are two sessions
    assert got[b"u2"] == [1, 1]


def test_streaming_pipeline_example_end_to_end(engine, spark, tmp_path):
    """The examples/streaming_pipeline.py composition: low-quality docs
    are filtered, near-dups of previously ACCEPTED docs are dropped
    across micro-batches, novel quality docs land in the corpus, and a
    second availableNow run over new messages extends (not rebuilds)
    the corpus."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    from streaming_pipeline import build_stream

    base = (
        "spark shuffles data across the cluster by key so joins "
        "colocate matching rows before the merge step runs smoothly"
    )
    novel = (
        "a completely different story about broker offsets watermarks "
        "retention and consumer lag accounting in a partitioned log"
    )
    t0 = 1_700_000_000_000
    msgs1 = [
        {"key": None, "value": base.encode(), "timestamp": t0},
        {"key": None, "value": b"too short", "timestamp": t0 + 1},
        {"key": None, "value": novel.encode(), "timestamp": t0 + 2},
    ]
    engine.produce("sp", msgs1)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = build_stream(spark, engine.base_dir, "sp", out, ck).start()
    q.awaitTermination(120)
    acc1 = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out + "/accepted").collect()
    }
    assert set(acc1) == {0, 2}  # offsets of base and novel; short dropped

    # batch 2: a near-dup of an accepted doc + one genuinely new doc
    msgs2 = [
        {"key": None, "value": base.replace("merge", "combine").encode(),
         "timestamp": t0 + 3},
        {"key": None, "value": (
            "yet another unrelated passage describing winnowing "
            "fingerprints chunking and salience extraction operators"
        ).encode(), "timestamp": t0 + 4},
    ]
    engine.produce("sp", msgs2)
    q = build_stream(spark, engine.base_dir, "sp", out, ck).start()
    q.awaitTermination(120)
    acc2 = {
        r["doc_id"] for r in spark.read.parquet(out + "/accepted").collect()
    }
    assert acc2 == {0, 2, 4}  # offset 3 (near-dup) dropped, 4 accepted


def test_aggregate_view_sink_merge_compact_replay(spark, tmp_path):
    """Streaming materialized view: deltas merge to the full-recompute
    answer, compaction folds them into a base, a REPLAYED batch_id
    overwrites its own delta (no double count), and a crashed
    compaction (no ready marker) is recovered."""
    import os

    from pyspark.sql import functions as F

    from flyq_spark.streaming.sink import aggregate_view_sink, read_aggregate_view

    view = str(tmp_path / "view")
    sink = aggregate_view_sink(
        view, ("k",), {"v": F.col("v")}, compact_every=2
    )

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(batch([("a", 1), ("b", 2)]), 0)
    sink(batch([("a", 3)]), 1)           # triggers compaction (2 deltas)
    sink(batch([("b", 4), ("c", 5)]), 2)  # delta on top of base

    def snapshot():
        out = read_aggregate_view(spark, view, ("k",), ("v",))
        return {
            r["k"]: (r["n_rows"], r["v_sum"], r["v_min"], r["v_max"])
            for r in out.collect()
        }

    want = {"a": (2, 4, 1, 3), "b": (2, 6, 2, 4), "c": (1, 5, 5, 5)}
    assert snapshot() == want
    assert any(d.startswith("base_upto_1") for d in os.listdir(view))

    # at-least-once replay of batch 2: overwrites its delta, not additive
    sink(batch([("b", 4), ("c", 5)]), 2)
    assert snapshot() == want

    # crash mid-compaction leaves an INCOMPLETE base (parquet partially
    # written, no ready marker, old base + deltas still on disk — the
    # marker is created only after the write completes): recovery must
    # discard it and the refold must still see all history
    os.makedirs(os.path.join(view, "base_upto_99"))
    sink(batch([("a", 10)]), 3)  # 2 uncompacted deltas -> compacts to base_upto_3
    assert not os.path.isdir(os.path.join(view, "base_upto_99"))
    assert os.path.exists(os.path.join(view, "base_upto_3", "_VIEW_READY"))
    assert not os.path.isdir(os.path.join(view, "base_upto_1"))
    want2 = {"a": (3, 14, 1, 10), "b": (2, 6, 2, 4), "c": (1, 5, 5, 5)}
    assert snapshot() == want2

    # stray directories (debug copies) are tolerated by BOTH the writer
    # and the reader — shared listing helpers, never an unguarded int()
    os.makedirs(os.path.join(view, "base_upto_3.bak"))
    os.makedirs(os.path.join(view, "delta", "batch_id=7.old"))
    assert snapshot() == want2
    sink(batch([("c", 1)]), 4)
    want3 = dict(want2, c=(2, 6, 1, 5))
    assert snapshot() == want3


def test_analytics_pipeline_example_end_to_end(engine, spark, tmp_path):
    """examples/analytics_pipeline.py: events produced to a topic flow
    through the streaming materialized view; the read-side shows exact
    stats + HLL distinct users equal to a direct recompute; a second
    availableNow run extends the view incrementally; the gap-filled
    series densifies empty buckets."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    from analytics_pipeline import (
        build_stream,
        current_view,
        gap_filled_series,
        parse_events,
    )

    t0 = 1_700_000_000_000
    msgs = [
        {"key": None, "value": f"click,{u},{c}".encode(), "timestamp": t0 + i}
        for i, (u, c) in enumerate([(1, 100), (2, 300), (1, 500)])
    ] + [
        # a click three hours later leaves an EMPTY middle hour in the
        # click series — the gap the densification assertions check
        {"key": None, "value": b"click,5,50", "timestamp": t0 + 10_800_000},
        {"key": None, "value": b"purchase,3,999", "timestamp": t0 + 7_200_000},
    ]
    engine.produce("an", msgs)
    view = str(tmp_path / "view")
    ck = str(tmp_path / "ck")
    q = build_stream(spark, engine.base_dir, "an", view, ck).start()
    q.awaitTermination(120)
    got = {
        r["event_type"]: (
            r["n_rows"], r["value_c_sum"], r["value_c_avg"],
            r["value_c_min"], r["value_c_max"], r["users_approx_distinct"],
        )
        for r in current_view(spark, view).collect()
    }
    assert got == {
        "click": (4, 950, 237, 50, 500, 3),
        "purchase": (1, 999, 999, 999, 999, 1),
    }

    # second run: new messages only (checkpoint resumes), view extends
    engine.produce(
        "an", [{"key": None, "value": b"click,9,100", "timestamp": t0 + 10}]
    )
    q = build_stream(spark, engine.base_dir, "an", view, ck).start()
    q.awaitTermination(120)
    got2 = {
        r["event_type"]: (r["n_rows"], r["value_c_sum"], r["users_approx_distinct"])
        for r in current_view(spark, view).collect()
    }
    assert got2["click"] == (5, 1050, 4)

    # gap-filled hourly series over the raw log: the empty middle hour
    # appears zero-filled with the click value carried forward
    from flyq_spark import storage

    events = parse_events(
        spark.read.parquet(storage.topic_dir(engine.base_dir, "an"))
    )
    series = {
        (r["event_type"], r["bucket_start_s"]): (r["n"], r["value_c_max"], r["is_observed"])
        for r in gap_filled_series(events).collect()
    }
    base = (t0 // 3_600_000) * 3600
    assert series[("click", base)][0] == 4
    # hours 1 and 2 have no clicks: REAL gap rows, zero-filled with the
    # max value carried forward from hour 0
    assert series[("click", base + 3600)] == (0, 500, False)
    assert series[("click", base + 7200)] == (0, 500, False)
    assert series[("click", base + 10800)] == (1, 50, True)
    assert ("purchase", base + 7200) in series


def test_heavy_hitter_sink_bounded_state_guarantee(spark, tmp_path):
    """Bounded-state streaming frequency view: every item with true
    frequency > total/k survives the fold, counts are lower bounds,
    replaying a batch is idempotent, and compaction preserves the
    folded state exactly."""
    import random

    from flyq_spark.streaming.sink import (
        heavy_hitter_sink,
        read_heavy_hitter_view,
    )

    root = str(tmp_path / "hh")
    k = 8
    sink = heavy_hitter_sink(root, "item", k=k, compact_every=3)
    rng = random.Random(3)
    truth: dict = {}
    batches = []
    for bid in range(5):
        rows = []
        for _ in range(400):
            # heavy items 0/1, long tail 2..40
            item = rng.choice([0, 0, 0, 0, 1, 1, 1, rng.randint(2, 40)])
            rows.append((f"i{item}",))
            truth[f"i{item}"] = truth.get(f"i{item}", 0) + 1
        batches.append(spark.createDataFrame(rows, "item string"))
    for bid, b in enumerate(batches):
        sink(b, bid)

    view = {
        r["item"]: (r["count_lb"], r["total"])
        for r in read_heavy_hitter_view(spark, root, k).collect()
    }
    total = sum(truth.values())
    assert next(iter(view.values()))[1] == total
    assert len(view) <= k
    for item, cnt in truth.items():
        if cnt > total / k:
            assert item in view            # MG guarantee
    for item, (lb, _) in view.items():
        assert lb <= truth[item]           # lower bounds
        assert truth[item] - lb <= total / k

    # replay idempotence: re-deliver the last batch
    sink(batches[4], 4)
    view2 = {
        r["item"]: (r["count_lb"], r["total"])
        for r in read_heavy_hitter_view(spark, root, k).collect()
    }
    assert view2 == view


def test_heavy_hitter_sink_stale_replayed_delta_ignored(spark, tmp_path):
    """A replayed batch that was ALREADY compacted into the base writes
    its delta back; reader and compactor must skip it (bid <= base
    upto), or its rows would double-fold."""
    from flyq_spark.streaming.sink import (
        heavy_hitter_sink,
        read_heavy_hitter_view,
    )

    root = str(tmp_path / "hh2")
    sink = heavy_hitter_sink(root, "item", k=4, compact_every=2)
    b = lambda rows: spark.createDataFrame([(r,) for r in rows], "item string")  # noqa: E731
    sink(b(["a", "a", "b"]), 0)
    sink(b(["a", "c"]), 1)          # compacts 0..1 into base_upto_1
    before = {
        (r["item"], r["count_lb"], r["total"])
        for r in read_heavy_hitter_view(spark, root, 4).collect()
    }
    sink(b(["a", "c"]), 1)          # stale redelivery of batch 1
    after = {
        (r["item"], r["count_lb"], r["total"])
        for r in read_heavy_hitter_view(spark, root, 4).collect()
    }
    assert after == before


def test_heavy_hitter_view_read_runs_no_spark_job(spark, tmp_path):
    """Reading the heavy-hitter view folds its base and deltas on the
    driver: no Spark job runs until the result frame is used."""
    from flyq_spark.streaming.sink import (
        heavy_hitter_sink,
        read_heavy_hitter_view,
    )

    root = str(tmp_path / "hh3")
    sink = heavy_hitter_sink(root, "item", k=4, compact_every=3)
    for bid in range(5):  # base_upto_2 + deltas 3 and 4: three live paths
        sink(spark.createDataFrame([("a",), (f"x{bid}",)], "item string"), bid)
    sc = spark.sparkContext
    sc.setJobGroup("hh_view_read", "heavy-hitter view read")
    try:
        view = read_heavy_hitter_view(spark, root, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("hh_view_read")) == []
    rows = view.collect()
    assert {r["total"] for r in rows} == {10} and "a" in {r["item"] for r in rows}


def _view_sink_specs():
    """The five compacting view sinks, each as (build, four batches,
    snapshot). ``build(path, compact_every)`` makes the sink,
    ``snapshot(spark, path)`` reads its view as a row multiset. The
    contamination store has no reader of its own (its output is the
    per-doc scores), so its snapshot is the multiset of live store
    rows, where a double-read delta shows as doubled rows."""
    import hashlib
    from collections import Counter

    from flyq_spark.streaming import sink as S

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    train_ids = [
        i for i in range(1, 400)
        if hashlib.md5(str(i).encode()).hexdigest()[:2] >= "1a"
    ]
    words = [f"w{j}" for j in range(12)]
    # four batches of three train docs whose shingles overlap across
    # batches, so a fold's distinct is not a no-op
    docs = [
        [
            (i, " ".join(words[(i + b) % 6 : (i + b) % 6 + 4]))
            for i in train_ids[3 * b : 3 * b + 3]
        ]
        for b in range(4)
    ]
    return {
        "contamination": (
            lambda p, c: S.contamination_monitor_sink(
                p + ".out", p, n=2, compact_every=c
            ),
            [(d, "doc_id long, text string") for d in docs],
            lambda spark, p: Counter(
                r["ng"]
                for r in spark.read.parquet(
                    *S._ViewStore(p, "snapshot").snapshot()
                ).collect()
            ),
        ),
        "aggregate": (
            lambda p, c: S.aggregate_view_sink(
                p, ("k",), {"v": F.col("v")}, compact_every=c
            ),
            [
                ([("a", 1), ("b", 2)], "k string, v long"),
                ([("a", 3)], "k string, v long"),
                ([("b", 4), ("c", 5)], "k string, v long"),
                ([("a", 10), ("c", 1)], "k string, v long"),
            ],
            lambda spark, p: rows(
                S.read_aggregate_view(spark, p, ("k",), ("v",))
            ),
        ),
        "heavy_hitter": (
            lambda p, c: S.heavy_hitter_sink(p, "item", k=16, compact_every=c),
            [
                ([(x,) for x in items], "item string")
                for items in (
                    ["a", "a", "b"], ["a", "c"], ["b", "d"], ["a", "e", "e"]
                )
            ],
            lambda spark, p: rows(S.read_heavy_hitter_view(spark, p, 16)),
        ),
        "golden_record": (
            lambda p, c: S.golden_record_sink(
                p, ("k",), ("o", "t"),
                {"a": F.col("a"), "b": F.col("b")}, compact_every=c,
            ),
            [
                (r, "k long, o long, t long, a string, b long")
                for r in (
                    [(1, 10, 1, "a0", None), (2, 10, 2, None, 20)],
                    [(1, 20, 3, None, 99), (3, 5, 4, "x", None)],
                    [(1, 30, 5, "a2", None), (2, 5, 6, "late", 7)],
                    [(3, 40, 7, "y", 1)],
                )
            ],
            lambda spark, p: rows(
                S.read_golden_record_view(spark, p, ("k",), ["a", "b"])
            ),
        ),
        "late_arrival": (
            lambda p, c: S.late_arrival_monitor_sink(
                p, "g", "ts_us", thresholds_us=(5,), compact_every=c
            ),
            [
                (r, "g string, ts_us long")
                for r in (
                    [("a", 100), ("b", 50)],
                    [("a", 90), ("a", 120)],
                    [("a", 100), ("b", 10)],
                    [("b", 60), ("a", 200)],
                )
            ],
            lambda spark, p: rows(
                S.read_late_arrival_monitor(spark, p, "g", (5,))
            ),
        ),
    }


@pytest.mark.parametrize("name", sorted(_view_sink_specs()))
def test_view_sink_replay_and_crash_protocol(spark, tmp_path, name):
    """The shared view-store protocol, pinned for every compacting
    sink against a clean serial run of the same batches: a replayed
    batch overwrites its own delta (no double count); a stale replay
    of an already-compacted batch is ignored by reader and writer; an
    unmarked base (a fold that crashed before its marker) is never
    read and is discarded, with the refold still seeing all history;
    stray debug copies are tolerated by both sides."""
    import shutil

    build, batches, snapshot = _view_sink_specs()[name]
    frames = [spark.createDataFrame(r, schema) for r, schema in batches]
    view, ref = str(tmp_path / "view"), str(tmp_path / "ref")
    sink, ref_sink = build(view, 2), build(ref, 2)

    for bid in range(3):
        sink(frames[bid], bid)  # batch 1 folds 0..1 into base_upto_1
        ref_sink(frames[bid], bid)
    want = snapshot(spark, ref)
    assert snapshot(spark, view) == want

    sink(frames[2], 2)  # replay: overwrites delta 2
    assert snapshot(spark, view) == want
    sink(frames[1], 1)  # stale replay: batch 1 is in base_upto_1
    assert snapshot(spark, view) == want

    # crashed fold: a complete-looking base with no marker; stray copies
    # of a marked base and of a delta under names that do not parse
    shutil.copytree(
        os.path.join(view, "delta", "batch_id=2"),
        os.path.join(view, "base_upto_99"),
    )
    shutil.copytree(
        os.path.join(view, "base_upto_1"), os.path.join(view, "base_upto_3.bak")
    )
    shutil.copytree(
        os.path.join(view, "delta", "batch_id=2"),
        os.path.join(view, "delta", "batch_id=7.old"),
    )
    assert snapshot(spark, view) == want

    sink(frames[3], 3)  # folds base_upto_1 + deltas 2..3
    ref_sink(frames[3], 3)
    assert snapshot(spark, view) == snapshot(spark, ref)
    assert sorted(d for d in os.listdir(view) if d.startswith("base_upto_")) == [
        "base_upto_3",
        "base_upto_3.bak",
    ]
    assert os.path.exists(os.path.join(view, "base_upto_3", "_VIEW_READY"))
    assert os.listdir(os.path.join(view, "delta")) == ["batch_id=7.old"]


@pytest.mark.parametrize("name", sorted(_view_sink_specs()))
def test_view_sink_rejects_object_store_path_and_no_compaction(tmp_path, name):
    """The view store's marker and deletes are os-level, so every view
    sink refuses a scheme-qualified path, and compaction cannot be
    switched off: both are rejected before anything is written."""
    build = _view_sink_specs()[name][0]
    with pytest.raises(ValueError):
        build("file://" + str(tmp_path / "view"), 16)
    with pytest.raises(ValueError):
        build(str(tmp_path / "view"), 0)
    assert list(tmp_path.iterdir()) == []


def test_streaming_quantiles_composition(spark, tmp_path):
    """Mergeable-state quantiles END TO END through the streaming
    materialized view: per-batch value histograms land as deltas,
    the view's merged histogram must ADD exactly, and
    histogram_quantiles over the view equals the quantiles of the
    union of all batches computed in one shot — the bounded-state
    streaming-quantile pattern with no new operator code."""
    from flyq_spark.operators.profile import histogram_quantiles, value_histogram
    from flyq_spark.streaming.sink import (
        aggregate_view_sink,
        read_aggregate_view,
    )
    from pyspark.sql import functions as F

    from flyq_spark.operators.util import floor_div

    root = str(tmp_path / "qview")
    # keys = the histogram bin; the sink's built-in n_rows count IS the
    # bin count, so no measures are needed
    sink = aggregate_view_sink(root, keys=("bin_start",), measures={})
    import random

    rng = random.Random(9)
    all_rows = []
    bin_of = floor_div(F.col("c"), F.lit(1000).cast("long")) * 1000
    for bid in range(4):
        rows = [(rng.randint(-5000, 20000),) for _ in range(700)]
        all_rows += rows
        batch = spark.createDataFrame(rows, "c long")
        sink(batch.select(bin_of.alias("bin_start")), bid)

    view = read_aggregate_view(
        spark, root, keys=("bin_start",), measures=()
    ).select("bin_start", F.col("n_rows").alias("n"))
    hist_all = value_histogram(
        spark.createDataFrame(all_rows, "c long"), F.col("c"), 1000
    )
    merged = {r["bin_start"]: r["n"] for r in view.collect()}
    direct = {r["bin_start"]: r["n"] for r in hist_all.collect()}
    assert merged == direct
    q_view = histogram_quantiles(
        view.select("bin_start", "n"), (500, 950), keys=()
    ).collect()[0]
    q_direct = histogram_quantiles(hist_all, (500, 950), keys=()).collect()[0]
    assert (q_view["p500_bin"], q_view["p950_bin"]) == (
        q_direct["p500_bin"],
        q_direct["p950_bin"],
    )


def test_late_arrival_monitor_parity_and_replay(spark, tmp_path):
    """Streaming late-arrival monitor (r10): per-group lateness view
    maintained by late_arrival_monitor_sink vs an independent Python
    model of Structured Streaming's watermark contract (the watermark
    is FIXED per micro-batch and derives from prior batches only) —
    identical counters including after a REPLAYED micro-batch
    (own-delta overwrite) and across a base compaction; the watermark
    itself must equal the global per-group max event time."""
    from flyq_spark.streaming.sink import (
        late_arrival_monitor_sink,
        read_late_arrival_monitor,
    )

    t0 = 1_700_000_000_000_000
    # deterministic interleaving of on-time and late rows per group:
    # g0 strictly increasing (never late), g1 oscillating (late often)
    rows = []
    for i in range(240):
        g = f"g{i % 2}"
        if g == "g0":
            ts = t0 + i * 1_000_000
        else:
            ts = t0 + i * 1_000_000 - (0 if i % 3 else 150_000_000)
        rows.append((i, g, ts))
    batches = [rows[:80], rows[80:160], rows[160:]]
    thresholds = (60_000_000, 100_000_000)

    # independent model: watermark fixed per batch, from prior batches
    wm: dict = {}
    model: dict = {}
    for batch in batches:
        seen_max: dict = {}
        for _i, g, ts in batch:
            m = model.setdefault(
                g, {"n": 0, "max_late": 0, "total_late": 0,
                    "late": {t: 0 for t in thresholds}}
            )
            late = max(0, wm.get(g, ts) - ts)
            m["n"] += 1
            m["max_late"] = max(m["max_late"], late)
            m["total_late"] += late
            for t in thresholds:
                m["late"][t] += late > t
            seen_max[g] = max(seen_max.get(g, ts), ts)
        for g, mx in seen_max.items():
            wm[g] = max(wm.get(g, mx), mx)

    sink = late_arrival_monitor_sink(
        str(tmp_path / "lateview"), "g", "ts_us",
        thresholds_us=thresholds, compact_every=2,
    )
    for bid, batch in enumerate(batches):
        sink(spark.createDataFrame(batch, "id long, g string, ts_us long"), bid)
    # replay the final batch (same batch_id re-delivered after a
    # pre-commit crash): wm_before reads strictly-older state only, so
    # the rewritten delta must be byte-identical — no double count
    sink(spark.createDataFrame(batches[2], "id long, g string, ts_us long"), 2)

    got = {
        r["g"]: r
        for r in read_late_arrival_monitor(
            spark, str(tmp_path / "lateview"), "g", thresholds
        ).collect()
    }
    assert set(got) == {"g0", "g1"}
    for g, m in model.items():
        r = got[g]
        assert r["n_events"] == m["n"], g
        assert r["watermark_us"] == wm[g], g
        assert r["max_late_us"] == m["max_late"], g
        assert r["total_late_us"] == m["total_late"], g
        for t in thresholds:
            assert r[f"n_late_{t}us"] == m["late"][t], (g, t)
    # sanity: the monotone group never saw a late row; the oscillating
    # group did (the test is vacuous otherwise)
    assert got["g0"]["total_late_us"] == 0
    assert got["g1"][f"n_late_{thresholds[0]}us"] > 0


def test_streaming_temperature_mix_parity(spark, tmp_path):
    """Streaming mixture monitor (r10): per-source counts maintained by
    aggregate_view_sink (state = |sources| rows, never the stream),
    read back and fed to temperature_mix_from_counts — the
    (source, n_docs, weight, quota) plan must be identical to batch
    temperature_mix over the raw rows, including after a REPLAYED
    micro-batch and across a base compaction. The live-rebalancing
    composition: the quota plan is derivable from the running view at
    any moment without rescanning the stream."""
    from pyspark.sql import functions as F

    from flyq_spark.operators.corpus import (
        temperature_mix,
        temperature_mix_from_counts,
    )
    from flyq_spark.streaming.sink import (
        aggregate_view_sink,
        read_aggregate_view,
    )

    rows = [(i, f"src{(i * i) % 7}") for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    sink = aggregate_view_sink(
        str(tmp_path / "mixview"), ("source",), {}, compact_every=2
    )
    batches = [rows[:300], rows[300:600], rows[600:]]
    for bid, chunk in enumerate(batches):
        sink(spark.createDataFrame(chunk, "doc_id long, source string"), bid)
    sink(spark.createDataFrame(batches[2], "doc_id long, source string"), 2)

    view = read_aggregate_view(
        spark, str(tmp_path / "mixview"), ("source",), ()
    )
    counts = view.select("source", F.col("n_rows").alias("n_docs"))
    got = sorted(
        tuple(r)
        for r in temperature_mix_from_counts(
            counts, "source", "n_docs", 500, 1000
        ).collect()
    )
    want = sorted(
        tuple(r) for r in temperature_mix(df, "source", 500, 1000).collect()
    )
    assert got == want
    assert sum(r[3] for r in got) == 1000  # Sigma quota = budget

    # r12 (verdict #6): close the loop through the EPOCH PLAN — the
    # per-source allocation mixture_build realizes over the retained
    # corpus must equal the quotas the live view predicts at this
    # checkpoint (so a streaming pipeline can derive the batch epoch
    # plan from |sources| rows of state, never rescanning the stream)
    from flyq_spark.operators.corpus import mixture_build

    epoch = mixture_build(df, "source", 500, 1000)
    realized = {
        r["source"]: r["n"]
        for r in epoch.groupBy("source")
        .agg(F.sum("n_copies").cast("long").alias("n"))
        .collect()
    }
    predicted = {r[0]: r[3] for r in got if r[3] > 0}
    assert realized == predicted
    assert sum(realized.values()) == 1000


def test_late_arrival_monitor_drives_withwatermark_choice(spark, tmp_path):
    """The measurement half and the commitment half of the watermark
    story must AGREE (r10 verdict #6): size a withWatermark delay from
    the live lateness view (smallest threshold whose predicted drop
    rate is <= 50 permille), start a REAL windowed streaming
    aggregation with that delay over the same batch sequence, and
    assert the engine's own numRowsDroppedByWatermark equals the
    monitor's prediction exactly.

    Exact-alignment construction: every event time and every threshold
    is a whole second and the stream aggregates 1-second tumbling
    windows, so Spark's drop rule (window_end <= watermark, watermark
    = prior-batch max event time - delay, fixed per batch) coincides
    with the monitor's counter (lateness > t): for multiples of 1 s,
    lateness > t  <=>  lateness >= t + 1 s  <=>  ts + 1s <= max_prior
    - t. One file per micro-batch through a real parquet readStream
    keeps the batch boundaries identical to the monitor's."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from flyq_spark.streaming.sink import (
        late_arrival_monitor_sink,
        read_late_arrival_monitor,
    )

    SEC = 1_000_000
    t0 = 1_700_000_000 * SEC
    # single logical group: Structured Streaming's watermark is GLOBAL,
    # so the monitor must watch the same axis to size it
    rows, i = [], 0
    for b in range(3):
        for j in range(60):
            i += 1
            ts = t0 + (b * 60 + j) * SEC
            if b > 0 and j % 12 == 0:
                ts -= 75 * SEC   # late 75s + a bit vs running max
            elif b > 0 and j % 7 == 0:
                ts -= 40 * SEC
            rows.append((i, "all", ts))
    batches = [rows[:60], rows[60:120], rows[120:]]
    thresholds = (10 * SEC, 60 * SEC, 120 * SEC)

    sink = late_arrival_monitor_sink(
        str(tmp_path / "wmview"), "g", "ts_us",
        thresholds_us=thresholds, compact_every=4,
    )
    for bid, batch in enumerate(batches):
        sink(spark.createDataFrame(batch, "id long, g string, ts_us long"), bid)

    view = read_late_arrival_monitor(
        spark, str(tmp_path / "wmview"), "g", thresholds
    ).collect()[0]
    n_events = view["n_events"]
    # pick the smallest threshold with predicted drop rate <= 50 permille
    chosen = None
    for t in thresholds:
        if view[f"n_late_{t}us"] * 1000 <= 50 * n_events:
            chosen = t
            break
    assert chosen == 60 * SEC  # 10s would drop the 40s-late rows too
    predicted_drops = view[f"n_late_{chosen}us"]
    assert predicted_drops > 0  # commitment must actually cost something

    # --- the commitment half: a REAL stream with the chosen delay ---
    src_dir = str(tmp_path / "wmsrc")
    os.makedirs(src_dir)
    stream = (
        spark.readStream.schema("id long, g string, ts_us long")
        .parquet(src_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", f"{chosen // SEC} seconds")
        .groupBy(F.window("ts", "1 second"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("wm_commit")
        .option("checkpointLocation", str(tmp_path / "wmck"))
        .start()
    )
    try:
        import glob
        import shutil

        for bid, batch in enumerate(batches):
            # stage the batch, then land ONE flat file in the source dir
            # (the file source lists flat files; one add per drain ->
            # one micro-batch per monitor batch)
            stage = str(tmp_path / f"wmstage{bid}")
            spark.createDataFrame(
                batch, "id long, g string, ts_us long"
            ).coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.copy(part, os.path.join(src_dir, f"b{bid}.parquet"))
            deadline = time.time() + 120
            while True:
                q.processAllAvailable()
                total_in = sum(
                    json.loads(p.json)["numInputRows"]
                    for p in q.recentProgress
                )
                if total_in >= sum(len(b) for b in batches[: bid + 1]):
                    break
                assert time.time() < deadline, "stream stalled"
                time.sleep(0.2)
        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in json.loads(p.json)["stateOperators"]
        )
        total_in = sum(
            json.loads(p.json)["numInputRows"] for p in q.recentProgress
        )
    finally:
        q.stop()
    assert total_in == len(rows)
    assert dropped == predicted_drops


def test_contamination_monitor_parity_and_lower_bound(spark, tmp_path):
    """Streaming ingest-time decontamination screen (r11): when every
    train doc streams BEFORE the eval docs, the monitor's per-split
    rollup equals the batch contamination_report exactly; when eval
    docs arrive before some train shingles, the running counts are a
    strict LOWER bound; a replayed final batch changes nothing
    (idempotent batch_id-partitioned writes)."""
    import hashlib

    from flyq_spark.operators.corpus import contamination_report
    from flyq_spark.streaming.sink import (
        contamination_monitor_sink,
        read_contamination_monitor,
    )

    words = [f"w{j}" for j in range(40)]
    rows = []
    for i in range(1, 120):
        start = i % 30
        rows.append((i, " ".join(words[start : start + 4 + (i % 9)])))
    rows.append((200, "short doc"))  # < 4 words: no shingles, no row
    N = 4

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    train_rows = [r for r in rows if split_of(r[0]) == "train"]
    eval_rows = [r for r in rows if split_of(r[0]) != "train"]

    def run(batches, root):
        sink = contamination_monitor_sink(
            str(tmp_path / root / "out"),
            str(tmp_path / root / "state"),
            n=N,
        )
        for bid, batch in enumerate(batches):
            sink(spark.createDataFrame(batch, "doc_id long, text string"), bid)
        return sink

    # train-first ordering -> exact parity with the batch audit
    sink = run(
        [train_rows[:40], train_rows[40:], eval_rows[:30], eval_rows[30:]],
        "ordered",
    )
    got = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in read_contamination_monitor(
            spark, str(tmp_path / "ordered" / "out")
        ).collect()
    }
    want = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in contamination_report(
            spark.createDataFrame(rows, "doc_id long, text string"), n=N
        ).collect()
    }
    assert got == want
    assert any(v[3] > 0 for v in got.values())

    # replay the final batch: byte-identical rollup
    sink(
        spark.createDataFrame(eval_rows[30:], "doc_id long, text string"), 3
    )
    got2 = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in read_contamination_monitor(
            spark, str(tmp_path / "ordered" / "out")
        ).collect()
    }
    assert got2 == got

    # eval-first interleaving: same docs, same n_docs/n_ngrams, but
    # hits can only be missed, never invented (strict lower bound here:
    # batch-0 eval docs see ZERO train shingles)
    run([eval_rows, train_rows], "interleaved")
    got3 = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in read_contamination_monitor(
            spark, str(tmp_path / "interleaved" / "out")
        ).collect()
    }
    for s in want:
        assert got3[s][0] == want[s][0]  # same scored docs
        assert got3[s][2] == want[s][2]  # same shingle totals
        assert got3[s][3] < want[s][3]   # strictly fewer hits
        assert got3[s][1] <= want[s][1]


def test_contamination_monitor_compaction_and_replay(spark, tmp_path):
    """r12: the state store folds into a _VIEW_READY base every
    compact_every batches (bounded file count, duplicates deduped
    once), the rollup stays exactly equal to the batch audit under
    train-first ordering, and a replay of an already-COMPACTED final
    batch is byte-idempotent."""
    import hashlib

    from flyq_spark.operators.corpus import contamination_report
    from flyq_spark.streaming.sink import (
        contamination_monitor_sink,
        read_contamination_monitor,
    )

    words = [f"w{j}" for j in range(40)]
    rows = []
    for i in range(1, 120):
        start = i % 30
        rows.append((i, " ".join(words[start : start + 4 + (i % 9)])))
    N = 4

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    train_rows = [r for r in rows if split_of(r[0]) == "train"]
    eval_rows = [r for r in rows if split_of(r[0]) != "train"]
    state = tmp_path / "state"
    sink = contamination_monitor_sink(
        str(tmp_path / "out"), str(state), n=N, compact_every=2
    )
    batches = [
        train_rows[:30],
        train_rows[30:60],
        train_rows[60:],
        eval_rows,
    ]
    for bid, batch in enumerate(batches):
        sink(spark.createDataFrame(batch, "doc_id long, text string"), bid)

    # batch 3 triggered the second fold: a ready base covering it, and
    # at most compact_every-1 uncovered deltas remain
    bases = [d for d in os.listdir(state) if d.startswith("base_upto_")]
    assert bases == ["base_upto_3"]
    assert os.path.exists(state / "base_upto_3" / "_VIEW_READY")
    # the folded base is globally distinct — no cross-batch duplicates
    base_df = spark.read.parquet(str(state / "base_upto_3"))
    assert base_df.count() == base_df.distinct().count()

    def rollup():
        return {
            r["split"]: (
                r["n_docs"],
                r["n_contaminated_docs"],
                r["n_ngrams"],
                r["n_hits"],
            )
            for r in read_contamination_monitor(
                spark, str(tmp_path / "out")
            ).collect()
        }

    got = rollup()
    want = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in contamination_report(
            spark.createDataFrame(rows, "doc_id long, text string"), n=N
        ).collect()
    }
    assert got == want
    assert any(v[3] > 0 for v in got.values())

    # replay the final batch AFTER compaction folded it into the base:
    # the rewritten delta is covered by the base, output unchanged
    sink(spark.createDataFrame(batches[3], "doc_id long, text string"), 3)
    assert rollup() == got
    assert [
        d for d in os.listdir(state) if d.startswith("base_upto_")
    ] == ["base_upto_3"]


def test_contamination_monitor_store_probe_has_no_store_side_exchange(
    spark, tmp_path
):
    """r12 scale contract for the streaming decontamination check (the
    r11 verdict's one weak grade): the store probe must plan as a
    BroadcastHashJoin with the BATCH side broadcast — the accepted-
    shingle store is scanned once and never re-shuffled (no
    SortMergeJoin/ShuffledHashJoin, whose Exchange on the store side
    would grow per-batch cost with stream history)."""
    from flyq_spark.streaming.sink import _store_probe_hits

    store = tmp_path / "state"
    for bid in range(3):
        spark.range(bid * 50, bid * 50 + 100).select(
            F.col("id").alias("ng")
        ).write.mode("overwrite").parquet(str(store / f"delta/batch_id={bid}"))
    known = spark.read.parquet(
        *[str(store / f"delta/batch_id={b}") for b in range(3)]
    ).select("ng")
    eval_ng = spark.createDataFrame(
        [("val", 1, 60), ("val", 1, 61), ("test", 2, 10)],
        "split string, doc_id long, ng long",
    )
    probe = _store_probe_hits(known, eval_ng, "doc_id")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # and the semantics: multi-batch duplicate store ngs count once
    got = {(r["split"], r["doc_id"]): r["n_contaminated"] for r in probe.collect()}
    assert got == {("val", 1): 2, ("test", 2): 1}


def test_streaming_quality_rate_parity(spark, tmp_path):
    """r12: live corpus-quality monitoring needs ZERO new code — stream
    each batch's quality_filter verdicts into aggregate_view_sink keyed
    on (reason,) and the running view equals the batch quality_filter
    rollup over everything ingested, at any checkpoint, including after
    a replayed micro-batch and across a base compaction (the same
    composition pattern as the mixture monitor)."""
    from pyspark.sql import functions as F

    from flyq_spark.operators.text import quality_filter
    from flyq_spark.streaming.sink import (
        aggregate_view_sink,
        read_aggregate_view,
    )

    words = [f"w{j}" for j in range(30)]
    rows = []
    for i in range(600):
        if i % 7 == 0:
            text = "tiny doc"                       # too_short
        elif i % 11 == 0:
            # 6/26 words = 23% > the 15% top-word cap -> repetitive_word
            text = "rep rep rep rep rep rep " + " ".join(words[:20])
        else:
            text = " ".join(words[i % 8 : i % 8 + 22])
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sink = aggregate_view_sink(
        str(tmp_path / "qview"), ("reason",), {}, compact_every=2
    )
    batches = [rows[:200], rows[200:400], rows[400:]]
    for bid, chunk in enumerate(batches):
        batch_df = spark.createDataFrame(chunk, "doc_id long, text string")
        sink(quality_filter(batch_df), bid)
    # at-least-once replay of the final batch: overwrite, not double-count
    sink(
        quality_filter(
            spark.createDataFrame(batches[2], "doc_id long, text string")
        ),
        2,
    )

    view = read_aggregate_view(spark, str(tmp_path / "qview"), ("reason",), ())
    got = {r["reason"]: r["n_rows"] for r in view.collect()}
    want = {
        r["reason"]: r["n"]
        for r in quality_filter(df)
        .groupBy("reason")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == want
    assert got.get("too_short", 0) > 0 and got.get("repetitive_word", 0) > 0
    assert sum(got.values()) == len(rows)


def test_streaming_bpe_parity(spark, tmp_path):
    """Streaming tokenizer freshness (r12): a word-count view
    maintained by aggregate_view_sink (state = |vocab| rows, never the
    stream) feeds train_bpe_from_counts — the learned merge table must
    be IDENTICAL to batch train_bpe over the raw rows, including after
    a REPLAYED micro-batch and across a base compaction. Same
    from-counts composition as the mixture monitor: the tokenizer is
    re-derivable from the running view at any checkpoint without
    rescanning the stream."""
    from pyspark.sql import functions as F

    from flyq_spark.operators.bpe import train_bpe, train_bpe_from_counts
    from flyq_spark.streaming.sink import (
        aggregate_view_sink,
        read_aggregate_view,
    )

    texts = [
        (i, ["low lower newest", "widest low the", "the newest low est"][i % 3])
        for i in range(90)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    def words(rows):
        return (
            spark.createDataFrame(rows, "doc_id long, text string")
            .select(F.explode(F.split(F.lower("text"), "\\s+")).alias("word"))
            .where(F.col("word") != "")
        )

    sink = aggregate_view_sink(
        str(tmp_path / "bpeview"), ("word",), {}, compact_every=2
    )
    batches = [texts[:30], texts[30:60], texts[60:]]
    for bid, chunk in enumerate(batches):
        sink(words(chunk), bid)
    sink(words(batches[1]), 1)  # at-least-once replay of batch 1

    view = read_aggregate_view(spark, str(tmp_path / "bpeview"), ("word",), ())
    streamed = train_bpe_from_counts(
        view.select("word", F.col("n_rows").alias("freq")), n_merges=12
    )
    batch = train_bpe(df, n_merges=12)
    assert streamed == batch
    assert len(batch) >= 5  # the fixture actually learns merges
