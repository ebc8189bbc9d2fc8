"""Engine roundtrip tests — ports of flyq-server/tests/engine.rs plus the
reference author's own TODO gaps (engine.rs:148-157)."""

from __future__ import annotations

import os

from tests.conftest import make_messages


def test_topic_dir_layout_on_create(engine):
    """engine.rs:10-55: create_topic lays out topic/partition dirs."""
    engine.create_topic("orders", partitions=3)
    tdir = os.path.join(engine.base_dir, "topic_orders")
    assert os.path.isdir(tdir)
    for p in range(3):
        assert os.path.isdir(os.path.join(tdir, f"partition={p}"))
    assert engine.topic_partitions("orders") == 3
    assert engine.list_topics() == ["orders"]


def test_auto_create_on_produce_offset_zero(engine):
    """engine.rs:57-89: producing to an unknown topic auto-creates it with
    the default partition count and assigns offset 0."""
    acks = engine.produce("clicks", make_messages(1))
    assert engine.topic_exists("clicks")
    assert engine.topic_partitions("clicks") == 1  # DEFAULT_PARTITION_CNT
    assert acks == [(0, 0)]


def test_produce_consume_roundtrip_field_exact(engine):
    """engine.rs:91-118: every message field survives the roundtrip."""
    headers = [("trace", b"abc"), ("source", b"unit-test")]
    engine.create_topic("events", partitions=1)
    engine.produce(
        "events",
        [
            {
                "key": b"user-1",
                "value": b"payload-bytes",
                "timestamp": 1_700_000_123_456,
                "headers": headers,
            }
        ],
    )
    row = engine.consume("events", 0, 0)
    assert row is not None
    assert row["offset"] == 0
    assert bytes(row["key"]) == b"user-1"
    assert bytes(row["value"]) == b"payload-bytes"
    assert int(row["timestamp"].timestamp() * 1000) == 1_700_000_123_456
    assert [(h["key"], bytes(h["value"])) for h in row["headers"]] == headers


def test_consume_past_end_returns_none(engine):
    """engine.rs:120-146: consuming beyond the log is a graceful None."""
    engine.produce("t", make_messages(3))
    assert engine.consume("t", 0, 3) is None
    assert engine.consume("t", 0, 99) is None


def test_consume_before_produce(engine):
    """Author TODO gap (engine.rs:148-157): consume on a created-but-empty
    topic."""
    engine.create_topic("empty", partitions=1)
    assert engine.consume("empty", 0, 0) is None


def test_consume_at_exact_end(engine):
    """Author TODO gap: offset == log_end_offset is past-end."""
    engine.produce("t", make_messages(5))
    _, _, leo = engine.get_watermark("t", 0)
    assert leo == 5
    assert engine.consume("t", 0, leo) is None
    assert engine.consume("t", 0, leo - 1) is not None


def test_offsets_dense_and_ordered_across_batches(engine):
    """partition_state.rs:27-29: offsets continue densely across produce
    calls; values read back in offset order match arrival order."""
    engine.create_topic("t", partitions=2)
    engine.produce("t", make_messages(5))
    engine.produce("t", make_messages(5))
    for p in (0, 1):
        rows = engine.read_from_offset("t", p, 0)
        offsets = [int(r["offset"]) for r in rows]
        assert offsets == list(range(len(offsets)))
    total = sum(len(engine.read_from_offset("t", p, 0)) for p in (0, 1))
    assert total == 10


def test_keyed_routing_stable_and_scoped(engine):
    """topic.rs:76-93: all messages with one key land in one partition;
    consume_by_key returns exactly them, in order."""
    engine.create_topic("t", partitions=4)
    engine.produce("t", make_messages(6, key=b"alpha"))
    engine.produce("t", make_messages(4, key=b"beta"))
    rows = engine.consume_by_key("t", b"alpha")
    assert len(rows) == 6
    assert len({int(r["partition"]) for r in rows}) == 1
    assert [int(r["offset"]) for r in rows] == sorted(int(r["offset"]) for r in rows)
    assert all(bytes(r["key"]) == b"alpha" for r in rows)


def test_consume_next(engine):
    """client.rs:202-209 stub semantics: first message after last_seen."""
    engine.produce("t", make_messages(5))
    row = engine.consume_next("t", 0, 2)
    assert int(row["offset"]) == 3
    assert engine.consume_next("t", 0, 4) is None


def test_stream_from_offset_crosses_files(engine):
    """partition.rs:311-355: range scans cross segment (file) boundaries
    in offset order."""
    for _ in range(3):  # three separate produce calls -> three parquet files
        engine.produce("t", make_messages(4))
    health = engine.get_partition_health("t", 0)
    assert health["segment_count"] >= 2
    rows = engine.read_from_offset("t", 0, 2)
    assert [int(r["offset"]) for r in rows] == list(range(2, 12))


def test_produce_dataframe_batch(engine, spark):
    """DataFrame produce path: larger batch, acks summarized per partition."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .select(
            F.col("id").alias("seq"),
            F.encode(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")), "utf-8").alias("key"),
            F.encode(F.concat(F.lit("v"), F.col("id").cast("string")), "utf-8").alias("value"),
            F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias("timestamp"),
        )
    )
    acks = engine.produce("big", df)
    assert sum(leo - base for base, leo in acks.values()) == 100
    low, high, leo = engine.get_watermark("big", 0)
    assert leo == len(engine.read_from_offset("big", 0, 0))


def test_compaction_preserves_data(engine):
    for _ in range(4):
        engine.produce("t", make_messages(3))
    before = engine.read_from_offset("t", 0, 0)
    n_files = engine.compact_partition("t", 0)
    assert n_files == 1
    after = engine.read_from_offset("t", 0, 0)
    assert [int(r["offset"]) for r in after] == [int(r["offset"]) for r in before]
    assert [bytes(r["value"]) for r in after] == [bytes(r["value"]) for r in before]


def test_compaction_over_target_splits_files(spark, tmp_path):
    """Byte-targeted parallel compaction: a partition larger than
    segment_max_bytes must compact to MULTIPLE offset-range files (no
    coalesce(1) straggler), each file a contiguous offset range, with the
    full offset sequence preserved."""
    from flyq_spark import storage
    from flyq_spark.config import EngineConfig
    from flyq_spark.engine import FlyQEngine

    eng = FlyQEngine(
        spark, str(tmp_path), EngineConfig(segment_max_bytes=4096)
    )
    for _ in range(5):
        eng.produce("t", make_messages(200, value_size=64))
    before = [int(r["offset"]) for r in eng.read_from_offset("t", 0, 0)]
    n_files = eng.compact_partition("t", 0)
    assert n_files > 1
    stats = storage.partition_file_stats(str(tmp_path), "t", 0)
    ranges = sorted((s.min_offset, s.max_offset) for s in stats)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint contiguous ranges
    after = [int(r["offset"]) for r in eng.read_from_offset("t", 0, 0)]
    assert after == before


def test_repair_topic_recovers_leo_from_footers(engine):
    """A18/A19 recovery: wipe the meta watermark bookkeeping (simulating a
    crash between data write and meta commit) and rebuild it from parquet
    footer stats."""
    from flyq_spark import storage
    from tests.conftest import make_messages

    engine.create_topic("r", partitions=2)
    engine.produce("r", make_messages(10))
    meta = storage.load_topic_meta(engine.base_dir, "r")
    meta["log_end_offsets"] = {}
    meta["low_watermarks"] = {}
    storage.save_topic_meta(engine.base_dir, "r", meta)
    assert engine.get_watermark("r", 0) == (0, 0, 0)  # stale meta

    engine.repair_topic("r")
    assert engine.get_watermark("r", 0) == (0, 4, 5)
    assert engine.get_watermark("r", 1) == (0, 4, 5)


def test_consume_plan_pushes_partition_and_offset(engine):
    """The scale contract of the read path: partition reaches the scan as
    a PartitionFilter (dir pruning) and offset as a pushed data filter
    (footer-stats skipping) — the reference's seek path, for free."""
    from pyspark.sql import functions as F
    from tests.conftest import make_messages

    engine.create_topic("pp", partitions=4)
    engine.produce("pp", make_messages(40))
    df = engine.log("pp").where((F.col("partition") == 2) & (F.col("offset") == 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "partition" in plan.split("PartitionFilters", 1)[1][:120]
    pushed = plan.split("PushedFilters: [", 1)[1][:120]
    assert "EqualTo(offset,5)" in pushed


def test_register_views_sql_surface(engine, spark):
    """Every read-side client op is expressible as plain SQL over the
    registered views: point consume, range scan, and the lag join."""
    engine.create_topic("sqlt", partitions=2)
    engine.produce(
        "sqlt",
        [
            {"key": b"a", "value": f"v{i}".encode(), "timestamp": 1_700_000_000_000 + i}
            for i in range(10)
        ],
    )
    engine.commit_offset("g1", "sqlt", 0, 2)
    names = engine.register_views()
    assert "flyq_sqlt" in names and "flyq_watermarks" in names

    point = spark.sql(
        "SELECT value FROM flyq_sqlt WHERE partition = 0 AND offset = 0"
    ).collect()
    assert len(point) == 1

    n = spark.sql("SELECT count(*) AS n FROM flyq_sqlt").first()["n"]
    assert n == 10

    lag = spark.sql(
        """
        SELECT w.partition,
               w.log_end_offset - coalesce(o.offset, 0) AS lag
        FROM flyq_watermarks w
        LEFT JOIN flyq_consumer_offsets o
          ON o.topic = w.topic AND o.partition = w.partition AND o.group = 'g1'
        WHERE w.topic = 'sqlt'
        ORDER BY w.partition
        """
    ).collect()
    by_part = {r["partition"]: r["lag"] for r in lag}
    leo = {
        p: engine.get_watermark("sqlt", p)[2] for p in (0, 1)
    }
    assert by_part[0] == leo[0] - 2 and by_part[1] == leo[1]


def test_cli_sql_subcommand(engine, spark, capsys):
    """flyq sql: plain SELECT over the registered broker views."""
    from flyq_spark import cli

    engine.create_topic("clisql", partitions=1)
    engine.produce(
        "clisql",
        [{"key": None, "value": b"x", "timestamp": 1_700_000_000_000}] * 3,
    )
    args = cli.build_parser().parse_args(
        [
            "--base-dir", engine.base_dir,
            "sql",
            "SELECT count(*) AS n FROM flyq_clisql",
        ]
    )
    out = cli.run(args, engine)
    assert out["rows"] == [{"n": 3}]


def test_offsets_for_times_seek(engine, spark):
    """Kafka offsetsForTimes semantics: earliest offset with ts >= cutoff
    per partition; None where no record qualifies."""
    engine.create_topic("seek", partitions=2)
    t0 = 1_700_000_000_000
    engine.produce(
        "seek",
        [
            {"key": b"a", "value": b"x", "timestamp": t0 + i * 1000}
            for i in range(10)
        ],
    )
    # round-robin: partition p holds seqs p, p+2, ... -> ts t0+p*1000, +2000...
    got = engine.offsets_for_times("seek", t0 + 5000)
    log = {
        (r["partition"], r["offset"]): r["timestamp"]
        for r in engine.log("seek").collect()
    }
    expected = {}
    for p in (0, 1):
        offs = sorted(
            o for (pp, o) in log if pp == p
            and log[(pp, o)].timestamp() * 1000 >= t0 + 5000
        )
        expected[p] = offs[0] if offs else None
    assert got == expected
    assert engine.offsets_for_times("seek", t0 + 10_000_000) == {0: None, 1: None}


def test_mirror_topic_preserves_offsets(engine, spark, tmp_path):
    """Mirrored topic is row-identical (partition, offset, key, value)
    and consumers resume at the same offsets on the mirror."""
    from flyq_spark.engine import FlyQEngine

    engine.create_topic("mt", partitions=2)
    engine.produce(
        "mt",
        [
            {"key": str(i % 3).encode(), "value": f"v{i}".encode(),
             "timestamp": 1_700_000_000_000 + i}
            for i in range(20)
        ],
    )
    dst = FlyQEngine(engine.spark, str(tmp_path / "mirror"))
    meta = dst.mirror_topic(engine, "mt")
    assert meta["partitions"] == 2
    src_rows = {
        (r["partition"], r["offset"], bytes(r["key"]), bytes(r["value"]))
        for r in engine.log("mt").collect()
    }
    dst_rows = {
        (r["partition"], r["offset"], bytes(r["key"]), bytes(r["value"]))
        for r in dst.log("mt").collect()
    }
    assert src_rows == dst_rows and len(src_rows) == 20
    for p in (0, 1):
        assert dst.get_watermark("mt", p) == engine.get_watermark("mt", p)


def test_delete_records_truncation(engine, spark):
    """deleteRecords semantics: low watermark advances immediately;
    files entirely below the cutoff vanish; reads clamp at the new low;
    a straddling file keeps its above-cutoff rows readable."""
    from flyq_spark.engine import FlyQEngine

    eng = FlyQEngine(engine.spark, engine.base_dir, )
    eng.create_topic("trunc", partitions=1)
    # three produce batches -> three files in partition 0
    for batch in range(3):
        eng.produce(
            "trunc",
            [
                {"key": None, "value": f"b{batch}m{i}".encode(),
                 "timestamp": 1_700_000_000_000 + batch * 10 + i}
                for i in range(5)
            ],
        )
    assert eng.get_watermark("trunc", 0) == (0, 14, 15)
    deleted = eng.delete_records("trunc", 0, before_offset=7)
    assert len(deleted) == 1  # the offsets 0-4 file; 5-9 straddles and stays
    low, high, leo = eng.get_watermark("trunc", 0)
    assert (low, high, leo) == (7, 14, 15)
    remaining = sorted(
        r["offset"] for r in eng.log("trunc").where("partition = 0").collect()
    )
    assert remaining == list(range(5, 15))  # straddler keeps 5,6 physically
    assert eng.consume("trunc", 0, 10) is not None


def test_dataframe_produce_dense_seq_round_robin(engine, spark):
    """A DataFrame batch WITHOUT seq gets a dense scan-order seq, so
    keyless round-robin is strict arrival-order (topic.rs:80-83) even
    when the batch spans many spark partitions, and the persisted
    cursor equals the number of keyless rows routed."""
    from pyspark.sql import functions as F

    from flyq_spark import storage

    engine.create_topic("dfp", partitions=4)
    m = 25  # not a multiple of 4: partitions end unevenly
    batch = (
        spark.range(m)
        .repartition(7)  # force a multi-partition, shuffled scan order
        .select(
            F.lit(None).cast("binary").alias("key"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("value"),
            F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias(
                "timestamp"
            ),
        )
    )
    engine.produce("dfp", batch)
    # arrival order is the scan order the engine stamped; recover it from
    # (partition, offset) — within a partition offsets follow seq order —
    # and check the global interleave is a strict 0,1,2,3,0,1,... cycle.
    rows = engine.log("dfp").select("partition", "offset").collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(int(r["partition"]), []).append(int(r["offset"]))
    # strict RR from cursor 0 over 25 rows: partition p gets ceil((25-p)/4)
    assert {p: len(v) for p, v in by_part.items()} == {0: 7, 1: 6, 2: 6, 3: 6}
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs)))
    meta = storage.load_topic_meta(engine.base_dir, "dfp")
    assert int(meta["rr_cursor"]) == 25 % 4


def test_mixed_batch_keyless_only_cursor_advance(engine):
    """Reference parity for MIXED batches: keyed messages do not consume
    round-robin slots and do not advance the cursor (topic.rs:77-87)."""
    from flyq_spark import storage
    from flyq_spark.functions.hashing import flyq_partition_for_key

    engine.create_topic("mix", partitions=4, )
    batch = [
        {"key": b"k-a", "value": b"v0", "timestamp": 1_700_000_000_000},
        {"key": None, "value": b"v1", "timestamp": 1_700_000_000_001},
        {"key": b"", "value": b"v2", "timestamp": 1_700_000_000_002},  # Q1: keyless
        {"key": b"k-b", "value": b"v3", "timestamp": 1_700_000_000_003},
        {"key": None, "value": b"v4", "timestamp": 1_700_000_000_004},
    ]
    acks = engine.produce("mix", batch, method="xxh3")
    # keyless rows v1, v2, v4 take RR ranks 0, 1, 2 -> partitions 0, 1, 2
    assert acks[1][0] == 0 and acks[2][0] == 1 and acks[4][0] == 2
    # keyed rows route by hash, independent of the cycle
    assert acks[0][0] == flyq_partition_for_key(b"k-a", 4)
    assert acks[3][0] == flyq_partition_for_key(b"k-b", 4)
    meta = storage.load_topic_meta(engine.base_dir, "mix")
    assert int(meta["rr_cursor"]) == 3  # 3 keyless rows, not 5
    # a second keyless produce continues the cycle at partition 3
    acks2 = engine.produce(
        "mix", [{"key": None, "value": b"v5", "timestamp": 1_700_000_000_005}]
    )
    assert acks2[0][0] == 3


def test_register_views_sanitizes_broker_style_topic_names(engine, spark):
    """Broker-legal topic names ('-', '.') are illegal SQL identifiers;
    view registration must sanitize, not abort the loop."""
    engine.create_topic("svc-a.events.v2", partitions=1)
    engine.produce(
        "svc-a.events.v2",
        [{"key": None, "value": b"x", "timestamp": 1_700_000_000_000}] * 2,
    )
    engine.create_topic("plain", partitions=1)
    names = engine.register_views()
    assert "flyq_svc_a_events_v2" in names and "flyq_plain" in names
    n = spark.sql("SELECT count(*) AS n FROM flyq_svc_a_events_v2").first()["n"]
    assert n == 2


def test_delete_records_beyond_leo_raises(engine):
    """Kafka rejects deleteRecords past the high watermark
    (OFFSET_OUT_OF_RANGE); clamping silently would let low > LEO."""
    import pytest

    engine.create_topic("bound", partitions=1)
    engine.produce(
        "bound",
        [{"key": None, "value": b"x", "timestamp": 1_700_000_000_000 + i}
         for i in range(5)],
    )
    with pytest.raises(ValueError, match="OFFSET_OUT_OF_RANGE"):
        engine.delete_records("bound", 0, before_offset=99)
    assert engine.get_watermark("bound", 0) == (0, 4, 5)


def test_compaction_crash_recovery(engine):
    """A compaction interrupted mid-swap must roll back losslessly: a
    stranded .partition=0.old with the live dir missing is restored,
    a stale .partition=0.staged is swept, and data/watermarks are
    intact afterward."""
    import os
    import shutil

    from flyq_spark import storage
    from tests.conftest import make_messages

    engine.produce("cc", make_messages(30))
    pdir = storage.partition_dir(engine.base_dir, "cc", 0)
    tmp = os.path.join(os.path.dirname(pdir), ".partition=0.staged")
    old = os.path.join(os.path.dirname(pdir), ".partition=0.old")
    # simulate: crash between rename(live->old) and rename(staged->live)
    os.makedirs(tmp)  # incomplete rewrite (no _SUCCESS, no files)
    os.rename(pdir, old)
    assert not os.path.isdir(pdir)
    engine.repair_topic("cc")
    assert os.path.isdir(pdir) and not os.path.isdir(old) and not os.path.isdir(tmp)
    assert engine.read_from_offset("cc", 0, 0)[0]["offset"] == 0
    assert len(engine.read_from_offset("cc", 0, 0)) == 30
    # simulate: crash after the swap, old not yet removed
    shutil.copytree(pdir, old)
    storage.restore_dir(pdir)
    assert os.path.isdir(pdir) and not os.path.isdir(old)
    # repair_topic also runs the recovery
    os.makedirs(tmp)
    meta = engine.repair_topic("cc")
    assert not os.path.isdir(tmp)
    assert int(meta["log_end_offsets"]["0"]) == 30
    # a real compaction still works end-to-end after all that
    engine.compact_partition("cc", 0)
    assert len(engine.read_from_offset("cc", 0, 0)) == 30


def test_compact_by_key_exempts_empty_key(engine):
    """Quirk Q1: b'' is KEYLESS (codec can't distinguish it from None),
    so compaction must never collapse empty-key records."""
    msgs = [
        {"key": b"", "value": f"k{i}".encode(), "timestamp": 1_700_000_000_000 + i}
        for i in range(6)
    ] + [
        {"key": b"real", "value": f"r{i}".encode(), "timestamp": 1_700_000_100_000 + i}
        for i in range(3)
    ]
    engine.create_topic("ek", partitions=1)
    engine.produce("ek", msgs)
    n = engine.compact_partition_by_key("ek", 0)
    rows = engine.read_from_offset("ek", 0, 0)
    empties = [r for r in rows if r["key"] == bytearray(b"") or r["key"] == b""]
    reals = [r for r in rows if bytes(r["key"] or b"") == b"real"]
    assert len(empties) == 6  # all keyless records survive
    assert len(reals) == 1    # keyed records compact to latest
    assert n == len(rows)


def test_delete_records_reads_clamp_at_low(engine):
    """Logical truncation: a straddling file keeps truncated rows on
    disk, but every read path starts at the low watermark."""
    from tests.conftest import make_messages

    engine.produce("dr", make_messages(10, key=b"a"))
    engine.delete_records("dr", 0, 5)
    low, high, leo = engine.get_watermark("dr", 0)
    assert (low, high, leo) == (5, 9, 10)
    assert engine.consume("dr", 0, 0)["offset"] == 5  # clamped, not 0
    offs = [r["offset"] for r in engine.read_from_offset("dr", 0, 0)]
    assert offs == [5, 6, 7, 8, 9]
    by_key = engine.consume_by_key("dr", b"a")
    assert min(r["offset"] for r in by_key) == 5
    got = engine.consume_with_group("dr", 0, "g1")
    assert got is not None and got[1]["offset"] == 5


def test_retention_time_stops_at_first_survivor(engine, spark):
    """Contiguity (partition.rs:225-308): a too-old file BEHIND a
    recent one is never deleted — removing it would advance the low
    watermark past still-live older offsets."""
    from tests.conftest import make_messages

    # file 1: RECENT timestamps; file 2: OLD; file 3: newest (active)
    t_new = 1_700_000_000_000
    t_old = 1_600_000_000_000
    engine.create_topic("oo", partitions=1)
    engine.produce("oo", [{"key": None, "value": b"a", "timestamp": t_new}])
    engine.produce("oo", [{"key": None, "value": b"b", "timestamp": t_old}])
    engine.produce("oo", [{"key": None, "value": b"c", "timestamp": t_new + 1}])
    deleted = engine.apply_retention(
        "oo", now_ms=t_new + 10_000, retention_ms=3_600_000
    )
    # the old file (offset 1) sits behind the recent file (offset 0):
    # contiguity forbids deleting it
    assert deleted == []
    low, _, leo = engine.get_watermark("oo", 0)
    assert (low, leo) == (0, 3)
    # but when the OLDEST file is the stale one, it goes
    engine.create_topic("oo2", partitions=1)
    engine.produce("oo2", [{"key": None, "value": b"a", "timestamp": t_old}])
    engine.produce("oo2", [{"key": None, "value": b"b", "timestamp": t_new}])
    engine.produce("oo2", [{"key": None, "value": b"c", "timestamp": t_new + 1}])
    deleted = engine.apply_retention(
        "oo2", now_ms=t_new + 10_000, retention_ms=3_600_000
    )
    assert len(deleted) == 1
    low, _, _ = engine.get_watermark("oo2", 0)
    assert low == 1


def test_register_views_case_collision_and_vanished_topic(engine, spark):
    """Case-folded collision handling (Spark view names are
    case-insensitive) and resilience to a topic that fails to load."""
    from tests.conftest import make_messages

    engine.produce("CaseT", make_messages(2))
    engine.produce("caset", make_messages(3))
    names = engine.register_views(["CaseT", "caset", "never_existed"])
    log_views = [n for n in names if n.startswith("flyq_") and "case" in n.lower()]
    assert len(log_views) == 2 and len({v.lower() for v in log_views}) == 2
    counts = sorted(
        engine.spark.sql(f"SELECT count(*) AS c FROM {v}").collect()[0]["c"]
        for v in log_views
    )
    assert counts == [2, 3]
    # the vanished topic is skipped; watermark view still registered
    wm = engine.spark.sql(
        "SELECT DISTINCT topic FROM flyq_watermarks ORDER BY topic"
    ).collect()
    assert {r["topic"] for r in wm} == {"CaseT", "caset"}


def test_mirror_preserves_config_cursor_and_truncated_leo(engine, spark, tmp_path):
    """MirrorMaker parity: config overrides, the round-robin cursor,
    and the watermark triple of a fully-truncated partition all survive
    mirroring (footers alone cannot rebuild them)."""
    from flyq_spark.engine import FlyQEngine
    from tests.conftest import make_messages

    engine.create_topic("mt", partitions=2, retention_ms=1234)
    engine.produce("mt", make_messages(10))
    # fully truncate partition 0 (delete everything below its LEO)
    leo0 = engine.get_watermark("mt", 0)[2]
    engine.delete_records("mt", 0, leo0)
    mirror = FlyQEngine(spark, str(tmp_path / "mirror"))
    meta = mirror.mirror_topic(engine, "mt")
    src_meta = engine._meta("mt")
    assert meta["config"].get("retention_ms") == 1234
    assert int(meta["rr_cursor"]) == int(src_meta["rr_cursor"])
    assert mirror.get_watermark("mt", 0) == engine.get_watermark("mt", 0)
    assert mirror.get_watermark("mt", 1) == engine.get_watermark("mt", 1)


def test_assign_partitions_strategies(spark, tmp_path):
    """Range + round-robin assignors: deterministic from (sorted
    members, partition count) alone, every partition exactly once,
    range keeps contiguous runs with sizes differing by at most one."""
    from flyq_spark.engine import FlyQEngine

    eng = FlyQEngine(spark, str(tmp_path))
    eng.create_topic("t", partitions=7)

    rng = eng.assign_partitions("t", ["c-b", "c-a", "c-c"], "range")
    assert rng == {"c-a": [0, 1, 2], "c-b": [3, 4], "c-c": [5, 6]}
    rr = eng.assign_partitions("t", ["c-b", "c-a", "c-c"], "roundrobin")
    assert rr == {"c-a": [0, 3, 6], "c-b": [1, 4], "c-c": [2, 5]}
    for a in (rng, rr):
        got = sorted(p for ps in a.values() for p in ps)
        assert got == list(range(7))
    # more consumers than partitions: tail members get empty lists
    many = eng.assign_partitions("t", [f"m{i}" for i in range(9)], "range")
    assert sum(len(v) for v in many.values()) == 7
    assert [len(many[f"m{i}"]) for i in range(9)] == [1] * 7 + [0, 0]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.assign_partitions("t", [], "range")
    with _pytest.raises(ValueError):
        eng.assign_partitions("t", ["a", "a"], "range")
    with _pytest.raises(ValueError):
        eng.assign_partitions("t", ["a"], "sticky")
