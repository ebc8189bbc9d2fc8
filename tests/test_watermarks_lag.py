"""Watermark + consumer-lag tests — ports of
flyq-server/tests/watermark_apis.rs and tests/offset_tracker.rs."""

from __future__ import annotations

from tests.conftest import make_messages


def test_fresh_partition_watermarks_zero(engine):
    """watermark_apis.rs:21-24: fresh partition reports (0, 0, 0)."""
    engine.create_topic("watermark-test", partitions=1)
    assert engine.get_watermark("watermark-test", 0) == (0, 0, 0)


def test_watermarks_after_ten_appends(engine):
    """watermark_apis.rs:26-41: after 10 appends -> (0, 9, 10)."""
    engine.create_topic("watermark-test", partitions=1)
    engine.produce("watermark-test", make_messages(10))
    assert engine.get_watermark("watermark-test", 0) == (0, 9, 10)


def test_consumer_lag_progression_19_9_0(engine):
    """watermark_apis.rs:56-92: 20 messages -> lag 19 (hw=19, committed=0);
    commit 10 -> 9; commit 19 -> 0."""
    engine.create_topic("lag-test", partitions=1)
    engine.produce("lag-test", make_messages(20))

    res = engine.get_consumer_lag("test-group", "lag-test")
    assert res["total_lag"] == 19
    assert len(res["partitions"]) == 1
    p0 = res["partitions"][0]
    assert (p0["committed_offset"], p0["high_watermark"], p0["lag"]) == (0, 19, 19)

    engine.commit_offset("test-group", "lag-test", 0, 10)
    res = engine.get_consumer_lag("test-group", "lag-test")
    assert res["total_lag"] == 9
    p0 = res["partitions"][0]
    assert (p0["committed_offset"], p0["high_watermark"], p0["lag"]) == (10, 19, 9)

    engine.commit_offset("test-group", "lag-test", 0, 19)
    assert engine.get_consumer_lag("test-group", "lag-test")["total_lag"] == 0


def test_lag_clamped_at_zero_when_overcommitted(engine):
    """log_engine.rs:209 saturating_sub: committed = leo > hw -> lag 0."""
    engine.produce("t", make_messages(5))
    engine.commit_offset("g", "t", 0, 5)
    assert engine.get_consumer_lag("g", "t")["total_lag"] == 0


def test_partition_health(engine):
    """watermark_apis.rs:96-137: 100 x 1 KiB messages -> size > 100 KiB,
    watermarks (0, 99, 100). (Divergence: an empty parquet partition has 0
    files, not 1 — there is no pre-allocated active segment.)"""
    engine.create_topic("health-test", partitions=1)
    h = engine.get_partition_health("health-test", 0)
    assert (h["segment_count"], h["total_size_bytes"]) == (0, 0)
    assert (h["low_watermark"], h["high_watermark"], h["log_end_offset"]) == (0, 0, 0)
    assert h["last_cleanup"] is None

    engine.produce("health-test", make_messages(100, value_size=1024))
    h = engine.get_partition_health("health-test", 0)
    assert h["segment_count"] >= 1
    assert h["total_size_bytes"] > 0
    assert (h["low_watermark"], h["high_watermark"], h["log_end_offset"]) == (0, 99, 100)


def test_multi_topic_lag(engine):
    """watermark_apis.rs:138-197: 2-partition topic1 + 1-partition topic2;
    lag over all topics sums 3 partitions; topic filter scopes rows. A
    topic whose create has made its directory but not yet written its
    meta (reads run beside create_topic) is not a topic yet."""
    import os

    import pytest

    from flyq_spark import storage
    from flyq_spark.engine import UnknownTopic

    engine.create_topic("events", partitions=2)
    engine.create_topic("logs", partitions=1)
    engine.produce("events", make_messages(30))
    engine.produce("logs", make_messages(20))
    os.makedirs(storage.partition_dir(engine.base_dir, "half", 0))

    res = engine.get_consumer_lag("multi-consumer")
    assert len(res["partitions"]) == 3
    with pytest.raises(UnknownTopic):
        engine.get_consumer_lag("multi-consumer", "half")
    assert res["total_lag"] == sum(p["lag"] for p in res["partitions"])
    before = res["total_lag"]

    engine.commit_offset("multi-consumer", "events", 0, 10)
    engine.commit_offset("multi-consumer", "events", 1, 5)
    engine.commit_offset("multi-consumer", "logs", 0, 15)
    res = engine.get_consumer_lag("multi-consumer")
    assert res["total_lag"] < before

    t1 = engine.get_consumer_lag("multi-consumer", "events")
    assert len(t1["partitions"]) == 2


def test_groups_advance_independently(engine):
    """offset_tracker.rs:52-140: two groups on the same topic keep
    independent committed offsets and lags."""
    engine.produce("t", make_messages(20))
    engine.commit_offset("group-a", "t", 0, 10)
    engine.commit_offset("group-b", "t", 0, 3)
    assert engine.get_consumer_lag("group-a", "t")["total_lag"] == 9
    assert engine.get_consumer_lag("group-b", "t")["total_lag"] == 16
    got_a = engine.consume_with_group("t", 0, "group-a")
    got_b = engine.consume_with_group("t", 0, "group-b")
    assert got_a[0] == 10 and int(got_a[1]["offset"]) == 10
    assert got_b[0] == 3 and int(got_b[1]["offset"]) == 3


def test_consume_with_group_defaults_to_zero_and_does_not_commit(engine):
    """log_engine.rs:146-161: uncommitted group reads offset 0; reading
    does not advance the committed offset."""
    engine.produce("t", make_messages(5))
    committed, row = engine.consume_with_group("t", 0, "fresh")
    assert committed == 0 and int(row["offset"]) == 0
    committed2, row2 = engine.consume_with_group("t", 0, "fresh")
    assert committed2 == 0 and int(row2["offset"]) == 0


def test_commit_offset_unknown_topic_errors(engine):
    """log_engine.rs:165-170: committing to a nonexistent topic errors."""
    import pytest

    from flyq_spark.engine import UnknownTopic

    with pytest.raises(UnknownTopic):
        engine.commit_offset("g", "nope", 0, 1)


def test_offsets_survive_engine_restart(engine, spark):
    """offset_tracker.rs persistence (load_from_file): a new engine over
    the same base_dir sees committed offsets and topic metadata."""
    from flyq_spark.engine import FlyQEngine

    engine.produce("t", make_messages(10))
    engine.commit_offset("g", "t", 0, 7)
    reopened = FlyQEngine(spark, engine.base_dir)
    assert reopened.committed_offset("g", "t", 0) == 7
    assert reopened.get_watermark("t", 0) == (0, 9, 10)
    assert reopened.get_consumer_lag("g", "t")["total_lag"] == 2
