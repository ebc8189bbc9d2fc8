"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The unit tests need no Spark. ``test_tiny_run_emits_declared_metrics``
runs every workload end to end for one second (traced and untraced) and
takes a few minutes.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import threading

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from common import Tally  # noqa: E402
from spans import Tracer, overhead_s, self_times  # noqa: E402


def _span(sid, parent, start, end, census=None):
    s = {"id": sid, "parent": parent, "start": start, "end": end, "name": f"s{sid}", "req": 1}
    if census is not None:
        s["census"] = census
    return s


def test_self_time_subtracts_merged_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: covered once
        _span(4, 1, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(5, 3, 2.5, 3.5),  # grandchild: counts against span 3 only
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(3.0 - 1.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.0)


def test_tracer_records_parents_and_request_ids():
    tracer = Tracer()
    with tracer.span("outer", req="r1") as outer:
        with tracer.span("inner") as inner:
            pass
    with tracer.span("other"):
        pass
    assert inner["parent"] == outer["id"] and inner["req"] == "r1"
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["other"]["parent"] is None
    assert by_name["other"]["req"] == by_name["other"]["id"]
    assert all(s["end"] >= s["start"] for s in tracer.spans)
    assert all(s["overhead_s"] >= 0 for s in tracer.spans)
    assert overhead_s(tracer.spans) == pytest.approx(sum(s["overhead_s"] for s in tracer.spans))


class FakeEngine:
    """In-memory stand-in for FlyQEngine behind a real FlyQServer. With
    ``bad_offset_at`` set, the produce ack for that message carries a
    wrong offset."""

    def __init__(self, bad_offset_at: int | None = None):
        self.log: list[bytes] = []
        self.offsets: dict[str, int] = {}
        self.bad_offset_at = bad_offset_at
        self.lock = threading.Lock()

    def produce(self, topic, messages):
        with self.lock:
            self.log.append(messages[0]["value"])
            off = len(self.log) - 1
        if off == self.bad_offset_at:
            off += 1
        return [(0, off)]

    def consume(self, topic, partition, offset):
        if offset >= len(self.log):
            return None
        return {"offset": offset, "key": None, "value": self.log[offset], "headers": None,
                "timestamp": datetime.datetime.now(datetime.timezone.utc)}

    def consume_with_group(self, topic, partition, group):
        committed = self.offsets.get(group, 0)
        row = self.consume(topic, partition, committed)
        return None if row is None else (committed, row)

    def commit_offset(self, group, topic, partition, offset):
        self.offsets[group] = offset

    def get_watermark(self, topic, partition):
        n = len(self.log)
        return 0, max(0, n - 1), n

    def get_consumer_lag(self, group, topic=None):
        _, high, leo = self.get_watermark(topic, 0)
        committed = self.offsets.get(group, 0)
        lag = max(0, high - committed)
        return {"group": group, "total_lag": lag, "partitions": [
            {"topic": topic, "partition": 0, "committed_offset": committed,
             "high_watermark": high, "log_end_offset": leo, "lag": lag}]}

    def get_partition_health(self, topic, partition):
        low, high, leo = self.get_watermark(topic, partition)
        return {"topic": topic, "partition": partition, "segment_count": leo,
                "total_size_bytes": sum(len(v) for v in self.log), "low_watermark": low,
                "high_watermark": high, "log_end_offset": leo, "last_cleanup": None}


def _drive_fake(engine) -> Tally:
    import wire_mix
    from flyq_spark.server import FlyQServer, FlyQWireClient

    tally = Tally()
    with FlyQServer(engine) as server:
        clients = [FlyQWireClient(server.host, server.port, timeout=30) for _ in range(3)]
        try:
            texts = [b"some text", b"more text"]
            wire_mix.drive(clients, texts, np.random.default_rng(0), 0.5, tally)
        finally:
            for c in clients:
                c.close()
    return tally


def test_wire_mix_checks_pass_on_a_correct_engine():
    tally = _drive_fake(FakeEngine())
    assert tally.attempted > 10
    assert tally.failed == 0, tally.notes


def test_wire_mix_counts_a_wrong_offset_as_failed():
    tally = _drive_fake(FakeEngine(bad_offset_at=3))
    assert tally.failed >= 1
    assert any("dense" in n for n in tally.notes)


def test_tail_check_catches_a_missing_row_and_a_wrong_value():
    import hashlib

    import wire_mix

    acked = {0: b"a", 1: b"b"}
    rows = [[0, off, hashlib.sha256(v).hexdigest()] for off, v in acked.items()]
    cases = [(rows, 0), (rows[:1], 1), ([rows[0], [0, 1, hashlib.sha256(b"x").hexdigest()]], 1)]
    for got, failed in cases:
        tally = Tally()
        wire_mix.check_tail({"rows": got}, acked, tally)
        assert (tally.attempted, tally.failed) == (1, failed)


def test_point_read_returning_another_offset_is_a_failure():
    import log_bulk

    class WrongOffsetEngine:
        def consume(self, topic, partition, offset):
            return {"partition": partition, "offset": offset + 1}

    tally = Tally()
    bulk = log_bulk.Bulk(None, WrongOffsetEngine(), "", "t", None, 0,
                         np.random.default_rng(0), tally, None)
    bulk.leo = dict.fromkeys(range(log_bulk.PARTITIONS), 100)
    bulk.point_reads(5)
    assert (tally.attempted, tally.failed) == (5, 5)


def test_gate_oracle_comparison_is_order_insensitive_and_catches_a_wrong_value():
    import duckdb

    import gates

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.1), (2, 0.2)) t(k, v)"
    assert gates.oracle_check(con, sql, ["v", "k"], [(0.2, 2), (0.1, 1)]) is None
    assert gates.oracle_check(con, sql, ["k", "v"], [(1, 0.1), (2, 0.3)]) is not None
    assert gates.oracle_check(con, sql, ["k", "v"], [(1, 0.1)]) is not None


def test_rotation_is_seeded_and_keeps_every_gate():
    import gates

    families = gates.FAMILIES
    names = sorted(g for gs in families.values() for g in gs)
    a, b = gates.rotated(families, 1), gates.rotated(families, 2)
    assert sorted(g for g, _ in a) == names and a != b
    assert gates.rotated(families, 1) == a


def test_datagen_is_deterministic_per_seed():
    import datagen

    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["events"].equals(c["events"])


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["wire-mix", "gates", "log-bulk"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_declared_metrics(workload, trace):
    spec = _declared()
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    # a one-second window may hold no read at all, so zero is allowed here
    assert all(v["value"] >= 0 for v in result["metrics"].values())


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "gates",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
