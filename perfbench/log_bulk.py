"""``log-bulk``: one closed-loop caller ingesting and reading a keyed log.

Every round creates a fresh 4-partition topic and, on it:

1. ``engine.produce`` an ``events`` batch as a DataFrame, keyed by
   ``user_id`` (1500 near-uniform keys) with ~9 B values and timestamps
   shifted forward each round;
2. tails the new rows with ``spark.readStream.format("flyq")``
   (availableNow, with a checkpoint of the topic's own);
3. scans every partition in full with ``engine.stream_from_offset``;
4. makes seeded point reads with ``engine.consume``;
5. commits seeded offsets with ``commit_offset``, then reads
   ``get_consumer_lag``.

Rounds repeat until the timed window is over. Every round works on a
log of the same size, so a run's figures are medians over like rounds
whatever their number. Correctness checks run outside the timed steps:
the produce return values match the watermarks, the tail delivers
every offset of each partition exactly once, point reads return the
requested offset, and the lag equals ``max(0, hw - committed)``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from common import HostWindow, driver_rss_mb, flyq_tail, median, percentile, spark_session
from datagen import events_table
from spans import Tracer, add_census, empty_census, maybe_span, overhead_s

WARM_TOPIC = "warm"
GROUP = "perfbench"
PARTITIONS = 4
BATCH_ROWS = 10_000
WARM_ROWS = 2_000
USERS = 1500
POINT_READS = 4
ROUND_SHIFT_DAYS = 30


class Bulk:
    """The round's steps on one topic. ``leo`` holds the log end offsets
    the produce acks have established so far."""

    def __init__(self, spark, engine, run_dir, topic, messages, rows, rng, tally, tracer):
        self.spark = spark
        self.engine = engine
        self.run_dir = run_dir
        self.topic = topic
        self.messages = messages
        self.rows = rows
        self.rng = rng
        self.tally = tally
        self.tracer = tracer
        self.leo = dict.fromkeys(range(PARTITIONS), 0)

    def produce(self, rnd: int) -> tuple[float, dict, dict]:
        from pyspark.sql import functions as F

        batch = self.messages.withColumn(
            "timestamp", F.col("timestamp") + F.expr(f"INTERVAL {rnd * ROUND_SHIFT_DAYS} DAYS")
        )
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "engine.produce"):
            got = self.engine.produce(self.topic, batch)
        dt = time.perf_counter() - t0
        ok = sum(end - base for base, end in got.values()) == self.rows
        for p, (base, end) in got.items():
            ok = ok and base == self.leo[p] and self.engine.get_watermark(self.topic, p)[2] == end
        self.tally.check(ok, f"produce round {rnd}: acks {got} do not extend {self.leo} by {self.rows} rows")
        new = dict(self.leo)
        new.update({p: end for p, (_, end) in got.items()})
        return dt, self.leo, new

    def tail(self, prev: dict, new: dict) -> tuple[float, int, int]:
        from pyspark.sql import functions as F

        seen: dict[int, list[tuple[int, int, int, int]]] = {}

        def sink(df, _batch_id):
            for r in df.groupBy("partition").agg(
                F.count("*").alias("n"), F.countDistinct("offset").alias("d"),
                F.min("offset").alias("lo"), F.max("offset").alias("hi"),
            ).collect():
                seen.setdefault(int(r["partition"]), []).append((r["n"], r["d"], r["lo"], r["hi"]))

        dt, batches = flyq_tail(self.spark, self.engine.base_dir, self.topic,
                                os.path.join(self.run_dir, f"ckpt-{self.topic}"), sink, self.tracer)
        rows = 0
        for p in range(PARTITIONS):
            got = sorted(seen.get(p, []), key=lambda t: t[2])
            n = sum(t[0] for t in got)
            rows += n
            ok = n == new[p] - prev[p] and all(t[0] == t[1] == t[3] - t[2] + 1 for t in got)
            ok = ok and all(a[3] + 1 == b[2] for a, b in zip(got, got[1:]))
            ok = ok and (not got or (got[0][2] == prev[p] and got[-1][3] == new[p] - 1))
            self.tally.check(ok, f"tail of partition {p}: batches {got} != offsets [{prev[p]}, {new[p]})")
        return dt, rows, batches

    def scan(self) -> float:
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "engine.stream_from_offset.scan"):
            for p in range(PARTITIONS):
                self.engine.stream_from_offset(self.topic, p, 0).write.format("noop").mode("overwrite").save()
        self.tally.attempted += 1
        return time.perf_counter() - t0

    def point_reads(self, n: int) -> list[float]:
        out = []
        for _ in range(n):
            p = int(self.rng.integers(PARTITIONS))
            off = int(self.rng.integers(self.leo[p]))
            t0 = time.perf_counter()
            with maybe_span(self.tracer, "engine.consume"):
                row = self.engine.consume(self.topic, p, off)
            out.append(time.perf_counter() - t0)
            self.tally.check(row is not None and (row["partition"], row["offset"]) == (p, off),
                             f"consume({p}, {off}) returned {row and (row['partition'], row['offset'])}")
        return out

    def commit_and_lag(self) -> float:
        committed = {p: int(self.rng.integers(self.leo[p] + 1)) for p in range(PARTITIONS)}
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "engine.commit_and_lag", census=False):
            for p, off in committed.items():
                self.engine.commit_offset(GROUP, self.topic, p, off)
            lag = self.engine.get_consumer_lag(GROUP, self.topic)
        dt = time.perf_counter() - t0
        want = sum(max(0, (self.leo[p] - 1) - committed[p]) for p in range(PARTITIONS))
        self.tally.attempted += PARTITIONS
        self.tally.check(lag["total_lag"] == want, f"lag {lag['total_lag']} != {want} for {committed}")
        return dt

    def round(self, rnd: int, stats: dict) -> None:
        produce_s, prev, self.leo = self.produce(rnd)
        tail_s, rows, batches = self.tail(prev, self.leo)
        scan_s = self.scan()
        point_s = self.point_reads(POINT_READS)
        commit_lag_s = self.commit_and_lag()
        stats["produce_s"].append(produce_s)
        stats["tail_s"].append(tail_s)
        stats["tail_rows"].append(rows)
        stats["tail_batches"] += batches
        stats["scan_s"].append(scan_s)
        stats["point_s"] += point_s
        stats["commit_lag_s"].append(commit_lag_s)
        stats["round_s"].append(produce_s + tail_s + scan_s + sum(point_s) + commit_lag_s)


def _new_stats() -> dict:
    return {"produce_s": [], "tail_s": [], "tail_rows": [], "tail_batches": 0,
            "scan_s": [], "point_s": [], "commit_lag_s": [], "round_s": []}


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from flyq_spark import storage
    from flyq_spark.engine import FlyQEngine
    from flyq_spark.io import read_table
    from flyq_spark.streaming.datasource import register

    rng = np.random.default_rng(ctx.seed)
    for name, rows in (("events", BATCH_ROWS), ("warm", WARM_ROWS)):
        pq.write_table(events_table(rng, rows, USERS), os.path.join(ctx.run_dir, f"{name}.parquet"))
    spark = spark_session("perfbench-log-bulk", ctx.run_dir)
    register(spark)
    engine = FlyQEngine(spark, os.path.join(ctx.run_dir, "topics"))

    def messages(table):
        return read_table(spark, ctx.run_dir, table).select(
            F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
            F.encode(F.col("props"), "utf-8").alias("value"),
            F.col("ts").alias("timestamp"),
        )

    def bulk(topic, table, rows, tracer):
        engine.create_topic(topic, partitions=PARTITIONS)
        return Bulk(spark, engine, ctx.run_dir, topic, messages(table), rows, rng, ctx.tally, tracer)

    bulk(WARM_TOPIC, "warm", WARM_ROWS, None).round(0, _new_stats())
    setup_s = time.time() - ctx.t0
    tracer = Tracer(spark.sparkContext) if ctx.trace else None

    stats = _new_stats()
    host = HostWindow()
    t_start = time.perf_counter()
    rnd = 0
    while rnd == 0 or time.perf_counter() - t_start < ctx.seconds:
        bulk(f"bulk{rnd}", "events", BATCH_ROWS, tracer).round(rnd, stats)
        rnd += 1
    wall = time.perf_counter() - t_start
    host_noise = host.close()

    files = [len(storage.partition_file_stats(engine.base_dir, "bulk0", p)) for p in range(PARTITIONS)]
    point_ms = [s * 1e3 for s in stats["point_s"]]
    detail = {
        "rounds": rnd,
        "round_s": median(stats["round_s"]),
        "ingest_rows_per_s": BATCH_ROWS / median(stats["produce_s"]),
        "engine.produce_batch_s": median(stats["produce_s"]),
        "tail_rows_per_s": median([n / s for n, s in zip(stats["tail_rows"], stats["tail_s"])]),
        "scan_rows_per_s": BATCH_ROWS / median(stats["scan_s"]),
        "point_read_p50_ms": median(point_ms),
        "point_read_p90_ms": percentile(point_ms, 90) if len(point_ms) >= 100 else None,
        "point_read_samples": len(point_ms),
        "commit_lag_p50_ms": median([s * 1e3 for s in stats["commit_lag_s"]]),
        "datasource.batches": stats["tail_batches"] / rnd,
        "log.files_per_partition": sum(files) / PARTITIONS,
    }
    e2e = {
        "setup_s": setup_s,
        "work_per_s": BATCH_ROWS / detail["round_s"],
        "op_ms": detail["engine.produce_batch_s"] * 1e3,
        "read_ms": detail["point_read_p50_ms"],
    }
    layer = {}
    if tracer is not None:
        spans = [s for s in tracer.spans if s["start"] >= t_start]
        detail.update(_layer_detail(spans, rnd, host_noise["cpus"]))
        layer = {
            "spark.jobs_per_op": detail["spark.jobs_per_batch"],
            "spark.stages_per_op": detail["spark.stages_per_batch"],
            "spark.tasks_per_op": detail["spark.tasks_per_batch"],
            "spark.shuffle_write_mb_per_op": detail["spark.shuffle_write_mb_per_batch"],
            "spark.executor_run_s_per_op": detail["spark.executor_run_s_per_batch"],
            "spark.core_busy_frac": detail["spark.core_busy_frac_batch"],
            "spark.jobs_per_read": detail["point_read.jobs"],
            "spark.input_mb_per_read": detail["point_read.input_mb"],
            "driver_rss_mb": driver_rss_mb(spark),
            "trace_overhead_frac": overhead_s(spans) / wall,
        }
        ctx.spans = spans
    spark.stop()
    return {"e2e": e2e, "layer": layer, "detail": detail, "host": host_noise}


def _layer_detail(spans: list[dict], rounds: int, cpus: int) -> dict:
    def census(name):
        total = empty_census()
        for s in spans:
            if s["name"] == name:
                add_census(total, s.get("census", {}))
        return total

    def count(name):
        return sum(1 for s in spans if s["name"] == name)

    produce = census("engine.produce")
    produce_wall = sum(s["end"] - s["start"] for s in spans if s["name"] == "engine.produce")
    tail = census("datasource.tail")
    scan = census("engine.stream_from_offset.scan")
    point = census("engine.consume")
    n_point = max(1, count("engine.consume"))
    log_mb = scan["input_mb"] / rounds
    return {
        "spark.jobs_per_batch": produce["jobs"] / rounds,
        "spark.stages_per_batch": produce["stages"] / rounds,
        "spark.tasks_per_batch": produce["tasks"] / rounds,
        "spark.shuffle_write_mb_per_batch": produce["shuffle_write_mb"] / rounds,
        "spark.executor_run_s_per_batch": produce["executor_run_s"] / rounds,
        "spark.core_busy_frac_batch": produce["executor_run_s"] / (produce_wall * cpus),
        "datasource.executor_run_s": tail["executor_run_s"] / rounds,
        "datasource.batch_ms": median([d.get("triggerExecution", 0) for s in spans
                                       if s["name"] == "datasource.tail" for d in s["duration_ms"]]),
        "scan.input_mb": log_mb,
        "scan.executor_run_s": scan["executor_run_s"] / rounds,
        "point_read.jobs": point["jobs"] / n_point,
        "point_read.input_mb": point["input_mb"] / n_point,
        "point_read.input_bytes_frac": (point["input_mb"] / n_point) / log_mb if log_mb else 0.0,
    }
