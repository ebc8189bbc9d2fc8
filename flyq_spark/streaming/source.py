"""Streaming read side: tail a topic's log.

The reference's continuous consumer is an iterator that follows the log
across segment files (flyq-server/src/core/partition.rs:311-355). The
Spark restatement is the offset-based ``format("flyq")`` source
(streaming/datasource.py): every micro-batch is a replayable range of
committed offsets per partition, recorded in the stream checkpoint —
the Structured Streaming analog of consumer-group offsets (SURVEY §2
Part B streaming row).

Event-time helpers mirror the [EXT] stream-analytics surface: windowed
aggregation under a watermark, and within-watermark dedup.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flyq_spark import storage
from flyq_spark.streaming import datasource


def read_stream(
    spark: SparkSession,
    base_dir: str,
    topic: str,
    from_offset: int | None = None,
) -> DataFrame:
    """Tail a topic as a stream of committed records. ``from_offset``
    plays the role of the Kafka source's startingOffsets, applied to every
    partition; without it the stream starts at the earliest retained
    offset."""
    starting = "earliest"
    if from_offset is not None:
        meta = storage.load_topic_meta(base_dir, topic)
        if meta is None:
            raise ValueError(f"unknown topic {topic!r} under {base_dir}")
        starting = json.dumps(
            {str(p): int(from_offset) for p in range(int(meta["partitions"]))}
        )
    return _flyq_stream(spark, base_dir, topic, starting)


def _flyq_stream(
    spark: SparkSession, base_dir: str, topic: str, starting: str
) -> DataFrame:
    datasource.register(spark)
    return (
        spark.readStream.format("flyq")
        .option("base_dir", base_dir)
        .option("topic", topic)
        .option("startingOffsets", starting)
        .load()
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Event-time windowed counts with late-data handling: watermark bounds
    state, window() assigns tumbling/sliding buckets. Append-mode safe."""
    keys = [F.window(F.col(ts_col), window, slide or window).alias("win")] + [
        F.col(c) for c in key_cols
    ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in key_cols],
            "cnt",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...],
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon —
    dropDuplicatesWithinWatermark keeps state bounded (the streaming form
    of exact dedup for unbounded ingest)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def consume_stream_with_group(
    engine,
    topic: str,
    group: str,
    checkpoint_dir: str,
    process,
    trigger_once: bool = False,
):
    """Continuous consume-with-group: tail the topic from each partition's
    committed offset, hand every micro-batch to ``process(batch_df)``, and
    commit the advanced offsets (committed = max offset + 1 per partition,
    quirk Q4: next-to-read) after the batch succeeds — at-least-once, the
    reference's contract, with the group's progress visible to lag/
    monitor APIs exactly like a batch consumer's.

    A fresh checkpoint starts at max(committed, low watermark) per
    partition; an existing one resumes from its own offsets. Each
    micro-batch is the whole committed range [start, end) of every
    partition it covers, so no offset below a batch's maximum can still
    be missing and max + 1 is a safe commit.

    ``trigger_once`` runs ``trigger(availableNow=True)``. On PySpark 4.1
    a Python streaming source has no ``Trigger.AvailableNow`` hook, so
    Spark falls back to one single batch, up to the LEO seen when that
    batch is planned; after a restart that finds an uncommitted batch,
    records produced since may wait for the next start.
    """
    starting = {
        str(p): engine._clamped_start(
            topic, p, int(engine.committed_offset(group, topic, p) or 0)
        )
        for p in range(engine.topic_partitions(topic))
    }
    stream = _flyq_stream(engine.spark, engine.base_dir, topic, json.dumps(starting))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df)
        tops = batch_df.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
        for r in tops:
            p, nxt = int(r["partition"]), int(r["mx"]) + 1
            if nxt > (engine.committed_offset(group, topic, p) or 0):
                engine.commit_offset(group, topic, p, nxt)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def running_counts_stateful(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-key record count surviving across triggers — the minimal shape of
    any bespoke streaming state machine (sessionizers, CDC collapsers).
    State is one long per key; timeouts off (unbounded keys would need
    ProcessingTimeTimeout + TTL at 100 TB scale)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"key": [key[0]], "n": [n]})

    return (
        stream.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType="key string, n long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def watermark_tracker_stateful(stream: DataFrame, key_col: str = "partition", offset_col: str = "offset") -> DataFrame:
    """Per-key streaming high-watermark tracker on the MODERN stateful
    API (Spark 4 ``transformWithStateInPandas``): ValueState holds
    (high, n_seen) per key and every trigger emits the updated bounds —
    the A12 watermark surface as a continuously-maintained stream
    (reference log_engine.rs:133-144 computes the same bounds on
    demand). vs applyInPandasWithState: typed named state cells, state
    TTL support, and timers come for free when eviction is needed at
    unbounded key cardinality."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Tracker(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("hw", "high long, n_seen long")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            prev = self._state.get()
            high, n_seen = (prev[0], prev[1]) if prev is not None else (-1, 0)
            for pdf in rows:
                if len(pdf):
                    high = max(high, int(pdf["off"].max()))
                    n_seen += len(pdf)
            self._state.update((high, n_seen))
            yield pd.DataFrame(
                {"key": [key[0]], "high": [high], "n_seen": [n_seen]}
            )

        def close(self) -> None:
            pass

    return (
        stream.select(
            F.col(key_col).cast("long").alias("key"),
            F.col(offset_col).cast("long").alias("off"),
        )
        .groupBy("key")
        .transformWithStateInPandas(
            _Tracker(),
            outputStructType="key long, high long, n_seen long",
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "key",
    ts_col: str = "timestamp",
    watermark: str = "10 seconds",
    max_delay: str = "5 seconds",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound: a
    right-side event joins a left-side event with the same key when it
    arrives within (left.ts, left.ts + max_delay]. Both sides carry
    watermarks, so the join STATE IS BOUNDED — Spark evicts buffered
    rows once the watermark passes the interval, which is what makes a
    stream-stream join runnable indefinitely at scale (an unbounded
    join state would OOM any cluster). Output: (key, left_ts, right_ts,
    delay_us)."""
    lw = left.select(
        F.col(key_col).cast("string").alias("l_key"),
        F.col(ts_col).alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    rw = right.select(
        F.col(key_col).cast("string").alias("r_key"),
        F.col(ts_col).alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    # null-keys-impossible: inner equi-join semantics — a NULL event
    # key matches nothing on either stream, by design
    return lw.join(rw, cond).select(
        F.col("l_key").alias("key"),
        "l_ts",
        "r_ts",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("delay_us"),
    )


def latest_per_key(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("partition", "key"),
    value_col: str = "value",
    order_col: str = "offset",
) -> DataFrame:
    """KTable materialization: fold the stream to its latest record per
    key — the streaming form of log compaction (the batch form is
    operators/retention.py:compact_by_key). ``max_by(value, offset)``
    keeps exactly one row of state per live key, updated in place; emit
    with update/complete output mode (a changelog view has no append
    semantics — rows revise). State is bounded by the keyspace, not the
    stream length, the same bound Kafka Streams' KTable accepts.

    KEYED records only, matching ``compact_by_key`` (quirk Q1: NULL and
    b'' are both keyless round-robin traffic — a "latest value" is
    undefined for them, and folding them would collapse unrelated
    messages into one state row per partition)."""
    if "key" in key_cols:
        keyless = F.col("key").isNull() | (F.octet_length(F.col("key")) == 0)
        stream = stream.where(~keyless)
    return stream.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.max_by(F.col(value_col), F.col(order_col)).alias("latest_value"),
        F.max(F.col(order_col)).alias("latest_offset"),
    )


def streaming_session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
    key_cols: tuple[str, ...] = ("key",),
) -> DataFrame:
    """Event-time SESSION windows on an unbounded stream: Spark's native
    ``session_window`` merges events whose gaps stay under ``gap`` into
    one growing window per key; the watermark both admits late data
    within the horizon and lets the state store EMIT + EVICT sessions
    once the watermark passes their close (without it, session state
    grows forever). This is the streaming form of the batch
    ``sessionize``/``session_window_counts`` operators — same window
    semantics (an event exactly at the previous session end merges),
    checked against them in pytest via the shared fixture.

    At scale: state is one in-flight session row per active key,
    partitioned by key (the shuffle session_window requires); closed
    sessions leave the store at watermark advance. Append-mode safe.

    Output: (key..., session_start, session_end, n_events)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            *[F.col(c) for c in key_cols],
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            *[F.col(c) for c in key_cols],
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
