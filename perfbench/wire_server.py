"""Broker process for the ``wire-mix`` workload.

Starts a SparkSession, a ``FlyQEngine`` over ``--base-dir`` and a
``FlyQServer`` on a free localhost port, prints one JSON line
``{"port": ...}`` when it accepts connections, and serves until an
empty line (or EOF) arrives on stdin. A line ``tail <topic>`` reads the
whole topic once through ``spark.readStream.format("flyq")`` and
answers with one JSON line: the tail's seconds, its micro-batch count
and every row as ``[partition, offset, sha256(value)]``. With ``--spans`` it traces: the engine is
wrapped in a proxy that opens a census span around every public method,
and the ``wire`` decoders and ``storage`` meta/footer functions are
wrapped in place. Spans (each with its own bookkeeping time) and the
peak RSS are written to the ``--spans`` file at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from common import driver_rss_mb, flyq_tail, spark_session
from spans import Tracer


class TracedEngine:
    """Proxy handing ``FlyQServer`` an engine whose public methods run
    inside census spans. Each span records how long the request waited
    between its payload being decoded and the engine being entered
    (the server's global lock plus request decoding)."""

    def __init__(self, engine, tracer: Tracer, decoded_at):
        self._engine = engine
        self._tracer = tracer
        self._decoded_at = decoded_at

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*args, **kwargs):
            entered = time.perf_counter()
            decoded = self._decoded_at()
            with self._tracer.span(f"engine.{name}", census=True) as rec:
                if decoded is not None:
                    rec["lock_wait_s"] = entered - decoded
                result = attr(*args, **kwargs)
                rec["empty"] = result is None
                return result

        return call


def install_tracing(engine, tracer: Tracer) -> TracedEngine:
    import threading

    from flyq_spark import storage, wire

    tls = threading.local()

    def decoded(rec, _result):
        tls.decoded_at = time.perf_counter()

    wire.decode_frame_at = tracer.wrap(wire.decode_frame_at, "wire.decode_frame_at")
    wire.decode_payload = tracer.wrap(wire.decode_payload, "wire.decode_payload", on_result=decoded)
    storage.save_topic_meta = tracer.wrap(storage.save_topic_meta, "storage.save_topic_meta")

    def files(rec, result):
        rec["files"] = len(result)
        rec["bytes"] = sum(s.size_bytes for s in result)

    storage.partition_file_stats = tracer.wrap(
        storage.partition_file_stats, "storage.partition_file_stats", on_result=files
    )
    return TracedEngine(engine, tracer, lambda: getattr(tls, "decoded_at", None))


def tail(spark, args, topic: str, tracer: Tracer | None) -> dict:
    from pyspark.sql import functions as F

    rows = []

    def sink(df, _batch_id):
        digests = df.select("partition", "offset", F.sha2("value", 256).alias("digest"))
        rows.extend([r["partition"], r["offset"], r["digest"]] for r in digests.collect())

    seconds, batches = flyq_tail(spark, args.base_dir, topic,
                                 os.path.join(args.run_dir, f"ckpt-{topic}"), sink, tracer)
    return {"seconds": seconds, "batches": batches, "rows": rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--topics", required=True, help="comma-separated 1-partition topics")
    ap.add_argument("--spans", default=None)
    args = ap.parse_args()

    from flyq_spark.engine import FlyQEngine
    from flyq_spark.server import FlyQServer
    from flyq_spark.streaming.datasource import register

    spark = spark_session("perfbench-wire-server", args.run_dir)
    register(spark)
    engine = FlyQEngine(spark, args.base_dir)
    for topic in args.topics.split(","):
        engine.create_topic(topic, partitions=1)
    tracer = Tracer(spark.sparkContext) if args.spans else None
    served = install_tracing(engine, tracer) if tracer else engine
    server = FlyQServer(served)
    _, port = server.start()
    print(json.dumps({"port": port}), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd:
                break
            if cmd[0] == "tail":
                print(json.dumps(tail(spark, args, cmd[1], tracer)), flush=True)
    finally:
        server.stop()
        if tracer is not None:
            with open(args.spans, "w") as f:
                json.dump(
                    {"spans": tracer.spans, "driver_rss_mb": driver_rss_mb(spark)},
                    f,
                )
        spark.stop()


if __name__ == "__main__":
    main()
