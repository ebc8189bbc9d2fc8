"""``wire-mix``: three closed-loop connections against a broker process.

One generator process drives a ``FlyQServer`` (running over a
``FlyQEngine`` in its own process, see ``wire_server.py``) through
three ``FlyQWireClient`` connections for the timed window:

1. producer: keyless produce to a 1-partition topic; each value is an
   8-byte send timestamp (ns) followed by a seeded 44-577 B text;
2. group consumer: ``consume_with_group`` then ``commit_offset(o+1)``,
   with no think time, so an empty poll is retried at once;
3. monitor: watermark, consumer lag and partition health, then 1 s of
   think time.

After the window the consumer drains what is left and the run checks
that acked offsets are dense and unique, every consumed value equals
the value acked at that offset, the final watermark is ``(0, n-1, n)``
and the reported lag is ``max(0, hw - committed)``. Then the broker
process reads the topic once through the ``streaming.datasource`` tail
(``spark.readStream.format("flyq")``, availableNow), which is timed and
must deliver every acked offset once with its acked value; set-up warms
the same path on the warm-up topic.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from common import HostWindow, median, percentile
from datagen import document_texts
from spans import empty_census, overhead_s, self_times

TOPIC = "wire"
WARM_TOPIC = "warm"
GROUP = "perfbench"
DRAIN_TIMEOUT_S = 60.0


def _start_server(run_dir: str, spans_path: str | None):
    cmd = [
        sys.executable, os.path.join(os.path.dirname(__file__), "wire_server.py"),
        "--base-dir", os.path.join(run_dir, "topics"), "--run-dir", run_dir,
        "--topics", f"{TOPIC},{WARM_TOPIC}",
    ]
    if spans_path:
        cmd += ["--spans", spans_path]
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    if not line:
        proc.wait(timeout=30)
        raise RuntimeError(f"broker process exited with {proc.returncode} before listening")
    return proc, json.loads(line)["port"]


def _stop_server(proc) -> None:
    try:
        proc.stdin.write("\n")
        proc.stdin.close()
    except (BrokenPipeError, OSError):
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _tail(proc, topic: str) -> dict:
    """Have the broker process tail ``topic`` through the flyq datasource."""
    proc.stdin.write(f"tail {topic}\n")
    proc.stdin.flush()
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError(f"broker process exited during the tail of {topic}")
    return json.loads(line)


def check_tail(tail: dict, acked: dict[int, bytes], tally) -> None:
    """The datasource tail must deliver every acked offset once, in
    partition 0, with the acked value."""
    got = sorted((p, off, digest) for p, off, digest in tail["rows"])
    want = sorted((0, off, hashlib.sha256(v).hexdigest()) for off, v in acked.items())
    tally.check(got == want, f"the flyq tail delivered {len(got)} rows that differ from the {len(want)} acked")


def _warm(client) -> None:
    for _ in range(3):
        client.produce(WARM_TOPIC, b"warm")
        got = client.consume_with_group(WARM_TOPIC, 0, GROUP)
        client.commit_offset(WARM_TOPIC, 0, GROUP, got["offset"] + 1)
        client.watermark(WARM_TOPIC, 0)
        client.consumer_lag(GROUP, [WARM_TOPIC])
        client.partition_health(WARM_TOPIC, 0)


def _producer(client, texts, rng, t_end, out):
    while time.perf_counter() < t_end:
        value = time.time_ns().to_bytes(8, "big") + texts[int(rng.integers(len(texts)))]
        t0 = time.perf_counter()
        try:
            partition, offset = client.produce(TOPIC, value)
        except Exception as e:  # the broker closes the connection on any error
            out["errors"].append(f"produce: {e!r}")
            return
        t1 = time.perf_counter()
        out["acks"].append((partition, offset, value, t0, t1))


def _consumer(client, t_end, stop, out):
    while not stop.is_set():
        t0 = time.perf_counter()
        try:
            got = client.consume_with_group(TOPIC, 0, GROUP)
        except Exception as e:
            out["errors"].append(f"consume: {e!r}")
            return
        t1 = time.perf_counter()
        recv_ns = time.time_ns()
        if got is None:
            out["empty"] += int(t0 < t_end)
            continue
        value = bytes(got["value"])
        out["consumed"].append(
            (got["offset"], value, t0, t1, (recv_ns - int.from_bytes(value[:8], "big")) / 1e9)
        )
        t2 = time.perf_counter()
        try:
            client.commit_offset(TOPIC, 0, GROUP, got["offset"] + 1)
        except Exception as e:
            out["errors"].append(f"commit: {e!r}")
            return
        out["commits"].append((t2, time.perf_counter()))


def _monitor(client, t_end, out):
    ops = (
        ("watermark", lambda: client.watermark(TOPIC, 0)),
        ("consumer_lag", lambda: client.consumer_lag(GROUP, [TOPIC])),
        ("partition_health", lambda: client.partition_health(TOPIC, 0)),
    )
    while time.perf_counter() < t_end:
        cycle = time.perf_counter()
        for name, op in ops:
            t0 = time.perf_counter()
            try:
                op()
            except Exception as e:
                out["errors"].append(f"{name}: {e!r}")
                return
            out["calls"].append((name, t0, time.perf_counter()))
        time.sleep(max(0.0, cycle + 1.0 - time.perf_counter()))


def _layer_metrics(spans: list[dict], cpus: int) -> dict:
    """Per-layer detail from the spans that started inside the window."""
    selfs = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def ms(ss):
        return median([(s["end"] - s["start"]) * 1e3 for s in ss])

    def mean_census(ss, key):
        return sum(s.get("census", empty_census())[key] for s in ss) / max(1, len(ss))

    produces = by_name.get("engine.produce", [])
    reads = [s for s in by_name.get("engine.consume_with_group", []) if not s.get("empty")]
    meta = [s for n in ("engine.get_watermark", "engine.get_consumer_lag", "engine.get_partition_health")
            for s in by_name.get(n, [])]
    parents = {s["id"]: s["name"] for s in spans}
    health_stats = [s for s in by_name.get("storage.partition_file_stats", [])
                    if parents.get(s["parent"]) == "engine.get_partition_health"]
    produce_wall = sum(s["end"] - s["start"] for s in produces)
    return {
        "server.lock_wait_ms": median([s["lock_wait_s"] * 1e3 for s in produces if "lock_wait_s" in s]),
        "engine.produce_ms": ms(produces),
        "engine.produce_self_ms": median([selfs[s["id"]] * 1e3 for s in produces]),
        "storage.save_topic_meta_ms": ms(by_name.get("storage.save_topic_meta", [])),
        "spark.jobs_per_produce": mean_census(produces, "jobs"),
        "spark.stages_per_produce": mean_census(produces, "stages"),
        "spark.tasks_per_produce": mean_census(produces, "tasks"),
        "spark.shuffle_write_mb_per_produce": mean_census(produces, "shuffle_write_mb"),
        "spark.executor_run_s_per_produce": mean_census(produces, "executor_run_s"),
        "spark.core_busy_frac_produce": (
            sum(s.get("census", {}).get("executor_run_s", 0) for s in produces)
            / (produce_wall * cpus) if produce_wall else 0.0
        ),
        "engine.consume_ms": ms(reads),
        "spark.jobs_per_consume": mean_census(reads, "jobs"),
        "spark.input_mb_per_consume": mean_census(reads, "input_mb"),
        "engine.meta_ms": ms(meta),
        "storage.footer_files_per_health": (
            sum(s.get("files", 0) for s in health_stats) / max(1, len(health_stats))
        ),
        "wire.decode_us": ms(by_name.get("wire.decode_payload", [])) * 1e3,
    }


def drive(clients, texts, rng, seconds: float, tally) -> dict:
    """Run the three loops on ``clients`` for ``seconds``, let the
    consumer drain, then check the log; returns the observations."""
    host = HostWindow()
    t_start = time.perf_counter()
    t_end = t_start + seconds
    prod = {"acks": [], "errors": []}
    cons = {"consumed": [], "commits": [], "errors": [], "empty": 0}
    mon = {"calls": [], "errors": []}
    stop = threading.Event()
    threads = [
        threading.Thread(target=_producer, args=(clients[0], texts, rng, t_end, prod)),
        threading.Thread(target=_consumer, args=(clients[1], t_end, stop, cons)),
        threading.Thread(target=_monitor, args=(clients[2], t_end, mon)),
    ]
    for t in threads:
        t.start()
    threads[0].join()
    threads[2].join()
    t_window_end = time.perf_counter()
    host_noise = host.close()
    # drain: the consumer keeps reading until every ack is consumed
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    n = len(prod["acks"])
    while len(cons["consumed"]) < n and not cons["errors"] and time.perf_counter() < deadline:
        time.sleep(0.05)
    stop.set()
    threads[1].join()

    for err in prod["errors"] + cons["errors"] + mon["errors"]:
        tally.fail(err)
    tally.attempted += len(prod["acks"]) + len(cons["commits"]) + len(mon["calls"])
    acked = {off: value for _, off, value, _, _ in prod["acks"]}
    tally.check(
        sorted(acked) == list(range(n)) and all(ack[0] == 0 for ack in prod["acks"]),
        f"acked offsets are not dense and unique over {n} acks",
    )
    for off, value, *_ in cons["consumed"]:
        tally.check(acked.get(off) == value, f"consumed value at offset {off} differs from the acked value")
    tally.check(len(cons["consumed"]) == n, f"consumed {len(cons['consumed'])} of {n} acked messages")
    wm = clients[2].watermark(TOPIC, 0)
    triple = (wm["low_watermark"], wm["high_watermark"], wm["log_end_offset"])
    tally.check(triple == (0, max(0, n - 1), n), f"final watermark {triple} != (0, {n - 1}, {n})")
    lag = clients[2].consumer_lag(GROUP, [TOPIC])
    committed = cons["consumed"][-1][0] + 1 if cons["consumed"] else 0
    tally.check(lag["total_lag"] == max(0, triple[1] - committed),
                f"lag {lag['total_lag']} != max(0, {triple[1]} - {committed})")
    return {
        "prod": prod, "cons": cons, "mon": mon, "acked": acked, "host": host_noise,
        "t_start": t_start, "t_end": t_end, "t_window_end": t_window_end,
        "health": clients[2].partition_health(TOPIC, 0),
    }


def summarize(obs: dict) -> dict:
    """The workload's detail metrics from ``drive``'s observations; only
    operations started inside the timed window count."""
    prod, cons, mon, t_end = obs["prod"], obs["cons"], obs["mon"], obs["t_end"]
    n = len(prod["acks"])
    in_window = [c for c in cons["consumed"] if c[2] < t_end]
    produce_ms = [(t1 - t0) * 1e3 for *_, t0, t1 in prod["acks"]]
    consume_ms = [(t1 - t0) * 1e3 for _, _, t0, t1, _ in in_window]
    last_ack = prod["acks"][-1][4] if prod["acks"] else obs["t_window_end"]
    polls = len(in_window) + cons["empty"]
    health = obs["health"]
    return {
        "wire_produce_msgs_per_s": n / (last_ack - obs["t_start"]),
        "wire_produce_p50_ms": median(produce_ms),
        "wire_produce_p90_ms": percentile(produce_ms, 90) if n >= 100 else None,
        "wire_produce_samples": n,
        "wire_consume_p50_ms": median(consume_ms),
        "wire_consume_samples": len(consume_ms),
        "wire_delivery_p50_ms": median([d * 1e3 for *_, d in cons["consumed"]]),
        "wire_commit_p50_ms": median([(b - a) * 1e3 for a, b in cons["commits"] if a < t_end]),
        "wire_monitor_p50_ms": median([(b - a) * 1e3 for _, a, b in mon["calls"]]),
        "wire_monitor_samples": len(mon["calls"]),
        "consumer.empty_poll_frac": cons["empty"] / polls if polls else 0.0,
        "log.files_per_msg": health["segment_count"] / n if n else 0.0,
        "log.bytes_per_user_byte": (
            health["total_size_bytes"] / sum(len(v) for v in obs["acked"].values()) if n else 0.0
        ),
    }


def run(ctx) -> dict:
    rng = np.random.default_rng(ctx.seed)
    texts = [t.encode() for t in document_texts(rng, 2000)]
    spans_path = os.path.join(ctx.run_dir, "wire_spans.json") if ctx.trace else None
    proc, port = _start_server(ctx.run_dir, spans_path)
    from flyq_spark.server import FlyQWireClient

    clients = []
    try:
        clients = [FlyQWireClient("127.0.0.1", port, timeout=120) for _ in range(3)]
        _warm(clients[0])
        _tail(proc, WARM_TOPIC)
        setup_s = time.time() - ctx.t0
        obs = drive(clients, texts, rng, ctx.seconds, ctx.tally)
        tail = _tail(proc, TOPIC)
        check_tail(tail, obs["acked"], ctx.tally)
    finally:
        for c in clients:
            c.close()
        _stop_server(proc)

    detail = summarize(obs)
    detail["datasource.tail_ms"] = tail["seconds"] * 1e3
    detail["datasource.batches"] = tail["batches"]
    e2e = {
        "setup_s": setup_s,
        "work_per_s": detail["wire_produce_msgs_per_s"],
        "op_ms": detail["wire_produce_p50_ms"],
        "read_ms": detail["wire_consume_p50_ms"],
    }
    layer = {}
    if spans_path:
        with open(spans_path) as f:
            trace = json.load(f)
        window = [s for s in trace["spans"] if obs["t_start"] <= s["start"] < obs["t_end"]]
        detail.update(_layer_metrics(window, obs["host"]["cpus"]))
        census = [s for s in trace["spans"] if s["name"] == "datasource.tail"][-1]["census"]
        detail["datasource.jobs"] = census["jobs"]
        detail["datasource.executor_run_s"] = census["executor_run_s"]
        layer = {
            "spark.jobs_per_op": detail["spark.jobs_per_produce"],
            "spark.stages_per_op": detail["spark.stages_per_produce"],
            "spark.tasks_per_op": detail["spark.tasks_per_produce"],
            "spark.shuffle_write_mb_per_op": detail["spark.shuffle_write_mb_per_produce"],
            "spark.executor_run_s_per_op": detail["spark.executor_run_s_per_produce"],
            "spark.core_busy_frac": detail["spark.core_busy_frac_produce"],
            "spark.jobs_per_read": detail["spark.jobs_per_consume"],
            "spark.input_mb_per_read": detail["spark.input_mb_per_consume"],
            "driver_rss_mb": trace["driver_rss_mb"],
            "trace_overhead_frac": overhead_s(window) / (obs["t_window_end"] - obs["t_start"]),
        }
        ctx.spans = trace["spans"]
    return {"e2e": e2e, "layer": layer, "detail": detail, "host": obs["host"]}
