"""Helpers shared by the workloads: the Spark session, statistics, the
failed/attempted tally, host-noise readings and process memory."""

from __future__ import annotations

import os
import statistics
import time

_USER_HZ = os.sysconf("SC_CLK_TCK")


def spark_session(app: str, run_dir: str):
    from flyq_spark.session import get_spark

    return get_spark(
        app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def flyq_tail(spark, base_dir: str, topic: str, checkpoint: str, sink, tracer=None):
    """Run one availableNow ``spark.readStream.format("flyq")`` query over
    ``topic`` (from the earliest offset the checkpoint has not seen),
    handing each micro-batch to ``sink(df, batch_id)``. Returns the
    query's wall seconds and the number of non-empty micro-batches. With
    a tracer, records a ``datasource.tail`` span with the query's job
    census (its jobs run in a job group named by the query's run id) and
    each batch's ``durationMs``."""
    from spans import job_census, maybe_span

    t0 = time.perf_counter()
    with maybe_span(tracer, "datasource.tail", census=False) as rec:
        query = (
            spark.readStream.format("flyq")
            .option("base_dir", base_dir)
            .option("topic", topic)
            .option("startingOffsets", "earliest")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    seconds = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    if tracer is not None:
        t_census = time.perf_counter()
        rec["census"] = job_census(spark.sparkContext, str(query.runId))
        rec["duration_ms"] = [p["durationMs"] for p in progress]
        rec["overhead_s"] += time.perf_counter() - t_census
    return seconds, len(progress)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def geomean(xs) -> float:
    return float(statistics.geometric_mean(xs)) if xs else float("nan")


class Tally:
    """Counts operations attempted and failed. An operation fails when
    it raises or when its output fails a correctness check; the first
    few failures are kept as notes."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)
        return ok

    def fail(self, what: str) -> None:
        """Count one operation that raised."""
        self.check(False, what)


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class HostWindow:
    """Host noise over one wall-clock window: load averages at both ends
    and hypervisor steal as a share of the window's core-seconds."""

    def __init__(self):
        self.load_before = list(os.getloadavg())
        self.steal_before = steal_ticks()
        self.t0 = time.time()

    def close(self) -> dict:
        wall = time.time() - self.t0
        stolen = steal_ticks() - self.steal_before
        n = cpus()
        return {
            "loadavg_before": [round(x, 2) for x in self.load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks": stolen,
            "steal_frac": stolen / (wall * _USER_HZ * n) if wall > 0 else 0.0,
            "window_s": wall,
            "cpus": n,
        }


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_rss_mb(spark) -> float:
    """Peak RSS of the Python driver plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return peak_rss_mb() + peak_rss_mb(int(jvm_pid))
