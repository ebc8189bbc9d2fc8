"""``gates``: the query gates of the families later work will rewrite.

Gate callables come from ``__spark_entry__.queries()`` and their action
(collect, or a write to the ``noop`` sink) from ``bench.HEADLINE``; only
the family -> gate membership (``FAMILIES``) lives here. Inputs are
generated from the seed (``datagen.py``): the gates are timed at scale
``SCALE`` and warmed at the small scale ``WARM_SCALE``.

Set-up runs every gate once on the small inputs (the warm pass) in a
seed-rotated order and compares its rows with its ``oracle_sql()`` on
DuckDB where one exists (rows-only otherwise); the DuckDB side is not
counted as set-up time. The timed phase then runs the gates on the
full inputs in the same rotated order, in as many whole passes as
bring the timed phase nearest to the window, so that no gate pays
first-in-line costs. A gate's time is the
median of its timed runs.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import time

from common import HostWindow, driver_rss_mb, geomean, median, spark_session
from datagen import TABLES, write_tables
from spans import Tracer, add_census, empty_census, maybe_span, overhead_s

SCALE = 0.1
WARM_SCALE = 0.001
# one bench.HEADLINE gate per operator family
FAMILIES = {
    "broker": ["watermarks"],
    "relational": ["q5_region_revenue"],
    "neardup": ["phash_neardup"],
    "bpe": ["bpe_merges_exact"],
    "ranking": ["mad_outliers"],
    "lm": ["lm_backoff"],
    "similarity": ["similarity_topk"],
}


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"f{float(v):.10g}"
    if isinstance(v, datetime.datetime):
        return "t" + v.isoformat()
    if isinstance(v, int):
        return f"f{float(v):.10g}" if abs(v) >= 2**53 else f"i{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "s" + str(v)


def canonical_rows(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and values as comparable strings,
    sorted: the order-insensitive form both engines' results reduce to."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


def oracle_check(con, sql: str, cols: list[str], rows: list) -> str | None:
    """None when the DuckDB oracle agrees, else what differs."""
    tbl = con.sql(sql).arrow()
    ocols = list(tbl.column_names)
    orows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if canonical_rows(cols, rows) != canonical_rows(ocols, orows):
        return "values differ from the oracle"
    return None


class Gates:
    def __init__(self, spark):
        import bench
        import __spark_entry__ as entry

        self.spark = spark
        self.tracer: Tracer | None = None
        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()
        self.collect = dict(bench.HEADLINE)

    def run(self, name: str, family: str, data_dir: str, collect: bool | None = None):
        """Build and run one gate on the tables in ``data_dir``; returns
        (build_s, total_s, rows, columns), rows being None for a
        noop-sink gate."""
        self.spark.catalog.clearCache()
        collect = self.collect[name] if collect is None else collect
        t0 = time.perf_counter()
        with maybe_span(self.tracer, f"gate.{name}") as gate_rec:
            gate_rec["family"] = family
            with maybe_span(self.tracer, f"gate.{name}.build"):
                df = self.builders[name](self.spark, data_dir)
            t1 = time.perf_counter()
            with maybe_span(self.tracer, f"gate.{name}.action"):
                if collect:
                    rows = df.collect()
                else:
                    rows = None
                    df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t0, rows, df.columns


def rotated(families: dict[str, list[str]], seed: int) -> list[tuple[str, str]]:
    order = [(g, f) for f, gates in families.items() for g in gates]
    k = seed % len(order)
    return order[k:] + order[:k]


def run(ctx) -> dict:
    import duckdb

    warm_dir = write_tables(os.path.join(ctx.run_dir, "warm"), ctx.seed, WARM_SCALE)
    data_dir = write_tables(os.path.join(ctx.run_dir, "data"), ctx.seed, SCALE)
    spark = spark_session("perfbench-gates", ctx.run_dir)
    gates = Gates(spark)
    order = rotated(FAMILIES, ctx.seed)
    tally = ctx.tally

    # warm pass with the oracle comparison; only Spark time is set-up
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{warm_dir}/{t}.parquet'")
    check_s = 0.0
    for name, family in order:
        try:
            _, _, rows, cols = gates.run(name, family, warm_dir, collect=True)
        except Exception as e:
            tally.fail(f"gate {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        t0 = time.perf_counter()
        problem = None
        if name in gates.oracles:
            problem = oracle_check(con, gates.oracles[name], cols, rows)
        tally.check(problem is None, f"gate {name}: {problem}")
        check_s += time.perf_counter() - t0
    con.close()
    setup_s = time.time() - ctx.t0 - check_s
    tracer = gates.tracer = Tracer(spark.sparkContext) if ctx.trace else None

    host = HostWindow()
    t_start = time.perf_counter()
    times: dict[str, list[tuple[float, float]]] = {g: [] for g, _ in order}
    failed = False
    pass_start = t_start
    while not failed:
        for name, family in order:
            try:
                build_s, total_s, _, _ = gates.run(name, family, data_dir)
            except Exception as e:
                tally.fail(f"gate {name} (timed): {type(e).__name__}: {str(e)[:300]}")
                failed = True
                break
            tally.attempted += 1
            times[name].append((build_s, total_s))
        # Whole passes, as many as bring the timed phase nearest to the
        # window: start another only if it would end less far past the
        # window than this one ends short of it. A pass count that flips
        # between one and two from run to run splits the figures in two.
        now = time.perf_counter()
        if now + (now - pass_start) / 2 >= t_start + ctx.seconds:
            break
        pass_start = now
    runs = sum(len(ts) for ts in times.values())
    wall = time.perf_counter() - t_start
    host_noise = host.close()

    gate_s = {g: median([t for _, t in ts]) for g, ts in times.items() if ts}
    action_s = {g: median([t - b for b, t in ts]) for g, ts in times.items() if ts}
    total = sum(gate_s.values())
    detail = {
        "gates_total_s": total,
        "gates_geomean_ms": geomean([s * 1e3 for s in gate_s.values()]),
        "gates_action_geomean_ms": geomean([s * 1e3 for s in action_s.values()]),
        "gates_timed_runs": runs,
        **{f"gate.{g}.s": s for g, s in gate_s.items()},
    }
    e2e = {
        "setup_s": setup_s,
        "work_per_s": len(gate_s) / total,
        "op_ms": detail["gates_geomean_ms"],
        "read_ms": detail["gates_action_geomean_ms"],
    }
    layer = {}
    if tracer is not None:
        spans = [s for s in tracer.spans if s["start"] >= t_start]
        detail.update(_family_detail(spans, FAMILIES))
        n_runs = max(1, runs)
        whole = empty_census()
        action = empty_census()
        wall_gates = 0.0
        for s in spans:
            add_census(whole, s["census"])
            if s["name"].endswith(".action"):
                add_census(action, s["census"])
            if s["parent"] is None:
                wall_gates += s["end"] - s["start"]
        layer = {
            "spark.jobs_per_op": whole["jobs"] / n_runs,
            "spark.stages_per_op": whole["stages"] / n_runs,
            "spark.tasks_per_op": whole["tasks"] / n_runs,
            "spark.shuffle_write_mb_per_op": whole["shuffle_write_mb"] / n_runs,
            "spark.executor_run_s_per_op": whole["executor_run_s"] / n_runs,
            "spark.core_busy_frac": whole["executor_run_s"] / (wall_gates * host_noise["cpus"]),
            "spark.jobs_per_read": action["jobs"] / n_runs,
            "spark.input_mb_per_read": action["input_mb"] / n_runs,
            "driver_rss_mb": driver_rss_mb(spark),
            "trace_overhead_frac": overhead_s(spans) / wall,
        }
        ctx.spans = spans
    spark.stop()
    return {"e2e": e2e, "layer": layer, "detail": detail, "host": host_noise}


def _family_detail(spans: list[dict], families: dict[str, list[str]]) -> dict:
    """Per family: gate seconds, eager (build-phase) seconds, and the job
    census, each summed over the family's gates and averaged over runs."""
    out = {}
    for fam, names in families.items():
        tops = [s for s in spans if s["parent"] is None and s.get("family") == fam]
        runs = {}
        for s in tops:
            runs[s["name"]] = runs.get(s["name"], 0) + 1
        per = {n: 1.0 / runs[f"gate.{n}"] for n in names if runs.get(f"gate.{n}")}
        c = empty_census()
        secs = build = 0.0
        ids = {s["id"]: s for s in tops}
        for s in spans:
            top = s if s["id"] in ids else ids.get(s["parent"])
            if top is None:
                continue
            w = per[top["name"][len("gate."):]]
            for k in c:
                c[k] += s["census"][k] * w
            if s is top:
                secs += (s["end"] - s["start"]) * w
            elif s["name"].endswith(".build"):
                build += (s["end"] - s["start"]) * w
        out[f"gates.{fam}.s"] = secs
        out[f"gates.{fam}.build_s"] = build
        for k in ("jobs", "stages", "shuffle_write_mb", "executor_run_s"):
            out[f"gates.{fam}.{k}"] = c[k]
    return out
