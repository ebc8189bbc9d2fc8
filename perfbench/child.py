"""One benchmark run inside the environment ``run.py`` pinned.

Runs the workload, then writes the result object (correct, attempted,
failed, metrics) to ``--result`` and the full report (every detail
metric, host noise, source digest and, when traced, the spans) under
``.perfbench/out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import json
import math
import os
import time

from common import Tally

MODULES = {"wire-mix": "wire_mix", "log-bulk": "log_bulk", "gates": "gates"}


class Context:
    def __init__(self, seed: int, seconds: int, trace: bool, run_dir: str, t0: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.t0 = t0
        self.tally = Tally()
        self.spans: list[dict] | None = None


def source_digest(root: str) -> str:
    """sha256 over the program's sources (the checkout is not a git
    repository, so this stands in for the commit id)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "flyq_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "bench.py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--report-dir", required=True)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    ctx = Context(args.seed, args.seconds, bool(args.trace), args.run_dir, args.t0)
    mod = importlib.import_module(MODULES[args.workload])
    out = mod.run(ctx)
    values = out["layer" if args.trace else "e2e"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            ctx.tally.fail(f"metric {m['name']} was not measured ({v!r})")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {
        "correct": ctx.tally.failed == 0,
        "attempted": ctx.tally.attempted,
        "failed": ctx.tally.failed,
        "metrics": metrics,
    }
    host = dict(out["host"], source_digest=source_digest(root))
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "finished": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "result": result, "e2e": out["e2e"], "layer": out["layer"],
        "detail": out["detail"], "host": host, "failures": ctx.tally.notes,
    }
    if ctx.spans is not None:
        report["spans"] = ctx.spans
    os.makedirs(args.report_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(args.report_dir, name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    with open(args.result, "w") as f:
        json.dump({"result": result, "host": host, "detail": out["detail"],
                   "failures": ctx.tally.notes}, f, default=str)


if __name__ == "__main__":
    main()
