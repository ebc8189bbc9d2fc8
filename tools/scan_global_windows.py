"""One-off scanner: list every gate query whose executed plan contains
a partition-less window (windowspecdefinition with no PARTITION BY
columns) — the single-partition global-sort class the round-7 verdict
flagged. Used to seed the plan-audit allowlist; the durable check
lives in tests/test_plan_audit.py."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


def window_specs(plan: str) -> list[str]:
    """Extract each windowspecdefinition(...) argument list (up to the
    specifiedwindowframe part), paren-balanced."""
    out = []
    needle = "windowspecdefinition("
    i = 0
    while True:
        j = plan.find(needle, i)
        if j < 0:
            break
        k = j + len(needle)
        depth = 1
        start = k
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[start : k - 1])
        i = k
    return out


def first_arg(spec: str) -> str:
    depth = 0
    for i, c in enumerate(spec):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            return spec[:i].strip()
    return spec.strip()


def partitionless_specs(plan: str) -> list[str]:
    """Specs whose first argument is already an ORDER column (carries an
    ASC/DESC marker) or the frame itself — i.e. no partition columns."""
    bad = []
    for spec in window_specs(plan):
        fa = first_arg(spec)
        if (
            " ASC" in fa
            or " DESC" in fa
            or fa.startswith("specifiedwindowframe")
        ):
            bad.append(fa)
    return bad


def main() -> None:
    import importlib.util

    from flyq_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_scan", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_spark("scan_global_windows", shuffle_partitions=8)
    for name, fn in sorted(mod.queries().items()):
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"ERR   {name}: {e}")
            continue
        hits = partitionless_specs(plan)
        if hits:
            uniq = sorted({h for h in hits})
            print(f"FLAG  {name}: {len(hits)} partition-less window(s)")
            for u in uniq:
                print(f"      {u[:140]}")
    spark.stop()


if __name__ == "__main__":
    main()
