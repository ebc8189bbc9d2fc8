"""Measured scale curve for the distributed ranking family (VERDICT r8
item 5): synthetic 10^6 vs 10^8 rows through ntile_exact /
grouped_ntile / global_prefix_sums on local[32]. The claim under test:
cost is a CONSTANT overhead (checkpoint write + offset table) plus
LINEAR distributed work — wall-time should scale ~100x or less from
1e6 to 1e8, with no OOM and no single-task straggler. Results are
recorded in SCALE.md.

Input is spark.range (no fixture dependency): v = a multiplicative-hash
pseudo-shuffle of id (high-cardinality order key), g = id % 5 (the
hostile ~5-value group key this family exists for).

Usage: python tools/bench_ranking_scale.py [n_rows ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F


def frame(spark, n):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 1_000_000_007).alias("v"),
        (F.col("id") % 5).cast("string").alias("g"),
    )


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from flyq_spark.operators.ranking import (
        global_prefix_sums,
        grouped_ntile,
        ntile_exact,
    )
    from flyq_spark.session import get_spark

    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 100_000_000]
    spark = get_spark("ranking_scale", shuffle_partitions=32)
    for n in sizes:
        df = frame(spark, n)
        t0 = time.time()
        out = ntile_exact(
            df, [F.col("v").asc(), F.col("id").asc()], 100, "q"
        )
        r = out.agg(
            F.count(F.lit(1)).alias("n"), F.max("q").alias("mx")
        ).collect()[0]
        t_ntile = time.time() - t0
        assert r["n"] == n and r["mx"] == (100 if n >= 100 else n), r

        t0 = time.time()
        out = grouped_ntile(
            df, ["g"], [F.col("v").asc(), F.col("id").asc()], 100, "q"
        )
        r = out.agg(F.count(F.lit(1)).alias("n"), F.max("q").alias("mx")).collect()[0]
        t_gntile = time.time() - t0
        assert r["n"] == n, r

        t0 = time.time()
        out = global_prefix_sums(df, [F.col("id").asc()], {"cv": F.col("v")})
        r = out.agg(F.count(F.lit(1)).alias("n"), F.max("cv").alias("mx")).collect()[0]
        t_psum = time.time() - t0
        assert r["n"] == n, r

        print(
            f"n={n}: ntile_exact={t_ntile:.1f}s grouped_ntile={t_gntile:.1f}s "
            f"global_prefix_sums={t_psum:.1f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
