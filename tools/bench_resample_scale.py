"""Measured scale curve for the md5-ring sampling family (r10):
synthetic 10^6 vs 10^8 rows through importance_resample and
corpus_shuffle on local[32]. The claim under test: the 4096-way
shard windows keep the within-shard sorts small and balanced
(N/4096 rows per sort group), so wall-time scales ~linearly with no
OOM and no single-task straggler — the md5 hash key is uniform by
construction, the adversarial-skew-free case.

Input is spark.range (no fixture dependency): w = a small pseudo-random
integer weight (the domain_affinity-ratio magnitude), ids dense.
Checks Sigma n_copies = k exactly at every size. Results are recorded
in SCALE.md.

Usage: python tools/bench_resample_scale.py [n_rows ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from flyq_spark.operators.corpus import corpus_shuffle, importance_resample
    from flyq_spark.session import get_spark

    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 100_000_000]
    spark = get_spark("resample_scale", shuffle_partitions=32)
    for n in sizes:
        df = spark.range(n).select(
            F.col("id"),
            (F.col("id") * 2654435761 % 1021).alias("w"),  # weights 0..1020
        )
        k = max(n // 10, 1)

        t0 = time.time()
        out = importance_resample(df, "w", k, seed="scale", id_col="id")
        r = out.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_copies").alias("total"),
        ).collect()[0]
        t_res = time.time() - t0
        assert r["total"] == k, r

        t0 = time.time()
        out = corpus_shuffle(df, id_col="id")
        r2 = out.agg(
            F.count(F.lit(1)).alias("n"), F.max("shuffle_rank").alias("mx")
        ).collect()[0]
        t_shuf = time.time() - t0
        assert r2["n"] == n and r2["mx"] == n, r2

        print(
            f"n={n}: importance_resample(k={k})={t_res:.1f}s "
            f"(drew {r['n_docs']} docs) corpus_shuffle={t_shuf:.1f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
