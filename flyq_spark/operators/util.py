"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy narrow stage gets at least ``min_parallelism``
    tasks (default: the cluster's defaultParallelism).

    A small corpus read from one parquet file (or one row group — splits
    can't cross row-group boundaries) pins every downstream narrow stage
    to a single core, no matter how wide the cluster is. For operators
    whose per-row work dominates (shingling, per-char fingerprints,
    signature building, n×k pivot scoring), one round-robin shuffle to
    restore parallelism pays for itself immediately.

    Guarded: when the input already has enough partitions — the normal
    state at cluster scale, where 100 TB arrives as thousands of splits —
    this is a no-op, so the library never injects a corpus-wide shuffle
    into an already-parallel plan.
    """
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_checkpoint(checkpointed: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks. ``DataFrame.unpersist`` only
    clears the cache manager's entry; the checkpoint's blocks belong to
    the RDD under its LogicalRDD, so release that RDD. Only a frame
    that nothing still to be computed reads may be released."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def exact_ceil_frac(n, fraction: float, max_den: int = 100_000):
    """``ceil(fraction * n)`` as EXACT integer arithmetic on a column.

    The naive ``F.ceil(F.lit(float(f)) * n)`` inherits IEEE error:
    0.55 * 100 = 55.000000000000007 in double, so its ceil is 56 — off
    by one for thousands of (fraction, n) pairs, which silently breaks
    exactness guarantees built on the rank (prefix-filter recall,
    inverted-CDF percentiles, heavy-hitter thresholds). Here the
    fraction is read as the DECIMAL the caller wrote
    (``Fraction(str(f))``, e.g. 0.55 → 11/20) and
    ceil(num·n/den) = (num·n + den − 1) div den is computed in
    integers end-to-end: SQL ``div`` (IntegralDivide) on longs, exact at
    any magnitude — no IEEE double appears anywhere, so no quotient is
    ever large enough to reintroduce the off-by-one this helper exists
    to remove.
    """
    from fractions import Fraction

    from pyspark.sql import functions as F

    fr = Fraction(str(fraction)).limit_denominator(max_den)
    num, den = fr.numerator, fr.denominator
    x = F.lit(num).cast("long") * n + F.lit(den - 1)
    return F.call_function("div", x, F.lit(den).cast("long"))


def floor_div(value, step):
    """Exact integer FLOOR division of a long Column by a positive long
    Column/literal — Spark's ``div`` truncates toward zero, so negative
    dividends with a nonzero remainder need one step back. The shared
    form of the bucket arithmetic in timeseries.time_bucket and
    profile.value_histogram (one definition so a fix cannot miss a
    copy)."""
    from pyspark.sql import functions as F

    q = F.call_function("div", value, step)
    return F.when((value < 0) & (value % step != 0), q - F.lit(1).cast("long")).otherwise(q)
