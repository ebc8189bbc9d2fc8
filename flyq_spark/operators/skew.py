"""Skew mitigation utilities [EXT].

Hot keys are the failure mode of every keyed shuffle at 100 TB: one
partition receives a disproportionate share and the stage runs at the
speed of its slowest task. AQE's skew-join splitting handles joins; for
aggregations the classic fix is salting — spread each key over
``n_salts`` sub-keys, aggregate partially per (key, salt), then combine
the partials. Works for any algebraic aggregate (count/sum/min/max —
anything with a combine step).

The salt must be deterministic (re-runs must not move rows between
partials mid-retry), so it derives from a hash of a caller-chosen
discriminator column — never rand().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ALGEBRAIC = {
    "count": (F.count, F.sum),  # partial count -> final sum
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_from: str | Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs``: {out_name: (fn, col)} with fn in count/sum/min/max (use
    col="*" with count). ``salt_from``: column whose hash spreads a hot
    key across ``n_salts`` partial groups.

    Equivalent to ``df.groupBy(key_cols).agg(...)`` row-for-row; the
    difference is purely physical — the first shuffle keys on
    (key, salt) so no single reducer owns a hot key.
    """
    for name, (fn, _) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{name}: {fn!r} is not algebraic (use {sorted(_ALGEBRAIC)})")
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_from) if isinstance(salt_from, str) else salt_from),
        F.lit(n_salts),
    )
    partial = df.withColumn("_salt", salt_col).groupBy(
        *key_cols, "_salt"
    ).agg(
        *[
            _ALGEBRAIC[fn][0](F.lit(1) if col == "*" else F.col(col)).alias(f"_p_{name}")
            for name, (fn, col) in aggs.items()
        ]
    )
    return partial.groupBy(*key_cols).agg(
        *[
            _ALGEBRAIC[fn][1](F.col(f"_p_{name}")).alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )

