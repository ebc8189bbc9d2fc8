"""Partition routing (SURVEY A2/A3).

Reference semantics (flyq-server/src/core/topic.rs:76-93):

- keyed message  -> ``xxh3_64(key) as u32 % partition_count``
- keyless        -> round-robin cursor ``(next_partition + 1) % n`` per topic

Spark restatement — every method is a pure projection (no window, no
shuffle; routing must survive a 100 TB batch without serializing through
one task):

- ``method="xxhash64"`` (default): ``pmod(xxhash64(key), n)`` — JVM-side,
  whole-stage-codegen'd. Spark's ``xxhash64`` is XXH64(seed=42), not XXH3,
  so it is deliberately NOT bit-identical to the reference hash; the
  partition-count invariants (stable per key, uniform across partitions)
  are what we preserve.
- ``method="xxh3"``: bit-exact reference parity (u32 truncation included)
  via an Arrow-batched Pandas UDF. Uses the C-extension ``xxhash`` package
  when installed, else the pure-Python XXH3-64 in functions/hashing.py
  (pinned against the published xxHash sanity vectors) — so a keyed FlyQ
  topic migrates with identical partition assignments in any environment.
- ``method="mod"``: ``pmod(cast(key as long), n)`` for *numeric-string*
  keys — deterministic and re-computable by any SQL engine (the DuckDB
  oracle cannot evaluate xxhash64/xxh3), used by the oracle-checked
  query surface.
- keyless rows: the reference's mutable cursor is foreign to a
  declarative plan (and resets to 0 on broker restart anyway,
  topic.rs:35), so we restate it deterministically as
  ``partition = (cursor + dense_rank_of(seq)) % n``. When ``seq`` is
  itself dense per batch (0..m-1 — our produce path guarantees this via
  an input contract), the rank IS ``seq`` and routing is the pure
  projection ``pmod(cursor + seq, n)``. The engine persists ``cursor``
  in ``_topic_meta.json`` across produce calls (stronger than the
  reference, whose in-memory cursor skews toward low partitions on
  restart, topic.rs:35,69).

Quirk Q1 (flyq-protocol/src/message.rs:83-92): a zero-length key decodes
as ``None``; we treat empty keys as keyless, matching the round-trip
behavior.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # optional exact-parity path; not installed in the test container
    import xxhash  # type: ignore

    HAVE_XXHASH = True
except Exception:  # pragma: no cover
    xxhash = None
    HAVE_XXHASH = False

ROUTING_METHODS = ("xxhash64", "xxh3", "mod")


def is_keyless(key: Column) -> Column:
    """Quirk Q1: NULL key and empty-bytes key are both keyless."""
    return key.isNull() | (F.length(key) == 0)


def _xxh3_partition_udf(n_partitions: int):
    """Bit-exact reference routing (topic.rs:90-93): xxh3_64(key) as u32 % n.

    Prefers the C-extension ``xxhash`` package; falls back to the
    pure-Python XXH3-64 in functions/hashing.py (same bits, slower —
    fine for routing keys, which are short).
    """
    from pyspark.sql.functions import pandas_udf

    if HAVE_XXHASH:
        digest = xxhash.xxh3_64_intdigest
    else:
        from flyq_spark.functions.hashing import xxh3_64 as digest

    @pandas_udf("int")
    def xxh3_route(keys: pd.Series) -> pd.Series:
        # NULL-safe: Spark evaluates a pandas UDF over the WHOLE batch
        # even when it sits in the not-taken branch of a `when`, so
        # keyless rows reach here; their value is discarded by the
        # routing `when`, any placeholder works.
        return keys.map(
            lambda k: 0
            if k is None or len(k) == 0
            else int((digest(bytes(k)) & 0xFFFFFFFF) % n_partitions)
        ).astype("int32")

    return xxh3_route


def keyed_partition(key: Column, n_partitions: int, method: str = "xxhash64") -> Column:
    """Partition expression for keyed rows. Pure projection."""
    if method == "xxhash64":
        return F.pmod(F.xxhash64(key), F.lit(n_partitions)).cast("int")
    if method == "xxh3":
        return _xxh3_partition_udf(n_partitions)(key)
    if method == "mod":
        # numeric-string keys only (oracle-friendly deterministic routing)
        return F.pmod(key.cast("string").cast("long"), F.lit(n_partitions)).cast("int")
    raise ValueError(f"unknown routing method {method!r}; expected one of {ROUTING_METHODS}")


def route(
    df: DataFrame,
    n_partitions: int,
    seq_col: str = "seq",
    method: str = "xxhash64",
    rr_cursor: int = 0,
    overwrite: bool = False,
) -> DataFrame:
    """Add a ``partition`` column. Input needs `key` and a total-order `seq`.

    Round-robin is always a shuffle-free projection. When the batch
    carries ``_rr`` — the dense rank among KEYLESS rows that the engine's
    DataFrame produce path stamps (engine._with_dense_seq) —
    keyless rows route as ``pmod(rr_cursor + _rr, n)``: bit-exact
    reference semantics, where only keyless messages advance the cycle
    (topic.rs:80-83). Without ``_rr``, `seq` itself must be dense per
    batch (0..m-1) and routing degrades to the documented SLOTTED cycle
    ``pmod(rr_cursor + seq, n)``: every row consumes a slot, so keyed
    rows shift the cycle — identical to the reference only for
    all-keyless batches.
    """
    if method not in ROUTING_METHODS:
        raise ValueError(
            f"unknown routing method {method!r}; expected one of {ROUTING_METHODS}"
        )
    if "partition" in df.columns:
        if not overwrite:
            raise ValueError(
                "input already has a 'partition' column; pass overwrite=True "
                "to re-route"
            )
        df = df.drop("partition")
    if n_partitions == 1:
        return df.withColumn("partition", F.lit(0))

    rr_idx = F.col("_rr") if "_rr" in df.columns else F.col(seq_col)
    rr_part = F.pmod(F.lit(int(rr_cursor)) + rr_idx, F.lit(n_partitions)).cast(
        "int"
    )
    return df.withColumn(
        "partition",
        F.when(is_keyless(F.col("key")), rr_part).otherwise(
            keyed_partition(F.col("key"), n_partitions, method)
        ),
    )
