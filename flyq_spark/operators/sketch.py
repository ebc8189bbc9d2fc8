"""Custom mergeable-summary sketches [EXT].

The driver's custom-operator guidance names "a novel sketch" as the
canonical case for going beyond built-ins. Spark ships HLL and KLL but
no frequent-items sketch; this module adds a distributed MISRA-GRIES
heavy-hitters operator with the production two-pass shape:

1. sketch pass: each partition compresses its token stream into at most
   ``k`` (item, lower-bound-count) counters — the classic MG decrement,
   vectorized per Arrow batch (pandas value_counts, then one dict merge
   + compression per batch, never a per-token Python loop). MG summaries
   are MERGEABLE: the union of per-partition candidate sets provably
   contains every item with true frequency > n/k, so a fixed per-
   partition memory budget still yields a global guarantee.
2. verify pass: the candidate set (≤ k · partitions tiny rows, in
   practice ≪ that) broadcasts back; ONE filtered groupBy computes the
   candidates' EXACT counts and applies the threshold.

The output is therefore exact — the sketch only prunes the key space —
which is what makes a sketch-based operator oracle-checkable: the gate
compares it against a plain GROUP BY ... HAVING in DuckDB. At 100 TB
the exact pass aggregates only candidate keys (map-side combine drops
everything else before the exchange), while the naive form shuffles the
entire vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flyq_spark.operators.util import exact_ceil_frac


def _mg_compress(counter: dict, k: int) -> None:
    """In-place Misra-Gries compression to at most k counters."""
    if len(counter) <= k:
        return
    # subtract the (k+1)-th largest count from everyone; drop <= 0
    vals = sorted(counter.values(), reverse=True)
    dec = vals[k]
    for key in list(counter):
        c = counter[key] - dec
        if c > 0:
            counter[key] = c
        else:
            del counter[key]


def heavy_hitters(
    df: DataFrame,
    item_col: Column | str,
    min_fraction: float = 0.005,
    k: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters via a Misra-Gries candidate pass + exact
    verify: all items whose frequency is >= ceil(min_fraction * n),
    with their exact counts. ``k`` defaults to ceil(2 / min_fraction),
    which guarantees the MG candidate union is a superset of every
    qualifying item (MG error <= n/k <= min_fraction·n/2 < threshold).

    NULL is a first-class item (it forms a group, exactly as
    ``GROUP BY item HAVING`` would return it — the oracle the gate
    compares against): the sketch pass counts NULLs, and the verify
    join is null-safe. The total row count rides the SAME sketch pass
    as per-partition partials, so the operator is genuinely two passes
    over the data, not three.

    Output: (item, n_occurrences) — BIGINT-exact, engine-replayable."""
    if not 0.0 < min_fraction <= 1.0:
        raise ValueError(
            f"min_fraction must be in (0, 1] (got {min_fraction})"
        )
    if k is None:
        k = int(2.0 / min_fraction) + 1
    items = df.select(
        (F.col(item_col) if isinstance(item_col, str) else item_col).alias("item")
    )

    def partials(iterator):
        import pandas as pd

        counter: dict = {}
        total_rows = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            total_rows += len(pdf)
            # dropna=False: NULL must enter the counter like any value
            for item, cnt in pdf["item"].value_counts(dropna=False).items():
                key = None if pd.isna(item) else item
                counter[key] = counter.get(key, 0) + int(cnt)
            _mg_compress(counter, k)
        # candidate rows carry _pcount NULL; ONE total row per partition
        # carries the partition's row count (so no third corpus scan
        # just to learn n)
        yield pd.DataFrame(
            {
                "item": list(counter.keys()) + [None],
                "_pcount": [None] * len(counter) + [total_rows],
            }
        )

    # candidate schema mirrors the actual item type — hardcoding
    # 'item string' would crash Arrow (or silently retype the semi-join
    # key) for bigint/binary item columns behind the generic Column API
    item_type = items.schema["item"].dataType.simpleString()
    sketch = items.mapInPandas(
        partials, schema=f"item {item_type}, _pcount long"
    ).persist()  # two consumers: candidates + total
    candidates = (
        sketch.where(F.col("_pcount").isNull()).select("item").distinct()
    )
    total = sketch.agg(F.sum("_pcount").cast("long").alias("_n"))
    cand = candidates.withColumnRenamed("item", "_citem")
    exact = (
        items.join(
            F.broadcast(cand),
            items["item"].eqNullSafe(F.col("_citem")),
            "left_semi",
        )
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(
            F.col("n_occurrences")
            >= exact_ceil_frac(F.col("_n"), min_fraction)
        )
        .select("item", "n_occurrences")
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 8,
    lg_k: int = 12,
) -> DataFrame:
    """Pairwise content-overlap estimates between corpus slices
    (sources, dumps, snapshots) from mergeable HLL sketches — the
    O(groups²) audit a 100 TB pipeline runs BEFORE committing to a full
    cross-source dedup pass: |A ∩ B| ≈ |A| + |B| - |A ∪ B| by
    inclusion-exclusion over each slice's distinct word-``shingle_n``-
    gram sketch (the same Theta/HLL recipe the DataSketches library
    documents for set-expression estimation).

    Scale shape: ONE pass over the corpus builds a (group → HLL) table
    of |groups| rows × 2^lg_k bytes — the shuffle moves mergeable
    sketch partials, never shingles (hll_sketch_agg partial-aggregates
    map-side like any typed aggregate); the pairwise stage is a
    broadcast self-join over the tiny sketch table. Estimates carry
    HLL error (~1.6% at lg_k=12). All three estimates go through
    ``hll_union``: datasketches estimates a directly aggregated sketch
    and a union result with different estimators, and mixing the two
    made the inclusion-exclusion overlap move with the partition count.
    The gate entry is rows-only (the PAIR SET is exact and
    deterministic); accuracy and cross-partitioning stability are
    pinned with tolerances against exact distinct counts in pytest.

    Output: (group_a, group_b, est_a, est_b, est_union, est_overlap)
    with group_a < group_b, estimates as BIGINTs (floored)."""
    from flyq_spark.operators.corpus import _word_ngrams
    from flyq_spark.operators.util import fan_out

    words = F.split(F.col(text_col), " ")
    grams = fan_out(df).select(
        F.col(group_col).alias("g"),
        F.explode(_word_ngrams(words, shingle_n)).alias("_ng"),
    )
    # hash to 64-bit before sketching: fixed-width items, same cost
    # profile as the contamination shingle exchange
    sk = grams.select("g", F.xxhash64("_ng").alias("_h")).groupBy("g").agg(
        F.hll_sketch_agg("_h", F.lit(lg_k)).alias("_sk")
    )
    a, b = sk.alias("a"), sk.alias("b")
    est_a = F.hll_sketch_estimate(F.hll_union(F.col("a._sk"), F.col("a._sk")))
    est_b = F.hll_sketch_estimate(F.hll_union(F.col("b._sk"), F.col("b._sk")))
    est_u = F.hll_sketch_estimate(F.hll_union(F.col("a._sk"), F.col("b._sk")))
    return (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("group_a"),
            F.col("b.g").alias("group_b"),
            est_a.cast("long").alias("est_a"),
            est_b.cast("long").alias("est_b"),
            est_u.cast("long").alias("est_union"),
            # clamp: sketch error can push est_union above est_a+est_b
            # for disjoint slices — a negative intersection is noise,
            # not signal
            F.greatest(F.lit(0.0), est_a + est_b - est_u)
            .cast("long")
            .alias("est_overlap"),
        )
    )


def heavy_hitters_by_group(
    df: DataFrame,
    group_col: str,
    item_col: Column | str,
    min_fraction: float = 0.005,
    k: int | None = None,
) -> DataFrame:
    """Per-group EXACT heavy hitters — the keyed form of
    ``heavy_hitters``: for every group, all items with frequency
    >= ceil(min_fraction · n_group), with exact counts.

    Same two-pass shape, with the Misra-Gries state keyed by group
    inside each partition (bounded at k counters PER GROUP SEEN — the
    memory budget is k · |groups-per-partition|, fine when groups are
    languages/sources, the intended granularity). The per-(partition,
    group) candidate union provably contains every item above each
    group's own threshold; the exact pass aggregates only candidate
    (group, item) keys, so the vocabulary-sized long tail never crosses
    the wire — the win over a plain GROUP BY at 100 TB.

    Output: (group, item, n_occurrences), BIGINT-exact."""
    if not 0.0 < min_fraction <= 1.0:
        raise ValueError(f"min_fraction must be in (0, 1] (got {min_fraction})")
    if k is None:
        k = int(2.0 / min_fraction) + 1
    items = df.select(
        F.col(group_col).alias("grp"),
        (F.col(item_col) if isinstance(item_col, str) else item_col).alias("item"),
    )

    def partials(iterator):
        import pandas as pd

        counters: dict = {}
        totals: dict = {}
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            for grp, sub in pdf.groupby("grp", dropna=False, sort=False):
                g = None if pd.isna(grp) else grp
                counter = counters.setdefault(g, {})
                totals[g] = totals.get(g, 0) + len(sub)
                for item, cnt in sub["item"].value_counts(dropna=False).items():
                    key = None if pd.isna(item) else item
                    counter[key] = counter.get(key, 0) + int(cnt)
                _mg_compress(counter, k)
        rows_g, rows_i, rows_c = [], [], []
        for g, counter in counters.items():
            for it in counter:
                rows_g.append(g)
                rows_i.append(it)
                rows_c.append(None)
        for g, n in totals.items():
            rows_g.append(g)
            rows_i.append(None)
            rows_c.append(n)
        yield pd.DataFrame({"grp": rows_g, "item": rows_i, "_pcount": rows_c})

    grp_type = items.schema["grp"].dataType.simpleString()
    item_type = items.schema["item"].dataType.simpleString()
    sketch = items.mapInPandas(
        partials, schema=f"grp {grp_type}, item {item_type}, _pcount long"
    ).persist()
    candidates = (
        sketch.where(F.col("_pcount").isNull())
        .select("grp", "item")
        .distinct()
        .withColumnRenamed("grp", "_cgrp")
        .withColumnRenamed("item", "_citem")
    )
    totals = (
        sketch.where(F.col("_pcount").isNotNull())
        .groupBy("grp")
        .agg(F.sum("_pcount").cast("long").alias("_n"))
        .withColumnRenamed("grp", "_tgrp")
    )
    exact = (
        items.join(
            F.broadcast(candidates),
            items["grp"].eqNullSafe(F.col("_cgrp"))
            & items["item"].eqNullSafe(F.col("_citem")),
            "left_semi",
        )
        .groupBy("grp", "item")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        exact.join(
            F.broadcast(totals), exact["grp"].eqNullSafe(F.col("_tgrp"))
        )
        .where(
            F.col("n_occurrences") >= exact_ceil_frac(F.col("_n"), min_fraction)
        )
        .select(
            F.col("grp").alias(group_col),
            "item",
            "n_occurrences",
        )
    )


def mg_summary(df: DataFrame, item_col: Column | str, k: int) -> tuple[dict, int]:
    """Driver-side Misra-Gries summary of a (batch-sized) frame: at most
    ``k`` (item, lower-bound-count) counters plus the exact row count.
    Distributed: per-partition MG partials via the same Arrow pass as
    ``heavy_hitters``, folded and re-compressed on the driver — the
    driver sees ≤ k · partitions candidate rows, never the data.

    MG summaries are mergeable (fold = add counters, compress to k), so
    this is the batch-level building block for BOUNDED-STATE streaming
    frequency tracking: any item with true total frequency > n/k over
    the merged stream survives the fold, and every count is a lower
    bound of the true count (within n/k of it)."""
    items = df.select(
        (F.col(item_col) if isinstance(item_col, str) else item_col).alias("item")
    )

    def partials(iterator):
        import pandas as pd

        counter: dict = {}
        total_rows = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            total_rows += len(pdf)
            for item, cnt in pdf["item"].value_counts(dropna=False).items():
                key = None if pd.isna(item) else item
                counter[key] = counter.get(key, 0) + int(cnt)
            _mg_compress(counter, k)
        # candidate rows carry their partial lower-bound count in _c;
        # one _t row per partition carries the partition's row count
        yield pd.DataFrame(
            {
                "item": list(counter.keys()) + [None],
                "_c": list(counter.values()) + [None],
                "_t": [None] * len(counter) + [total_rows],
            }
        )

    item_type = items.schema["item"].dataType.simpleString()
    rows = items.mapInPandas(
        partials, schema=f"item {item_type}, _c long, _t long"
    ).collect()
    counter: dict = {}
    total = 0
    for r in rows:
        if r["_t"] is not None:
            total += r["_t"]
        else:
            counter[r["item"]] = counter.get(r["item"], 0) + r["_c"]
    _mg_compress(counter, k)
    return counter, total


def mg_merge(state: dict, other: dict, k: int) -> dict:
    """Merge two MG counter dicts and re-compress to ``k`` counters —
    the associative fold for streaming/batched frequency state."""
    merged = dict(state)
    for item, cnt in other.items():
        merged[item] = merged.get(item, 0) + cnt
    _mg_compress(merged, k)
    return merged


_KMV_M = 1 << 60  # md5-60bit hash space size


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    item: Column,
    k: int = 128,
) -> DataFrame:
    """K-minimum-values distinct sketch per group: the ``k`` SMALLEST
    md5-60bit hashes of the group's distinct items — the
    DETERMINISTIC, ORACLE-REPLAYABLE member of the distinct-sketch
    family (HLL's register randomization is engine-internal; bottom-k
    of a fixed hash is pure SQL on any engine). Mergeable: the sketch
    of a union is the bottom-k of the concatenated sketches.

    Plan: one distinct on (group, hash) — map-side combined — then a
    rank window per group; sketch size is k rows per group.
    Output: (group, h) with h ascending rank <= k."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    h = F.conv(F.substring(F.md5(item.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    hashes = df.select(F.col(group_col).alias("_g"), h.alias("_h")).distinct()
    w = Window.partitionBy("_g").orderBy("_h")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(F.col("_g").alias(group_col), F.col("_h").alias("h"))
    )


def kmv_overlap_matrix(
    df: DataFrame,
    group_col: str,
    item: Column,
    k: int = 128,
) -> DataFrame:
    """Pairwise distinct-cardinality and overlap estimates between
    groups from their KMV sketches — the hash-checkable counterpart of
    the HLL ``source_overlap_matrix`` (whose sketch bytes are
    engine-internal, forcing a rows-only gate; every number here is
    exact integer arithmetic both engines replay).

    Estimators (M = 2^60 hash space): a group with fewer than k
    distinct hashes is counted EXACTLY; otherwise
    ``est = (k-1)·M div h_k`` (the classic KMV estimate). The
    intersection uses the SAMPLE-COUNTING estimator — within the
    union's bottom-k, count hashes present in both sides, scale by
    est_union div k — which degrades gracefully to the exact
    intersection when the union is complete (< k hashes). Inclusion-
    exclusion is deliberately NOT used (its error explodes for small
    intersections).

    The pair expansion is |groups|² sketch-row work — groups are
    sources/slices (tens), never data rows. Output per (a < b) pair:
    (group_a, group_b, est_a, est_b, est_union, inter_sample,
    est_intersection)."""
    sk = kmv_sketch(df, group_col, item, k).persist()
    per_group = sk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_cnt"), F.max("h").alias("_hk")
    )
    # (k-1)·2^60 exceeds int64 — the product runs in DECIMAL(38,0)
    # (div on decimals is exact integer division, probed against
    # Python/DuckDB; the oracle mirrors with HUGEINT // cast to BIGINT)
    num = F.lit(k - 1).cast("decimal(38,0)") * F.lit(_KMV_M).cast(
        "decimal(38,0)"
    )
    est = lambda cnt, hk: F.when(  # noqa: E731
        cnt < k, cnt.cast("long")
    ).otherwise(
        F.call_function("div", num, hk.cast("decimal(38,0)")).cast("long")
    )
    ga = per_group.select(
        F.col(group_col).alias("group_a"),
        est(F.col("_cnt"), F.col("_hk")).alias("est_a"),
    )
    gb = per_group.select(
        F.col(group_col).alias("group_b"),
        est(F.col("_cnt"), F.col("_hk")).alias("est_b"),
    )
    pairs = ga.crossJoin(gb).where(F.col("group_a") < F.col("group_b"))
    a_rows = sk.select(F.col(group_col).alias("group_a"), "h")
    b_rows = sk.select(F.col(group_col).alias("group_b"), "h")
    # full outer union of the two hash sets per pair, tagged by side
    ha = pairs.join(a_rows, on="group_a").select(
        "group_a", "group_b", "est_a", "est_b", "h", F.lit(1).alias("side_a")
    )
    hb = pairs.join(b_rows, on="group_b").select(
        "group_a", "group_b", "est_a", "est_b", "h", F.lit(2).alias("side_a")
    )
    merged = (
        ha.unionByName(hb)
        .groupBy("group_a", "group_b", "est_a", "est_b", "h")
        .agg(F.count(F.lit(1)).alias("_sides"))
    )
    wp = Window.partitionBy("group_a", "group_b").orderBy("h")
    ranked = merged.withColumn("_rn", F.row_number().over(wp)).where(
        F.col("_rn") <= k
    )
    agg = ranked.groupBy("group_a", "group_b", "est_a", "est_b").agg(
        F.count(F.lit(1)).alias("_ucnt"),
        F.max("h").alias("_uhk"),
        F.sum(F.when(F.col("_sides") == 2, 1).otherwise(0)).alias(
            "inter_sample"
        ),
    )
    est_union = est(F.col("_ucnt"), F.col("_uhk"))
    est_inter = F.when(
        F.col("_ucnt") < k, F.col("inter_sample").cast("long")
    ).otherwise(
        F.call_function(
            "div",
            F.col("inter_sample").cast("decimal(38,0)")
            * est_union.cast("decimal(38,0)"),
            F.lit(k).cast("decimal(38,0)"),
        ).cast("long")
    )
    out = agg.select(
        "group_a",
        "group_b",
        "est_a",
        "est_b",
        est_union.alias("est_union"),
        F.col("inter_sample").cast("long").alias("inter_sample"),
        est_inter.alias("est_intersection"),
    )
    return out
