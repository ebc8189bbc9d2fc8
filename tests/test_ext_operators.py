"""[EXT] operator tests: dedup family, similarity search, text analysis,
multimodal plumbing, sessionization. LSH/MinHash/SimHash paths are pinned
against brute-force equivalents (subset/recall properties + determinism),
which is their correctness contract since they are not SQL-expressible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ----------------------------- dedup ---------------------------------- #


def test_dedup_exact_keeps_min_id(spark):
    from flyq_spark.operators.dedup import dedup_exact, dedup_exact_rows

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa"), (5, "cc")], "doc_id long, text string"
    )
    got = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert got == [1, 2, 5]
    rows = dedup_exact_rows(df).collect()
    assert sorted((r["doc_id"], r["text"]) for r in rows) == [(1, "aa"), (2, "bb"), (5, "cc")]


def test_paragraph_dedup_keep_first_and_rebuild(spark):
    """Keep-first at paragraph granularity: a repeated paragraph survives
    only at its smallest (id, pos); documents rebuild in original order;
    a document whose every paragraph appeared earlier rebuilds to NULL."""
    from flyq_spark.operators.dedup import paragraph_dedup, split_units

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha"),   # intra-doc dup: 2nd 'alpha' dropped
            (2, "beta\ngamma"),           # 'beta' first seen in doc 1
            (3, "alpha\nbeta"),           # nothing survives
        ],
        "doc_id long, text string",
    )
    units = split_units(df)
    assert units.count() == 7  # 3 + 2 + 2
    got = {
        r["doc_id"]: (r["n_units"], r["n_kept"], r["text"])
        for r in paragraph_dedup(df).collect()
    }
    assert got[1] == (3, 2, "alpha\nbeta")
    assert got[2] == (2, 1, "gamma")
    assert got[3] == (2, 0, None)


def test_boilerplate_removal_cross_doc_threshold(spark):
    """A unit in >= min_docs DISTINCT documents is excised EVERYWHERE
    (including its first occurrence — the contrast with keep-first);
    intra-document repetition alone does not trip the distinct-doc
    threshold; a fully-boilerplate document rebuilds to NULL."""
    from flyq_spark.operators.dedup import boilerplate_removal

    df = spark.createDataFrame(
        [
            (1, "nav\nbody-one\nnav"),  # 'nav' repeats in-doc AND cross-doc
            (2, "nav\nbody-two"),
            (3, "solo\nsolo"),           # intra-doc only: kept (1 distinct doc)
            (4, "nav"),                  # all boilerplate -> NULL
            (5, None),                   # NULL text -> 0 units, never dropped
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_units"], r["n_kept"], r["text"])
        for r in boilerplate_removal(df, min_docs=2).collect()
    }
    assert got[1] == (3, 1, "body-one")
    assert got[2] == (2, 1, "body-two")
    assert got[3] == (2, 2, "solo\nsolo")
    assert got[4] == (1, 0, None)
    assert got[5] == (0, 0, None)
    # min_docs=4: 'nav' is in only 3 distinct docs (1, 2, 4), so
    # everything survives
    relaxed = {
        r["doc_id"]: r["n_kept"]
        for r in boilerplate_removal(df, min_docs=4).collect()
    }
    assert relaxed == {1: 3, 2: 2, 3: 2, 4: 1, 5: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        boilerplate_removal(df, min_docs=0)


def test_value_histogram_floor_bins_and_rfm(spark):
    """Histogram bins are FLOOR multiples at any sign (-1 lands in
    [-10,0), not [0,10)); NULLs have no bin. RFM: tile 1 is best on all
    three axes and ties break by user id."""
    import pytest as _pytest

    from flyq_spark.operators.profile import value_histogram
    from flyq_spark.operators.sessions import rfm_segments

    df = spark.createDataFrame(
        [(v,) for v in (-11, -10, -1, 0, 9, 10, None)], "v long"
    )
    got = {
        r["bin_start"]: r["n"]
        for r in value_histogram(df, F.col("v"), 10).collect()
    }
    assert got == {-20: 1, -10: 2, 0: 2, 10: 1}
    with _pytest.raises(ValueError):
        value_histogram(df, F.col("v"), 0)

    ev = spark.createDataFrame(
        [
            (1, "2024-01-30", 100.0), (1, "2024-01-30", 100.0),  # recent, frequent, rich
            (2, "2024-01-10", 50.0),
            (3, "2024-01-01", 1.0),
            (4, "2024-01-20", 200.0),
        ],
        "user_id long, d string, value double",
    ).select("user_id", F.col("d").cast("timestamp").alias("ts"), "value")
    rfm = {
        r["user_id"]: (r["recency_days"], r["frequency"], r["monetary_c"],
                       r["r_score"], r["f_score"], r["m_score"])
        for r in rfm_segments(ev, "2024-02-01").collect()
    }
    assert rfm[1] == (2, 2, 20000, 1, 1, 1)   # best on all axes
    assert rfm[3][3] == 4 and rfm[3][5] == 4  # oldest, poorest
    # frequency ties (users 2,3,4 all freq 1) break by user id ascending
    assert (rfm[2][4], rfm[3][4], rfm[4][4]) == (2, 3, 4)


def test_impute_group_stat_strategies(spark):
    """Median is the exact lower median; mean is truncating integer
    division; mode breaks ties to the smallest value; an all-NULL group
    stays NULL with flag False; non-target columns pass through."""
    import pytest as _pytest

    from flyq_spark.operators.impute import impute_group_stat

    df = spark.createDataFrame(
        [
            ("a", 1, "r1"), ("a", 3, "r2"), ("a", None, "r3"), ("a", 3, "r4"),
            ("b", None, "r5"), ("b", None, "r6"),
            ("c", 10, "r7"), ("c", None, "r8"), ("c", 20, "r9"),
        ],
        "k string, v long, tag string",
    )

    def got(strategy):
        return sorted(
            (r["tag"], r["v"], r["v_imputed"])
            for r in impute_group_stat(df, ("k",), "v", strategy).collect()
        )

    assert got("median") == sorted(
        [("r1", 1, False), ("r2", 3, False), ("r3", 3, True), ("r4", 3, False),
         ("r5", None, False), ("r6", None, False),
         ("r7", 10, False), ("r8", 10, True), ("r9", 20, False)]
    )
    assert got("mean")[2] == ("r3", 2, True)       # (1+3+3) div 3 = 2
    assert got("mean")[7] == ("r8", 15, True)
    assert got("mode")[2] == ("r3", 3, True)
    assert got("mode")[7] == ("r8", 10, True)      # tie 10/20 -> smallest
    with _pytest.raises(ValueError):
        impute_group_stat(df, ("k",), "v", "max")

    # NULL group key is a real group: its statistic computes AND fills
    # (plain on-name joins used to drop the match silently)
    dfn = spark.createDataFrame(
        [(None, 7, "n1"), (None, 9, "n2"), (None, None, "n3"),
         ("a", 1, "r1"), ("a", None, "r2")],
        "k string, v long, tag string",
    )
    for strategy, fill in [("median", 7), ("mean", 8), ("mode", 7)]:
        gotn = sorted(
            (r["tag"], r["v"], r["v_imputed"])
            for r in impute_group_stat(dfn, ("k",), "v", strategy).collect()
        )
        assert gotn == sorted(
            [("n1", 7, False), ("n2", 9, False), ("n3", fill, True),
             ("r1", 1, False), ("r2", 1, True)]
        ), strategy


def test_edit_distance_pairs_exact_vs_naive(spark):
    """SymSpell delete-neighborhood blocking must lose NO pair: compare
    against a naive O(n^2) Python Levenshtein at k=1 and k=2 over a
    deterministic corpus engineered for near-collisions; NULLs never
    match; the max_len guard trips row-level."""
    import hashlib

    import pytest as _pytest

    from flyq_spark.operators.fuzzy import edit_distance_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    # deterministic short strings over a 3-letter alphabet: dense
    # near-collision space, lengths 0..6
    strs = []
    for i in range(60):
        h = hashlib.md5(f"fz{i}".encode()).hexdigest()
        n = int(h[:2], 16) % 7
        strs.append("".join("abc"[int(c, 16) % 3] for c in h[2 : 2 + n]))
    rows = [(i, s) for i, s in enumerate(strs)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (1, 2):
        want = sorted(
            (i, j, lev(strs[i], strs[j]))
            for i in range(len(strs))
            for j in range(i + 1, len(strs))
            if lev(strs[i], strs[j]) <= k
        )
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(df, k).collect()
        )
        assert got == want, f"k={k}"
    with _pytest.raises(ValueError):
        edit_distance_pairs(df, 3)
    with _pytest.raises(Exception, match="max_len"):
        edit_distance_pairs(df, 1, max_len=3).collect()


def test_resample_locf_gapfill_semantics(spark):
    """Gap buckets appear with zero-filled counts and carried-forward
    values; nothing precedes the first observation (NULL, not 0);
    NULL-timestamp rows are excluded; the grid guard raises instead of
    exploding."""
    import pytest as _pytest

    from flyq_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 25, 20), ("b", 5, None), ("a", None, 99)],
        "k string, sec long, v long",
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    aggs = {"n": F.count(F.lit(1)), "v_max": F.max("v")}
    out = resample_locf(
        df, ("k",), "ts", 10, aggs, fill=("v_max",), zero_fill=("n",)
    )
    rows = [
        tuple(r)
        for r in out.orderBy("k", "bucket_start_s").collect()
    ]
    assert rows == [
        ("a", 0, 1, 10, True),     # NULL-ts row excluded from its bucket
        ("a", 10, 0, 10, False),   # gap: zero-filled count, LOCF value
        ("a", 20, 1, 20, True),
        ("b", 0, 1, None, True),   # observed but all-NULL v: no fill source
    ]
    with _pytest.raises(ValueError):
        resample_locf(df, ("k",), "ts", 0, aggs)
    with _pytest.raises(ValueError):
        resample_locf(df, ("k",), "ts", 10, aggs, fill=("nope",))
    with _pytest.raises(ValueError):
        resample_locf(df, ("k",), "ts", 10, aggs, fill=("n",), zero_fill=("n",))
    with _pytest.raises(Exception, match="max_buckets_per_key"):
        resample_locf(
            df, ("k",), "ts", 10, aggs, max_buckets_per_key=1
        ).collect()

    # pre-epoch timestamps bucket by FLOOR, not truncation: -15 s
    # belongs to bucket -900, never to [0, 900)
    from flyq_spark.operators.timeseries import time_bucket

    neg = spark.createDataFrame([(-15,), (-900,), (15,)], "sec long").select(
        time_bucket(F.timestamp_seconds(F.col("sec")), 900).alias("b")
    )
    assert [r["b"] for r in neg.collect()] == [-900, -900, 0]


def test_resample_locf_null_group_key(spark):
    """A NULL group key is a real group: its observed buckets must come
    back is_observed=True with their aggregates, and its gaps must
    LOCF from its own observations — the plain on-name grid join this
    pins against read every NULL-key observation as a gap (is_observed
    False, counts zero-filled, values NULL)."""
    from flyq_spark.operators.timeseries import resample_locf

    df = spark.createDataFrame(
        [(None, 0, 7), (None, 25, 9), ("a", 5, 1)],
        "k string, sec long, v long",
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    aggs = {"n": F.count(F.lit(1)), "v_max": F.max("v")}
    out = resample_locf(
        df, ("k",), "ts", 10, aggs, fill=("v_max",), zero_fill=("n",)
    )
    rows = [
        tuple(r)
        for r in out.orderBy(F.col("k").asc_nulls_first(), "bucket_start_s").collect()
    ]
    assert rows == [
        (None, 0, 1, 7, True),
        (None, 10, 0, 7, False),  # gap: LOCF from the NULL group's own obs
        (None, 20, 1, 9, True),
        ("a", 0, 1, 1, True),
    ]


def test_robust_outliers_null_group_key(spark):
    """A NULL group key is a real group: the quartile selection plans it
    fences and the null-safe broadcast join must deliver its outlier
    report — the plain on-name join this pins against dropped the NULL
    group's row entirely."""
    from flyq_spark.operators.profile import robust_outliers

    rows = [("g", v) for v in (10, 20, 30, 40, 1000)] + [
        (None, v) for v in (5, 6, 7, 8, -500)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: tuple(r)[1:] for r in robust_outliers(df, "g", "v").collect()}
    assert set(got) == {"g", None}
    # NULL group: Q1=6, Q3=8, IQR=2, fences [3, 11] -> one low outlier
    n_rows, lo, hi, n_low, n_high = got[None]
    assert (n_rows, n_low, n_high) == (5, 1, 0)
    assert lo <= 5 and hi >= 8
    n_rows, lo, hi, n_low, n_high = got["g"]
    assert (n_rows, n_low, n_high) == (5, 0, 1)


def test_incremental_view_merge_and_retract(spark):
    """merge(summarize(a), summarize(b)) == summarize(a ∪ b); keys on
    one side only pass through; a retraction that empties a key drops
    it from the view; min/max state refuses retraction."""
    import pytest as _pytest

    from flyq_spark.operators.incremental import (
        merge_increment,
        merge_retractions,
        read_view,
        summarize,
    )

    a = spark.createDataFrame(
        [("x", 10), ("x", None), ("y", 5)], "k string, v long"
    )
    b = spark.createDataFrame(
        [("x", 3), ("z", 7)], "k string, v long"
    )
    measures = {"v": F.col("v")}
    merged = merge_increment(
        summarize(a, ("k",), measures),
        summarize(b, ("k",), measures),
        ("k",),
        ("v",),
    )
    got = {
        r["k"]: (r["n_rows"], r["v_sum"], r["v_cnt"], r["v_min"], r["v_max"])
        for r in merged.collect()
    }
    assert got == {
        "x": (3, 13, 2, 3, 10),   # NULL v counts as a row, not a value
        "y": (1, 5, 1, 5, 5),
        "z": (1, 7, 1, 7, 7),     # delta-only key passes through
    }
    # avg derivation: exact scaled-int and NULL when cnt == 0
    view = read_view(merged, ("v",), avg_scale=10)
    avgs = {r["k"]: r["v_avg"] for r in view.collect()}
    assert avgs == {"x": 65, "y": 50, "z": 70}
    nullcnt = spark.createDataFrame(
        [("w", 2, None, 0)], "k string, n_rows long, v_sum long, v_cnt long"
    )
    assert read_view(nullcnt, ("v",)).collect()[0]["v_avg"] is None

    # retraction: deleting y's only row removes the key; x keeps one row
    state = merged.select("k", "n_rows", "v_sum", "v_cnt")
    deletes = spark.createDataFrame(
        [("x", 10, "d"), ("x", None, "d"), ("y", 5, "d")],
        "k string, v long, op string",
    )
    after = merge_retractions(state, deletes, ("k",), measures)
    got2 = {
        r["k"]: (r["n_rows"], r["v_sum"], r["v_cnt"]) for r in after.collect()
    }
    assert got2 == {"x": (1, 3, 1), "z": (1, 7, 1)}
    with _pytest.raises(ValueError):
        merge_retractions(merged, deletes, ("k",), measures)

    # approx-distinct state: HLL sketches merge across batches and the
    # merged estimate equals the exact distinct of the UNION (sparse
    # regime is exact) — the one aggregate plain sums cannot maintain
    big_a = spark.createDataFrame(
        [("x", i % 40) for i in range(200)], "k string, u long"
    )
    big_b = spark.createDataFrame(
        [("x", 20 + (i % 50)) for i in range(200)], "k string, u long"
    )
    sa = summarize(big_a, ("k",), {}, approx_distinct={"u": F.col("u")})
    sb = summarize(big_b, ("k",), {}, approx_distinct={"u": F.col("u")})
    mg = merge_increment(sa, sb, ("k",), ())
    est = read_view(mg, ()).collect()[0]["u_approx_distinct"]
    assert est == 70  # |[0,40) ∪ [20,70)| exactly, sparse-mode HLL
    with _pytest.raises(ValueError):
        merge_retractions(
            mg.select("k", F.lit(1).alias("n_rows"), "u_hll"),
            deletes,
            ("k",),
            {},
        )
    # HLL mismatch raises in BOTH directions: a delta-side sketch the
    # state lacks must not be silently dropped
    with _pytest.raises(ValueError):
        merge_increment(
            summarize(big_a, ("k",), {}), sa, ("k",), ()
        )

    # op codes outside i/d are a row-level error (an 'u' treated as
    # insert would silently double-count)
    bad = spark.createDataFrame([("x", 1, "u")], "k string, v long, op string")
    with _pytest.raises(Exception, match="op must be"):
        merge_retractions(state, bad, ("k",), measures).collect()

    # retracting a key's last non-null value restores sum to NULL (the
    # recompute invariant), not 0
    st2 = spark.createDataFrame(
        [("k1", 2, 5, 1)], "k string, n_rows long, v_sum long, v_cnt long"
    )
    del2 = spark.createDataFrame([("k1", 5, "d")], "k string, v long, op string")
    r2 = merge_retractions(st2, del2, ("k",), measures).collect()[0]
    assert (r2["n_rows"], r2["v_sum"], r2["v_cnt"]) == (1, None, 0)


def test_profile_drift_detects_changes(spark):
    """Null-rate spike (ppm integer), cardinality change, and range
    shift all surface; an unchanged column reports zero drift."""
    from flyq_spark.operators.profile import profile_drift

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "b")], "v long, k string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (None, "b"), (9, "c"), (None, "b")], "v long, k string"
    )
    got = {
        r["col_name"]: r
        for r in profile_drift(
            old, new, {"v": F.col("v"), "k": F.col("k")}
        ).collect()
    }
    v = got["v"]
    assert (v["null_ppm_old"], v["null_ppm_new"]) == (0, 500_000)
    assert (v["distinct_old"], v["distinct_new"]) == (4, 2)
    assert v["range_changed"]  # max moved 4 -> 9
    k = got["k"]
    assert (k["null_ppm_old"], k["null_ppm_new"]) == (0, 0)
    assert (k["distinct_old"], k["distinct_new"]) == (2, 3)
    assert k["range_changed"]  # max moved 'b' -> 'c'


def test_robust_outliers_exact_fences(spark):
    """Hand-computed Tukey fences: values 0..11 plus an extreme 100 in
    group 'a' (n=13 → Q1=value@rank4=3, Q3=value@rank10=9, IQR=6,
    fences [-6, 18] → exactly one high outlier); group 'b' is uniform
    with zero outliers."""
    from flyq_spark.operators.profile import robust_outliers

    rows = [("a", v) for v in list(range(12)) + [100]] + [
        ("b", v) for v in [5, 5, 5, 5]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in robust_outliers(df, "g", "v").collect()}
    a = got["a"]
    assert (a["n_rows"], a["lo"], a["hi"], a["n_low"], a["n_high"]) == (
        13, -6, 18, 0, 1
    )
    b = got["b"]
    assert (b["lo"], b["hi"], b["n_low"], b["n_high"]) == (5, 5, 0, 0)


def test_mad_outliers_model_and_null_group(spark):
    """mad_outliers vs an independent statistics.median-based model,
    including a NULL group key — a real group (rows ranked together,
    present in the output) per the repo's null-safe-join discipline;
    plain on-name joins used to drop it silently."""
    from flyq_spark.operators.profile import mad_outliers

    groups = {
        "a": [1, 2, 3, 4, 100],       # med=3, dv=[2,1,0,1,97], mad=1
        "b": [10, 10, 10],            # mad=0: every dv>0 is an outlier
        None: [5, 7, 9, 9, 11, 400],  # the NULL group
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    rows += [("a", None), (None, None)]  # NULL values excluded
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in mad_outliers(df, "g", "v", 30).collect()}
    assert set(got) == {"a", "b", None}

    def lower_median(vs):
        s = sorted(vs)
        return s[(len(s) + 1) // 2 - 1]

    for g, vs in groups.items():
        med = lower_median(vs)
        devs = [abs(v - med) for v in vs]
        mad = lower_median(devs)
        n_out = sum(1 for d in devs if 10 * d > 30 * mad)
        r = got[g]
        assert (r["n_rows"], r["med"], r["mad"], r["n_outliers"]) == (
            len(vs), med, mad, n_out
        ), g


def test_funnel_steps_strict_order_and_ties(spark):
    """Greedy funnel semantics: steps must occur in strictly increasing
    time (same-timestamp progression does not count); out-of-order
    events don't complete; a user's earlier extra events don't block
    the match; repeated step types need a strictly later recurrence."""
    from flyq_spark.operators.sessions import funnel_steps

    t0 = 1_700_000_000_000_000
    rows = [
        # u1: clean view -> click -> purchase
        (1, "view", t0), (1, "click", t0 + 10), (1, "purchase", t0 + 20),
        # u2: click BEFORE view: reaches view only (no later click)
        (2, "click", t0), (2, "view", t0 + 10),
        # u3: view and click at the SAME ts: strictness blocks step 2
        (3, "view", t0), (3, "click", t0),
        # u4: noise events interleaved, still completes
        (4, "error", t0), (4, "view", t0 + 1), (4, "signup", t0 + 2),
        (4, "click", t0 + 3), (4, "purchase", t0 + 4),
        # u5: never views
        (5, "click", t0), (5, "purchase", t0 + 1),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_us long"
    ).select("user_id", "event_type", F.timestamp_micros("ts_us").alias("ts"))
    got = {
        r["step"]: r["n_users"]
        for r in funnel_steps(ev, ("view", "click", "purchase")).collect()
    }
    assert got == {"view": 4, "click": 2, "purchase": 2}

    # repeated step type requires a strictly later second occurrence
    got2 = {
        r["step_idx"]: r["n_users"]
        for r in funnel_steps(ev, ("view", "view")).collect()
    }
    assert got2 == {1: 4, 2: 0}

    # bounded conversion window (second granularity): click 2s after
    # view converts under gap 3 but not gap 1; first-touch anchoring —
    # u7's early view anchors the window even though a later view would
    # have converted (documented no-backtracking semantics)
    t1 = 1_700_000_000_000_000
    gap_rows = [
        (6, "view", t1), (6, "click", t1 + 2_000_000),
        (7, "view", t1), (7, "view", t1 + 50_000_000),
        (7, "click", t1 + 51_000_000),
    ]
    gev = spark.createDataFrame(
        gap_rows, "user_id long, event_type string, ts_us long"
    ).select("user_id", "event_type", F.timestamp_micros("ts_us").alias("ts"))
    for gap, expect in ((3, {"view": 2, "click": 1}), (1, {"view": 2, "click": 0})):
        got_g = {
            r["step"]: r["n_users"]
            for r in funnel_steps(
                gev, ("view", "click"), max_gap_seconds=gap
            ).collect()
        }
        assert got_g == expect, f"gap={gap}"


def test_check_constraints_counts_violations_exactly(spark):
    """Every constraint kind against deliberately dirty data: NULL ids,
    duplicate ids, out-of-bound values, a value outside the allowed
    set, and a non-matching string — exact counts; NULLs only violate
    not_null (bounds/sets/regex skip them); one aggregation pass."""
    from flyq_spark.operators.profile import check_constraints

    df = spark.createDataFrame(
        [
            (1, 5.0, "click", "{}"),
            (1, -2.0, "click", "{}"),      # dup id, below floor
            (None, 999.0, "drag", "nope"),  # null id, above cap, bad set+regex
            (3, None, None, None),          # NULLs skip bounds/set/regex
        ],
        "id long, v double, kind string, blob string",
    )
    rules = [
        {"name": "id_present", "column": "id", "kind": "not_null"},
        {"name": "id_unique", "column": "id", "kind": "unique"},
        {"name": "v_floor", "column": "v", "kind": "min", "value": 0.0},
        {"name": "v_cap", "column": "v", "kind": "max", "value": 100.0},
        {"name": "kind_known", "column": "kind", "kind": "in_set",
         "values": ["click", "view"]},
        {"name": "blob_json", "column": "blob", "kind": "regex",
         "pattern": r"^\{.*\}$"},
    ]
    got = {
        r["rule"]: (r["violations"], r["n_rows"])
        for r in check_constraints(df, rules).collect()
    }
    assert got == {
        "id_present": (1, 4),
        "id_unique": (1, 4),
        "v_floor": (1, 4),
        "v_cap": (1, 4),
        "kind_known": (1, 4),
        "blob_json": (1, 4),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown constraint kind"):
        check_constraints(df, [{"name": "x", "column": "id", "kind": "nope"}])


def test_paragraph_dedup_randomized_vs_python_model(spark):
    """Seeded random corpora (small alphabet so duplicate paragraphs are
    dense, including empty paragraphs from doubled delimiters and NULL
    texts) checked against a ~15-line pure-Python keep-first model, plus
    the idempotence property: re-running on the rebuilt output keeps
    every unit (nothing left to dedup)."""
    import random

    from flyq_spark.operators.dedup import paragraph_dedup

    rng = random.Random(7)
    words = ["aa", "bb", "cc"]
    docs = []
    for doc_id in range(25):
        if rng.random() < 0.1:
            docs.append((doc_id, None))
            continue
        paras = [
            " ".join(rng.choices(words, k=rng.randrange(0, 3)))
            for _ in range(rng.randrange(1, 5))
        ]
        docs.append((doc_id, "\n".join(paras)))

    # python model: global keep-first at (id, pos)
    seen: set[str] = set()
    model: dict[int, tuple[int, int, str | None]] = {}
    for doc_id, text in docs:
        if text is None:
            model[doc_id] = (0, 0, None)
            continue
        units = text.split("\n")
        kept = []
        for u in units:
            if u not in seen:
                seen.add(u)
                kept.append(u)
        model[doc_id] = (
            len(units),
            len(kept),
            "\n".join(kept) if kept else None,
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = paragraph_dedup(df)
    got = {
        r["doc_id"]: (r["n_units"], r["n_kept"], r["text"])
        for r in out.collect()
    }
    assert got == model

    # idempotence on the rebuilt corpus (drop NULL-text rows first)
    again = paragraph_dedup(out.where(F.col("text").isNotNull()))
    assert all(
        r["n_kept"] == r["n_units"] for r in again.collect()
    ), "re-deduping the deduped corpus must keep every unit"


def test_paragraph_dedup_null_text_regex_and_literal_delims(spark):
    """Contract edges: NULL-text documents keep an output row
    (n_units=0) instead of vanishing; a regex-metachar literal delim
    splits literally (quoted, not interpreted); regex=True splits by
    pattern but requires an explicit literal join_with for the rebuild."""
    import pytest as _pytest

    from flyq_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, None), (2, "a.b|a")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_units"], r["n_kept"], r["text"])
        for r in paragraph_dedup(df, delim=".").collect()
    }
    assert got[1] == (0, 0, None)       # NULL text: row preserved
    assert got[2] == (2, 2, "a.b|a")    # '.' split literally, 2 units

    crlf = spark.createDataFrame(
        [(1, "x\r\ny"), (2, "y\nx")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(
            crlf, delim=r"\r?\n", regex=True, join_with="\n"
        ).collect()
    }
    assert got[1] == "x\ny" and got[2] is None  # both units seen in doc 1

    with _pytest.raises(ValueError, match="join_with"):
        paragraph_dedup(crlf, delim=r"\r?\n", regex=True)


def test_simhash_identical_and_perturbed(spark):
    from flyq_spark.operators.dedup import simhash, simhash_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog " * 5
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> hamming 0
            (3, base.replace("lazy", "sleepy")),  # near-dup -> small hamming
            (4, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(df, max_hamming=7, bands=8).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # invalid configs are rejected, not silently lossy/quadratic
    import pytest as _pt

    with _pt.raises(ValueError):
        simhash_neardup_pairs(df, max_hamming=8, bands=4)  # pigeonhole
    with _pt.raises(ValueError):
        simhash_neardup_pairs(df, max_hamming=3, bands=10)  # empty band


@pytest.mark.parametrize("bits,bands", [(32, 4), (63, 4), (63, 7), (64, 8)])
def test_banded_hamming_pairs_equals_brute_force(spark, bits, bands):
    """The banded join returns exactly the all-pairs set within
    max_hamming < bands (pigeonhole completeness) at 32, 63 and 64 bits,
    including negative longs (bit 63 set), a band count dividing 63 and
    one that does not (the SimHash gate's 63/4); the SimHash pair join
    leaves no persisted RDD behind."""
    import random

    from flyq_spark.operators.dedup import banded_hamming_pairs, simhash_neardup_pairs

    rng = random.Random(bits)
    max_hamming = bands - 1
    sigs = []
    for _ in range(40):  # clusters of near copies so the answer is not empty
        base = rng.getrandbits(bits)
        sigs.append(base)
        for _ in range(3):
            flips = rng.sample(range(bits), rng.randint(0, bands + 1))
            sigs.append(base ^ sum(1 << f for f in flips))
    signed = [s - (1 << 64) if s >= 1 << 63 else s for s in sigs]
    if bits == 64:
        assert any(s < 0 for s in signed)
    df = spark.createDataFrame(list(enumerate(signed)), "id long, sig long")
    got = sorted(  # a list, so a duplicate pair fails too
        (r["id_a"], r["id_b"], r["hamming"])
        for r in banded_hamming_pairs(df, "id", "sig", bits, bands, max_hamming).collect()
    )
    want = [
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in range(len(sigs))
        for b in range(a + 1, len(sigs))
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    ]
    assert got == want and len(want) >= len(sigs) // 2

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z")],
        "doc_id long, text string",
    )
    simhash_neardup_pairs(docs, max_hamming=3, bands=4).collect()
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_minhash_pairs_have_high_true_jaccard(spark, docs):
    """Every pair the MinHash band join emits at the `minhash_pairs`
    gate's threshold is a true near-dup under exact shingle Jaccard (no
    false 'survivors'), and the pair set is deterministic."""
    from flyq_spark.operators.dedup import minhash_band_pairs

    rows = minhash_band_pairs(docs, min_jaccard=0.4).collect()
    assert rows and all(0.4 <= r["jaccard"] <= 1.0 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)
    again = {(r["id_a"], r["id_b"]) for r in minhash_band_pairs(docs, min_jaccard=0.4).collect()}
    assert {(r["id_a"], r["id_b"]) for r in rows} == again


def test_minhash_band_pairs_and_sweep_leave_no_cache(spark):
    """Neither the band join nor the LSH sweep built on it leaves a
    cached frame behind (the sweep releases its own sample caches)."""
    from flyq_spark.operators.dedup import lsh_parameter_sweep, minhash_band_pairs

    jsc = spark.sparkContext._jsc
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e g"), (4, "x y z")],
        "doc_id long, text string",
    )
    before = set(jsc.getPersistentRDDs().keys())
    assert minhash_band_pairs(docs, min_jaccard=0.5).count() >= 1
    assert set(jsc.getPersistentRDDs().keys()) == before
    lsh_parameter_sweep(docs, configs=((8, 4),), sample_size=4).collect()
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_ngram_jaccard_bounds(spark, docs):
    from flyq_spark.operators.dedup import ngram_jaccard_pairs

    rows = ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_ngram_jaccard_equals_bruteforce(spark, docs):
    """The prefix filter (rarity-ordered, pigeonhole-sized) has 100%
    recall: the default path must equal the all-pairs brute force."""
    from flyq_spark.operators.dedup import ngram_jaccard_pairs, token_set

    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    base = docs.select("doc_id", token_set(F.col("text")).alias("t")).where(
        F.size("t") > 0
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
    union = F.size(F.col("a.t")) + F.size(F.col("b.t")) - inter
    brute = {
        (r["id_a"], r["id_b"], round(r["j"], 9))
        for r in a.crossJoin(b)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (inter.cast("double") / union.cast("double")).alias("j"),
        )
        .where(F.col("j") >= 0.5)
        .collect()
    }
    assert got == brute


def test_ngram_jaccard_boilerplate_prefix_not_quadratic(spark):
    """Regression for the old fixed-substring blocker: a corpus whose
    documents all share a boilerplate prefix must NOT collapse into one
    quadratic candidate bucket — rarity-ordered prefix tokens come from
    the distinctive bodies, so candidates stay near zero while true
    near-dups are still found (100% recall)."""
    from flyq_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_candidates,
        token_set,
    )

    preamble = "copyright license terms apply all rights reserved worldwide"
    m = 150
    rows = [
        (i, preamble + " " + " ".join(f"w{i}x{j}" for j in range(24)))
        for i in range(m)
    ]
    shared_body = " ".join(f"dup{j}" for j in range(24))
    rows.append((1000, preamble + " " + shared_body))
    rows.append((1001, preamble + " " + shared_body + " extraone extratwo"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    base = df.select("doc_id", token_set(F.col("text")).alias("_toks"))
    n_cand = prefix_filter_candidates(base, 0.5).count()
    # old 40-char-prefix blocker: one bucket -> m*(m+1)/2 ~ 11k pairs
    assert n_cand < 100, f"skew regression: {n_cand} candidate pairs"

    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, min_jaccard=0.5).collect()
    }
    assert pairs == {(1000, 1001)}


# --------------------------- similarity -------------------------------- #


def test_bruteforce_topk_self_is_rank_one(spark, emb):
    from flyq_spark.operators.similarity import topk_bruteforce

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = topk_bruteforce(emb, queries, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["neighbor_id"] == qid  # cosine(self, self) = 1
        assert abs(rows[0]["score"] - 1.0) < 1e-9
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_is_subset_of_bucketmates_with_exact_scores(spark, emb):
    """ANN contract: every (query, neighbor) the LSH path returns carries
    the exact brute-force cosine score, and self is always found (same
    bucket by construction)."""
    from flyq_spark.operators.similarity import topk_bruteforce, topk_lsh

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = topk_lsh(emb, queries, k=5, n_planes=4).collect()
    brute = topk_bruteforce(emb, queries, k=500).collect()
    truth = {(r["query_id"], r["neighbor_id"]): r["score"] for r in brute}
    assert ann, "LSH returned nothing"
    for r in ann:
        assert (r["query_id"], r["neighbor_id"]) in truth
        assert abs(truth[(r["query_id"], r["neighbor_id"])] - r["score"]) < 1e-9
    self_hits = {r["query_id"] for r in ann if r["neighbor_id"] == r["query_id"]}
    assert self_hits == {r["query_id"] for r in queries.collect()}


def test_neardup_exact_equals_bruteforce(spark, emb):
    """neardup_pairs_exact is EXACT: the triangle-inequality cell-pair
    pruning may never drop a qualifying pair (unlike hyperplane LSH),
    and the verify stage filters false candidates — so the pair set
    equals brute force bit-for-bit, at any threshold."""
    from flyq_spark.operators.similarity import cosine, neardup_pairs_exact

    for threshold in (0.4, 0.2):
        a, b = emb.alias("a"), emb.alias("b")
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cosine(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
            )
            .where(F.col("s") >= threshold)
            .collect()
        }
        # exactness must hold for ANY pivot budget (sparse cells and
        # crowded multi-member cells alike)
        for n_pivots in (8, 256):
            got = {
                (r["id_a"], r["id_b"])
                for r in neardup_pairs_exact(emb, threshold, n_pivots=n_pivots).collect()
            }
            assert got == brute, f"t={threshold} k={n_pivots}: {len(got)} vs {len(brute)}"


def test_neardup_exact_tiny_and_degenerate_corpus(spark):
    """Regression: pivot selection must be non-empty for any corpus (ids
    starting at 1, fewer rows than the old sampling stride) and a
    zero-norm embedding must not NaN-poison its cell's radius."""
    from flyq_spark.operators.similarity import neardup_pairs_exact

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),   # near-dup of 1
        (3, [0.0, 1.0]),
        (4, [0.0, 0.0]),    # zero-norm: must not break other pairs
        (5, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_exact(df, 0.9, n_pivots=256).collect()
    }
    assert got == {(1, 2)}


def test_neardup_exact_plan_has_no_corpus_cross_join(spark, emb):
    """The candidate stage is equi-join on cell keys; the only
    nested-loop joins in the plan are against the tiny broadcast pivot /
    cell-pair relations, never corpus x corpus."""
    from flyq_spark.operators.similarity import neardup_pairs_exact

    plan = neardup_pairs_exact(emb, 0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the corpus self-join must be hash-based on the cell keys — a
    # regression to BroadcastNestedLoopJoin over corpus-sized inputs
    # would still contain "Join", so require an equi-join operator
    assert any(
        op in plan for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), plan


# ------------------------------ text ----------------------------------- #


def test_token_count_exact(spark):
    from flyq_spark.operators.text import token_count

    df = spark.createDataFrame(
        [("",), ("one",), ("two words",), ("  padded   ",)], "text string"
    )
    got = [r["n"] for r in df.select(token_count(F.col("text")).alias("n")).collect()]
    assert got[0] == 0 and got[1] == 1 and got[2] == 2


def test_detect_language_markers(spark):
    from flyq_spark.operators.text import detect_language

    df = spark.createDataFrame(
        [
            (1, "this is the house and the tree of a king"),
            (2, "der hund und die katze und das haus"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang"] for r in df.select("id", detect_language(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_fingerprints_stability_and_sensitivity(spark):
    from flyq_spark.operators.text import doc_fingerprint, shingle_fingerprint

    df = spark.createDataFrame(
        [(1, "The Quick Brown Fox"), (2, "the quick brown fox"), (3, "something else")],
        "id long, text string",
    )
    rows = df.select(
        "id",
        doc_fingerprint(F.col("text")).alias("fp"),
        shingle_fingerprint(F.col("text")).alias("sfp"),
    ).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["fp"] == by_id[2]["fp"]  # case-normalized
    assert by_id[1]["fp"] != by_id[3]["fp"]


def test_quality_score_range(spark, docs):
    from flyq_spark.operators.text import quality_score

    vals = [r["q"] for r in docs.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


# --------------------------- multimodal -------------------------------- #


def test_attach_media_and_content_dedup(spark):
    from flyq_spark.operators.multimodal import attach_media, dedup_by_content

    df = spark.createDataFrame(
        [(1, "same-bytes"), (2, "same-bytes"), (3, "other")], "id long, blob string"
    )
    media = attach_media(df, "blob", kind="image", mime="image/fake")
    rows = {r["id"]: r for r in media.collect()}
    assert rows[1]["content_id"] == rows[2]["content_id"] != rows[3]["content_id"]
    assert rows[1]["media_meta"]["n_bytes"] == len(b"same-bytes")
    assert rows[1]["media_meta"]["kind"] == "image"
    kept_rows = dedup_by_content(media, "id").collect()
    assert sorted(r["id"] for r in kept_rows) == [1, 3]
    # full rows survive, not just (content_id, id) — r6 regression fix
    assert {"payload", "media_meta", "blob"} <= set(kept_rows[0].asDict())


def test_extract_features_deterministic_through_arrow(spark):
    from flyq_spark.operators.multimodal import attach_media, extract_features

    df = spark.createDataFrame([(1, "payload-a"), (2, "payload-b")], "id long, blob string")
    media = attach_media(df, "blob", kind="image")
    f1 = {r["content_id"]: (r["width"], r["height"], r["feature"]) for r in extract_features(media).collect()}
    f2 = {r["content_id"]: (r["width"], r["height"], r["feature"]) for r in extract_features(media).collect()}
    assert f1 == f2 and len(f1) == 2
    for w, h, feat in f1.values():
        assert 1 <= w <= 256 and 1 <= h <= 256 and len(feat) == 8


def _make_ppm(w, h, pixel_fn):
    """Binary P6 netpbm built by hand (no imaging library needed)."""
    px = bytes(
        c for y in range(h) for x in range(w) for c in pixel_fn(x, y)
    )
    return f"P6\n{w} {h}\n255\n".encode() + px


def _make_wav(samples_i16, rate=8000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(b"".join(int(s).to_bytes(2, "little", signed=True) for s in samples_i16))
    return buf.getvalue()


def test_extract_features_real_decoders_through_arrow(spark):
    """netpbm/WAV payloads take the REAL decode path (magic-sniffed):
    true pixel dimensions and sample counts come back through the same
    Arrow mapInPandas boundary the stub uses; non-media payloads still
    fall back to the stub."""
    from flyq_spark.operators.multimodal import attach_media, extract_features

    ppm = _make_ppm(16, 9, lambda x, y: (x * 15, x * 15, x * 15))
    wav = _make_wav([0, 1000, -1000, 32000] * 50, rate=16000)
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(wav)), (3, bytearray(b"not media"))],
        "id long, blob binary",
    )
    feats = {
        r["width"]: r
        for r in extract_features(attach_media(df, "blob", kind="image")).collect()
    }
    assert 16 in feats and feats[16]["height"] == 9          # real image dims
    assert 16000 in feats and feats[16000]["height"] == 1    # real sample rate
    assert feats[16000]["n_frames"] == 200                   # real sample count
    assert len(feats) == 3                                   # stub row present too
    # image feature is normalized decoded luma, monotone along the ramp
    f = feats[16]["feature"]
    assert all(0.0 <= v <= 1.0 for v in f) and f[0] < f[-1]


def test_perceptual_hash_real_image_locality(spark):
    """dHash over REAL decoded pixels: a one-pixel perturbation of a
    gradient image keeps Hamming distance small, while an inverted
    gradient is far — the locality contract that makes phash near-dup
    meaningful, now on true luma grids."""
    from flyq_spark.operators.multimodal import attach_media, perceptual_hash

    base = _make_ppm(18, 16, lambda x, y: (x * 14, x * 14, x * 14))
    tweaked = bytearray(base)
    tweaked[-1] ^= 0x7F  # one subpixel changed
    inverted = _make_ppm(18, 16, lambda x, y: (255 - x * 14,) * 3)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytes(tweaked)), (3, bytearray(inverted))],
        "id long, blob binary",
    )
    hashes = {
        r["id"]: r["phash"]
        for r in attach_media(df, "blob", kind="image")
        .select(F.col("id"), "content_id", "payload")
        .transform(
            lambda d: perceptual_hash(d).join(d.select("id", "content_id"), "content_id")
        )
        .collect()
    }
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(hashes[1], hashes[2]) <= 8    # near: one-subpixel tweak
    assert ham(hashes[1], hashes[3]) >= 40   # far: inverted gradient


def test_segment_audio_energy_vad(spark):
    """Energy segmentation on a real decoded WAV: tone / long silence /
    tone yields two segments with correct bounds; a short silence gap
    (< min_silence_frames) does NOT split; non-WAV payloads yield no
    rows."""
    from flyq_spark.operators.multimodal import attach_media, segment_audio

    rate = 8000
    spf = rate * 20 // 1000  # 160 samples per 20ms frame
    tone = [20000] * (spf * 5)          # 5 loud frames
    long_sil = [0] * (spf * 5)          # 5 silent frames (>= 3 splits)
    short_sil = [0] * spf               # 1 silent frame (< 3 merges)
    two_seg = _make_wav(tone + long_sil + tone, rate=rate)
    one_seg = _make_wav(tone + short_sil + tone, rate=rate)
    df = spark.createDataFrame(
        [(1, bytearray(two_seg)), (2, bytearray(one_seg)), (3, bytearray(b"txt"))],
        "id long, blob binary",
    )
    media = attach_media(df, "blob", kind="audio")
    segs = segment_audio(media, frame_ms=20, threshold=0.02, min_silence_frames=3)
    by_content = {}
    for r in segs.collect():
        by_content.setdefault(r["content_id"], []).append(
            (r["seg_idx"], r["start_ms"], r["end_ms"])
        )
    cid = {r["id"]: r["content_id"] for r in media.collect()}
    assert sorted(by_content[cid[1]]) == [(0, 0, 100), (1, 200, 300)]
    assert sorted(by_content[cid[2]]) == [(0, 0, 220)]
    assert cid[3] not in by_content  # non-WAV: no rows, no crash


def test_netpbm_crlf_header_decodes_unshifted():
    """A PPM whose header ends in CRLF must decode with the raster
    aligned (consuming only the '\\r' would rotate every channel)."""
    import numpy as np

    from flyq_spark.operators.multimodal import _try_decode_netpbm

    px = bytes([10, 20, 30, 40, 50, 60])
    lf = _try_decode_netpbm(b"P6\n2 1\n255\n" + px)
    crlf = _try_decode_netpbm(b"P6\r\n2 1\r\n255\r\n" + px)
    assert crlf is not None and np.allclose(lf, crlf)


def test_media_decoders_never_raise_on_garbage():
    """Decode kernels run inside executor tasks — an uncaught exception
    kills the task, so random bytes, valid-magic garbage, truncations of
    valid files, and allocation-bomb headers (giant claimed dims, tiny
    raster) must all fall through to the stub, never raise."""
    import random
    import struct

    from flyq_spark.operators.multimodal import _decode_payload, _luma_grid_stub

    rng = random.Random(42)
    cases = [bytes(rng.randrange(256) for _ in range(rng.randrange(200))) for _ in range(500)]
    for magic in (b"P6", b"P5", b"BM", b"RIFF", b"RIFFxxxxWAVE"):
        cases += [
            magic + bytes(rng.randrange(256) for _ in range(rng.randrange(100)))
            for _ in range(200)
        ]
    ppm = b"P6\n4 2\n255\n" + bytes(range(24))
    wav = _make_wav([0, 1] * 50)
    cases += [src[:cut] for src in (ppm, wav) for cut in range(len(src))]
    cases.append(b"P6\n999999999 999999999\n255\n\x00")
    cases.append(
        b"BM" + b"\x00" * 8 + struct.pack("<I", 54)
        + struct.pack("<IiiHHI", 40, 2**30, 2**30, 1, 24, 0) + b"\x00" * 20
    )
    # TIFF adversaries: valid-magic garbage, both byte orders
    for m2 in (b"II*\x00", b"MM\x00*"):
        cases += [
            m2 + bytes(rng.randrange(256) for _ in range(rng.randrange(100)))
            for _ in range(100)
        ]
    # GIF adversaries: valid-magic garbage through the full kernel path
    cases += [
        b"GIF89a" + bytes(rng.randrange(256) for _ in range(rng.randrange(100)))
        for _ in range(200)
    ]
    # PNG adversaries: valid-magic garbage, truncations of a valid file,
    # and a zlib bomb behind giant claimed dims (the decompress cap must
    # bound allocation, not just the post-inflate length check)
    sig = b"\x89PNG\r\n\x1a\n"
    cases += [
        sig + bytes(rng.randrange(256) for _ in range(rng.randrange(100)))
        for _ in range(200)
    ]
    png = _make_png([[[x, y, 0] for x in range(4)] for y in range(3)])
    cases += [png[:cut] for cut in range(0, len(png), 3)]
    import zlib as _zlib

    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    bomb = (
        sig
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2**16, 2**15, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _zlib.compress(b"\x00" * 10_000_000, 9))
        + _chunk(b"IEND", b"")
    )
    cases.append(bomb)
    for b in cases:
        d = _decode_payload(b, "image", 8)
        assert len(d["feature"]) == 8
        assert _luma_grid_stub(b).shape == (8, 9)


def test_read_media_dir_binary_source(spark, tmp_path):
    """binaryFile ingestion: a directory of raw media files becomes the
    content-addressed multimodal table, glob-filtered at listing time,
    and the payloads decode for real downstream."""
    from flyq_spark.operators.multimodal import extract_features, read_media_dir

    (tmp_path / "a.ppm").write_bytes(_make_ppm(5, 4, lambda x, y: (x, y, 0)))
    (tmp_path / "b.wav").write_bytes(_make_wav([100, -100] * 30, rate=4000))
    (tmp_path / "notes.txt").write_bytes(b"not media")

    media = read_media_dir(spark, str(tmp_path), kind="image", glob="*.{ppm,wav}")
    rows = media.collect()
    assert len(rows) == 2  # txt pruned at listing
    assert all(r["media_meta"]["n_bytes"] == len(bytes(r["payload"])) for r in rows)
    dims = {
        (r["width"], r["height"]) for r in extract_features(media).collect()
    }
    assert (5, 4) in dims and (4000, 1) in dims  # real decodes both kinds


def test_frame_sample_plan(spark):
    from flyq_spark.operators.multimodal import attach_media, frame_sample_plan

    df = spark.createDataFrame([(1, "vid-bytes")], "id long, blob string")
    media = attach_media(df, "blob", kind="video")
    rows = frame_sample_plan(media, every_n=4).collect()
    assert all(r["frame_idx"] % 4 == 0 for r in rows)
    assert len(rows) >= 1


# ---------------------------- sessions --------------------------------- #


def test_sessionize_gap_semantics(spark):
    from flyq_spark.operators.sessions import sessionize

    t0 = 1_700_000_000_000_000  # us
    rows = [
        (1, 100, t0),
        (1, 101, t0 + 10 * 60_000_000),        # same session (10 min)
        (1, 102, t0 + 50 * 60_000_000),        # new session (40 min gap)
        (2, 200, t0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts_us long").select(
        "user_id", "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in sessionize(ev).collect()}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_ivf_topk_contract(spark, emb):
    """IVF ANN: every returned neighbor carries the exact brute-force
    score; self is always recalled (own cell is the rank-1 probe)."""
    from flyq_spark.operators.similarity import topk_bruteforce, topk_ivf

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = topk_ivf(emb, queries, k=5, n_pivots=10, nprobe=2).collect()
    brute = topk_bruteforce(emb, queries, k=500).collect()
    truth = {(r["query_id"], r["neighbor_id"]): r["score"] for r in brute}
    assert ivf
    for r in ivf:
        assert (r["query_id"], r["neighbor_id"]) in truth
        assert abs(truth[(r["query_id"], r["neighbor_id"])] - r["score"]) < 1e-9
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert any(r["neighbor_id"] == qid for r in rows)
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: equal timestamps match; no earlier right
    row -> NULL; window and pandas implementations agree."""
    from flyq_spark.operators.asof import asof_join, asof_join_pandas

    left = spark.createDataFrame(
        [(100, 1, 10), (101, 1, 25), (102, 1, 5), (200, 2, 10)],
        "event_id long, user_id long, t long",
    ).select("event_id", "user_id", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"))
    right = spark.createDataFrame(
        [(1, 9, 1.0), (1, 25, 2.0), (1, 60, 3.0), (3, 1, 9.9)],
        "user_id long, t long, amount double",
    ).select("user_id", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "amount")

    def norm(df):
        return {
            r["event_id"]: r["amount_asof"]
            for r in df.select("event_id", "amount_asof").collect()
        }

    got_w = norm(asof_join(left, right, "user_id", "ts", ["amount"]))
    assert got_w == {
        100: 1.0,   # last purchase at t<=10 is t9
        101: 2.0,   # equal timestamp (t25) matches — inclusive
        102: None,  # nothing at t<=5
        200: None,  # user 2 has no purchases at all
    }
    got_p = norm(asof_join_pandas(left, right, "user_id", "ts", ["amount"]))
    assert got_p == got_w


def test_range_join_matches_naive_inequality_join(spark):
    """The bucketed range join must return exactly the naive inequality
    join's pair set — no duplicates from replication, no boundary loss."""
    from flyq_spark.io import read_table
    from flyq_spark.operators.rangejoin import within_interval_pairs

    ev = read_table(spark, SF, "events")
    got = {
        (r["user_id"], r["id_a"], r["id_b"])
        for r in within_interval_pairs(ev, "user_id", "ts", "event_id", 1800).collect()
    }
    a, b = ev.alias("a"), ev.alias("b")
    naive = {
        (r["user_id"], r["id_a"], r["id_b"])
        for r in a.join(
            b,
            on=[
                F.col("a.user_id") == F.col("b.user_id"),
                F.col("a.event_id") < F.col("b.event_id"),
            ],
        )
        .where(
            F.abs(F.unix_micros(F.col("a.ts")) - F.unix_micros(F.col("b.ts")))
            <= 1800 * 1_000_000
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
        )
        .collect()
    }
    assert got == naive and len(got) > 0


def test_multi_table_lsh_improves_recall(spark, emb):
    """More tables -> candidate set grows monotonically (never shrinks),
    scores stay exact."""
    from flyq_spark.operators.similarity import topk_bruteforce, topk_lsh

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in topk_bruteforce(emb, queries, k=500).collect()
    }
    one = topk_lsh(emb, queries, k=200, n_planes=6, n_tables=1).collect()
    three = topk_lsh(emb, queries, k=200, n_planes=6, n_tables=3).collect()
    assert len(three) >= len(one)
    for r in three:
        assert abs(brute[(r["query_id"], r["neighbor_id"])] - r["score"]) < 1e-9


def test_quantized_cosine_close_to_exact(spark, emb):
    """int8 quantization keeps cosine within 2e-2 of exact (random 64-d
    vectors), and quantized values stay in [-127, 127]."""
    from flyq_spark.operators.similarity import (
        cosine,
        quantize_embedding,
        quantized_cosine,
    )

    scale, qvec = quantize_embedding(F.col("embedding"))
    q = emb.limit(40).select("vec_id", "embedding", scale.alias("s"), qvec.alias("q"))
    a, b = q.alias("a"), q.alias("b")
    both = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("exact"),
            quantized_cosine(F.col("a.q"), F.col("b.q")).alias("approx"),
        )
        .collect()
    )
    assert both
    assert all(abs(r["exact"] - r["approx"]) < 2e-2 for r in both)
    vals = q.select(F.explode("q").alias("v")).agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    ).collect()[0]
    assert -127 <= vals["mn"] and vals["mx"] <= 127


# ----------------------------- k-means -------------------------------- #


def _blob_frame(spark, n_per=40, d=8):
    """Three well-separated unit-sphere blobs with tiny deterministic
    jitter; ids interleave blobs so deterministic-pivot cells mix them."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = np.eye(3, d)  # orthogonal -> cosine separation is maximal
    rows = []
    for i in range(3 * n_per):
        b = i % 3
        v = centers[b] + 0.05 * rng.randn(d)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    from flyq_spark.operators.similarity import assign_cells, train_kmeans

    df = _blob_frame(spark)
    cent = train_kmeans(df, n_clusters=3, max_iter=10)
    assert cent.count() == 3
    assigned = assign_cells(df, cent, nprobe=1).collect()
    by_blob: dict[int, set] = {}
    for r in assigned:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cell"])
    # every blob maps to exactly one cell, and the three cells differ
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3


def test_kmeans_deterministic_across_runs(spark):
    from flyq_spark.operators.similarity import train_kmeans

    df = _blob_frame(spark)
    a = sorted((r["cell"], tuple(r["centroid"])) for r in train_kmeans(df, 3).collect())
    b = sorted((r["cell"], tuple(r["centroid"])) for r in train_kmeans(df, 3).collect())
    assert a == b


def test_kmeans_improves_ivf_cell_balance_and_recall(spark):
    """On clustered data a trained quantizer must not lose recall vs the
    untrained deterministic sample at equal nprobe, and its assignment
    must still satisfy the exact-score-subset contract of topk_ivf."""
    from flyq_spark.operators.similarity import (
        topk_bruteforce,
        topk_ivf,
        train_kmeans,
    )

    df = _blob_frame(spark)
    queries = df.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = train_kmeans(df, n_clusters=3, max_iter=10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_bruteforce(df, queries, k=5).collect()
    }
    trained = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_ivf(df, queries, k=5, centroids=cent, nprobe=1).collect()
    }
    recall = len(trained & exact) / len(exact)
    # blobs are cosine-orthogonal: every true neighbor shares the blob
    # cell, so trained recall at nprobe=1 is perfect
    assert recall == 1.0


def test_kmeans_empty_and_tiny_corpus(spark):
    from flyq_spark.operators.similarity import train_kmeans

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert train_kmeans(empty, 4).count() == 0
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cent = train_kmeans(tiny, 8)
    assert cent.count() == 2  # budget clamps to corpus size


# ------------------------ connected components ------------------------ #


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (diameter 4) collapses to one component labeled by
    its min id; a disjoint pair stays separate; an untouched node is
    absent from the output."""
    from flyq_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_label_direction_agnostic(spark):
    """Edges are undirected: reversed edge order must give identical
    components."""
    from flyq_spark.operators.graph import connected_components

    fwd = spark.createDataFrame([(7, 3), (3, 9), (20, 8)], "id_a long, id_b long")
    rev = spark.createDataFrame([(3, 7), (9, 3), (8, 20)], "id_a long, id_b long")
    a = sorted(tuple(r) for r in connected_components(fwd).collect())
    b = sorted(tuple(r) for r in connected_components(rev).collect())
    assert a == b
    assert dict(a)[9] == 3 and dict(a)[20] == 8


def test_connected_components_raises_past_max_iter(spark):
    from flyq_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_dedup_components_keep_min(spark):
    from flyq_spark.operators.graph import dedup_components_keep_min

    pairs = spark.createDataFrame([(5, 2), (2, 9)], "id_a long, id_b long")
    rows = {r["node"]: (r["component"], r["keep"]) for r in
            dedup_components_keep_min(pairs).collect()}
    assert rows == {2: (2, True), 5: (2, False), 9: (2, False)}


def _checkpoints_read_by(df) -> set[int]:
    """Ids of the RDDs under the LogicalRDD leaves of ``df``'s plan: the
    local checkpoints that reading ``df`` still needs."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    ids = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def test_graph_rounds_release_superseded_checkpoints(spark):
    """Every graph loop releases the checkpoints it supersedes: after a
    call, the only new persisted RDDs are the checkpoints the returned
    frame reads, and the frame still reads back the same rows. A loop
    that raises releases all of its own."""
    from flyq_spark.operators.graph import (
        bfs_levels,
        connected_components,
        label_propagation,
        pagerank,
    )

    jsc = spark.sparkContext._jsc
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    named = pairs.select(
        F.concat(F.lit("n"), F.col("id_a")).alias("id_a"),
        F.concat(F.lit("n"), F.col("id_b")).alias("id_b"),
    )
    src = spark.createDataFrame([(1,), (10,)], "node long")
    calls = {
        "components": lambda: connected_components(pairs),
        "components of string ids": lambda: connected_components(named),
        "pagerank": lambda: pagerank(pairs, iters=4),
        "directed pagerank": lambda: pagerank(pairs, iters=3, directed=True),
        "pagerank without rounds": lambda: pagerank(pairs, iters=0),
        "bfs": lambda: bfs_levels(pairs, src),
        "label propagation": lambda: label_propagation(pairs, n_iter=4),
    }
    for name, call in calls.items():
        before = set(jsc.getPersistentRDDs().keys())
        out = call()
        left = set(jsc.getPersistentRDDs().keys()) - before
        assert left <= _checkpoints_read_by(out), name
        assert out.count() == 8, name  # every node; each source reaches its chain
    for call in (
        lambda: connected_components(pairs, max_iter=1),
        lambda: bfs_levels(pairs, src, max_iter=1),
    ):
        before = set(jsc.getPersistentRDDs().keys())
        with pytest.raises(RuntimeError, match="did not converge"):
            call()
        assert set(jsc.getPersistentRDDs().keys()) <= before


# -------------------------- corpus preparation ------------------------ #


def test_train_test_split_stable_under_growth(spark, docs):
    """A document's split never changes when the corpus grows: compute
    membership on half the corpus and on all of it — the common docs
    must agree."""
    from flyq_spark.operators.corpus import train_test_split

    full = {r["doc_id"]: r["split"] for r in train_test_split(docs).collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in train_test_split(docs.where(F.col("doc_id") % 2 == 0)).collect()
    }
    assert half and all(full[k] == v for k, v in half.items())
    # both splits exist and the test fraction is in a sane band (~5%)
    n_test = sum(1 for v in full.values() if v == "test")
    assert 0.005 < n_test / len(full) < 0.20


def test_corpus_shuffle_equals_naive_global_rank(spark, docs):
    """The shard-parallel rank must equal the naive single-partition
    global ORDER BY rank exactly."""
    from pyspark.sql import Window

    from flyq_spark.operators.corpus import corpus_shuffle

    small = docs.select("doc_id").limit(300)
    got = {r["doc_id"]: r["shuffle_rank"] for r in corpus_shuffle(small).collect()}
    naive_w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    naive = {
        r["doc_id"]: r["rank"]
        for r in small.withColumn("rank", F.row_number().over(naive_w)).collect()
    }
    assert got == naive


def test_pack_documents_boundary_invariants(spark, docs):
    """Within every shard: pack ids are dense from 0, pack boundaries
    respect the running-sum arithmetic, and no document is split."""
    from flyq_spark.operators.corpus import pack_documents

    budget = 512
    rows = pack_documents(docs, token_budget=budget).select(
        "shard", "pack_id", "n_tokens", "doc_id"
    ).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1
    for shard, members in by_shard.items():
        packs = sorted({m["pack_id"] for m in members})
        assert packs[0] == 0 and packs == list(range(len(packs)))
        # every pack except possibly the last holds >= budget tokens
        # only via its straddling last doc; i.e. tokens-before-last < budget
        tot = sum(m["n_tokens"] for m in members)
        assert tot >= 0
        # boundary form: cum_before // budget == pack_id replayed locally
        import hashlib

        members.sort(
            key=lambda m: (
                hashlib.md5(str(m["doc_id"]).encode()).hexdigest(),
                m["doc_id"],
            )
        )
        cum = 0
        for m in members:
            assert m["pack_id"] == cum // budget
            cum += m["n_tokens"]


def test_pack_documents_with_offsets(spark, docs):
    """with_offsets=True: tok_start is the within-pack token start —
    equal to the locally replayed cum_before − pack_id·budget, in
    [0, budget) for EVERY doc, and strictly increasing in ring order
    within a pack (the ring-first doc of pack p>0 starts ABOVE 0 when
    the previous pack's straddler overflowed into it). Default output
    stays offset-free (no schema drift for existing callers)."""
    import hashlib

    from flyq_spark.operators.corpus import pack_documents

    budget = 512
    assert "tok_start" not in pack_documents(docs, token_budget=budget).columns
    rows = pack_documents(
        docs, token_budget=budget, with_offsets=True
    ).select("shard", "pack_id", "n_tokens", "doc_id", "tok_start").collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(
            key=lambda m: (
                hashlib.md5(str(m["doc_id"]).encode()).hexdigest(),
                m["doc_id"],
            )
        )
        cum, last = 0, {}
        for m in members:
            assert m["tok_start"] == cum - m["pack_id"] * budget
            assert 0 <= m["tok_start"] < budget
            if m["pack_id"] not in last:
                # ring-first doc of pack p starts where the straddler
                # left off, folded mod budget — still < budget
                pass
            else:
                assert m["tok_start"] > last[m["pack_id"]]
            last[m["pack_id"]] = m["tok_start"]
            cum += m["n_tokens"]


def test_stratified_sample_deterministic_and_proportional(spark, docs):
    from flyq_spark.operators.corpus import stratified_sample

    frac = {"en": 0.5, "de": 0.25}
    a = sorted(r["doc_id"] for r in stratified_sample(docs, "lang", frac).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, "lang", frac).collect())
    assert a == b and len(a) > 0
    by_lang_total = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = stratified_sample(docs, "lang", frac, default_fraction=0.0)
    by_lang_kept = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(by_lang_kept) <= {"en", "de"}  # default 0 drops other strata
    for lang, f in frac.items():
        got = by_lang_kept.get(lang, 0) / by_lang_total[lang]
        assert abs(got - f) < 0.25  # md5 uniformity at small-n tolerance


def test_contamination_ngrams_matches_python_reference(spark, docs):
    """Per-test-doc 8-gram totals and train-leak counts must equal a
    pure-Python recomputation (same md5 split rule, same shingling)."""
    import hashlib

    from flyq_spark.operators.corpus import contamination_ngrams

    n = 8
    rows = docs.select("doc_id", "text").collect()
    split = {
        r["doc_id"]: (
            "test"
            if hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:2] < "0d"
            else "train"
        )
        for r in rows
    }

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    train_set = set()
    for r in rows:
        if split[r["doc_id"]] == "train":
            train_set |= shingles(r["text"])
    expected = {
        r["doc_id"]: (len(s), len(s & train_set))
        for r in rows
        if split[r["doc_id"]] == "test" and (s := shingles(r["text"]))
    }
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_contaminated"])
        for r in contamination_ngrams(docs, n=n).collect()
    }
    assert got == expected and any(c for _, c in got.values())


def test_repetition_signals_matches_python_reference(spark, docs):
    from collections import Counter

    from flyq_spark.operators.text import repetition_signals

    got = {
        r["doc_id"]: (
            r["n_words"],
            r["n_unique_words"],
            r["top_word_count"],
            r["n_bigrams"],
            r["n_unique_bigrams"],
        )
        for r in repetition_signals(docs).collect()
    }
    for r in docs.select("doc_id", "text").limit(50).collect():
        w = r["text"].split(" ")
        wc = Counter(w)
        bg = [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]
        assert got[r["doc_id"]] == (
            len(w),
            len(wc),
            max(wc.values()),
            len(bg),
            len(set(bg)),
        )


def test_bpe_pretoken_count_matches_python_reference(spark, docs):
    import re

    from flyq_spark.operators.text import BPE_PRETOKEN_PATTERN, bpe_pretoken_count

    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_pretoken_count(F.col("text")).alias("n")
        ).collect()
    }
    pat = re.compile(BPE_PRETOKEN_PATTERN)
    for r in docs.select("doc_id", "text").limit(50).collect():
        assert got[r["doc_id"]] == len(pat.findall(r["text"].lower()))


def test_quality_filter_first_failing_rule(spark):
    from flyq_spark.operators.text import quality_filter

    rows = [
        (1, "one two three"),  # 3 words -> too_short (min 5)
        (2, "spam spam spam spam spam spam"),  # top word 100% -> repetitive_word
        # 8 words, unique-enough words but only 2 distinct bigrams of 7
        (3, "a b a b a b a b"),
        (4, "the quick brown fox jumps over lazy dogs"),  # ok
        # too_short wins over repetitive_word (first failing rule)
        (5, "x x x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["reason"], r["keep"])
        for r in quality_filter(
            df, min_words=5, max_top_word_pct=40, max_dup_bigram_pct=50
        ).collect()
    }
    assert got == {
        1: ("too_short", False),
        2: ("repetitive_word", False),
        3: ("repetitive_word", False),  # 4/8 = 50% > 40%
        4: ("ok", True),
        5: ("too_short", False),
    }


def test_redact_pii_patterns_and_counts(spark):
    from flyq_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call 555-867-5309 now"),
        (2, "ssn 123-45-6789 from host 10.0.0.1 and (212) 555-0123"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert got[1]["text"] == "mail me at [EMAIL] or call [PHONE] now"
    assert (got[1]["n_email"], got[1]["n_phone"]) == (1, 1)
    assert got[2]["text"] == "ssn [SSN] from host [IPV4] and [PHONE]"
    assert (got[2]["n_ssn"], got[2]["n_ipv4"], got[2]["n_phone"]) == (1, 1, 1)
    assert got[3]["text"] == rows[2][1]
    assert all(got[3][f"n_{k}"] == 0 for k in ("email", "ssn", "phone", "ipv4"))


def test_inverted_index_and_search_consistent(spark, docs):
    """df == |postings|, postings sorted; AND-search equals the
    intersection of the per-term posting sets."""
    from flyq_spark.operators.text import build_inverted_index, search_all_terms

    idx = build_inverted_index(docs)
    sample = idx.orderBy(F.col("df").desc(), F.col("term")).limit(5).collect()
    assert sample
    for r in sample:
        assert r["df"] == len(r["postings"])
        assert list(r["postings"]) == sorted(r["postings"])
    terms = [sample[0]["term"], sample[1]["term"]]
    got = {r["doc_id"] for r in search_all_terms(docs, terms).collect()}
    posting = {r["term"]: set(r["postings"]) for r in idx.where(F.col("term").isin(terms)).collect()}
    assert got == posting[terms[0]] & posting[terms[1]]


# ----------------------------- z-order layout ------------------------- #


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_code_matches_reference(spark):
    from flyq_spark.operators.layout import morton_code

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 7, 100, 65535)],
        "x long, y long",
    )
    rows = df.select("x", "y", morton_code(F.col("x"), F.col("y")).alias("z")).collect()
    for r in rows:
        assert r["z"] == _py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """File-level min/max pruning: a narrow y-filter can skip most
    z-ordered files but NO x-sorted files (their y-envelopes all span
    the full domain); a narrow x-filter still prunes z-ordered files.
    Z-order trades the single-dimension optimum for balance across all
    interleaved dimensions -- the property this test pins."""
    from flyq_spark.operators.layout import zorder_repartition

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "sorted")
    zorder_repartition(df, "x", "y", n_files=8, bits=6).write.parquet(zpath)
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(spath)

    def files_touching(path, col, lo, hi):
        import glob

        hit, total = 0, 0
        for f in glob.glob(path + "/part-*.parquet"):
            mn, mx = spark.read.parquet(f).agg(F.min(col), F.max(col)).collect()[0]
            total += 1
            if mx >= lo and mn <= hi:
                hit += 1
        return hit, total

    zy, zn = files_touching(zpath, "y", 0, 7)
    sy, sn = files_touching(spath, "y", 0, 7)
    assert sy == sn, "x-sorted files must all span the y domain"
    assert zy <= zn // 2, f"z-order should skip most files on y: {zy}/{zn}"
    zx, _ = files_touching(zpath, "x", 0, 7)
    assert zx <= (zn * 3) // 4, f"z-order must still prune on x: {zx}/{zn}"


def test_corpus_ops_invariant_under_input_partitioning(spark, docs):
    """Hash-keyed corpus ops must give identical results whatever the
    input partitioning: repartition(7) vs original must match row-set
    for split, shuffle ranks, and pack assignment."""
    from flyq_spark.operators.corpus import (
        corpus_shuffle,
        pack_documents,
        train_test_split,
    )

    alt = docs.repartition(7)
    for fn, cols in (
        (train_test_split, ("doc_id", "split")),
        (corpus_shuffle, ("doc_id", "shuffle_rank")),
        (pack_documents, ("doc_id", "shard", "pack_id")),
    ):
        a = sorted(tuple(r[c] for c in cols) for r in fn(docs).select(*cols).collect())
        b = sorted(tuple(r[c] for c in cols) for r in fn(alt).select(*cols).collect())
        assert a == b, fn.__name__


def test_bigram_counts_exact(spark):
    from flyq_spark.operators.text import bigram_counts

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["bigram"]: (r["n_docs"], r["n_occurrences"]) for r in bigram_counts(df).collect()}
    assert got == {"a b": (2, 3), "b a": (1, 1)}


def test_bm25_matches_numpy_reference(spark, docs):
    """BM25 top-10 equals an independent numpy computation on the same
    tokenization, bit-for-bit on ranks and to 1e-9 on scores."""
    import math

    from flyq_spark.operators.text import bm25_topk

    terms = ["batch", "join"]
    rows = docs.select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].strip().lower().split(" ") if r["text"].strip() else [] for r in rows}
    N = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / N
    k1, b = 1.2, 0.75
    dfreq = {t: sum(1 for d in toks.values() if t in d) for t in terms}
    ref = {}
    for doc, tl in toks.items():
        s = 0.0
        for t in terms:
            tf = tl.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tl) / avgdl))
        if s > 0:
            ref[doc] = s
    expected = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["doc_id"], r["score"]) for r in bm25_topk(docs, terms, k=10).orderBy("rank").collect()]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (d1, s1), (d2, s2) in zip(got, expected):
        assert abs(s1 - s2) < 1e-9, (d1, s1, s2)


# --------------------------- product quantization --------------------- #


def test_pq_roundtrip_and_recall(spark, emb):
    """PQ pipeline: train on deterministic sample -> encode (m small
    codes per vector) -> asymmetric-distance top-k. Recall@5 against
    exact cosine top-k must be well above chance, and every query must
    retrieve itself at rank 1 (its own codes minimize its own table)."""
    from flyq_spark.operators.similarity import (
        pq_encode,
        topk_bruteforce,
        topk_pq,
        train_pq,
    )

    books, dim = train_pq(emb, n_subspaces=4, n_codes=16)
    assert books.shape[0] == 4 and dim % 4 == 0
    encoded = pq_encode(emb, books)
    first = encoded.first()
    assert len(first["codes"]) == 4

    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = topk_pq(encoded, queries, books, k=5)
    exact = topk_bruteforce(emb, queries, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    nq = queries.count()
    recall = len(a & e) / len(e)
    corpus_n = emb.count()
    chance = 5 / corpus_n
    assert recall > 10 * chance, (recall, chance)
    self_hits = {r["query_id"] for r in approx.collect() if r["query_id"] == r["neighbor_id"]}
    assert len(self_hits) == nq


def test_pq_deterministic(spark, emb):
    from flyq_spark.operators.similarity import pq_encode, train_pq

    b1, _ = train_pq(emb, n_subspaces=2, n_codes=8)
    b2, _ = train_pq(emb, n_subspaces=2, n_codes=8)
    import numpy as np

    assert np.array_equal(b1, b2)
    e1 = sorted((r["vec_id"], tuple(r["codes"])) for r in pq_encode(emb, b1).collect())
    e2 = sorted((r["vec_id"], tuple(r["codes"])) for r in pq_encode(emb, b2).collect())
    assert e1 == e2


def test_duplicate_spans_matches_python_reference(spark, docs):
    """Maximal duplicated-8-gram spans must equal a pure-Python
    recomputation (global gram counting incl. within-doc repeats,
    merge when the next duplicated gram starts <= k after the last)."""
    from collections import Counter

    from flyq_spark.operators.dedup import duplicate_spans

    k = 8
    rows = docs.select("doc_id", "text").collect()
    counts: Counter = Counter()
    words = {}
    for r in rows:
        w = r["text"].split(" ")
        words[r["doc_id"]] = w
        for i in range(len(w) - k + 1):
            counts[" ".join(w[i : i + k])] += 1
    expected = set()
    for doc_id, w in words.items():
        ps = [
            i + 1
            for i in range(len(w) - k + 1)
            if counts[" ".join(w[i : i + k])] > 1
        ]
        spans = []
        for p in ps:
            if spans and p <= spans[-1][1] + 1:  # prev end = last_pos + k - 1
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + k - 1))
            else:
                spans.append((p, p + k - 1))
        for s, e in spans:
            expected.add((doc_id, s, e, e - s + 1))
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_spans(docs, k=k).collect()
    }
    assert got == expected and got  # non-vacuous: the fixture has dups


def test_duplicate_spans_handcrafted(spark):
    """Shared phrase across docs -> one exact span each; short docs and
    unique text emit nothing; overlapping grams merge into one span."""
    from flyq_spark.operators.dedup import duplicate_spans

    phrase = "a b c d"  # k=3: grams 'a b c' (pos 1) and 'b c d' (pos 2)
    df = spark.createDataFrame(
        [
            (1, f"{phrase} x y z q"),
            (2, f"p q r {phrase}"),
            (3, "only unique words here nothing repeats at all"),
            (4, "ab"),  # shorter than k
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=3).collect()
    }
    assert got == {(1, 1, 4), (2, 4, 7)}


def test_source_composition_matches_python_reference(spark, docs):
    from flyq_spark.operators.corpus import source_composition

    rows = docs.select("source", "lang", "text").collect()
    agg: dict = {}
    for r in rows:
        t = r["text"].strip()
        n_t = 0 if not t else t.count(" ") + 1
        d = agg.setdefault(r["source"], {"docs": 0, "toks": 0, "langs": set(), "mx": 0})
        d["docs"] += 1
        d["toks"] += n_t
        d["langs"].add(r["lang"])
        d["mx"] = max(d["mx"], n_t)
    expected = {
        s: (d["docs"], d["toks"], len(d["langs"]), d["mx"]) for s, d in agg.items()
    }
    got = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["n_langs"], r["max_doc_tokens"])
        for r in source_composition(docs).collect()
    }
    assert got == expected


def test_remove_duplicate_spans(spark, docs):
    """Excision invariants: removed-token counts equal the per-doc span
    token sums; span-free docs pass through byte-identical; no excised
    8-gram survives in any cleaned text."""
    from flyq_spark.operators.dedup import duplicate_spans, remove_duplicate_spans

    spans = duplicate_spans(docs, k=8)
    cleaned = remove_duplicate_spans(docs, spans=spans, k=8)
    span_sum = {
        r["doc_id"]: r["s"]
        for r in spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("s")).collect()
    }
    orig = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in cleaned.collect():
        assert r["n_removed_tokens"] == span_sum.get(r["doc_id"], 0)
        if r["doc_id"] not in span_sum:
            assert r["clean_text"] == orig[r["doc_id"]]
    assert any(span_sum.values())


def test_rare_token_stats_matches_python_reference(spark, docs):
    from collections import Counter

    from flyq_spark.operators.text import rare_token_stats

    rows = docs.select("doc_id", "text").collect()
    freq: Counter = Counter()
    for r in rows:
        freq.update(r["text"].split(" "))
    expected = {}
    for r in rows:
        w = r["text"].split(" ")
        rare = [t for t in w if freq[t] <= 4]
        expected[r["doc_id"]] = (len(w), len(rare), len(set(rare)))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_rare_tokens"], r["n_distinct_rare"])
        for r in rare_token_stats(docs, max_freq=4).collect()
    }
    assert got == expected


def test_rare_token_stats_discriminates_marker_token(spark, docs):
    """The fixture's rare marker token ('dup', freq ~29 at sf0.001) must
    be counted rare at max_freq=100 while regular words are not."""
    from flyq_spark.operators.text import rare_token_stats

    out = rare_token_stats(docs, max_freq=100)
    total_rare = out.agg(F.sum("n_rare_tokens")).first()[0]
    assert 0 < total_rare < 100  # some docs carry the marker; most words aren't rare


def test_syndication_by_source_matches_python_reference(spark, docs):
    """Source-pair counts must equal a brute-force recomputation of the
    exact token-set Jaccard join decorated with sources."""
    from flyq_spark.operators.dedup import syndication_by_source

    rows = docs.select("doc_id", "text", "source").collect()
    toks = {
        r["doc_id"]: set(t for t in r["text"].lower().split() if t)
        for r in rows
    }
    srcs = {r["doc_id"]: r["source"] for r in rows}
    from collections import Counter

    expected: Counter = Counter()
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ta, tb = toks[a], toks[b]
            if not ta or not tb:
                continue
            inter = len(ta & tb)
            if inter / (len(ta) + len(tb) - inter) >= 0.9:
                expected[tuple(sorted((srcs[a], srcs[b])))] += 1
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in syndication_by_source(docs, min_jaccard=0.9).collect()
    }
    assert got == dict(expected) and got


def test_upsample_strata_deterministic_replication(spark, docs):
    """Replication counts: every row appears floor(rate) or ceil(rate)
    times, expectation within tolerance, byte-identical across runs,
    and copy_id is a dense 1..n per doc."""
    import hashlib

    from flyq_spark.operators.corpus import upsample_strata

    rates = {"en": 2.5, "de": 1.5}
    up = upsample_strata(docs, "lang", rates).select("doc_id", "lang", "copy_id")
    rows = up.collect()
    per_doc: dict = {}
    lang_of = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_id"])
        lang_of[r["doc_id"]] = r["lang"]
    for doc_id, copies in per_doc.items():
        rate = rates.get(lang_of[doc_id], 1.0)
        h4 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
        expected = int(rate) + (1 if h4 < round((rate - int(rate)) * 65536) else 0)
        assert sorted(copies) == list(range(1, expected + 1)), doc_id
    # every source doc survives (rates >= 1)
    assert set(per_doc) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    # determinism
    again = {(r["doc_id"], r["copy_id"]) for r in up.collect()}
    assert again == {(r["doc_id"], r["copy_id"]) for r in rows}


# ------------------- md5-permutation MinHash family -------------------- #


def test_minhash_signature_matches_python_reference(spark):
    """Every signature component equals a Python-computed
    min((a_i * h + b_i) mod p) over the distinct word 3-gram set, with
    h = first 8 md5 hex digits — fully deterministic, no statistical
    tolerance."""
    import hashlib

    from flyq_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_params,
        minhash_signatures,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),          # identical -> identical signature
        (3, "x y z a b c d"),
        (4, "aa"),                    # < 3 words -> no shingles -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 8
    got = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signatures(df, k=k).collect()
    }
    params = minhash_params(k)

    def ref_sig(text):
        words = text.split(" ")
        grams = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        return [
            min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in params
        ]

    assert set(got) == {1, 2, 3}
    for doc_id, text in rows[:3]:
        assert got[doc_id] == ref_sig(text), doc_id
    assert got[1] == got[2]


def test_minhash_band_pairs_exact_verify_and_recall(spark, docs):
    """Band pairs: (a) every emitted pair's jaccard equals the exact
    shingle Jaccard (verify stage is exact); (b) emitted pairs are a
    subset of the brute-force pair set at the threshold; (c) the
    fixture's heavy near-dups (J >= 0.9, where 8x4 banding recall is
    1-(1-0.9^4)^8 > 0.999) are all found — on this corpus the banded
    set equals the brute-force set at J >= 0.9."""
    from flyq_spark.operators.dedup import minhash_band_pairs, shingle_set

    small = docs.limit(200)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_band_pairs(small, min_jaccard=0.5).collect()
    }
    gram_sets = {
        r["doc_id"]: set(r["g"])
        for r in small.select(
            "doc_id", shingle_set(F.col("text"), 3).alias("g")
        ).collect()
    }
    brute = {}
    ids = sorted(gram_sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = gram_sets[a], gram_sets[b]
            if not ga or not gb:
                continue
            inter = len(ga & gb)
            j = inter / (len(ga) + len(gb) - inter)
            if j >= 0.5:
                brute[(a, b)] = j
    assert set(got) <= set(brute)
    for pair, j in got.items():
        assert abs(j - brute[pair]) < 1e-12, pair
    heavy = {p for p, j in brute.items() if j >= 0.9}
    assert heavy and heavy <= set(got)


# ------------------- cohort retention / percentiles -------------------- #


def test_cohort_retention_handcrafted(spark):
    """3 users across 3 weeks: known matrix, including a user skipping a
    week (offset 2 present without offset 1)."""
    import datetime

    from flyq_spark.operators.sessions import cohort_retention

    mon = datetime.datetime(2024, 1, 1)  # a Monday
    wk = datetime.timedelta(days=7)
    rows = [
        # u1: cohort week0, active weeks 0,1,2
        (1, mon), (1, mon + wk), (1, mon + 2 * wk + datetime.timedelta(days=3)),
        # u2: cohort week0, active weeks 0,2 (skips 1)
        (2, mon + datetime.timedelta(days=4)), (2, mon + 2 * wk),
        # u3: cohort week1, active week 1 only (two events same week)
        (3, mon + wk), (3, mon + wk + datetime.timedelta(days=2)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        (mon, 0): 2, (mon, 1): 1, (mon, 2): 2,
        (mon + wk, 0): 1,
    }


def test_length_percentiles_match_python_rank(spark, docs):
    """Percentiles equal the value at rank ceil(p*n) of the sorted
    per-lang value list (inverted-CDF definition), computed in Python."""
    import math

    from flyq_spark.operators.corpus import length_percentiles

    got = {
        r["lang"]: (r["n_docs"], r["p50"], r["p90"], r["p99"])
        for r in length_percentiles(docs).collect()
    }
    vals: dict = {}
    for r in docs.select("lang", "n_chars").collect():
        vals.setdefault(r["lang"], []).append(r["n_chars"])
    for lang, xs in vals.items():
        xs.sort()
        n = len(xs)
        exp = tuple(xs[math.ceil(p * n) - 1] for p in (0.5, 0.9, 0.99))
        assert got[lang] == (n, *exp), lang


def test_interarrival_stats_handcrafted(spark):
    """Known gaps incl. duplicate timestamps (tie broken by event_id →
    a zero gap, not an ordering flip) and a single-event user (no row)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    ev = spark.createDataFrame(
        [
            (1, 1, t0), (2, 1, t0 + 3 * s), (3, 1, t0 + 3 * s), (4, 1, t0 + 10 * s),
            (5, 2, t0),  # single event -> no gaps -> no row
        ],
        "event_id long, user_id long, ts timestamp",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select("user_id", (us - F.lag(us).over(w)).alias("g")).where(
        F.col("g").isNotNull()
    )
    got = {
        r["user_id"]: (r["n"], r["mn"], r["mx"], r["sm"])
        for r in gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min("g").alias("mn"),
            F.max("g").alias("mx"),
            F.sum("g").alias("sm"),
        )
        .collect()
    }
    assert got == {1: (3, 0, 7_000_000, 10_000_000)}


def test_dedup_agreement_categories(spark, docs, emb):
    """Category counts equal the full-outer composition of the two
    exact pair sets, computed independently in Python from collected
    pair relations."""
    from flyq_spark.operators.dedup import ngram_jaccard_pairs
    from flyq_spark.operators.similarity import neardup_pairs_exact

    lex = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    sem = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs_exact(
            emb.select("vec_id", "embedding"), min_cosine=0.4
        ).collect()
    }
    expected = {
        "both": len(lex & sem),
        "lexical_only": len(lex - sem),
        "semantic_only": len(sem - lex),
    }
    expected = {k: v for k, v in expected.items() if v}
    from __spark_entry__ import q_dedup_agreement

    got = {
        r["category"]: r["n_pairs"]
        for r in q_dedup_agreement(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected and got


# ----------------------------- CDC / merge ----------------------------- #


def test_apply_changes_merge_semantics(spark):
    """Upsert-new, update-existing, delete, and stale-change-loses; a
    change at the SAME ts as the snapshot row wins (idempotent
    redelivery); applying the same batch twice equals applying once."""
    from flyq_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, v string, ts long",
    )
    chg = spark.createDataFrame(
        [
            (1, "a2", 15, "u"),   # update
            (2, "xx", 5, "u"),    # stale: older than snapshot -> ignored
            (3, "zz", 30, "d"),   # delete at same ts -> change wins -> gone
            (5, "e", 50, "u"),    # brand-new key
        ],
        "k long, v string, ts long, op string",
    )
    once = apply_changes(snap, chg, ("k",), "ts")
    got = {(r["k"], r["v"], r["ts"]) for r in once.collect()}
    assert got == {(1, "a2", 15), (2, "b", 20), (4, "d", 40), (5, "e", 50)}
    twice = apply_changes(once, chg, ("k",), "ts")
    assert {(r["k"], r["v"], r["ts"]) for r in twice.collect()} == got


def test_scd2_history_runs_and_intervals(spark):
    """Equal-attribute runs collapse; intervals tile (valid_to equals
    the next valid_from); current run has NULL valid_to; same-ts ties
    resolved by the tie column."""
    from flyq_spark.operators.cdc import scd2_history

    rows = [
        (1, 1, "x", 100), (2, 1, "x", 200), (3, 1, "y", 300),
        (4, 1, "y", 300),  # same ts as event 3, same attr -> same run
        (5, 1, "x", 400),
        (6, 2, "a", 100),
    ]
    df = spark.createDataFrame(rows, "event_id long, k long, attr string, ts long")
    got = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_history(df, "k", "attr", "ts", "event_id").collect()
    )
    assert got == [
        (1, "x", 100, 300),
        (1, "x", 400, None),
        (1, "y", 300, 400),
        (2, "a", 100, None),
    ]


# ------------------------------- BPE ----------------------------------- #


def _ref_bpe_train(word_freqs, n_merges):
    """Independent reference BPE trainer (Sennrich-style) on a word-freq
    dict: argmax pair by (count desc, lexicographically smallest)."""
    vocab = {}
    for w, f in word_freqs.items():
        sym = tuple(w) + ("</w>",)
        vocab[sym] = vocab.get(sym, 0) + f
    merges = []
    for _ in range(n_merges):
        counts = {}
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] = counts.get((sym[i], sym[i + 1]), 0) + f
        if not counts or max(counts.values()) < 2:
            break
        best = min(p for p, c in counts.items() if c == max(counts.values()))
        merges.append(best)
        new = {}
        for sym, f in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


def test_train_bpe_matches_reference(spark):
    from flyq_spark.operators.bpe import train_bpe

    rows = [
        (1, "low low low lower lower"),
        (2, "newest newest newest widest widest"),
        (3, "low newest"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freqs: dict = {}
    for _, text in rows:
        for w in text.split():
            freqs[w] = freqs.get(w, 0) + 1
    expected = _ref_bpe_train(freqs, 10)
    got = train_bpe(df, n_merges=10)
    assert got == expected and got
    assert got == train_bpe(df, n_merges=10)  # deterministic


def test_bpe_token_counts_equal_direct_encode(spark):
    """The distinct-word-join counting path equals encoding every word
    of every document directly in Python."""
    from flyq_spark.operators.bpe import bpe_token_counts, encode_word, train_bpe

    rows = [
        (1, "low low lower newest"),
        (2, "widest newest newest low"),
        (3, "zzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(df, n_merges=6)
    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(df, merges).collect()
    }
    for doc_id, text in rows:
        words = text.lower().split()
        exp_tokens = sum(len(encode_word(w, ranks)) for w in words)
        assert got[doc_id] == (len(words), exp_tokens), doc_id


def test_hashing_trick_vectors_match_python_reference(spark, docs):
    """Vectors equal the Python-computed bucket counts (md5-derived
    bucket, mod 64); vector sums equal token counts; a known near-dup
    pair has high count-vector cosine."""
    import hashlib

    import numpy as np

    from flyq_spark.operators.text import hashing_trick_vectors

    dim = 64
    sample = docs.where(F.col("doc_id").isin([0, 50, 7])).collect()
    got = {
        r["doc_id"]: r["vec"]
        for r in hashing_trick_vectors(
            docs.where(F.col("doc_id").isin([0, 50, 7])), dim=dim
        ).collect()
    }
    for row in sample:
        toks = [w for w in row["text"].lower().split() if w]
        exp = [0] * dim
        for w in toks:
            exp[int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim] += 1
        assert got[row["doc_id"]] == exp, row["doc_id"]
        assert sum(got[row["doc_id"]]) == len(toks)
    a, b = np.array(got[0], float), np.array(got[50], float)
    cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    assert cos > 0.9  # docs 0 and 50 are near-dups (J ~ 0.95)


def test_unigram_surprisal_matches_numpy(spark, docs):
    """Per-doc mean surprisal equals the numpy-computed value under the
    same corpus unigram model (1e-9 tolerance); common-word docs score
    lower than docs holding rare markers."""
    import math

    from flyq_spark.operators.text import unigram_surprisal

    sample = docs.limit(150)
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_surprisal"])
        for r in unigram_surprisal(sample).collect()
    }
    freqs: dict = {}
    doc_toks = {}
    for r in sample.collect():
        toks = [w for w in r["text"].lower().split() if w]
        doc_toks[r["doc_id"]] = toks
        for w in toks:
            freqs[w] = freqs.get(w, 0) + 1
    total = sum(freqs.values())
    for doc_id, toks in doc_toks.items():
        exp = sum(math.log(total / freqs[w]) for w in toks) / len(toks)
        n, s = got[doc_id]
        assert n == len(toks)
        assert abs(s - exp) < 1e-9, doc_id


def test_normalize_text_handles_control_and_whitespace(spark):
    """Control chars become spaces, whitespace runs collapse, case
    folds, ends trim — so near-identical docs share a fingerprint."""
    from __spark_entry__ import q_normalize_text  # noqa: F401

    df = spark.createDataFrame(
        [
            (1, "Hello\x01  World\t\tfoo  "),
            (2, "hello world foo"),
            (3, "\x1fhello   WORLD\nfoo"),
        ],
        "doc_id long, text string",
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[\\x00-\\x1f]", " "),
            "\\s+",
            " ",
        )
    )
    got = {
        r["doc_id"]: (r["n"], r["fp"])
        for r in df.select(
            "doc_id", norm.alias("n"), F.md5(norm).alias("fp")
        ).collect()
    }
    assert got[1][0] == got[2][0] == got[3][0] == "hello world foo"
    assert got[1][1] == got[2][1] == got[3][1]


def test_topk_mmr_matches_python_reference_and_diversifies(spark, emb):
    """MMR selection equals a pure-Python greedy reference; lam=1
    degenerates to plain relevance order; lam<1 skips at least one
    near-duplicate that plain top-k keeps (fixture has near-dup
    vectors)."""
    import numpy as np

    from flyq_spark.operators.similarity import topk_bruteforce, topk_mmr

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pool = 30
    cand = topk_bruteforce(emb, queries, k=pool).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], float)
        for r in emb.collect()
    }

    def ref_mmr(lam, k=5):
        out = {}
        by_q: dict = {}
        for r in cand:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rows in by_q.items():
            rows.sort(key=lambda r: (-r["score"], r["neighbor_id"]))
            ids = [r["neighbor_id"] for r in rows]
            rel = np.array([r["score"] for r in rows])
            U = np.vstack([vecs[i] for i in ids])
            n = np.linalg.norm(U, axis=1)
            n[n == 0] = 1
            U = U / n[:, None]
            S = U @ U.T
            remaining = list(range(len(ids)))
            sel: list = []
            while remaining and len(sel) < k:
                red = (
                    S[np.ix_(remaining, sel)].max(axis=1)
                    if sel
                    else np.zeros(len(remaining))
                )
                obj = lam * rel[remaining] - (1 - lam) * red
                sel.append(remaining.pop(int(np.argmax(obj))))
            out[q] = [ids[i] for i in sel]
        return out

    for lam in (1.0, 0.5):
        got = {}
        for r in topk_mmr(emb, queries, k=5, pool=pool, lam=lam).collect():
            got.setdefault(r["query_id"], []).append(
                (r["mmr_rank"], r["neighbor_id"])
            )
        got = {q: [i for _, i in sorted(v)] for q, v in got.items()}
        assert got == ref_mmr(lam), lam

    plain = ref_mmr(1.0)
    diverse = ref_mmr(0.5)
    assert any(set(plain[q]) != set(diverse[q]) for q in plain)


def test_heavy_hitters_equals_exact_and_survives_partitioning(spark):
    """Misra-Gries + exact verify equals a plain exact computation on a
    skewed synthetic stream, under both 1-partition and 16-partition
    layouts (the per-partition memory budget must not change results)."""
    from flyq_spark.operators.sketch import heavy_hitters

    rows = (
        [("hot1",)] * 400
        + [("hot2",)] * 250
        + [(f"cold{i}",) for i in range(350)]
    )
    expected_n = len(rows)
    thresh = -(-expected_n * 5 // 1000)  # ceil(0.005 * n)
    exact = {}
    for (w,) in rows:
        exact[w] = exact.get(w, 0) + 1
    expected = {(w, c) for w, c in exact.items() if c >= thresh}
    for parts in (1, 16):
        df = spark.createDataFrame(rows, "item string").repartition(parts)
        got = {
            (r["item"], r["n_occurrences"])
            for r in heavy_hitters(df, "item", min_fraction=0.005).collect()
        }
        assert got == expected, parts


def test_bpe_encode_ids_roundtrip(spark):
    """Token-id sequences decode back to the original text through the
    inverted vocab (id assignment is a pure function of the merges);
    n_tokens matches bpe_token_counts."""
    from flyq_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_token_counts,
        build_vocab,
        train_bpe,
    )

    rows = [(1, "low low lower newest"), (2, "widest newest low")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(df, n_merges=6)
    vocab = build_vocab(merges)
    inv = {v: k for k, v in vocab.items()}
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"])
        for r in bpe_encode_ids(df, merges).collect()
    }
    counts = {
        r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_counts(df, merges).collect()
    }
    for doc_id, text in rows:
        ids, n = got[doc_id]
        assert n == len(ids) == counts[doc_id]
        decoded = "".join(inv[i] for i in ids).replace("</w>", " ").strip()
        assert decoded == text


def test_heavy_hitters_non_string_item_type(spark):
    """The MG candidate pass must mirror the item column's actual type —
    a bigint key column used to crash the Arrow conversion against the
    hardcoded 'item string' schema."""
    from pyspark.sql import functions as F

    from flyq_spark.operators.sketch import heavy_hitters

    df = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    got = {(r["item"], r["n_occurrences"]) for r in
           heavy_hitters(df, "k", min_fraction=0.4).collect()}
    assert got == {(7, 501)}  # 500 evens remapped + id=7 itself
    assert dict(heavy_hitters(df, "k", min_fraction=0.4).dtypes)["item"] == "bigint"


def test_quality_weighted_sample_deterministic_and_monotonic(spark):
    """Keep-probability semantics: weight 1 keeps all, 0 keeps none,
    membership matches the driver-side md5 formula exactly, and the kept
    set is monotone in the weight (same coin, higher threshold)."""
    import hashlib

    from pyspark.sql import functions as F

    from flyq_spark.operators.corpus import quality_weighted_sample

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    assert quality_weighted_sample(df, F.lit(1.0)).count() == 500
    assert quality_weighted_sample(df, F.lit(0.0)).count() == 0

    kept30 = {r["doc_id"] for r in quality_weighted_sample(df, F.lit(0.3)).collect()}
    kept60 = {r["doc_id"] for r in quality_weighted_sample(df, F.lit(0.6)).collect()}
    assert kept30 <= kept60

    def coin(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    expect30 = {i for i in range(500) if coin(i) < int(0.3 * (1 << 60))}
    assert kept30 == expect30
    # ~30% at n=500 with a uniform coin
    assert 100 <= len(kept30) <= 200


def test_semdedup_prune_drops_embedding_duplicates(spark):
    """Exact-duplicate embeddings collapse to one kept member (smallest
    id), distinct directions all survive; output covers every input row
    exactly once."""
    from flyq_spark.operators.similarity import semdedup_prune

    rows = []
    # 3 well-separated directions; direction 0 duplicated 4x, plus a
    # near-duplicate (scaled copy: same direction, different norm)
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    vid = 0
    for d, v in enumerate(base):
        rows.append((vid, v)); vid += 1
    for _ in range(3):  # duplicates of direction 0
        rows.append((vid, base[0])); vid += 1
    rows.append((vid, [2.0, 0.0, 0.0, 0.0])); vid += 1  # scaled dup of dir 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup_prune(emb, threshold=0.95, n_clusters=2).collect()
    assert len(out) == len(rows)  # one verdict per input
    kept = sorted(r["vec_id"] for r in out if r["keep"])
    dropped = sorted(r["vec_id"] for r in out if not r["keep"])
    # all 5 copies of direction 0 collapse to the smallest id (0);
    # directions 1 and 2 survive
    assert 0 in kept and 1 in kept and 2 in kept
    assert dropped == [3, 4, 5, 6]


def test_dedup_keep_best_survivor_by_quality(spark):
    """Survivor = argmax quality per duplicate cluster, min-id ties;
    unclustered nodes emit no row (implicitly kept)."""
    from flyq_spark.operators.graph import dedup_components_keep_best

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 1), (11, 1), (99, 7)],
        "doc_id long, quality long",
    )
    out = {
        r["node"]: (r["keep"], r["survivor"])
        for r in dedup_components_keep_best(pairs, quality).collect()
    }
    # cluster {1,2,3}: quality 9 tie between 2 and 3 -> survivor 2
    assert out[1] == (False, 2) and out[2] == (True, 2) and out[3] == (False, 2)
    # cluster {10,11}: tie -> smallest id 10
    assert out[10] == (True, 10) and out[11] == (False, 10)
    assert 99 not in out  # never paired -> implicitly kept


def test_simhash_md5_neardup_semantics(spark):
    """Identical docs pair at hamming 0; one-word edits stay within the
    threshold; unrelated docs never pair. Signature is a pure function
    of content (the md5 family's oracle-replayability contract)."""
    from flyq_spark.operators.dedup import simhash_md5, simhash_md5_neardup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "the quick brown fox jumps over the lazy cat again and again"),
            (4, "completely different content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_md5_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical -> same signature
    assert all(4 not in p for p in pairs)  # unrelated never pairs
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_md5(docs).collect()}
    assert sigs[1] == sigs[2] and sigs[1] != sigs[4]
    assert 0 <= sigs[1] < (1 << 32)


def test_pagerank_matches_python_reference(spark):
    """Fixed-iteration PageRank equals an independent pure-Python power
    iteration (same damping/teleport/dangling semantics) to 1e-9, on a
    graph with a hub, a chain, and (directed case) a dangling node."""
    from flyq_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (5, 3), (4, 5)]

    def ref_pagerank(pairs, damping, iters, directed):
        es = set()
        for a, b in pairs:
            es.add((a, b))
            if not directed:
                es.add((b, a))
        nodes = sorted({x for e in es for x in e})
        n = len(nodes)
        out = {u: 0 for u in nodes}
        for u, _ in es:
            out[u] += 1
        r = {u: 1.0 / n for u in nodes}
        for _ in range(iters):
            dangling = sum(r[u] for u in nodes if out[u] == 0)
            nxt = {
                u: (1.0 - damping) / n + damping * dangling / n for u in nodes
            }
            for u, v in es:
                nxt[v] += damping * r[u] / out[u]
            r = nxt
        return r

    for directed in (False, True):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(pairs, iters=8, directed=directed).collect()
        }
        want = ref_pagerank(edges, 0.85, 8, directed)
        assert set(got) == set(want)
        for u in want:
            assert abs(got[u] - want[u]) < 1e-9, (directed, u)
        assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaf(spark):
    from flyq_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [(i, 100) for i in range(1, 8)], "id_a long, id_b long"
    )
    r = {x["node"]: x["rank"] for x in pagerank(star, iters=6).collect()}
    assert r[100] > max(r[i] for i in range(1, 8))


def test_hashed_linear_score_matches_python_reference(spark):
    """Score equals an independent Python md5 replay (bucket + weight
    arithmetic), is partitioning-invariant, and counts unigrams +
    adjacent bigrams exactly once per occurrence."""
    import hashlib

    from flyq_spark.operators.text import hashed_linear_score

    docs = [
        (1, "spark shuffles data across the cluster"),
        (2, "spark  shuffles data"),  # double space: split artifact guard
        (3, "one"),
        (4, "the the the the"),
    ]

    def ref_score(text, dim=4096, seed="flyq-quality-v1"):
        words = [w for w in text.lower().split() if w]
        feats = words + [
            f"{a} {b}" for a, b in zip(words, words[1:])
        ]
        s = 0
        for f in feats:
            b = int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % 4096
            w = (
                int(
                    hashlib.md5(f"{seed}:{b}".encode()).hexdigest()[:8], 16
                )
                % 2001
                - 1000
            )
            s += w
        return len(feats), s

    for parts in (1, 7):
        df = spark.createDataFrame(docs, "doc_id long, text string").repartition(
            parts
        )
        got = {
            r["doc_id"]: (r["n_features"], r["score"])
            for r in hashed_linear_score(df).collect()
        }
        for i, text in docs:
            assert got[i] == ref_score(text), (parts, i)


def test_salient_terms_ranking_and_ties(spark):
    """tf DESC then df ASC then term ASC; min_tf prunes singletons;
    rank is dense 1..k per doc."""
    from flyq_spark.operators.text import salient_terms

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta beta gamma"),     # alpha/beta tf=2
            (2, "beta beta beta zeta zeta"),        # beta tf=3 but df=2
            (3, "zeta zeta alpha"),
        ],
        "doc_id long, text string",
    )
    rows = salient_terms(docs, k=2, min_tf=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["rank"], r["term"], r["tf"], r["df"])
        )
    for d in by_doc:
        by_doc[d].sort()
    # doc 1: alpha and beta both tf=2; df(alpha)=2 == df(beta)=2 -> term ASC
    assert [t[1] for t in by_doc[1]] == ["alpha", "beta"]
    # doc 2: beta tf=3 ranks first despite df=2; zeta tf=2 second
    assert [t[1] for t in by_doc[2]] == ["beta", "zeta"]
    # doc 3: only zeta has tf>=2 -> single row
    assert [t[1] for t in by_doc[3]] == ["zeta"]
    assert all(t[0] in (1, 2) for d in by_doc for t in by_doc[d])


def test_perceptual_hash_locality_and_neardup(spark):
    """Identical payloads share a phash (hamming 0); a small byte edit
    moves few bits (near pair); random unrelated payloads don't pair.
    The hash is deterministic through the Arrow batch path."""
    from flyq_spark.operators.dedup import banded_hamming_pairs
    from flyq_spark.operators.multimodal import attach_media, perceptual_hash

    base = bytes(range(256)) * 8
    edited = bytearray(base)
    for i in range(0, 24):
        edited[i] = 255 - edited[i]  # local corruption, most bytes intact
    unrelated = bytes((i * 37 + 11) % 251 for i in range(2048))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, bytes(edited)), (4, unrelated)],
        "media_id long, blob binary",
    )
    media = attach_media(df, "blob", kind="image")
    hashes = perceptual_hash(media)
    hx = {
        r["content_id"]: r["phash"]
        for r in hashes.join(
            media.select("media_id", "content_id"), "content_id"
        ).collect()
    }
    assert len(hx) == 3  # 1 and 2 share a content_id
    # determinism across two runs
    hx2 = {r["content_id"]: r["phash"] for r in perceptual_hash(media).collect()}
    assert hx == hx2

    cid = {
        r["media_id"]: r["content_id"]
        for r in media.select("media_id", "content_id").collect()
    }
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            hashes, "content_id", "phash", 64, 8, 8
        ).collect()
    }
    near = tuple(sorted((cid[1], cid[3])))
    assert near in pairs and pairs[near] <= 8
    assert all(cid[4] not in p for p in pairs)


def test_phash_bands_catch_all_pairs_under_pigeonhole(spark):
    """With bands=8 every pair at hamming < 8 MUST be found (pigeonhole:
    7 differing bits cannot touch all 8 bands)."""
    from flyq_spark.operators.dedup import banded_hamming_pairs

    h = 0x0123456789ABCDEF
    flipped = h ^ 0b1011011  # 5 bits, all inside the low band
    spread = h ^ ((1 << 0) | (1 << 9) | (1 << 18) | (1 << 27) | (1 << 36))
    df = spark.createDataFrame(
        [("a", h), ("b", flipped), ("c", spread)],
        "content_id string, phash long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            df, "content_id", "phash", 64, 8, 7
        ).collect()
    }
    assert got[("a", "b")] == 5
    assert got[("a", "c")] == 5  # 5 bits across 5 bands: 3 bands still clean


def test_chunk_documents_boundaries_and_overlap(spark):
    """Chunks stride by chunk_tokens - overlap, consecutive chunks share
    exactly `overlap` tokens, every token appears, short docs yield one
    chunk of themselves, and a doc at an exact stride boundary doesn't
    emit a phantom empty chunk."""
    from flyq_spark.operators.corpus import chunk_documents

    mk = lambda n: " ".join(f"w{i}" for i in range(1, n + 1))
    docs = spark.createDataFrame(
        [(1, mk(10)), (2, mk(3)), (3, mk(4)), (4, mk(9))],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            r["chunk_text"].split(),
            r["n_tokens"],
        )
    # doc 1: 10 tokens, stride 2 -> chunks at 1,3,5,7 (4 toks each)
    assert len(by_doc[1]) == 4
    assert by_doc[1][0][0] == ["w1", "w2", "w3", "w4"]
    assert by_doc[1][1][0] == ["w3", "w4", "w5", "w6"]
    assert by_doc[1][3][0] == ["w7", "w8", "w9", "w10"]
    # short doc: single chunk of itself
    assert by_doc[2] == {0: (["w1", "w2", "w3"], 3)}
    # exact-size doc: exactly one chunk
    assert by_doc[3] == {0: (["w1", "w2", "w3", "w4"], 4)}
    # doc 4 (9 toks): last chunk is the short remainder w7 w8 w9
    assert by_doc[4][3 - 1 + 1][0] == ["w7", "w8", "w9"] if (3) in by_doc[4] else True
    last = by_doc[4][max(by_doc[4])]
    assert last[0][-1] == "w9"
    # coverage: every token of every doc appears in some chunk
    for d, n in ((1, 10), (2, 3), (3, 4), (4, 9)):
        seen = set()
        for chunk, _ in by_doc[d].values():
            seen.update(chunk)
        assert seen == {f"w{i}" for i in range(1, n + 1)}, d
    # n_tokens column matches the actual chunk text
    for d in by_doc:
        for chunk, n in by_doc[d].values():
            assert len(chunk) == n


def test_winnowing_matches_python_reference(spark):
    """Selected fingerprint set equals a direct Python implementation of
    robust winnowing (min per window, rightmost tie-break) using the
    same md5-derived 36-bit hashes; repeated text produces ties that
    exercise the tie-break; guarantee: every window has a selection."""
    import hashlib

    from flyq_spark.operators.corpus import winnowing_fingerprints

    texts = {
        1: "a b c d e f g h i j k l",
        2: "x y x y x y x y x y",  # heavy ties
        3: "p q r s t",  # exactly one complete window at k=5? -> pos space small
    }
    k, w = 3, 4

    def ref(text):
        words = text.split(" ")
        hs = []
        for i in range(len(words) - k + 1):
            g = " ".join(words[i : i + k])
            hs.append(int(hashlib.md5(g.encode()).hexdigest()[:9], 16))
        out = set()
        for t in range(w - 1, len(hs)):  # windows of w ending at t
            win = hs[t - w + 1 : t + 1]
            m = min(win)
            # rightmost occurrence of the min
            off = max(i for i, h in enumerate(win) if h == m)
            out.add((t - w + 1 + off + 1, m))  # 1-based k-gram pos
        return out

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {}
    for r in winnowing_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["gram_hash"]))
    for i, t in texts.items():
        want = ref(t)
        if not want:
            assert i not in got
        else:
            assert got[i] == want, i


def test_domain_affinity_profile_and_hits(spark):
    """Docs made of target-domain vocabulary score full hits; unrelated
    vocabulary scores zero; the profile is capped at top_buckets by
    (count DESC, bucket ASC)."""
    from flyq_spark.operators.text import domain_affinity

    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta alpha")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),        # all in-domain
            (2, "delta epsilon zeta eta"),  # all out
            (3, "alpha delta"),             # half
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_target_hits"])
        for r in domain_affinity(corpus, target).collect()
    }
    assert got[1] == (3, 3)
    assert got[2] == (4, 0)
    assert got[3] == (2, 1)
    # top_buckets=1 keeps only the highest-occupancy bucket (alpha's)
    got1 = {
        r["doc_id"]: r["n_target_hits"]
        for r in domain_affinity(corpus, target, top_buckets=1).collect()
    }
    assert got1[1] == 2 and got1[3] == 1 and got1[2] == 0


def test_interval_overlap_pairs_equals_naive(spark):
    """Both regimes (keyed equi-join, keyless bucket-replicate) produce
    exactly the naive O(n^2) inequality-join pair set — including
    touching intervals (overlap 0), nested intervals, and intervals
    spanning many buckets."""
    import itertools

    from flyq_spark.operators.rangejoin import interval_overlap_pairs

    rows = [
        # (id, start, end, key)
        (1, 0, 10, "a"),
        (2, 5, 7, "a"),     # nested in 1
        (3, 10, 20, "a"),   # touches 1 at 10
        (4, 21, 30, "a"),   # disjoint from 3
        (5, 0, 100, "b"),   # long interval, many buckets
        (6, 99, 99, "b"),   # point interval at the far end of 5
        (7, 101, 110, "b"),
    ]

    def naive(same_key):
        out = {}
        for (i1, s1, e1, k1), (i2, s2, e2, k2) in itertools.combinations(rows, 2):
            if same_key and k1 != k2:
                continue
            ov = min(e1, e2) - max(s1, s2)
            if ov >= 0:
                out[(min(i1, i2), max(i1, i2))] = ov
        return out

    df = spark.createDataFrame(rows, "iid long, s long, e long, k string")
    keyed = {
        (r["id_a"], r["id_b"]): r["overlap"]
        for r in interval_overlap_pairs(df, "iid", "s", "e", key_col="k").collect()
    }
    assert keyed == naive(same_key=True)
    for width in (3, 8, 64):
        bucketed = {
            (r["id_a"], r["id_b"]): r["overlap"]
            for r in interval_overlap_pairs(
                df, "iid", "s", "e", bucket_width=width
            ).collect()
        }
        assert bucketed == naive(same_key=False), width


def test_interval_overlap_pairs_rejects_bad_args(spark):
    import pytest as _pt

    from flyq_spark.operators.rangejoin import interval_overlap_pairs

    df = spark.createDataFrame([(1, 0, 1)], "iid long, s long, e long")
    with _pt.raises(ValueError):
        interval_overlap_pairs(df, "iid", "s", "e")
    with _pt.raises(ValueError):
        interval_overlap_pairs(df, "iid", "s", "e", key_col="k", bucket_width=5)


def test_pipeline_example_end_to_end(spark):
    """The examples/pipeline.py composition runs at sf0.001 and its
    invariants hold: the packed corpus is nonempty and smaller than or
    equal to the post-upsample doc count in chunks, every corpus row
    carries a pack assignment, the audits cover the deduped set, and
    the whole build is deterministic across two runs."""
    import sys

    sys.path.insert(0, "/root/repo/examples")
    from pipeline import build_training_corpus

    stages = build_training_corpus(spark, "/root/testdata/sf0.001")
    corpus = stages["corpus"].select("doc_id", "shard", "pack_id").collect()
    assert corpus, "empty corpus"
    assert all(r["pack_id"] >= 0 for r in corpus)
    from pyspark.sql import functions as _F

    # span excision can empty a document; affinity scores every doc
    # that still has at least one token
    n_nonempty = stages["deduped"].where(
        _F.length(_F.trim(_F.col("text"))) > 0
    ).count()
    assert stages["affinity"].count() == n_nonempty
    assert stages["contamination"].count() > 0
    assert stages["cls_scores"].count() > 0
    assert len(stages["bpe_merges"]) == 50
    # the release sign-off covers all three splits and its doc counts
    # sum to the deduped set
    signoff = {r["split"]: r for r in stages["signoff"].collect()}
    assert set(signoff) == {"train", "val", "test"}
    assert (
        sum(r["n_docs"] for r in signoff.values())
        == stages["deduped"].count()
    )
    # packed rows carry the within-pack token start, bounded by budget
    offs = stages["corpus"].select("tok_start").collect()
    assert all(0 <= r["tok_start"] < 2048 for r in offs)
    # determinism: the corpus assignment is a pure function of input
    again = build_training_corpus(spark, "/root/testdata/sf0.001")
    a = sorted((r["doc_id"], r["shard"], r["pack_id"]) for r in corpus)
    b = sorted(
        (r["doc_id"], r["shard"], r["pack_id"])
        for r in again["corpus"].select("doc_id", "shard", "pack_id").collect()
    )
    assert a == b
    # the ship-integrity digest covers every corpus row and is itself
    # deterministic (the stronger form of the assignment check above:
    # it also pins the packed text bytes)
    dg = sorted(tuple(r) for r in stages["corpus_digest"].collect())
    assert sum(r[1] for r in dg) == len(corpus)
    dg2 = sorted(tuple(r) for r in again["corpus_digest"].collect())
    assert dg == dg2


def test_source_overlap_matrix_accuracy_and_stability(spark):
    """Overlap estimates land within HLL tolerance of exact distinct
    shingle overlaps when sources share literal content, disjoint
    sources estimate ~0 overlap, and estimates are stable across
    partitionings up to sketch merge-order noise."""
    import random

    from flyq_spark.operators.sketch import source_overlap_matrix

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(400)]

    rows = []
    a_texts = []
    for i in range(40):
        t = " ".join(rng.sample(vocab, 20))
        a_texts.append(t)
        rows.append((i, t, "A"))
    for i in range(40):
        # B shares half its DOCUMENTS with A (literal text reuse ->
        # literal shingle overlap), half fresh
        t = a_texts[i] if i < 20 else " ".join(rng.sample(vocab, 20))
        rows.append((100 + i, t, "B"))
    for i in range(40):
        rows.append((200 + i, " ".join(f"z{j}_{i}" for j in range(20)), "C"))

    out = {}
    for parts in (2, 16):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).repartition(parts)
        out[parts] = {
            (r["group_a"], r["group_b"]): (
                r["est_a"], r["est_b"], r["est_union"], r["est_overlap"]
            )
            for r in source_overlap_matrix(df, shingle_n=3).collect()
        }
    assert set(out[2]) == {("A", "B"), ("A", "C"), ("B", "C")}
    # merge-order wobble is a few counts, never percents
    for pair in out[2]:
        for x, y in zip(out[2][pair], out[16][pair]):
            assert abs(x - y) <= max(0.02 * max(abs(x), abs(y)), 8), (pair, x, y)

    def shingles(text, n=3):
        w = text.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {"A": set(), "B": set(), "C": set()}
    for _id, text, src_ in rows:
        sets[src_] |= shingles(text)
    exact_ab = len(sets["A"] & sets["B"])
    got = out[2]
    assert exact_ab > 300  # half of B is literally A's docs
    ea, eb, eu, ov = got[("A", "B")]
    assert abs(ov - exact_ab) <= 0.15 * exact_ab, (ov, exact_ab)
    # disjoint pairs: estimate within sketch noise of zero
    for pair in (("A", "C"), ("B", "C")):
        ea, eb, eu, ov = got[pair]
        assert abs(ov) <= 0.05 * max(ea, eb), (pair, ov)


def test_dedup_against_semantics(spark):
    """A new doc near-dupping the corpus is dropped; novel and
    too-short docs pass; corpus docs are never compared to each other
    (corpus self-dups don't affect the outcome)."""
    from flyq_spark.operators.dedup import dedup_against

    base = (
        "spark shuffles data across the cluster by key so joins "
        "colocate matching rows before the merge step runs"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base)],  # corpus contains its own dup — irrelevant
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base.replace("merge", "combine")),  # near-dup of corpus
            (11, "genuinely novel text with nothing shared at all here"),
            (12, "hi"),  # too short to shingle
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in dedup_against(new, corpus).collect()}
    assert got == {11, 12}


def test_sample_k_per_group_deterministic_exact_k(spark):
    from flyq_spark.operators.corpus import sample_k_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    for parts in (1, 8):
        got = {}
        for r in sample_k_per_group(
            df.repartition(parts), ("source",), k=5
        ).collect():
            got.setdefault(r["source"], []).append(
                (r["sample_rank"], r["doc_id"])
            )
        assert set(got) == {"s0", "s1", "s2"}
        for s in got:
            assert sorted(r for r, _ in got[s]) == [1, 2, 3, 4, 5]
        if parts == 1:
            first = got
    assert got == first  # partitioning-invariant
    # a group smaller than k yields all its rows
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, source string")
    assert sample_k_per_group(small, ("source",), k=5).count() == 2


def test_neardup_exact_pairs_invariant_under_block_adaptation(spark, emb):
    """The exact pair set must not depend on execution granularity:
    forcing the adaptive path (tiny max_block_rows) and pinning a large
    n_blocks both produce the default configuration's pairs."""
    from flyq_spark.operators.similarity import neardup_pairs_exact

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], round(r["score"], 9))
            for r in neardup_pairs_exact(emb, min_cosine=0.4, **kw).collect()
        )

    base = pairs()
    assert base == pairs(max_block_rows=5)     # forces n_blocks -> n_pivots
    assert base == pairs(n_blocks=64)
    assert len(base) > 0


def test_lsh_parameter_sweep_monotone_recall(spark, docs):
    """More bands (shorter bands) => candidate set grows and recall is
    non-decreasing; recall is exact pair arithmetic (n_found <=
    n_candidates, n_found <= n_true_pairs); the report is a pure
    function of the corpus (two runs identical)."""
    from flyq_spark.operators.dedup import lsh_parameter_sweep

    def run():
        return {
            (r["k"], r["bands"]): (
                r["n_true_pairs"], r["n_candidates"], r["n_found"], r["recall"]
            )
            for r in lsh_parameter_sweep(
                docs, configs=((32, 4), (32, 8), (32, 16)), sample_size=50
            ).collect()
        }

    rep = run()
    assert rep == run()  # deterministic
    assert set(rep) == {(32, 4), (32, 8), (32, 16)}
    prev_cand = prev_rec = -1
    for bands in (4, 8, 16):
        true_n, cand, found, rec = rep[(32, bands)]
        assert found <= cand and found <= true_n
        assert 0.0 <= rec <= 1.0
        assert cand >= prev_cand and rec >= prev_rec  # s-curve monotonicity
        prev_cand, prev_rec = cand, rec
    assert rep[(32, 16)][3] > 0  # sensitive config finds something


def test_ivf_parameter_sweep_monotone_recall(spark, emb):
    """Probed cell sets nest, and a true top-k neighbor present in any
    candidate pool is in that pool's top-k — so n_found and recall are
    non-decreasing in nprobe, exactly. Report is deterministic."""
    from flyq_spark.operators.similarity import ivf_parameter_sweep

    def run():
        return {
            r["nprobe"]: (r["n_truth"], r["n_found"], r["recall"])
            for r in ivf_parameter_sweep(
                emb, nprobes=(1, 2, 4), n_queries=20, k=3, n_pivots=16
            ).collect()
        }

    rep = run()
    assert rep == run()
    prev = -1
    for nprobe in (1, 2, 4):
        n_truth, n_found, rec = rep[nprobe]
        assert n_truth == 20 * 3
        assert 0 <= n_found <= n_truth
        assert n_found >= prev
        prev = n_found
    assert rep[4][2] > rep[1][2] or rep[1][2] == 1.0


def test_connected_components_string_ids(spark):
    """Non-integral node ids must work (the decimal-sum convergence
    probe is integral-only; string ids use the exact changed-label
    probe): a chain of string ids converges to the lexicographic min."""
    from flyq_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                   "x": "x", "y": "x"}


def _make_png(pixels, color_type=2, bit_depth=8, filters=None, interlace=0,
              palette=None):
    """Reference PNG encoder (struct+zlib) with per-row filter choice —
    forward-filters scanlines so the decoder must invert all 5 filter
    types. `pixels`: h x w x nch nested lists of ints."""
    import struct
    import zlib

    h = len(pixels)
    w = len(pixels[0])
    nch = len(pixels[0][0])
    bps = bit_depth // 8
    bpp = nch * bps

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def sample_bytes(v):
        return v.to_bytes(bps, "big")

    rows = []
    for y in range(h):
        raw = b"".join(
            sample_bytes(c) for x in range(w) for c in pixels[y][x]
        )
        rows.append(raw)
    filters = filters or [0] * h
    out = b""
    prev = bytes(len(rows[0]))
    for y, raw in enumerate(rows):
        f = filters[y]
        line = bytearray(raw)
        if f == 1:
            for x in range(len(line) - 1, -1, -1):
                a = raw[x - bpp] if x >= bpp else 0
                line[x] = (raw[x] - a) & 0xFF
        elif f == 2:
            for x in range(len(line)):
                line[x] = (raw[x] - prev[x]) & 0xFF
        elif f == 3:
            for x in range(len(line)):
                a = raw[x - bpp] if x >= bpp else 0
                line[x] = (raw[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:
            for x in range(len(line)):
                a = raw[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (raw[x] - pr) & 0xFF
        out += bytes([f]) + bytes(line)
        prev = raw
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", bytes(c for rgb in palette for c in rgb))
    png += chunk(b"IDAT", zlib.compress(out)) + chunk(b"IEND", b"")
    return png


def test_png_decoder_all_filters_and_color_types():
    """The stdlib-zlib PNG decoder inverts all five scanline filters
    bit-exactly (differential vs a reference encoder over a seeded
    image), handles gray/RGB/palette/alpha/16-bit, agrees with the
    netpbm decoder on identical pixels, and rejects Adam7."""
    import hashlib

    import numpy as np

    from flyq_spark.operators.multimodal import (
        _try_decode_netpbm,
        _try_decode_png,
    )

    rng = [
        int(hashlib.md5(f"px{i}".encode()).hexdigest()[:2], 16)
        for i in range(9 * 11 * 3)
    ]
    w, h = 11, 9
    rgb = [
        [[rng[(y * w + x) * 3 + c] for c in range(3)] for x in range(w)]
        for y in range(h)
    ]
    want = np.array(
        [[r * 0.299 + g * 0.587 + b * 0.114 for (r, g, b) in row] for row in rgb]
    )
    # every filter type exercised, incl. consecutive Paeth rows
    png = _make_png(rgb, filters=[0, 1, 2, 3, 4, 4, 3, 2, 1])
    got = _try_decode_png(png)
    assert got is not None and np.allclose(got, want, atol=1e-9)

    # parity with the netpbm decoder on the same pixels
    ppm = f"P6\n{w} {h}\n255\n".encode() + bytes(
        c for row in rgb for px in row for c in px
    )
    assert np.allclose(_try_decode_netpbm(ppm), got, atol=1e-9)

    # grayscale, gray+alpha (luma = gray channel), RGBA, palette, 16-bit
    gray = [[[v[0]] for v in row] for row in rgb]
    assert np.allclose(
        _try_decode_png(_make_png(gray, color_type=0, filters=[4] * h)),
        np.array([[v[0] for v in row] for row in gray]),
    )
    ga = [[[v[0], 128] for v in row] for row in rgb]
    assert np.allclose(
        _try_decode_png(_make_png(ga, color_type=4, filters=[3] * h)),
        np.array([[v[0] for v in row] for row in ga]),
    )
    rgba = [[px + [200] for px in row] for row in rgb]
    assert np.allclose(
        _try_decode_png(_make_png(rgba, color_type=6, filters=[1] * h)), want
    )
    pal = [(i, 255 - i, i // 2) for i in range(256)]
    idx = [[[rng[y * w + x]] for x in range(w)] for y in range(h)]
    want_pal = np.array(
        [
            [
                pal[i[0]][0] * 0.299 + pal[i[0]][1] * 0.587 + pal[i[0]][2] * 0.114
                for i in row
            ]
            for row in idx
        ]
    )
    assert np.allclose(
        _try_decode_png(_make_png(idx, color_type=3, palette=pal, filters=[2] * h)),
        want_pal,
    )
    deep = [[[v * 257 for v in px] for px in row] for row in rgb]
    got16 = _try_decode_png(_make_png(deep, bit_depth=16, filters=[4] * h))
    assert np.allclose(got16, want, atol=1e-9)  # 257/65535 == 1/255 exactly

    # Adam7 and truncated payloads reject cleanly (stub fallback)
    assert _try_decode_png(_make_png(rgb, interlace=1)) is None
    assert _try_decode_png(png[:40]) is None
    assert _try_decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20) is None


def test_png_through_arrow_and_phash(spark):
    """A PNG payload flows through the SAME Arrow feature/phash path as
    netpbm — identical pixels, identical perceptual hash."""
    from flyq_spark.operators.multimodal import (
        attach_media,
        extract_features,
        perceptual_hash,
    )

    w, h = 16, 9
    rgb = [[[x * 15, x * 15, x * 15] for x in range(w)] for y in range(h)]
    png = _make_png(rgb, filters=[4] * h)
    ppm = f"P6\n{w} {h}\n255\n".encode() + bytes(
        c for row in rgb for px in row for c in px
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(ppm))], "id long, blob binary"
    )
    media = attach_media(df, "blob", kind="image")
    feats = {r["id"]: r for r in extract_features(media).join(
        media.select("id", "content_id"), "content_id").collect()}
    assert feats[1]["width"] == w and feats[1]["height"] == h
    assert feats[1]["feature"] == feats[2]["feature"]
    hashes = [
        r["phash"]
        for r in perceptual_hash(media.select("content_id", "payload").distinct()).collect()
    ]
    assert len(set(hashes)) == 1  # same pixels -> same dHash


def test_cooccurrence_and_seasonal_naive(spark):
    """Basket pairs: distinct-first (repeats don't inflate), pair
    ordering, degenerate-basket exclusion. Seasonal naive: lag-season
    prediction over a dense series, NULL-safe scoring."""
    import pytest as _pytest

    from flyq_spark.operators.sessions import cooccurrence_pairs
    from flyq_spark.operators.timeseries import seasonal_naive_backtest

    ev = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"), (3, "a")],
        "u long, item string",
    )
    got = {
        (r["item_a"], r["item_b"]): (r["n_baskets"], r["support_a"], r["support_b"])
        for r in cooccurrence_pairs(ev, "u", "item").collect()
    }
    assert got == {
        ("a", "b"): (2, 3, 2),
        ("a", "c"): (1, 3, 1),
        ("b", "c"): (1, 2, 1),
    }
    # basket 2 (3 distinct items) excluded at cap 2: only pair from basket 1
    capped = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(ev, "u", "item", max_items_per_basket=2).collect()
    }
    assert capped == {("a", "b"): 1}
    with _pytest.raises(ValueError):
        cooccurrence_pairs(ev, "u", "item", min_baskets=0)

    series = spark.createDataFrame(
        [("k", b, v) for b, v in enumerate([10, 12, 14, 16, 13, None, 20])],
        "g string, b long, v long",
    )
    r = seasonal_naive_backtest(series, ("g",), "b", "v", 2).collect()[0]
    # preds: rows 2..6 see rows 0..4 -> errs |14-10|,|16-12|,|13-14|,
    # (None-16 skipped), |20-13| = 4+4+1+7
    assert (r["n_scored"], r["sum_abs_err"]) == (4, 16)
    with _pytest.raises(ValueError):
        seasonal_naive_backtest(series, ("g",), "b", "v", 0)


def _make_gif(idx_rows, palette, interlace=False, leading_extension=False):
    """Reference GIF89a encoder: real greedy LZW (dict growth, clear
    code, EOI) with decoder-simulated code widths, optional interlaced
    storage order and a leading extension block."""
    import struct

    h, w = len(idx_rows), len(idx_rows[0])
    ncol = len(palette)
    gct_bits = ncol.bit_length() - 1
    assert ncol == 1 << gct_bits and ncol >= 4
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    out += bytes(c for rgb in palette for c in rgb)
    if leading_extension:
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext
    iflags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    mcs = max(2, gct_bits)
    out += bytes([mcs])
    rows = idx_rows
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = [idx_rows[r] for r in order]
    pixels = [p for row in rows for p in row]
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    # greedy LZW
    codes = [clear]
    dict_ = {bytes([i]): i for i in range(clear)}
    next_code = clear + 2
    cur = b""
    for p in pixels:
        nxt = cur + bytes([p])
        if nxt in dict_:
            cur = nxt
        else:
            codes.append(dict_[cur])
            if next_code < 4096:
                dict_[nxt] = next_code
                next_code += 1
                if next_code == 4096:
                    # dict full: emit CLEAR and restart (the standard
                    # encoder policy; exercises the decoder's reset)
                    codes.append(clear)
                    dict_ = {bytes([i]): i for i in range(clear)}
                    next_code = clear + 2
            cur = bytes([p])
    if cur:
        codes.append(dict_[cur])
    codes.append(eoi)
    # widths by decoder simulation (mirror of _try_decode_gif's growth)
    widths, csize, size, prev = [], mcs + 1, clear + 2, False
    for code in codes:
        widths.append(csize)
        if code == clear:
            csize, size, prev = mcs + 1, clear + 2, False
            continue
        if code == eoi:
            continue
        if prev:
            size += 1
            if size == (1 << csize) and csize < 12:
                csize += 1
        prev = True
    acc = bits = 0
    stream = bytearray()
    for code, width in zip(codes, widths):
        acc |= code << bits
        bits += width
        while bits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        stream.append(acc & 0xFF)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + bytes(chunk)
    return out + b"\x00\x3b"


def test_gif_decoder_lzw_and_interlace():
    """Full LZW round-trip vs the reference encoder (dict growth across
    width boundaries, KwKwK case via repetitive data), interlace row
    reorder, leading extension blocks, netpbm luma parity, and garbage
    rejection."""
    import hashlib

    import numpy as np

    from flyq_spark.operators.multimodal import (
        _try_decode_gif,
        _try_decode_netpbm,
    )

    pal = [(i, 255 - i, (i * 3) % 256) for i in range(256)]
    w, h = 23, 17
    # repetitive + pseudorandom mix: exercises KwKwK and dict growth
    idx = [
        [
            (x % 4 if (x + y) % 3 else int(
                hashlib.md5(f"{x},{y}".encode()).hexdigest()[:2], 16
            ))
            for x in range(w)
        ]
        for y in range(h)
    ]
    want = np.array(
        [
            [
                pal[i][0] * 0.299 + pal[i][1] * 0.587 + pal[i][2] * 0.114
                for i in row
            ]
            for row in idx
        ]
    )
    for inter in (False, True):
        got = _try_decode_gif(
            _make_gif(idx, pal, interlace=inter, leading_extension=True)
        )
        assert got is not None and np.allclose(got, want, atol=1e-9), inter

    # luma parity with netpbm on the same pixels
    ppm = f"P6\n{w} {h}\n255\n".encode() + bytes(
        c for row in idx for i in row for c in pal[i]
    )
    assert np.allclose(_try_decode_netpbm(ppm), want, atol=1e-9)

    # large random image: crosses the 4096-code dictionary boundary, so
    # the encoder emits mid-stream CLEAR codes and the decoder's reset
    # path (and 12-bit width cap) is exercised for real
    big = [
        [
            int(hashlib.md5(f"big{x},{y}".encode()).hexdigest()[:2], 16)
            for x in range(150)
        ]
        for y in range(150)
    ]
    want_big = np.array(
        [
            [
                pal[i][0] * 0.299 + pal[i][1] * 0.587 + pal[i][2] * 0.114
                for i in row
            ]
            for row in big
        ]
    )
    got_big = _try_decode_gif(_make_gif(big, pal))
    assert got_big is not None and np.allclose(got_big, want_big, atol=1e-9)

    # adversarial: garbage after magic; truncations never raise — a cut
    # after the last pixel legitimately still decodes (only the trailer
    # is missing), so assert clean rejection OR a correctly-shaped image
    assert _try_decode_gif(b"GIF89a" + b"\x01" * 20) is None
    full = _make_gif(idx, pal)
    for cut in range(0, len(full), 7):
        r = _try_decode_gif(full[:cut])
        assert r is None or r.shape == (h, w)


def test_boilerplate_removal_randomized_vs_python_model(spark):
    """Seeded random corpora (small alphabet → dense cross-doc repeats,
    empty units, NULL texts) against a pure-Python distinct-doc-count
    model at several thresholds, plus idempotence: a second pass over
    the rebuilt output removes nothing (every surviving unit's doc
    count only shrank)."""
    import random
    from collections import defaultdict

    from flyq_spark.operators.dedup import boilerplate_removal

    rng = random.Random(13)
    words = ["aa", "bb", "cc"]
    docs = []
    for doc_id in range(30):
        if rng.random() < 0.1:
            docs.append((doc_id, None))
            continue
        paras = [
            " ".join(rng.choices(words, k=rng.randrange(0, 3)))
            for _ in range(rng.randrange(1, 5))
        ]
        docs.append((doc_id, "\n".join(paras)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for min_docs in (2, 3, 5):
        ndocs = defaultdict(set)
        for doc_id, text in docs:
            if text is None:
                continue
            for u in text.split("\n"):
                ndocs[u].add(doc_id)
        bp = {u for u, ids in ndocs.items() if len(ids) >= min_docs}
        model = {}
        for doc_id, text in docs:
            if text is None:
                model[doc_id] = (0, 0, None)
                continue
            units = text.split("\n")
            kept = [u for u in units if u not in bp]
            model[doc_id] = (
                len(units), len(kept), "\n".join(kept) if kept else None
            )
        out = boilerplate_removal(df, min_docs=min_docs)
        got = {
            r["doc_id"]: (r["n_units"], r["n_kept"], r["text"])
            for r in out.collect()
        }
        assert got == model, f"min_docs={min_docs}"
        # idempotence on the rebuilt survivors
        again = boilerplate_removal(
            out.where(F.col("text").isNotNull()).select("doc_id", "text"),
            min_docs=min_docs,
        )
        assert all(
            r["n_units"] == r["n_kept"] for r in again.collect()
        ), f"second pass removed units at min_docs={min_docs}"


def test_resample_locf_randomized_vs_python_model(spark):
    """Seeded random sparse series against a pure-Python gap-fill/LOCF
    model: dense grid per key, zero-filled counts, carry-forward
    values, is_observed flags."""
    import random
    from collections import defaultdict

    from flyq_spark.operators.timeseries import resample_locf

    rng = random.Random(99)
    rows = []
    for key in ("a", "b", "c"):
        for _ in range(rng.randrange(3, 12)):
            rows.append((key, rng.randrange(0, 50) * 7 + rng.randrange(7),
                         rng.randrange(-50, 50)))
    df = spark.createDataFrame(rows, "k string, sec long, v long").select(
        "k", F.timestamp_seconds(F.col("sec")).alias("ts"), "v"
    )
    step = 10
    by_bucket = defaultdict(lambda: (0, None))
    for k, sec, v in rows:
        b = (sec // step) * step
        n, mx = by_bucket[(k, b)]
        by_bucket[(k, b)] = (n + 1, v if mx is None else max(mx, v))
    model = {}
    for key in ("a", "b", "c"):
        buckets = [b for (k, b) in by_bucket if k == key]
        lastv = None
        for b in range(min(buckets), max(buckets) + step, step):
            n, mx = by_bucket.get((key, b), (0, None))
            if mx is not None:
                lastv = mx
            model[(key, b)] = (n, lastv, (key, b) in by_bucket)
    out = resample_locf(
        df, ("k",), "ts", step,
        {"n": F.count(F.lit(1)), "v_max": F.max("v")},
        fill=("v_max",), zero_fill=("n",),
    )
    got = {
        (r["k"], r["bucket_start_s"]): (r["n"], r["v_max"], r["is_observed"])
        for r in out.collect()
    }
    assert got == model


def test_compression_signals_quality_ordering(spark):
    """Repetitive text compresses far below natural text (the signal's
    entire point); NULL text yields NULL signals; empty text has zero
    bytes and no ratio; determinism across two runs."""
    from flyq_spark.operators.text import compression_signals

    df = spark.createDataFrame(
        [
            (1, "ab" * 500),
            (2, "the quick brown fox jumps over the lazy dog by the river"),
            (3, None),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bytes"], r["z_bytes"], r["bpb_milli"])
        for r in compression_signals(df).collect()
    }
    assert got[1][0] == 1000 and got[1][2] < 1000       # repetitive: < 1 bit/byte
    assert got[2][2] > 4000                             # natural text
    assert got[3] == (None, None, None)
    assert got[4][0] == 0 and got[4][2] is None
    again = {
        r["doc_id"]: (r["n_bytes"], r["z_bytes"], r["bpb_milli"])
        for r in compression_signals(df).collect()
    }
    assert got == again


def test_unify_schemas_and_k_anonymity(spark):
    """Widening ladder (int+long→bigint, int+double→double), missing
    columns fill NULL, non-widening mismatch raises with both types
    named; k-anonymity flags only sub-k classes and counts NULL as a
    linkable class of its own."""
    import pytest as _pytest

    from flyq_spark.io import unify_schemas
    from flyq_spark.operators.profile import k_anonymity_check

    a = spark.createDataFrame([(1, 10)], "id int, v int")
    b = spark.createDataFrame([(2, 3.5, "x")], "id long, v double, note string")
    out = unify_schemas([a, b])
    assert out.schema.simpleString() == "struct<id:bigint,v:double,note:string>"
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 10.0, None),
        (2, 3.5, "x"),
    ]
    with _pytest.raises(ValueError, match="id.*int.*string"):
        unify_schemas([a, spark.createDataFrame([("s",)], "id string")])
    # bigint+double is NOT a lossless widening (2^53): must raise
    with _pytest.raises(ValueError, match="bigint.*double|does not fit"):
        unify_schemas(
            [
                spark.createDataFrame([(1,)], "x long"),
                spark.createDataFrame([(1.5,)], "x double"),
            ]
        )
    with _pytest.raises(ValueError):
        unify_schemas([])

    df = spark.createDataFrame(
        [("z1", "m")] * 5 + [("z1", "f")] * 2 + [(None, "m")],
        "zip string, sex string",
    )
    got = {
        (r["zip"], r["sex"]): r["n"]
        for r in k_anonymity_check(df, ("zip", "sex"), k=5).collect()
    }
    assert got == {("z1", "f"): 2, (None, "m"): 1}
    with _pytest.raises(ValueError):
        k_anonymity_check(df, (), k=5)
    with _pytest.raises(ValueError):
        k_anonymity_check(df, ("zip",), k=1)


def test_series_similarity_topk_exact(spark):
    """SSD over overlapping buckets only; the query key itself ranks
    first with distance 0; below-min_overlap keys drop; ties break by
    key; k limits."""
    import pytest as _pytest

    from flyq_spark.operators.timeseries import series_similarity_topk

    rows = []
    for key, vals in [
        ("q", [10, 20, 30, 40]),
        ("near", [11, 21, 31, 39]),     # ssd 1+1+1+1 = 4
        ("far", [0, 0, 0, 0]),          # ssd 100+400+900+1600 = 3000
        ("sparse", [10, None, None, None]),  # overlap 1 < 2: dropped
        ("tie", [11, 21, 31, 39]),      # same ssd as 'near': key tie-break
    ]:
        rows += [(key, b, v) for b, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, b long, v long")
    query = df.where(F.col("k") == "q").select("b", "v")
    got = [
        (r["k"], r["n_overlap"], r["ssd"])
        for r in series_similarity_topk(
            df, ("k",), "b", "v", query, k=3
        ).collect()
    ]
    assert got == [("q", 4, 0), ("near", 4, 4), ("tie", 4, 4)]
    all4 = series_similarity_topk(df, ("k",), "b", "v", query, k=10).collect()
    assert [r["k"] for r in all4] == ["q", "near", "tie", "far"]  # sparse dropped
    with _pytest.raises(ValueError):
        series_similarity_topk(df, ("k",), "b", "v", query, k=0)


def test_series_dtw_topk_vs_python_model(spark):
    """DTW distances match a pure-Python DP model exactly (integer
    local costs); a time-SHIFTED copy of the query ranks closer under
    DTW than an unrelated series even though aligned SSD would punish
    it; the Sakoe-Chiba band tightens monotonically; a band-infeasible
    or empty series never crashes."""
    import pytest as _pytest

    from flyq_spark.operators.timeseries import series_dtw_topk

    def dtw(a, b, band=None):
        n, m = len(a), len(b)
        big = float("inf")
        w = band if band is not None else max(n, m)
        dp = [[big] * (m + 1) for _ in range(n + 1)]
        dp[0][0] = 0
        for i in range(1, n + 1):
            for j in range(max(1, i - w), min(m, i + w) + 1):
                c = (a[i - 1] - b[j - 1]) ** 2
                dp[i][j] = c + min(dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1])
        return dp[n][m]

    q = [0, 0, 10, 40, 10, 0, 0, 0]
    shifted = [0, 0, 0, 0, 10, 40, 10, 0]   # same pulse, 2 buckets late
    unrelated = [25, 25, 25, 25, 25, 25, 25, 25]
    rows = []
    for key, vals in [("q", q), ("shifted", shifted), ("unrelated", unrelated)]:
        rows += [(key, b, v) for b, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, b long, v long")
    qdf = df.where(F.col("k") == "q").select("b", "v")
    got = {
        r["k"]: r["dtw"]
        for r in series_dtw_topk(df, ("k",), "b", "v", qdf, k=10).collect()
    }
    assert got == {
        "q": dtw(q, q),
        "shifted": dtw(shifted, q),
        "unrelated": dtw(unrelated, q),
    }
    assert got["q"] == 0
    assert got["shifted"] < got["unrelated"]
    # aligned SSD would rank the shifted pulse FAR (pulse misses pulse)
    ssd_shifted = sum((a - b) ** 2 for a, b in zip(shifted, q))
    assert got["shifted"] < ssd_shifted

    banded = {
        r["k"]: r["dtw"]
        for r in series_dtw_topk(df, ("k",), "b", "v", qdf, k=10, band=1).collect()
    }
    assert banded["shifted"] == dtw(shifted, q, band=1)
    assert banded["shifted"] >= got["shifted"]  # tighter band never helps
    with _pytest.raises(ValueError):
        series_dtw_topk(df, ("k",), "b", "v", qdf, k=0)
    with _pytest.raises(ValueError):
        series_dtw_topk(df, ("k",), "b", "v", df.where(F.lit(False)).select("b", "v"))


def test_histogram_quantiles_exact_bins(spark):
    """Quantile bins equal the bin containing ceil(q‰·total): median of
    10 uniform values across two bins; p-millle edge cases; per-key
    partitioning; validation."""
    import pytest as _pytest

    from flyq_spark.operators.profile import histogram_quantiles, value_histogram

    df = spark.createDataFrame(
        [("a", v) for v in range(10)] + [("b", 100)], "k string, v long"
    )
    hist = value_histogram(df, F.col("v"), 5, keys=("k",))
    got = {
        r["k"]: (r["p500_bin"], r["p900_bin"])
        for r in histogram_quantiles(hist, (500, 900), keys=("k",)).collect()
    }
    # a: bins 0 (v 0-4, n=5) and 5 (v 5-9, n=5); rank(p50)=5 -> bin 0,
    # rank(p90)=9 -> bin 5. b: single value -> both in its bin.
    assert got == {"a": (0, 5), "b": (100, 100)}
    with _pytest.raises(ValueError):
        histogram_quantiles(hist, (0,))
    with _pytest.raises(ValueError):
        histogram_quantiles(hist, (1000,))


def _make_tiff(pixels, endian="<", photometric=2, rows_per_strip=None,
               palette=None, planar=None):
    """Reference baseline-TIFF writer: multi-strip, either byte order,
    gray (1)/inverted-gray (0)/RGB (2)/palette (3). Single-pass IFD:
    every external size is known up front, so strip offsets are
    computed before any packing (no rebuild branch to keep in sync)."""
    import struct

    h, w = len(pixels), len(pixels[0])
    spp = 1 if photometric in (0, 1, 3) else len(pixels[0][0])
    rps = rows_per_strip or max(1, h // 3)
    flat = bytearray()
    for row in pixels:
        for pxv in row:
            flat += bytes(pxv if isinstance(pxv, (list, tuple)) else [pxv])
    strips = [
        bytes(flat[y0 * w * spp : (y0 + min(rps, h - y0)) * w * spp])
        for y0 in range(0, h, rps)
    ]
    strip_counts = [len(st) for st in strips]

    tags = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [8] * spp),
        (259, 3, [1]), (262, 3, [photometric]), (277, 3, [spp]),
        (278, 4, [rps]),
        (273, 4, None),            # strip offsets, resolved below
        (279, 4, strip_counts),
    ]
    if planar is not None:
        tags.append((284, 3, [planar]))
    if palette:
        cmap = (
            [c[0] * 257 for c in palette]
            + [c[1] * 257 for c in palette]
            + [c[2] * 257 for c in palette]
        )
        tags.append((320, 3, cmap))
    tags.sort(key=lambda t: t[0])

    tsize = {1: 1, 3: 2, 4: 4}
    ifd_off = 8
    ext_base = ifd_off + 2 + 12 * len(tags) + 4
    # lay out external area deterministically BEFORE packing
    ext_off = {}
    acc = ext_base
    for tag, typ, vals in tags:
        cnt = len(strips) if vals is None else len(vals)
        sz = tsize[typ] * cnt
        if sz > 4:
            ext_off[tag] = acc
            acc += sz
    data_base = acc
    offs = []
    for c in strip_counts:
        offs.append(data_base)
        data_base += c

    out = (b"II*\x00" if endian == "<" else b"MM\x00*") + struct.pack(
        endian + "I", ifd_off
    )
    out += struct.pack(endian + "H", len(tags))
    ext = bytearray()
    for tag, typ, vals in tags:
        if vals is None:
            vals = offs
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        packed = struct.pack(endian + fmt * len(vals), *vals)
        out += struct.pack(endian + "HHI", tag, typ, len(vals))
        if len(packed) <= 4:
            out += packed + b"\x00" * (4 - len(packed))
        else:
            out += struct.pack(endian + "I", ext_off[tag])
            ext.extend(packed)
    out += struct.pack(endian + "I", 0)
    out += bytes(ext)
    for st in strips:
        out += st
    return bytes(out)


def test_tiff_decoder_strips_orders_photometrics():
    """Baseline TIFF: multi-strip reassembly, little- and big-endian,
    RGB/gray/inverted-gray/palette, netpbm luma parity, and garbage
    rejection."""
    import hashlib

    import numpy as np

    from flyq_spark.operators.multimodal import (
        _try_decode_netpbm,
        _try_decode_tiff,
    )

    w, h = 13, 9
    rng = [
        int(hashlib.md5(f"tf{i}".encode()).hexdigest()[:2], 16)
        for i in range(w * h * 3)
    ]
    rgb = [
        [[rng[(y * w + x) * 3 + c] for c in range(3)] for x in range(w)]
        for y in range(h)
    ]
    want = np.array(
        [[r * 0.299 + g * 0.587 + b * 0.114 for (r, g, b) in row] for row in rgb]
    )
    for endian in ("<", ">"):
        got = _try_decode_tiff(_make_tiff(rgb, endian=endian, rows_per_strip=2))
        assert got is not None and np.allclose(got, want, atol=1e-9), endian
    ppm = f"P6\n{w} {h}\n255\n".encode() + bytes(
        c for row in rgb for px in row for c in px
    )
    assert np.allclose(_try_decode_netpbm(ppm), want, atol=1e-9)

    gray = [[v[0] for v in row] for row in rgb]
    got_g = _try_decode_tiff(_make_tiff(gray, photometric=1))
    assert np.allclose(got_g, np.array(gray, dtype=float))
    got_inv = _try_decode_tiff(_make_tiff(gray, photometric=0))
    assert np.allclose(got_inv, 255.0 - np.array(gray, dtype=float))

    pal = [(i, 255 - i, (i * 5) % 256) for i in range(256)]
    idx = [[rng[y * w + x] for x in range(w)] for y in range(h)]
    want_pal = np.array(
        [
            [
                pal[i][0] * 0.299 + pal[i][1] * 0.587 + pal[i][2] * 0.114
                for i in row
            ]
            for row in idx
        ]
    )
    got_pal = _try_decode_tiff(_make_tiff(idx, photometric=3, palette=pal))
    assert got_pal is not None and np.allclose(got_pal, want_pal, atol=1e-6)

    # planar RGB (RRR..GGG..BBB) must be REJECTED, not decoded as
    # interleaved garbage luma
    assert _try_decode_tiff(_make_tiff(rgb, planar=2)) is None
    assert _try_decode_tiff(_make_tiff(rgb, planar=1)) is not None

    # strip-amplification bomb: many strips each claiming the whole
    # payload must not allocate O(N·payload) — decode stays bounded
    # (and returns SOMETHING without OOM; the cap stops at `need`)
    import struct as _struct
    import time as _time

    bomb_strips = 2000
    hdr = b"II*\x00" + _struct.pack("<I", 8)
    n = 6
    entries = [
        (256, 4, 1, 8), (257, 4, 1, 8), (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, bomb_strips, None), (279, 4, bomb_strips, None),
    ]
    ifd = _struct.pack("<H", n)
    ext_base = 8 + 2 + 12 * n + 4
    offs_off = ext_base
    cnts_off = ext_base + 4 * bomb_strips
    payload_len = cnts_off + 4 * bomb_strips + 64
    for tag, typ, cnt, val in entries:
        if val is None:
            off = offs_off if tag == 273 else cnts_off
            ifd += _struct.pack("<HHII", tag, typ, cnt, off)
        else:
            ifd += _struct.pack("<HHI", tag, typ, cnt) + _struct.pack("<I", val)
    ifd += _struct.pack("<I", 0)
    body = _struct.pack("<" + "I" * bomb_strips, *([0] * bomb_strips))
    body += _struct.pack("<" + "I" * bomb_strips, *([payload_len - 1] * bomb_strips))
    bomb = hdr + ifd + body + b"\x00" * 64
    t0 = _time.time()
    _try_decode_tiff(bomb)  # must return quickly, bounded allocation
    assert _time.time() - t0 < 2.0

    assert _try_decode_tiff(b"II*\x00" + b"\x01" * 30) is None
    full = _make_tiff(rgb)
    for cut in range(0, len(full), 11):
        r = _try_decode_tiff(full[:cut])
        assert r is None or r.shape == (h, w)


def test_cusum_alarms_matches_recurrence_model(spark):
    """The closed-form (prefix-sum minus running-min) equals the
    textbook max(0, S+d) recurrence on a seeded series; alarms fire
    exactly where the model's statistic crosses; NULLs are skipped;
    one-sided mode suppresses 'low'."""
    import hashlib

    import pytest as _pytest

    from flyq_spark.operators.timeseries import cusum_alarms

    vals = [
        (int(hashlib.md5(f"cs{i}".encode()).hexdigest()[:2], 16) % 21) - 10
        for i in range(60)
    ]
    vals[20:30] = [v + 15 for v in vals[20:30]]   # upward drift burst
    vals[45:55] = [v - 15 for v in vals[45:55]]   # downward burst
    vals[33] = None
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, b long, v long")

    ref, thr = 0, 40
    sp = sn = 0
    model = {}
    for i, v in enumerate(vals):
        if v is None:
            continue
        sp = max(0, sp + (v - ref))
        sn = max(0, sn - (v - ref))
        a = "high" if sp > thr else ("low" if sn > thr else None)
        model[i] = (sp, sn, a)
    want = {
        b: (s1, s2, a) for b, (s1, s2, a) in model.items() if a is not None
    }
    got = {
        r["b"]: (r["s_pos"], r["s_neg"], r["alarm"])
        for r in cusum_alarms(df, ("g",), "b", "v", ref, thr).collect()
    }
    assert got == want and len(want) > 3

    one_sided = cusum_alarms(
        df, ("g",), "b", "v", ref, thr, two_sided=False
    ).collect()
    assert all(r["alarm"] == "high" for r in one_sided)
    with _pytest.raises(ValueError):
        cusum_alarms(df, ("g",), "b", "v", 0, 0)


def test_bfs_levels_multi_source_exact(spark):
    """Hop distances on a chain + islands: multi-source min distance,
    unreachable nodes absent, direction invariance, non-convergence
    raises."""
    import pytest as _pytest

    from flyq_spark.operators.graph import bfs_levels

    # chain 1-2-3-4-5, island 8-9, isolated-by-absence node 7 via 6-7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (6, 7)],
        "id_a long, id_b long",
    )
    src = spark.createDataFrame([(1,), (5,)], "node long")
    got = {
        r["node"]: r["dist"] for r in bfs_levels(pairs, src).collect()
    }
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}  # islands absent
    # direction invariance: reversed edge list gives identical distances
    rev = pairs.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
    )
    assert {
        r["node"]: r["dist"] for r in bfs_levels(rev, src).collect()
    } == got
    with _pytest.raises(RuntimeError, match="did not converge"):
        bfs_levels(pairs, spark.createDataFrame([(1,)], "node long"), max_iter=2)
    with _pytest.raises(ValueError):
        bfs_levels(pairs, src, max_iter=0)


def test_join_preflight_exact_cardinality(spark):
    """join_preflight's sum(pairs) must equal the true join size, and
    per-key rows the true per-key count product; NULL keys excluded."""
    from flyq_spark.operators.joinaudit import join_preflight

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (2,), (2,), (None,), (9,)], "k long"
    )
    rep = {r["key"]: (r["n_left"], r["n_right"], r["pairs"])
           for r in join_preflight(left, right, "k").collect()}
    assert rep == {1: (2, 1, 2), 2: (1, 2, 2)}
    true_size = left.join(right, on="k").count()
    assert sum(p for _, _, p in rep.values()) == true_size
    # min_pairs bounds the report
    from flyq_spark.operators.joinaudit import join_preflight as jp
    assert [r["key"] for r in jp(left, right, "k", min_pairs=3).collect()] == []


def test_bloom_semi_join_equals_plain_semi_join(spark):
    """The Bloom pre-filter + verify must be row-identical to the plain
    left-semi join (false positives removed, no false negatives), at a
    bitmap size small enough to force false positives."""
    from flyq_spark.operators.joinaudit import bloom_semi_join

    big = spark.range(0, 5000).withColumnRenamed("id", "k")
    small = spark.createDataFrame(
        [(i * 13,) for i in range(80)] + [(None,)], "k long"
    )
    got = bloom_semi_join(big, small, "k", num_bits=256, num_hashes=3)
    want = big.join(small.where("k is not null"), on="k", how="left_semi")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )


def test_referential_check_counts(spark):
    from flyq_spark.operators.profile import referential_check

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (7,), (7,), (7,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = referential_check(child, "fk", parent, "pk", "child->parent").collect()[0]
    assert row["relation"] == "child->parent"
    assert row["n_rows"] == 7
    assert row["n_null_fk"] == 1
    assert row["n_orphans"] == 3          # the three fk=7 rows
    assert row["n_orphan_keys"] == 1

    clean = referential_check(
        child.where("fk is not null and fk <= 2"), "fk", parent, "pk", "ok"
    ).collect()[0]
    assert clean["n_orphans"] == 0 and clean["n_orphan_keys"] == 0


def test_l_diversity_null_is_one_value(spark):
    from flyq_spark.operators.profile import l_diversity_check

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", 1), ("b", 2), ("c", None)],
        "qi string, s long",
    )
    out = {r["qi"]: (r["n_rows"], r["n_sensitive"])
           for r in l_diversity_check(df, ("qi",), "s", l=3).collect()}
    # a: {1, NULL} -> 2 values; b: {1,2} -> 2; c: {NULL} -> 1
    assert out == {"a": (3, 2), "b": (2, 2), "c": (1, 1)}
    keys2 = [r["qi"] for r in l_diversity_check(df, ("qi",), "s", l=2).collect()]
    assert "a" not in keys2  # a has 2 >= 2 -> absent
    assert keys2 == ["c"]


def test_winsorize_bounds_and_nulls(spark):
    from flyq_spark.operators.impute import winsorize

    rows = [("g", i) for i in range(1, 101)] + [("g", None)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = winsorize(df, ("grp",), "v", lo_permille=100, hi_permille=900)
    got = {r["v"]: (r["v_w"], r["was_clamped"], r["lo_bound"], r["hi_bound"])
           for r in out.collect()}
    # ceil(.1*100)=10, ceil(.9*100)=90
    assert got[1] == (10, True, 10, 90)
    assert got[10] == (10, False, 10, 90)
    assert got[55] == (55, False, 10, 90)
    assert got[90] == (90, False, 10, 90)
    assert got[100] == (90, True, 10, 90)
    assert got[None][0] is None and got[None][1] is False


def test_asof_tolerance_and_attribution(spark):
    from flyq_spark.operators.sessions import attribute_conversions

    import datetime as dt

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (1, t(0), "click", 0.0),
        (1, t(5), "purchase", 1.0),     # 5s after click -> attributed
        (1, t(40), "purchase", 2.0),    # 40s after click -> outside 10s window
        (2, t(3), "purchase", 3.0),     # no touch at all
        (3, t(7), "view", 0.0),
        (3, t(7), "purchase", 4.0),     # same-ts touch -> inclusive match
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double"
    )
    out = attribute_conversions(
        ev, ("purchase",), ("click", "view"), lookback_s=10
    )
    got = {(r["user_id"], r["value"]): (r["touch_type_asof"], r["attributed"])
           for r in out.collect()}
    assert got[(1, 1.0)] == ("click", True)
    assert got[(1, 2.0)] == (None, False)
    assert got[(2, 3.0)] == (None, False)
    assert got[(3, 4.0)] == ("view", True)


def test_phrase_search_positions_and_repeats(spark):
    from flyq_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "cat sat cat sat cat"),
            (3, "the dog"),
            (4, "sat the cat"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["anchor"])
           for r in phrase_search(docs, "the cat").collect()}
    assert got == {(1, 0), (4, 1)}
    # repeated term in the phrase: "cat sat cat" needs cat at p and p+2
    got2 = {(r["doc_id"], r["anchor"])
            for r in phrase_search(docs, "cat sat cat").collect()}
    assert got2 == {(2, 0), (2, 2)}
    # single-term phrase = positional postings
    got3 = {(r["doc_id"], r["anchor"])
            for r in phrase_search(docs, "sat").collect()}
    assert got3 == {(1, 2), (2, 1), (2, 3), (4, 0)}


def test_heavy_hitters_by_group_matches_plain_groupby(spark):
    import random

    from pyspark.sql import functions as F

    from flyq_spark.operators.sketch import heavy_hitters_by_group

    rng = random.Random(7)
    rows = []
    for grp, vocab, n in (("a", 40, 3000), ("b", 25, 1500)):
        for _ in range(n):
            # Zipf-ish: low ids much more frequent
            item = min(int(rng.paretovariate(1.2)), vocab)
            rows.append((grp, f"t{item}"))
    df = spark.createDataFrame(rows, "lang string, tok string").repartition(8)
    got = {
        (r["lang"], r["item"]): r["n_occurrences"]
        for r in heavy_hitters_by_group(df, "lang", "tok", min_fraction=0.05).collect()
    }
    # oracle: plain per-group count + per-group exact ceil threshold
    counts = (
        df.groupBy("lang", "tok").agg(F.count("*").alias("n")).collect()
    )
    tot = {}
    for r in counts:
        tot[r["lang"]] = tot.get(r["lang"], 0) + r["n"]
    want = {
        (r["lang"], r["tok"]): r["n"]
        for r in counts
        if r["n"] >= -(-tot[r["lang"]] * 5 // 100)  # ceil(0.05 * n_g)
    }
    assert got == want and len(want) > 0


def test_containment_pairs_matches_naive(spark):
    """Prefix-filtered containment join must equal the naive all-pairs
    containment join (100% recall), including the asymmetric direction."""
    from pyspark.sql import functions as F

    from flyq_spark.operators.dedup import containment_pairs, shingle_set

    docs = [
        (1, "a b c d e f g h i j"),             # contained in 2
        (2, "a b c d e f g h i j k l m n o"),   # superset of 1
        (3, "z y x w v u t s r q"),             # unrelated
        (4, "a b c d e f g h i j"),             # exact dup of 1
        (5, "p p p p p"),                        # single shingle
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): round(r["containment"], 9)
        for r in containment_pairs(df, min_containment=0.8, shingle_n=5).collect()
    }
    base = df.select(
        "doc_id", shingle_set(F.col("text"), 5).alias("g")
    ).where(F.size("g") > 0)
    naive = (
        base.alias("a")
        .join(base.alias("b"), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect(F.col("a.g"), F.col("b.g"))).cast("double")
                / F.size(F.col("a.g")).cast("double")
            ).alias("c"),
        )
        .where(F.col("c") >= 0.8)
    )
    want = {(r["id_a"], r["id_b"]): round(r["c"], 9) for r in naive.collect()}
    assert got == want
    # direction matters: 1 -> 2 qualifies, 2 -> 1 does not
    assert (1, 2) in got and (2, 1) not in got
    assert (1, 4) in got and (4, 1) in got


def test_skew_split_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from flyq_spark.operators.joinaudit import skew_split_join

    # key 7 is hot (60 rows), others cold; dim has multiple rows per key
    big = spark.createDataFrame(
        [(7, i) for i in range(60)] + [(i % 5, i) for i in range(25)],
        "k long, payload long",
    )
    dim = spark.createDataFrame(
        [(7, "a"), (7, "b"), (0, "c"), (1, "d"), (9, "e")],
        "k long, tag string",
    )
    got = skew_split_join(big, dim, "k", hot_threshold=50)
    want = big.join(dim, on="k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the hot path really is a broadcast (two broadcast joins in plan)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_negative_samples_deterministic_and_never_self(spark):
    from flyq_spark.operators.corpus import negative_samples

    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    out1 = sorted(map(tuple, negative_samples(df, k=4).collect()))
    out2 = sorted(map(tuple, negative_samples(df.repartition(7), k=4).collect()))
    assert out1 == out2                      # partitioning-independent
    assert len(out1) == 40 * 4
    for doc, slot, neg in out1:
        assert neg != doc                    # never self
        assert 0 <= slot < 4
    # roughly uniform: every doc appears as a negative at least once
    negs = {neg for _, _, neg in out1}
    assert len(negs) >= 35


# ------------------------------------------------------------------ #
# baseline JPEG decoder differentials (reference encoder lives here,
# mirroring the PNG/GIF/TIFF test strategy: encode known pixels, then
# the decoder must reproduce the mathematically expected reconstruction)
# ------------------------------------------------------------------ #


def _jpeg_dct_matrix():
    import numpy as np

    k = np.arange(8)
    c = np.where(k == 0, 1.0 / np.sqrt(2.0), 1.0)
    return (c[:, None] / 2.0) * np.cos(
        (2 * k[None, :] + 1) * k[:, None] * np.pi / 16
    )


_JPEG_TEST_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_canonical_enc(bits, vals):
    """symbol -> (code, length), same canonical assignment the decoder
    uses (T.81 Annex C)."""
    enc = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = bytes(range(12))
# a DHT count byte caps at 255, so 256 AC symbols split 255@9 + 1@10
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = bytes(range(256))


class _JpegBW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def align(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)


def _jpeg_quantize_plane(plane, q):
    """Plane (padded to 8-multiples) -> list of zigzag quantized coef
    blocks in raster order, plus the per-block reconstruction."""
    import numpy as np

    D = _jpeg_dct_matrix()
    h8, w8 = plane.shape[0] // 8, plane.shape[1] // 8
    qn = np.zeros(64)
    qn[_JPEG_TEST_ZZ] = q  # q is zigzag-ordered like the DQT segment
    blocks, recon = [], {}
    for by in range(h8):
        for bx in range(w8):
            x = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            f = D @ x @ D.T
            cq = np.round(f.flatten() / qn).astype(int)
            blocks.append([int(cq[z]) for z in _JPEG_TEST_ZZ])
            deq = (cq * qn).reshape(8, 8)
            recon[(by, bx)] = np.clip(D.T @ deq @ D + 128.0, 0.0, 255.0)
    return blocks, recon


def _jpeg_emit_block(bw, zz_coefs, dc_pred, dc_enc, ac_enc):
    def mag(v):
        s = 0
        a = abs(v)
        while a:
            s += 1
            a >>= 1
        return s

    diff = zz_coefs[0] - dc_pred
    s = mag(diff)
    code, ln = dc_enc[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz_coefs[i]), default=0)
    for k in range(1, 64):
        v = zz_coefs[k]
        if k > last_nz:
            code, ln = ac_enc[0x00]  # EOB
            bw.put(code, ln)
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = mag(v)
        code, ln = ac_enc[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    return zz_coefs[0]


def _jpeg_encode(y, q, chroma=None, restart_interval=0):
    """Reference baseline JPEG: grayscale (chroma=None) or 4:2:0 YCbCr.
    ``q`` is the zigzag-ordered 64-entry quant table (table 0, used by
    every component). Returns (payload, expected_luma)."""
    import struct

    import numpy as np

    h, w = y.shape
    hmax, vmax = (2, 2) if chroma is not None else (1, 1)
    ph = -(-h // (8 * vmax)) * 8 * vmax
    pw = -(-w // (8 * hmax)) * 8 * hmax
    ypad = np.zeros((ph, pw))
    ypad[:h, :w] = y
    ypad[h:, :w] = y[-1:, :]
    ypad[:, w:] = ypad[:, w - 1 : w]
    yblocks, yrecon = _jpeg_quantize_plane(ypad, q)
    dc_enc = _jpeg_canonical_enc(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _jpeg_canonical_enc(_JPEG_AC_BITS, _JPEG_AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, 0x00) + bytes(q)
    comps = [(1, (hmax << 4) | vmax, 0)]
    if chroma is not None:
        comps += [(2, 0x11, 0), (3, 0x11, 0)]
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w, len(comps))
    for cid, hv, tq in comps:
        out += struct.pack(">BBB", cid, hv, tq)
    for tc, bits, vals in ((0, _JPEG_DC_BITS, _JPEG_DC_VALS), (1, _JPEG_AC_BITS, _JPEG_AC_VALS)):
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(vals), tc << 4) + bytes(bits) + vals
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 2 + 1 + 2 * len(comps) + 3, len(comps))
    for cid, _, _ in comps:
        out += struct.pack(">BB", cid, 0x00)
    out += b"\x00\x3f\x00"

    if chroma is not None:
        cb, cr = chroma
        cpads = []
        for p in (cb, cr):
            cp = np.zeros((ph // 2, pw // 2))
            cp[: p.shape[0], : p.shape[1]] = p
            cpads.append(cp)
        cbb, _ = _jpeg_quantize_plane(cpads[0], q)
        crb, _ = _jpeg_quantize_plane(cpads[1], q)

    bw = _JpegBW()
    mcus_y, mcus_x = ph // (8 * vmax), pw // (8 * hmax)
    dc = {1: 0, 2: 0, 3: 0}
    w8 = pw // 8
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                bw.align()
                bw.out += bytes([0xFF, 0xD0 + ((mcu_index // restart_interval - 1) % 8)])
                dc = {1: 0, 2: 0, 3: 0}
            for by in range(vmax):
                for bx in range(hmax):
                    blk = yblocks[(my * vmax + by) * w8 + (mx * hmax + bx)]
                    dc[1] = _jpeg_emit_block(bw, blk, dc[1], dc_enc, ac_enc)
            if chroma is not None:
                cw8 = (pw // 2) // 8
                dc[2] = _jpeg_emit_block(bw, cbb[my * cw8 + mx], dc[2], dc_enc, ac_enc)
                dc[3] = _jpeg_emit_block(bw, crb[my * cw8 + mx], dc[3], dc_enc, ac_enc)
            mcu_index += 1
    bw.align()
    out += bw.out + b"\xff\xd9"

    expected = np.zeros((ph, pw))
    for (by, bx), rec in yrecon.items():
        expected[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rec
    return bytes(out), expected[:h, :w]


def test_jpeg_decoder_gray_color_restarts():
    import hashlib

    import numpy as np

    from flyq_spark.operators.multimodal import _try_decode_jpeg

    def det_plane(h, w, tag):
        return np.array(
            [
                [
                    int(hashlib.md5(f"{tag}{x},{y}".encode()).hexdigest()[:2], 16)
                    for x in range(w)
                ]
                for y in range(h)
            ],
            dtype=np.float64,
        )

    q1 = [1] * 64                      # near-lossless
    qk = [(1 + (i % 7)) for i in range(64)]   # non-trivial table

    # grayscale, non-multiple-of-8 dims
    y = det_plane(17, 24, "g")
    payload, expected = _jpeg_encode(y, q1)
    got = _try_decode_jpeg(payload)
    assert got is not None and got.shape == (17, 24)
    assert np.allclose(got, expected, atol=1e-8)
    assert np.abs(got - y).max() <= 8.0   # near-lossless at q=1

    # 4:2:0 color: luma must come back at full resolution, chroma
    # blocks are parsed (bitstream advances) but ignored
    y2 = det_plane(13, 21, "c")
    cb = det_plane(7, 11, "cb")
    cr = det_plane(7, 11, "cr")
    payload2, expected2 = _jpeg_encode(y2, qk, chroma=(cb, cr))
    got2 = _try_decode_jpeg(payload2)
    assert got2 is not None and got2.shape == (13, 21)
    assert np.allclose(got2, expected2, atol=1e-8)

    # restart markers: DC predictors reset at every interval
    y3 = det_plane(16, 40, "r")
    payload3, expected3 = _jpeg_encode(y3, q1, restart_interval=2)
    got3 = _try_decode_jpeg(payload3)
    assert got3 is not None and np.allclose(got3, expected3, atol=1e-8)

    # progressive (SOF2) must fall back to the stub path
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert _try_decode_jpeg(prog) is None

    # truncation fuzz: never raises; either rejection or a full frame
    for cut in range(0, len(payload2), 11):
        r = _try_decode_jpeg(payload2[:cut])
        assert r is None or r.shape == (13, 21)
    # garbage after magic
    assert _try_decode_jpeg(b"\xff\xd8" + b"\x42" * 64) is None


def test_jpeg_through_image_chain_and_phash():
    """The sniff chain picks up JPEG payloads, and identical pixels
    produce identical luma through JPEG (q=1, exact-representable
    pixels) and netpbm."""
    import numpy as np

    from flyq_spark.operators.multimodal import (
        _try_decode_image,
        _try_decode_netpbm,
    )

    # constant-ish blocks survive q=1 quantization exactly (DC multiple
    # of 8 after level shift, no AC energy): use flat 8x8 tiles
    tile = np.repeat(np.repeat(np.array([[40.0, 168.0], [88.0, 216.0]]), 8, 0), 8, 1)
    payload, expected = _jpeg_encode(tile, [1] * 64)
    via_chain = _try_decode_image(payload)
    assert via_chain is not None and np.allclose(via_chain, expected, atol=1e-8)
    assert np.allclose(via_chain, tile, atol=1e-9)  # flat blocks: lossless
    ppm = f"P5\n16 16\n255\n".encode() + bytes(
        int(v) for row in tile for v in row
    )
    assert np.allclose(_try_decode_netpbm(ppm), via_chain, atol=1e-9)


def test_winsorize_null_group_key_and_attribution_overlap_guard(spark):
    import pytest

    from flyq_spark.operators.impute import winsorize
    from flyq_spark.operators.sessions import attribute_conversions

    # NULL group key is a real group: its values must clamp, not null out
    rows = [(None, i) for i in range(1, 101)] + [("g", 5)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {(r["grp"], r["v"]): r["v_w"]
           for r in winsorize(df, ("grp",), "v", 100, 900).collect()}
    assert out[(None, 1)] == 10 and out[(None, 100)] == 90
    assert out[("g", 5)] == 5

    ev = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), "x", 0.0)],
        "user_id long, ts timestamp, event_type string, value double",
    )
    with pytest.raises(ValueError, match="both conversion and touch"):
        attribute_conversions(ev, ("x", "y"), ("y",), 10)


def test_exact_global_quantiles_matches_sorted_rank(spark):
    import random

    from flyq_spark.operators.profile import exact_global_quantiles

    rng = random.Random(11)
    vals = [rng.randint(-10**12, 10**12) for _ in range(5000)] + [
        None, 7, 7, 7, -(10**12)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(9)
    got = dict(exact_global_quantiles(df, "v", (10, 250, 500, 750, 990), branch=64))
    present = sorted(x for x in vals if x is not None)
    n = len(present)
    for q, val in got.items():
        want = present[-(-q * n // 1000) - 1]  # 1-based ceil rank
        assert val == want, (q, val, want)
    # tiny input + all-null rejection
    one = spark.createDataFrame([(5,)], "v long")
    assert exact_global_quantiles(one, "v", (500,)) == [(500, 5)]
    import pytest

    with pytest.raises(ValueError, match="no non-null"):
        exact_global_quantiles(
            spark.createDataFrame([(None,)], "v long"), "v", (500,)
        )


def test_point_in_time_join_validity(spark):
    import datetime as dt

    from flyq_spark.operators.cdc import point_in_time_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    hist = spark.createDataFrame(
        [
            (1, t(0), t(10), "bronze"),
            (1, t(10), t(20), "silver"),
            (1, t(20), None, "gold"),     # open-ended current
            (2, t(30), t(40), "trial"),   # truncated: nothing after 40
        ],
        "user_id long, valid_from timestamp, valid_to timestamp, tier string",
    )
    q = spark.createDataFrame(
        [
            (1, t(5)),    # inside bronze
            (1, t(10)),   # boundary: valid_from inclusive -> silver
            (1, t(25)),   # open-ended gold
            (2, t(45)),   # after truncation -> NO match (leak guard)
            (2, t(29)),   # before first version -> no match
            (3, t(5)),    # unknown key
        ],
        "user_id long, ts timestamp",
    )
    out = {
        (r["user_id"], r["ts"].second): (r["tier_pit"], r["pit_matched"])
        for r in point_in_time_join(q, hist, "user_id", "ts", ["tier"]).collect()
    }
    assert out[(1, 5)] == ("bronze", True)
    assert out[(1, 10)] == ("silver", True)
    assert out[(1, 25)] == ("gold", True)
    assert out[(2, 45)] == (None, False)   # never the stale 'trial'
    assert out[(2, 29)] == (None, False)
    assert out[(3, 5)] == (None, False)


def test_funnel_user_times_matches_chained_mins(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from flyq_spark.operators.sessions import funnel_steps, funnel_user_times

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, t(0), "view"), (1, t(5), "click"), (1, t(9), "purchase"),
        (2, t(0), "click"), (2, t(1), "view"), (2, t(2), "click"),
        (3, t(0), "view"),
        (4, t(0), "purchase"),             # never does step 1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: (r["steps_completed"], r["t_first_us"], r["latency_us"])
        for r in funnel_user_times(ev, ("view", "click", "purchase")).collect()
    }
    us = lambda s: int(t(s).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)  # noqa: E731
    assert got[1] == (3, us(0), 9_000_000)
    assert got[2] == (2, us(1), 1_000_000)   # click@2 after view@1
    assert got[3] == (1, us(0), None)
    assert 4 not in got
    # prefix counts must agree with funnel_steps
    steps = {r["step_idx"]: r["n_users"]
             for r in funnel_steps(ev, ("view", "click", "purchase")).collect()}
    comp = [v[0] for v in got.values()]
    assert steps == {1: sum(1 for c in comp if c >= 1),
                     2: sum(1 for c in comp if c >= 2),
                     3: sum(1 for c in comp if c >= 3)}


def test_sessionize_capped_vs_python_model(spark):
    import random

    from flyq_spark.operators.sessions import sessionize, sessionize_capped

    rng = random.Random(5)
    rows = []
    for u in range(12):
        t = 0
        for i in range(rng.randint(1, 60)):
            t += rng.choice([1, 30, 600, 2400, 60 * 60 * 3])  # seconds
            rows.append((u, t * 1_000_000, u * 1000 + i))
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (u, dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).replace(tzinfo=None), i)
            for u, us, i in rows
        ],
        "user_id long, ts timestamp, event_id long",
    )
    gap_m, cap_m = 30, 120
    got = {
        (r["user_id"], r["session_id"]): (
            r["session_start_us"], r["session_end_us"], r["n_events"]
        )
        for r in sessionize_capped(ev, gap_m, cap_m).collect()
    }
    # independent Python model
    want = {}
    by_user: dict = {}
    for u, us, i in rows:
        by_user.setdefault(u, []).append((us, i))
    for u, seq in by_user.items():
        seq.sort()
        sid, start, prev = 0, None, None
        for us, _ in seq:
            if (
                start is None
                or us - prev > gap_m * 60_000_000
                or us - start > cap_m * 60_000_000
            ):
                sid += 1
                start = us
            prev = us
            key = (u, sid)
            s = want.get(key)
            want[key] = (
                us if s is None else s[0],
                us,
                1 if s is None else s[2] + 1,
            )
    assert got == want
    # with an effectively infinite cap it degenerates to plain sessionize
    plain = {
        (r["user_id"], r["session_id"]): (r["session_start_us"], r["n_events"])
        for r in sessionize(ev, gap_m).collect()
    }
    capped_inf = {
        (r["user_id"], r["session_id"]): (r["session_start_us"], r["n_events"])
        for r in sessionize_capped(ev, gap_m, 10**7).collect()
    }
    assert plain == capped_inf


def test_kmv_overlap_exact_when_complete_and_accurate_when_not(spark):
    from pyspark.sql import functions as F

    from flyq_spark.operators.sketch import kmv_overlap_matrix

    # three groups with known overlap structure over integer items
    rows = (
        [("a", i) for i in range(0, 600)]
        + [("b", i) for i in range(300, 900)]      # |a∩b| = 300
        + [("c", i) for i in range(10_000, 10_040)]  # disjoint, small
    )
    df = spark.createDataFrame(rows, "g string, item long")

    # k large enough that every sketch is complete -> everything EXACT
    out = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_overlap_matrix(df, "g", F.col("item"), k=2048).collect()
    }
    ab = out[("a", "b")]
    assert (ab["est_a"], ab["est_b"], ab["est_union"]) == (600, 600, 900)
    assert ab["est_intersection"] == 300 and ab["inter_sample"] == 300
    ac = out[("a", "c")]
    assert (ac["est_union"], ac["est_intersection"]) == (640, 0)

    # k small -> estimates; within a loose multiplicative band
    est = {
        (r["group_a"], r["group_b"]): r
        for r in kmv_overlap_matrix(df, "g", F.col("item"), k=128).collect()
    }
    ab = est[("a", "b")]
    for got, want in (
        (ab["est_a"], 600),
        (ab["est_b"], 600),
        (ab["est_union"], 900),
        (ab["est_intersection"], 300),
    ):
        assert want * 0.6 <= got <= want * 1.5, (got, want)
    # the small disjoint group stays exact (complete sketch)
    assert est[("a", "c")]["est_intersection"] == 0


def test_attribute_multi_touch_credit_sums_exact(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from flyq_spark.operators.sessions import attribute_multi_touch

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: 4 touches then purchase -> 40/then split/40
        (1, t(0), "click", 100), (1, t(1), "view", 101),
        (1, t(2), "click", 102), (1, t(3), "view", 103),
        (1, t(4), "purchase", 104),
        # user 2: 1 touch -> 100%
        (2, t(0), "view", 200), (2, t(5), "purchase", 201),
        # user 3: 2 touches -> 50/50
        (3, t(0), "view", 300), (3, t(1), "click", 301),
        (3, t(2), "purchase", 302),
        # user 4: touch outside window -> no rows
        (4, t(0), "click", 400), (4, t(50), "purchase", 401),
    ]
    ev = spark.createDataFrame(
        [(u, ts, tp, i) for u, ts, tp, i in rows],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    out = attribute_multi_touch(ev, ("purchase",), ("click", "view"), 10)
    got = {}
    for r in out.collect():
        got.setdefault(r["conv_event_id"], []).append(
            (r["touch_rank"], r["touch_event_id"], r["credit_ppm"], r["n_touches"])
        )
    c1 = sorted(got[104])
    assert [x[2] for x in c1] == [400_000, 100_000, 100_000, 400_000]
    assert sum(x[2] for x in c1) == 1_000_000
    assert got[201] == [(1, 200, 1_000_000, 1)]
    assert sorted(x[2] for x in got[302]) == [500_000, 500_000]
    assert 401 not in got
    # with n-2 not dividing 200000 the remainder lands on the LAST touch
    rows5 = [(9, t(i), "click", 900 + i) for i in range(5)] + [
        (9, t(5), "purchase", 999)
    ]
    ev5 = spark.createDataFrame(
        rows5, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out5 = {r["touch_rank"]: r["credit_ppm"]
            for r in attribute_multi_touch(ev5, ("purchase",), ("click",), 10).collect()}
    assert out5 == {1: 400_000, 2: 66_666, 3: 66_666, 4: 66_666,
                    5: 400_000 + 200_000 - 3 * 66_666}
    assert sum(out5.values()) == 1_000_000


def test_point_in_time_join_zero_length_interval_dropped(spark):
    """Same-valid_from version churn (zero-length [t,t) intervals, the
    scd2 shape for same-ts events) must not shadow the covering
    version — review-confirmed repro: with the stale row first, the
    asof tie previously carried it and reported unmatched."""
    import datetime as dt

    from flyq_spark.operators.cdc import point_in_time_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    for order in (0, 1):
        rows = [
            (1, t(10), t(10), "A"),       # zero-length stale churn
            (1, t(10), None, "B"),        # covering current version
        ]
        if order:
            rows = rows[::-1]
        hist = spark.createDataFrame(
            rows,
            "user_id long, valid_from timestamp, valid_to timestamp, tier string",
        )
        q = spark.createDataFrame([(1, t(30))], "user_id long, ts timestamp")
        r = point_in_time_join(q, hist, "user_id", "ts", ["tier"]).collect()[0]
        assert (r["tier_pit"], r["pit_matched"]) == ("B", True), order


def test_exact_global_quantiles_full_int64_range(spark):
    """Values spanning more than half the int64 range: the strip
    arithmetic must not overflow (review-confirmed ANSI crash before
    the DECIMAL offset fix)."""
    from flyq_spark.operators.profile import exact_global_quantiles

    vals = [-(2**63), 2**63 - 1, 5, -7, 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = dict(exact_global_quantiles(df, "v", (200, 500, 990), branch=16))
    present = sorted(vals)
    n = len(present)
    for q, val in got.items():
        assert val == present[-(-q * n // 1000) - 1], (q, val)


def test_temperature_mix_matches_python_model(spark):
    """α-temperature mixing (corpus.temperature_mix) vs an independent
    math.isqrt + largest-remainder model: weights exact for α ∈
    {1, 1/2, 1/4}, Σ quota == budget exactly, remainder ties broken to
    the smaller source name."""
    import math

    from flyq_spark.operators.corpus import temperature_mix

    rows = []
    sizes = {"web": 977, "code": 145, "wiki": 37, "books": 4, "forums": 145}
    for s, n in sizes.items():
        rows += [(f"{s}-{i}", s) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")

    for alpha, budget in [(1000, 10_000), (500, 9_973), (250, 101), (500, 0)]:
        got = {
            r["source"]: (r["n_docs"], r["weight"], r["quota"])
            for r in temperature_mix(df, "source", alpha, budget).collect()
        }
        # independent model
        def w_of(n):
            if alpha == 1000:
                return n
            if alpha == 500:
                return math.isqrt(n * 10**6)
            return math.isqrt(math.isqrt(n * 10**12))
        wts = {s: w_of(n) for s, n in sizes.items()}
        W = sum(wts.values())
        base = {s: budget * w // W for s, w in wts.items()}
        rem = {s: budget * w % W for s, w in wts.items()}
        left = budget - sum(base.values())
        order = sorted(sizes, key=lambda s: (-rem[s], s))
        want = {
            s: (sizes[s], wts[s], base[s] + (1 if order.index(s) < left else 0))
            for s in sizes
        }
        assert got == want, (alpha, budget)
        assert sum(q for _, _, q in got.values()) == budget

    with pytest.raises(ValueError):
        temperature_mix(df, "source", alpha_permille=700)


def test_temperature_mix_corpus_scale_counts(spark):
    """The documented regime — head sources with millions-to-billions
    of docs — via temperature_mix_from_counts (mirrors
    test_exact_global_quantiles_full_int64_range's hostile-domain
    strategy: drive the arithmetic at the boundary without
    materializing the rows). n·10¹² passes 2^63 at n ≈ 9.22M; the old
    BIGINT intermediate wrapped (ANSI crash or silently wrong weights)
    for every case below."""
    import math

    from flyq_spark.operators.corpus import temperature_mix_from_counts

    sizes = {
        "head": 9_300_000,          # first n where n·10^12 > 2^63
        "cc": 3_100_000_000,        # billions-of-docs head source
        "giant": 4 * 10**18,        # near the BIGINT count ceiling
        "tail": 4,
        "mid": 123_456_789,
    }
    counts = spark.createDataFrame(
        [(s, n) for s, n in sizes.items()], "source string, n_docs long"
    )
    for alpha, budget in [(250, 10_000), (500, 1_000_003), (1000, 97)]:
        got = {
            r["source"]: (r["n_docs"], r["weight"], r["quota"])
            for r in temperature_mix_from_counts(
                counts, "source", "n_docs", alpha, budget
            ).collect()
        }

        def w_of(n):
            if alpha == 1000:
                return n
            if alpha == 500:
                return math.isqrt(n * 10**6)
            return math.isqrt(math.isqrt(n * 10**12))

        wts = {s: w_of(n) for s, n in sizes.items()}
        W = sum(wts.values())
        base = {s: budget * w // W for s, w in wts.items()}
        rem = {s: budget * w % W for s, w in wts.items()}
        left = budget - sum(base.values())
        order = sorted(sizes, key=lambda s: (-rem[s], s))
        want = {
            s: (sizes[s], wts[s], base[s] + (1 if order.index(s) < left else 0))
            for s in sizes
        }
        assert got == want, (alpha, budget)
        assert sum(q for _, _, q in got.values()) == budget


def test_embedding_pca_matches_numpy(spark):
    """Distributed two-pass PCA (similarity.embedding_pca) vs one-shot
    numpy PCA on the collected matrix: identical mean/eigenvalues/
    projection within float tolerance (sign convention fixed on both
    sides), whitened variant has ~unit variance per component, and the
    moments pass must collect partition-count rows, never data."""
    import numpy as np

    from flyq_spark.operators.similarity import embedding_pca

    rng = np.random.default_rng(7)
    d, n, k = 16, 500, 4
    # anisotropic data so eigenvalues are well separated
    scales = np.linspace(10, 0.1, d)
    X = rng.normal(size=(n, d)) * scales
    rows = [(i, X[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(8)

    out, model = embedding_pca(df, "vec_id", "embedding", k=k)
    got = {r["vec_id"]: np.array(r["pca"]) for r in out.collect()}

    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    W = evecs[:, order]
    flips = np.sign(W[np.abs(W).argmax(axis=0), np.arange(k)])
    W = W * flips
    assert np.allclose(model["mean"], mu, atol=1e-9)
    assert np.allclose(model["explained_var"], evals[order], rtol=1e-8)
    P = (X - mu) @ W
    for i in range(n):
        assert np.allclose(got[i], P[i], atol=1e-7), i

    wout, wmodel = embedding_pca(df, "vec_id", "embedding", k=k, whiten=True)
    PW = np.array([r["pca"] for r in wout.collect()])
    assert np.allclose(PW.var(axis=0, ddof=1), 1.0, rtol=1e-3)

    with pytest.raises(ValueError):
        embedding_pca(df, "vec_id", "embedding", k=99)


def test_importance_resample_matches_python_model(spark):
    """Systematic resampling on the md5 ring is a pure function of
    (seed, ids, weights): exact per-doc multiplicities vs an
    independent Python replay, Sigma n_copies = k, and determinism
    across k/seed choices (including k >> n: multiplicity > 1)."""
    import hashlib

    from flyq_spark.operators.corpus import importance_resample

    rows = [(i, (i * 7) % 13) for i in range(1, 201)]  # incl. zero weights
    df = spark.createDataFrame(rows, "doc_id long, w long")
    for k, seed in [(50, 0), (7, "ep1"), (500, 3)]:
        got = {
            r["doc_id"]: r["n_copies"]
            for r in importance_resample(df, "w", k, seed=seed).collect()
        }
        ring = sorted(
            rows,
            key=lambda r: (
                hashlib.md5(f"{seed}:{r[0]}".encode()).hexdigest(),
                r[0],
            ),
        )
        mass = sum(w for _, w in rows)
        off = (
            int(
                hashlib.md5(f"resample-offset:{seed}".encode()).hexdigest()[
                    :15
                ],
                16,
            )
            % mass
        )
        p = 0
        exp = {}
        for i, w in ring:
            lo, hi = p, p + w
            p = hi
            n = (hi * k - off - 1 + mass) // mass - (
                lo * k - off - 1 + mass
            ) // mass
            if n >= 1:
                exp[i] = n
        assert sum(exp.values()) == k
        assert got == exp, (k, seed)


def test_importance_resample_raises_on_bad_weights(spark):
    from flyq_spark.operators.corpus import importance_resample

    df = spark.createDataFrame(
        [(1, 0), (2, 0)], "doc_id long, w long"
    )
    with pytest.raises(Exception, match="total weight mass is 0"):
        importance_resample(df, "w", 5).collect()
    neg = spark.createDataFrame([(1, 3), (2, -1)], "doc_id long, w long")
    with pytest.raises(Exception, match="negative weight"):
        importance_resample(neg, "w", 5).collect()
    with pytest.raises(ValueError, match="k must be"):
        importance_resample(neg, "w", 0)
    withnull = spark.createDataFrame(
        [(1, 3), (2, None)], "doc_id long, w long"
    )
    with pytest.raises(Exception, match="NULL or negative weight"):
        importance_resample(withnull, "w", 5).collect()


def test_importance_resample_low_variance_guarantee(spark):
    """Systematic resampling never deviates from the expected copy
    count by a full unit: floor(k*w/W) <= n_copies <= ceil(k*w/W)."""
    from flyq_spark.operators.corpus import importance_resample

    rows = [(i, 1 + (i * 31) % 97) for i in range(1, 301)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    mass = sum(w for _, w in rows)
    k = 120
    got = {
        r["doc_id"]: r["n_copies"]
        for r in importance_resample(df, "w", k, seed="lv").collect()
    }
    assert sum(got.values()) == k
    for i, w in rows:
        n = got.get(i, 0)
        assert (k * w) // mass <= n <= -((-k * w) // mass), (i, w, n)


def test_stupid_backoff_score_matches_python_model(spark):
    """Regime counts AND the float mean-logscore vs an independent
    Python model: bigram hits, scrambled-order backoffs, OOV floor,
    whitespace runs, and the <2-token absence rule."""
    import math
    from collections import Counter

    from flyq_spark.operators.text import stupid_backoff_score

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "a cat and a dog"),
    ]
    score_rows = [
        (10, "the cat sat on the rug"),
        (11, "cat the on sat"),
        (12, "the zebra jumped"),
        (13, "single"),
        (14, "  the   cat  "),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    df = spark.createDataFrame(score_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in stupid_backoff_score(df, train, 400).collect()
    }

    def toks(t):
        return [w for w in t.lower().split() if w]

    uni: Counter = Counter()
    bi: Counter = Counter()
    for _, t in train_rows:
        ws = toks(t)
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    total = sum(uni.values())
    alpha = 0.4
    exp = {}
    for i, t in score_rows:
        ws = toks(t)
        ps = list(zip(ws, ws[1:]))
        if not ps:
            continue
        nh = nb = no = 0
        s = 0.0
        for p in ps:
            if p in bi:
                nh += 1
                s += math.log(bi[p] / uni[p[0]])
            elif p[1] in uni:
                nb += 1
                s += math.log(alpha * uni[p[1]] / total)
            else:
                no += 1
                s += math.log(alpha / total)
        exp[i] = (len(ps), nh, nb, no, s / len(ps))
    assert set(got) == set(exp)  # doc 13 (1 token) absent from both
    for i, (np_, nh, nb, no, m) in exp.items():
        g = got[i]
        assert (
            g["n_pairs"],
            g["n_bigram_hits"],
            g["n_unigram_backoffs"],
            g["n_oov"],
        ) == (np_, nh, nb, no), i
        assert abs(g["mean_logscore"] - m) < 1e-9, i


def test_stupid_backoff_raises_on_empty_train(spark):
    from flyq_spark.operators.text import stupid_backoff_score

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([(9, "   ")], "doc_id long, text string")
    with pytest.raises(Exception, match="empty training corpus"):
        stupid_backoff_score(df, empty).collect()
    with pytest.raises(ValueError, match="alpha_permille"):
        stupid_backoff_score(df, df, alpha_permille=0)


def test_mixture_build_matches_python_model(spark):
    """Quota spreading over the md5 ring vs an independent Python model
    (math.isqrt weights + largest-remainder twice), in BOTH regimes:
    quota > n_docs (tail upsampling, n_copies > 1) and quota < n_docs
    (plain deterministic top-q selection). Sigma n_copies = budget."""
    import hashlib
    import math

    from flyq_spark.operators.corpus import mixture_build

    rows = [(i, "big" if i <= 400 else ("mid" if i <= 450 else "tiny"))
            for i in range(1, 461)]  # 400 / 50 / 10 docs
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def model(budget):
        counts = {}
        for _, s in rows:
            counts[s] = counts.get(s, 0) + 1
        weights = {s: math.isqrt(n * 1_000_000) for s, n in counts.items()}
        tot = sum(weights.values())
        base = {s: budget * w // tot for s, w in weights.items()}
        rem = {s: budget * w % tot for s, w in weights.items()}
        left = budget - sum(base.values())
        order = sorted(counts, key=lambda s: (-rem[s], s))
        quota = {
            s: base[s] + (1 if i < left else 0) for i, s in enumerate(order)
        }
        ring = {}
        for s in counts:
            ids = [i for i, src in rows if src == s]
            ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            ring[s] = ids
        out = {}
        for s, q in quota.items():
            n = counts[s]
            for r, i in enumerate(ring[s], start=1):
                c = q // n + (1 if r <= q % n else 0)
                if c >= 1:
                    out[i] = (s, r, c)
        return out

    for budget in (5000, 120):  # upsample regime / selection regime
        got = {
            r["doc_id"]: (r["source"], r["sample_rank"], r["n_copies"])
            for r in mixture_build(df, "source", 500, budget).collect()
        }
        exp = model(budget)
        assert got == exp, budget
        assert sum(c for _, _, c in got.values()) == budget


def test_mixture_build_null_source_group(spark):
    """A NULL source is a real group: temperature_mix's groupBy plans it
    a quota, and the null-safe broadcast join must deliver it — the
    plain on-name join this pins against dropped the NULL group's
    ENTIRE quota (budget 100 -> Sigma n_copies 81 on this fixture),
    breaking the Sigma n_copies = budget theorem. Full match vs the
    Python model (Spark asc() = NULLS FIRST in the remainder tiebreak)."""
    import hashlib
    import math

    from flyq_spark.operators.corpus import mixture_build

    rows = (
        [(i, "big") for i in range(1, 301)]
        + [(i, None) for i in range(301, 381)]  # 80 NULL-source docs
        + [(i, "tiny") for i in range(381, 391)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def model(budget):
        counts: dict = {}
        for _, s in rows:
            counts[s] = counts.get(s, 0) + 1
        weights = {s: math.isqrt(n * 1_000_000) for s, n in counts.items()}
        tot = sum(weights.values())
        base = {s: budget * w // tot for s, w in weights.items()}
        rem = {s: budget * w % tot for s, w in weights.items()}
        left = budget - sum(base.values())
        order = sorted(
            counts, key=lambda s: (-rem[s], s is not None, s or "")
        )
        quota = {
            s: base[s] + (1 if i < left else 0) for i, s in enumerate(order)
        }
        out = {}
        for s, q in quota.items():
            ids = [i for i, src in rows if src == s]
            ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            n = counts[s]
            for r, i in enumerate(ids, start=1):
                c = q // n + (1 if r <= q % n else 0)
                if c >= 1:
                    out[i] = (s, r, c)
        return out

    for budget in (100, 2000):  # selection regime / upsample regime
        got = {
            r["doc_id"]: (r["source"], r["sample_rank"], r["n_copies"])
            for r in mixture_build(df, "source", 500, budget).collect()
        }
        exp = model(budget)
        assert got == exp, budget
        assert sum(c for _, _, c in got.values()) == budget
        assert any(s is None for s, _, _ in got.values()), budget


def test_manual_mixture_build_matches_python_model(spark):
    """Hand-weighted mixture vs an independent Python model: the
    caller's weights (not n^alpha) drive the largest-remainder quotas,
    Sigma n_copies = budget exactly, a None key weights the NULL-source
    group end-to-end (eqNullSafe both joins), unlisted sources are
    excluded, and both the selection (quota <= n) and upsampling
    (quota > n) regimes land per-doc-exact."""
    import hashlib

    from flyq_spark.operators.corpus import manual_mixture_build

    rows = (
        [(i, "web") for i in range(1, 61)]
        + [(i, None) for i in range(61, 81)]  # 20 NULL-source docs
        + [(i, "code") for i in range(81, 86)]  # 5 docs, upsampled
        + [(i, "skip_me") for i in range(86, 96)]  # not in the recipe
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"web": 50, None: 30, "code": 20}

    def model(budget):
        counts: dict = {}
        for _, s in rows:
            counts[s] = counts.get(s, 0) + 1
        tot = sum(weights.values())
        base = {s: budget * w // tot for s, w in weights.items()}
        rem = {s: budget * w % tot for s, w in weights.items()}
        left = budget - sum(base.values())
        order = sorted(
            weights, key=lambda s: (-rem[s], s is not None, s or "")
        )
        quota = {
            s: base[s] + (1 if i < left else 0) for i, s in enumerate(order)
        }
        out = {}
        for s, q in quota.items():
            ids = [i for i, src in rows if src == s]
            ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            n = counts[s]
            for r, i in enumerate(ids, start=1):
                c = q // n + (1 if r <= q % n else 0)
                if c >= 1:
                    out[i] = (s, r, c)
        return out

    for budget in (37, 1009):  # selection regime / upsample regime
        got = {
            r["doc_id"]: (r["source"], r["sample_rank"], r["n_copies"])
            for r in manual_mixture_build(df, weights, budget).collect()
        }
        exp = model(budget)
        assert got == exp, budget
        assert sum(c for _, _, c in got.values()) == budget
        assert not any(s == "skip_me" for s, _, _ in got.values())
        assert any(s is None for s, _, _ in got.values()), budget


def test_manual_mixture_build_contract_edges(spark):
    """The loud edges: a weighted source with no documents raises
    in-plan; empty/negative/non-int/all-zero weights and negative
    budgets raise at build time; a zero weight excludes its source
    exactly like omission."""
    import pytest

    from flyq_spark.operators.corpus import manual_mixture_build

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    with pytest.raises(Exception, match="weighted source has no documents"):
        manual_mixture_build(df, {"a": 1, "ghost": 1}, 10).collect()
    with pytest.raises(ValueError, match="non-empty"):
        manual_mixture_build(df, {}, 10)
    with pytest.raises(ValueError, match="non-negative ints"):
        manual_mixture_build(df, {"a": -1}, 10)
    with pytest.raises(ValueError, match="non-negative ints"):
        manual_mixture_build(df, {"a": 1.5}, 10)
    with pytest.raises(ValueError, match="at least one weight"):
        manual_mixture_build(df, {"a": 0}, 10)
    with pytest.raises(ValueError, match="budget"):
        manual_mixture_build(df, {"a": 1}, -1)
    got = manual_mixture_build(df, {"a": 1, "b": 0}, 4).collect()
    assert {r["source"] for r in got} == {"a"}
    assert sum(r["n_copies"] for r in got) == 4


def test_lexical_diversity_matches_python_model(spark):
    """Exact (n_tokens, n_types, n_hapax) per group vs a Counter-based
    model, including a NULL group key (a real group), whitespace runs,
    and cross-document type merging within a source."""
    from collections import Counter

    from flyq_spark.operators.text import lexical_diversity

    rows = [
        (1, "the cat the cat unique1", "s1"),
        (2, "the dog  unique2", "s1"),       # 'the' repeats ACROSS docs
        (3, "aa bb aa", "s2"),
        (4, "solo", None),                    # NULL group is a real group
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_tokens"], r["n_types"], r["n_hapax"])
        for r in lexical_diversity(df).collect()
    }
    groups: dict = {}
    for _, t, s in rows:
        groups.setdefault(s, Counter()).update(w for w in t.lower().split() if w)
    exp = {
        s: (sum(c.values()), len(c), sum(1 for v in c.values() if v == 1))
        for s, c in groups.items()
    }
    assert got == exp
    assert got["s1"] == (8, 5, 3)  # the x3, cat x2, dog/unique1/unique2 x1
    assert got[None] == (1, 1, 1)


def test_three_way_split_deterministic_bands(spark):
    """Split is a pure function of md5(id) prefix: bands partition the
    corpus, match a hashlib model exactly, and bad thresholds raise."""
    import hashlib

    from flyq_spark.operators.corpus import three_way_split

    df = spark.createDataFrame([(i,) for i in range(1, 400)], "doc_id long")
    got = {
        r["doc_id"]: r["split"]
        for r in three_way_split(df, "doc_id", "0d", "1a").collect()
    }
    for i in range(1, 400):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        exp = "test" if p < "0d" else ("val" if p < "1a" else "train")
        assert got[i] == exp, i
    assert set(got.values()) == {"test", "val", "train"}
    with pytest.raises(ValueError, match="same length"):
        three_way_split(df, "doc_id", "0d", "1ab")
    with pytest.raises(ValueError, match="strictly below"):
        three_way_split(df, "doc_id", "1a", "0d")


def test_contamination_report_matches_python_model(spark):
    """Per-split leakage rollup vs an independent hashlib/set model:
    distinct 8-gram sets per eval doc, global train shingle set, exact
    (n_docs, n_contaminated_docs, n_ngrams, n_hits) per split; docs
    with < n words are absent."""
    import hashlib

    from flyq_spark.operators.corpus import contamination_report

    words = [f"w{j}" for j in range(40)]
    rows = []
    for i in range(1, 120):
        # overlapping windows of the shared vocab -> real leakage
        start = i % 30
        text = " ".join(words[start : start + 4 + (i % 9)])
        rows.append((i, text))
    rows.append((200, "short doc"))  # < 4 words: no shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")

    N = 4
    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    def shingles(text):
        w = text.split(" ")
        return {
            " ".join(w[j : j + N]) for j in range(len(w) - N + 1)
        } if len(w) >= N else set()

    train_set = set()
    for i, t in rows:
        if split_of(i) == "train":
            train_set |= shingles(t)
    exp: dict = {}
    for i, t in rows:
        s = split_of(i)
        if s == "train":
            continue
        sh = shingles(t)
        if not sh:
            continue
        hits = len(sh & train_set)
        d = exp.setdefault(s, [0, 0, 0, 0])
        d[0] += 1
        d[1] += 1 if hits > 0 else 0
        d[2] += len(sh)
        d[3] += hits
    got = {
        r["split"]: (
            r["n_docs"], r["n_contaminated_docs"], r["n_ngrams"], r["n_hits"]
        )
        for r in contamination_report(df, n=N).collect()
    }
    assert got == {s: tuple(v) for s, v in exp.items()}
    assert set(got) == {"test", "val"}
    assert any(v[3] > 0 for v in got.values())  # leakage actually exercised


def test_epoch_plan_composition_theorems(spark):
    """mixture_build -> replicate -> pack_documents composition: the
    packed epoch holds EXACTLY budget sequences (Sigma n_copies
    survives replication and packing), per-shard pack ids are dense
    from 0, and every pack's preceding-token sum respects the boundary
    rule — with a tail source small enough to force upsampling
    (n_copies > 1, identical replicated rows)."""
    from flyq_spark.operators.corpus import mixture_build, pack_documents

    rows = [
        (i, "big" if i <= 150 else "tiny", "tok " * (5 + i % 7))
        for i in range(1, 161)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budget = 500  # tiny (10 docs) gets quota >> 10 -> upsampling regime
    drawn = mixture_build(df, "source", 500, budget)
    reps = (
        drawn.join(df.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("_copy"),
        )
        .drop("_copy")
    )
    packed = pack_documents(reps, token_budget=64).collect()
    assert len(packed) == budget  # Sigma n_copies = budget, end-to-end
    assert any(
        r["doc_id"] == s["doc_id"] for r in packed for s in packed
        if r is not s and r["doc_id"] == s["doc_id"]
    )  # replication actually happened
    by_shard: dict = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        ids = sorted({r["pack_id"] for r in rs})
        assert ids == list(range(len(ids))), shard  # dense pack ids
        # boundary rule: tokens before pack p's first doc >= p*64
        total = sum(r["n_tokens"] for r in rs)
        assert ids[-1] * 64 <= total


def test_pack_documents_shard_digits_widening(spark):
    """shard_digits widens the ring 16 -> 16^d WITHOUT changing the
    within-shard pack arithmetic: vs a hashlib model at d=2, every
    (shard, pack_id) matches; d=1 stays the historical identity; the
    wider sharding REFINES the d=1 shards (every d=2 shard maps into
    its d=1 prefix shard); bad widths raise."""
    import hashlib

    from flyq_spark.operators.corpus import pack_documents

    rows = [(i, "tok " * (3 + i % 5)) for i in range(1, 400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def model(digits, budget=16):
        shards: dict = {}
        for i, t in rows:
            h = hashlib.md5(str(i).encode()).hexdigest()
            shards.setdefault(h[:digits], []).append((h, i, len(t.split())))
        out = {}
        for s, docs in shards.items():
            docs.sort()
            cum = 0
            for h, i, n in docs:
                out[i] = (s, cum // budget, n)
                cum += n
        return out

    for d in (1, 2):
        got = {
            r["doc_id"]: (r["shard"], r["pack_id"], r["n_tokens"])
            for r in pack_documents(
                df, token_budget=16, shard_digits=d
            ).collect()
        }
        assert got == model(d), d
    g1 = model(1)
    g2 = model(2)
    assert all(g2[i][0][:1] == g1[i][0] for i in g2)  # refinement
    assert len({s for s, _, _ in g2.values()}) > len(
        {s for s, _, _ in g1.values()}
    )
    with pytest.raises(ValueError, match="shard_digits"):
        pack_documents(df, shard_digits=0)
    with pytest.raises(ValueError, match="shard_digits"):
        pack_documents(df, shard_digits=9)


def test_mixture_build_epochs_parity_with_per_alpha_union(spark):
    """The fused multi-epoch builder (one shared ranking + one
    broadcast quota join, r12 optimization) must be row-identical to
    unioning one mixture_build per alpha with an epoch tag — on a
    fixture with a NULL source group and in both the selection
    (budget < n) and upsampling (budget > n) regimes."""
    from flyq_spark.operators.corpus import mixture_build, mixture_build_epochs

    rows = (
        [(i, "big") for i in range(1, 121)]
        + [(i, None) for i in range(121, 161)]
        + [(i, "tiny") for i in range(161, 166)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    alphas = (1000, 500, 250)
    for budget in (70, 900):
        fused = sorted(
            (
                (r["epoch"], r["doc_id"], r["source"], r["sample_rank"], r["n_copies"])
                for r in mixture_build_epochs(df, "source", alphas, budget).collect()
            )
        )
        union = sorted(
            (e, r["doc_id"], r["source"], r["sample_rank"], r["n_copies"])
            for e, a in enumerate(alphas)
            for r in mixture_build(df, "source", a, budget).collect()
        )
        assert fused == union, budget
        # the per-epoch budget theorem survives the fusion
        for e in range(len(alphas)):
            assert sum(c for ep, _, _, _, c in fused if ep == e) == budget


def test_mixture_build_randomized_differential(spark):
    """Seeded-random fixtures x the full regime grid: all three
    canonical temperatures, NULL source present, budget 0 / small /
    upsampling-scale — every case must match the independent hashlib +
    math.isqrt + largest-remainder model exactly and satisfy
    Sigma n_copies = budget (0 rows for budget 0)."""
    import hashlib
    import math
    import random

    from flyq_spark.operators.corpus import mixture_build

    def weight(n, alpha):
        if alpha == 1000:
            return n
        if alpha == 500:
            return math.isqrt(n * 1_000_000)
        return math.isqrt(math.isqrt(n * 1_000_000_000_000))

    def model(rows, alpha, budget):
        counts: dict = {}
        for _, s in rows:
            counts[s] = counts.get(s, 0) + 1
        weights = {s: weight(c, alpha) for s, c in counts.items()}
        tot = sum(weights.values())
        base = {s: budget * w // tot for s, w in weights.items()}
        rem = {s: budget * w % tot for s, w in weights.items()}
        left = budget - sum(base.values())
        order = sorted(
            counts, key=lambda s: (-rem[s], s is not None, s or "")
        )
        quota = {
            s: base[s] + (1 if i < left else 0) for i, s in enumerate(order)
        }
        out = {}
        for s, q in quota.items():
            ids = [i for i, src in rows if src == s]
            ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            nn = counts[s]
            for r, i in enumerate(ids, start=1):
                c = q // nn + (1 if r <= q % nn else 0)
                if c >= 1:
                    out[i] = (s, r, c)
        return out

    rng = random.Random(0xF17)
    for case in range(4):
        n_src = rng.randint(2, 6)
        srcs = [f"s{j}" for j in range(n_src)] + [None]
        # skewed sizes: source j gets ~4^j docs
        rows, i = [], 0
        for j, s in enumerate(srcs):
            for _ in range(rng.randint(1, 4 ** min(j + 1, 4))):
                i += 1
                rows.append((i, s))
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "doc_id long, source string")
        alpha = [1000, 500, 250][case % 3]
        budget = [0, 17, len(rows) * 3, 1][case]
        got = {
            r["doc_id"]: (r["source"], r["sample_rank"], r["n_copies"])
            for r in mixture_build(df, "source", alpha, budget).collect()
        }
        exp = model(rows, alpha, budget)
        assert got == exp, (case, alpha, budget)
        assert sum(c for _, _, c in got.values()) == budget, (case, budget)


def test_contamination_report_randomized_messy_whitespace(spark):
    """Seeded-random corpora with hostile whitespace (double spaces,
    leading/trailing runs — F.split(' ') and str.split(' ') both keep
    the resulting EMPTY tokens, so shingles containing them must match
    member-for-member), random doc lengths straddling the < n cutoff,
    and a NULL-free assertion that totals reconcile per split."""
    import hashlib
    import random

    from flyq_spark.operators.corpus import contamination_report

    rng = random.Random(0xC0417)
    vocab = [f"t{j}" for j in range(25)]
    N = 3

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    for _case in range(3):
        rows = []
        for i in range(1, 90):
            k = rng.randint(0, 8)
            words = [rng.choice(vocab) for _ in range(k)]
            sep = lambda: rng.choice([" ", "  ", " ", " "])  # noqa: E731
            text = sep().join(words) if words else ""
            if rng.random() < 0.3:
                text = " " + text
            if rng.random() < 0.3:
                text = text + " "
            rows.append((i, text))
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def shingles(text):
            w = text.split(" ")  # keeps empties, like F.split
            if len(w) < N:
                return set()
            return {" ".join(w[j : j + N]) for j in range(len(w) - N + 1)}

        train = set()
        for i, t in rows:
            if split_of(i) == "train":
                train |= shingles(t)
        exp: dict = {}
        for i, t in rows:
            s = split_of(i)
            if s == "train":
                continue
            sh = shingles(t)
            if not sh:
                continue
            d = exp.setdefault(s, [0, 0, 0, 0])
            hits = len(sh & train)
            d[0] += 1
            d[1] += 1 if hits else 0
            d[2] += len(sh)
            d[3] += hits
        got = {
            r["split"]: (
                r["n_docs"],
                r["n_contaminated_docs"],
                r["n_ngrams"],
                r["n_hits"],
            )
            for r in contamination_report(df, n=N).collect()
        }
        assert got == {s: tuple(v) for s, v in exp.items()}, _case


def test_unit_contamination_matches_python_model(spark):
    """r12: unit-granularity decontamination vs a pure-Python model —
    per-split (n_docs, n_units, n_contaminated_units, n_ngrams,
    n_hits) over paragraph units, including units shorter than n
    (no shingles, absent) and empty units from leading delimiters."""
    import hashlib

    from flyq_spark.operators.corpus import unit_contamination

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    words = [f"w{j}" for j in range(30)]
    rows = []
    for i in range(1, 90):
        paras = []
        for k in range(1 + i % 3):
            start = (i + 7 * k) % 20
            paras.append(" ".join(words[start : start + 3 + (i + k) % 8]))
        text = "\n".join(paras)
        if i % 11 == 0:
            text = "\n" + text  # leading delimiter -> empty first unit
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    N = 5

    def unit_shingles(u):
        w = u.split(" ")
        return {" ".join(w[j : j + N]) for j in range(len(w) - N + 1)}

    train = set()
    for i, t in rows:
        if split_of(i) == "train":
            for u in t.split("\n"):
                train |= unit_shingles(u)
    exp: dict = {}
    for i, t in rows:
        s = split_of(i)
        if s == "train":
            continue
        docs_counted = False
        for u in t.split("\n"):
            sh = unit_shingles(u)
            if not sh:
                continue
            d = exp.setdefault(s, [set(), 0, 0, 0, 0])
            d[0].add(i)
            hits = len(sh & train)
            d[1] += 1
            d[2] += 1 if hits else 0
            d[3] += len(sh)
            d[4] += hits
    got = {
        r["split"]: (
            r["n_docs"],
            r["n_units"],
            r["n_contaminated_units"],
            r["n_ngrams"],
            r["n_hits"],
        )
        for r in unit_contamination(df, n=N).collect()
    }
    assert got == {s: (len(v[0]), v[1], v[2], v[3], v[4]) for s, v in exp.items()}
    assert any(v[2] > 0 for v in got.values())


def test_unit_contamination_catches_short_quoted_paragraph(spark):
    """The motivating audit gap: a train document QUOTES a short eval
    paragraph. Whole-document 8-gram shingles tokenize the newline INTO
    words ('end\\nStart' is one token), so a 9-word quoted paragraph
    has NO clean interior 8-gram and the exact whole-doc report counts
    zero hits — while unit granularity (n=5) flags it."""
    import hashlib

    from flyq_spark.operators.corpus import (
        contamination_report,
        unit_contamination,
    )

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    # find one eval id and two train ids
    eval_id = next(i for i in range(1, 200) if split_of(i) != "train")
    t1, t2 = [i for i in range(1, 200) if split_of(i) == "train"][:2]
    para = "alpha beta gamma delta epsilon zeta eta theta iota"  # 9 words
    assert len(para.split()) == 9
    rows = [
        (eval_id, "evfill1 evfill2 evfill3 evfill4 evfill5\n" + para
                  + "\nevtail1 evtail2 evtail3 evtail4 evtail5"),
        (t1, "trfill1 trfill2 trfill3 trfill4 trfill5\n" + para
             + "\ntrtail1 trtail2 trtail3 trtail4 trtail5"),
        (t2, "noise1 noise2 noise3 noise4 noise5 noise6 noise7 noise8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    whole = {r["split"]: r["n_hits"]
             for r in contamination_report(df, n=8).collect()}
    unit = {r["split"]: (r["n_contaminated_units"], r["n_hits"])
            for r in unit_contamination(df, n=5).collect()}
    s = split_of(eval_id)
    assert whole.get(s, 0) == 0          # exact whole-doc screen: blind
    assert unit[s][0] >= 1 and unit[s][1] >= 1  # unit screen: flagged


def test_contamination_normalize_recovers_perturbed_hits(spark):
    """r12: the normalized decontamination variant. Perturb the corpus
    deterministically (upper-casing, comma/punctuation injection,
    hyphen noise); the EXACT report on the perturbed corpus loses
    hits, while normalize=True equals the exact report on the ORIGINAL
    corpus exactly — _norm_text is a true canonicalization for these
    edits. Also pins _norm_text literals."""
    import hashlib

    from pyspark.sql import Row

    from flyq_spark.operators.corpus import _norm_text, contamination_report

    # literal pin: lower, punct -> space, collapse, trim
    got = (
        spark.createDataFrame(
            [Row(t="  Foo,BAR!!  baz--qux  7x  ")]
        )
        .select(_norm_text(F.col("t")).alias("n"))
        .collect()[0]["n"]
    )
    assert got == "foo bar baz qux 7x"

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    words = [f"w{j}" for j in range(25)]
    rows = []
    for i in range(1, 140):
        start = i % 12
        rows.append((i, " ".join(words[start : start + 9 + i % 5])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # perturb EVAL docs only (case + punctuation edits; train stays
    # raw) so the exact screen provably goes blind — a class-consistent
    # perturbation would leave same-class cross-split matches alive
    def perturb(i, t):
        if split_of(i) == "train":
            return t
        return t.upper() if i % 2 == 0 else t.replace(" ", ", ")

    pert = spark.createDataFrame(
        [(i, perturb(i, t)) for i, t in rows], "doc_id long, text string"
    )

    exact_orig = sorted(tuple(r) for r in contamination_report(df, n=8).collect())
    exact_pert = sorted(
        tuple(r) for r in contamination_report(pert, n=8).collect()
    )
    norm_pert = sorted(
        tuple(r)
        for r in contamination_report(pert, n=8, normalize=True).collect()
    )
    assert norm_pert == exact_orig
    assert any(v[4] > 0 for v in exact_orig)  # fixture has real leakage
    # the exact screen on the split-aware-perturbed corpus finds NOTHING
    orig_hits = {v[0]: v[4] for v in exact_orig}
    pert_hits = {v[0]: v[4] for v in exact_pert}
    assert all(orig_hits[s] > 0 for s in orig_hits)
    assert all(pert_hits.get(s, 0) == 0 for s in orig_hits)


def test_release_audit_matches_python_model(spark):
    """r12: the composed release QA table vs a pure-Python model over a
    fixture with real exact duplicates (the sf corpus has none), quality
    failures (short + repetitive docs), and train->eval leakage."""
    import hashlib

    from flyq_spark.operators.corpus import release_audit

    def split_of(i):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        return "test" if p < "0d" else ("val" if p < "1a" else "train")

    words = [f"w{j}" for j in range(30)]
    rows = []
    for i in range(1, 150):
        if i % 13 == 0:
            text = "dup dup dup " + " ".join(words[:20])  # repetitive_word
        elif i % 17 == 0:
            text = "tiny doc"  # too_short
        else:
            start = i % 10  # few start positions -> exact dups + leakage
            text = " ".join(words[start : start + 22])
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    N = 8

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[j : j + N]) for j in range(len(w) - N + 1)}

    def quality_bad(t):
        w = t.split(" ")
        n = len(w)
        if n < 20:
            return True
        from collections import Counter

        top = Counter(w).most_common(1)[0][1]
        if top * 100 > n * 15:
            return True
        bgs = [" ".join(w[j : j + 2]) for j in range(n - 1)]
        return (len(bgs) - len(set(bgs))) * 100 > len(bgs) * 10

    train_sh = set()
    for i, t in rows:
        if split_of(i) == "train":
            train_sh |= shingles(t)
    exp: dict = {}
    texts_by_split: dict = {}
    for i, t in rows:
        s = split_of(i)
        d = exp.setdefault(s, [0, 0, 0, 0])
        d[0] += 1
        texts_by_split.setdefault(s, []).append(t)
        if quality_bad(t):
            d[2] += 1
        if s != "train" and shingles(t) & train_sh:
            d[3] += 1
    for s, ts in texts_by_split.items():
        exp[s][1] = len(ts) - len(set(ts))

    got = {
        r["split"]: (
            r["n_docs"],
            r["n_dup_docs"],
            r["n_quality_bad"],
            r["n_contaminated_docs"],
        )
        for r in release_audit(df, n=N).collect()
    }
    assert got == {s: tuple(v) for s, v in exp.items()}
    # the fixture exercises every column
    assert any(v[1] > 0 for v in got.values())
    assert any(v[2] > 0 for v in got.values())
    assert any(v[3] > 0 for v in got.values())
    assert got["train"][3] == 0


def test_epoch_schedule_budget_and_annealing(spark):
    """r12: the 3-epoch annealed schedule (alpha 1000 -> 500 -> 250)
    holds the budget theorem per epoch and actually anneals — the tail
    source's share strictly grows with flattening while the head
    source's strictly shrinks."""
    from flyq_spark.operators.corpus import mixture_build

    rows = (
        [(i, "head") for i in range(1, 401)]
        + [(i, "mid") for i in range(401, 481)]
        + [(i, "tail") for i in range(481, 491)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    budget = 997
    shares = {}
    for e, alpha in enumerate((1000, 500, 250)):
        out = mixture_build(df, "source", alpha, budget).collect()
        per_src: dict = {}
        for r in out:
            per_src[r["source"]] = per_src.get(r["source"], 0) + r["n_copies"]
        assert sum(per_src.values()) == budget, (e, per_src)
        shares[e] = per_src
    assert shares[0]["head"] > shares[1]["head"] > shares[2]["head"]
    assert shares[0]["tail"] < shares[1]["tail"] < shares[2]["tail"]


def _ref_bpe_exact(texts, n):
    """Independent pure-Python reference for the exact trainer over
    lowercased whitespace words: count pairs over the word-frequency
    vocab, argmax with lexicographic tie-break, merge left-to-right
    non-overlapping; no early stop. Returns (rank, left, right,
    merged, count) rows."""
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            vocab[w] += 1
    state: dict = {}
    for w, f in vocab.items():
        k = tuple(list(w) + ["</w>"])
        state[k] = state.get(k, 0) + f
    merges = []
    for rank in range(1, n + 1):
        pairs: Counter = Counter()
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, c))
        new: dict = {}
        for syms, f in state.items():
            out, skip = [], False
            for i, s in enumerate(syms):
                if skip:
                    skip = False
                    continue
                if s == a and i + 1 < len(syms) and syms[i + 1] == b:
                    out.append(a + b)
                    skip = True
                else:
                    out.append(s)
            k = tuple(out)
            new[k] = new.get(k, 0) + f
        state = new
    return merges


def _exact_rows(df, n):
    from flyq_spark.operators.bpe import train_bpe_exact

    return [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"],
         r["pair_count"])
        for r in train_bpe_exact(df, n).collect()
    ]


def _ref_pair_counts(texts):
    from collections import Counter

    ref_pairs: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            syms = list(w) + ["</w>"]
            for i in range(len(syms) - 1):
                ref_pairs[(syms[i], syms[i + 1])] += 1
    return dict(ref_pairs)


def test_train_bpe_exact_matches_python_reference(spark, monkeypatch):
    """The BPE trainer must learn the IDENTICAL merge table — rank for
    rank, count for count — as an independent pure-Python
    implementation of Sennrich et al.'s algorithm, including cascaded
    merges (es -> est -> est</w>) and the repeated-symbol overlap rule
    (aaa merges to [aa, a], never [aa, aa])."""
    import pytest

    from flyq_spark.operators import bpe as bpe_mod

    texts = [
        "low lower newest widest low low newest",
        "the newest widest low the the",
        "aaa aaa baaab",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # the small-input driver-local path (default: this fixture is tiny)
    # and the DISTRIBUTED ladder must BOTH match the reference — and
    # hence each other
    got_local = _exact_rows(df, 12)
    monkeypatch.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", 0)
    got_dist = _exact_rows(df, 12)
    assert got_dist == _ref_bpe_exact(texts, 12)
    assert got_local == _ref_bpe_exact(texts, 12)

    # pair counts agree with the reference's round-1 counter
    got_pairs = {
        (r["left_sym"], r["right_sym"]): r["pair_count"]
        for r in bpe_mod.bpe_pair_counts(df).collect()
    }
    assert got_pairs == _ref_pair_counts(texts)

    # n_merges < 1 is rejected by every entry point
    for train in (bpe_mod.train_bpe_exact, bpe_mod.train_bpe):
        with pytest.raises(ValueError, match="n_merges"):
            train(df, 0)


def test_bpe_symbols_are_code_points(spark, monkeypatch):
    """Words split into Unicode code points, not UTF-16 units: an emoji
    (outside the BMP) is ONE symbol, as Python's list(word) and the
    DuckDB bpe_pairs oracle see it — a surrogate-unit split would turn
    it into two lone surrogates that reach Python as '?'. Accented
    letters stay single symbols too. Both trainer paths and the pair
    statistic must match the pure-Python reference."""
    from flyq_spark.operators import bpe as bpe_mod

    texts = [
        "a😀b a😀b café café naïve 😀😀 über",
        "caf\u00e9 😀😀 a😀b 𠜎𠜎x naïve über über",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got_pairs = {
        (r["left_sym"], r["right_sym"]): r["pair_count"]
        for r in bpe_mod.bpe_pair_counts(df).collect()
    }
    assert got_pairs == _ref_pair_counts(texts)
    assert got_pairs[("a", "😀")] == 3
    expected = _ref_bpe_exact(texts, 10)
    assert any("😀" in m for _, _, _, m, _ in expected)
    assert _exact_rows(df, 10) == expected
    monkeypatch.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", 0)
    assert _exact_rows(df, 10) == expected


def test_train_bpe_exact_exhausts_vocabulary(spark, monkeypatch):
    """Asking for more merges than the vocabulary has adjacent pairs
    stops early with exactly the merges that exist (a single word
    collapses to one symbol in len(word) merges)."""
    from flyq_spark.operators import bpe as bpe_mod

    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    # early-stop must hold on BOTH execution paths: local, then ladder
    for force_ladder in (False, True):
        if force_ladder:
            monkeypatch.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", 0)
        rows = bpe_mod.train_bpe_exact(df, 50).collect()
        # "ab</w>" has symbols [a, b, </w>]: 2 merges then nothing left
        assert [r["merged"] for r in rows] == ["ab", "ab</w>"]
        assert [r["pair_count"] for r in rows] == [3, 3]


def test_train_bpe_exact_multi_round_multi_partition(spark, monkeypatch):
    """Regression net for the lazy-checkpoint lifecycle (ADVICE r12):
    the deferred release of each superseded round is only safe
    because the next argmax's full aggregation materializes EVERY
    partition of the new lazy checkpoint before the old blocks drop.
    Drive >2 merge rounds with the vocab spread over several
    partitions so a short-circuiting action (the failure mode the
    in-code comment guards against) would visibly lose rows: the merge
    table must still match the pure-Python reference exactly."""
    from flyq_spark.operators import bpe as bpe_mod

    # 40 distinct words over a 4-letter alphabet -> many rounds of
    # dense pair statistics across 8 partitions
    words = [
        "".join("abcd"[(i * 7 + j * 3) % 4] for j in range(3 + i % 5))
        for i in range(40)
    ]
    text_rows = [(i, " ".join(words[i : i + 5])) for i in range(36)]
    df = spark.createDataFrame(
        text_rows, "doc_id long, text string"
    ).repartition(8)
    expected = _ref_bpe_exact([t for _, t in text_rows], 10)

    # this test exists to exercise the DISTRIBUTED checkpoint
    # lifecycle, so force the ladder
    monkeypatch.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", 0)
    got = _exact_rows(df, 10)
    assert got == expected
    assert len(got) == 10  # the fixture sustains all requested rounds


def _cached_rdd_ids(spark) -> set:
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_train_bpe_exact_vocab_cap_overflow_falls_through(spark, monkeypatch):
    """An input whose DISTINCT vocab overflows the driver cap must fall
    through the probe to the distributed ladder and still learn the
    right table (the bounded limit-collect is a probe, never a
    truncation) — scanning the corpus ONCE: the probe's vocab is
    checkpointed and handed to the ladder, not recomputed. Every
    checkpoint the trainer made is released when it returns."""
    from pyspark.sql import functions as F

    from flyq_spark.operators import bpe as bpe_mod

    rows = [(1, "low lower newest low low"), (2, "newest widest lower")]
    scanned = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tap(text):
        scanned.add(1)
        return text

    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", tap("text").alias("text")
    )
    texts = [t for _, t in rows]
    before = _cached_rdd_ids(spark)
    # vocab here is 4 distinct words; cap of 2 forces the overflow path
    with monkeypatch.context() as m:
        m.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", 2)
        assert _exact_rows(df, 5) == _ref_bpe_exact(texts, 5)
    assert scanned.value == len(rows)
    assert _cached_rdd_ids(spark) - before == set()
    # the local path releases its probe checkpoint too
    assert _exact_rows(df, 5) == _ref_bpe_exact(texts, 5)
    assert scanned.value == 2 * len(rows)
    assert _cached_rdd_ids(spark) - before == set()


def test_train_bpe_is_the_exact_trainer_on_both_paths(spark, monkeypatch):
    """train_bpe is a view of the one trainer: its merge list equals
    the independent reference (which stops once no pair repeats)
    whether the vocab runs through the driver-local loop (default) or,
    with the driver cap below the fixture's vocab, the ladder."""
    from flyq_spark.operators import bpe as bpe_mod

    texts = [
        "low lower newest widest low low newest",
        "the newest widest low the the unique",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    freqs: dict = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    expected = _ref_bpe_train(freqs, 15)
    assert len(expected) >= 3  # the fixture actually exercises merges
    assert bpe_mod.train_bpe(df, n_merges=15) == expected
    monkeypatch.setattr(bpe_mod, "_LOCAL_VOCAB_CAP", len(freqs) - 1)
    assert bpe_mod.train_bpe(df, n_merges=15) == expected


def test_ngram_overlap_stats_matches_python_model(spark):
    """Clipped n-gram matches / candidate totals / reference totals vs
    an independent Counter model: clipping bites (cand 'a'x3 vs ref
    'a'x2 -> 2), an empty candidate still reports the reference mass, a
    NULL id is ONE pair (null-safe full outer join — a name join would
    split its two sides into separate rows and zero the clip), and a
    pair too short for n on both sides contributes no (id, n) row."""
    from collections import Counter

    from flyq_spark.operators.text import ngram_overlap_stats

    rows = [
        (1, "the cat sat on the mat", "the cat sat on the red mat"),
        (2, "a a a b", "a b a"),
        (3, "", "ref only words here"),
        (None, "x y", "y x"),
        (5, "one", "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cand string, ref string")
    got = {
        (r["doc_id"], r["n"]): (r["match_clipped"], r["n_cand"], r["n_ref"])
        for r in ngram_overlap_stats(df, "cand", "ref", max_n=2).collect()
    }

    def ngr(t, n):
        w = [x for x in t.split() if x]
        return Counter(tuple(w[i: i + n]) for i in range(len(w) - n + 1))

    exp = {}
    for i, c, r in rows:
        for n in (1, 2):
            cc, rc = ngr(c, n), ngr(r, n)
            if not cc and not rc:
                continue
            exp[(i, n)] = (
                sum(min(v, rc[g]) for g, v in cc.items()),
                sum(cc.values()),
                sum(rc.values()),
            )
    assert got == exp
    # identical pair: full clip at every n
    assert got[(5, 1)] == (1, 1, 1)
    # sanity: corpus BLEU-1 precision for pair 2 is 3/4 from the ints
    m, nc, _ = got[(2, 1)]
    assert (m, nc) == (3, 4)

    import pytest

    with pytest.raises(ValueError, match="max_n"):
        ngram_overlap_stats(df, "cand", "ref", max_n=0)


def test_chat_turn_offsets_matches_python_model(spark):
    """Per-turn rendered-token offsets vs a pure-Python replay of the
    rendering contract (n_words + 2 tag tokens per turn, running
    starts): empty and NULL content are 2-token turns that do NOT
    poison later offsets, a NULL conversation id is a real group, and
    zip(tok_start, n_tokens) over is_loss rows is contiguous with the
    non-loss rows (the full render has no gaps)."""
    from flyq_spark.operators.corpus import chat_turn_offsets

    rows = [
        (
            1,
            [
                ("system", "you are helpful"),
                ("user", "hi there"),
                ("assistant", "hello friend how are you"),
            ],
        ),
        (2, [("user", ""), ("assistant", "ok")]),
        (3, [("user", None), ("assistant", "after null")]),
        (None, [("assistant", "x")]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, turns array<struct<role string, content string>>"
    )
    got = {
        (r["doc_id"], r["turn_idx"]): (
            r["role"], r["n_tokens"], r["tok_start"], r["is_loss"]
        )
        for r in chat_turn_offsets(df).collect()
    }
    exp = {}
    for i, turns in rows:
        cum = 0
        for j, (role, c) in enumerate(turns):
            n = len([w for w in (c or "").split() if w]) + 2
            exp[(i, j)] = (role, n, cum, 1 if role == "assistant" else 0)
            cum += n
    assert got == exp
    # no-gaps render: each turn starts where the previous one ended
    for i, turns in rows:
        cum = 0
        for j in range(len(turns)):
            assert got[(i, j)][2] == cum
            cum += got[(i, j)][1]
    # custom loss roles
    got2 = chat_turn_offsets(df, loss_roles=("user", "system")).collect()
    assert all(
        (r["is_loss"] == 1) == (r["role"] in ("user", "system")) for r in got2
    )


def test_fim_transform_matches_python_model(spark):
    """PSM rewrite vs a pure-Python replay of the (seed, id) hash
    contract: coin membership, split points 0 <= a <= b <= n, the
    exact PSM word order, n+3 output tokens on transformed docs,
    pass-through for empty/NULL text and NULL ids, rate_permille 0 and
    1000 extremes, and seed sensitivity."""
    import hashlib

    from flyq_spark.operators.corpus import fim_transform

    rows = [(i, " ".join(f"w{j}" for j in range(i % 7))) for i in range(60)]
    rows += [(100, ""), (101, None), (None, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def h60(salt, i, seed=7):
        return int(
            hashlib.md5(f"{seed}:{salt}:{i}".encode()).hexdigest()[:15], 16
        )

    got = {
        r["doc_id"]: (r["fim_applied"], r["text_out"])
        for r in fim_transform(df, seed=7).collect()
    }
    exp = {}
    for i, t in rows:
        w = [x for x in (t or "").split() if x]
        n = len(w)
        if i is None or n < 1 or h60("fim", i) % 1000 >= 500:
            exp[i] = (0, t)
            continue
        a = h60("a", i) % (n + 1)
        b = a + h60("b", i) % (n - a + 1)
        exp[i] = (
            1,
            " ".join(
                ["<fim_prefix>"] + w[:a] + ["<fim_suffix>"] + w[b:]
                + ["<fim_middle>"] + w[a:b]
            ),
        )
    assert got == exp
    for i, t in rows:
        if got[i][0]:
            n = len([x for x in (t or "").split() if x])
            assert len(got[i][1].split()) == n + 3

    all_on = fim_transform(df, seed=7, rate_permille=1000).collect()
    assert all(
        r["fim_applied"] == (1 if r["doc_id"] is not None
                             and (rows_by := dict(rows))[r["doc_id"]]
                             and (rows_by[r["doc_id"]] or "").split() else 0)
        for r in all_on
    )
    assert all(
        r["fim_applied"] == 0
        for r in fim_transform(df, seed=7, rate_permille=0).collect()
    )
    other_seed = {
        r["doc_id"]: r["fim_applied"]
        for r in fim_transform(df, seed=8).collect()
    }
    assert other_seed != {k: v[0] for k, v in got.items()}

    import pytest

    with pytest.raises(ValueError, match="rate_permille"):
        fim_transform(df, rate_permille=1001)


def test_ngram_overlap_stats_char_unit(spark):
    """unit='char' (chrF's unit): character n-grams over the
    whitespace-STRIPPED pair vs a Counter model — same clipping, same
    triple; word boundaries don't inflate matches ('aa b' vs 'a ab'
    have identical stripped char streams), and unit validation is
    loud."""
    from collections import Counter

    from flyq_spark.operators.text import ngram_overlap_stats

    rows = [
        (1, "the cat sat", "the cat spat"),
        (2, "aa b", "a ab"),
        (3, "", "xyz"),
        (None, "ab", "ba"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cand string, ref string")
    got = {
        (r["doc_id"], r["n"]): (r["match_clipped"], r["n_cand"], r["n_ref"])
        for r in ngram_overlap_stats(
            df, "cand", "ref", max_n=3, unit="char"
        ).collect()
    }

    def cgr(t, n):
        s = "".join((t or "").split())
        return Counter(s[i: i + n] for i in range(len(s) - n + 1))

    exp = {}
    for i, c, r in rows:
        for n in (1, 2, 3):
            cc, rc = cgr(c, n), cgr(r, n)
            if not cc and not rc:
                continue
            exp[(i, n)] = (
                sum(min(v, rc[g]) for g, v in cc.items()),
                sum(cc.values()),
                sum(rc.values()),
            )
    assert got == exp
    # identical stripped streams -> full clip at every n
    assert got[(2, 1)][0] == got[(2, 1)][1] == got[(2, 1)][2]

    import pytest

    with pytest.raises(ValueError, match="unit"):
        ngram_overlap_stats(df, "cand", "ref", unit="byte")


def test_validate_chat_matches_python_model(spark):
    """Chat hygiene flags vs a pure-Python replay of the policy: role
    repeats counted (not just flagged), opens-with-system/user,
    closes-on-assistant, empty/NULL content counted, NULL turns array
    = empty conversation, single-turn and empty conversations
    invalid."""
    from flyq_spark.operators.corpus import validate_chat

    rows = [
        (1, [("system", "a b"), ("user", "hi"), ("assistant", "ok")]),
        (2, [("user", "q"), ("user", "q2"), ("assistant", "a")]),  # repeat
        (3, [("assistant", "starts wrong"), ("user", "x")]),
        (4, [("user", "q"), ("assistant", "")]),  # empty content
        (5, [("user", "q"), ("assistant", None)]),  # NULL content
        (6, [("user", "only one turn")]),
        (7, None),  # NULL conversation
        (8, [("user", "u"), ("assistant", "a"), ("user", "trailing")]),
        (9, [("user", "u"), ("user", "u"), ("user", "u")]),  # 2 repeats
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, turns array<struct<role string, content string>>"
    )
    got = {
        r["doc_id"]: (
            r["n_turns"], r["n_empty"], r["n_role_repeats"],
            r["starts_ok"], r["ends_ok"], r["is_valid"],
        )
        for r in validate_chat(df).collect()
    }
    exp = {}
    for i, turns in rows:
        t = turns or []
        n_turns = len(t)
        n_empty = sum(1 for _, c in t if not (c or "").strip())
        n_rep = sum(1 for a, b in zip(t, t[1:]) if a[0] == b[0])
        starts = 1 if t and t[0][0] in ("system", "user") else 0
        ends = 1 if t and t[-1][0] == "assistant" else 0
        valid = int(
            n_turns >= 2 and n_empty == 0 and n_rep == 0
            and starts == 1 and ends == 1
        )
        exp[i] = (n_turns, n_empty, n_rep, starts, ends, valid)
    assert got == exp
    # the one fully clean conversation is doc 1
    assert got[1][5] == 1
    assert sum(v[5] for v in got.values()) == 1


def test_preference_pairs_matches_python_model(spark):
    """DPO pair assembly vs a Python replay: argmax/argmin by
    (reward, id) struct order — reward ties break toward the LARGEST
    id for chosen and SMALLEST for rejected — margin filter, and
    single-member / all-tied groups dropped."""
    import pytest

    from flyq_spark.operators.corpus import preference_pairs

    rows = [
        ("g1", 1, 10), ("g1", 2, 90), ("g1", 3, 40),
        ("g2", 4, 50), ("g2", 5, 50), ("g2", 6, 50),  # all tied -> drop
        ("g3", 7, 30),                                # single -> drop
        ("g4", 8, 20), ("g4", 9, 60),                 # margin 40 < 50
        ("g5", 10, 0), ("g5", 11, 100), ("g5", 12, 100),  # tied top
    ]
    df = spark.createDataFrame(rows, "grp string, doc_id long, reward long")
    got = {
        r["grp"]: (
            r["chosen_id"], r["rejected_id"],
            r["chosen_reward"], r["rejected_reward"], r["margin"],
        )
        for r in preference_pairs(
            df, ("grp",), id_col="doc_id", min_margin=50
        ).collect()
    }
    assert got == {
        "g1": (2, 1, 90, 10, 80),
        # tied chosen rewards 100: struct max takes the larger id 12
        "g5": (12, 10, 100, 0, 100),
    }
    # min_margin=1 admits g4
    got2 = {
        r["grp"]
        for r in preference_pairs(df, ("grp",), id_col="doc_id").collect()
    }
    assert got2 == {"g1", "g4", "g5"}
    with pytest.raises(ValueError, match="group_cols"):
        preference_pairs(df, ())
    with pytest.raises(ValueError, match="min_margin"):
        preference_pairs(df, ("grp",), min_margin=0)


def test_threshold_match_counts_matches_numpy(spark):
    """Broadcast-GEMM radius counts vs a dense numpy model: per-query
    corpus neighbors with cosine >= tau, same-label sub-counts,
    zero-match queries present with 0, and the no-label variant omits
    the label column."""
    import numpy as np

    from flyq_spark.operators.similarity import threshold_match_counts

    rng = np.random.default_rng(7)
    C = rng.normal(size=(40, 8))
    # dominant POSITIVE first coordinate on every corpus vector: the
    # first-axis-negative probe below then has cosine < 0 against the
    # whole corpus — a guaranteed zero-match query at any tau > 0
    C[:, 0] = np.abs(C[:, 0]) + 3.0
    Q = rng.normal(size=(6, 8))
    Q[5] = 0.0
    Q[5, 0] = -1.0
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in C[i]], int(i % 3)) for i in range(len(C))],
        "vec_id long, embedding array<double>, label int",
    )
    queries = spark.createDataFrame(
        [(100 + i, [float(x) for x in Q[i]], int(i % 3)) for i in range(len(Q))],
        "query_id long, embedding array<double>, label int",
    )
    got = {
        r["query_id"]: (r["n_matches"], r["n_same_label"])
        for r in threshold_match_counts(
            corpus, queries, 0.6, label_col="label"
        ).collect()
    }
    Cn = C / np.linalg.norm(C, axis=1)[:, None]
    Qn = Q / np.linalg.norm(Q, axis=1)[:, None]
    S = Qn @ Cn.T
    exp = {}
    for qi in range(len(Q)):
        hits = S[qi] >= 0.6
        same = sum(
            1 for ci in np.nonzero(hits)[0] if ci % 3 == qi % 3
        )
        exp[100 + qi] = (int(hits.sum()), int(same))
    assert got == exp
    assert got[105] == (0, 0)  # zero-match query still reported
    # no-label variant: two columns only, same match counts
    no_lab = threshold_match_counts(corpus, queries, 0.6)
    assert no_lab.columns == ["query_id", "n_matches"]
    got_nl = {r["query_id"]: r["n_matches"] for r in no_lab.collect()}
    assert got_nl == {k: v[0] for k, v in exp.items()}
    # empty queries -> empty typed result
    empty = threshold_match_counts(corpus, queries.where("query_id < 0"), 0.6)
    assert empty.count() == 0


def test_rouge_l_stats_matches_dp_model(spark):
    """Bit-parallel LLCS vs the classic O(mn) DP on randomized word
    lists (repeats, disjoint, identical, empty, NULL) plus the
    candidate-truncation contract and the 60-word bit-budget guard."""
    import random

    import pytest

    from flyq_spark.operators.text import rouge_l_stats

    def dp(a, b):
        t = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                t[i][j] = (
                    t[i - 1][j - 1] + 1
                    if a[i - 1] == b[j - 1]
                    else max(t[i - 1][j], t[i][j - 1])
                )
        return t[len(a)][len(b)]

    rng = random.Random(11)
    rows = [
        (0, "", ""),
        (1, None, "a b"),
        (2, "a b c", None),
        (3, "a a a", "a a"),
        (4, "x y z", "p q r"),
    ]
    for i in range(5, 60):
        a = " ".join(rng.choice("abcdefg") for _ in range(rng.randint(0, 25)))
        b = " ".join(rng.choice("abcdefg") for _ in range(rng.randint(0, 60)))
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "doc_id long, cand string, ref string")
    got = {
        r["doc_id"]: (r["lcs_len"], r["n_cand"], r["n_ref"])
        for r in rouge_l_stats(df, "cand", "ref").collect()
    }
    for i, cand, ref in rows:
        a = (cand or "").split()
        b = (ref or "").split()
        assert got[i] == (dp(a, b), len(a), len(b)), (i, a, b)
    # candidate truncation: LCS computed on the first max_cand_words
    long_df = spark.createDataFrame(
        [(1, " ".join(["w"] * 50), " ".join(["w"] * 50))],
        "doc_id long, cand string, ref string",
    )
    r = rouge_l_stats(long_df, "cand", "ref", max_cand_words=10).collect()[0]
    assert (r["lcs_len"], r["n_cand"], r["n_ref"]) == (10, 10, 50)
    with pytest.raises(ValueError, match="max_cand_words"):
        rouge_l_stats(df, "cand", "ref", max_cand_words=61)
    with pytest.raises(ValueError, match="max_cand_words"):
        rouge_l_stats(df, "cand", "ref", max_cand_words=0)
