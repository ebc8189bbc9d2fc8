"""Driver-contract smoke tests: entry() under a vanilla session (the
driver builds its own SparkSession without our factory's confs), and
queries()/oracle_sql() consistency."""

from __future__ import annotations


def test_queries_and_oracles_consistent():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs), "oracle without a query"
    assert len(qs) >= 30
    # the documented rows-only set is exactly the non-oracle remainder
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "unigram_surprisal",
        "mmr_topk",
        "bpe_merges",
        # the merge table with counts shares bpe_merges' blocker
        # (iterative argmax has no single SQL form); its inner
        # statistic IS oracle-backed (bpe_pairs) and the one trainer is
        # reference-pinned on both its driver and ladder paths in pytest
        "bpe_merges_exact",
        "bpe_encode_stats",
        "simhash_neardup",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "kmeans_centroids",
        "bm25_top10",
        "pq_topk",
        "sketch_stats",
        "semdedup",
        "pagerank_neardup",
        "source_overlap",
        "compression_quality",
        "series_dtw",
        "lsh_tuning",
        "ivf_tuning",
        # r7: FFD bin packing is sequential per directory (no SQL
        # form) and physical file sizes are encoder-specific
        "compaction_plan",
        # r7: IVF-PQ shares pq_topk's blocker (float ADC distances)
        "ivfpq_topk",
        # (r8 removed audio_segments, capped_sessions, lpa_communities
        # from this set: their "no SQL form" claims fell to integer
        # run-length SQL, a recursive CTE, and a 5-round unroll —
        # each validated against an independent model first)
        # r9: float eigh has no SQL replay; the numpy-pinned pytest +
        # the gate's own distributed variance-equals-eigenvalue check
        # carry correctness instead
        "embedding_pca",
    }


def test_oracle_arrow_schemas_are_driver_safe():
    """The driver fetches oracle results via Arrow; DuckDB widens bare
    sum(BIGINT) to HUGEINT -> Arrow decimal128(38,0), which the driver
    canonicalizes differently from Spark's int64 (hash mismatch with
    rows/schema matching — the r4/r5 red-row class). Every oracle must
    emit only driver-safe Arrow types; a decimal column here means a
    missing outer CAST(... AS BIGINT)."""
    import duckdb

    import __spark_entry__ as e
    from tests.conftest import SF_SMALL as sf

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    safe = {"int64", "int32", "double", "string", "large_string", "bool", "binary"}
    offenders = []
    for name, sql in e.oracle_sql().items():
        tbl = con.sql(sql).arrow()
        for f in tbl.schema:
            ts = str(f.type)
            if ts not in safe and not ts.startswith("timestamp"):
                offenders.append((name, f.name, ts))
    assert not offenders, f"driver-unsafe oracle output types: {offenders}"


def test_entry_runs_on_vanilla_session(spark):
    """entry() must work with whatever session the driver provides —
    read_table pins the confs it needs at runtime."""
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    cols = set(df.columns)
    assert {"part_id", "lag", "severity"} <= cols


def test_no_duplicate_keys_in_gate_dict_literals():
    """A duplicate key in the queries()/oracle_sql() dict LITERALS is
    silent (later wins), shadowing a gate query — exactly what happened
    when a second 'value_histogram' was added in r6. Parse the source
    and reject duplicate string keys inside any dict display."""
    import ast

    src = open("/root/repo/__spark_entry__.py").read()
    tree = ast.parse(src)
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            seen = {}
            for k in node.keys:
                if isinstance(k, ast.Constant) and isinstance(k.value, str):
                    if k.value in seen:
                        offenders.append((k.value, seen[k.value], k.lineno))
                    seen[k.value] = k.lineno
    assert not offenders, f"duplicate dict keys (name, first, dup): {offenders}"


def test_value_outliers_oracle_keeps_null_group(spark, tmp_path):
    """r11 ADVICE: the operator keeps a NULL event_type as a real group
    (eqNullSafe fence join, profile.py:robust_outliers) — the oracle
    must too. Run BOTH the gate and the oracle on a fixture with a NULL
    group and compare full rows (a USING join would silently drop it)."""
    import duckdb

    import __spark_entry__ as e

    rows = []
    # two named groups + a NULL group, each with clear low/high outliers
    for g, base in (("a", 10.0), ("b", 50.0), (None, 25.0)):
        rows += [(g, base + i * 0.25) for i in range(40)]
        rows += [(g, base + 500.0), (g, base - 500.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = [
        (r["event_type"], r["n_rows"], r["lo"], r["hi"], r["n_low"], r["n_high"])
        for r in e.queries()["value_outliers"](spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    want = [tuple(r) for r in con.sql(e.oracle_sql()["value_outliers"]).fetchall()]

    def key(t):
        return (t[0] is not None, t[0] or "")

    assert sorted(got, key=key) == sorted(want, key=key)
    assert any(t[0] is None for t in got), "fixture lost its NULL group"
    assert all(t[4] >= 1 and t[5] >= 1 for t in got)
