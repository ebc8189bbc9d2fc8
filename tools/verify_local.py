"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the oracle on DuckDB over the same parquet fixtures;
compares row count, column names, and order-insensitive canonicalized
values. Usage:

    python tools/verify_local.py [--pandas] [sf_dir] [query ...]

``--pandas`` additionally replays the driver's EXACT hash path (sort
columns by name, sort_values over all columns, md5 of to_csv with
%.10g floats) — the canonicalizer here is value-equivalent but not
byte-identical to the driver's, so run --pandas before windowing any
query with new or type-changed columns (float formatting and list
dtypes only bite on that path)."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        return "t:" + v.isoformat()
    if isinstance(v, int):
        return f"i:{v}"
    return "s:" + str(v)


def canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def pandas_hash(df) -> str:
    """The driver's canonicalization: columns sorted by name, rows by
    all columns, md5 of the CSV with %.10g float formatting."""
    import hashlib

    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols).reset_index(drop=True)
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.10g").encode()
    ).hexdigest()


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--pandas"]
    use_pandas = "--pandas" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entry_mod
    from flyq_spark.session import get_spark

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({took:.1f}s) [no oracle]")
            continue
        try:
            # Fetch via Arrow, mirroring the driver's gate: fetchall()
            # converts DuckDB HUGEINT to Python int and masks type leaks
            # (e.g. a bare sum() widening BIGINT -> HUGEINT -> Arrow
            # decimal128(38,0)) that the driver's Arrow path fails on.
            tbl = con.sql(oracles[name]).arrow()
            ocols = list(tbl.column_names)
            pycols = [c.to_pylist() for c in tbl.columns]
            orows = [tuple(r) for r in zip(*pycols)] if pycols else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        if not problems:
            a, b = canon_rows(cols, rows), canon_rows(ocols, orows)
            if a != b:
                diff = next(
                    (i for i, (x, y) in enumerate(zip(a, b)) if x != y), len(a) - 1
                )
                problems.append(
                    f"values differ; first diff at sorted row {diff}:\n"
                    f"    spark : {a[diff] if diff < len(a) else '<none>'}\n"
                    f"    oracle: {b[diff] if diff < len(b) else '<none>'}"
                )
        if not problems and use_pandas:
            try:
                # Spark re-executes via toPandas (faithful to the
                # driver's fetch path — collected Rows coerce types
                # differently); the oracle reuses the Arrow table the
                # canon comparison already fetched
                sp_pdf = fn(spark, sf_dir).toPandas()
                oc_pdf = tbl.to_pandas()
                if pandas_hash(sp_pdf) != pandas_hash(oc_pdf):
                    problems.append("pandas-path hash mismatch")
            except Exception as e:
                problems.append(f"pandas-path error: {e}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: {len(rows)} rows ({took:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
