"""File-level data-skipping statistics from parquet footers.

The planning question a 100 TB table raises before every scan is
"how many files does this predicate actually touch?" — the answer
lives entirely in parquet footer metadata (per-row-group min/max and
row counts), so it should never cost a data scan. Spark uses those
stats internally for row-group pruning, but exposes no API to audit
them; this operator reads ONLY footers, distributed across the
cluster, and returns one row per file with the column's min/max
envelope — the input for skip-rate reports, layout audits (is the
table clustered on this column or are envelopes all overlapping?),
and compaction decisions.

Scale shape: the file listing is metadata-only; footer reads are
fanned out via ``mapInPandas`` over the path list (millions of
footers = millions of ~KB reads, embarrassingly parallel, no data
pages touched). Nothing about the table's row count appears anywhere
in the cost — a 100 TB table with 100k files costs 100k footer
fetches, same as a 1 GB table with 100k files.

Reference parity: FlyQ's sparse index (SURVEY §2 A6) answers point
lookups from per-segment index entries; this is the analytic analog
over parquet's native footer index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def file_stats(
    spark: SparkSession,
    path: str,
    columns: list[str],
    glob: str = "*.parquet",
    recursive: bool = True,
) -> DataFrame:
    """Per-file footer statistics for ``columns`` under ``path``.

    Returns one row per parquet file: ``(file, n_rows, n_row_groups)``
    — ``file`` is the path RELATIVE to ``path`` so hive-partition
    directories stay visible — plus typed ``<col>_min``/``<col>_max``
    columns for each requested column (footer min/max aggregated
    across the file's row groups; NULL when any row group lacks stats
    for the column — the conservative "cannot skip" signal).

    Exactness caveat: footer min/max equal the file's true min/max for
    numeric and short-string columns (the types the gate pins —
    event_id is numeric), but parquet writers MAY truncate statistics
    for long binary/string values, rounding max UP to a valid bound —
    still sound for skipping (``skipping_report`` never prunes a file
    it shouldn't), but a long-string column's reported envelope can be
    wider than the data, and pyarrow's ``has_min_max`` cannot detect
    that truncation — treat string envelopes as bounds, not exact
    extremes. Missing stats DO surface as NULL (the conservative
    "cannot skip" signal).
    """
    import glob as _glob

    pattern = os.path.join(path, "**", glob) if recursive else os.path.join(path, glob)
    paths = sorted(
        p
        for p in _glob.glob(pattern, recursive=recursive)
        if not os.path.basename(p).startswith((".", "_"))
    )
    if not paths:
        raise ValueError(f"no parquet files match {pattern}")

    cols = list(columns)
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_row_groups", T.LongType()),
    ]
    # Typed min/max per requested column, resolved from the parquet
    # schema at read time (long/double/string/timestamp cover what the
    # engine writes; others surface as strings).
    probe_schema = _arrow_schema(paths[0])
    out_types: dict[str, T.DataType] = {}
    for c in cols:
        out_types[c] = _spark_stat_type(probe_schema, c)
        fields.append(T.StructField(f"{c}_min", out_types[c]))
        fields.append(T.StructField(f"{c}_max", out_types[c]))
    schema = T.StructType(fields)

    path_df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), spark.sparkContext.defaultParallelism)
    )

    root = path

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
                row: dict = {
                    "file": os.path.relpath(p, root),
                    "n_rows": md.num_rows,
                    "n_row_groups": md.num_row_groups,
                }
                for c in cols:
                    mn = mx = None
                    ok = c in name_to_idx
                    idx = name_to_idx.get(c)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics if ok else None
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        lo, hi = _normalize(st.min), _normalize(st.max)
                        mn = lo if mn is None or lo < mn else mn
                        mx = hi if mx is None or hi > mx else mx
                    row[f"{c}_min"] = mn if ok else None
                    row[f"{c}_max"] = mx if ok else None
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return path_df.mapInPandas(read_footers, schema=schema)


def skipping_report(
    stats: DataFrame, column: str, lo, hi
) -> DataFrame:
    """Annotate ``file_stats`` output with the skip decision for
    ``column BETWEEN lo AND hi``: a file is skipped iff its footer
    envelope proves no row can match (``max < lo`` or ``min > hi``).
    Files without stats are never skipped (conservative). Pure
    projection — composes with any downstream aggregate (skip-rate,
    rows-avoided) without another footer read."""
    mn, mx = F.col(f"{column}_min"), F.col(f"{column}_max")
    skipped = F.when(
        mn.isNull() | mx.isNull(), F.lit(False)
    ).otherwise((mx < F.lit(lo)) | (mn > F.lit(hi)))
    return stats.withColumn("skipped", skipped)


def _arrow_schema(path: str):
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).schema_arrow


def _spark_stat_type(arrow_schema, col: str) -> T.DataType:
    import pyarrow as pa

    try:
        t = arrow_schema.field(col).type
    except KeyError:
        return T.StringType()
    if pa.types.is_integer(t):
        return T.LongType()
    if pa.types.is_floating(t):
        return T.DoubleType()
    if pa.types.is_timestamp(t):
        return T.TimestampType()
    return T.StringType()


def _normalize(v):
    """Footer stat values arrive as Python scalars; tz-aware
    timestamps (isAdjustedToUTC) are converted to naive UTC so they
    compare and render identically to Spark's session-local values."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def file_sizes(
    spark: SparkSession,
    path: str,
    glob: str = "*.parquet",
    recursive: bool = True,
) -> DataFrame:
    """Per-file byte sizes under ``path``: (dir, file, bytes) with
    ``dir`` relative to ``path`` ('' at the root) — the metadata input
    for ``compaction_plan``. Distributed like ``file_stats``: the
    listing is driver-side, the stat() calls fan out."""
    import glob as _glob

    pattern = os.path.join(path, "**", glob) if recursive else os.path.join(path, glob)
    paths = sorted(
        p
        for p in _glob.glob(pattern, recursive=recursive)
        if not os.path.basename(p).startswith((".", "_"))
    )
    if not paths:
        raise ValueError(f"no parquet files match {pattern}")
    root = path

    path_df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), spark.sparkContext.defaultParallelism)
    )

    def stat(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rel = os.path.relpath(p, root)
                d = os.path.dirname(rel)
                rows.append(
                    {"dir": d, "file": os.path.basename(rel), "bytes": os.path.getsize(p)}
                )
            yield pd.DataFrame(rows, columns=["dir", "file", "bytes"])

    return path_df.mapInPandas(stat, schema="dir string, file string, bytes long")


def compaction_plan(sizes: DataFrame, target_bytes: int) -> DataFrame:
    """Deterministic small-file compaction PLAN: first-fit-decreasing
    bin packing of each directory's files into ~``target_bytes`` bins
    — the "which small files merge into which output file" decision a
    100 TB table's maintenance job makes before rewriting anything.

    Per directory (hive partition), files sort by (bytes DESC, file
    ASC) and each goes into the first bin it fits; a file at or above
    the target keeps its own bin (never split). FFD is the classic
    11/9·OPT + 1 guarantee, and the (size, name) sort makes the plan a
    pure function of the listing — two runs over the same table
    produce the identical plan, so the planner can be re-run
    idempotently after a partial rewrite.

    Scale shape: planning is metadata-only and per-directory parallel
    (``applyInPandas`` keyed on dir); a directory's file LIST is the
    only in-memory state, bounded by per-partition file counts, never
    by data volume. Execution is the caller's (one read+write per bin;
    the engine's ``compact_partition`` is the broker-log form).

    Output: (dir, file, bytes, bin_id, bin_bytes, bin_files) — bin_id
    dense per dir in packing order; bins with bin_files > 1 are the
    merge work list, and n_files − n_bins is the file-count saving.
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1: {target_bytes}")

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["bytes", "file"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list = []  # (total, idx)
        assign = []
        for _, row in pdf.iterrows():
            size = int(row["bytes"])
            placed = None
            if size < target_bytes:
                for i, (tot, _idx) in enumerate(bins):
                    if tot + size <= target_bytes:
                        placed = i
                        break
            if placed is None:
                bins.append([0, len(bins)])
                placed = len(bins) - 1
            bins[placed][0] += size
            assign.append(placed)
        pdf["bin_id"] = pd.Series(assign, dtype="int64")
        totals = pdf.groupby("bin_id")["bytes"].agg(["sum", "count"])
        pdf["bin_bytes"] = pdf["bin_id"].map(totals["sum"]).astype("int64")
        pdf["bin_files"] = pdf["bin_id"].map(totals["count"]).astype("int64")
        return pdf[["dir", "file", "bytes", "bin_id", "bin_bytes", "bin_files"]]

    return sizes.groupBy("dir").applyInPandas(
        pack,
        schema="dir string, file string, bytes long, bin_id long, "
        "bin_bytes long, bin_files long",
    )


def _bloom_positions_md5(key, num_bits: int, num_hashes: int) -> list:
    """Kirsch–Mitzenmacher double hashing on the md5-60bit family —
    the PORTABLE twin of joinaudit's xxhash64 positions: any engine
    with md5 can rebuild or probe a persisted index (the same reason
    the dedup/digest families hash with md5). h2 forced odd so it is
    a unit mod the power-of-two num_bits."""

    def h60(prefix: str):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    h1 = F.pmod(h60("bloomA:"), F.lit(num_bits))
    h2 = F.pmod(h60("bloomB:"), F.lit(num_bits)).bitwiseOR(F.lit(1).cast("long"))
    return [
        F.pmod(h1 + F.lit(i).cast("long") * h2, F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_positions_py(value, num_bits: int, num_hashes: int) -> list[int]:
    """Driver-side replica of :func:`_bloom_positions_md5` for probing
    an index with a literal value — bit-identical to the executor
    expression (same md5 prefixes, same reduction)."""
    import hashlib

    def h60(prefix: str) -> int:
        return int(
            hashlib.md5(f"{prefix}{value}".encode()).hexdigest()[:15], 16
        )

    h1 = h60("bloomA:") % num_bits
    h2 = (h60("bloomB:") % num_bits) | 1
    return [(h1 + i * h2) % num_bits for i in range(num_hashes)]


def bloom_file_index(
    df: DataFrame,
    file_col: str,
    key,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """Per-file BLOOM index over ``key`` — the point-lookup skipping
    min/max envelopes cannot provide (a uniformly-spread id column
    has every file's envelope covering every value; its Bloom words
    still prune precisely).

    Output: sparse bitmap words ``(file, word_idx, word_bits)`` —
    62 bits per long word (no sign-bit games on any engine), only
    nonzero words stored, so an index row count is bounded by
    files × min(num_bits/62, distinct keys per file). Build cost is
    one pass over (file, key) with a map-side-combined bit_or — the
    same shape as any aggregation, and the index persists as a plain
    parquet table any md5-capable engine can rebuild bit-for-bit
    (oracle-checked in the gate).

    Probe with :func:`bloom_index_lookup`; false-positive rate
    follows the standard (1 − e^{−kn/m})^k bound per file."""
    if num_bits < 62 or num_hashes < 1:
        raise ValueError(
            f"need num_bits >= 62 and num_hashes >= 1: {num_bits}, {num_hashes}"
        )
    pos = _bloom_positions_md5(key, num_bits, num_hashes)
    return (
        df.where(key.isNotNull())
        .select(F.col(file_col).alias("file"), F.explode(F.array(*pos)).alias("_p"))
        .select(
            "file",
            F.call_function("div", F.col("_p"), F.lit(62).cast("long")).alias(
                "word_idx"
            ),
            # the Python shiftleft wrapper takes only a literal amount;
            # the SQL form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 62 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("file", "word_idx")
        .agg(F.expr("bit_or(_mask)").alias("word_bits"))
    )


def bloom_index_lookup(
    index: DataFrame, value, num_bits: int = 4096, num_hashes: int = 3
) -> DataFrame:
    """Which files MAY contain ``value``, per the index: a file
    qualifies iff every one of the value's bit positions is set
    (missing word rows count as zero words). Sound — a false
    negative is impossible because the build set every position of
    every present key; false positives shrink with num_bits.

    The probe is metadata-only: the value's ≤ num_hashes words are
    computed driver-side (:func:`bloom_positions_py`) and checked
    with one aggregation over the index rows — the data files are
    never touched. Output: (file, may_contain)."""
    need: dict[int, int] = {}
    for p in bloom_positions_py(value, num_bits, num_hashes):
        w, b = divmod(p, 62)
        need[w] = need.get(w, 0) | (1 << b)
    # count how many of the needed (word, full-mask) checks pass per
    # file; may_contain iff ALL pass
    conds = [
        F.count(
            F.when(
                (F.col("word_idx") == w)
                & (
                    F.col("word_bits").bitwiseAND(F.lit(mask)) == F.lit(mask)
                ),
                1,
            )
        ).alias(f"_w{w}")
        for w, mask in need.items()
    ]
    agg = index.groupBy("file").agg(*conds)
    ok = None
    for w in need:
        c = F.col(f"_w{w}") > 0
        ok = c if ok is None else (ok & c)
    return agg.select("file", ok.alias("may_contain"))


def bloom_index_lookup_many(
    index: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """Set-probe of a :func:`bloom_file_index`: every (file, key) pair
    the index cannot rule out — the planning input for bulk point
    operations, above all ERASURE (deletion requests / GDPR): "which
    files must be rewritten to purge these keys" without scanning any
    data file.

    Each key contributes ≤ ``num_hashes`` (word, needed-bits) rows;
    the probe is one equi-join of those rows against the sparse index
    on word_idx plus two small aggregations — cost scales with
    |keys|·k·(index hits), never with table rows. Soundness is the
    single-probe guarantee per key: a (file, key) truly present is
    always returned; extras are Bloom false positives the rewrite
    pass discovers harmlessly.

    Output: (file, key) pairs with may_contain semantics; aggregate
    per file for a rewrite work list (files absent entirely are
    provably clean)."""
    pos = _bloom_positions_md5(F.col(key_col), num_bits, num_hashes)
    kw = (
        keys.where(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"), F.explode(F.array(*pos)).alias("_p"))
        .select(
            "key",
            F.call_function("div", F.col("_p"), F.lit(62).cast("long")).alias(
                "word_idx"
            ),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_p % 62 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("key", "word_idx")
        .agg(F.expr("bit_or(_mask)").alias("_need"))
    )
    n_need = kw.groupBy("key").agg(F.count(F.lit(1)).alias("_n_need"))
    hits = (
        kw.join(index, on="word_idx")
        .where(
            F.col("word_bits").bitwiseAND(F.col("_need")) == F.col("_need")
        )
        .groupBy("key", "file")
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    return (
        hits.join(n_need, on="key")
        .where(F.col("_n_hit") == F.col("_n_need"))
        .select("file", "key")
    )


def erase_partition_keys(
    spark: SparkSession,
    path: str,
    part_col: str,
    flagged: list,
    keys: DataFrame,
    key_col: str,
    match_col: str,
) -> dict:
    """EXECUTE an erasure plan: rewrite exactly the flagged partitions
    of a ``partitionBy(part_col)`` parquet dataset, dropping every row
    whose ``match_col`` appears in ``keys[key_col]`` — the completing
    half of the GDPR delete path whose planning half is
    :func:`bloom_index_lookup_many` ("which files MIGHT hold these
    keys"). Reference scope: FlyQ deletes whole segments by retention
    only (log_engine.rs cleanup); keyed erasure is the [EXT] analytics
    counterpart every lakehouse needs.

    Scale shape — the whole point is work-list-bounded I/O:

    - READ: only flagged partitions are opened. The ``isin`` filter is
      a partition-pruning predicate, so unflagged partitions (the
      overwhelming majority at 100 TB after Bloom planning) are never
      listed past the directory level, never read, never written.
    - WRITE: surviving rows land in a staging directory partitioned by
      ``part_col``; only the flagged partition directories are then
      swapped — everything else on disk is untouched: no global
      rewrite, no table lock beyond the flagged directories.
    - Bloom false positives cost one wasted partition rewrite each
      (the anti-join then drops nothing) — sound, just suboptimal, and
      bounded by the index's false-positive rate.
    - A partition whose every row is erased stages NO output
      directory; the swap removes the on-disk directory without a
      replacement. The swap pass is driver-side but bounded by
      |flagged| (the work list), never by table size.
    - The erase key set ships via broadcast anti-join: deletion
      requests are human-scale (thousands), never table-scale.

    Commit protocol: surviving rows are written to a staging directory
    ``.erase_staging`` inside ``path`` (same filesystem, skipped by
    Spark's listing), never read-and-overwrite the same path, and each
    flagged partition is then swapped in by ``storage.replace_dir``.
    Every flagged partition is first resolved with
    ``storage.restore_dir``, so an erasure interrupted mid-swap is
    rolled back or finished before its rows are read again (the crash
    rule is in ``storage``); the erasure itself is re-runnable. The
    path must be driver-local, as the swap is os-level renames.

    Returns {"files_rewritten", "partitions_deleted"} actually acted
    on. Callers verify the rewrite with ``dataset_digest`` pre/post —
    divergence must localize to the erased keys' digest buckets.
    """
    import shutil

    from flyq_spark import storage

    if not flagged:
        return {"files_rewritten": 0, "partitions_deleted": 0}
    live = {v: os.path.join(path, f"{part_col}={v}") for v in flagged}
    for d in live.values():
        storage.restore_dir(d)
    kept = (
        spark.read.parquet(path)
        .where(F.col(part_col).isin(list(live)))
        # null-keys-impossible: deletion keys; a NULL subject key is
        # not requestable, and left_anti keeps unmatched (NULL) rows
        .join(
            F.broadcast(keys.select(F.col(key_col).alias(match_col))),
            on=match_col,
            how="left_anti",
        )
    )
    staging = os.path.join(path, ".erase_staging")
    kept.write.mode("overwrite").partitionBy(part_col).parquet(staging)
    rewritten = 0
    for v, d in live.items():
        staged = os.path.join(staging, f"{part_col}={v}")
        rewritten += os.path.isdir(staged)
        storage.replace_dir(d, staged)
    shutil.rmtree(staging)
    return {"files_rewritten": rewritten, "partitions_deleted": len(live) - rewritten}


def compaction_execute(spark: SparkSession, path: str, plan: DataFrame) -> dict:
    """EXECUTE a :func:`compaction_plan`: merge every multi-file bin
    into one parquet file, in ONE distributed job — the maintenance
    pass that turns a small-file-fragmented table back into
    scan-efficient files (the analytic analog of the broker's segment
    compaction, engine.py compact_partition).

    Shape: single-file bins are never touched (their bytes stay
    byte-identical on disk). All files of all merge bins are read in
    one scan; each row is tagged with its bin via a BROADCAST join of
    the (file → bin) mapping against ``input_file_name()``;
    ``repartition(n_bins, bin_key)`` + ``partitionBy(bin_key)`` land
    each bin's rows in exactly one task and therefore exactly ONE
    staged output file per bin — no per-bin job loop, wall-clock is
    one job regardless of bin count. The swap pass (delete originals,
    move staged file in) is driver-side file-listing work, the same
    order of metadata the planner already holds; at real scale those
    are object-store rename/delete calls.

    Files are read DIRECTLY (not through the table root), so rows
    carry exactly the stored columns — hive partition values stay
    encoded in the directory the merged file is moved back into, and
    the table's content is bit-for-bit unchanged (callers verify with
    ``dataset_digest`` pre/post: zero buckets may diverge).

    A bin whose files hold zero rows stages no output; its originals
    are still removed (compacting empties == deleting them). That case
    is distinguishable from silent row loss because the commit is
    gated on a staged-rows == source-rows count check (both
    footer-metadata reads) BEFORE any original is removed — a
    path-form mismatch in the ``input_file_name()`` join (relative
    paths, ``file:/`` vs ``file://``, URL-encoding) aborts with the
    table untouched instead of deleting data that was never staged.

    Returns {"bins_merged", "files_removed", "files_written"}.
    """
    import collections
    import glob as _glob
    import hashlib
    import shutil
    import tempfile

    work = plan.where(F.col("bin_files") > 1).select(
        "dir", "file", "bin_id"
    ).collect()
    if not work:
        return {"bins_merged": 0, "files_removed": 0, "files_written": 0}
    bins: dict = collections.defaultdict(list)
    for r in work:
        bins[(r["dir"], r["bin_id"])].append(
            os.path.join(path, r["dir"], r["file"])
        )
    bk_of = {
        key: hashlib.md5(f"{key[0]}\x1f{key[1]}".encode()).hexdigest()
        for key in bins
    }
    map_rows = [
        (f, bk_of[key]) for key, files in bins.items() for f in files
    ]
    map_df = spark.createDataFrame(map_rows, "file string, _bk string")
    src = spark.read.parquet(*[f for f, _ in map_rows]).withColumn(
        "file", F.regexp_replace(F.input_file_name(), "^file:/{2}", "")
    )
    staging_root = tempfile.mkdtemp(prefix="flyq_compact_staging_")
    staging = os.path.join(staging_root, "out")
    try:
        (
            src.join(F.broadcast(map_df), on="file")
            .drop("file")
            .repartition(len(bins), "_bk")
            .write.partitionBy("_bk")
            .parquet(staging)
        )
        # LOSS GUARD before any original is removed: if the
        # input_file_name() join silently matched zero (or fewer) rows
        # — path-form mismatch (relative path, file:/ vs file:// URI,
        # URL-encoded chars) — every bin would stage short output yet
        # the removal loop would still delete all originals: silent
        # data loss indistinguishable from "compacted empties". Both
        # counts are parquet-footer metadata reads, no data scan.
        n_src = spark.read.parquet(*[f for f, _ in map_rows]).count()
        staged_all = _glob.glob(os.path.join(staging, "_bk=*", "*.parquet"))
        n_staged = (
            spark.read.parquet(*staged_all).count() if staged_all else 0
        )
        if n_staged != n_src:
            raise RuntimeError(
                f"compaction staged {n_staged} rows but sources hold "
                f"{n_src}; refusing to remove originals (input_file_name "
                f"join mismatch?) — table on disk is untouched"
            )
        removed = written = 0
        for key, files in bins.items():
            staged = _glob.glob(
                os.path.join(staging, f"_bk={bk_of[key]}", "*.parquet")
            )
            assert len(staged) <= 1, f"bin {key} staged {len(staged)} files"
            for f in files:
                os.remove(f)
                removed += 1
            if staged:
                shutil.move(
                    staged[0],
                    os.path.join(
                        path, key[0], f"compacted-{key[1]}.parquet"
                    ),
                )
                written += 1
        return {
            "bins_merged": len(bins),
            "files_removed": removed,
            "files_written": written,
        }
    finally:
        shutil.rmtree(staging_root, ignore_errors=True)
