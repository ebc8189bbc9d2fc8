"""Streaming write side: the produce sink.

``foreachBatch`` + the engine's produce commit protocol: every micro-batch
is routed, offset-assigned continuing from the persisted LEO, appended,
and the metadata commit advances LEO + the round-robin cursor — so a
crashed query resumes from its checkpoint and re-produces only unacked
batches (at-least-once, matching the reference's delivery contract; the
reference additionally loses up to 5 s of *commits* on crash,
runtime/flush.rs:9-39, which we do not).

Single-writer-per-topic discipline holds by construction: one streaming
query owns the topic, and foreachBatch invocations are serial within a
query.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flyq_spark.engine import FlyQEngine


def produce_sink(
    engine: FlyQEngine, topic: str, method: str = "xxhash64"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback appending each micro-batch to the topic."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.produce(topic, batch_df, method=method)

    return write


def write_stream_to_topic(
    engine: FlyQEngine,
    topic: str,
    stream: DataFrame,
    checkpoint_dir: str,
    method: str = "xxhash64",
    trigger_once: bool = False,
):
    """Start a streaming query that produces ``stream`` into ``topic``.
    Input needs the message shape (key/value/timestamp[/headers][/seq])."""
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(produce_sink(engine, topic, method))
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def upsert_sink(
    snapshot_path: str,
    key_cols: tuple[str, ...],
    ts_col: str,
    op_col: str = "op",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining a latest-wins SNAPSHOT table
    from a CDC change stream — the streaming MERGE pattern (Delta's
    ``foreachBatch`` + MERGE INTO recipe, expressed with the batch
    ``apply_changes`` operator so batch and streaming share one merge
    semantics).

    Each micro-batch: read the current snapshot (empty on first batch),
    apply the batch's upserts/deletes (latest-wins, idempotent — safe
    under at-least-once redelivery), write to a tmp dir, swap. Each
    rename is atomic, but the swap is TWO renames (current→old,
    tmp→current), so there is a brief window where the snapshot path is
    absent — a concurrent reader can observe a missing directory (never
    a partial one) and should retry; a crash inside the window strands
    the snapshot under ``._old_<batch>``, which the next batch (or
    query restart) recovers before merging. Single-writer discipline
    holds by construction (foreachBatch invocations are serial within a
    query). The batch itself may carry several changes per key —
    apply_changes resolves them by (ts, change-beats-snapshot) in one
    window.

    CONSTRAINT: ``snapshot_path`` must be DRIVER-LOCAL — the atomic
    swap is os.rename, which no object store honors (the sibling
    ``neardup_dedup_sink`` needs no swap and works on any scheme).
    A scheme-qualified path is rejected up front rather than failing
    with a confusing missing-file error on the first batch."""
    import glob
    import os
    import re
    import shutil

    from flyq_spark.operators.cdc import apply_changes

    if "://" in snapshot_path:
        raise ValueError(
            f"upsert_sink needs a driver-local snapshot_path (os.rename "
            f"swap); got scheme-qualified {snapshot_path!r}"
        )

    def _recover() -> None:
        root = snapshot_path.rstrip("/")
        olds = sorted(
            glob.glob(root + "._old_*"),
            key=lambda p: int(re.search(r"_(\d+)$", p).group(1))
            if re.search(r"_(\d+)$", p)
            else -1,
        )
        if not os.path.isdir(root) and olds:
            # crash between the two renames: roll the newest old forward
            os.rename(olds[-1], root)
            olds = olds[:-1]
        for d in olds:
            shutil.rmtree(d, ignore_errors=True)
        for d in glob.glob(root + "._tmp_*"):
            shutil.rmtree(d, ignore_errors=True)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _recover()
        spark = batch_df.sparkSession
        data_cols = [c for c in batch_df.columns if c != op_col]
        if os.path.isdir(snapshot_path):
            snapshot = spark.read.parquet(snapshot_path).select(*data_cols)
        else:
            snapshot = spark.createDataFrame([], batch_df.drop(op_col).schema)
        merged = apply_changes(snapshot, batch_df, key_cols, ts_col, op_col)
        tmp = snapshot_path.rstrip("/") + f"._tmp_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = snapshot_path.rstrip("/") + f"._old_{batch_id}"
        if os.path.isdir(snapshot_path):
            os.rename(snapshot_path, old)
        os.rename(tmp, snapshot_path)
        shutil.rmtree(old, ignore_errors=True)

    return write


def neardup_dedup_sink(
    out_path: str,
    state_path: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback deduplicating a DOCUMENT STREAM against
    everything already accepted — streaming MinHash-LSH near-dup
    filtering (the continuous-ingest form of ``minhash_band_pairs``;
    what a crawl pipeline runs so the corpus never accumulates
    near-copies between batch dedup passes).

    Per micro-batch:
    1. md5-family MinHash signatures → LSH band keys (the exact
       arithmetic of the batch operator, via ``minhash_band_keys``);
    2. within-batch dedup: a document is dropped when any of its band
       buckets contains a smaller id (deterministic keep-smallest; a
       dropped doc's bands still suppress ITS near-dups — transitive
       cluster collapse, same policy as ``dedup_components_keep_min``);
    3. history dedup: LEFT ANTI against all band keys in the state
       store from STRICTLY EARLIER batches;
    4. survivors' rows land under ``out/batch_id=N``, their band keys
       under ``state/batch_id=N`` — both written with overwrite, and
       step 3's strict ``batch_id < N`` filter ignores this batch's own
       prior partial output, so an at-least-once REPLAY of batch N is
       byte-idempotent (the foreachBatch epoch id is the dedup unit,
       the same recipe Structured Streaming docs give for idempotent
       sinks).

    Documents with no shingles (shorter than ``shingle_n`` words) have
    no signature and always pass through. State is (band, band_key)
    rows — O(accepted docs x bands) small rows, partition-pruned by
    batch_id on read; the history check broadcasts the BATCH's band
    keys and streams the store through one BroadcastHashJoin scan (no
    store-side Exchange, never a scan-per-doc, per-batch cost bounded
    by the data in hand). A real deployment compacts old batch_id
    partitions periodically (shape unchanged).
    """
    from flyq_spark.operators.dedup import minhash_band_keys, minhash_signatures

    def keys(batch_df: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            batch_df, k=k, shingle_n=shingle_n, id_col=id_col, text_col=text_col
        )
        return minhash_band_keys(sigs, k=k, bands=bands, id_col=id_col)

    return _banded_dedup_sink(out_path, state_path, keys, id_col)


def phash_dedup_sink(
    out_path: str,
    state_path: str,
    bands: int = 8,
    id_col: str = "content_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback deduplicating a MEDIA PAYLOAD STREAM by
    perceptual near-duplicate — the multimodal counterpart of
    ``neardup_dedup_sink``, sharing its idempotent-replay skeleton but
    keyed on banded 64-bit dHash slices (``multimodal.perceptual_hash``
    then ``dedup.hamming_band_keys``, the banding of the batch
    ``banded_hamming_pairs`` join) instead of MinHash bands.
    A payload is dropped when any of its Hamming-LSH bands collides with
    a smaller id in the batch or with anything accepted in a strictly
    earlier batch (conservative LSH-level decision, the same granularity
    as the MinHash sink; by pigeonhole this catches every pair within
    bands-1 differing bits). Batch rows need (id_col, payload)."""
    from flyq_spark.operators.dedup import hamming_band_keys
    from flyq_spark.operators.multimodal import perceptual_hash

    def keys(batch_df: DataFrame) -> DataFrame:
        hashes = perceptual_hash(
            batch_df.select(F.col(id_col).alias("content_id"), "payload")
        )
        return hamming_band_keys(hashes, "content_id", "phash", 64, bands).select(
            F.col("content_id").alias(id_col), "band", "band_key"
        )

    return _banded_dedup_sink(out_path, state_path, keys, id_col)


def _banded_dedup_sink(
    out_path: str,
    state_path: str,
    band_keys_fn: Callable[[DataFrame], DataFrame],
    id_col: str,
) -> Callable[[DataFrame, int], None]:
    """Shared skeleton of the banded streaming dedup sinks: keep-smallest
    within batch, LEFT ANTI against strictly-earlier state, idempotent
    batch_id-partitioned writes (see neardup_dedup_sink's docstring for
    the full protocol). ``band_keys_fn`` maps a batch to
    (id_col, band, band_key) rows; rows it omits (unhashable payloads,
    too-short documents) always pass through."""
    from pyspark.errors import AnalysisException

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        band_df = band_keys_fn(batch_df).persist()
        bucket_min = band_df.groupBy("band", "band_key").agg(
            F.min(id_col).alias("_min_id")
        )
        drops = (
            band_df.join(bucket_min, ["band", "band_key"])
            .where(F.col(id_col) > F.col("_min_id"))
            .select(id_col)
        )
        # probe the store by attempting the read (not os.path — the
        # state dir may live on any Hadoop filesystem, where a local
        # isdir is always false and would silently disable history
        # dedup)
        try:
            state = spark.read.parquet(state_path)
        except AnalysisException:
            state = None  # first batch: no store yet
        if state is not None:
            prior = state.where(F.col("batch_id") < batch_id).select(
                "band", "band_key"
            )
            # probe the (big) store with the (small) batch broadcast as
            # the hash side: one store scan, no store-side Exchange (a
            # semi-join the other way would re-shuffle the whole store
            # every batch); the duplicate ids a plain join can emit are
            # absorbed by the drops.distinct() below
            drops = drops.union(
                prior.join(F.broadcast(band_df), ["band", "band_key"]).select(
                    id_col
                )
            )
        # persist the (tiny) drop set: BOTH writes below consume it, and
        # without the cache the second write re-runs the bucket-min join
        # AND the ever-growing state-store scan
        drops = drops.distinct().persist()
        # null-keys-impossible: id_col is the row identity
        survivors = batch_df.join(drops, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(
            out_path.rstrip("/") + f"/batch_id={batch_id}"
        )
        # null-keys-impossible: id_col is the row identity
        band_df.join(drops, id_col, "left_anti").select(
            "band", "band_key"
        ).write.mode("overwrite").parquet(
            state_path.rstrip("/") + f"/batch_id={batch_id}"
        )
        drops.unpersist()
        band_df.unpersist()

    return write


def _view_bases(root: str) -> list[tuple[int, str]]:
    """Numerically-sorted (upto, path) base dirs under a view root;
    unparseable names (debug copies like base_upto_3.bak) are skipped,
    never crashed on."""
    import os

    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith("base_upto_"):
            try:
                out.append((int(d.rsplit("_", 1)[1]), os.path.join(root, d)))
            except ValueError:
                continue
    return sorted(out)


def _view_deltas(root: str) -> list[tuple[int, str]]:
    """Numerically-sorted (batch_id, path) delta dirs; tolerant like
    :func:`_view_bases`."""
    import os

    ddir = os.path.join(root, "delta")
    if not os.path.isdir(ddir):
        return []
    out = []
    for d in os.listdir(ddir):
        if d.startswith("batch_id="):
            try:
                out.append((int(d.split("=", 1)[1]), os.path.join(ddir, d)))
            except ValueError:
                continue
    return sorted(out)


def _view_ready_base(root: str) -> tuple[int, str] | None:
    """Newest base whose _VIEW_READY marker exists (completed write)."""
    import os

    ready = None
    for upto, path in _view_bases(root):
        if os.path.exists(os.path.join(path, "_VIEW_READY")):
            ready = (upto, path)
    return ready


def _store_probe_hits(
    known: DataFrame, eval_ng: DataFrame, id_col: str
) -> DataFrame:
    """Per-(split, doc) contaminated-shingle counts: probe the (big)
    accepted-shingle store with the (small) batch.

    The batch's eval shingles are the BROADCAST hash side, so the
    store is scanned once and streamed through a BroadcastHashJoin —
    no Exchange ever lands on the store side (a semi-join the other
    way round would sort-merge and re-shuffle the entire store every
    micro-batch, per-batch cost growing with stream history). The
    distinct absorbs the store's documented multi-batch duplicate ngs
    (a shingle accepted by several batches matches several store rows)
    and shuffles only the MATCHED rows — bounded by the batch's own
    shingle count times its store multiplicity, never by the store."""
    return (
        known.join(F.broadcast(eval_ng), on="ng")
        .select("split", id_col, "ng")
        .distinct()
        .groupBy("split", id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )


def contamination_monitor_sink(
    out_path: str,
    state_path: str,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_prefix_below: str = "0d",
    val_prefix_below: str = "1a",
    compact_every: int = 16,
    normalize: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback running the train-leakage screen AT INGEST
    — the streaming half of :func:`flyq_spark.operators.corpus.
    contamination_report`: every arriving document splits
    deterministically (``three_way_split`` is a pure function of the
    id, so a doc's split never depends on arrival order), train docs'
    distinct word-``n``-gram shingle keys append to the state store,
    and the batch's val/test docs score against every train shingle
    ACCEPTED SO FAR (strictly earlier batches + this batch's own train
    docs — both derivable from batch content plus prior state, so an
    at-least-once replay recomputes identical output).

    Contract: the per-doc counts are a RUNNING LOWER BOUND of the
    final leakage (a train doc arriving after an eval doc can create
    overlap this monitor already missed) — it is the ingest-time
    tripwire that catches gross leakage the moment it streams in; a
    release still runs the batch ``contamination_report`` for the
    final audit. Docs with < n words have no shingles and emit no row
    (identical to the batch operator).

    Scale: state is per-batch-DISTINCT 60-bit shingle keys laid out
    like ``aggregate_view_sink``'s view (``delta/batch_id=N``
    partitions folding into a ``base_upto_B`` dir with a
    ``_VIEW_READY`` marker every ``compact_every`` batches), so both
    the file count and the store's duplicate multiplicity stay bounded
    as the stream ages. The per-batch check broadcasts the BATCH's
    eval shingles and streams the store through a BroadcastHashJoin
    (see :func:`_store_probe_hits`) — one store scan, zero store-side
    Exchange, never corpus x corpus. Compaction is one distinct over
    base + accumulated deltas, amortized O(|store| / compact_every)
    per batch; pass ``compact_every=0`` to disable it, which also
    lifts the driver-local ``state_path`` requirement (the fold's
    marker/rename discipline is os-level, same as
    ``aggregate_view_sink``). Replay safety: a replayed batch
    overwrites its own ``delta/batch_id=N`` partition before the store
    read, and the read covers exactly base + deltas ``<= N`` — a
    crash-and-replay recomputes byte-identical output even if the
    crash landed mid-compaction (only a marker-complete base is ever
    read; an incomplete one is deleted on the next batch)."""
    import os
    import shutil

    from flyq_spark.operators.corpus import _h60, split_shingled

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if compact_every < 0:
        raise ValueError(f"compact_every must be >= 0, got {compact_every}")
    if compact_every and "://" in state_path:
        raise ValueError(
            f"contamination_monitor_sink with compaction needs a "
            f"driver-local state_path (os.rename/marker fold); got "
            f"scheme-qualified {state_path!r} — pass compact_every=0 "
            f"to keep the raw delta layout on an object store"
        )

    root = state_path.rstrip("/")

    def _recover() -> tuple[int, str] | None:
        """Newest READY base; drop incomplete bases + covered deltas."""
        ready = _view_ready_base(root)
        for upto, path in _view_bases(root):
            if (upto, path) != ready:
                shutil.rmtree(path, ignore_errors=True)
        if ready is not None:
            for bid, path in _view_deltas(root):
                if bid <= ready[0]:
                    shutil.rmtree(path, ignore_errors=True)
        return ready

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ready = _recover() if compact_every else _view_ready_base(root)
        base = split_shingled(
            batch_df, n, id_col, text_col, test_prefix_below,
            val_prefix_below, normalize=normalize,
        )
        train_ng = (
            base.where(F.col("split") == "train")
            .select(F.explode("_ng").alias("_g"))
            .select(_h60(F.col("_g")).alias("ng"))
            .distinct()
        )
        # own delta is written BEFORE the store read, so the read below
        # always succeeds (even a zero-train batch leaves a
        # schema-bearing empty file) and covers this batch's own train
        # shingles per the contract; the <= N delta filter keeps replay
        # deterministic
        train_ng.write.mode("overwrite").parquet(
            os.path.join(root, "delta", f"batch_id={batch_id}")
        )
        store_paths = [] if ready is None else [ready[1]]
        store_paths += [
            p
            for bid, p in _view_deltas(root)
            if (ready is None or bid > ready[0]) and bid <= batch_id
        ]
        known = spark.read.parquet(*store_paths).select("ng")
        eval_ng = (
            base.where(F.col("split") != "train")
            .select("split", F.col(id_col), F.explode("_ng").alias("_g"))
            .select("split", F.col(id_col), _h60(F.col("_g")).alias("ng"))
            .distinct()
            .persist()
        )
        per_doc = eval_ng.groupBy("split", id_col).agg(
            F.count("*").cast("long").alias("n_ngrams")
        )
        hit_counts = _store_probe_hits(known, eval_ng, id_col).select(
            F.col("split").alias("_hs"),
            F.col(id_col).alias("_hid"),
            "n_contaminated",
        )
        hits = (
            per_doc.join(
                # null-keys-impossible: split is a non-null literal and
                # id_col is the row identity
                hit_counts,
                on=(F.col("split") == F.col("_hs"))
                & (F.col(id_col) == F.col("_hid")),
                how="left",
            )
            .select(
                "split",
                F.col(id_col),
                "n_ngrams",
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                .cast("long")
                .alias("n_contaminated"),
            )
        )
        hits.write.mode("overwrite").parquet(
            out_path.rstrip("/") + f"/batch_id={batch_id}"
        )
        eval_ng.unpersist()
        if not compact_every:
            return
        deltas = [
            (bid, p)
            for bid, p in _view_deltas(root)
            if ready is None or bid > ready[0]
        ]
        if len(deltas) < compact_every:
            return
        state = spark.read.parquet(*[p for _, p in deltas]).select("ng")
        if ready is not None:
            state = spark.read.parquet(ready[1]).select("ng").unionByName(state)
        # ONE distinct folds base + deltas: the store's only global
        # dedup, paid every compact_every batches, and it also shrinks
        # every later probe's matched-row multiplicity to 1
        new_base = os.path.join(root, f"base_upto_{deltas[-1][0]}")
        state.distinct().write.mode("overwrite").parquet(new_base)
        open(os.path.join(new_base, "_VIEW_READY"), "w").close()
        if ready is not None:
            shutil.rmtree(ready[1], ignore_errors=True)
        for _, p in deltas:
            shutil.rmtree(p, ignore_errors=True)

    return write


def read_contamination_monitor(spark, out_path: str) -> DataFrame:
    """Current per-split leakage rollup from a
    :func:`contamination_monitor_sink` store: (split, n_docs,
    n_contaminated_docs, n_ngrams, n_hits) — the same shape as the
    batch ``contamination_report``, aggregated over every scored
    micro-batch (each eval doc appears in exactly one batch)."""
    per_doc = spark.read.parquet(out_path)
    return per_doc.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("n_contaminated") > 0).cast("long"))
        .cast("long")
        .alias("n_contaminated_docs"),
        F.sum("n_ngrams").cast("long").alias("n_ngrams"),
        F.sum("n_contaminated").cast("long").alias("n_hits"),
    )


def aggregate_view_sink(
    view_path: str,
    keys: tuple[str, ...],
    measures: dict,
    approx_distinct: dict | None = None,
    compact_every: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining a continuously-updated
    AGGREGATE view (a streaming materialized view) with the
    :mod:`incremental` state layout: each micro-batch is summarized
    once and lands as a DELTA partition; every ``compact_every``
    batches the base and accumulated deltas fold into a new base.

    Replay safety: additive merge is NOT idempotent (re-applying a
    batch double-counts), so nothing is ever merged in place — a
    replayed batch OVERWRITES its own ``delta/batch_id=N`` partition
    (Structured Streaming re-delivers the same data for the same
    batch_id), and compaction folds each delta exactly once. Crash
    safety: a new base is complete only when its ``_VIEW_READY`` marker
    exists; recovery keeps the newest ready base and deletes newer
    incomplete ones plus any deltas the ready base already covers.
    Read the view with :func:`read_aggregate_view`.

    Scale: the per-batch work is one partial-aggregated summarize of
    the batch (key-cardinality output) — the view never rescans
    history; compaction cost is keys × (compact_every + 1) state rows,
    amortized O(keys) per batch. ``view_path`` must be driver-local
    (same os.rename/marker discipline as ``upsert_sink``)."""
    import os
    import shutil

    from flyq_spark.operators.incremental import merge_increment, summarize

    if "://" in view_path:
        raise ValueError(
            f"aggregate_view_sink needs a driver-local view_path; got "
            f"scheme-qualified {view_path!r}"
        )
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")

    root = view_path.rstrip("/")

    def _recover() -> tuple[int, str] | None:
        """Newest READY base; drop incomplete bases and covered deltas."""
        ready = _view_ready_base(root)
        # every other base is either incomplete (no marker) or an older
        # ready base stranded by a crash between marker and cleanup
        for upto, path in _view_bases(root):
            if (upto, path) != ready:
                shutil.rmtree(path, ignore_errors=True)
        if ready is not None:
            for bid, path in _view_deltas(root):
                if bid <= ready[0]:
                    shutil.rmtree(path, ignore_errors=True)
        return ready

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = _recover()
        summary = summarize(batch_df, keys, measures, approx_distinct)
        delta_dir = os.path.join(root, "delta", f"batch_id={batch_id}")
        summary.write.mode("overwrite").parquet(delta_dir)
        deltas = [
            (b, p)
            for b, p in _view_deltas(root)
            if ready is None or b > ready[0]
        ]
        if len(deltas) < compact_every:
            return
        merged = spark.read.parquet(*[p for _, p in deltas])
        state = merged
        if ready is not None:
            state = spark.read.parquet(ready[1]).unionByName(merged)
        # one re-aggregate folds base + all deltas (merge_increment over
        # an N-way union is the same single groupBy)
        folded = merge_increment(
            state.limit(0), state, keys, tuple(measures)
        )
        upto = deltas[-1][0]
        new_base = os.path.join(root, f"base_upto_{upto}")
        folded.write.mode("overwrite").parquet(new_base)
        open(os.path.join(new_base, "_VIEW_READY"), "w").close()
        if ready is not None:
            shutil.rmtree(ready[1], ignore_errors=True)
        for bid, path in deltas:
            shutil.rmtree(path, ignore_errors=True)

    return write


def read_aggregate_view(
    spark,
    view_path: str,
    keys: tuple[str, ...],
    measures: tuple[str, ...] | list[str],
):
    """Current contents of an ``aggregate_view_sink`` view: newest ready
    base merged with uncompacted deltas (one key-sized aggregation —
    never the raw stream)."""
    import os

    from pyspark.sql import DataFrame as _DF  # noqa: F401

    from flyq_spark.operators.incremental import merge_increment

    root = view_path.rstrip("/")
    paths = []
    # shared tolerant listing: numeric order (lexicographic would rank
    # base_upto_9 above base_upto_10) and stray names skipped, matching
    # the writer's own parsers
    ready = _view_ready_base(root)
    if ready is not None:
        paths.append(ready[1])
    for bid, path in _view_deltas(root):
        if ready is None or bid > ready[0]:
            paths.append(path)
    if not paths:
        raise FileNotFoundError(f"no view state under {view_path!r}")
    state = spark.read.parquet(*paths)
    return merge_increment(state.limit(0), state, keys, tuple(measures))


def heavy_hitter_sink(
    view_path: str,
    item_col: str,
    k: int = 64,
    compact_every: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining BOUNDED-STATE streaming
    frequency counters (trending items) with Misra-Gries semantics:
    whatever the stream's cardinality, the view holds at most ``k``
    (item, lower-bound-count) counters plus the exact row total, and
    any item whose true frequency exceeds total/k is guaranteed
    present (MG mergeability) — the bounded-memory alternative to an
    exact per-item aggregate view when the item space is unbounded
    (URLs, queries, tokens).

    Layout and replay discipline mirror ``aggregate_view_sink``: each
    micro-batch's OWN summary lands as ``delta/batch_id=N`` (replay
    overwrites it — same batch, same summary), and compaction folds
    base + deltas in strict batch_id order every ``compact_every``
    batches (MG folding is order-sensitive, so the fold order is
    pinned). Counts are lower bounds within total/k of truth — the
    documented MG trade; exact re-verification requires a batch pass
    over retained history (``sketch.heavy_hitters``).

    Read with :func:`read_heavy_hitter_view`."""
    import shutil

    from flyq_spark.operators.sketch import mg_summary

    if "://" in view_path:
        raise ValueError(
            f"heavy_hitter_sink needs a driver-local view_path; got "
            f"scheme-qualified {view_path!r}"
        )
    if k < 1 or compact_every < 1:
        raise ValueError(f"need k >= 1 and compact_every >= 1; got {k}, {compact_every}")
    root = view_path.rstrip("/")

    def _recover() -> tuple[int, str] | None:
        ready = _view_ready_base(root)
        for upto, path in _view_bases(root):
            if (upto, path) != ready:
                shutil.rmtree(path, ignore_errors=True)
        if ready is not None:
            for bid, path in _view_deltas(root):
                if bid <= ready[0]:
                    shutil.rmtree(path, ignore_errors=True)
        return ready

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = _recover()
        counter, total = mg_summary(batch_df, item_col, k)
        item_type = batch_df.select(item_col).schema[0].dataType.simpleString()
        _write_hh_state(
            spark, f"{root}/delta/batch_id={batch_id}", item_type, counter, total
        )
        deltas = [
            d
            for d in _view_deltas(root)
            if d[0] <= batch_id and (ready is None or d[0] > ready[0])
        ]
        if len(deltas) >= compact_every:
            state, n = _fold_hh_state(
                spark, ([ready[1]] if ready else []) + [p for _, p in sorted(deltas)], k
            )
            import os

            new_base = os.path.join(root, f"base_upto_{batch_id}")
            _write_hh_state(spark, new_base, item_type, state, n)
            open(os.path.join(new_base, "_VIEW_READY"), "w").close()
            for bid, path in deltas:
                shutil.rmtree(path, ignore_errors=True)
            if ready:
                shutil.rmtree(ready[1], ignore_errors=True)

    return write


def _write_hh_state(spark, path: str, item_type: str, counter: dict, total: int) -> None:
    rows = [(item, int(cnt), None) for item, cnt in counter.items()]
    rows.append((None, None, int(total)))
    spark.createDataFrame(
        rows, schema=f"item {item_type}, cnt long, total long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _fold_hh_state(spark, paths: list[str], k: int) -> tuple[dict, int]:
    from flyq_spark.operators.sketch import mg_merge

    state: dict = {}
    total = 0
    for p in paths:
        counter = {}
        for r in spark.read.parquet(p).collect():
            if r["total"] is not None:
                total += r["total"]
            else:
                counter[r["item"]] = r["cnt"]
        state = mg_merge(state, counter, k)
    return state, total


def read_heavy_hitter_view(spark, view_path: str, k: int) -> DataFrame:
    """Current bounded-state frequency view as (item, count_lb, total):
    newest ready base + uncompacted deltas folded in strict batch_id
    order (recovery already guarantees remaining deltas postdate the
    base). The item column keeps the type the sink wrote."""
    root = view_path.rstrip("/")
    ready = _view_ready_base(root)
    # skip deltas the base already covers (a stale replayed delta of an
    # already-compacted batch must not double-fold)
    paths = ([ready[1]] if ready else []) + [
        p
        for bid, p in sorted(_view_deltas(root))
        if ready is None or bid > ready[0]
    ]
    if not paths:
        raise FileNotFoundError(f"no heavy-hitter state under {root}")
    item_type = (
        spark.read.parquet(paths[0]).schema["item"].dataType.simpleString()
    )
    state, total = _fold_hh_state(spark, paths, k)
    rows = [(item, int(cnt), int(total)) for item, cnt in state.items()]
    return spark.createDataFrame(
        rows, schema=f"item {item_type}, count_lb long, total long"
    )


def golden_record_sink(
    view_path: str,
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    fields: dict,
    compact_every: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining a streaming GOLDEN-RECORD
    view — field-level survivorship (cdc.golden_record) kept current
    over a change stream, with the same delta/base/marker discipline
    as :func:`aggregate_view_sink`: each batch lands as ONE
    key-cardinality state summary under ``delta/batch_id=N`` (replay
    OVERWRITES, so at-least-once redelivery cannot double-count
    n_rows or resurrect older survivors), and every ``compact_every``
    batches fold into a marker-gated base.

    The state merges losslessly because it keeps each survivor's
    order columns (max-of-structs is associative and commutative —
    see cdc.golden_record_state); the finalized projection happens
    only at read time (:func:`read_golden_record_view`).

    Per-batch cost: one map-side-combined aggregation of the batch.
    The view never rescans history."""
    import os
    import shutil

    from flyq_spark.operators.cdc import golden_record_merge, golden_record_state

    if "://" in view_path:
        raise ValueError(
            f"golden_record_sink needs a driver-local view_path; got "
            f"scheme-qualified {view_path!r}"
        )
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    if not fields:
        raise ValueError("golden_record_sink needs at least one field")

    root = view_path.rstrip("/")
    names = list(fields)

    def _recover():
        ready = _view_ready_base(root)
        for upto, path in _view_bases(root):
            if (upto, path) != ready:
                shutil.rmtree(path, ignore_errors=True)
        if ready is not None:
            for bid, path in _view_deltas(root):
                if bid <= ready[0]:
                    shutil.rmtree(path, ignore_errors=True)
        return ready

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = _recover()
        state = golden_record_state(batch_df, key_cols, order_cols, fields)
        delta_dir = os.path.join(root, "delta", f"batch_id={batch_id}")
        state.write.mode("overwrite").parquet(delta_dir)
        deltas = [
            (b, p)
            for b, p in _view_deltas(root)
            if ready is None or b > ready[0]
        ]
        if len(deltas) < compact_every:
            return
        merged = spark.read.parquet(*[p for _, p in deltas])
        if ready is not None:
            merged = spark.read.parquet(ready[1]).unionByName(merged)
        folded = golden_record_merge(merged, key_cols, names)
        upto = deltas[-1][0]
        new_base = os.path.join(root, f"base_upto_{upto}")
        folded.write.mode("overwrite").parquet(new_base)
        open(os.path.join(new_base, "_VIEW_READY"), "w").close()
        if ready is not None:
            shutil.rmtree(ready[1], ignore_errors=True)
        for bid, path in deltas:
            shutil.rmtree(path, ignore_errors=True)

    return write


def read_golden_record_view(
    spark, view_path: str, key_cols: tuple[str, ...], field_names: list[str]
) -> DataFrame:
    """Current golden records from a :func:`golden_record_sink` view:
    fold the ready base plus any uncompacted deltas (skipping deltas
    the base already covers) and finalize the survivor values."""
    from flyq_spark.operators.cdc import golden_record_finalize, golden_record_merge

    root = view_path.rstrip("/")
    ready = _view_ready_base(root)
    paths = ([ready[1]] if ready else []) + [
        p
        for bid, p in sorted(_view_deltas(root))
        if ready is None or bid > ready[0]
    ]
    if not paths:
        raise FileNotFoundError(f"no golden-record state under {root}")
    state = spark.read.parquet(*paths)
    return golden_record_finalize(
        golden_record_merge(state, key_cols, field_names), field_names
    )


def late_arrival_monitor_sink(
    view_path: str,
    group_col: str,
    ts_col: str,
    thresholds_us: tuple[int, ...] = (60_000_000, 3_600_000_000),
    compact_every: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback maintaining the STREAMING twin of
    :func:`flyq_spark.operators.watermarks.late_arrival_profile`: a
    continuously-updated per-group lateness view that sizes a
    ``withWatermark`` delay from the live stream instead of a replay.

    Semantics match Structured Streaming's watermark contract exactly:
    the watermark is FIXED for a whole micro-batch and derives from
    prior batches only (a batch's own rows never gate each other — the
    engine computes the next watermark from a batch's max event time
    AFTER processing it). Per batch b and group g:

        wm_before(g) = max(batch_max_us) over state with batch_id < b
        lateness     = max(0, wm_before − ts)   (0 for a new group)
        n_late_t    += rows with lateness > t   (exactly the rows
                       ``withWatermark(t)`` would drop in batch b)

    Replay safety: wm_before reads only STRICTLY-OLDER state, so a
    re-delivered batch (same batch_id after a pre-commit crash)
    recomputes an identical delta and OVERWRITES its own
    ``delta/batch_id=N`` partition — the same never-merge-in-place
    discipline as :func:`aggregate_view_sink`; compaction folds every
    delta exactly once behind a ``_VIEW_READY`` marker.

    Scale: per-batch work is one group-sized aggregation of the batch
    plus one broadcast of the ≤|groups|-row watermark table; state is
    |groups| × (uncompacted batches) rows, folded to |groups| every
    ``compact_every`` batches. Nothing here touches the ranking
    primitives (their per-call localCheckpoint would leak per batch —
    operators/ranking.py lifecycle note); the running max lives in the
    view itself. Read with :func:`read_late_arrival_monitor`."""
    import os
    import shutil

    if "://" in view_path:
        raise ValueError(
            f"late_arrival_monitor_sink needs a driver-local view_path; "
            f"got scheme-qualified {view_path!r}"
        )
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1, got {compact_every}")
    root = view_path.rstrip("/")
    thresholds = tuple(int(t) for t in thresholds_us)

    def _fold(state: DataFrame) -> DataFrame:
        aggs = [
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("batch_max_us").cast("long").alias("batch_max_us"),
            F.max("max_late_us").cast("long").alias("max_late_us"),
            F.sum("total_late_us").cast("long").alias("total_late_us"),
        ] + [
            F.sum(f"n_late_{t}us").cast("long").alias(f"n_late_{t}us")
            for t in thresholds
        ]
        return state.groupBy(group_col).agg(*aggs)

    def _recover() -> tuple[int, str] | None:
        ready = _view_ready_base(root)
        for upto, path in _view_bases(root):
            if (upto, path) != ready:
                shutil.rmtree(path, ignore_errors=True)
        if ready is not None:
            for bid, path in _view_deltas(root):
                if bid <= ready[0]:
                    shutil.rmtree(path, ignore_errors=True)
        return ready

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = _recover()
        # strictly-older state only: the ready base (covers batches <=
        # upto < batch_id in any non-corrupt run) + older deltas
        prior = ([ready[1]] if ready is not None else []) + [
            p
            for b, p in _view_deltas(root)
            if b < batch_id and (ready is None or b > ready[0])
        ]
        src = batch_df.select(
            F.col(group_col),
            F.col(ts_col).cast("long").alias("_ts_us"),
        ).where(F.col("_ts_us").isNotNull())
        if prior:
            wm = (
                spark.read.parquet(*prior)
                .groupBy(group_col)
                .agg(F.max("batch_max_us").alias("_wm_us"))
                .select(F.col(group_col).alias("_wg"), "_wm_us")
            )
            src = src.join(
                F.broadcast(wm),
                F.col(group_col).eqNullSafe(F.col("_wg")),
                "left",
            ).drop("_wg")
        else:
            src = src.withColumn("_wm_us", F.lit(None).cast("long"))
        late = F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.col("_wm_us") - F.col("_ts_us"), F.lit(0)),
        )
        counters = [
            F.count(F.when(late > t, 1)).cast("long").alias(f"n_late_{t}us")
            for t in thresholds
        ]
        delta = src.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("_ts_us").cast("long").alias("batch_max_us"),
            F.max(late).cast("long").alias("max_late_us"),
            F.sum(late).cast("long").alias("total_late_us"),
            *counters,
        )
        delta_dir = os.path.join(root, "delta", f"batch_id={batch_id}")
        delta.write.mode("overwrite").parquet(delta_dir)
        deltas = [
            (b, p)
            for b, p in _view_deltas(root)
            if ready is None or b > ready[0]
        ]
        if len(deltas) < compact_every:
            return
        state = spark.read.parquet(*[p for _, p in deltas])
        if ready is not None:
            state = spark.read.parquet(ready[1]).unionByName(state)
        folded = _fold(state)
        upto = deltas[-1][0]
        new_base = os.path.join(root, f"base_upto_{upto}")
        folded.write.mode("overwrite").parquet(new_base)
        open(os.path.join(new_base, "_VIEW_READY"), "w").close()
        if ready is not None:
            shutil.rmtree(ready[1], ignore_errors=True)
        for bid, path in deltas:
            shutil.rmtree(path, ignore_errors=True)

    return write


def read_late_arrival_monitor(
    spark,
    view_path: str,
    group_col: str,
    thresholds_us: tuple[int, ...] = (60_000_000, 3_600_000_000),
) -> DataFrame:
    """Current per-group lateness profile from a
    :func:`late_arrival_monitor_sink` view: (group, n_events,
    watermark_us, max_late_us, total_late_us, n_late_<t>us...) — one
    group-sized aggregation over the ready base + uncompacted
    deltas."""
    root = view_path.rstrip("/")
    ready = _view_ready_base(root)
    paths = ([ready[1]] if ready else []) + [
        p
        for bid, p in _view_deltas(root)
        if ready is None or bid > ready[0]
    ]
    if not paths:
        raise FileNotFoundError(f"no late-arrival state under {root}")
    state = spark.read.parquet(*paths)
    aggs = [
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("batch_max_us").cast("long").alias("watermark_us"),
        F.max("max_late_us").cast("long").alias("max_late_us"),
        F.sum("total_late_us").cast("long").alias("total_late_us"),
    ] + [
        F.sum(f"n_late_{int(t)}us").cast("long").alias(f"n_late_{int(t)}us")
        for t in thresholds_us
    ]
    return state.groupBy(group_col).agg(*aggs)
