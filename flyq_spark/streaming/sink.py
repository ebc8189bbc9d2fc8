"""Streaming write side: the ``foreachBatch`` sinks.

- :func:`produce_sink` / :func:`write_stream_to_topic` append each
  micro-batch to a topic through the engine's produce commit protocol:
  routed, offset-assigned from the persisted LEO, appended, and the
  metadata commit advances LEO + the round-robin cursor, so a crashed
  query resumes from its checkpoint and re-produces only unacked batches
  (at-least-once, the reference's delivery contract; the reference
  additionally loses up to 5 s of *commits* on crash,
  runtime/flush.rs:9-39, which we do not).
- :func:`upsert_sink` keeps a latest-wins snapshot table, swapped in
  whole each batch by ``storage.replace_dir``.
- :func:`neardup_dedup_sink` / :func:`phash_dedup_sink` drop near-dups
  against ``batch_id``-partitioned band-key state.
- Five compacting VIEW sinks keep their state in one view store
  (:class:`_ViewStore`): :func:`contamination_monitor_sink`,
  :func:`aggregate_view_sink`, :func:`heavy_hitter_sink`,
  :func:`golden_record_sink` and :func:`late_arrival_monitor_sink`,
  with readers :func:`read_aggregate_view`,
  :func:`read_heavy_hitter_view`, :func:`read_golden_record_view` and
  :func:`read_late_arrival_monitor`. Each sink supplies only its
  per-batch state and its fold.

View-store protocol (Structured Streaming's idempotent-sink recipe:
output keyed by the epoch id):

- Layout. Batch N's state lands in ``delta/batch_id=N``. Once
  ``compact_every`` deltas are newer than the ready base, the base and
  those deltas fold into ``base_upto_B`` (B = the newest folded batch
  id), which an empty ``_VIEW_READY`` file publishes after the fold is
  written; the old base and the folded deltas are then deleted. The
  live state is the ready base plus the deltas newer than it.
- Replay rule. Nothing is merged in place: a replayed batch id
  overwrites its own delta (Structured Streaming re-delivers the same
  data for the same batch id), so nothing counts twice. A delta at or
  below B is a stale replay of an already-folded batch; readers and
  folds skip it.
- Crash rule. Only the newest marked base is read. Before each batch
  the writer deletes every other base (an unmarked one is a fold that
  crashed before its marker) and every delta the ready base covers.
  Names that do not parse (``base_upto_3.bak``, ``batch_id=7.old``)
  are never read nor deleted.
- Driver-local. The marker and the deletions are os-level, so a view
  path must be driver-local: a scheme-qualified path, and
  ``compact_every < 1``, are rejected when the sink is built.

Single-writer discipline holds by construction: one streaming query
owns a topic or a view, and foreachBatch invocations are serial within
a query.
"""

from __future__ import annotations

import os
import shutil
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
    Input needs the message shape (key/value/timestamp[/headers][/seq]).

    ``trigger_once`` runs ``trigger(availableNow=True)``. When ``stream``
    comes from the ``format("flyq")`` source on PySpark 4.1, a Python
    streaming source has no ``Trigger.AvailableNow`` hook, so Spark falls
    back to one single batch, up to the LEO seen when that batch is
    planned; after a restart that finds an uncommitted batch, records
    produced since may wait for the next start."""
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
    under at-least-once redelivery), write to a staged sibling
    directory and swap it in with ``storage.replace_dir``. Each step of
    the swap is one rename, so a concurrent reader can find the
    snapshot path briefly absent (never partial) and should retry; a
    crash inside the swap is resolved by ``storage.restore_dir`` before
    the next batch (or query restart) reads the snapshot, so no
    committed state is lost. Single-writer discipline holds by
    construction (foreachBatch invocations are serial within a query).
    The batch itself may carry several changes per key — apply_changes
    resolves them by (ts, change-beats-snapshot) in one window.

    CONSTRAINT: ``snapshot_path`` must be DRIVER-LOCAL — the swap
    renames directories, which no object store does atomically (the sibling
    ``neardup_dedup_sink`` needs no swap and works on any scheme).
    A scheme-qualified path is rejected up front rather than failing
    with a confusing missing-file error on the first batch."""
    from flyq_spark import storage
    from flyq_spark.operators.cdc import apply_changes

    if "://" in snapshot_path:
        raise ValueError(
            f"upsert_sink needs a driver-local snapshot_path (directory "
            f"rename swap); got scheme-qualified {snapshot_path!r}"
        )
    live = snapshot_path.rstrip("/")
    staged = storage.staging_dir(live)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        storage.restore_dir(live)
        spark = batch_df.sparkSession
        data_cols = [c for c in batch_df.columns if c != op_col]
        if os.path.isdir(live):
            snapshot = spark.read.parquet(live).select(*data_cols)
        else:
            snapshot = spark.createDataFrame([], batch_df.drop(op_col).schema)
        merged = apply_changes(snapshot, batch_df, key_cols, ts_col, op_col)
        merged.write.mode("overwrite").parquet(staged)
        storage.replace_dir(live, staged)

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


class _ViewStore:
    """The view-state layout and its recovery rule — the one
    implementation of the protocol in the module docstring, shared by
    the five compacting sinks and their readers. Sinks keep only their
    own per-batch state and fold; the store owns where state lives,
    which of it is live, and how a fold is published."""

    _BASE = "base_upto_"
    _READY = "_VIEW_READY"

    def __init__(self, path: str, owner: str, compact_every: int = 1):
        if "://" in path:
            raise ValueError(
                f"{owner} needs a driver-local path (the view store's "
                f"marker and deletes are os-level); got scheme-qualified "
                f"{path!r}"
            )
        if compact_every < 1:
            raise ValueError(f"compact_every must be >= 1, got {compact_every}")
        self.root = path.rstrip("/")
        self._delta_dir = os.path.join(self.root, "delta")

    @staticmethod
    def _listing(parent: str, prefix: str) -> list[tuple[int, str]]:
        """Numerically-sorted (id, path) dirs named ``prefix<int>``
        (lexicographic order would rank 9 above 10); other names, such
        as debug copies, are skipped, never crashed on."""
        if not os.path.isdir(parent):
            return []
        out = []
        for d in os.listdir(parent):
            if d.startswith(prefix):
                try:
                    out.append((int(d[len(prefix):]), os.path.join(parent, d)))
                except ValueError:
                    continue
        return sorted(out)

    def _bases(self) -> list[tuple[int, str]]:
        return self._listing(self.root, self._BASE)

    def _deltas(self) -> list[tuple[int, str]]:
        return self._listing(self._delta_dir, "batch_id=")

    def ready(self) -> tuple[int, str] | None:
        """Newest (upto, path) base whose marker exists: a completed
        fold. Read-only."""
        ready = None
        for upto, path in self._bases():
            if os.path.exists(os.path.join(path, self._READY)):
                ready = (upto, path)
        return ready

    def recover(self) -> tuple[int, str] | None:
        """Writer-side crash rule, run before each batch: keep the ready
        base, delete every other base (unmarked = a fold that crashed
        before its marker; older marked = stranded between marker and
        cleanup) and every delta the ready base covers."""
        ready = self.ready()
        for base in self._bases():
            if base != ready:
                shutil.rmtree(base[1], ignore_errors=True)
        for bid, path in self._deltas():
            if ready is not None and bid <= ready[0]:
                shutil.rmtree(path, ignore_errors=True)
        return ready

    def write_delta(self, batch_id: int, state: DataFrame) -> None:
        """Replay rule: a batch's state OVERWRITES its own delta."""
        state.write.mode("overwrite").parquet(
            os.path.join(self._delta_dir, f"batch_id={batch_id}")
        )

    def _uncovered(self, ready: tuple[int, str] | None) -> list[tuple[int, str]]:
        # a delta at or below the ready base is a stale replay of a
        # batch the base already folded: never read, never refolded
        return [(b, p) for b, p in self._deltas() if ready is None or b > ready[0]]

    def live(
        self, ready: tuple[int, str] | None, upto: int | None = None
    ) -> list[str]:
        """The view's state paths: the ready base, then the uncovered
        deltas in batch order — only those ``<= upto`` when given."""
        return ([ready[1]] if ready is not None else []) + [
            p for b, p in self._uncovered(ready) if upto is None or b <= upto
        ]

    def snapshot(self) -> list[str]:
        """Live paths for a reader (no recovery: readers never delete)."""
        paths = self.live(self.ready())
        if not paths:
            raise FileNotFoundError(f"no view state under {self.root!r}")
        return paths

    def compact(
        self,
        ready: tuple[int, str] | None,
        compact_every: int,
        fold: Callable[[list[str]], DataFrame],
    ) -> None:
        """Once ``compact_every`` deltas are uncovered, write
        ``fold(live paths)`` as the base named after the newest folded
        delta, publish it with the marker, then delete what it
        replaces."""
        deltas = self._uncovered(ready)
        if len(deltas) < compact_every:
            return
        paths = self.live(ready)
        new_base = os.path.join(self.root, f"{self._BASE}{deltas[-1][0]}")
        fold(paths).write.mode("overwrite").parquet(new_base)
        open(os.path.join(new_base, self._READY), "w").close()
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)


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

    State: ``state_path`` is a view store (module docstring) whose
    per-batch state is the batch's DISTINCT 60-bit train shingle keys
    and whose fold is one distinct, so both the file count and the
    store's duplicate multiplicity stay bounded as the stream ages.
    The per-batch check reads the live state up to this batch id and
    broadcasts the BATCH's eval shingles, streaming the store through
    a BroadcastHashJoin (see :func:`_store_probe_hits`) — one store
    scan, zero store-side Exchange, never corpus x corpus. Compaction
    is amortized O(|store| / compact_every) per batch."""
    from flyq_spark.operators.corpus import _h60, split_shingled

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    store = _ViewStore(state_path, "contamination_monitor_sink", compact_every)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ready = store.recover()
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
        # shingles per the contract; the <= N bound keeps replay
        # deterministic
        store.write_delta(batch_id, train_ng)
        known = spark.read.parquet(*store.live(ready, upto=batch_id)).select("ng")
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
        # ONE distinct folds base + deltas: the store's only global
        # dedup, paid every compact_every batches, and it also shrinks
        # every later probe's matched-row multiplicity to 1
        store.compact(
            ready,
            compact_every,
            lambda paths: spark.read.parquet(*paths).select("ng").distinct(),
        )

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


def _aggregate_fold(spark, paths: list[str], keys, measures) -> DataFrame:
    """One re-aggregate folds any number of ``summarize`` states
    (merge_increment over an N-way union is the same single groupBy)."""
    from flyq_spark.operators.incremental import merge_increment

    state = spark.read.parquet(*paths)
    return merge_increment(state.limit(0), state, keys, tuple(measures))


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
    once into the view store (module docstring), whose fold is one
    additive re-aggregate. Additive merge is not idempotent, which is
    why the store never merges in place. Read the view with
    :func:`read_aggregate_view`.

    Scale: the per-batch work is one partial-aggregated summarize of
    the batch (key-cardinality output) — the view never rescans
    history; compaction cost is keys × (compact_every + 1) state rows,
    amortized O(keys) per batch."""
    from flyq_spark.operators.incremental import summarize

    store = _ViewStore(view_path, "aggregate_view_sink", compact_every)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = store.recover()
        store.write_delta(
            batch_id, summarize(batch_df, keys, measures, approx_distinct)
        )
        store.compact(
            ready,
            compact_every,
            lambda paths: _aggregate_fold(spark, paths, keys, measures),
        )

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
    paths = _ViewStore(view_path, "read_aggregate_view").snapshot()
    return _aggregate_fold(spark, paths, keys, measures)


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

    Each micro-batch's own MG summary is a view-store delta (module
    docstring); the fold merges base + deltas in strict batch_id order
    (MG folding is order-sensitive, so the order is pinned). Counts
    are lower bounds within total/k of truth — the documented MG
    trade; exact re-verification requires a batch pass over retained
    history (``sketch.heavy_hitters``).

    Read with :func:`read_heavy_hitter_view`."""
    from flyq_spark.operators.sketch import mg_summary

    store = _ViewStore(view_path, "heavy_hitter_sink", compact_every)
    if k < 1:
        raise ValueError(f"need k >= 1; got {k}")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = store.recover()
        counter, total = mg_summary(batch_df, item_col, k)
        item_type = batch_df.select(item_col).schema[0].dataType.simpleString()
        store.write_delta(batch_id, _hh_state(spark, item_type, counter, total))
        store.compact(
            ready,
            compact_every,
            lambda paths: _hh_state(
                spark, item_type, *_fold_hh_state(_read_hh_states(paths), k)
            ),
        )

    return write


def _hh_state(spark, item_type: str, counter: dict, total: int) -> DataFrame:
    rows = [(item, int(cnt), None) for item, cnt in counter.items()]
    rows.append((None, None, int(total)))
    return spark.createDataFrame(
        rows, schema=f"item {item_type}, cnt long, total long"
    ).coalesce(1)


def _read_hh_states(paths: list[str]) -> list:
    """The heavy-hitter state tables in batch order, read with pyarrow
    on the driver (view-store paths are driver-local): a fold is a few
    k-row tables, not worth a Spark job per path."""
    import pyarrow.parquet as pq

    return [pq.read_table(p, columns=["item", "cnt", "total"]) for p in paths]


def _fold_hh_state(tables: list, k: int) -> tuple[dict, int]:
    from flyq_spark.operators.sketch import mg_merge

    state: dict = {}
    total = 0
    for table in tables:
        counter = {}
        for r in table.to_pylist():
            if r["total"] is not None:
                total += r["total"]
            else:
                counter[r["item"]] = r["cnt"]
        state = mg_merge(state, counter, k)
    return state, total


def read_heavy_hitter_view(spark, view_path: str, k: int) -> DataFrame:
    """Current bounded-state frequency view as (item, count_lb, total):
    newest ready base + uncompacted deltas folded in strict batch_id
    order on the driver — no Spark job. The item column keeps the type
    the sink wrote."""
    from pyspark.sql.pandas.types import from_arrow_type

    tables = _read_hh_states(
        _ViewStore(view_path, "read_heavy_hitter_view").snapshot()
    )
    item_type = from_arrow_type(tables[0].schema.field("item").type).simpleString()
    state, total = _fold_hh_state(tables, k)
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
    over a change stream: each batch lands as ONE key-cardinality
    state summary in the view store (module docstring), so an
    at-least-once redelivery cannot double-count n_rows or resurrect
    older survivors.

    The state merges losslessly because it keeps each survivor's
    order columns (max-of-structs is associative and commutative —
    see cdc.golden_record_state); the finalized projection happens
    only at read time (:func:`read_golden_record_view`).

    Per-batch cost: one map-side-combined aggregation of the batch.
    The view never rescans history."""
    from flyq_spark.operators.cdc import golden_record_merge, golden_record_state

    store = _ViewStore(view_path, "golden_record_sink", compact_every)
    if not fields:
        raise ValueError("golden_record_sink needs at least one field")
    names = list(fields)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = store.recover()
        store.write_delta(
            batch_id, golden_record_state(batch_df, key_cols, order_cols, fields)
        )
        store.compact(
            ready,
            compact_every,
            lambda paths: golden_record_merge(
                spark.read.parquet(*paths), key_cols, names
            ),
        )

    return write


def read_golden_record_view(
    spark, view_path: str, key_cols: tuple[str, ...], field_names: list[str]
) -> DataFrame:
    """Current golden records from a :func:`golden_record_sink` view:
    fold the live state and finalize the survivor values."""
    from flyq_spark.operators.cdc import golden_record_finalize, golden_record_merge

    paths = _ViewStore(view_path, "read_golden_record_view").snapshot()
    return golden_record_finalize(
        golden_record_merge(spark.read.parquet(*paths), key_cols, field_names),
        field_names,
    )


def _late_fold(state: DataFrame, group_col: str, thresholds) -> DataFrame:
    """Per-group merge of lateness states: counters add, maxima max
    (the max of ``batch_max_us`` is the group's watermark)."""
    return state.groupBy(group_col).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("batch_max_us").cast("long").alias("batch_max_us"),
        F.max("max_late_us").cast("long").alias("max_late_us"),
        F.sum("total_late_us").cast("long").alias("total_late_us"),
        *[
            F.sum(f"n_late_{int(t)}us").cast("long").alias(f"n_late_{int(t)}us")
            for t in thresholds
        ],
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

    Replay safety: wm_before reads only STRICTLY-OLDER live state of
    the view store (module docstring), so a re-delivered batch
    recomputes an identical delta.

    Scale: per-batch work is one group-sized aggregation of the batch
    plus one broadcast of the ≤|groups|-row watermark table; state is
    |groups| × (uncompacted batches) rows, folded to |groups| every
    ``compact_every`` batches. Nothing here touches the ranking
    primitives (their per-call localCheckpoint would leak per batch —
    operators/ranking.py lifecycle note); the running max lives in the
    view itself. Read with :func:`read_late_arrival_monitor`."""
    store = _ViewStore(view_path, "late_arrival_monitor_sink", compact_every)
    thresholds = tuple(int(t) for t in thresholds_us)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ready = store.recover()
        prior = store.live(ready, upto=batch_id - 1)
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
        store.write_delta(batch_id, delta)
        store.compact(
            ready,
            compact_every,
            lambda paths: _late_fold(
                spark.read.parquet(*paths), group_col, thresholds
            ),
        )

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
    group-sized aggregation over the live state."""
    paths = _ViewStore(view_path, "read_late_arrival_monitor").snapshot()
    return _late_fold(
        spark.read.parquet(*paths), group_col, thresholds_us
    ).withColumnRenamed("batch_max_us", "watermark_us")
