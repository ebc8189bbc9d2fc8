"""BPE tokenizer training + encoding over a document corpus [EXT].

Driver-mandated LLM-pipeline extension (no reference counterpart): the
"train a tokenizer on the corpus" capability. The scale trick is the
standard one every fast BPE trainer uses (HF tokenizers, the original
Sennrich et al. 2016 implementation): BPE statistics depend only on the
WORD FREQUENCY DICT, not on the corpus layout — so

1. ONE distributed groupBy compresses the corpus (unbounded) to the
   distinct-word frequency table (Zipf-bounded: millions of entries at
   100 TB, not trillions of tokens);
2. ONE trainer runs the merge loop over that table — count weighted
   adjacent symbol pairs, merge the argmax, repeat — sized to it: on
   the driver when the whole table fits ``_LOCAL_VOCAB_CAP`` rows, else
   as a distributed ladder of one Arrow pass per merge round. Either
   way the statistics are exact over every distinct word. The merge
   table IS the model — O(n_merges), broadcast back for encoding.

:func:`train_bpe_exact` (the merge table as a DataFrame),
:func:`train_bpe_from_counts` (a pre-aggregated word-count table) and
:func:`train_bpe` (a corpus) are views of that one trainer.

Encoding replays the merge list per word, again via the dict: encode
each DISTINCT word once (mapInPandas over the word table, broadcast
merge ranks), then join token counts back onto documents — per-doc work
scales with distinct words touched, not corpus bytes re-tokenized.

Symbols are Unicode code points (a non-BMP character such as an emoji
is one symbol, as ``list(word)`` sees it). Determinism: ties in pair
counts break lexicographically, so the merge sequence is a pure
function of the corpus — replayable anywhere; pinned against a
pure-Python reference in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flyq_spark.operators.util import release_checkpoint

END = "</w>"  # end-of-word sentinel (Sennrich-style)


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """Distinct-word frequency table: the compressed BPE training input.
    One explode + ONE map-side-combined groupBy shuffle on the word."""
    from flyq_spark.operators.util import fan_out

    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return (
        fan_out(df)
        .select(F.explode(F.split(col, "\\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def train_bpe(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train BPE merges on the corpus. Returns the ordered merge list
    [(left, right), ...] — the tokenizer model:
    :func:`train_bpe_from_counts` over :func:`word_frequencies`."""
    return train_bpe_from_counts(word_frequencies(df, text_col), n_merges)


def train_bpe_from_counts(
    counts: DataFrame,
    n_merges: int = 50,
    word_col: str = "word",
    freq_col: str = "freq",
) -> list[tuple[str, str]]:
    """BPE merges over a pre-aggregated (word, freq) table, for callers
    that already hold word counts: catalog stats, a prior groupBy, or a
    STREAMING word-count view maintained by ``aggregate_view_sink``
    (keys=("word",), n_rows = freq), which makes the tokenizer
    re-derivable from |vocab| rows of state at any stream checkpoint —
    the same from-counts composition as ``temperature_mix_from_counts``
    (parity-pinned in tests/test_streaming.py incl. a replayed
    micro-batch and a base compaction).

    The (left, right) prefix of :func:`train_bpe_exact`'s table up to
    the first merge whose pair no longer repeats (count < 2): a merge
    seen once teaches the tokenizer nothing. Past the driver cap the
    same exact ladder runs, so no rare-word tail is dropped."""
    merges: list[tuple[str, str]] = []
    for _, a, b, _, c in _train_merges(
        counts.select(
            F.col(word_col).alias("word"), F.col(freq_col).alias("freq")
        ),
        n_merges,
    ):
        if c < 2:
            break
        merges.append((a, b))
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word (lowest-rank merge first — the standard
    BPE encode order, equivalent to replaying training)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BPE token counts under a trained merge list.

    Scale shape: encode each DISTINCT word once — a ``mapInPandas``
    pass over the word table with the merge ranks broadcast (model-
    sized, like centroids) — then join per-doc word counts onto the
    encoded lengths and sum. Shuffles are word-keyed (dict-sized), not
    token-keyed; no document text is ever re-scanned per merge.
    Empty/whitespace-only documents emit an explicit (id, 0, 0) row —
    implicit absence would silently shrink the row set under joins and
    corpus-size counts. Output: (id, n_words, n_bpe_tokens)."""
    from flyq_spark.operators.util import fan_out

    spark = df.sparkSession
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    doc_words = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("word"),
        )
        .where(F.col("word") != "")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    words = doc_words.select("word").distinct()

    def encode_batch(iterator):
        import pandas as pd

        ranks_ = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_tokens": [
                        len(encode_word(w, ranks_)) for w in pdf["word"]
                    ],
                }
            )

    encoded = words.mapInPandas(encode_batch, schema="word string, n_tokens int")
    agg = (
        doc_words.join(encoded, on="word")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_tokens")).cast("long").alias("n_bpe_tokens"),
        )
    )
    # null-keys-impossible: id_col is the row identity (caller contract)
    return df.select(id_col).distinct().join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def build_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token-id vocabulary from a merge list: byte-level
    base symbols (0-255 as latin-1 chars) and the end-of-word sentinel
    first, then one merged symbol per merge in training order — the
    id assignment every BPE implementation uses, reproducible from the
    merge table alone.

    Caveat inherited from string-symbol BPE (Sennrich reference
    implementation shares it): symbols are compared by SURFACE, so a
    corpus containing text that merges into the literal string '</w>'
    would alias the end-of-word sentinel (ids become non-invertible for
    that token). Byte-level pretokenization (out-of-band markers) is
    the production answer; for word-salad/natural corpora the collision
    requires adjacent '<', '/', 'w', '>' characters merging — absent
    from the fixture and vanishingly rare in practice."""
    vocab: dict[str, int] = {}
    for b in range(256):
        vocab[chr(b)] = len(vocab)
    vocab[END] = len(vocab)
    for a, b in merges:
        sym = a + b
        if sym not in vocab:
            vocab[sym] = len(vocab)
    return vocab


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents as token-ID sequences under a trained merge list — the
    final corpus → ids step before sequence packing. Same scale shape
    as ``bpe_token_counts``: each DISTINCT word encodes once against
    the broadcast (ranks, vocab) model, then a word-keyed join
    reassembles documents via position-ordered flatten (pure HOF; the
    join carries word-id-list rows, not re-tokenized text). Symbols
    outside the vocab (non-latin-1 chars) map to id -1 (the caller's
    UNK policy). Output: (id, token_ids array<int>, n_tokens)."""
    from flyq_spark.operators.util import fan_out

    spark = df.sparkSession
    ranks = {pair: i for i, pair in enumerate(merges)}
    vocab = build_vocab(merges)
    bc = spark.sparkContext.broadcast((ranks, vocab))

    words_pos = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.lower(F.col(text_col)), "\\s+")).alias(
                "pos", "word"
            ),
        )
        .where(F.col("word") != "")
    )
    words = words_pos.select("word").distinct()

    def encode_batch(iterator):
        import pandas as pd

        ranks_, vocab_ = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            ids = [
                [vocab_.get(sym, -1) for sym in encode_word(w, ranks_)]
                for w in pdf["word"]
            ]
            yield pd.DataFrame({"word": pdf["word"], "wids": ids})

    encoded = words.mapInPandas(encode_batch, schema="word string, wids array<int>")
    agg = (
        words_pos.join(encoded, on="word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("wids")))
                    ),
                    lambda s: s["wids"],
                )
            ).alias("token_ids")
        )
    )
    # empty/whitespace-only docs emit an explicit empty sequence
    return (
        df.select(id_col)
        .distinct()
        # null-keys-impossible: id_col is the row identity
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("token_ids"), F.array().cast("array<int>")
            ).alias("token_ids"),
        )
        .select(
            F.col(id_col),
            "token_ids",
            F.size("token_ids").cast("long").alias("n_tokens"),
        )
    )


def _bpe_vocab(counts: DataFrame) -> DataFrame:
    """The BPE family's vocab table over a (word, freq) table such as
    :func:`word_frequencies`: each word's initial symbol sequence — its
    code points plus a terminal ``</w>`` marker (the Sennrich et al.
    2016 word-boundary convention, so merges can't cross words and
    end-of-word variants stay distinct). Runs on the |vocab|-row
    table, never the corpus."""
    # one match per code point: Java's regex engine steps over
    # surrogate pairs, so a non-BMP character (emoji) stays one symbol,
    # as Python's list(word) and the DuckDB oracle's substring see it
    syms = F.concat(
        F.regexp_extract_all(F.col("word"), F.lit("(?s)."), 0),
        F.array(F.lit(END)),
    )
    return counts.select(
        "word", F.col("freq").cast("long").alias("f")
    ).withColumn("syms", syms)


def _bpe_pairs_from_vocab(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (word, f, syms) vocab table:
    (left_sym, right_sym, pair_count), each pair weighted by its word's
    corpus frequency. A pure array projection (transform + F.get
    lookahead) exploded and aggregated — the only shuffle is the
    |alphabet|²-key groupBy, map-side combined."""
    pairs = F.filter(
        F.transform(
            F.col("syms"),
            lambda x, i: F.struct(
                x.alias("l"), F.get(F.col("syms"), i + 1).alias("r")
            ),
        ),
        lambda p: p["r"].isNotNull(),
    )
    return (
        vocab.select("f", F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("f").cast("long").alias("pair_count"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts — BPE tokenizer
    induction's inner statistic (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units"): for every adjacent
    pair of symbols in the initial character+``</w>`` vocabulary,
    the total corpus frequency. The argmax row is the first BPE merge;
    :func:`bpe_learn` iterates this to a merge table.

    Scale shape: ONE corpus scan (word explode + groupBy(word) to the
    |vocab|-row frequency table), then the pair projection/aggregation
    runs entirely on |vocab| rows — at 100 TB the corpus contributes
    one shuffle of distinct words, and the pair table is bounded by
    |alphabet|², not data. Output: (left_sym, right_sym, pair_count)."""
    return _bpe_pairs_from_vocab(_bpe_vocab(word_frequencies(df, text_col)))


def _apply_merge(s: list, a: str, b: str, ab: str) -> list:
    """One merge applied to one symbol sequence — left-to-right,
    non-overlapping, the exact reference semantics (aaa -> [aa, a]).
    Shared by the distributed round kernel and the driver-local loop so
    the two paths cannot drift."""
    n = len(s)
    out = []
    i = 0
    while i < n:
        if s[i] == a and i + 1 < n and s[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


# one BPE merge round's combined output: the rewritten vocab rows
# (f, syms; _pl/_pr/_pc NULL) plus each task's pre-aggregated adjacent
# pair partials (_pl, _pr, _pc; f/syms NULL) — bounded by
# |tasks| x |alphabet|², never by vocab size
_BPE_ROUND_SCHEMA = T.StructType(
    [
        T.StructField("f", T.LongType()),
        T.StructField("syms", T.ArrayType(T.StringType())),
        T.StructField("_pl", T.StringType()),
        T.StructField("_pr", T.StringType()),
        T.StructField("_pc", T.LongType()),
    ]
)


def _bpe_round_kernel(merge: tuple[str, str, str] | None):
    """Arrow kernel for ONE BPE merge round (r13 optimization, guide
    §4.2): apply ``merge`` = (a, b, ab) to every word's symbol
    sequence — left-to-right, non-overlapping, the exact reference
    semantics (aaa -> [aa, a]) — and count the REWRITTEN adjacent
    pairs into one per-task dict, emitted after the last batch as
    pre-aggregated partial rows. ``merge=None`` is round zero: count
    pairs of the initial vocab, rows pass through unchanged.

    One Python pass per round replaces TWO interpreted Catalyst HOF
    folds (the merge-rewrite ``aggregate`` and the pair-projection
    ``transform`` — both CodegenFallback, plus their per-round plan
    construction, measured ~0.25 s/round of driver floor at sf0.1):
    per word the rewrite is O(|syms|) list ops and each pair costs one
    dict update, map-side combined before anything reaches the JVM
    aggregation."""

    def fn(batches):
        import pandas as pd

        pairs: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            out_syms = []
            for f, syms in zip(pdf["f"], pdf["syms"]):
                s = list(syms)
                if merge is not None:
                    s = _apply_merge(s, *merge)
                fi = int(f)
                for i in range(len(s) - 1):
                    k = (s[i], s[i + 1])
                    pairs[k] = pairs.get(k, 0) + fi
                out_syms.append(s)
            m = len(out_syms)
            yield pd.DataFrame(
                {
                    "f": pdf["f"].to_numpy(),
                    "syms": out_syms,
                    "_pl": [None] * m,
                    "_pr": [None] * m,
                    "_pc": pd.array([None] * m, dtype="Int64"),
                }
            )
        if pairs:
            items = sorted(pairs.items())
            yield pd.DataFrame(
                {
                    "f": pd.array([None] * len(items), dtype="Int64"),
                    "syms": [None] * len(items),
                    "_pl": [k[0] for k, _ in items],
                    "_pr": [k[1] for k, _ in items],
                    "_pc": pd.array([v for _, v in items], dtype="Int64"),
                }
            )

    return fn


# Vocab-row bound for the driver-local merge loop (r13, guide §1.2):
# below it the ladder's cluster rounds are pure scheduling/Python-
# boundary overhead (~0.23 s/round measured at sf0.1 where the vocab is
# 31 rows) and the driver loop computes the identical table in
# milliseconds; 65_536 collected vocab rows bounds driver memory.
_LOCAL_VOCAB_CAP = 65_536


def _local_bpe_merges(
    rows: list[tuple[int, list[str]]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local merge loop over a collected (f, syms) vocab — the
    distributed ladder's EXACT semantics: per round count adjacent
    pairs weighted by word frequency, argmax by (count desc, left asc,
    right asc), rewrite via the shared :func:`_apply_merge`. Parity is
    pinned in pytest by running both paths on the same input."""
    state: dict[tuple[str, ...], int] = {}
    for f, syms in rows:
        k = tuple(syms)
        state[k] = state.get(k, 0) + int(f)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, c))
        if rank == n_merges:
            break
        new: dict[tuple[str, ...], int] = {}
        for syms, f in state.items():
            k = tuple(_apply_merge(list(syms), a, b, a + b))
            new[k] = new.get(k, 0) + f
        state = new
    return merges


def _ladder_merges(
    state: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The distributed merge loop over a localCheckpoint'd (f, syms)
    vocab table: each round is ONE Arrow ``mapInPandas`` pass
    (:func:`_bpe_round_kernel`) that applies the previous round's merge
    and emits the rewritten rows plus per-task pair partials, lazily
    localCheckpoint'd; a tiny JVM aggregation over the partials picks
    the argmax (a 1-row collect). Driver state is the merge list, never
    data. ``state`` is released with the first superseded round."""
    combined = state.mapInPandas(
        _bpe_round_kernel(None), schema=_BPE_ROUND_SCHEMA
    ).localCheckpoint(eager=False)
    pending = state
    merges = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                combined.where(F.col("_pl").isNotNull())
                .groupBy("_pl", "_pr")
                .agg(F.sum("_pc").cast("long").alias("pair_count"))
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("_pl").asc(),
                    F.col("_pr").asc(),
                )
                .limit(1)
                .collect()
            )
            # this round's argmax materialized combined's lazy checkpoint
            # as a side effect — the superseded round's blocks are safe to
            # drop. (Lifecycle invariant, do not weaken: the argmax's
            # full-shuffle aggregation materializes EVERY partition of the
            # lazy checkpoint before the superseded blocks go; an action
            # that could short-circuit — a bare limit without the
            # aggregation — would let the release delete blocks the
            # truncated lineage cannot recompute. Pinned by
            # test_train_bpe_exact_multi_round_multi_partition.)
            if pending is not None:
                release_checkpoint(pending)
                pending = None
            if not top:
                break
            a, b, c = top[0]["_pl"], top[0]["_pr"], top[0]["pair_count"]
            merges.append((rank, a, b, a + b, c))
            if rank == n_merges:
                break
            # drop the superseded round's checkpoint blocks promptly (the
            # release above, once the NEXT argmax materializes this
            # rewrite): without it every round's |vocab|-row array table
            # stays pinned in storage memory for the whole loop — measured
            # at 10^7 words (SCALE.md; the r13 scale curve is in
            # OPTIMIZATION_r13.md) the eviction pressure makes per-round
            # cost spiky (22-116 s) instead of flat
            pending = combined
            combined = (
                combined.where(F.col("_pl").isNull())
                .select("f", "syms")
                .mapInPandas(
                    _bpe_round_kernel((a, b, a + b)), schema=_BPE_ROUND_SCHEMA
                )
                .localCheckpoint(eager=False)
            )
    finally:
        release_checkpoint(combined)
        if pending is not None:
            release_checkpoint(pending)
    return merges


def _train_merges(
    counts: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The one BPE trainer, over a (word, freq) table: n_merges rounds
    of (count adjacent pairs) → (argmax, ties lexicographic) → (merge
    left-to-right, non-overlapping), exact over every distinct word.
    Returns (rank, left, right, merged, count) in learn order; fewer
    than n_merges rows iff the vocab ran out of adjacent pairs.

    Size-adaptive on the vocab itself: the vocab table is lazily
    localCheckpoint'd and a bounded probe collects up to
    ``_LOCAL_VOCAB_CAP + 1`` rows. If the whole vocab came back, the
    loop runs on the driver over those rows (one Spark job total
    rather than one per round); otherwise :func:`_ladder_merges` runs
    on the cluster over the same checkpointed rows, so the corpus is
    scanned once on either path. The checkpoint is released on every
    exit (releasing it twice is a no-op)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    state = _bpe_vocab(counts).select("f", "syms").localCheckpoint(eager=False)
    try:
        probe = state.limit(_LOCAL_VOCAB_CAP + 1).collect()
        if len(probe) <= _LOCAL_VOCAB_CAP:
            return _local_bpe_merges(
                [(r["f"], r["syms"]) for r in probe], n_merges
            )
        return _ladder_merges(state, n_merges)
    finally:
        release_checkpoint(state)


def train_bpe_exact(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """The BPE merge table over a corpus as a DataFrame, with its
    counts: the one trainer (Sennrich et al. 2016) over
    :func:`word_frequencies`. The CORPUS is scanned exactly once (the
    word-frequency groupBy); the merge loop runs on the |vocab|-row
    table — on the driver when it fits ``_LOCAL_VOCAB_CAP`` rows, else
    as the distributed ladder, whose statistics are EXACT over every
    distinct word (at 100 TB web text the rare-word tail is exactly the
    mass subword tokenizers exist for).

    Distributed ladder (r12/r13 optimization, guide §1.2 + §4.2):
    every round runs on the symbol table as ONE Arrow ``mapInPandas``
    pass (see :func:`_bpe_round_kernel`); a tiny JVM aggregation over
    the per-task pair partials (bounded by |tasks| x |alphabet|²,
    never vocab size) picks the argmax. The round output is
    localCheckpoint'd LAZILY, so the next argmax computes the rewrite,
    stores the checkpoint blocks and aggregates the partials in ONE
    pass; the superseded round's blocks are released only after that.
    Rounds are inherently sequential (merge r+1's counts depend on
    r's rewrite) — the 1-job-per-merge ladder is the standard
    distributed formulation, not a driver-side loop over data.
    Deterministic end-to-end: both paths share the tie order
    (pair_count desc, left asc, right asc) and :func:`_apply_merge`,
    and are pinned against an independent pure-Python reference.

    Output: (merge_rank, left_sym, right_sym, merged, pair_count),
    merge_rank 1-based in learn order; fewer than n_merges rows iff
    the vocabulary ran out of adjacent pairs first."""
    merges = _train_merges(word_frequencies(df, text_col), n_merges)
    return df.sparkSession.createDataFrame(
        merges,
        schema="merge_rank long, left_sym string, right_sym string,"
        " merged string, pair_count long",
    )
