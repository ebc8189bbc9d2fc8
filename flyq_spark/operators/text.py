"""Text analysis operators [EXT]: token counting, quality scoring,
language ID, document fingerprinting.

Driver-mandated LLM-pipeline extensions (no reference counterpart). All
expressions are built-in pyspark.sql.functions — JVM-side, whole-stage
codegen, no Python in the row loop — and every one of them has an exact
ANSI-SQL restatement so the DuckDB oracle can replay it (the fixture
corpus is single-space-separated word soup, which keeps the arithmetic
forms honest).

Scale: every operator here is a pure projection (zero shuffles); the only
aggregation is whatever the caller groups by afterwards.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# occurrence count of a marker inside padded text: (len - len(remove)) / len(marker)
def _occurrences(padded: Column, marker: str) -> Column:
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("long")


def _padded(text: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(text), F.lit(" "))


# Stopword markers per language for the n-gram-heuristic language ID.
# Tiny on purpose: the heuristic (count marker hits, argmax with a
# deterministic tie order) is the operator; the dictionary is a knob.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " a "],
    "de": [" der ", " und ", " die ", " das "],
    "fr": [" le ", " la ", " et ", " les "],
    "es": [" el ", " los ", " que ", " y "],
    "zh": ["的", "是", "了"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count via length arithmetic (exactly replayable in
    SQL: (len - len(remove spaces)) + 1 for single-space-separated text,
    0 for empty)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0).cast("long")).otherwise(
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1).cast("long")
    )


#: GPT-2-style pretokenizer, simplified to the subset RE2 also supports
#: (no lookahead): a leading-space word run, digit run, punctuation run,
#: or residual space run. Alternation is leftmost-first in both Java
#: regex (Spark) and RE2 (DuckDB), so the match sequence — and therefore
#: the count — is engine-exact.
BPE_PRETOKEN_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"


def bpe_pretoken_count(text: Column, pattern: str = BPE_PRETOKEN_PATTERN) -> Column:
    """BPE-ish token-budget estimate: the number of pretokenizer matches
    (the unit BPE merges operate within — an upper bound on merged token
    count and the standard budget proxy when the merge table isn't in
    the engine). One vectorized regexp_extract_all per row, JVM-side."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), 0)).cast("long")


def with_token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """n_tokens / n_chars / mean token length per document."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        # empty docs: mean length 0.0, not a DIVIDE_BY_ZERO abort
        # (ANSI mode is Spark 4's default)
        F.when(
            n_tok > 0,
            F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tok,
        )
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
    )


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: a length prior x stopword-presence
    ratio — the standard cheap pre-filter shape for pretraining corpora
    (length/punct/stopword ratios). Deterministic arithmetic only."""
    n_tok = token_count(text)
    stop_hits = _occurrences(_padded(text), " the ") + _occurrences(
        _padded(text), " a "
    )
    # empty docs score 0, not DIVIDE_BY_ZERO (ANSI default)
    stop_ratio = F.when(
        n_tok > 0, stop_hits.cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    length_prior = F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0))
    return (F.lit(0.5) * length_prior + F.lit(0.5) * F.least(stop_ratio * 8, F.lit(1.0)))


def lang_scores(text: Column) -> dict[str, Column]:
    padded = _padded(text)
    return {
        lang: reduce(lambda a, b: a + b, [_occurrences(padded, m) for m in markers])
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(text: Column) -> Column:
    """Argmax of marker-hit counts; ties resolve in LANG_MARKERS order;
    zero hits -> 'und'. A CASE chain — replayable as SQL verbatim."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(scores)):  # earlier langs win ties -> apply last
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def doc_fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of case-normalized text."""
    return F.md5(F.lower(text))


def shingle_fingerprint(text: Column, k: int = 8, hash_fn: str = "md5") -> Column:
    """Rolling k-gram fingerprint: minimum hash over all k-char windows
    (winnowing with one global window — robust to small edits anywhere in
    the document, unlike the whole-doc hash).

    ``hash_fn``: "md5" is oracle-replayable (DuckDB computes the same hex
    strings); "xxhash64" is the production path (~10x cheaper, long
    instead of 32-char string) for when cross-engine parity is not
    required."""
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    if hash_fn == "md5":
        gram = lambda i: F.md5(text.substr(i, F.lit(k)))
    elif hash_fn == "xxhash64":
        gram = lambda i: F.xxhash64(text.substr(i, F.lit(k)))
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    return F.array_min(F.transform(positions, gram))


def build_inverted_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted index: (term, df, postings) with postings a sorted doc-id
    array. Tokens are lowercase single-space splits (the repo-wide text
    convention). The plan is explode → distinct(term, doc) → groupBy
    term: shuffle volume = token occurrences, map-side combined.

    Scale note: term frequency is Zipfian — a stopword's posting list is
    a hot key. At 100 TB the posting ARRAY itself is the problem (one
    reducer builds it), so production form caps or shards postings
    (posting-list segments per (term, bucket)); df and the candidate
    join below only need the (term, doc) pair relation, which AQE
    skew-splits fine. The array form here is the compact exchange/report
    format."""
    pairs = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    return pairs.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.array_sort(F.collect_list("doc")).alias("postings"),
    )


def search_all_terms(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive (AND) term search straight off the (term, doc) pair
    relation: a doc matches when it contains EVERY query term — count
    of distinct matched terms == len(terms). No posting arrays are
    materialized; the plan is a term-filtered explode (the filter
    prunes before the shuffle) + one groupBy(doc) — shuffle volume =
    matches only. Duplicate query terms are deduped (the match count is
    DISTINCT terms; comparing it against a duplicated length could
    never be satisfied). Output: matching doc ids."""
    wanted = sorted({t.lower() for t in terms})
    pairs = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), " ")).alias("term"),
        )
        .where(F.col("term").isin(wanted))
        .distinct()
    )
    return (
        pairs.groupBy("doc")
        .agg(F.count("*").alias("_nt"))
        .where(F.col("_nt") == len(wanted))
        .select(F.col("doc").alias(id_col))
    )


def bigram_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus bigram statistics (the n-gram LM / collocation primitive):
    (bigram, n_docs, n_occurrences). Bigrams come straight off the token
    ARRAY via a sequence→transform projection — no window, no self-join,
    no per-token shuffle; the only shuffle is the final groupBy(bigram),
    map-side combined. Zipfian-term skew note as build_inverted_index."""
    from flyq_spark.operators.corpus import _word_ngrams

    arr = F.split(F.lower(F.trim(F.col(text_col))), " ")
    bigrams = _word_ngrams(arr, 2)
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(bigrams).alias("bigram")
    ).where(~F.col("bigram").rlike("^ | $|^$"))
    return exploded.groupBy("bigram").agg(
        F.countDistinct("doc").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_occurrences"),
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (the Gopher-rule quality family):
    (n_words, n_unique_words, top_word_count, n_bigrams,
    n_unique_bigrams) as exact BIGINTs — the caller derives the
    duplicate-word / duplicate-bigram / top-word fractions; integer
    outputs keep the result engine-hash-exact.

    Two linear passes, no quadratic per-row work: word counts go
    explode → groupBy(doc, word) → groupBy(doc) (both shuffles map-side
    combined and keyed by the doc id, so a 1M-token document is LINEAR
    in its length — unlike the tempting pure-projection
    array_max(transform(distinct, w -> count)) form, which is O(unique
    × length) per row); bigram uniqueness is a pure array projection
    (sequence → transform → array_distinct) joined back on the doc id.

    Tokenization contract: tokens are split-on-single-space SEGMENTS,
    including the empty segments consecutive spaces produce (an empty
    doc counts one empty word) — deliberately mirrored by the ANSI
    oracle replay; run ``normalize_text`` upstream when whitespace is
    untrusted."""
    from flyq_spark.operators.util import fan_out

    df = fan_out(df)
    arr = F.split(F.col(text_col), " ")
    from flyq_spark.operators.corpus import _word_ngrams

    bigrams = _word_ngrams(arr, 2)
    proj = df.select(
        F.col(id_col),
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_unique_bigrams"),
    )
    wc = (
        df.select(F.col(id_col), F.explode(arr).alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count("*").alias("_c"))
    )
    agg = wc.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_unique_words"),
        F.max("_c").cast("long").alias("top_word_count"),
    )
    # null-keys-impossible: id_col is the row identity
    return agg.join(proj, on=id_col)


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    max_top_word_pct: int = 15,
    max_dup_bigram_pct: int = 10,
) -> DataFrame:
    """Composed Gopher-rule document filter: (doc_id, reason, keep)
    where ``reason`` is the FIRST failing rule (too_short / too_long /
    repetitive_word / repetitive_bigram) or 'ok'. Thresholds compare
    cross-multiplied integers (``top_count*100 > n_words*pct``) — no
    float ratio ever materializes, so the verdict is engine-exact.
    Cost is one ``repetition_signals`` pass; the CASE chain is a free
    projection on top."""
    sig = repetition_signals(df, id_col, text_col)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_short"))
        .when(F.col("n_words") > max_words, F.lit("too_long"))
        .when(
            F.col("top_word_count") * 100 > F.col("n_words") * max_top_word_pct,
            F.lit("repetitive_word"),
        )
        .when(
            (F.col("n_bigrams") - F.col("n_unique_bigrams")) * 100
            > F.col("n_bigrams") * max_dup_bigram_pct,
            F.lit("repetitive_bigram"),
        )
        .otherwise(F.lit("ok"))
    )
    return sig.select(
        F.col(id_col), reason.alias("reason"), (reason == "ok").alias("keep")
    )


#: Default PII patterns (Java-regex and RE2 compatible: no lookaround).
#: Order matters: longer/more-specific patterns first so a phone number
#: inside an email-like token is not half-redacted.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    # no leading \b: "(" is non-word, so a boundary can never precede it
    "phone": r"(?:\+?1[-. ])?(?:\([0-9]{3}\) ?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII scrubbing for a training corpus: replaces each pattern match
    with ``[<NAME>]`` (e.g. ``[EMAIL]``) and appends one BIGINT hit
    counter per pattern (``n_email``, ...) so downstream audits can
    aggregate redaction volume without re-scanning.

    All work is JVM-side ``regexp_replace``/``regexp_count`` — one
    codegen'd projection, zero shuffles, linear per row. Patterns apply
    in dict order over the progressively-redacted text; counts are
    measured on the ORIGINAL text so overlapping patterns report what
    they would have matched, independent of application order."""
    pats = PII_PATTERNS if patterns is None else patterns
    original = F.col(text_col)
    redacted = original
    out = df
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(original, F.lit(pat)).cast("long")
        )
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    return out.withColumn(text_col, redacted)


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of documents for a bag-of-terms query. All corpus
    statistics are computed IN-PLAN (no driver round-trip): doc lengths
    and the (doc, term, tf) relation come from one term-filtered explode
    (the filter prunes before any shuffle); N and avgdl ride along as a
    broadcast 1-row aggregate; idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)) form computed per term after a
    groupBy(term) on the MATCHED relation only. Shuffle volume is
    proportional to matches, never the corpus. Scores are double
    (log-based — pinned against a numpy reference in pytest, not a SQL
    oracle); ties break by id, so the top-k set is deterministic."""
    wanted = [t.lower() for t in terms]
    arr = F.split(F.lower(F.trim(F.col(text_col))), " ")
    base = df.select(
        F.col(id_col).alias("doc"),
        arr.alias("_toks"),
        token_count(F.col(text_col)).alias("_dl"),
    )
    stats = base.agg(
        F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    matched = (
        base.select(
            "doc", "_dl", F.explode("_toks").alias("term")
        )
        .where(F.col("term").isin(wanted))
        .groupBy("doc", "_dl", "term")
        .agg(F.count("*").cast("double").alias("_tf"))
    )
    dfreq = matched.groupBy("term").agg(F.countDistinct("doc").alias("_df"))
    scored = (
        matched.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
            ),
        )
        .groupBy("doc")
        .agg(F.sum("_s").alias("score"))
    )
    # top-k via orderBy().limit(): TakeOrderedAndProject — every
    # partition keeps a k-row heap, only P·k rows cross the wire. A
    # partition-less row_number window here would instead sort the
    # WHOLE scored set (corpus-sized for a stop-word query) in one
    # task. The rank stamp runs after the limit, so its window input
    # is ≤k rows; the constant partition key keeps it an explicitly
    # bounded single task rather than a data-sized global window.
    top = scored.orderBy(F.col("score").desc(), F.col("doc").asc()).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return top.select(
        F.col("doc").alias(id_col),
        "score",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def rare_token_stats(
    df: DataFrame,
    max_freq: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document rare-token counts against corpus-wide word
    frequencies — the integer-exact core of CCNet-style frequency
    filtering (documents dominated by words the corpus has barely seen
    are OCR noise, mojibake, or gibberish; documents with none are
    boilerplate). A word is "rare" when its TOTAL corpus occurrence
    count is <= ``max_freq``.

    Emitting counts (not a log-probability) is deliberate: float
    surprisal sums are partition-order-dependent, so two runs of the
    same query could hash differently; integer counts are associative
    and engine-exact. Callers derive ratios.

    Plan, skew-safe at corpus scale: token explode (narrow) →
    ``groupBy(doc, word).count()`` FIRST — the composite key spreads a
    Zipfian head word ("the") across every document, and map-side
    combine collapses its per-doc occurrences before any exchange; all
    later stages see one row per (doc, word), not one per token.
    Corpus frequency is then ``groupBy(word).sum`` over those compact
    rows (combine-friendly — a ``count() over (partition by word)``
    window here would ship every occurrence of a hot word to one
    reducer, a straggler/OOM at 100 TB, and windows cannot be
    AQE-skew-split). The rare vocabulary (the long tail — most of the
    vocabulary, so broadcast would NOT scale) comes back via a LEFT
    SEMI equi-join on the word key, whose shuffle AQE can skew-split;
    the semi-join's left side carries doc-counts, not occurrences, so
    a hot word contributes #docs rows, not #tokens. Distinct-rare
    counting is exact per doc (bounded by document length, never
    corpus-wide state).

    Output: (doc_id, n_tokens, n_rare_tokens, n_distinct_rare)."""
    from flyq_spark.operators.util import fan_out

    toks = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_w")
    ).where(F.col("_w") != "")  # '' from empty docs/double spaces is not
    # a token — unfiltered it would enter the vocabulary and, being
    # rare, mark empty docs as 100% rare (a quality-signal distortion)
    doc_word = toks.groupBy(id_col, "_w").agg(F.count("*").alias("_n"))
    rare_vocab = (
        doc_word.groupBy("_w")
        .agg(F.sum("_n").alias("_c"))
        .where(F.col("_c") <= max_freq)
        .select("_w", F.lit(1).alias("_rare"))
    )
    return (
        doc_word.join(rare_vocab, "_w", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_rare") == 1, F.col("_n")).otherwise(0)
            )
            .cast("long")
            .alias("n_rare_tokens"),
            F.count(F.when(F.col("_rare") == 1, F.col("_w")))
            .cast("long")
            .alias("n_distinct_rare"),
        )
    )


def hashing_trick_vectors(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing featurizer (the Vowpal-Wabbit hashing trick,
    SQL-replayable): each document becomes a dense ``dim``-bucket token
    COUNT vector, bucket = first-8-md5-hex-digits(token) mod dim — the
    bridge from the text stack to the embedding/ANN stack when no
    trained encoder is available (hashed count vectors feed
    ``topk_bruteforce``/LSH/IVF unchanged after normalization).

    Integer counts on purpose: the vector is engine- and
    partition-order-exact (normalization is one HOF away for callers,
    ``F.transform(vec, x -> x / norm)``).

    Plan: token explode → ONE (doc, bucket) map-side-combined count →
    ONE doc-key aggregation assembling the dense vector via
    ``map_from_entries`` + a ``sequence`` transform (order-independent
    map lookups, so collect_list ordering cannot leak in). Both
    shuffles carry integer keys/counts only; the vector materializes
    once per document. Output: (id, vec array<long> of length dim)."""
    from flyq_spark.operators.util import fan_out

    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("_w"),
    ).where(F.col("_w") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long")
        % dim
    ).cast("int")
    counts = toks.select(id_col, bucket.alias("_b")).groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    assembled = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_c")))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")), F.lit(0)).cast(
            "long"
        ),
    )
    return assembled.select(F.col(id_col), dense.alias("vec"))


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM surprisal quality score (the CCNet criterion proper):
    mean per-token surprisal -ln(freq/total) under the corpus's OWN
    unigram model — low = fluent/common text, high = OCR noise or
    gibberish. Complements ``rare_token_stats`` (integer counts) with
    the actual LM form.

    Plan, mirroring ``rare_token_stats``'s skew-safe shape: token
    explode → ``groupBy(doc, word).count()`` first (map-side combine on
    the composite key collapses a hot word's per-doc occurrences before
    any exchange) → corpus frequency via ``groupBy(word).sum`` over the
    compact rows + an AQE-skew-splittable equi-join back (a word-key
    window here would ship every occurrence of "the" to one reducer —
    the straggler/OOM shape at 100 TB) → one doc-key aggregation of
    (Σ n·ln freq, Σ n) → the corpus total joins as a 1-row broadcast
    (scalar-subquery shape), so mean surprisal = ln(total) - Σln(freq)/n
    needs no third pass. Float outputs → rows-only in the gate, pinned
    against numpy in pytest (per-doc sums are short; cross-partition
    reduction order does not change them materially, and the gate never
    hashes them).

    Output: (id, n_tokens, mean_surprisal)."""
    from flyq_spark.operators.util import fan_out

    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("_w"),
    ).where(F.col("_w") != "")
    doc_word = toks.groupBy(id_col, "_w").agg(F.count("*").alias("_n"))
    word_counts = doc_word.groupBy("_w").agg(F.sum("_n").alias("_c"))
    per_doc = (
        doc_word.join(word_counts, "_w")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("long").alias("n_tokens"),
            F.sum(F.col("_n") * F.log("_c")).alias("_sum_ln"),
        )
    )
    total = toks.agg(F.count("*").cast("long").alias("_total"))
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_tokens",
        (F.log("_total") - F.col("_sum_ln") / F.col("n_tokens")).alias(
            "mean_surprisal"
        ),
    )


def hashed_linear_score(
    df: DataFrame,
    dim: int = 4096,
    seed: str = "flyq-quality-v1",
    bigrams: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-shaped linear text classifier scoring: hash unigram (and
    word-bigram) features into ``dim`` buckets, score = sum of the
    per-bucket model weights over all feature OCCURRENCES. This is the
    inference kernel of the quality/toxicity classifiers LLM pipelines
    run over every document (CCNet, GPT-3's WebText classifier) — the
    weight table is the model; here it is derived deterministically
    from ``seed`` (md5 of "seed:bucket" → integer in [-1000, 1000]) so
    the whole computation is engine-replayable in ANSI SQL with no
    trained artifact, and INTEGER-exact (float dot products are
    partition-order-dependent; integer sums are associative).

    Plan, one shuffle: token-array projection → feature explode
    (unigrams + adjacent bigrams off the same array, no self-join) →
    bucket AND weight computed in the same narrow projection (the
    weight is a pure function of the bucket, so there is no weight
    table to join or broadcast) → ONE doc-key groupBy with map-side
    partial sums. At 100 TB the shuffle carries one (doc, partial)
    row per map partition per doc — never per token.

    Output: (id, n_features, score) as BIGINTs; callers threshold
    score (e.g. keep score >= 0)."""
    arr = F.array_remove(F.split(F.lower(F.col(text_col)), "\\s+"), "")
    uni = arr
    feats = uni
    if bigrams:
        from flyq_spark.operators.corpus import _word_ngrams

        feats = F.concat(uni, _word_ngrams(arr, 2))
    from flyq_spark.operators.util import fan_out

    exploded = fan_out(df).select(
        F.col(id_col), F.explode(feats).alias("_f")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long")
        % dim
    )
    weight = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), bucket.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    return (
        exploded.select(F.col(id_col), weight.alias("_w"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_features"),
            F.sum("_w").cast("long").alias("score"),
        )
    )


def salient_terms(
    df: DataFrame,
    k: int = 5,
    min_tf: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k salient terms — the integer-exact core of
    TF-IDF keyword extraction. Classic TF-IDF ranks by tf·ln(N/df);
    ln() is float and cross-engine float totals are hash-fragile, so
    the ranking key here is the equivalent integer lattice: tf DESC
    (more occurrences = more salient), then df ASC (rarer across the
    corpus = more specific), then term ASC (total order). For fixed tf
    this orders exactly like ln(N/df) would; across tf values it is
    the standard tf-primary variant.

    Plan: token explode → ONE map-side-combined (doc, term) count; df
    comes from groupBy(term) over those COMPACT rows (one row per doc
    per term, never per occurrence — a hot term costs #docs rows, and
    the equi-join back is AQE-skew-splittable, the same de-skew shape
    as rare_token_stats); one doc-key window ranks. No broadcast of
    the vocabulary (it is the long tail — does not fit at corpus
    scale).

    Output: (id, term, tf, df, rank), rank 1..k."""
    from flyq_spark.operators.util import fan_out

    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("_t"),
    ).where(F.col("_t") != "")
    doc_term = toks.groupBy(id_col, "_t").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = doc_term.groupBy("_t").agg(
        F.count("*").cast("long").alias("df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("_t").asc()
    )
    return (
        doc_term.where(F.col("tf") >= min_tf)
        .join(dfreq, "_t")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col(id_col), F.col("_t").alias("term"), "tf", "df", "rank")
    )


def domain_affinity(
    df: DataFrame,
    target: DataFrame,
    dim: int = 4096,
    top_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-shaped data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how much of it falls in the TARGET DOMAIN's
    characteristic hashed-feature buckets. DSIR proper computes
    log-importance weights from two hashed-n-gram LMs; this is the
    integer-exact core — the target profile is the top
    ``top_buckets`` buckets of the target sample by occupancy
    (count DESC, bucket ASC: a total order, so the profile is
    deterministic on every engine), and a document's affinity is the
    exact count of its token occurrences landing in profile buckets.
    Callers resample by n_target_hits/n_tokens; integer counts keep
    the gate hash-exact where float log-ratios could not be.

    Plan: the target profile is O(dim) rows (bucket-groupBy with
    map-side combine, then a rank over at most ``dim`` rows — the one
    deliberately-global window here, bounded by the literal ``dim``,
    never by data volume) and BROADCASTS to mark corpus hits — the
    corpus side is one narrow projection + ONE doc-key groupBy with
    map-side partial sums. No shuffle carries per-token rows across
    the wire beyond the map-combined (doc, partials).

    Output: (id, n_tokens, n_target_hits) as BIGINTs."""
    from flyq_spark.operators.util import fan_out

    def buckets(frame: DataFrame) -> DataFrame:
        toks = fan_out(frame).select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("_w"),
        ).where(F.col("_w") != "")
        b = (
            F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long")
            % dim
        )
        return toks.select(F.col(id_col), b.alias("_b"))

    profile = (
        buckets(target)
        .groupBy("_b")
        .agg(F.count("*").alias("_c"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.orderBy(F.col("_c").desc(), F.col("_b").asc())
            ),
        )
        .where(F.col("_r") <= top_buckets)
        .select("_b", F.lit(1).alias("_hit"))
    )
    return (
        buckets(df)
        .join(F.broadcast(profile), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_target_hits"),
        )
    )


def compression_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression-ratio quality signals (the RefinedWeb/Dolma
    "too compressible = repetitive boilerplate / too incompressible =
    random noise" heuristic): per document — raw UTF-8 bytes, deflated
    bytes, and milli-bits-per-byte (8000·z/n as an exact integer, no
    IEEE division). NULL text yields NULL signals; empty text has
    n_bytes=0 and NULL bpc (no ratio exists).

    Python-bound by necessity (Spark SQL has no deflate expression),
    but Arrow-batched ``mapInPandas`` like the media kernels — the
    compressor is CPU-local per row, no shuffle at all. Deflate output
    depends on the zlib build, so this is a rows-only signal: pin
    thresholds per deployment, don't hash-compare across engines."""
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("z_bytes", T.LongType(), True),
            T.StructField("bpb_milli", T.LongType(), True),
        ]
    )

    def kernel(batches):
        import zlib

        for pdf in batches:
            out = {id_col: pdf[id_col], "n_bytes": [], "z_bytes": [], "bpb_milli": []}
            for t in pdf[text_col]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    out["n_bytes"].append(None)
                    out["z_bytes"].append(None)
                    out["bpb_milli"].append(None)
                    continue
                raw = t.encode("utf-8")
                z = len(zlib.compress(raw, level))
                out["n_bytes"].append(len(raw))
                out["z_bytes"].append(z)
                out["bpb_milli"].append(
                    (8000 * z) // len(raw) if raw else None
                )
            yield pd.DataFrame(out)

    from flyq_spark.operators.util import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(kernel, schema)


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over the positional token relation — the
    positional-index counterpart of ``search_all_terms`` (which is
    bag-of-words AND). A phrase of k terms matches at anchor position p
    when term i sits at position p+i for every i.

    Plan: ONE posexplode filtered to the query's terms (the filter
    prunes before anything shuffles — shuffle volume is query-term
    postings only, not the corpus), each hit re-keyed to its implied
    anchor ``pos - i``, then a single groupBy((doc, anchor)) counting
    DISTINCT offsets — no k-way self-join, no posting arrays. Repeated
    terms in the phrase are handled naturally: one token instance can
    satisfy only the offset its position implies.

    Output: (id_col, anchor) for every occurrence, anchor 0-based in
    whitespace-token coordinates."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one term")
    offsets = [(i, t) for i, t in enumerate(terms)]
    # \s+ split (not " "): consecutive spaces/tabs must not occupy
    # positions, or a phrase spanning them silently never matches —
    # positions index the non-empty token sequence, matching the
    # query-side str.split()
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), "\\s+")).alias(
            "pos", "term"
        ),
    ).where(F.col("term").isin(sorted({t for _, t in offsets})))
    # map each hit to every offset its term occupies in the phrase
    # (a term appearing twice in the phrase contributes two offsets)
    qmap = [
        (t, [i for i, qt in offsets if qt == t])
        for t in sorted({t for _, t in offsets})
    ]
    when_expr = None
    for t, offs in qmap:
        arr = F.array(*[F.lit(i) for i in offs])
        when_expr = (
            F.when(F.col("term") == t, arr)
            if when_expr is None
            else when_expr.when(F.col("term") == t, arr)
        )
    hits = toks.select(
        "doc",
        "pos",
        F.explode(when_expr).alias("off"),
    ).select("doc", (F.col("pos") - F.col("off")).alias("anchor"), "off")
    return (
        hits.where(F.col("anchor") >= 0)
        .groupBy("doc", "anchor")
        .agg(F.countDistinct("off").alias("_k"))
        .where(F.col("_k") == len(terms))
        .select(F.col("doc").alias(id_col), F.col("anchor").cast("long"))
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Collocation mining: the top-``k`` adjacent word pairs with every
    integer PMI COMPONENT attached — the vocab-induction / multi-word-
    expression primitive (tokenizer merge candidates, quality-analysis
    phrase tables). PMI = ln(pair_n·total_pairs / (w1_n·w2_n)) ·
    (total_tokens normalization variant of choice) is a client-side
    log over the exact integers emitted here; shipping components
    instead of floats keeps the result hash-exact on any engine.

    Scale shape: pairs come straight off the token array (transform
    over an index sequence → explode — no self-join, no window, no
    per-token shuffle); ONE pair-key groupBy with map-side combine,
    ONE word-key groupBy for unigram counts. The ``min_count`` filter
    runs BEFORE the two unigram joins, so the joins see only the
    surviving candidate pairs, never the Zipf tail. Corpus totals ride
    a 1-row broadcast (scalar-subquery pattern, plan-audit
    allowlisted); final selection is orderBy().limit(k) — a
    TakeOrderedAndProject heap, with the rank window over the ≤k
    survivors only."""
    arr = F.split(F.lower(F.trim(F.col(text_col))), " ")
    idx = F.when(
        F.size(arr) >= 2, F.sequence(F.lit(1), F.size(arr) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pair_structs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(arr, i).alias("w1"),
            F.element_at(arr, i + 1).alias("w2"),
        ),
    )
    pairs_raw = (
        df.select(F.col(id_col).alias("_doc"), F.explode(pair_structs).alias("_p"))
        .select("_doc", "_p.w1", "_p.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pair_counts = pairs_raw.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("pair_n"),
        F.countDistinct("_doc").cast("long").alias("n_docs"),
    )
    uni = (
        df.select(F.explode(arr).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("w_n"))
    )
    totals = pair_counts.agg(
        F.sum("pair_n").cast("long").alias("total_pairs")
    ).crossJoin(uni.agg(F.sum("w_n").cast("long").alias("total_tokens")))
    survivors = (
        pair_counts.where(F.col("pair_n") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("w_n", "w1_n"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("w_n", "w2_n"), "w2")
        .crossJoin(F.broadcast(totals))
    )
    top = survivors.orderBy(
        F.col("pair_n").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("pair_n").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "w1",
        "w2",
        "pair_n",
        "n_docs",
        "w1_n",
        "w2_n",
        "total_pairs",
        "total_tokens",
    )


def _token_pairs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, w1, w2, n) — adjacent-token bigrams with per-doc counts.
    Pairs come off the FILTERED token array (empty strings from runs of
    whitespace removed first, so adjacency is over real tokens) via
    zip_with(slice, slice) — no window, no self-join; the groupBy's
    composite (id, w1, w2) key map-combines a hot pair's occurrences
    before the exchange."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda x: x != ""
    )
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        df.select(F.col(id_col), F.explode(pairs).alias("_p"))
        .select(id_col, "_p.w1", "_p.w2")
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def stupid_backoff_score(
    df: DataFrame,
    train: DataFrame,
    alpha_permille: int = 400,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM fluency scoring with Stupid Backoff (Brants et al.
    2007, "Large Language Models in Machine Translation") — the
    upgrade of ``unigram_surprisal`` from a bag-of-words criterion to
    word-ORDER sensitivity: a document of common words in gibberish
    order now scores badly. The LM is counts over ``train`` (a held-out
    slice — training on the scored corpus itself makes every bigram a
    hit); each adjacent pair (w1, w2) of a scored document gets

        S(w2|w1) = c(w1 w2) / c(w1)          if the train bigram exists
                 = alpha * c(w2) / T          else if w2 is in-vocab
                 = alpha * 1 / T              else (OOV floor, count 1)

    with alpha = alpha_permille/1000 (canonical 0.4). Backoff scores
    are NOT probabilities (they don't sum to 1) — that is Stupid
    Backoff's point: at corpus scale the unnormalized ratio ranks as
    well as Kneser-Ney at a fraction of the cost.

    Integer-exact decomposition for the gate: (n_pairs, n_bigram_hits,
    n_unigram_backoffs, n_oov) are BIGINT counts of which regime each
    pair landed in — engine-exact and ANSI-SQL-replayable — while
    ``mean_logscore`` = mean ln S (float, pinned against a Python model
    in pytest, excluded from hash gates like unigram_surprisal's).

    Plan: both corpora tokenize through the same projection; the LM is
    two map-combined groupBys over train (distinct bigrams, distinct
    unigrams); scored pairs aggregate to (doc, w1, w2, n) BEFORE any
    join (composite key kills hot-pair skew), then two LEFT equi-joins
    attach c12 and the two unigram counts (word-key joins are
    AQE-skew-splittable; a word-key window here would ship every "the"
    to one reducer), one doc-key aggregation folds the partial sums,
    and the train token total T attaches as a 1-row broadcast (the
    scalar-subquery shape), so ln T never needs a third data pass.
    Documents with < 2 tokens have no pairs and are absent from the
    output (nothing to score). Output: (id, n_pairs, n_bigram_hits,
    n_unigram_backoffs, n_oov, mean_logscore)."""
    if not 1 <= alpha_permille <= 1000:
        raise ValueError(
            f"alpha_permille must be in [1, 1000]: {alpha_permille}"
        )
    import math

    from flyq_spark.operators.util import fan_out

    train_toks = fan_out(train).select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "\\s+"),
                lambda x: x != "",
            )
        ).alias("_w")
    )
    uni = train_toks.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    lm = (
        _token_pairs(fan_out(train), id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.sum("n").cast("long").alias("_c12"))
    )
    total = train_toks.agg(
        F.count(F.lit(1)).cast("long").alias("_t")
    ).select(
        F.when(
            F.col("_t") <= 0,
            F.raise_error(
                F.lit("stupid_backoff_score: empty training corpus")
            ),
        )
        .otherwise(F.col("_t"))
        .alias("_t")
    )
    scored = (
        _token_pairs(fan_out(df), id_col, text_col)
        .join(lm, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("_w").alias("w1"), F.col("_c").alias("_c1")),
            "w1",
            "left",
        )
        .join(
            uni.select(F.col("_w").alias("w2"), F.col("_c").alias("_c2")),
            "w2",
            "left",
        )
    )
    is_hit = F.col("_c12").isNotNull()
    is_vocab = F.col("_c2").isNotNull()
    ln_alpha = F.lit(math.log(alpha_permille / 1000.0))
    # per-pair ln S, with the backoff rows' -ln T deferred: it folds in
    # once per doc as n_backoff * ln T off the broadcast total.
    partial = (
        F.when(is_hit, F.log("_c12") - F.log("_c1"))
        .otherwise(ln_alpha + F.log(F.coalesce(F.col("_c2"), F.lit(1))))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_pairs"),
        F.sum(F.when(is_hit, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_bigram_hits"),
        F.sum(F.when(~is_hit & is_vocab, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_unigram_backoffs"),
        F.sum(F.when(~is_hit & ~is_vocab, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.sum(F.col("n") * partial).alias("_sum_partial"),
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "n_pairs",
        "n_bigram_hits",
        "n_unigram_backoffs",
        "n_oov",
        (
            (
                F.col("_sum_partial")
                - (F.col("n_pairs") - F.col("n_bigram_hits")) * F.log("_t")
            )
            / F.col("n_pairs")
        ).alias("mean_logscore"),
    )


def lexical_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity statistics — the type-token-ratio /
    hapax-legomena screen (Heaps-law vocabulary audit): a source whose
    vocabulary stops growing is templated or machine-generated; one
    whose hapax share explodes is OCR noise. Complements
    ``quality_score`` (surface ratios) and ``rare_token_stats``
    (per-document frequency tails) with the per-SOURCE vocabulary
    view; callers derive TTR = n_types/n_tokens and hapax share =
    n_hapax/n_types from the exact integers (emitting integers keeps
    the gate hash-exact).

    Plan: token explode (narrow) → ONE map-side-combined
    groupBy(group, word) count — the composite key collapses a hot
    word's occurrences before the exchange, so shuffle volume is
    distinct (group, word) pairs, never token positions — then ONE
    group-key aggregation folding (Σ counts, type count, hapax
    count). A NULL group key is a real group (groupBy keeps it).
    Output: (group, n_tokens, n_types, n_hapax) as BIGINTs."""
    from flyq_spark.operators.util import fan_out

    toks = fan_out(df).select(
        F.col(group_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "\\s+")
        ).alias("_w"),
    ).where(F.col("_w") != "")
    counted = toks.groupBy(group_col, "_w").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    return counted.groupBy(group_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )



def _char_ngrams(s: Column, n: int) -> Column:
    """All character ``n``-grams of a string column (chrF's unit).
    The string is bound ONCE through a single-element-array lambda —
    the same HOF-reference discipline as ``corpus._word_ngrams`` (a
    non-attribute child would otherwise re-evaluate per reference)."""

    def body(w: Column) -> Column:
        ln = F.length(w)
        idx = F.when(
            ln >= n, F.sequence(F.lit(1), ln - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: w.substr(i, F.lit(n)))

    return F.get(F.transform(F.array(s), body), 0)


def ngram_overlap_stats(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
    max_n: int = 2,
    unit: str = "word",
) -> DataFrame:
    """BLEU / ROUGE-N ingredient counts for (candidate, reference) text
    pairs — the corpus-scale eval-overlap primitive (Papineni et al.
    2002; Lin 2004). Per pair and per n ∈ 1..max_n, the three exact
    integers every n-gram overlap metric is built from:

      match_clipped = Σ_g min(count_cand(g), count_ref(g))   (clipped
                      matches — BLEU's numerator AND ROUGE-N's),
      n_cand        = candidate n-gram total (BLEU's denominator;
                      the n=1 row is the candidate length, which is
                      BLEU's brevity-penalty input),
      n_ref         = reference n-gram total (ROUGE-N's denominator).

    Emitting the integers rather than the ratios keeps the result
    engine-hash-exact (the float division is the caller's one-liner)
    and lets corpus-level BLEU aggregate the honest way — sum the
    numerators and denominators over pairs, never average per-pair
    scores.

    ``unit="char"`` switches to CHARACTER n-grams over the
    whitespace-STRIPPED text — chrF's unit (Popović 2015): the same
    three integers then derive chrP/chrR/chrF (chrF's standard setup
    is max_n=6; spaces are removed so word boundaries don't inflate
    matches). Same plan, same clipping, same join.

    Plan: both sides live on the SAME row, so ONE explode emits every
    tagged (n, gram, side) entry off the bound-once ngram arrays of
    both columns, one (id, n, gram)-keyed conditional count gets the
    candidate and reference multiplicities as two aggregates of the
    same group (clipping needs both — a zero side is an honest 0, the
    exact value the old full-outer-join form coalesced to), and a
    per-(id, n) rollup finishes. One corpus scan, two shuffles total —
    the previous form scanned the base once PER SIDE, counted each
    side separately and full-outer sort-merge-joined the two count
    tables back together (4 token-volume exchanges + 2 sorts; r12
    optimization, guide §2.4: the join removed outright). Shuffle
    volume is token (or character) volume, never pairs × vocabulary.
    Pairs where BOTH sides are shorter than n contribute no (id, n)
    row (no 0/0 ratio rows to special-case), identically on any
    engine. A NULL ``id_col`` is a real pair: groupBy keys on NULL the
    same way the old eqNullSafe join key did."""
    from flyq_spark.operators.corpus import _word_ngrams
    from flyq_spark.operators.util import fan_out

    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")

    def tagged(col: str, is_cand: bool) -> Column:
        if unit == "char":
            stripped = F.regexp_replace(
                F.coalesce(F.col(col), F.lit("")), "\\s+", ""
            )

            def grams(n: int) -> Column:
                return _char_ngrams(stripped, n)

        else:
            # empty tokens stripped (leading-space and empty-text
            # splits keep "" under Java's limit=-1); _word_ngrams
            # binds the array once itself, so the split is evaluated
            # once per row
            words = F.array_remove(F.split(F.col(col), "\\s+"), "")

            def grams(n: int) -> Column:
                return _word_ngrams(words, n)

        # closure factory, NOT a default-arg lambda: `lambda g, _n=n:`
        # has two parameters to PySpark's arity inspection, so
        # transform() would pass the element INDEX into _n
        def tag(n: int) -> Column:
            return F.transform(
                grams(n),
                lambda g: F.struct(
                    F.lit(n).alias("n"),
                    g.alias("g"),
                    F.lit(1 if is_cand else 0).alias("c"),
                ),
            )

        parts = [tag(n) for n in range(1, max_n + 1)]
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    base = fan_out(df.select(id_col, cand_col, ref_col))
    # the per-side gram arrays are never NULL (both unit modes bottom
    # out in a `when(...).otherwise(empty array)`), so the row-local
    # concat of the two tagged sides is NULL-safe
    both = base.select(
        F.col(id_col),
        F.explode(
            F.concat(tagged(cand_col, True), tagged(ref_col, False))
        ).alias("_t"),
    ).select(
        id_col,
        F.col("_t.n").alias("n"),
        F.col("_t.g").alias("g"),
        F.col("_t.c").alias("c"),
    )
    counts = both.groupBy(id_col, "n", "g").agg(
        F.sum("c").cast("long").alias("_cc"),
        F.sum(1 - F.col("c")).cast("long").alias("_rc"),
    )
    return (
        counts.groupBy(id_col, "n")
        .agg(
            F.sum(F.least("_cc", "_rc")).cast("long").alias("match_clipped"),
            F.sum("_cc").cast("long").alias("n_cand"),
            F.sum("_rc").cast("long").alias("n_ref"),
        )
    )


def rouge_l_stats(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str = "doc_id",
    max_cand_words: int = 60,
) -> DataFrame:
    """ROUGE-L ingredient counts (Lin 2004) — the longest-common-
    SUBSEQUENCE member of the eval-metric family `ngram_overlap_stats`
    covers for contiguous n-grams: per (candidate, reference) pair the
    exact integers (lcs_len, n_cand, n_ref) from which ROUGE-L's
    P = lcs/n_cand, R = lcs/n_ref and F derive.

    LCS is inherently sequential (each DP cell depends on the previous
    row AND column), so the word-level LLCS is computed with the
    Allison–Dix (1986) BIT-PARALLEL recurrence: the candidate's
    ≤ ``max_cand_words`` positions live in one 60-bit integer;
    per reference word w,

        U = V & M(w);  V = ((V + U) | (V − U)) & mask

    where M(w) is the candidate-position match mask, and
    lcs = m − popcount(V) at the end. Plain integer +/−/&/| — the
    identical recurrence replays in ANSI SQL (the oracle folds it
    through a recursive CTE), so the result is engine-hash-exact.

    Execution (r12 optimization, guide §4.2): the fold runs as an
    Arrow-batched ``mapInPandas`` kernel — one narrow projection ships
    only (id, truncated candidate words, reference words) across the
    Python boundary, still a zero-shuffle plan. The kernel precomputes
    the match masks M(w) as ONE dict pass over the candidate
    (Hunt–Szymanski's observation), so each reference word costs O(1)
    integer ops: O(|cand| + |ref|) per pair. The previous all-Catalyst
    form expressed M(w) as an inner HOF fold re-scanned per reference
    word — O(|cand| × |ref|) steps through the CodegenFallback
    interpreter, measured 6x slower at sf0.1 (5.9 s → sub-second) for
    byte-identical results (the recurrence, truncation, and length
    semantics are unchanged; the oracle did not move).

    The candidate side is truncated to ``max_cand_words`` (≤ 60: the
    bit budget of a signed 64-bit word with carry headroom — kept as
    the contract even though the Python-side integers are unbounded,
    so the oracle's BIGINT fold stays exact). The REFERENCE side is
    unbounded. Empty/NULL sides yield lcs 0 with honest lengths."""
    if not 1 <= int(max_cand_words) <= 60:
        raise ValueError(
            f"max_cand_words must be in 1..60, got {max_cand_words}"
        )

    def words(col: str) -> Column:
        return F.array_remove(
            F.split(F.coalesce(F.col(col), F.lit("")), "\\s+"), ""
        )

    base = df.select(
        F.col(id_col),
        F.slice(words(cand_col), 1, int(max_cand_words)).alias("_c"),
        words(ref_col).alias("_r"),
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            lcs_out, nc_out, nr_out = [], [], []
            for c, r in zip(pdf["_c"], pdf["_r"]):
                m = len(c)
                mask = (1 << m) - 1
                masks: dict = {}
                for i, w in enumerate(c):
                    masks[w] = masks.get(w, 0) | (1 << i)
                v = mask
                for w in r:
                    u = v & masks.get(w, 0)
                    v = ((v + u) | (v - u)) & mask
                lcs_out.append(m - v.bit_count())
                nc_out.append(m)
                nr_out.append(len(r))
            # positional id values, not the indexed Series: the result
            # lists are positional, and a batch arriving with a
            # non-default index would silently misalign ids against them
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "lcs_len": lcs_out,
                    "n_cand": nc_out,
                    "n_ref": nr_out,
                }
            )

    # programmatic schema: a DDL string would mis-parse id column names
    # that need quoting (spaces, dots, reserved words)
    out_schema = T.StructType(
        [base.schema[id_col]]
        + [
            T.StructField("lcs_len", T.LongType()),
            T.StructField("n_cand", T.LongType()),
            T.StructField("n_ref", T.LongType()),
        ]
    )
    return base.mapInPandas(kernel, schema=out_schema)
