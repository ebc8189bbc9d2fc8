"""Deduplication operators for large-scale training-data pipelines [EXT].

No reference counterpart (FlyQ is a broker); these are the driver-mandated
LLM-pipeline extensions, designed shuffle-conscious for 100 TB:

- exact dedup: one hash-groupBy on a fingerprint (never on the full text —
  group keys should be 16 B, not 1 MB documents);
- MinHash-LSH near-dup: Broder's md5 permutation family
  (``minhash_signatures``), banded into md5 band keys and joined on
  them (``minhash_band_pairs``) — candidate generation is a bucket join,
  never the O(n^2) all-pairs cross join, and every stage replays in SQL;
- SimHash: 63-bit signature built JVM-side (explode + 63 codegen'd sums),
  near-dups via ``banded_hamming_pairs`` — the one banded self-join +
  popcount(xor) Hamming filter, shared with the pHash media path;
- n-gram Jaccard: EXACT token-set similarity join via rarity-ordered
  prefix filtering (AllPairs/PPJoin) — 100% recall with skew-bounded
  candidate generation, never an all-pairs cross join.

All randomness is seeded; all hot paths are built-in functions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flyq_spark.operators.util import fan_out

# --------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------- #


def fingerprint(col: Column, normalize: bool = True) -> Column:
    """Content fingerprint for exact dedup: md5 of (optionally
    case-normalized) text. 128-bit hex — collision-safe group key that
    keeps the shuffle narrow (16 B keys instead of document bodies)."""
    c = F.lower(col) if normalize else col
    return F.md5(c)


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """Keep-first exact dedup: one row per distinct content, the survivor
    being the smallest id (deterministic, unlike dropDuplicates' arbitrary
    row). One hash-aggregate shuffle on the 16 B fingerprint."""
    return (
        df.groupBy(fingerprint(F.col(text_col), normalize).alias("fp"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def dedup_exact_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup returning full surviving rows: fingerprint → min-id per
    group → semi-join back (broadcast-friendly when the survivor set is
    small; otherwise a co-partitioned shuffle join on id)."""
    survivors = dedup_exact(df, text_col, id_col)
    # null-keys-impossible: id_col is the row identity (caller contract)
    return df.join(survivors, on=id_col, how="left_semi")


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #

SIMHASH_BITS = 63  # stay within a signed long; bit 63 would flip the sign


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """63-bit SimHash per document: xxhash64 each token, majority-vote each
    bit. Entirely JVM-side: explode → 63 codegen'd conditional sums →
    bit reassembly. One shuffle (groupBy id); the explode+hash narrow
    stage is fanned out so a single-split corpus still uses every core."""
    df = fan_out(df)
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("_tok"),
    ).where(F.col("_tok") != "")
    hashed = tokens.select(id_col, F.xxhash64("_tok").alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sig = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_BITS)
        ],
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def hamming_band_keys(
    sigs: DataFrame, id_col: str, sig_col: str, bits: int, bands: int
) -> DataFrame:
    """Explode ``bits``-bit integer signatures (SimHash, dHash) into
    banded Hamming-LSH keys: one (id, sig, band, band_key) row per band,
    band_key being the band's ``ceil(bits/bands)``-bit slice. The
    candidate half of ``banded_hamming_pairs``, shared with the
    streaming media dedup sink so batch and stream band alike.

    ``shiftrightunsigned`` keeps a set bit 63 (a negative long) from
    smearing sign bits into the top band. A band count whose last band
    starts past the top bit is rejected: that band is identically zero,
    so every pair would collide there and the equi-join would degenerate
    into an O(n²) cross product."""
    width = -(-bits // bands)
    if (bands - 1) * width >= bits:
        raise ValueError(
            f"bands={bands} leaves a degenerate empty band at width "
            f"{width} over {bits} bits — every pair would collide there "
            "(all-pairs join); use a band count whose last band still "
            "covers a real bit"
        )
    mask = (1 << width) - 1
    return sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(sig_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bb"),
    ).select(id_col, sig_col, "_bb.band", "_bb.band_key")


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """Near-dup pairs of integer signatures within ``max_hamming``
    differing bits: candidates from an equi-join on (band, band_key),
    then an exact ``bit_count(xor)`` verify on candidates only — never
    all-pairs. By pigeonhole every pair within ``max_hamming < bands``
    bits shares an untouched band, so recall is 1.0 there and
    probabilistic above it (callers that need completeness reject
    ``max_hamming >= bands`` themselves).

    Nothing is persisted: both join sides are the same subtree, which
    AQE exchange reuse computes once. Output: (id_a, id_b, hamming long)
    with id_a < id_b."""
    banded = hamming_band_keys(sigs, id_col, sig_col, bits, bands)
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}")))
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                # null-keys-impossible: row-identity contract; a NULL
                # id cannot satisfy the < pair order
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _require_pigeonhole(max_hamming: int, bands: int) -> None:
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over the 63-bit xxhash64 SimHash: signatures, then
    ``banded_hamming_pairs``. Needs ``max_hamming < bands`` (silent
    recall loss otherwise). Output: (id_a, id_b, hamming long)."""
    _require_pigeonhole(max_hamming, bands)
    return banded_hamming_pairs(
        simhash(df, text_col, id_col), id_col, "simhash", SIMHASH_BITS, bands, max_hamming
    )


# --------------------------------------------------------------------- #
# n-gram Jaccard (verify stage within blocking buckets)
# --------------------------------------------------------------------- #


def token_set(col: Column) -> Column:
    return F.array_distinct(F.split(F.lower(col), "\\s+"))


def prefix_filter_candidates(
    base: DataFrame, min_jaccard: float, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs for an EXACT token-Jaccard join via prefix
    filtering (AllPairs/PPJoin, Bayardo et al. WWW'07).

    Order every document's tokens by a global rarity order (document
    frequency asc, token asc) and emit only the first
    ``p = n - ceil(t*n) + 1`` tokens as join keys. Pigeonhole: a pair
    with J >= t shares >= ceil(t*n) tokens, more than either document's
    non-prefix suffix can hold — and the pi-smallest shared token is then
    in BOTH prefixes (prefixes are downward-closed under the global
    order), so recall is 100% by construction.

    The skew story is the point: join keys are the globally RAREST
    tokens, so a boilerplate corpus (shared license/HTML preamble, i.e.
    high-df tokens) contributes no keys at all unless a document is
    mostly boilerplate — in which case its pairs are true near-dups. Cost
    is sum over prefix tokens of df^2, vs the m^2 of any
    shared-prefix-substring bucket. Two token-keyed shuffles (df count +
    rank/join), one candidate equi-join.

    ``base``: (id, _toks array). Output: (id_a, id_b) distinct.
    """
    tok = base.select(F.col(id_col), F.explode("_toks").alias("_tok"))
    doc_freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    wdoc = Window.partitionBy(id_col)
    ranked = (
        tok.join(doc_freq, on="_tok")
        .withColumn("_rn", F.row_number().over(wdoc.orderBy("_df", "_tok")))
        .withColumn("_n", F.count(F.lit(1)).over(wdoc))
    )
    from flyq_spark.operators.util import exact_ceil_frac

    # ceil(t*n) in EXACT integer arithmetic: float ceil over-counts for
    # thousands of (t, n) pairs (0.55*100 -> 55.000...007 -> ceil 56),
    # which would shrink the prefix by one token and silently break the
    # 100%-recall pigeonhole this operator is built on
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n") - exact_ceil_frac(F.col("_n"), min_jaccard) + 1
    ).select(id_col, "_tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a._tok") == F.col("b._tok"),
                # null-keys-impossible: row-identity contract; a NULL
                # id cannot satisfy the < pair order
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_expr: Column | None = None,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join: all pairs with
    J >= min_jaccard, no blocker-dependent recall loss.

    Default candidate generation is rarity-ordered prefix filtering
    (``prefix_filter_candidates``) — 100% recall AND skew-resistant (a
    shared boilerplate prefix never forms a quadratic bucket, unlike the
    naive fixed-substring blocker). Verification is array_intersect
    arithmetic (JVM-side) on a co-partitioned join back to the token
    sets. Pass ``block_expr`` to override with a custom bucket key
    (restricts pairs to equal buckets — recall becomes the blocker's).
    Empty-token documents are excluded (Jaccard undefined). Output
    (id_a, id_b, jaccard)."""
    base = fan_out(df).select(
        F.col(id_col), token_set(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    inter = F.size(F.array_intersect(F.col("a._toks"), F.col("b._toks")))
    union = F.size(F.col("a._toks")) + F.size(F.col("b._toks")) - inter
    jaccard = (inter.cast("double") / union.cast("double")).alias("jaccard")
    if block_expr is not None:
        blocked = df.select(
            F.col(id_col), block_expr.alias("_block"), token_set(F.col(text_col)).alias("_toks")
        ).where(F.size("_toks") > 0)
        a, b = blocked.alias("a"), blocked.alias("b")
        return (
            a.join(
                b,
                on=[
                    F.col("a._block") == F.col("b._block"),
                    # null-keys-impossible: row-identity contract; a
                    # NULL id cannot satisfy the < pair order
                    F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                ],
            )
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), jaccard)
            .where(F.col("jaccard") >= min_jaccard)
        )
    cand = prefix_filter_candidates(base, min_jaccard, id_col)
    a = base.select(F.col(id_col).alias("id_a"), F.col("_toks")).alias("a")
    b = base.select(F.col(id_col).alias("id_b"), F.col("_toks")).alias("b")
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select("id_a", "id_b", jaccard)
        .where(F.col("jaccard") >= min_jaccard)
    )


# --------------------------------------------------------------------- #
# exact duplicate-substring spans (the C4 / "Deduplicating Training
# Data Makes Language Models Better" primitive)
# --------------------------------------------------------------------- #


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-substring detection: maximal token spans whose
    every position starts a word ``k``-gram that occurs MORE THAN ONCE
    anywhere in the corpus (within- or cross-document). This is the
    span primitive behind C4-style substring dedup — the downstream
    excision policy (drop span, keep first occurrence, drop doc) is the
    caller's; detection is the corpus-scale part.

    Plan, in three one-shuffle stages:

    1. position-tagged shingles: ``sequence`` → ``transform`` →
       ``explode`` emits (id, pos, gram) — a narrow codegen projection,
       no shuffle; documents with < k words emit nothing (explicit
       guard: ``sequence(1, n-k+1)`` with n < k would emit a DESCENDING
       range, not an empty one).
    2. global duplication test: ``groupBy(gram).count()`` keeps the
       count aggregation MAP-SIDE COMBINED (a Zipfian head gram —
       boilerplate 8-grams — collapses to one row per map partition
       before the exchange, where a ``count() over (partition by
       gram)`` window would ship every occurrence of the hot gram to a
       single reducer: a straggler/OOM at corpus scale), then a
       LEFT SEMI equi-join attaches the >1 verdict back onto the
       position rows. The semi-join's shuffle is AQE-skew-splittable
       (windows are not), so hot grams spread across reducers. Two
       shuffles of the same rows, but both are combine-/split-safe —
       the scale-correct trade against the window's single skewed one.
       The exchange key is the gram's md5-derived 60-BIT INTEGER, not
       the string — 8 bytes instead of a ~70-byte k-gram cuts shuffle
       bytes ~8x and still replays bit-exactly on any engine with md5
       (a 2^-60 collision only merges two span sets, identically on
       both engines), same construction as ``contamination_ngrams``.
    3. span merge: per-doc gaps-and-islands over the surviving
       positions — ``lag`` marks a break when the next duplicated
       k-gram starts more than k tokens after the previous one
       (overlapping OR exactly-adjacent grams merge into one contiguous
       duplicated region), running sum numbers islands, groupBy emits
       (span_start, span_end). Shuffle is on the doc id, carrying only
       integer positions.

    Output: (doc_id, span_start, span_end, span_tokens), 1-based
    inclusive token positions."""
    words = F.split(F.col(text_col), " ")
    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(words, i, k), " ").alias("_g"),
                ),
            )
        ).alias("_pg"),
    ).select(
        id_col,
        F.col("_pg.pos").alias("pos"),
        F.conv(F.substring(F.md5(F.col("_pg._g")), 1, 15), 16, 10)
        .cast("long")
        .alias("_g"),
    )
    dup_grams = (
        grams.groupBy("_g")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select("_g")
    )
    dup_pos = grams.join(dup_grams, "_g", "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-(2 * k))) + k,
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = dup_pos.withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Excise duplicated substrings: rebuild each document's text with
    every token inside a ``duplicate_spans`` span removed. This is the
    simplest deterministic excision policy (drop ALL occurrences —
    appropriate when duplicated regions are boilerplate/contamination);
    keep-one policies need a global ordering choice and belong to the
    caller, who can filter the span table before passing it in.

    Plan: aggregate the span table per doc (tiny: spans, not text),
    LEFT join onto the corpus, then one pure higher-order-function
    projection — ``arrays_zip`` tokens with their 1-based positions,
    ``filter`` out positions covered by any span (``exists`` over the
    per-doc span array), ``array_join`` back. No Python in the path;
    documents without spans pass through with a zero-row join miss.

    Output: (id, clean_text, n_removed_tokens)."""
    if spans is None:
        spans = duplicate_spans(df, k=k, id_col=id_col, text_col=text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    words = F.split(F.col(text_col), " ")
    zipped = F.arrays_zip(
        words.alias("w"), F.sequence(F.lit(1), F.size(words)).alias("p")
    )
    covered = lambda x: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (x["p"] >= s["span_start"]) & (x["p"] <= s["span_end"]),
    )
    kept = F.when(
        F.col("_spans").isNull(), F.transform(zipped, lambda x: x["w"])
    ).otherwise(
        F.transform(F.filter(zipped, lambda x: ~covered(x)), lambda x: x["w"])
    )
    return (
        # null-keys-impossible: id_col is the row identity
        df.join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            (F.size(words) - F.size(kept)).cast("long").alias("n_removed_tokens"),
        )
    )


# --------------------------------------------------------------------- #
# oracle-replayable MinHash-LSH (md5 permutation family)
# --------------------------------------------------------------------- #


def shingle_set(text_col: Column, n: int = 3) -> Column:
    """Distinct word ``n``-gram set as space-joined strings (empty array
    below ``n`` words)."""
    from flyq_spark.operators.corpus import _word_ngrams

    return F.array_distinct(_word_ngrams(F.split(text_col, " "), n))


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_params(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine coefficients for the universal-hash
    permutation family (LCG-derived; a odd < 2^31 so a*h32 stays under
    2^63 — no BIGINT overflow on any SQL engine)."""
    state = seed
    out = []
    for _ in range(k):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append((a, state))
    return out


def _shingle_sets(
    df: DataFrame, shingle_n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, _grams) for every document with at least one shingle: the
    input of both the signatures and the exact-Jaccard verify."""
    return (
        fan_out(df)
        .select(F.col(id_col), shingle_set(F.col(text_col), shingle_n).alias("_grams"))
        .where(F.size("_grams") > 0)
    )


def _signatures(grams: DataFrame, k: int, id_col: str) -> DataFrame:
    """(id, minhash) from ``_shingle_sets`` rows — the one Spark form of
    the md5 permutation family (see ``minhash_signatures``)."""
    h32 = F.conv(F.substring(F.md5(F.col("_g")), 1, 8), 16, 10).cast("long")
    hashed = grams.select(F.col(id_col), F.explode("_grams").alias("_g")).select(
        F.col(id_col), h32.alias("_h")
    )
    mins = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("minhash"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 32,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures from a universal-hash permutation family:
    base hash h = first 8 md5 hex digits of the shingle (a 32-bit
    uniform int), i-th component = ``min((a_i * h + b_i) mod p)`` over
    the document's distinct word ``shingle_n``-grams, with fixed
    LCG-derived (a_i, b_i) and p = 4294967311 (the classic Broder
    construction).

    Every component is a deterministic SQL expression — the exact
    signature replays on any engine with md5 + 64-bit integers, which
    is what makes this family ORACLE-CHECKABLE end to end. ONE md5 per
    shingle; the k permutations are integer multiply-add-mod
    (codegen'd), so k scales arithmetic width, not hashing cost.

    Plan: one narrow shingle explode, then ONE groupBy(id) computing
    all k mins with map-side partial aggregation — never more than one
    shuffle row per (doc, shingle). Documents with no shingles emit no
    row. Output: (id, minhash array<long> of length k)."""
    return _signatures(_shingle_sets(df, shingle_n, id_col, text_col), k, id_col)


def minhash_band_pairs(
    df: DataFrame,
    min_jaccard: float = 0.5,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs with the md5 permutation
    family — fully deterministic and oracle-replayable.

    Banding: the k-component signature splits into ``bands`` bands of
    r = k/bands rows; a pair is a candidate iff some band's r
    components are ALL equal (band key = md5 of the joined band slice,
    so the join key is one 32-char string regardless of r). Candidate
    generation is an equi-join on (band, band_key) — shuffle carries
    |docs| x bands tiny rows plus matches, never n^2 comparisons. The
    s-curve is the standard one: P(candidate | J=s) =
    1 - (1 - s^r)^bands.

    Verify: exact shingle-set Jaccard (array_intersect arithmetic) on a
    join back to the gram sets; output only pairs with J >= min_jaccard.
    Recall below the LSH knee is probabilistic BY DESIGN, but it is the
    SAME deterministic pair set on every engine — both candidate
    generation and verify replay in ANSI SQL. Nothing is cached: the
    signatures and both verify sides re-derive the narrow gram
    projection, so a call leaves no storage pinned.

    Output: (id_a, id_b, jaccard) with id_a < id_b."""
    if k % bands:
        raise ValueError(f"k={k} not divisible by bands={bands}")
    base = _shingle_sets(df, shingle_n, id_col, text_col)
    # ONE banding implementation repo-wide: the same minhash_band_keys
    # the streaming sink and dedup_against use (and the oracle replays)
    # — a divergence between two copies would silently break
    # cross-operator and oracle agreement
    banded = minhash_band_keys(
        _signatures(base, k, id_col), k=k, bands=bands, id_col=id_col
    ).withColumnRenamed("band_key", "bits")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bits") == F.col("b.bits"),
                # null-keys-impossible: row-identity contract; a NULL
                # id cannot satisfy the < pair order
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = base.select(F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga"))
    gb = base.select(F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = F.size("_ga") + F.size("_gb") - inter
    return (
        cand.join(ga, on="id_a")
        .join(gb, on="id_b")
        .select(
            "id_a", "id_b", (inter.cast("double") / union.cast("double")).alias("jaccard")
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def syndication_by_source(
    df: DataFrame,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Syndication audit: where near-duplicate pairs live in the source
    dimension — per unordered source pair, how many exact-Jaccard
    near-dup document pairs connect them. Diagonal rows (source_a ==
    source_b) are within-source duplication (templating, reposts);
    off-diagonal rows are cross-source syndication (mirrors, wire copy)
    — the signal that decides whether dedup should collapse sources.

    Composition, not new machinery: candidate pairs come from the
    skew-resistant exact similarity join (``ngram_jaccard_pairs``); the
    pair relation is then decorated with each side's source via two
    plain equi-joins on the id. The pair table is orders of magnitude
    smaller than the corpus, so AQE converts both decoration joins to
    broadcasts at runtime (left as logical equi-joins on purpose —
    forcing a broadcast hint here nests the similarity join inside a
    broadcast build and serializes it onto one thread). Output:
    (source_a, source_b, n_pairs), source_a <= source_b."""
    pairs = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, min_jaccard=min_jaccard
    ).select("id_a", "id_b")
    src_a = df.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("_src_a")
    )
    src_b = df.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("_src_b")
    )
    both = pairs.join(src_a, on="id_a").join(src_b, on="id_b")
    return (
        both.select(
            F.least("_src_a", "_src_b").alias("source_a"),
            F.greatest("_src_a", "_src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def simhash_md5(
    df: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ORACLE-REPLAYABLE SimHash — the md5 counterpart of ``simhash``
    (whose xxhash64 token hash has no portable SQL equivalent), same
    construction the r4 MinHash md5 family used to make LSH
    hash-checkable end to end: token hash = first 8 md5 hex digits (a
    32-bit uniform int), per-bit majority vote weighted by the token's
    occurrence count, bit set iff the vote sum is > 0. Every step is
    integer arithmetic on a deterministic hash — the signature replays
    bit-exactly on any engine with md5.

    Skew-safe plan: tokens pre-aggregate to (doc, word, count) with
    map-side combine (a hot word crosses the wire once per doc), ONE
    md5 per distinct (doc, word), then one groupBy(doc) computing all
    ``bits`` conditional sums. Output: (id, simhash long)."""
    from functools import reduce

    from flyq_spark.operators.util import fan_out

    toks = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "\\s+")).alias("_w"),
        )
        .where(F.col("_w") != "")
        .groupBy(id_col, "_w")
        .agg(F.count("*").alias("_c"))
    )
    h32 = F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long")
    hashed = toks.select(F.col(id_col), h32.alias("_h"), "_c")
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("_c"),
            ).otherwise(-F.col("_c"))
        ).alias(f"_b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    sig = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(bits)
        ],
    )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_md5_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs over the md5 SimHash: signatures, then
    ``banded_hamming_pairs``. Needs ``max_hamming < bands`` (pigeonhole
    completeness). Banding and verify are plain integer SQL, so the
    whole pipeline hash-checks against the oracle.

    Output: (id_a, id_b, hamming long) with id_a < id_b."""
    _require_pigeonhole(max_hamming, bands)
    sigs = simhash_md5(df, bits=bits, id_col=id_col, text_col=text_col)
    return banded_hamming_pairs(sigs, id_col, "simhash", bits, bands, max_hamming)


def minhash_band_keys(
    sigs: DataFrame,
    k: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
) -> DataFrame:
    """LSH band keys off a ``minhash_signatures`` output: one
    (id, band, band_key) row per band, band_key = md5 of the band's
    signature slice joined with '|' (a fixed-width join key regardless
    of r = k/bands). Factored out of ``minhash_band_pairs`` so callers
    that maintain a SIGNATURE STORE (e.g. the streaming dedup sink,
    which anti-joins new batches against all prior band keys) share the
    exact banding arithmetic with the batch pair join."""
    if k % bands:
        raise ValueError(f"k={k} not divisible by bands={bands}")
    r = k // bands
    sig = F.col(sig_col)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at(sig, band * r + j + 1).cast(
                                        "string"
                                    )
                                    for j in range(r)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("_bb"),
    ).select(id_col, "_bb.band", "_bb.band_key")


def dedup_against(
    new: DataFrame,
    corpus: DataFrame,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup dedup: keep only the NEW documents whose
    MinHash-LSH band keys collide with NOTHING in the existing corpus —
    the batch form of ``streaming.sink.neardup_dedup_sink`` (a crawl
    refresh deduped against last month's accepted corpus without
    re-pairing the corpus with itself), sharing the exact md5-family
    arithmetic via ``minhash_signatures``/``minhash_band_keys``.

    Decision granularity is LSH-level (any band collision drops the
    doc — conservative toward dedup; callers wanting exact-Jaccard
    verification join the survivors of this pass through
    ``minhash_band_pairs`` against the corpus instead). Documents too
    short to shingle have no signature and always pass.

    Plan: both sides reduce to (band, band_key) rows; the corpus side
    is distinct-deduped map-side BEFORE its shuffle; the decision is
    one LEFT SEMI + one LEFT ANTI equi-join, both AQE-skew-splittable.
    Nothing pairs corpus docs with each other — cost is linear in each
    side, never |new| x |corpus|."""
    new_bands = minhash_band_keys(
        minhash_signatures(
            new, k=k, shingle_n=shingle_n, id_col=id_col, text_col=text_col
        ),
        k=k,
        bands=bands,
        id_col=id_col,
    )
    corpus_bands = minhash_band_keys(
        minhash_signatures(
            corpus, k=k, shingle_n=shingle_n, id_col=id_col, text_col=text_col
        ),
        k=k,
        bands=bands,
        id_col=id_col,
    ).select("band", "band_key").distinct()
    hits = (
        new_bands.join(corpus_bands, ["band", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    # null-keys-impossible: id_col is the row identity
    return new.join(hits, id_col, "left_anti")


def _regex_quote(s: str) -> str:
    """Quote a literal string for a Java regex (Pattern.quote): wrap in
    \\Q...\\E, splitting around any embedded \\E so it cannot terminate
    the quote early."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def split_units(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    regex: bool = False,
) -> DataFrame:
    """Explode documents into ordered sub-document units (paragraphs for
    ``\\n``, lines; sentences with ``regex=True`` and a pattern): one
    row per (id, unit_pos, unit). ``delim`` is a LITERAL separator
    unless ``regex=True`` (it is quoted before reaching ``F.split``,
    whose argument is always a Java regex). NULL text produces no unit
    rows. Narrow projection — no shuffle; downstream operators decide
    the granularity of dedup/filtering.

    The reference has no sub-document operations (its unit is the
    message, flyq-protocol/src/message.rs); this is [EXT] surface — the
    paragraph granularity of C4-style corpus dedup."""
    pattern = delim if regex else _regex_quote(delim)
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pattern)).alias("unit_pos", "unit"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    normalize: bool = False,
    regex: bool = False,
    join_with: str | None = None,
) -> DataFrame:
    """Corpus-wide paragraph-level keep-first dedup (the C4/CCNet "dedup
    at line granularity" step): a paragraph survives only at its first
    occurrence — smallest (id, position) over the whole corpus — and
    every later copy is excised; documents are rebuilt from their
    surviving paragraphs in original order. Returns one row per INPUT
    document — (id, n_units, n_kept, text) — with text NULL when no
    paragraph survived, and n_units=0 for NULL-text documents (which
    split into no units but are never silently dropped).

    ``delim`` is literal (regex-quoted for the split) unless
    ``regex=True``; rebuilding always joins with a literal string —
    ``join_with``, defaulting to ``delim`` itself, which is only valid
    when delim is literal, so ``regex=True`` REQUIRES an explicit
    ``join_with`` (a regex cannot be inverted into the separator it
    matched).

    Plan shape: first occurrences come from one hash-aggregate on the
    16 B md5 fingerprint (``min(struct(id, pos))`` — partial map-side
    combine, so a boilerplate paragraph duplicated across millions of
    documents contributes ONE row per map task to the shuffle, never a
    hot-key window sort); survivors then rebuild via a groupBy(id). The
    paragraph text crosses the rebuild shuffle once — unavoidable for
    excision — and both shuffles are equi-key + AQE-splittable. At
    100 TB nothing pairs paragraphs with each other and no driver state
    exists."""
    if regex and join_with is None:
        raise ValueError("regex=True requires an explicit join_with literal")
    join_delim = delim if join_with is None else join_with
    units = split_units(
        df, text_col=text_col, id_col=id_col, delim=delim, regex=regex
    )
    keyed = units.withColumn("_fp", fingerprint(F.col("unit"), normalize))
    first = keyed.groupBy("_fp").agg(
        F.min(F.struct(id_col, "unit_pos")).alias("_first")
    )
    # mark (not filter) survivors, so ONE groupBy(id) computes totals,
    # kept counts, and the rebuild together — the exploded units cross
    # a shuffle once, and the corpus is not re-scanned for totals
    marked = keyed.join(first, "_fp").withColumn(
        "_keep",
        (F.col(id_col) == F.col(f"_first.{id_col}"))
        & (F.col("unit_pos") == F.col("_first.unit_pos")),
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_units"),
        F.count(F.when(F.col("_keep"), 1)).alias("n_kept"),
        F.concat_ws(
            join_delim,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("unit_pos", "unit"))
                    )
                ),
                lambda s: s["unit"],
            ),
        ).alias(text_col),
    )
    # anchor on the INPUT id set so NULL-text documents (no units) still
    # get an output row instead of vanishing
    return (
        df.select(id_col)
        # null-keys-impossible: id_col is the row identity
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_units", F.lit(0)).alias("n_units"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.when(F.coalesce("n_kept", F.lit(0)) > 0, F.col(text_col))
            .alias(text_col),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
    min_docs: int = 2,
    normalize: bool = False,
    regex: bool = False,
    join_with: str | None = None,
) -> DataFrame:
    """Boilerplate-unit removal (the C4/RefinedWeb "drop lines that
    repeat across many pages" step): a unit (paragraph/line) is
    boilerplate when it occurs in >= ``min_docs`` DISTINCT documents,
    and EVERY copy is excised — including the first, which is what
    separates this from :func:`paragraph_dedup` (keep-first). Documents
    are rebuilt from their surviving units in original order; the
    return shape matches paragraph_dedup — one row per input document,
    (id, n_units, n_kept, text), text NULL when nothing survived.

    ``min_docs`` is an absolute distinct-document threshold, not a
    corpus fraction, so the plan needs NO corpus-count scalar: the
    whole operator is two equi-key shuffles (fingerprint agg, rebuild
    groupBy). Use a fraction externally by computing
    ``min_docs = ceil(frac * n_docs)`` once if the relative form is
    wanted — keeping the scalar out of this plan keeps it a pure
    streaming-friendly composition.

    Plan shape: per-document repeats collapse map-side —
    ``count(distinct id)`` per 16 B fingerprint is a partial-aggregated
    hash agg, so a navigation bar shared by millions of pages crosses
    the shuffle as one row per map task. Nothing pairs units; at 100 TB
    both shuffles are equi-key + AQE-splittable, like paragraph_dedup.

    [EXT] surface — the reference has no sub-document operations
    (flyq-protocol/src/message.rs is message-granular)."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if regex and join_with is None:
        raise ValueError("regex=True requires an explicit join_with literal")
    join_delim = delim if join_with is None else join_with
    units = split_units(
        df, text_col=text_col, id_col=id_col, delim=delim, regex=regex
    )
    keyed = units.withColumn("_fp", fingerprint(F.col("unit"), normalize))
    common = (
        keyed.groupBy("_fp")
        .agg(F.countDistinct(id_col).alias("_ndocs"))
        .where(F.col("_ndocs") >= F.lit(min_docs))
        .select("_fp")
    )
    # totals need ALL units (kept or not), so mark instead of anti-join:
    # a left join against the boilerplate set attaches a keep flag and one
    # groupBy over the full unit set computes totals + kept + rebuild.
    flagged = keyed.join(
        common.withColumn("_bp", F.lit(True)), "_fp", "left"
    ).withColumn("_keep", F.col("_bp").isNull())
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_units"),
        F.count(F.when(F.col("_keep"), 1)).alias("n_kept"),
        F.concat_ws(
            join_delim,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("unit_pos", "unit"))
                    )
                ),
                lambda s: s["unit"],
            ),
        ).alias(text_col),
    )
    return (
        df.select(id_col)
        # null-keys-impossible: id_col is the row identity
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_units", F.lit(0)).alias("n_units"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.when(F.coalesce("n_kept", F.lit(0)) > 0, F.col(text_col))
            .alias(text_col),
        )
    )


def lsh_parameter_sweep(
    df: DataFrame,
    configs: tuple[tuple[int, int], ...] = ((32, 4), (32, 8), (32, 16)),
    sample_size: int = 200,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH configuration sweep on a deterministic sample — the tuning
    report a pipeline runs BEFORE committing (k, bands) for a 100 TB
    dedup pass: for each config, banded-candidate recall against the
    sample's exact-Jaccard pair truth, plus the candidate volume that
    config would generate (the cost side of the s-curve trade-off:
    more bands = higher recall below the knee AND more candidate pairs
    to verify).

    Sample = the ``sample_size`` smallest (md5(id), id) documents — the
    same reproducible pseudo-random draw as ``sample_k_per_group``, so
    the report is a pure function of the corpus. Ground truth on the
    sample comes from the banded join at MAXIMUM sensitivity (bands =
    k, i.e. single-component bands — any minhash component collision,
    which at Jaccard >= 0.5 thresholds has recall ~1 - (1-s)^k ≈ 1)
    verified by exact shingle Jaccard; each config's candidates are a
    SUBSET of that pool by construction (a full r-component band match
    implies every component matches singly), so recall is exact pair
    arithmetic, not an estimate of an estimate.

    The driver loop is over |configs| (a handful); each iteration is
    sample-sized work. Output: (k, bands, rows_per_band, n_true_pairs,
    n_candidates, n_found, recall) — one row per config."""
    from functools import reduce as _reduce

    from flyq_spark.operators.corpus import _id_hash

    h = _id_hash(id_col)
    # global top-N by hash via orderBy+limit — Spark compiles this to
    # TakeOrderedAndProject (per-partition top-N, merged on the driver),
    # NOT a single-partition global window; scale-safe at any corpus size
    sample = (
        df.select(id_col, text_col, h.alias("_h"))
        .orderBy("_h", id_col)
        .limit(sample_size)
        .drop("_h")
        .persist()
    )
    ks = sorted({k for k, _ in configs})
    if len(ks) != 1:
        raise ValueError("configs must share one k (signature width)")
    k = ks[0]
    truth = (
        minhash_band_pairs(
            sample,
            min_jaccard=min_jaccard,
            k=k,
            bands=k,  # single-component bands: the maximal candidate pool
            shingle_n=shingle_n,
            id_col=id_col,
            text_col=text_col,
        )
        .select("id_a", "id_b")
        .persist()
    )
    n_true = truth.count()
    rows = []
    for k_, bands in configs:
        cand = minhash_band_pairs(
            sample,
            min_jaccard=0.0,  # count ALL candidates (the verify cost)
            k=k_,
            bands=bands,
            shingle_n=shingle_n,
            id_col=id_col,
            text_col=text_col,
        ).select("id_a", "id_b").persist()
        n_cand = cand.count()
        n_found = cand.join(truth, ["id_a", "id_b"], "left_semi").count()
        cand.unpersist()
        rows.append(
            (
                k_,
                bands,
                k_ // bands,
                n_true,
                n_cand,
                n_found,
                (n_found / n_true) if n_true > 0 else 1.0,
            )
        )
    # counts are collected eagerly so every per-config cache (and the
    # sample/truth frames) can be RELEASED before returning — a sweep
    # must not leave corpus-sample caches pinned for the session
    sample.unpersist()
    truth.unpersist()
    return sample.sparkSession.createDataFrame(
        rows,
        "k long, bands long, rows_per_band long, n_true_pairs long, "
        "n_candidates long, n_found long, recall double",
    )


def containment_pairs(
    df: DataFrame,
    min_containment: float = 0.8,
    shingle_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC containment similarity join: directional pairs
    (a, b) with C(a→b) = |Sa ∩ Sb| / |Sa| >= t over distinct word
    ``shingle_n``-gram sets — the subsumption detector Jaccard misses
    (a short document quoted wholesale inside a long one has high
    containment but low Jaccard because the union is dominated by the
    long side). This is the dedup decision for quote inclusion /
    expanded-rewrite pairs: drop or link the CONTAINED side.

    Candidates by one-sided prefix filtering: order each document's
    shingles by global rarity (df asc, gram asc); the contained side
    emits only its first ``n - ceil(t·n) + 1`` shingles, the containing
    side posts ALL shingles. Pigeonhole: a qualifying pair shares
    >= ceil(t·|Sa|) shingles — more than Sa's non-prefix suffix holds —
    so some shared shingle is in a's prefix and recall is 100%.
    Cost = Σ_{prefix grams} df(g): the full posting side is the scale
    cost; shingle grams are near-unique in real corpora (df ~ dup
    count), so hot postings mean true mass duplication. Verification is
    one array_intersect on the candidate join — never corpus × corpus.

    Output: (id_a, id_b, containment) with id_a != id_b, BOTH
    directions possible (containment is directional)."""
    from flyq_spark.operators.util import exact_ceil_frac, fan_out

    if not 0.0 < min_containment <= 1.0:
        raise ValueError(f"min_containment must be in (0, 1]: {min_containment}")
    base = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_id"),
            shingle_set(F.col(text_col), shingle_n).alias("_g"),
        )
        .where(F.size("_g") > 0)
        .persist()  # four consumers (df counts, rank, both verify sides)
    )
    tok = base.select("_id", F.explode("_g").alias("_gram"))
    doc_freq = tok.groupBy("_gram").agg(F.count(F.lit(1)).alias("_df"))
    wdoc = Window.partitionBy("_id")
    ranked = (
        tok.join(doc_freq, on="_gram")
        .withColumn("_rn", F.row_number().over(wdoc.orderBy("_df", "_gram")))
        .withColumn("_n", F.count(F.lit(1)).over(wdoc))
    )
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n") - exact_ceil_frac(F.col("_n"), min_containment) + 1
    ).select(F.col("_id").alias("id_a"), "_gram")
    postings = tok.select(F.col("_id").alias("id_b"), "_gram")
    cand = (
        prefix.join(postings, on="_gram")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_g").alias("_ga"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_g").alias("_gb"))
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    containment = (inter.cast("double") / F.size("_ga").cast("double")).alias(
        "containment"
    )
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select("id_a", "id_b", containment)
        .where(F.col("containment") >= min_containment)
    )


def cosine_pairs(
    df: DataFrame,
    min_cosine: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    max_candidates: int | None = 100_000_000,
) -> DataFrame:
    """WEIGHTED cosine similarity join over term-frequency vectors —
    the similarity the set-based family (Jaccard/containment) cannot
    express: repetition counts. Two documents built from the same
    vocabulary at very different frequencies are set-identical but
    cosine-distant; near-verbatim copies are cosine-close even when a
    few insertions shift every shingle.

    Exactness: the threshold test is INTEGER end-to-end. With
    t² = num/den (read from the decimal the caller wrote), a pair
    qualifies iff ``dot² · den ≥ num · ‖a‖² · ‖b‖²`` over integer tf
    — no sqrt, no float, so the result hash-checks against a naive
    SQL oracle.

    Candidates by the L2 prefix filter (Bayardo et al., WWW'07 "All
    Pairs", integer form): order each document's terms by global
    rarity (df asc, term asc); a term at rank r is in the prefix iff
    the L2 mass from r onward could still carry a qualifying pair,
    ``tail_sq(r) · den ≥ num · ‖x‖²`` (if a pair shares nothing in
    x's prefix, dot ≤ ‖x_suffix‖·‖y‖ < t·‖x‖·‖y‖ by Cauchy-Schwarz —
    recall is 100%). Prefix terms probe the FULL posting index via an
    equi-join; cost is Σ_{prefix terms} df(t), and stopwords fall out
    of prefixes naturally (huge df sorts them last; the rarity order
    is exactly what bounds the candidate set at corpus scale).
    Verification is one map-lookup fold per candidate — never
    corpus × corpus, and the plan audit holds (no cartesian).

    ``ngram`` builds the tf vectors over word n-grams instead of
    unigrams. The prefix filter's power is exactly the corpus's term
    RARITY: over a small shared vocabulary (every unigram a de-facto
    stopword) the candidate set degenerates toward all-pairs-sharing-
    anything — measured on the fixture corpus at sf0.1, unigram
    prefixes average df ≈ 3800 of 5000 docs and the candidate join
    emits 10⁸ rows. Bigrams restore a Zipfian tail (order carries
    information), so prefixes are genuinely rare and candidates
    collapse by orders of magnitude; use ngram ≥ 2 whenever the
    domain's unigram vocabulary is small.

    That adversarial regime is guarded PROGRAMMATICALLY, not just
    documented: the exact candidate-join size is Σ df(t) over prefix
    occurrences — one cheap aggregate over the postings the operator
    already builds — and when it exceeds ``max_candidates`` the plan
    ``raise_error``s with the MinHash-LSH recommendation instead of
    silently running an ~all-pairs join. ``max_candidates=None``
    disables the guard for callers who have sized the cluster for the
    verify cost.

    Output: (id_a, id_b, dot, norm_a, norm_b) with id_a < id_b;
    cosine = dot / sqrt(norm_a·norm_b) is the caller's float to make.
    """
    from fractions import Fraction

    if not 0.0 < min_cosine <= 1.0:
        raise ValueError(f"min_cosine must be in (0, 1]: {min_cosine}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1: {ngram}")
    t2 = Fraction(str(min_cosine)) ** 2
    num, den = F.lit(t2.numerator).cast("long"), F.lit(t2.denominator).cast("long")

    arr = F.array_remove(F.split(F.lower(F.col(text_col)), "\\s+"), "")
    if ngram > 1:
        terms = F.when(
            F.size(arr) >= ngram,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - (ngram - 1)),
                lambda i: F.concat_ws(" ", F.slice(arr, i, ngram)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        terms = arr
    toks = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), F.explode(terms).alias("_t"))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).cast("long").alias("_tf"))
        .persist()  # df counts, prefix ranking, postings, verify maps
    )
    norms = toks.groupBy("_id").agg(
        F.sum(F.col("_tf") * F.col("_tf")).alias("_norm_sq")
    )
    doc_freq = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    ranked = (
        toks.join(doc_freq, on="_t")
        .join(norms, on="_id")
        .withColumn(
            "_cum_sq",
            F.sum(F.col("_tf") * F.col("_tf")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    # tail mass from this rank on: norm² − everything strictly before
    tail_sq = F.col("_norm_sq") - F.col("_cum_sq") + F.col("_tf") * F.col("_tf")
    prefix = ranked.where(tail_sq * den >= num * F.col("_norm_sq")).select(
        F.col("_id").alias("id_a"), "_t", "_df"
    )
    if max_candidates is not None:
        # exact candidate-join output size, BEFORE paying it: each
        # prefix occurrence of term t meets df(t) postings. One
        # single-row aggregate, broadcast back; every prefix row then
        # carries the bound, and the first row evaluated raises when
        # the corpus is in the low-rarity all-pairs regime.
        bound = prefix.agg(
            F.coalesce(F.sum("_df"), F.lit(0)).cast("long").alias("_cand_bound")
        )
        prefix = prefix.crossJoin(F.broadcast(bound)).where(
            F.when(
                F.col("_cand_bound") <= int(max_candidates), F.lit(True)
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "cosine_pairs: candidate join would emit %s rows "
                        f"(> max_candidates={int(max_candidates)}) — the "
                        "corpus has too little term rarity for the L2 "
                        "prefix filter (every term near-stopword). Use "
                        "ngram>=2, or the MinHash-LSH path "
                        "(minhash_band_pairs) which bounds candidates "
                        "by banding, or raise max_candidates explicitly.",
                        F.col("_cand_bound").cast("string"),
                    )
                )
            )
        )
    prefix = prefix.select("id_a", "_t")
    postings = toks.select(F.col("_id").alias("id_b"), "_t")
    cand = (
        prefix.join(postings, on="_t")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = toks.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("_t", "_tf"))).alias("_m"),
        F.sum(F.col("_tf") * F.col("_tf")).alias("_norm_sq"),
    )
    a = vecs.select(
        F.col("_id").alias("id_a"),
        F.col("_m").alias("_ma"),
        F.col("_norm_sq").alias("norm_a"),
    )
    b = vecs.select(
        F.col("_id").alias("id_b"),
        F.col("_m").alias("_mb"),
        F.col("_norm_sq").alias("norm_b"),
    )
    dot = F.aggregate(
        F.map_entries(F.col("_ma")),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + e.value * F.coalesce(F.element_at(F.col("_mb"), e.key), F.lit(0).cast("long")),
    ).alias("dot")
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select("id_a", "id_b", dot, "norm_a", "norm_b")
        .where(
            (F.col("dot") > 0)
            & (F.col("dot") * F.col("dot") * den >= num * F.col("norm_a") * F.col("norm_b"))
        )
    )
