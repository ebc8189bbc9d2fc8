"""End-to-end training-corpus pipeline — the composition the individual
[EXT] operators exist for, in the order a real pretraining data build
runs them:

    ingest → PII redaction → quality filter (Gopher rules)
           → classifier scoring (hashed linear, audit)
           → substring-span excision → exact dedup → MinHash near-dup
           → connected components → survivor choice → train/test split
           → decontamination audit → domain-affinity audit (DSIR-shaped)
           → mixture upweighting → context chunking
           → reproducible shuffle → sequence packing
           → tokenizer training (BPE on the final corpus) + token audit
           → ship-integrity digest (mergeable corpus fingerprint)

Every stage is one of the library operators (no logic lives here), so
the pipeline inherits their scale shapes: projections stay zero-shuffle,
candidate generation stays bucketed, nothing is ever all-pairs, and the
whole build is deterministic — same input, same corpus, on any engine,
any partitioning, any run.

Usage:
    python examples/pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_training_corpus(
    spark: SparkSession, sf_dir: str, jaccard_threshold: float = 0.5
) -> dict[str, DataFrame]:
    """Run the full build; returns the per-stage frames so callers can
    audit any intermediate ({'corpus': final packed frame, ...})."""
    from flyq_spark.io import read_documents
    from flyq_spark.operators.corpus import (
        contamination_ngrams,
        corpus_shuffle,
        pack_documents,
        train_test_split,
    )
    from flyq_spark.operators.dedup import dedup_exact_rows, minhash_band_pairs
    from flyq_spark.operators.graph import dedup_components_keep_min
    from flyq_spark.operators.text import quality_filter, redact_pii

    docs = read_documents(spark, f"{sf_dir}/documents.parquet")

    # 1. scrub PII, then drop low-quality docs (first-failing-rule audit)
    clean = redact_pii(docs)
    verdicts = quality_filter(clean)
    kept = clean.join(
        verdicts.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )

    # 2. substring-level dedup first (excise duplicated 8-gram spans —
    #    boilerplate shared across otherwise-distinct docs), then
    #    exact dedup (md5 keep-first), then near-dup clustering:
    #    LSH candidates → connected components → keep cluster minimum
    from flyq_spark.operators.dedup import remove_duplicate_spans

    excised = remove_duplicate_spans(kept, k=8).join(
        kept.drop("text"), "doc_id"
    ).withColumnRenamed("clean_text", "text").drop("n_removed_tokens")
    exact = dedup_exact_rows(excised, text_col="text", id_col="doc_id")
    pairs = minhash_band_pairs(
        exact, min_jaccard=jaccard_threshold, text_col="text", id_col="doc_id"
    )
    survivors = dedup_components_keep_min(pairs)
    deduped = exact.join(
        survivors.where(~F.col("keep")).select(F.col("node").alias("doc_id")),
        "doc_id",
        "left_anti",
    )

    # 2b. classifier scoring audit — the fastText-shaped second quality
    #     gate; a real build thresholds on a trained model's score, so
    #     the frame is returned for auditing rather than filtered on
    #     (the deterministic demo weights carry no signal)
    from flyq_spark.operators.text import hashed_linear_score

    cls_scores = hashed_linear_score(kept)

    # 2c. containment audit — directional subsumption (quote inclusion)
    #     the symmetric near-dup pass cannot see; returned for review
    #     rather than auto-dropped (excising the contained side is a
    #     policy call)
    from flyq_spark.operators.dedup import containment_pairs

    subsumed = containment_pairs(deduped, min_containment=0.8, shingle_n=5)

    # 3. deterministic split + decontamination audit (8-gram leakage) +
    #    domain-affinity audit (how much of each doc falls in the
    #    en-subset's characteristic hashed buckets — DSIR's integer core)
    from flyq_spark.operators.text import domain_affinity

    split = train_test_split(deduped)
    contamination = contamination_ngrams(deduped)
    affinity = domain_affinity(
        deduped, deduped.where(F.col("lang") == "en")
    )

    # (the affinity audit's integer (n_tokens, n_target_hits) feed the
    #  principled selection path when a target-domain mixture is the
    #  goal: corpus.importance_resample draws exactly-k with
    #  multiplicity ∝ 1 + (hits<<20) div tokens, and
    #  corpus.mixture_build materializes temperature_mix quotas —
    #  both gates replay end-to-end; this example keeps the simpler
    #  per-lang upweighting so every stage stays one operator call)
    # 4. mixture upweighting (high-quality langs get extra epochs), then
    #    context chunking (split docs beyond the model's window — a
    #    no-op on short docs, load-bearing at scale), reproducible
    #    order + token-budget packing for the train side
    from flyq_spark.operators.corpus import chunk_documents, upsample_strata

    train = split.where(F.col("split") == "train").drop("split")
    weighted = upsample_strata(train, "lang", {"en": 1.5}).withColumn(
        "doc_id", F.col("doc_id") * 10 + F.col("copy_id")
    ).drop("copy_id")  # re-key copies so shuffle/packing treat them as docs
    # re-key factor bounds chunk_id at 1M chunks/doc (~448M words at
    # stride 448) — far past any real document; unlike the copy_id
    # factor above, chunk count is data-dependent, so the bound is wide
    chunked = (
        chunk_documents(weighted, chunk_tokens=512, overlap=64)
        .join(weighted.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("doc_id", F.col("doc_id") * 1_000_000 + F.col("chunk_id"))
        .select("doc_id", F.col("chunk_text").alias("text"), "lang", "source")
    )
    # with_offsets: each chunk's token start WITHIN its pack rides
    # along for the sequence writer / attention-mask machinery
    corpus = pack_documents(
        corpus_shuffle(chunked), token_budget=2048, with_offsets=True
    )

    # 5. train the tokenizer ON the corpus it will serve (word-freq dict
    #    is the only distributed pass) and audit the token budget under it
    from flyq_spark.operators.bpe import bpe_token_counts, train_bpe

    merges = train_bpe(weighted, n_merges=50)
    token_audit = bpe_token_counts(weighted, merges)

    # 6. contrastive negatives for the train side — reproducible
    #    never-self pairs off the md5 ring (a retrieval/embedding
    #    training consumer reads (doc, slot, neg_doc) directly)
    from flyq_spark.operators.corpus import negative_samples

    negatives = negative_samples(train.select("doc_id"), k=2)

    # 7. ship-integrity digest of the final packed corpus — the
    #    order-independent mergeable fingerprint a consumer re-computes
    #    after copying the corpus anywhere (bucket-wise equality ==
    #    byte-level multiset equality of the rows; see
    #    profile.digest_divergent_rows for the repair drill-down)
    from flyq_spark.operators.profile import dataset_digest

    corpus_digest = dataset_digest(
        corpus,
        {
            "shard": F.col("shard"),
            "pack_id": F.col("pack_id"),
            "doc_id": F.col("doc_id"),
            "text": F.col("text"),
        },
        buckets=64,
    )

    # 8. one-row-per-split sign-off table over the deduped set — doc
    #    counts, within-split exact dups, quality failures, train
    #    leakage; the numbers a release reads before shipping
    from flyq_spark.operators.corpus import release_audit

    signoff = release_audit(deduped, n=8)

    return {
        "verdicts": verdicts,
        "signoff": signoff,
        "cls_scores": cls_scores,
        "deduped": deduped,
        "subsumed": subsumed,
        "negatives": negatives,
        "contamination": contamination,
        "affinity": affinity,
        "corpus": corpus,
        "corpus_digest": corpus_digest,
        "bpe_merges": merges,
        "token_audit": token_audit,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from flyq_spark.session import get_spark

    spark = get_spark("flyq_pipeline")
    stages = build_training_corpus(spark, sf_dir)
    n_docs = stages["corpus"].count()
    dropped = {
        r["reason"]: r["n"]
        for r in stages["verdicts"]
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    leak = stages["contamination"].agg(
        F.sum("n_contaminated").alias("c"), F.sum("n_ngrams").alias("t")
    ).first()
    toks = stages["token_audit"].agg(
        F.sum("n_bpe_tokens").alias("bpe"), F.sum("n_words").alias("w")
    ).first()
    aff = stages["affinity"].agg(
        F.sum("n_target_hits").alias("h"), F.sum("n_tokens").alias("t")
    ).first()
    dg = stages["corpus_digest"].agg(
        F.count(F.lit(1)).alias("b"), F.sum("n_rows").alias("n")
    ).first()
    print(f"corpus: {n_docs} packed train docs")
    print(f"digest: {dg['b']} buckets over {dg['n']} rows (mergeable fingerprint)")
    print(f"quality verdicts: {dropped}")
    print(f"en-domain affinity: {aff['h']}/{aff['t']} token hits")
    print(f"contamination: {leak['c']}/{leak['t']} test 8-grams seen in train")
    print(
        f"tokenizer: {len(stages['bpe_merges'])} merges; "
        f"{toks['bpe']} BPE tokens over {toks['w']} words"
    )
    for r in stages["signoff"].orderBy("split").collect():
        print(
            f"sign-off [{r['split']}]: {r['n_docs']} docs, "
            f"{r['n_dup_docs']} exact dups, "
            f"{r['n_quality_bad']} quality fails, "
            f"{r['n_contaminated_docs']} leaked"
        )
    spark.stop()


if __name__ == "__main__":
    main()
