"""Similarity search over embedding columns [EXT].

Driver-mandated LLM-pipeline extension (no reference counterpart):
approximate-nearest-neighbor over ``array<float>`` embeddings.

- brute-force cosine top-k: the correctness baseline. Query side is tiny
  → ``broadcast`` it; scoring is ``zip_with`` + ``aggregate`` (JVM
  higher-order functions, no Python in the loop); top-k via a window over
  score with deterministic id tie-break.
- LSH (random hyperplanes): the scale path. Deterministic seeded planes →
  bit signature → candidates share a signature bucket → exact re-score
  within buckets. Candidate generation is an equality join on the bucket
  key: shuffle ∝ candidates, never n × m.

At 100 TB the brute-force form is still the right *per-bucket* verifier;
what changes is only how buckets are formed (more tables/bits, or an IVF
coarse quantizer — same join shape).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flyq_spark.operators.util import fan_out


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    ``queries``: (query_id, embedding) — small, bounded like a model:
    it rides to executors as a broadcast numpy matrix. Scoring is one
    narrow ``mapInPandas`` pass — a per-Arrow-batch GEMM — that emits
    only each partition's local top-k per query (ties broken toward the
    smaller neighbor id, the same order the global rank uses, so no
    boundary candidate is ever lost). The global window then ranks
    ≤ partitions × queries × k rows instead of shuffling all n×q
    scores. Output: (query_id, neighbor_id, score, rank).
    """
    import numpy as np

    qrows = queries.select(F.col(query_id_col), F.col(vec_col)).collect()
    id_type = [f.dataType.simpleString() for f in embeddings.schema.fields if f.name == id_col][0]
    qid_type = [f.dataType.simpleString() for f in queries.schema.fields if f.name == query_id_col][0]
    out_schema = f"query_id {qid_type}, neighbor_id {id_type}, score double"
    spark = embeddings.sparkSession
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rank long")
    qids = np.array([r[0] for r in qrows])
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((qids, Q / qn[:, None]))
    kk = int(k)

    def local_topk(iterator):
        import pandas as pd

        qids_, Qn_ = bc.value
        nq = len(qids_)
        best_s: list = [None] * nq  # per query: candidate scores/ids so far
        best_i: list = [None] * nq
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            S = Qn_ @ (V / vn[:, None]).T  # nq x batch
            for qi in range(nq):
                s = S[qi] if best_s[qi] is None else np.concatenate([best_s[qi], S[qi]])
                i = ids if best_i[qi] is None else np.concatenate([best_i[qi], ids])
                order = np.lexsort((i, -s))[:kk]  # score desc, id asc
                best_s[qi], best_i[qi] = s[order], i[order]
        out = [
            (qids_[qi], best_i[qi][j], best_s[qi][j])
            for qi in range(nq)
            if best_i[qi] is not None
            for j in range(len(best_i[qi]))
        ]
        yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "score"])

    local = fan_out(embeddings).select(id_col, vec_col).mapInPandas(
        local_topk, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def threshold_match_counts(
    corpus: DataFrame,
    queries: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str | None = None,
) -> DataFrame:
    """Per-query count of corpus vectors with cosine >= ``min_cosine``
    — the semantic-contamination primitive: ``queries`` is the eval
    set (benchmark embeddings, small and bounded like a model),
    ``corpus`` is the training corpus, and the answer per eval vector
    is HOW MANY training vectors sit inside the similarity radius
    (0 = clean, >0 = semantically leaked even when no 8-gram matches).

    Scale shape — the same one the streaming decontamination monitor
    converged on: the query side broadcasts as a normalized numpy
    matrix; the corpus streams through ONE ``mapInPandas`` GEMM pass
    that emits per-partition PARTIAL counts (|partitions| x |queries|
    rows); a final tiny groupBy folds partials. The corpus is never
    shuffled and never joined — cost is one scan regardless of how
    many eval vectors match. With ``label_col`` set on both sides,
    ``n_same_label`` additionally counts radius neighbors sharing the
    query's label (class-collision diagnostics).

    Output: (query_id, n_matches BIGINT[, n_same_label BIGINT]) — one
    row per query, zero-match queries included."""
    import numpy as np

    sel = [F.col(query_id_col), F.col(vec_col)]
    if label_col is not None:
        sel.append(F.col(label_col))
    qrows = queries.select(*sel).collect()
    qid_type = [
        f.dataType.simpleString()
        for f in queries.schema.fields
        if f.name == query_id_col
    ][0]
    with_label = label_col is not None
    out_schema = f"query_id {qid_type}, n_matches long"
    if with_label:
        out_schema += ", n_same_label long"
    spark = corpus.sparkSession
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows])
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    qlabels = (
        np.array([r[2] for r in qrows]) if with_label else None
    )
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((qids, Q / qn[:, None], qlabels))
    tau = float(min_cosine)

    def partial_counts(iterator):
        import pandas as pd

        qids_, Qn_, qlab_ = bc.value
        nq = len(qids_)
        counts = np.zeros(nq, dtype=np.int64)
        same = np.zeros(nq, dtype=np.int64) if qlab_ is not None else None
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            hits = (Qn_ @ (V / vn[:, None]).T) >= tau  # nq x batch
            counts += hits.sum(axis=1)
            if same is not None:
                lab = pdf[label_col].to_numpy()
                same += (hits & (qlab_[:, None] == lab[None, :])).sum(
                    axis=1
                )
        cols = {"query_id": qids_, "n_matches": counts}
        if same is not None:
            cols["n_same_label"] = same
        yield pd.DataFrame(cols)

    cols = [id_col, vec_col] + ([label_col] if with_label else [])
    partials = fan_out(corpus).select(*cols).mapInPandas(
        partial_counts, schema=out_schema
    )
    aggs = [F.sum("n_matches").cast("long").alias("n_matches")]
    if with_label:
        aggs.append(F.sum("n_same_label").cast("long").alias("n_same_label"))
    return partials.groupBy("query_id").agg(*aggs)


def _deterministic_pivots(
    df: DataFrame, n_pivots: int, id_col: str, out_cols: tuple[str, str]
) -> DataFrame:
    """Fixed-budget deterministic pivot sample: the ``n_pivots`` rows with
    the smallest ``xxhash64(id)`` (id tie-break). Spark executes
    orderBy+limit as TakeOrderedAndProject — a per-partition top-k merged
    on the driver, O(n) scan + O(k) memory, no full sort shuffle — so the
    pivot relation is O(n_pivots) REGARDLESS of corpus size, and is
    non-empty whenever the corpus is (any id type, any id distribution).
    A trained k-means centroid table drops in unchanged."""
    id_out, vec_out = out_cols
    src_vec = [c for c in df.columns if c not in (id_col,)][0]
    return (
        df.select(F.col(id_col).alias(id_out), F.col(src_vec).alias(vec_out))
        .orderBy(F.xxhash64(F.col(id_out)), F.col(id_out))
        .limit(n_pivots)
    )


def neardup_pairs_exact(
    embeddings: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_pivots: int = 256,
    n_blocks: int = 16,
    max_block_rows: int = 200_000,
) -> DataFrame:
    """EXACT embedding near-duplicate pairs with a bucketed (never
    corpus x corpus) plan — a pivot-pruned blocked-GEMM similarity join.

    Unlike hyperplane LSH this has **100% recall by construction**.
    Two levels, with distinct jobs:

    - ``n_pivots`` (pruning resolution): vectors are unit-normalized
      (cosine(a,b) >= t  <=>  ||ua-ub|| <= d_max = sqrt(2-2t)) and
      assigned to their nearest pivot from a FIXED-budget deterministic
      sample (smallest xxhash64(id); a trained k-means drops in
      unchanged). A cell pair (i,j) can contain a qualifying pair only
      if ||c_i - c_j|| <= d_max + r_i + r_j (triangle inequality, r =
      max member distance). Pivot/radius relations are O(k) driver-side
      tables, independent of corpus size — like pyspark.ml KMeans
      centroids; no corpus data ever reaches the driver.
    - ``n_blocks`` (execution granularity): surviving cells hash onto
      ``b`` superblocks; a superblock pair materializes only if some
      qualifying cell pair maps into it. Rows replicate to at most ``b``
      groups (a broadcast equi-join), and each group scores its members
      with one numpy matrix product inside ``applyInPandas`` — the
      shuffle carries Σ(|P|+|Q|) member rows, never the Σ|P|·|Q| pair
      expansion, and the per-pair math is BLAS, not an interpreted
      per-row expression. Each unordered pair lands in exactly one
      group (its normalized superblock pair), so no dedup pass is
      needed.

    On clustered real data the cell-pair filter prunes most blocks; on
    adversarially uniform high-dim data it degrades to scoring all
    blocks — still distributed, with shuffle bounded by n·b — which is
    the best any EXACT join can do (use the LSH path when approximate
    recall is acceptable at that scale).
    Output: (id_a, id_b, score) with id_a < id_b, score = unit-dot.
    """
    import numpy as np

    spark = embeddings.sparkSession
    d_max = math.sqrt(max(0.0, 2.0 - 2.0 * min_cosine)) + 1e-9
    id_type = [f.dataType.simpleString() for f in embeddings.schema.fields if f.name == id_col][0]
    out_schema = f"id_a {id_type}, id_b {id_type}, score double"

    unit = (
        fan_out(embeddings).select(F.col(id_col), F.col(vec_col))
        .withColumn("_norm", F.greatest(norm(F.col(vec_col)), F.lit(1e-12)))
        .withColumn(
            "_unit", F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_norm"))
        )
        .select(id_col, "_unit")
    )

    # O(k) driver-side pivot table (bounded by the fixed budget, like a
    # trained k-means model — not corpus data)
    pivot_rows = _deterministic_pivots(unit, n_pivots, id_col, ("_cell", "_pivot")).collect()
    if not pivot_rows:
        return spark.createDataFrame([], out_schema)
    P = np.array([r["_pivot"] for r in pivot_rows], dtype=np.float64)  # k x d
    p_sq = (P * P).sum(axis=1)
    bc = spark.sparkContext.broadcast((P, p_sq))

    def assign(iterator):
        # nearest pivot per vector, exact L2 (no unit-pivot assumption —
        # a degenerate zero vector may be sampled as a pivot)
        P_, p_sq_ = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            U = np.vstack(pdf["_unit"].to_numpy())
            d2 = (U * U).sum(axis=1)[:, None] + p_sq_[None, :] - 2.0 * (U @ P_.T)
            np.maximum(d2, 0.0, out=d2)
            cell = d2.argmin(axis=1)
            pdf = pdf.assign(_cell=cell, _pdist=np.sqrt(d2[np.arange(len(pdf)), cell]))
            yield pdf

    assigned = unit.mapInPandas(
        assign, schema=f"{id_col} {id_type}, _unit array<double>, _cell int, _pdist double"
    ).persist()  # two consumers: the radius pass and the scoring join

    # per-cell radii AND counts -> qualifying cell pairs -> qualifying
    # superblock pairs; all O(k)/O(k^2) arithmetic on the driver,
    # corpus-free. The counts ride the radius aggregate for free and
    # let the superblock count ADAPT to the corpus: raise n_blocks (up
    # to cell granularity) until no block holds more than
    # ``max_block_rows`` vectors, bounding each applyInPandas group's
    # memory at scale instead of leaving it ~n/b. The PAIR SET is
    # invariant under this choice (recall is 100% by construction at
    # any granularity); only execution grouping changes. The residual
    # caveat is cell granularity itself: data collapsed into ONE cell
    # cannot be split further — that adversarial regime belongs to the
    # LSH path, as before.
    radii_rows = (
        assigned.groupBy("_cell")
        .agg(F.max("_pdist").alias("_r"), F.count("*").alias("_n"))
        .collect()
    )
    occupied = np.array([r["_cell"] for r in radii_rows], dtype=int)
    radii = np.array([r["_r"] for r in radii_rows])
    cell_counts = np.array([r["_n"] for r in radii_rows], dtype=np.int64)
    while n_blocks < n_pivots:
        loads = np.bincount(occupied % n_blocks, weights=cell_counts)
        if loads.max(initial=0) <= max_block_rows:
            break
        n_blocks *= 2
    n_blocks = min(n_blocks, n_pivots)
    Po = P[occupied]
    pd2 = (
        (Po * Po).sum(axis=1)[:, None]
        + (Po * Po).sum(axis=1)[None, :]
        - 2.0 * (Po @ Po.T)
    )
    cell_d = np.sqrt(np.maximum(pd2, 0.0))
    qualify = cell_d <= d_max + radii[:, None] + radii[None, :]
    sb_pairs = sorted(
        {
            (min(int(occupied[i]) % n_blocks, int(occupied[j]) % n_blocks),
             max(int(occupied[i]) % n_blocks, int(occupied[j]) % n_blocks))
            for i, j in zip(*np.nonzero(qualify))
        }
    )
    if not sb_pairs:
        assigned.unpersist()
        return spark.createDataFrame([], out_schema)
    sbp = F.broadcast(spark.createDataFrame(sb_pairs, "p int, q int"))

    # cell -> superblock is any deterministic map; modulo keeps it JVM-side
    rows = assigned.withColumn(
        "_sb", F.pmod(F.col("_cell"), F.lit(n_blocks)).cast("int")
    ).select(id_col, "_unit", "_sb")
    left = rows.join(sbp, on=rows["_sb"] == sbp["p"]).select(
        id_col, "_unit", "p", "q", F.lit(True).alias("_l")
    )
    right = rows.join(
        sbp, on=(rows["_sb"] == sbp["q"]) & (sbp["p"] != sbp["q"])
    ).select(id_col, "_unit", "p", "q", F.lit(False).alias("_l"))
    both = left.unionByName(right)

    thr = float(min_cosine)

    def gemm(key, pdf):
        import pandas as pd

        p_key, q_key = key
        lmask = pdf["_l"].to_numpy()
        L = pdf[lmask]
        ids_l = L[id_col].to_numpy()
        UL = np.vstack(L["_unit"].to_numpy()) if len(L) else None
        out = []
        if p_key == q_key:
            # within-superblock: strict upper triangle over one side
            if UL is None or len(L) < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "score": []})
            order = np.argsort(ids_l, kind="stable")
            ids_l, UL = ids_l[order], UL[order]
            chunk = max(1, 8_000_000 // max(1, len(ids_l)))
            for s in range(0, len(ids_l), chunk):
                e = min(s + chunk, len(ids_l))
                S = UL[s:e] @ UL.T
                ii, jj = np.nonzero(S >= thr)
                keep = (ii + s) < jj  # strict triangle in global index
                out.append((ids_l[ii[keep] + s], ids_l[jj[keep]], S[ii[keep], jj[keep]]))
        else:
            R = pdf[~lmask]
            if UL is None or len(R) == 0:
                return pd.DataFrame({"id_a": [], "id_b": [], "score": []})
            ids_r = R[id_col].to_numpy()
            UR = np.vstack(R["_unit"].to_numpy())
            chunk = max(1, 8_000_000 // max(1, len(ids_r)))
            for s in range(0, len(ids_l), chunk):
                e = min(s + chunk, len(ids_l))
                S = UL[s:e] @ UR.T
                ii, jj = np.nonzero(S >= thr)
                ia, ib = ids_l[ii + s], ids_r[jj]
                out.append((np.minimum(ia, ib), np.maximum(ia, ib), S[ii, jj]))
        if not out:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate([o[0] for o in out]),
                "id_b": np.concatenate([o[1] for o in out]),
                "score": np.concatenate([o[2] for o in out]),
            }
        )

    return both.groupBy("p", "q").applyInPandas(gemm, schema=out_schema)


def quantize_embedding(vec: Column) -> tuple[Column, Column]:
    """Symmetric int8 quantization: (scale, qvec) with
    ``scale = 127 / max(|x|)`` and ``q = round(x * scale)`` — 4x smaller
    storage/shuffle for 100 TB embedding corpora; cosine on dequantized
    vectors stays within ~1e-2 of exact (pinned in tests). Pure
    higher-order-function arithmetic, replayable as SQL.

    Two expression-level details that matter at scale: max(|x|) is
    clamped at 1e-12 (an all-zero embedding would otherwise divide by
    zero — a hard error under ANSI mode, NULL-poison otherwise), and
    the scale is evaluated ONCE per row via the single-element-array
    hoist (``transform([scale], s -> transform(vec, ...))``): Spark
    does not hoist loop-invariant subexpressions out of HOF lambdas, so
    the naive form recomputes the O(d) array_max for EVERY element —
    O(d²) per vector on the hot path."""
    amax = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-12)
    )
    scale = F.lit(127.0) / amax
    qvec = F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.transform(
                vec, lambda x: F.round(x.cast("double") * s).cast("int")
            ),
        ),
        1,
    )
    return scale, qvec


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over int8-quantized vectors — integer dot products in
    double accumulators. Takes only the quantized vectors: symmetric
    per-vector scales CANCEL in cosine (q = s·x ⇒ cos(qa,qb) =
    cos(xa,xb) up to rounding), so threading scale columns through
    would be dead weight inviting a wrong "fix"."""
    return dot(qa, qb) / (norm(qa) * norm(qb))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy state shared
    with callers; plain LCG keeps it reproducible everywhere)."""
    out = []
    state = seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x7FFFFFFF * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        out.append([x / n for x in row])
    return out


def with_lsh_signature(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    sig_col: str = "_sig",
) -> DataFrame:
    """Append a random-hyperplane signature (int bucket key). sign-bit per
    plane; all arithmetic via higher-order functions on literal plane
    arrays (broadcast as constants into codegen)."""
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"]) if first else 0
    planes = _hyperplanes(dim, n_planes, seed)
    sig: Column = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bit = (dot(F.col(vec_col), plane_col) > 0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    return embeddings.withColumn(sig_col, sig)


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF cell assignment: nearest ``nprobe`` centroids per vector by
    cosine (ties broken by smallest cell id).

    The centroid table is O(k) — bounded like a trained k-means model —
    so it rides to executors as a broadcast numpy matrix and assignment
    is ONE narrow ``mapInPandas`` pass (a vectorized n×k GEMM per Arrow
    batch): no crossJoin row expansion, no per-vector ranking window, no
    shuffle at all. ``centroids`` is positional: (centroid_id, vector).
    Output: (id, cell, probe_rank)."""
    import numpy as np

    spark = embeddings.sparkSession
    id_type = [f.dataType.simpleString() for f in embeddings.schema.fields if f.name == id_col][0]
    cell_type = centroids.schema.fields[0].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, cell {cell_type}, probe_rank int"
    crows = centroids.toDF("cell", "_cvec").collect()
    if not crows:
        return spark.createDataFrame([], out_schema)
    cells = np.array([r["cell"] for r in crows])
    C = np.array([r["_cvec"] for r in crows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = 1.0
    # sort by cell id: stable argsort on -score then breaks ties toward
    # the smallest cell, matching the window form's (score desc, cell asc)
    order = np.argsort(cells)
    bc = spark.sparkContext.broadcast((cells[order], (C / cn[:, None])[order]))
    take = min(int(nprobe), len(crows))

    def assign(iterator):
        import pandas as pd

        cells_, Cn_ = bc.value
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0.0] = 1.0
            S = (V / vn[:, None]) @ Cn_.T
            idx = np.argsort(-S, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), take),
                    "cell": cells_[idx].ravel(),
                    "probe_rank": np.tile(np.arange(1, take + 1), len(pdf)),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)


def train_kmeans(
    embeddings: DataFrame,
    n_clusters: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
    tol: float = 1e-4,
) -> DataFrame:
    """Distributed spherical k-means (Lloyd's) for IVF coarse quantizers.

    Vectors are unit-normalized, so cosine assignment == euclidean
    assignment and the mean-then-renormalize update is the spherical
    k-means step. The scale shape mirrors ``pyspark.ml`` KMeans:

    - centroid state is an O(k x d) driver/broadcast matrix — NEVER a
      corpus-sized relation;
    - each iteration is ONE narrow ``mapInPandas`` pass over the corpus
      that fuses assignment (batch GEMM against the broadcast centroids)
      with map-side combine: it emits per-partition per-cell partial
      (count, sum) rows — at most partitions x k tiny rows cross to the
      driver, the corpus itself never shuffles;
    - the final reduce sorts partials by (cell, partition) before
      summing, so results are bit-deterministic run to run.

    Init is the fixed-budget deterministic sample (smallest
    ``xxhash64(id)``), the same seeding ``topk_ivf`` uses untrained, so
    training strictly refines the untrained behavior. Empty clusters
    keep their previous center. Stops early when every center moves less
    than ``tol`` (euclidean, on the unit sphere).

    Returns a (cell, centroid) DataFrame — positional drop-in for
    ``assign_cells`` / ``topk_ivf(centroids=...)``.
    """
    import numpy as np

    spark = embeddings.sparkSession
    # persist: every Lloyd iteration scans this frame (collect of
    # partials), and without the cache each round re-executes the
    # corpus read + fan_out shuffle — max_iter full re-reads
    src = fan_out(embeddings).select(id_col, vec_col).persist()
    init = _deterministic_pivots(src, n_clusters, id_col, ("_pid", "_pvec")).collect()
    C = np.array([r["_pvec"] for r in init], dtype=np.float64)
    if C.size == 0:
        src.unpersist()
        return spark.createDataFrame([], "cell int, centroid array<double>")
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0.0] = 1.0
    C = C / cn[:, None]
    k = len(C)

    partial_schema = "cell int, cnt long, psum array<double>, pid int"

    for _ in range(max_iter):
        bc = spark.sparkContext.broadcast(C)

        def partials(iterator):
            import pandas as pd
            from pyspark import TaskContext

            C_ = bc.value
            sums = np.zeros_like(C_)
            counts = np.zeros(len(C_), dtype=np.int64)
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                vn = np.linalg.norm(V, axis=1)
                vn[vn == 0.0] = 1.0
                U = V / vn[:, None]
                cells = np.argmax(U @ C_.T, axis=1)
                np.add.at(sums, cells, U)
                counts += np.bincount(cells, minlength=len(C_))
            pid = TaskContext.get().partitionId()
            hit = np.nonzero(counts)[0]
            if len(hit) == 0:
                return
            yield pd.DataFrame(
                {
                    "cell": hit.astype("int32"),
                    "cnt": counts[hit],
                    "psum": [[float(x) for x in sums[c]] for c in hit],
                    "pid": np.full(len(hit), pid, dtype="int32"),
                }
            )

        rows = src.mapInPandas(partials, schema=partial_schema).collect()
        new_sums = np.zeros_like(C)
        new_counts = np.zeros(k, dtype=np.int64)
        for r in sorted(rows, key=lambda r: (r["cell"], r["pid"])):
            new_sums[r["cell"]] += np.asarray(r["psum"], dtype=np.float64)
            new_counts[r["cell"]] += r["cnt"]
        nonempty = new_counts > 0
        moved = C.copy()
        moved[nonempty] = new_sums[nonempty] / new_counts[nonempty, None]
        mn = np.linalg.norm(moved, axis=1)
        mn[mn == 0.0] = 1.0
        moved = moved / mn[:, None]
        shift = float(np.max(np.linalg.norm(moved - C, axis=1)))
        C = moved
        if shift < tol:
            break

    src.unpersist()
    return spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(k)],
        "cell int, centroid array<double>",
    )


def topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_pivots: int = 256,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: partition the corpus into Voronoi cells around
    deterministic centroids (a FIXED ``n_pivots``-row sample by smallest
    xxhash64(id) — see ``_deterministic_pivots``; a trained k-means drops
    in unchanged), then score each query only against cells of its
    ``nprobe`` nearest centroids.

    The scale shape: build-side assignment is corpus x centroids scores
    (centroids broadcast, O(n_pivots) independent of corpus size); query
    time is a bucket-equality join on ``cell`` — shuffle proportional to
    probed candidates, never n x m. Self-recall is guaranteed at any
    nprobe >= 1 (a vector's own cell is its nearest centroid's cell).
    Pass ``centroids`` (e.g. from ``train_kmeans``) to replace the
    deterministic sample with a trained coarse quantizer — same plan,
    better-balanced cells. Output: (query_id, neighbor_id, score, rank)."""
    embeddings = fan_out(embeddings)
    if centroids is None:
        centroids = _deterministic_pivots(
            embeddings.select(id_col, vec_col), n_pivots, id_col, (id_col, vec_col)
        )
    corpus_cells = assign_cells(embeddings, centroids, id_col, vec_col, nprobe=1)
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
    ).join(
        corpus_cells.select(F.col(id_col).alias("neighbor_id"), "cell"),
        on="neighbor_id",
    )
    qprobes = assign_cells(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        centroids,
        id_col="query_id",
        vec_col=vec_col,
        nprobe=nprobe,
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
        ).join(qprobes, on="query_id")
    )
    scored = corpus.join(q, on="cell").select(
        "query_id", "neighbor_id", cosine(F.col("_qvec"), F.col("_vec")).alias("score")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    seed: int = 42,
    n_tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: score only corpus vectors sharing the query's LSH
    bucket. Recall < 1 by design (graded against topk_bruteforce in
    tests); cost drops from n×m scores to bucket-local scores.
    ``n_tables`` > 1 unions independently-seeded tables (candidate =
    bucket-mate in ANY table) — the standard recall lever; cost grows
    linearly in tables, still never n×m. Pass ``dim`` (known from the
    table schema/registry in production) to avoid the one driver-side
    dimension sniff."""
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1 (got {n_tables})")
    if dim is None:
        dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = int(dim_row["d"]) if dim_row else 0
    corpus_base = fan_out(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vec")
    )
    query_base = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    candidates = None
    for t in range(n_tables):
        corpus = with_lsh_signature(
            corpus_base, vec_col="_vec", n_planes=n_planes, seed=seed + 1000 * t, dim=dim
        )
        qsig = with_lsh_signature(
            query_base, vec_col="_qvec", n_planes=n_planes, seed=seed + 1000 * t, dim=dim
        )
        cand = corpus.join(F.broadcast(qsig), on="_sig").select(
            "query_id", "neighbor_id", "_qvec", "_vec"
        )
        candidates = cand if candidates is None else candidates.unionByName(cand)
    scored = candidates.dropDuplicates(["query_id", "neighbor_id"]).select(
        "query_id", "neighbor_id", cosine(F.col("_qvec"), F.col("_vec")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def train_pq(
    embeddings: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    kmeans_iters: int = 8,
):
    """Train product-quantization codebooks (the FAISS-PQ shape on
    Spark): split dimensions into ``n_subspaces`` contiguous blocks and
    learn ``n_codes`` centroids per block with k-means on a
    DETERMINISTIC sample (smallest xxhash64(id) — the same fixed-budget
    sampling the IVF pivots use; PQ training on a bounded sample is the
    standard practice, the codebook is a model, not a relation).

    Returns (codebooks, dim): a numpy array [n_subspaces][n_codes][sub_dim]
    suitable for broadcast. Driver memory is O(m·k·d/m) = O(k·d) —
    independent of corpus size."""
    import numpy as np

    rows = (
        _deterministic_pivots(
            embeddings.select(id_col, vec_col), sample_size, id_col, ("_id", "_v")
        )
    ).collect()
    if not rows:
        raise ValueError("train_pq: empty corpus")
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    books = np.empty((n_subspaces, n_codes, sub), dtype=np.float64)
    for m in range(n_subspaces):
        B = X[:, m * sub : (m + 1) * sub]
        # deterministic init: first n_codes distinct sample rows
        C = B[: min(n_codes, len(B))].copy()
        while len(C) < n_codes:  # corpus smaller than codebook: pad
            C = np.vstack([C, C[: n_codes - len(C)]])
        for _ in range(kmeans_iters):
            d2 = ((B[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = B[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[m] = C
    return books, dim


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` one-byte codes (nearest
    codebook centroid per block): a 4096-float embedding compresses to
    m bytes. One narrow ``mapInPandas`` pass against the broadcast
    codebooks — no shuffle. Output: (id, codes array<int>)."""
    import numpy as np

    spark = embeddings.sparkSession
    id_type = [f.dataType.simpleString() for f in embeddings.schema.fields if f.name == id_col][0]
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(iterator):
        import pandas as pd

        books = bc.value
        m, k, sub = books.shape
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(V), m), dtype=np.int32)
            for i in range(m):
                B = V[:, i * sub : (i + 1) * sub]
                d2 = ((B[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, codes array<int>"
    )


def topk_pq(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC distance: each query precomputes
    an m x n_codes lookup table of squared distances to every codebook
    centroid, and a corpus vector's distance is the sum of m table
    lookups on its codes — the corpus is never decoded. One narrow
    ``mapInPandas`` pass over the code table emits partition-local
    top-k; a tiny global window merges. Output: (query_id, neighbor_id,
    adist, rank) — rank ascending by distance, ties to smaller id."""
    import numpy as np

    spark = encoded.sparkSession
    qrows = queries.select(query_id_col, vec_col).collect()
    id_type = [f.dataType.simpleString() for f in encoded.schema.fields if f.name == id_col][0]
    qid_type = [f.dataType.simpleString() for f in queries.schema.fields if f.name == query_id_col][0]
    out_schema = f"query_id {qid_type}, neighbor_id {id_type}, adist double"
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rank long")
    m, ncodes, sub = codebooks.shape
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    tables = np.empty((len(qrows), m, ncodes), dtype=np.float64)
    for i in range(m):
        B = Q[:, i * sub : (i + 1) * sub]
        tables[:, i, :] = ((B[:, None, :] - codebooks[i][None, :, :]) ** 2).sum(axis=2)
    qids = [r[0] for r in qrows]
    bc = spark.sparkContext.broadcast((qids, tables))
    kk = int(k)

    def scan(iterator):
        import pandas as pd

        qids_, T = bc.value
        nq = len(qids_)
        best = [None] * nq
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())  # batch x m
            ids = pdf[id_col].to_numpy()
            for qi in range(nq):
                d = T[qi][np.arange(codes.shape[1])[None, :], codes].sum(axis=1)
                cand = (d, ids) if best[qi] is None else (
                    np.concatenate([best[qi][0], d]),
                    np.concatenate([best[qi][1], ids]),
                )
                order = np.lexsort((cand[1], cand[0]))[:kk]  # dist asc, id asc
                best[qi] = (cand[0][order], cand[1][order])
        out = [
            (qids_[qi], best[qi][1][j], best[qi][0][j])
            for qi in range(nq)
            if best[qi] is not None
            for j in range(len(best[qi][0]))
        ]
        yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "adist"])

    local = fan_out(encoded).select(id_col, "codes").mapInPandas(scan, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def topk_mmr(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Diversity-aware top-k via Maximal Marginal Relevance: greedily
    pick the candidate maximizing ``lam * relevance - (1-lam) *
    max_sim_to_already_selected`` — the selection pass retrieval
    pipelines run AFTER ANN so near-duplicate hits don't crowd the
    result (lam=1 degenerates to plain relevance ranking).

    Scale shape: stage 1 bounds the problem — the exact top-``pool``
    per query (``topk_bruteforce``: broadcast queries, partition-local
    GEMM, tiny global merge). Stage 2 joins candidate vectors back
    (equi-join on the id, |queries| x pool rows) and runs the greedy
    loop per query inside ``applyInPandas`` — distributed ACROSS
    queries, O(k * pool) numpy work within each, never corpus-sized.
    Ties break toward the smaller neighbor id, so the selection is
    deterministic. Output: (query_id, neighbor_id, relevance,
    mmr_rank 1..k)."""
    import numpy as np

    cand = topk_bruteforce(
        embeddings, queries, k=pool, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "neighbor_id", F.col("score").alias("relevance"))
    vecs = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nvec")
    )
    joined = cand.join(vecs, on="neighbor_id")
    id_type = [
        f.dataType.simpleString()
        for f in embeddings.schema.fields
        if f.name == id_col
    ][0]
    qid_type = [
        f.dataType.simpleString()
        for f in queries.schema.fields
        if f.name == query_id_col
    ][0]
    out_schema = (
        f"query_id {qid_type}, neighbor_id {id_type}, "
        "relevance double, mmr_rank long"
    )
    kk, ll = int(k), float(lam)

    def mmr(key, pdf):
        import pandas as pd

        order = np.lexsort((pdf["neighbor_id"].to_numpy(), -pdf["relevance"].to_numpy()))
        pdf = pdf.iloc[order].reset_index(drop=True)
        V = np.vstack(pdf["_nvec"].to_numpy()).astype(np.float64)
        n = np.linalg.norm(V, axis=1)
        n[n == 0.0] = 1.0
        U = V / n[:, None]
        S = U @ U.T  # candidate-candidate cosine
        rel = pdf["relevance"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy()
        selected: list[int] = []
        remaining = list(range(len(pdf)))
        while remaining and len(selected) < kk:
            if selected:
                red = S[np.ix_(remaining, selected)].max(axis=1)
            else:
                red = np.zeros(len(remaining))
            obj = ll * rel[remaining] - (1.0 - ll) * red
            # candidates are pre-sorted (relevance desc, id asc), and
            # argmax takes the FIRST max — so ties deterministically go
            # to the more-relevant / smaller-id candidate
            pick = remaining.pop(int(np.argmax(obj)))
            selected.append(pick)
        return pd.DataFrame(
            {
                "query_id": [key[0]] * len(selected),
                "neighbor_id": ids[selected],
                "relevance": rel[selected],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype=np.int64),
            }
        )

    return joined.groupBy("query_id").applyInPandas(mmr, schema=out_schema)


def semdedup_prune(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 64,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): drop documents
    whose EMBEDDING is near-duplicate to a kept one, finding candidates
    only within k-means clusters — the semantic counterpart of
    MinHash near-dup (which only sees lexical overlap).

    Scale shape, exactly the paper's:

    1. cluster: ``train_kmeans`` (or caller-supplied ``centroids``) —
       an O(k x d) broadcast model, corpus never collected;
    2. assign: one narrow ``mapInPandas`` GEMM pass (``assign_cells``);
    3. prune per cluster: ``applyInPandas`` groups hold ~n/k members;
       inside a group one BLAS gram matrix + a greedy sweep in
       DETERMINISTIC id order — keep a member iff its cosine to every
       already-kept member is <= threshold. Keep-first-by-id replaces
       the paper's keep-low-centroid-similarity tiebreak so reruns and
       engines agree bit-for-bit.

    The within-cluster work is O((n/k)^2) floats — the paper's own
    regime; size ``n_clusters`` so n/k fits executor memory (the same
    sizing contract as ``neardup_pairs_exact``, which documents the
    degenerate-cluster caveat).

    Output: (id, cell, keep, n_cluster_members) — one row per input
    vector; filter ``keep`` to materialize the deduplicated corpus."""
    import numpy as np

    if centroids is None:
        centroids = train_kmeans(
            embeddings, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_cells(
        embeddings, centroids, id_col=id_col, vec_col=vec_col, nprobe=1
    ).drop("probe_rank")
    id_type = [
        f.dataType.simpleString()
        for f in embeddings.schema.fields
        if f.name == id_col
    ][0]
    # cell type follows the CENTROIDS schema (assign_cells supports
    # caller models with e.g. string cell ids — hardcoding int would
    # fail inside the Arrow worker with an opaque traceback)
    cell_type = centroids.schema.fields[0].dataType.simpleString()
    # null-keys-impossible: id_col is the row identity
    members = embeddings.select(id_col, vec_col).join(assigned, id_col)
    out_schema = (
        f"{id_col} {id_type}, cell {cell_type}, keep boolean, "
        "n_cluster_members long"
    )
    thr = float(threshold)

    def prune(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        vn = np.linalg.norm(V, axis=1)
        vn[vn == 0.0] = 1.0
        U = V / vn[:, None]
        n = len(U)
        S = U @ U.T
        keep = np.zeros(n, dtype=bool)
        kept_idx: list[int] = []
        for i in range(n):
            if not kept_idx or float(S[i, kept_idx].max()) <= thr:
                keep[i] = True
                kept_idx.append(i)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": [key[0]] * n,  # native type from the group key
                "keep": keep,
                "n_cluster_members": np.full(n, n, dtype="int64"),
            }
        )

    return members.groupBy("cell").applyInPandas(prune, schema=out_schema)


def ivf_parameter_sweep(
    embeddings: DataFrame,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    n_queries: int = 50,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_pivots: int = 64,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF nprobe sweep — recall@k vs probe cost on a deterministic
    query sample, the vector-search counterpart of
    ``dedup.lsh_parameter_sweep`` (pick nprobe before the full-corpus
    serving config is frozen): ground truth is exact brute-force top-k
    for the sampled queries; each nprobe's IVF result is scored by
    NEIGHBOR-SET recall against it (rank-agnostic — IVF returns exact
    scores for probed candidates, so rank errors only come from missed
    cells). Probing more cells is monotone by construction (cell sets
    nest), so recall is non-decreasing in nprobe.

    Queries = the ``n_queries`` smallest xxhash64(id) vectors
    (TakeOrderedAndProject — no global window), the same deterministic
    draw the pivot sampler uses. The driver loop is |nprobes| (a
    handful); each iteration is one bucket join. Output: (nprobe,
    n_queries, n_truth, n_found, recall) — one row per config."""
    qs = (
        embeddings.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
        )
        .withColumn("_h", F.xxhash64(F.col("query_id")))
        .orderBy("_h", "query_id")
        .limit(n_queries)
        .drop("_h")
        .persist()
    )
    truth = (
        topk_bruteforce(embeddings, qs, k=k, id_col=id_col, vec_col=vec_col)
        .select("query_id", "neighbor_id")
        .persist()
    )
    own_centroids = centroids is None
    if own_centroids:
        centroids = _deterministic_pivots(
            embeddings.select(id_col, vec_col), n_pivots, id_col, (id_col, vec_col)
        ).persist()
    n_truth = truth.count()
    rows = []
    for nprobe in nprobes:
        n_found = (
            topk_ivf(
                embeddings,
                qs,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                n_pivots=n_pivots,
                nprobe=nprobe,
                centroids=centroids,
            )
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .count()
        )
        rows.append(
            (
                nprobe,
                n_queries,
                n_truth,
                n_found,
                (n_found / n_truth) if n_truth > 0 else 1.0,
            )
        )
    # eager counts -> every sweep cache is released before returning
    qs.unpersist()
    truth.unpersist()
    if own_centroids:
        centroids.unpersist()
    return embeddings.sparkSession.createDataFrame(
        rows,
        "nprobe long, n_queries long, n_truth long, n_found long, "
        "recall double",
    )


def topk_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_pivots: int = 256,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the two-level ANN composition (the FAISS
    ``IndexIVFPQ`` shape) — a coarse quantizer restricts each query
    to its ``nprobe`` nearest cells, and within those cells distances
    come from PRODUCT-QUANTIZED codes via asymmetric lookup tables,
    so the full vectors are touched exactly once (at encode time).

    Scale shape: corpus side is (id, cell, m-byte codes) — the index
    a 100 TB embedding table actually fits in; the probe is a
    bucket-equality join on ``cell`` (shuffle ∝ probed candidates,
    never n × m), and ADC scoring is m table lookups per candidate in
    one Arrow pass (tables: queries × m × n_codes, broadcast —
    model-sized). Probing EVERY cell degenerates to exactly
    ``topk_pq`` (pinned in pytest); recall then improves with nprobe
    like IVF and costs like PQ.

    Output: (query_id, neighbor_id, adist, rank) — rank ascending by
    ADC distance, ties to smaller id."""
    import numpy as np

    spark = embeddings.sparkSession
    embeddings = fan_out(embeddings)
    if centroids is None:
        centroids = _deterministic_pivots(
            embeddings.select(id_col, vec_col), n_pivots, id_col, (id_col, vec_col)
        )
    cells = assign_cells(embeddings, centroids, id_col, vec_col, nprobe=1)
    encoded = pq_encode(embeddings, codebooks, id_col, vec_col).join(
        # null-keys-impossible: id_col is the row identity
        cells.select(id_col, "cell"), on=id_col
    )
    qprobes = assign_cells(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        centroids,
        id_col="query_id",
        vec_col=vec_col,
        nprobe=nprobe,
    )
    cand = (
        encoded.join(F.broadcast(qprobes.select("query_id", "cell")), on="cell")
        .select("query_id", F.col(id_col).alias("neighbor_id"), "codes")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    qrows = queries.select(query_id_col, vec_col).collect()
    id_type = [
        f.dataType.simpleString() for f in embeddings.schema.fields if f.name == id_col
    ][0]
    qid_type = [
        f.dataType.simpleString()
        for f in queries.schema.fields
        if f.name == query_id_col
    ][0]
    out_schema = f"query_id {qid_type}, neighbor_id {id_type}, adist double"
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rank long")
    m, ncodes, sub = codebooks.shape
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    tables = np.empty((len(qrows), m, ncodes), dtype=np.float64)
    for i in range(m):
        B = Q[:, i * sub : (i + 1) * sub]
        tables[:, i, :] = ((B[:, None, :] - codebooks[i][None, :, :]) ** 2).sum(
            axis=2
        )
    qindex = {r[0]: i for i, r in enumerate(qrows)}
    bc = spark.sparkContext.broadcast((qindex, tables))

    def adc(iterator):
        import pandas as pd

        qidx_map, T = bc.value
        mm = T.shape[1]
        cols = np.arange(mm)[None, :]
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())
            qidx = pdf["query_id"].map(qidx_map).to_numpy(dtype=np.int64)
            d = T[qidx[:, None], cols, codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "adist": d,
                }
            )

    scored = cand.mapInPandas(adc, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def embedding_pca(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    whiten: bool = False,
    eps: float = 1e-9,
):
    """PCA / whitening of an embedding column with MODEL-SIZED driver
    state — the dimensionality-reduction front end of similarity
    search at scale (project 64-d → 8-d before ANN; whiten before
    SemDeDup-style cosine thresholds so no axis dominates). Reference
    scope: none (values are opaque bytes); [EXT] like the rest of the
    embedding family.

    Two-pass distributed shape, the classic d ≪ N decomposition:

    1. MOMENTS: one Arrow ``mapInPandas`` pass accumulates per input
       partition (n, Σx, XᵀX) — each partition yields ONE row with a
       d- and a d²-length array, so the driver collects ≤P rows
       (d=64 → 32 KiB each), never data. Covariance, then
       ``numpy.linalg.eigh`` on the d×d matrix driver-side — the same
       model-sized-state pattern as the k-means centroids and PQ
       codebooks (similarity.py IVF/PQ family).
    2. PROJECT: components broadcast in the kernel closure; one
       narrow Arrow pass computes (X − μ)·W — embarrassingly
       parallel, zero shuffles.

    Determinism: eigenvectors are sign-fixed (largest-|coefficient|
    entry made positive) so the projection is reproducible given the
    same covariance; the covariance itself is a float parallel sum —
    stable for a fixed partitioning but NOT bit-pinned across engines,
    which is why the gate is rows-only and the pytest compares against
    a full-batch numpy PCA with tolerances instead of hashes.

    Returns (projected_df, model): projected_df = (id, ``pca``
    array<double> length k); model = {"mean", "components" (d×k),
    "explained_var" (k), "n"} as plain Python lists/ints.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    src = df.select(
        F.col(id_col).alias("_pid"), F.col(vec_col).cast("array<double>").alias("_pv")
    ).where(F.col("_pv").isNotNull())
    base = src.localCheckpoint(eager=False)  # moments + projection both read it

    def moments(batches):
        import numpy as np
        import pandas as pd

        n, s, ss = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["_pv"].tolist(), dtype=np.float64)
            if s is None:
                s = X.sum(axis=0)
                ss = X.T @ X
            else:
                s += X.sum(axis=0)
                ss += X.T @ X
            n += len(X)
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    parts = base.mapInPandas(
        moments, "n long, s array<double>, ss array<double>"
    ).collect()
    if not parts:
        raise ValueError("embedding_pca: no non-null vectors")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.array(r["ss"]) for r in parts], axis=0)
    d = s.shape[0]
    if k > d:
        raise ValueError(f"k={k} exceeds dimension d={d}")
    mean = s / n
    cov = (ss.reshape(d, d) - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    lam = np.maximum(evals[order], 0.0)
    W = evecs[:, order]
    # sign convention: each component's largest-|coeff| entry positive
    flips = np.sign(W[np.abs(W).argmax(axis=0), np.arange(k)])
    flips[flips == 0] = 1.0
    W = W * flips
    if whiten:
        W = W / np.sqrt(lam + eps)
    W = np.ascontiguousarray(W)
    mu = mean.copy()

    def project(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["_pv"].tolist(), dtype=np.float64)
            P = (X - mu) @ W
            yield pd.DataFrame(
                {"_pid": pdf["_pid"], "pca": [row.tolist() for row in P]}
            )

    out = base.mapInPandas(
        project, f"_pid {df.schema[id_col].dataType.simpleString()}, pca array<double>"
    ).withColumnRenamed("_pid", id_col)
    model = {
        "mean": mean.tolist(),
        "components": W.tolist(),
        "explained_var": lam.tolist(),
        "trace": float(np.trace(cov)),
        "n": int(n),
    }
    return out, model
