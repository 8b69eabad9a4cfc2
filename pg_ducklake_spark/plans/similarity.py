"""Similarity search over the ``embeddings`` table (array<float>, d=64).

Brute-force cosine top-k is the exactness baseline; sign-LSH bucketing
is the scale path (candidates only within matching hyperplane-sign
buckets). Dot products are computed element-in-order with double
accumulation on both engines, so values match exactly.

Scale design: brute force is O(Q·N) — fine when the query set is small
and broadcastable (the classic "broadcast the queries, scan the corpus
once" pattern); the LSH variant turns it into an equi-join on bucket
signature, which survives N in the billions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pg_ducklake_spark.functions import sql_davg
from pg_ducklake_spark.functions.hashing import hyperplanes
from pg_ducklake_spark.plans import query, rebalance, t

_DIM = 64

# Element-ordered exact dot product, identical across engines. Spark
# folds with aggregate(zip_with(...)): a ~30-node tree that plans in ~1 ms.
# An unrolled 64-term sum is slower at both ends — 6.4 s vs 1.7 s on a
# 1M-pair sweep (200k × 64 corpus, 5 queries), because its generated
# method (per-element null + bounds checks) blows the JIT inlining
# budget, plus ~0.25 s of driver CPU per execution to generate it — and
# an 8-plane × 64-term CASE exceeds the JVM's 64 KB method limit. The
# fold is a left-associated double add over the oracle's element order
# from an exact 0.0 seed (0.0 + t0 == t0 in IEEE round-to-nearest), so
# the emitted doubles are bit-identical.


def _fold_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _duck_dot(a: str, b: str) -> str:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, _DIM + 1)
    )
    return f"({terms})"


def _duck_cosine(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)}) / (sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)}))"


@query(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'embedding')} AS cosine
      FROM queries, embeddings
      WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cosine
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rnk
    """,
)
def sim_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-10 neighbors for 5 query vectors, scored by the
    BLAS selection kernel (operators/similarity.cosine_topk_blas): one
    float64 GEMM per Arrow batch picks candidates, then only the
    k+margin survivors get the left-associated fold cosine that is
    bit-identical to the oracle — the SQL fold's per-pair scalar loop
    was 3.4× DuckDB's vectorizer at sf10; the GEMM closes that gap
    while the VALUES stay exact (r6, VERDICT item 6)."""
    from pg_ducklake_spark.operators.similarity import cosine_topk_blas

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_blas(emb, queries, k=10)
    return out.select(
        "q_id", F.col("rnk").cast("long").alias("rnk"), "neighbor_id", "cosine"
    ).orderBy("q_id", "rnk")


_PLANES = hyperplanes(8, _DIM)


def _spark_bucket(col: str) -> str:
    bits = []
    for j, plane in enumerate(_PLANES):
        arr = "array(" + ", ".join(f"CAST({c!r} AS DOUBLE)" for c in plane) + ")"
        dot = _fold_dot(col, arr)
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _duck_bucket(col: str) -> str:
    bits = []
    for j, plane in enumerate(_PLANES):
        terms = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({plane[i]!r} AS DOUBLE)"
            for i in range(_DIM)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


@query(
    "sim_lsh_bucket_topk",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
      FROM embeddings
    ),
    queries AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM bucketed
                WHERE vec_id < 20),
    scored AS (
      SELECT q_id, b.vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'b.embedding')} AS cosine
      FROM queries JOIN bucketed b USING (bucket)
      WHERE b.vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cosine
    FROM ranked WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
)
def sim_lsh_bucket_topk(spark, sf_dir):
    """Approximate NN: sign-LSH (8 hyperplanes → 256 buckets), top-5
    within the query's bucket. Candidate generation is an equi-join on
    the bucket id — the shape that scales to billions of vectors."""
    emb = rebalance(t(spark, sf_dir, "embeddings"))
    bucketed = emb.withColumn("bucket", F.expr(_spark_bucket("embedding"))).withColumn(
        "nrm", F.sqrt(F.expr(_fold_dot("embedding", "embedding")))
    )
    queries = bucketed.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    scored = (
        bucketed.join(F.broadcast(queries), "bucket")  # bcast-ok: query batch capped
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(_fold_dot("q_emb", "embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "rnk", "neighbor_id", "cosine")
        .coalesce(1).sortWithinPartitions("q_id", "rnk")
    )


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id >= 5 AND vec_id < 10
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'embedding')} AS cosine
      FROM queries, embeddings
      WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rnk
    """,
)
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN (k-means cells + nprobe search) — the trained-index scale
    path next to sign-LSH.

    Probing ALL k cells makes the search exhaustive, so the result
    provably equals exact cosine top-k INDEPENDENT of where k-means put
    the centroids — which is what lets a SQL oracle pin the whole
    train→assign→probe→score pipeline (a cell assignment that dropped
    or duplicated a vector would break equality). The pruned nprobe<k
    path's recall-vs-exact is asserted in tests/test_ivf.py."""
    from pg_ducklake_spark.operators.ivf import ivf_build, ivf_search

    emb = t(spark, sf_dir, "embeddings")
    index = ivf_build(spark, emb, k=8, seed=42)
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    return (
        ivf_search(index, queries, topk=10, nprobe=8)
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("q_id", "neighbor_id", "cosine", "rnk")
        .coalesce(1).sortWithinPartitions("q_id", "rnk")
    )


@query(
    "sim_embedding_near_dup",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, label, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
    FROM normed a JOIN normed b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) > 0.999
    ORDER BY vec_a, vec_b
    """,
)
def sim_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, blocked by label (the
    cheap pre-cluster key) so the pairwise check never goes quadratic
    over the whole corpus.

    Per-pair work is cut with two PROVABLY SOUND pruning layers (the
    oracle semantics — exact cosine > 0.999 within label — are
    untouched; both prunes only discard pairs that cannot qualify):

    1. Bucket equi-join: for unit vectors, cos > 0.999 implies
       ||u-v||² < 0.002, hence |u₀-v₀| ≤ √0.002 < 0.0448 — so a
       qualifying pair's dim-0 buckets (width 0.0448) differ by at
       most 1. Joining on (label, adjacent bucket) instead of label
       alone cuts the candidate set by the dim-0 spread (~10× here),
       BEFORE any per-pair math runs.
    2. Prefix distance filter in the join condition: any partial sum
       of the squared distance lower-bounds the whole, so pairs whose
       first 8 unit components accumulate > 0.00201 are discarded
       exactly (5e-6 slack vs ~1e-13 float noise).

    Survivors — a vanishing fraction — get the ORIGINAL full-width
    cosine expression, so emitted values stay bit-identical to the
    oracle (pinned by the planted-near-duplicate test)."""
    _W = 0.0448  # > sqrt(0.002): kept pairs differ by ≤ 1 bucket
    emb = t(spark, sf_dir, "embeddings")
    normed = emb.withColumn(
        "nrm", F.sqrt(F.expr(_fold_dot("embedding", "embedding")))
    ).withColumn(
        # unit-vector prefix, computed once per ROW (not per pair)
        "unit8",
        F.expr(
            "array("
            + ", ".join(
                f"CAST(embedding[{i}] AS DOUBLE) / nrm" for i in range(8)
            )
            + ")"
        ),
    ).withColumn("b0", F.floor(F.col("unit8")[0] / F.lit(_W)).cast("long"))
    # Candidates-then-hydrate: the pair join carries ONLY (id, label,
    # bucket, 8-component unit prefix) — never the 64-float vectors.
    # Dragging both embeddings through the multi-million-pair candidate
    # join was ~20 GB of shuffle payload at 20k vectors; the slim join
    # plus prefix filter leaves a shortlist, and the full vectors join
    # back for the exact cosine on survivors only (the same
    # floats-touch-the-shortlist layout as PQ re-ranking).
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("unit8").alias("u8_a"),
        # one side probes its own and both neighbor buckets, so each
        # qualifying pair matches the equi-key exactly once
        F.explode(
            F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1)
        ).alias("jb"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label"),
        F.col("unit8").alias("u8_b"),
        F.col("b0").alias("jb"),
    )
    partial_d2 = " + ".join(
        f"(u8_a[{i}] - u8_b[{i}]) * (u8_a[{i}] - u8_b[{i}])" for i in range(8)
    )
    # Predicate-pushdown fence: wrapped so the predicate REFERENCES the
    # nondeterministic _mid column — a bare deterministic conjunct gets
    # pushed into the JOIN CONDITION, where expressions cannot be split
    # into sub-methods and the stage falls out of whole-stage codegen
    # into interpreted per-pair evaluation. The when() branch is always
    # taken (_mid ≥ 0 by construction), so semantics are unchanged: the
    # join stays a pure (label, bucket) equi-join and the prefix filter
    # runs compiled right after it.
    def fenced(cond):
        return F.when(F.col("_mid") >= 0, cond).otherwise(F.lit(False))

    # The repartition is a deliberate STAGE BREAK, not a distribution
    # choice: without it the candidate filter and the 64-term hydrate
    # cosine fuse into one whole-stage-codegen method, which exceeds
    # the JVM method limit and silently falls back to interpreted
    # execution for the WHOLE fused stage — including the hot
    # million-pair filter (10× slower; the plan string still shows
    # codegen markers). The shuffle moves only the surviving shortlist
    # (a handful of id pairs), so its cost is nil at any scale.
    pairs = (
        a.join(b, ["label", "jb"])
        .withColumn("_mid", F.monotonically_increasing_id())
        .filter(
            fenced(
                (F.col("vec_a") < F.col("vec_b"))
                & F.expr(f"({partial_d2}) <= 0.00201")
            )
        )
        .select("vec_a", "vec_b")
        .repartition("vec_a")
    )
    ea = normed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cosine = F.expr(_fold_dot("emb_a", "emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    # The threshold filter needs its own fence: unfenced it is pushed
    # into the hydrate join's CONDITION, and whole-stage codegen —
    # which fuses the entire pair+hydrate pipeline into one stage here
    # — silently falls back to interpreted execution when the giant
    # inlined method fails to compile (the plan string still shows
    # codegen markers; only the runtime shows the 10× cost).
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("_mid2", F.monotonically_increasing_id())
        .withColumn("cosine", cosine)
        .filter(
            F.when(F.col("_mid2") >= 0, F.col("cosine") > 0.999).otherwise(
                F.lit(False)
            )
        )
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


@query(
    "sim_pq_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id >= 10 AND vec_id < 15
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'embedding')} AS score
      FROM queries, embeddings
      WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rnk
    """,
)
def sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN with exact re-rank (operators/pq.py) —
    the compressed-codes scale path: 64 floats → 8 one-byte codes, ADC
    lookup-table scoring, float vectors touched only for the shortlist.

    With a rerank budget covering the whole corpus, every candidate
    passes through the exact-cosine re-rank stage, so the final top-k
    provably equals exact cosine top-k INDEPENDENT of the trained
    codebooks — letting a SQL oracle pin the encode→ADC→shortlist→
    re-rank pipeline end to end (a code-gather or shortlist bug breaks
    equality). The pruned shortlist path's recall-vs-exact is asserted
    in tests/test_pq.py."""
    from pg_ducklake_spark.operators.pq import pq_encode, pq_search, pq_train

    emb = t(spark, sf_dir, "embeddings")
    index = pq_train(emb, m=8, k=256, seed=42)
    enc = pq_encode(index, emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return (
        pq_search(index, enc, queries, topk=10, rerank=1_000_000, corpus=emb)
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("q_id", "neighbor_id", "score", "rnk")
        .coalesce(1).sortWithinPartitions("q_id", "rnk")
    )



@query(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id >= 15 AND vec_id < 20
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'embedding')} AS score
      FROM queries, embeddings
      WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rnk
    """,
)
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN (operators/ivfpq.py) — FAISS's IndexIVFPQ
    layout: IVF cells prune WHICH vectors are scored, PQ codes prune
    WHAT is read to score them; probe cells are chosen driver-side (no
    Spark job), one mapInPandas pass ADC-scores only probed-cell rows,
    and the float vectors are touched only for the re-rank shortlist.

    Probing ALL cells with a corpus-covering re-rank budget makes the
    result provably equal to exact cosine top-k INDEPENDENT of both
    trained quantizers — the same oracle construction as sim_ivf_topk
    and sim_pq_topk, here pinning the COMPOSED assign→encode→probe→
    ADC→re-rank pipeline end to end. The pruned path's recall/probe
    trade is asserted in tests/test_ivfpq.py."""
    from pg_ducklake_spark.operators.ivfpq import ivfpq_build, ivfpq_search

    emb = t(spark, sf_dir, "embeddings")
    index = ivfpq_build(spark, emb, n_cells=8, m=8, k=256, seed=42)
    queries = emb.filter((F.col("vec_id") >= 15) & (F.col("vec_id") < 20))
    return (
        ivfpq_search(
            index, queries, topk=10, nprobe=8, rerank=1_000_000, corpus=emb
        )
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("q_id", "neighbor_id", "score", "rnk")
        .coalesce(1).sortWithinPartitions("q_id", "rnk")
    )


# --------------------------------------------------- codebook mixture

# Fixed seeded codebook (8 cells x 64 dims, components k/64 — exact
# doubles whose repr round-trips identically through both engines'
# literal parsers). A FIXED codebook — unlike trained k-means cells —
# makes the whole assignment SQL-expressible, so the oracle pins the
# argmax itself, not just an assignment-independent invariant.
_CODEBOOK = hyperplanes(8, _DIM, seed=13)
# Python computes each norm with the same left-associated double adds
# the engines would; embedding repr(norm) as a literal parses back to
# the identical double, saving 8 symbolic sqrt(sum) evaluations per row.
_CODE_NORMS = []
for _c in _CODEBOOK:
    _acc = 0.0
    for _x in _c:
        _acc += _x * _x
    _CODE_NORMS.append(_acc**0.5)


def _duck_cell_sims(col: str) -> list[str]:
    sims = []
    for j, c in enumerate(_CODEBOOK):
        terms = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * CAST({c[i]!r} AS DOUBLE)"
            for i in range(_DIM)
        )
        sims.append(f"(({terms}) / (nrm * CAST({_CODE_NORMS[j]!r} AS DOUBLE)))")
    return sims


@query(
    "sim_codebook_mix",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id, label, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    simmed AS (
      SELECT vec_id, label,
             {", ".join(f"{s} AS s{j}" for j, s in
                        (lambda ss: list(enumerate(ss)))(_duck_cell_sims('embedding')))}
      FROM normed
    ),
    assigned AS (
      SELECT vec_id, label,
             greatest(s0, s1, s2, s3, s4, s5, s6, s7) AS best_sim,
             CASE {" ".join(f"WHEN s{j} >= greatest(s0, s1, s2, s3, s4, s5, s6, s7) THEN {j}"
                            for j in range(8))} END AS cell
      FROM simmed
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
           {sql_davg('best_sim')} AS avg_cos,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM assigned
    GROUP BY cell
    ORDER BY cell
    """,
)
def sim_codebook_mix(spark, sf_dir):
    """Corpus diversity mixture against a fixed seeded codebook: every
    embedding is assigned to its max-cosine codebook cell and the query
    reports the per-cell population, label diversity, and mean
    assignment cosine — the cluster-balance report a training-data
    pipeline runs before choosing mixture weights.

    Scale shape: the codebook is a compile-time literal (k x dim), so
    assignment is pure map-side work inside one scan — no broadcast, no
    shuffle until the 8-group aggregate (map-side combined). At 100 TB
    this is a single pass; the trained-centroid variant of the same
    layout is operators/ivf.ivf_build (broadcast centroids), whose
    assignment invariant is oracle-pinned by sim_ivf_topk. avg_cos uses
    the exact fixed-point mean (functions/exact.py) so the value is
    summation-order-independent.

    r7 kernel: the per-row k×dim scoring runs as an Arrow-batched
    mapInPandas with SEQUENTIAL per-dimension accumulation
    (``acc = acc + emb[:, i] * code[i]`` — one IEEE multiply + one add
    per element per step, the exact rounding sequence of the SQL
    left-fold and of DuckDB's flat ``t1 + t2 + …`` sum), so the result
    stays bit-identical to the oracle while the interpreted
    HOF-expression ladder (8 cells × 64 dims of lambda evaluation per
    row — measured 2.5 s at 200k rows) drops to vectorized numpy
    (~0.5 s). Same trade as the BLAS brute-force kernel, minus BLAS:
    GEMM's pairwise summation would NOT match the fold, sequential
    accumulation does."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from pg_ducklake_spark.functions import davg

    emb = rebalance(t(spark, sf_dir, "embeddings"))
    code = np.array(_CODEBOOK, dtype=np.float64)  # (k, dim)
    norms = np.array(_CODE_NORMS, dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("label", emb.schema["label"].dataType),
            T.StructField("cell", T.LongType()),
            T.StructField("best_sim", T.DoubleType()),
        ]
    )

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # float32 -> float64 widening is exact (= CAST(x AS DOUBLE))
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float32
                           ).astype(np.float64)
            n = mat.shape[0]
            sims = np.empty((code.shape[0], n), dtype=np.float64)
            nrm = np.zeros(n, dtype=np.float64)
            for i in range(mat.shape[1]):  # exact left-fold |x|^2
                nrm = nrm + mat[:, i] * mat[:, i]
            nrm = np.sqrt(nrm)
            for j in range(code.shape[0]):
                acc = np.zeros(n, dtype=np.float64)
                for i in range(mat.shape[1]):  # exact left-fold dot
                    acc = acc + mat[:, i] * code[j, i]
                sims[j] = acc / (nrm * norms[j])
            # first max along cells = smallest cell on ties (the
            # struct(sim, negcell) array_max rule)
            cell = np.argmax(sims, axis=0)
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    "cell": cell.astype("int64"),
                    "best_sim": sims[cell, np.arange(n)],
                }
            )

    assigned = emb.select("label", "embedding").mapInPandas(
        assign_batches, out_schema
    )
    total = Window.partitionBy()
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
            davg("best_sim").alias("avg_cos"),
        )
        .withColumn(
            "share",
            F.round(F.col("n_vecs").cast("double") / F.sum("n_vecs").over(total), 6),
        )
        .orderBy("cell")
    )


@query(
    "sim_sq8_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id >= 20 AND vec_id < 25
    ),
    scored AS (
      SELECT q_id, vec_id AS neighbor_id,
             {_duck_cosine('q_emb', 'embedding')} AS score
      FROM queries, embeddings
      WHERE vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, neighbor_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rnk
    """,
)
def sim_sq8_topk(spark, sf_dir):
    """Scalar-quantization ANN with exact re-rank (operators/sq8.py) —
    the uniform-grid scale path: 64 floats → 64 bytes, per-query GEMM
    scoring over the codes, float vectors touched only for the
    shortlist. Unlike PQ there are no trained codebooks: the quantizer
    is per-dimension (min, scale) computed exactly with one distributed
    aggregate.

    With a rerank budget covering the whole corpus, every candidate
    passes through the exact-cosine re-rank, so the final top-k
    provably equals exact cosine top-k INDEPENDENT of the grid — the
    SQL oracle pins the train→encode→GEMM→shortlist→re-rank pipeline
    end to end. The pruned path's recall is asserted in
    tests/test_sq8.py."""
    from pg_ducklake_spark.operators.sq8 import sq8_encode, sq8_search, sq8_train

    emb = t(spark, sf_dir, "embeddings")
    index = sq8_train(emb)
    enc = sq8_encode(index, emb)
    queries = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 25))
    return (
        sq8_search(index, enc, queries, topk=10, rerank=1_000_000, corpus=emb)
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("q_id", "neighbor_id", "score", "rnk")
        .coalesce(1).sortWithinPartitions("q_id", "rnk")
    )
