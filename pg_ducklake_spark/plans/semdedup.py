"""Semantic deduplication (SemDeDup) and a hashed linear quality model.

Two training-data-curation operators that extend the dedup / text
families beyond the reference's SQL surface (the reference has no
vector or classifier ops at all — docs/README.md scopes it to
lakehouse SQL; these are the north-star pipeline stages BASELINE.json
asks for):

* ``dedup_semantic_prune`` — SemDeDup (Abbas et al., 2023,
  arXiv:2303.09540): cluster the corpus, then deduplicate ONLY within
  a cluster, where near-duplicates concentrate. The quadratic pairwise
  term is bounded by the largest cluster, not the corpus: at 100 TB
  you grow k with N (the paper used 50k clusters for LAION) so the
  per-cluster population — and therefore per-task pair work after the
  single cell-keyed shuffle — stays constant.

* ``text_quality_classifier`` — a fastText-shaped linear document
  scorer (hashed unigram + bigram features, integer weights) computed
  entirely map-side: no explode, no per-token shuffle. The only
  exchange is the final per-source rollup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_ducklake_spark.functions.hashing import hyperplanes, sql_h32
from pg_ducklake_spark.plans import query, rebalance, t
from pg_ducklake_spark.plans.similarity import _DIM, _duck_dot, _fold_dot

# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped near-duplicate pruning
# ---------------------------------------------------------------------------

# Seeded literal centroids (k x dim), same exact-in-binary rational
# components as the sign-LSH planes / the sim_codebook_mix codebook —
# literal round-trips through SQL text parse to identical doubles on
# both engines. 32 cells ≈ sqrt(N) at the test scale; production would
# use trained centroids (operators/ivf.ivf_build) at k ∝ N.
_SEM_K = 32
_SEM_CODEBOOK = hyperplanes(_SEM_K, _DIM, seed=29)
_SEM_NORMS = []
for _c in _SEM_CODEBOOK:
    _acc = 0.0
    for _x in _c:
        _acc += _x * _x
    _SEM_NORMS.append(_acc**0.5)

# Cosine threshold above which the lower-id document wins and the
# higher-id one is pruned. The synthetic embeddings are near-isotropic
# (no planted global dups at test SF), so a moderate τ is what produces
# a meaningful per-cell report; τ is the operator's tuning knob.
_SEM_TAU = 0.35


def _spark_sem_cell() -> str:
    """Map-side argmax-cosine cell assignment: array_max over
    (sim, -cell) structs — max cosine, ties to the smallest cell."""
    entries = []
    for j, c in enumerate(_SEM_CODEBOOK):
        arr = "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"
        dot = _fold_dot("embedding", arr)
        sim = f"(({dot}) / (nrm * CAST({_SEM_NORMS[j]!r} AS DOUBLE)))"
        entries.append(f"struct({sim} AS sim, CAST({-j} AS BIGINT) AS negcell)")
    return f"array_max(array({', '.join(entries)}))"


def _duck_sem_sims() -> list[str]:
    sims = []
    for j, c in enumerate(_SEM_CODEBOOK):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST({c[i]!r} AS DOUBLE)"
            for i in range(_DIM)
        )
        sims.append(f"(({terms}) / (nrm * CAST({_SEM_NORMS[j]!r} AS DOUBLE)))")
    return sims


_DUCK_UNIT_DOT = " + ".join(f"a.unit[{i}] * b.unit[{i}]" for i in range(1, _DIM + 1))

_SEM_SIMS = _duck_sem_sims()
_SEM_GREATEST = "greatest(" + ", ".join(f"s{j}" for j in range(_SEM_K)) + ")"


# GEMM candidate margin: worst-case float64 reordering error of a
# 64-term unit-vector dot is ~1e-12; 1e-9 is three orders safer. The
# margin only widens the CANDIDATE set — the exact fold decides.
_SEM_EPS = 1e-9
_SEM_BLOCK = 512  # GEMM row block: slab ≤ 512 × |cell| doubles


def _sem_cell_dropped(pdf):
    """One cell's dropped-id count via blocked GEMM with a
    certain/ambiguous band around τ.

    A GEMM score differs from the engines' exact element-order fold by
    at most ~1e-12 (64-term float64 dot), so scores above τ + eps are
    CERTAINLY above τ and scores at or below τ − eps certainly not —
    those decide by a column-wise ``any`` on the boolean slab, with no
    per-pair index materialization at all. Only pairs INSIDE the
    (τ−eps, τ+eps] band — in practice a handful, often none — are
    re-verified by the exact vectorized left fold (identical rounding
    sequence to Spark's/DuckDB's aggregate fold), so the deciding
    comparison stays bit-exact. The first kernel cut (r10) refolded
    EVERY pair above τ − eps; on clustered data most within-cell pairs
    clear τ, so that materialized gather temporaries for ~10^9
    candidate pairs and ran 13 minutes at sf10 — the banded version
    runs the same cell population in seconds. Returns
    (cell, n_dropped)."""
    import numpy as np
    import pandas as pd

    cell = int(pdf["cell"].iloc[0])
    n = len(pdf)
    if n < 2:
        return pd.DataFrame({"cell": [cell], "n_vecs": [n], "n_dropped": [0]})
    order = np.argsort(pdf["vec_id"].values, kind="stable")
    units = pdf["unit"].values[order]
    u = np.stack([np.asarray(v, dtype=np.float64) for v in units])
    dropped = np.zeros(n, dtype=bool)
    lo, hi = _SEM_TAU - _SEM_EPS, _SEM_TAU + _SEM_EPS
    cols = np.arange(n)[None, :]
    for s in range(0, n, _SEM_BLOCK):
        e = min(s + _SEM_BLOCK, n)
        scores = u[s:e] @ u.T  # (e-s) x n slab
        # id_a < id_b via the vec_id sort: column j only pairs with
        # rows strictly above it
        valid = cols > np.arange(s, e)[:, None]
        certain = valid & (scores > hi)
        dropped |= certain.any(axis=0)
        band = valid & (scores > lo) & (scores <= hi)
        if band.any():
            ia, ib = np.nonzero(band)
            ia = ia + s
            a, b = u[ia], u[ib]
            acc = np.zeros(ia.size, dtype=np.float64)
            for k in range(u.shape[1]):  # exact left fold, element order
                acc = acc + a[:, k] * b[:, k]
            dropped[ib[acc > _SEM_TAU]] = True
    return pd.DataFrame(
        {"cell": [cell], "n_vecs": [n], "n_dropped": [int(dropped.sum())]}
    )


@query(
    "dedup_semantic_prune",
    oracle=f"""
    WITH normed AS (
      SELECT vec_id,
             greatest(sqrt({_duck_dot('embedding', 'embedding')}), 1e-300) AS nrm,
             embedding
      FROM embeddings
    ),
    simmed AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS unit,
             {", ".join(f"{s} AS s{j}" for j, s in enumerate(_SEM_SIMS))}
      FROM normed
    ),
    assigned AS (
      SELECT vec_id, unit,
             CASE {" ".join(f"WHEN s{j} >= {_SEM_GREATEST} THEN {j}"
                            for j in range(_SEM_K))} END AS cell
      FROM simmed
    ),
    dropped AS (
      SELECT DISTINCT b.cell AS cell, b.vec_id AS vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ({_DUCK_UNIT_DOT}) > {_SEM_TAU!r}
    )
    SELECT CAST(t.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COALESCE(d.n_dropped, 0) AS BIGINT) AS n_kept,
           ROUND(CAST(COALESCE(d.n_dropped, 0) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS drop_rate
    FROM assigned t
    LEFT JOIN (SELECT cell, COUNT(*) AS n_dropped FROM dropped GROUP BY cell) d
      ON t.cell = d.cell
    GROUP BY t.cell, d.n_dropped
    ORDER BY cell
    """,
)
def dedup_semantic_prune(spark, sf_dir):
    """SemDeDup: cluster-scoped semantic near-duplicate pruning report.

    Every embedding is assigned map-side to its max-cosine cell of a
    literal k=32 codebook (zero shuffle — same layout as
    sim_codebook_mix; a production run swaps in trained IVF centroids
    via broadcast, operators/ivf.py). Within each cell — and ONLY
    within a cell — pairs above cosine τ mark the higher-id member as
    dropped (the deterministic keep-lowest-id greedy; swap in a
    quality rank as the order key to keep the best copy instead). The
    report is the per-cell population / dropped / kept breakdown a
    curation pipeline reviews before committing the prune.

    Scale shape: ONE shuffle keyed on cell (the applyInPandas group
    exchange); pair work is quadratic only in cluster population,
    which the operator bounds by growing k with N (SemDeDup's own
    recipe — 50k clusters at LAION scale), so each task does constant
    work. Within a cell the pair dots run as a BLOCKED float64 GEMM
    (the house BLAS-kernel pattern, same as operators/similarity.py):
    r10 replaced the SQL self-join whose per-pair aggregate-fold ran
    in Spark's interpreted lambda evaluator — at sf10 that was ~600M
    interpreted 64-term folds, minutes of CPU (and, before the r10
    broadcast-hint fix, a hard broadcastTimeout failure); the GEMM
    does the identical arithmetic volume inside BLAS. Row blocks cap
    the score-matrix slab at ~block×|cell| doubles regardless of cell
    population, so executor memory is bounded by the block size, not
    the data.

    Cross-engine exactness (two-phase): GEMM accumulation order is
    BLAS-internal, so the GEMM alone could flip a pair sitting within
    float rounding of τ. It therefore only GATES candidates, with an
    epsilon margin (τ − 1e-9; the worst-case 64-term float64 dot
    reordering error is ~1e-12 — three orders safer); every candidate
    is then RE-VERIFIED by the exact element-order left fold,
    vectorized across pairs (one acc += A[:,i]·B[:,i] sweep per
    dimension — each pair sees the identical rounding sequence as
    Spark's/DuckDB's aggregate fold, so the τ comparison stays exact
    with no epsilon in the DECIDING test). Unit components are
    embedding[i]/nrm with nrm the left-associated double norm —
    bit-identical on both engines."""
    emb = rebalance(t(spark, sf_dir, "embeddings"))
    # greatest(..., 1e-300): a zero vector divides by the tiny constant
    # instead of 0, giving unit = zeros / sims = 0 on BOTH engines
    # (DuckDB returns NULL for 0/0, Spark NaN — this guard removes the
    # divergence; the constant is far below any real norm so nonzero
    # vectors are bit-unchanged).
    normed = emb.withColumn(
        "nrm",
        F.greatest(
            F.sqrt(F.expr(_fold_dot("embedding", "embedding"))),
            F.lit(1e-300),
        ),
    )
    best = F.expr(_spark_sem_cell())
    assigned = normed.select(
        "vec_id",
        (-best["negcell"]).cast("long").alias("cell"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").alias("unit"),
    )
    # r12 (guide §1.2/§2.4): the kernel already holds the whole cell's
    # rows, so it returns the population alongside the drop count. The
    # previous shape computed totals as a SECOND aggregate over
    # `assigned` — re-running the scan and the interpreted 32-fold
    # cell-assignment expression end to end — then merged the two
    # ≤k-row sides with a join. One pass now feeds one exchange; the
    # totals recompute and the report join are gone. (The r10 lesson
    # stands: no broadcast hint anywhere near the kernel subtree — its
    # input is the quadratic cell work and must never sit under a
    # broadcastTimeout deadline.)
    report = assigned.groupBy("cell").applyInPandas(
        _sem_cell_dropped, "cell long, n_vecs long, n_dropped long"
    )
    return (
        report.select(
            "cell",
            "n_vecs",
            F.col("n_dropped").cast("long").alias("n_dropped"),
            (F.col("n_vecs") - F.col("n_dropped")).cast("long").alias("n_kept"),
            F.round(
                F.col("n_dropped").cast("double") / F.col("n_vecs").cast("double"),
                6,
            ).alias("drop_rate"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-shaped)
# ---------------------------------------------------------------------------

# Integer weight for a hashed feature: h32(feature) % 2001 - 1000, an
# exact BIGINT in [-1000, 1000] on both engines. A real deployment
# replaces this derivation with a broadcast lookup of trained weights;
# the plan shape (map-side fold, one rollup shuffle) is identical.
_W_SPARK = "(CAST(conv(substr(md5({f}), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000)"


def _w_duck(f: str) -> str:
    return f"({sql_h32(f)} % 2001 - 1000)"


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS ts
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_sum(list_transform(ts,
                      tk -> {_w_duck('tk')})), 0) AS BIGINT)
             + CAST(COALESCE(list_sum(list_transform(range(1, len(ts)),
                      i -> {_w_duck("(ts[i] || '_' || ts[i + 1])")})), 0) AS BIGINT)
               AS score
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (score > 0) AS BIGINT) AS n_keep,
           ROUND(CAST(COUNT(*) FILTER (score > 0) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate,
           ROUND(CAST(SUM(score) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_score
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def text_quality_classifier(spark, sf_dir):
    """fastText-shaped linear quality filter: per-source keep report.

    Each document's score is the integer sum of hashed unigram and
    word-bigram feature weights (the hashing trick — feature id =
    md5-derived h32, weight = h32 % 2001 - 1000); keep = score > 0.
    The report is the per-source document count, keep count, keep
    rate, and mean score — the accept/reject audit a quality filter
    emits before a training mix is frozen.

    Scale shape: the entire score is ONE map-side expression — the
    token array never explodes, features fold per row inside
    whole-stage codegen, and the only exchange is the per-source
    rollup (map-side combined). At 100 TB this reads the corpus once
    and shuffles a handful of rows. Integer weights make every doc
    score exact, so the keep/drop split is engine-independent; the two
    float outputs divide exact BIGINTs and round to 6 dp.

    Bigrams pair adjacent positions via zip_with over the two
    shifted slices (empty when a doc has < 2 tokens, matching the
    oracle's empty range())."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    uni = (
        "aggregate(transform(ts, tk -> " + _W_SPARK.format(f="tk") + "), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    bi_feats = (
        "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), "
        "(x, y) -> concat(x, '_', y))"
    )
    bi = (
        f"aggregate(transform({bi_feats}, tk -> " + _W_SPARK.format(f="tk") + "), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = docs.select(
        "source", F.split(F.lower("text"), " ").alias("ts")
    ).select("source", (F.expr(uni) + F.expr(bi)).alias("score"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("score") > 0).cast("long").alias("n_keep"),
            F.sum("score").alias("_sum_score"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.round(
                F.col("n_keep").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("keep_rate"),
            F.round(
                F.col("_sum_score").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("avg_score"),
        )
        .orderBy("source")
    )
