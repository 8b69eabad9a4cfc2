"""Deduplication operators over the ``documents`` table.

The LLM-training-pipeline surface: exact dedup, n-gram Jaccard near-dup,
MinHash+LSH, and SimHash — each Spark-first and paired with a DuckDB
oracle built from the same md5-derived hash arithmetic
(functions/hashing.py) so values match bit-for-bit.

Scale design (100 TB of documents):
- exact dedup = hash-groupBy (one shuffle on the digest);
- shingle/Jaccard and MinHash avoid the O(n²) cross join by joining on
  shingles / LSH band buckets — candidate generation is an equi-join,
  verification touches only candidate pairs;
- SimHash bands the 32-bit signature into 4 bytes so near-pairs
  (hamming ≤ 3) are found by 4 equi-joins, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_ducklake_spark.functions.hashing import (
    MERSENNE31,
    h32,
    minhash_coeffs,
    minhash_col,
    sql_h32,
    sql_minhash,
)
from pg_ducklake_spark.plans import query, rebalance, scoped_persist, t

# ---------------------------------------------------------------- exact


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT digest,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM (SELECT doc_id, md5(text) AS digest FROM documents) d
    GROUP BY digest
    HAVING COUNT(*) > 1
    ORDER BY n_copies DESC, keeper_doc_id ASC
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact duplicate groups by content digest.

    Two-phase plan: (1) group on a 128-bit engine-native key — a pair
    of seeded xxhash64s, ~2.4x cheaper per row than md5 (measured at
    5M rows: 0.64 s vs 1.50 s) and collision-safe past billions of
    rows (birthday bound of 128 bits) — then (2) compute the md5
    digest ONLY for the surviving keeper rows via a broadcast
    join-back (duplicate groups are rare, so the md5 volume drops from
    |corpus| to |groups|). Every group member shares the keeper's text
    by definition of exact duplication, so the keeper's md5 IS the
    group digest and values match the oracle exactly. Measured
    end-to-end at 5M rows: 0.84 s vs the one-pass md5 plan's 1.33 s."""
    docs = t(spark, sf_dir, "documents")
    groups = (
        docs.select(
            F.xxhash64("text").alias("h1"),
            F.xxhash64("text", F.lit(1)).alias("h2"),
            "doc_id",
        )
        .groupBy("h1", "h2")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
        .select("n_copies", "keeper_doc_id")
    )
    groups = scoped_persist(groups, "dedup_exact_groups")
    # Duplicate-group count is data-dependent, so the broadcast is
    # GUARDED by an actual row count (16 bytes/row → ≤ ~16 MB at the
    # 1M cap) instead of forced blind: below the cap the join-back is a
    # broadcast against one unshuffled scan (measured 1.05 s vs the
    # AQE-converted path's 1.34 s at 5M rows — AQE still shuffle-writes
    # the corpus side before its local read); above it, a plain
    # shuffle join that cannot OOM executors. The count reuses the
    # persisted aggregate, so the guard costs one bounded action.
    small = groups.count() <= 1_000_000
    return (
        docs.join(
            F.broadcast(groups) if small else groups,  # bcast-ok: row-count-guarded (<=1M groups)
            docs.doc_id == groups.keeper_doc_id,
        )
        .select(
            F.md5("text").alias("digest"),
            "n_copies",
            "keeper_doc_id",
        )
        .orderBy(F.desc("n_copies"), F.asc("keeper_doc_id"))
    )


# Substring-span dedup window length (chars of the single-space-joined
# token stream). L=50 follows the "repeated >= 50-unit span" convention
# of substring-level training-data dedup. Windows are anchored at TOKEN
# STARTS, not at a fixed stride: a per-document stride grid only
# matches when two documents happen to share the span at
# stride-congruent offsets, whereas token boundaries travel with the
# shared content itself, so anchor positions inside a shared span
# coincide in every document that contains it (content-defined
# selection, same idea as winnowing). Any shared token run whose joined
# length reaches L + max_token_len + 1 contains a fully-shared anchored
# window and is guaranteed caught. Each window is rebuilt from a
# bounded token slice (_SPAN_W tokens cover >= L chars even for 1-char
# tokens: W + (W-1) >= L) rather than cut from the raw string —
# char-positional substring is an O(position) UTF-8 scan on both
# engines, which made the raw-window formulation quadratic per
# document (measured 2.4x slower at sf10 on 350-char docs; far worse
# on longer ones).
_SPAN_L = 50
_SPAN_W = 26
# The oracle builds each window from a bounded _SPAN_W-token slice and
# keeps it iff it reaches _SPAN_L chars; the Spark kernel slices
# _SPAN_L chars straight off the full joined suffix. These agree iff
# _SPAN_W tokens always join to >= _SPAN_L chars when W tokens exist
# (min join = W 1-char tokens + W-1 spaces = 2W-1); for shorter tails
# the suffix IS the join on both sides. Anyone retuning L must retune
# W with it — this is the equivalence proof, enforced:
assert 2 * _SPAN_W - 1 >= _SPAN_L


def _spans_kernel(batches):
    """Arrow-batched window fingerprinter: per document, join the
    non-empty tokens once, walk the token-start offsets as a running
    prefix sum (never a re-join per anchor and never an O(position)
    re-scan), slice each L-char window off the joined string, dedup
    within the document (a span repeated inside one doc counts once —
    COUNT(DISTINCT doc_id) semantics, folded here so the aggregate
    downstream is a plain count), and emit its md5 hex. Python slicing
    and ``len`` are code-point-based, exactly like Spark's
    substring/length and DuckDB's — the unicode fuzz fixtures hold."""
    import hashlib

    import pandas as pd

    for pdf in batches:
        ids: list[int] = []
        digests: list[str] = []
        for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
            toks = [tk for tk in txt.split(" ") if tk]
            if not toks:
                continue  # all-whitespace text (>= L chars but 0 tokens)
            joined = " ".join(toks)
            n = len(joined)
            seen: set[str] = set()
            pos = 0
            for tk in toks:
                if pos + _SPAN_L <= n:
                    w = joined[pos : pos + _SPAN_L]
                    if w not in seen:
                        seen.add(w)
                        ids.append(did)
                        digests.append(hashlib.md5(w.encode()).hexdigest())
                pos += len(tk) + 1
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "span_md5": pd.Series(digests, dtype="object"),
            }
        )


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, md5(s) AS span_md5
      FROM (
        SELECT doc_id,
               unnest(list_filter(
                 list_transform(range(1, len(toks) + 1),
                   i -> substring(array_to_string(
                          toks[CAST(i AS INTEGER):CAST(i AS INTEGER)
                               + {_SPAN_W - 1}], ' '), 1, {_SPAN_L})),
                 s -> len(s) = {_SPAN_L})) AS s
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS toks
              FROM documents WHERE len(text) >= {_SPAN_L}) tk
      )
    )
    SELECT span_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM spans
    GROUP BY span_md5
    HAVING COUNT(DISTINCT doc_id) > 1
    ORDER BY n_docs DESC, first_doc ASC, span_md5 ASC
    LIMIT 20
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Cross-document repeated substring spans — the substring-level
    exact dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", which operates on token streams): every
    L=50-char window of the single-space-normalized token stream,
    anchored at a token start, is fingerprinted, and spans appearing in
    more than one document are surfaced (top 20 by document count).

    Complements ``dedup_substring_windows`` (plans/dedup2.py), which
    emits the DOC-PAIR graph (who overlaps whom, for linking/removal
    decisions); this query emits the SPAN inventory (which concrete
    spans are duplicated and how widely — the strip-list a
    boilerplate/contamination pass consumes), char-windowed over the
    token stream so it also catches overlap that fixed token-window
    hashing splits differently.

    Scale shape (100 TB): window construction runs in an Arrow-batched
    mapInPandas kernel — LINEAR per document (one token join, then a
    running prefix-sum slice per anchor; never a per-anchor array
    re-join and never an O(position) substring re-scan). The r10 kernel
    study (SCALEBENCH spans_kernel) measured the pure-expression
    formulation (slice + array_join inside transform/filter lambdas) at
    ~2.3× the kernel: Spark evaluates higher-order-function lambdas in
    interpreted mode per element, so md5 + the 26-token re-join per
    anchor never reach codegen — the same workload in a Python loop
    over the joined string is faster even paying every text byte across
    the Arrow boundary once (the opposite verdict from the exact-dedup
    study's Arrow lane, where the JVM side IS codegen'd). Spans are
    deduped inside the document by the kernel, so (span, doc) rows are
    unique by construction and the aggregate is a map-side-combined
    plain count — no distinct expand. The shuffle carries ~|tokens|
    digest rows; the final top-20 is TakeOrderedAndProject under a
    total order (n_docs DESC, first_doc ASC, digest ASC), so the LIMIT
    is deterministic and oracle-exact."""
    docs = t(spark, sf_dir, "documents")
    # r12 (guide §2.6/§4): a single-row-group file scans as ONE task,
    # so the whole window-fingerprint kernel (~|tokens| md5 calls) ran
    # on one core while the rest idled — measured as the entire
    # steady-state cost of this query at sf0.1 (1 job, scan stage of 1
    # task, ~0.9 s). rebalance() round-robins the raw doc rows across
    # the cluster first (and skips itself when the scan is already
    # parallel, the production case).
    spans = (
        rebalance(
            docs.filter(F.length("text") >= _SPAN_L).select("doc_id", "text"),
            src=docs,
        )
        .mapInPandas(
            _spans_kernel,
            "doc_id long, span_md5 string",
        )
    )
    return (
        spans.groupBy("span_md5")
        .agg(
            # (span_md5, doc_id) unique by kernel construction — a plain
            # count IS the distinct-doc count, no two-phase expand
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.asc("first_doc"), F.asc("span_md5"))
        .limit(20)
    )


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS unique_docs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS removable
    FROM documents
    """,
)
def dedup_exact_stats(spark, sf_dir):
    # Distinct-count over a 128-bit pair of seeded xxhash64s: the same
    # cardinality as COUNT(DISTINCT md5(text)) — both equal the number
    # of distinct texts (128 bits ≈ collision-free past billions of
    # rows) — at ~2.4x less per-row hash cost than md5 (measured at 5M
    # rows). The oracle keeps md5; the VALUES agree because the metric
    # is distinct-text cardinality, not the digest itself.
    docs = t(spark, sf_dir, "documents")
    key = F.struct(F.xxhash64("text"), F.xxhash64("text", F.lit(1)))
    return docs.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(key).alias("unique_docs"),
        (F.count(F.lit(1)) - F.countDistinct(key)).alias("removable"),
    )


# ------------------------------------------------------- shingle helpers

# NB: the ELSE branch must be a *typed* empty array — a bare array() is
# ARRAY<NULL> and the resulting coercion of the THEN branch knocks the
# whole expression out of whole-stage codegen (~5x slower).
_SPARK_SHINGLES = """
CASE WHEN size(toks) >= 3 THEN
  array_distinct(transform(
    sequence(1, size(toks) - 2),
    i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                   element_at(toks, i + 2))))
ELSE CAST(array() AS ARRAY<STRING>) END
"""

_DUCK_SHINGLES = """
list_distinct(list_transform(
  range(1, greatest(len(toks) - 1, 1)),
  i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))
"""
# DuckDB range(1, n) is [1, n) and lists are 1-indexed; with n = len-1 the
# last trigram starts at len-2, matching Spark's sequence(1, len-2).

_SPARK_TOKS = "split(lower(text), ' ')"
_DUCK_TOKS = "string_split(lower(text), ' ')"


def _spark_shingled(docs):
    # rebalance: tokenize+shingle is the expensive fused chain — spread
    # the raw doc rows across cores before it, not after.
    return rebalance(docs.select("doc_id", "text"), src=docs).select(
        "doc_id",
        F.expr(_SPARK_TOKS).alias("toks"),
    ).select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))


_DUCK_SHINGLED = f"""
    SELECT doc_id, {_DUCK_SHINGLES.strip()} AS shingles
    FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents) tk
"""


# ------------------------------------------------------ n-gram Jaccard


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS ({_DUCK_SHINGLED}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),
    sizes AS (
      SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles FROM shingled
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE)
             / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) AS jaccard
    FROM pair_inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE)
          / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Word-trigram Jaccard near-duplicate pairs (threshold 0.6), from
    the library operator (operators/dedup.jaccard_pairs).

    Candidate pairs come from grouped shingle posting lists (one
    shingle-keyed shuffle, never a cross join); at 100 TB you'd
    pre-filter hot shingles (stopword trigrams) — the posting-list
    length distribution is the scale knob.
    """
    from pg_ducklake_spark.operators.dedup import jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    # rebalance before the operator's tokenize+shingle chain (see
    # _spark_shingled).
    pairs = jaccard_pairs(
        rebalance(docs.select("doc_id", "text"), src=docs), "text", "doc_id", 0.6
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------- MinHash+LSH

_K = 16  # signature length
_BANDS = 4  # 4 bands × 4 rows
_ROWS = _K // _BANDS
_COEFFS = minhash_coeffs(_K)


def _duck_minhash_sig_sql() -> str:
    """DuckDB: per-doc minhash signature columns mh0..mh15."""
    h = sql_h32("shingle")
    mins = ",\n           ".join(
        f"MIN({sql_minhash(h, a, b)}) AS mh{i}" for i, (a, b) in enumerate(_COEFFS)
    )
    return f"""
    SELECT doc_id, {mins}
    FROM (
      SELECT doc_id, unnest(shingles) AS shingle
      FROM ({_DUCK_SHINGLED}) sh
    ) ex
    GROUP BY doc_id
    """


def _duck_bands_sql() -> str:
    band_exprs = []
    for band in range(_BANDS):
        cols = " || '_' || ".join(
            f"CAST(mh{band * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
        )
        band_exprs.append(
            f"SELECT doc_id, {band} AS band_id, {cols} AS band_key FROM sigs"
        )
    return " UNION ALL ".join(band_exprs)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sigs AS ({_duck_minhash_sig_sql()}),
    bands AS ({_duck_bands_sql()}),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sim AS (
      SELECT doc_a, doc_b,
             CAST({" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(_K))}
                  AS DOUBLE) / {_K} AS est_jaccard
      FROM candidates
      JOIN sigs sa ON sa.doc_id = doc_a
      JOIN sigs sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, est_jaccard
    FROM sim WHERE est_jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (k=16) + LSH (4 bands × 4 rows) near-duplicate pairs.

    The LSH band join is the scale path: docs collide only within
    band buckets, so candidate generation is an equi-join on
    (band_id, band_key) — at 100 TB this is the textbook
    shingle→minhash→band→bucket-join pipeline with one shuffle per
    stage and no cross join anywhere.
    """
    docs = t(spark, sf_dir, "documents")
    exploded = _spark_shingled(docs).select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    # Project the md5-derived hash once; the 16 min-aggregates then cost
    # one multiply-add each instead of 16 md5 computations per shingle.
    hashed = exploded.select("doc_id", h32("shingle").alias("h"))
    # Persist: the signature table is tiny (one row per doc) but feeds the
    # band explode AND both sides of the verification join — without it the
    # whole shingle→md5 pipeline re-runs per consumer.
    # Expression trees built as SQL strings — identical plan, one JVM
    # round trip per expression instead of ~8 per composed Column
    # (client plan-construction cost, not execution cost).
    from pg_ducklake_spark.functions.hashing import sql_minhash

    sigs = scoped_persist(
        # r12: one named_struct aggregate expression = one JVM round
        # trip for all k mins (was k RPCs per build); executed plan
        # unchanged (struct wrap + field reads collapse).
        hashed.groupBy("doc_id")
        .agg(
            F.expr(
                "named_struct("
                + ", ".join(
                    f"'mh{i}', min({sql_minhash('h', a, b)})"
                    for i, (a, b) in enumerate(_COEFFS)
                )
                + ")"
            ).alias("s")
        )
        .select("doc_id", "s.*"),
        "dedup_minhash_lsh",
    )
    band_structs = ", ".join(
        f"struct(CAST({band} AS INT) AS band_id, concat_ws('_', "
        + ", ".join(f"cast(mh{band * _ROWS + r} as string)" for r in range(_ROWS))
        + ") AS band_key)"
        for band in range(_BANDS)
    )
    bands = sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bk"
    ).select("doc_id", "bk.band_id", "bk.band_key")
    # r12 (guide §2.4): in-bucket candidate pairs from grouped posting
    # lists — one shuffle keyed on (band_id, band_key) with streamed
    # pair generators (the jaccard layout) instead of the two-sided
    # band self-join; one exchange and the join stage gone. The
    # signature verification joins below are untouched (carrying k=16
    # signature columns through every posting entry would multiply the
    # band shuffle 4x; the ≤|candidates| joins against the persisted
    # sigs table are the cheaper attach).
    candidates = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("dl"))
        .filter(F.size("dl") >= 2)
        .select(F.col("dl"), F.posexplode("dl").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.expr("slice(dl, i + 2, size(dl))")).alias("doc_b"),
        )
        .distinct()
    )
    sa = sigs.selectExpr("doc_id AS doc_a", *[f"mh{i} AS a{i}" for i in range(_K)])
    sb = sigs.selectExpr("doc_id AS doc_b", *[f"mh{i} AS b{i}" for i in range(_K)])
    est = F.expr(
        "CAST("
        + " + ".join(f"IF(a{i} = b{i}, 1, 0)" for i in range(_K))
        + f" AS DOUBLE) / {_K}"
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------------------- SimHash
#
# 64-bit signatures, banded into 4 × 16-bit keys. Band WIDTH is the
# scale lever: an earlier 32-bit/4-byte-band variant had only 256
# bucket values per band, so at 50k docs every bucket held ~200 docs
# and candidate generation degenerated toward ~20M pairs — a blocking
# scheme that dies long before 100 TB. 16-bit bands give 65536 buckets
# per band (collision rate n/65536 per band), the standard scale-out
# simhash layout; pigeonhole still holds: hamming ≤ 3 < 4 bands means
# the pair agrees exactly on ≥ 1 whole band.
#
# Cross-engine parity: the 64 signature bits come from ONE md5 per
# token, split as two 32-bit halves (hex chars 1-8 / 9-16), kept as two
# BIGINT columns so no unsigned-64 edge cases arise in either engine.

_SIMBITS = 32  # per half; the signature is 2 × 32 bits


def _duck_hex32(m_expr: str, start: int) -> str:
    """DuckDB SQL: hex chars [start, start+8) of md5 string ``m_expr``
    as a BIGINT (same value as Spark's conv(substr(m,start,8),16,10))."""
    terms = [
        f"(strpos('0123456789abcdef', substr({m_expr}, {start + i}, 1)) - 1)"
        f" * CAST({16 ** (7 - i)} AS BIGINT)"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _duck_simbits(th: str) -> str:
    return " + ".join(
        f"CAST(CASE WHEN SUM(CASE WHEN ({th} >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << bit} ELSE 0 END AS BIGINT)"
        for bit in range(_SIMBITS)
    )


def _duck_simhash_sql() -> str:
    return f"""
    SELECT doc_id, {_duck_simbits('th_lo')} AS simhash_lo,
           {_duck_simbits('th_hi')} AS simhash_hi
    FROM (
      SELECT doc_id, {_duck_hex32('m', 1)} AS th_lo,
             {_duck_hex32('m', 9)} AS th_hi
      FROM (
        SELECT doc_id, md5(token) AS m
        FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents) tk
        WHERE token <> ''
      ) h
    ) hashed
    GROUP BY doc_id
    """


_DUCK_SIM_BAND = """CASE b WHEN 0 THEN simhash_lo & 65535
             WHEN 1 THEN (simhash_lo >> 16) & 65535
             WHEN 2 THEN simhash_hi & 65535
             ELSE (simhash_hi >> 16) & 65535 END"""

_DUCK_SIM_HAMMING = (
    "CAST(bit_count(CAST(xor(a.simhash_lo, b.simhash_lo) AS BIGINT))"
    " + bit_count(CAST(xor(a.simhash_hi, b.simhash_hi) AS BIGINT)) AS BIGINT)"
)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sims AS ({_duck_simhash_sql()}),
    keyed AS (
      SELECT doc_id, simhash_lo, simhash_hi, b AS band_id,
             {_DUCK_SIM_BAND} AS band_val
      FROM sims, range(0, 4) t(b)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_DUCK_SIM_HAMMING} AS hamming
    FROM keyed a JOIN keyed b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE {_DUCK_SIM_HAMMING} <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash (64-bit) near-dup pairs with hamming ≤ 3.

    By pigeonhole, any pair within hamming 3 agrees exactly on at least
    one of the 4 16-bit signature bands, so candidates come from 4
    equi-joins on (band_id, band_val) — the standard scale-out simhash
    blocking (see module comment on band width).
    """
    docs = rebalance(t(spark, sf_dir, "documents"))
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # One md5 per token, split into two 32-bit halves (64 bits total).
    hashed = tokens.select("doc_id", F.md5("token").alias("m")).select(
        "doc_id",
        F.expr("CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT)").alias("th_lo"),
        F.expr("CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)").alias("th_hi"),
    )
    # r12: ALL 64 per-bit sums ride in ONE named_struct aggregate
    # expression — a single JVM round trip instead of 64 (at this
    # sandbox's measured ~5 ms/RPC that was ~0.3 s of every plan
    # build). The optimizer collapses the struct wrap + field reads
    # back to the raw aggregate columns, so the executed plan is
    # unchanged.
    contrib = ", ".join(
        f"'s_{half}_{bit}', sum(IF((shiftright({half}, {bit}) & 1) = 1, 1, -1))"
        for half in ("th_lo", "th_hi")
        for bit in range(_SIMBITS)
    )
    per_bit = (
        hashed.groupBy("doc_id")
        .agg(F.expr(f"named_struct({contrib})").alias("s"))
        .select("doc_id", "s.*")
    )

    def _sig(half: str) -> str:
        return (
            "CAST("
            + " + ".join(
                f"IF(s_{half}_{bit} > 0, {1 << bit}, 0)" for bit in range(_SIMBITS)
            )
            + " AS BIGINT)"
        )

    sims = per_bit.select(
        "doc_id",
        F.expr(_sig("th_lo")).alias("simhash_lo"),
        F.expr(_sig("th_hi")).alias("simhash_hi"),
    )
    banded = sims.selectExpr(
        "doc_id", "simhash_lo", "simhash_hi",
        "explode(array(0, 1, 2, 3)) AS band_id",
    ).withColumn(
        "band_val",
        F.expr(
            "CASE band_id WHEN 0 THEN simhash_lo & 65535"
            " WHEN 1 THEN shiftright(simhash_lo, 16) & 65535"
            " WHEN 2 THEN simhash_hi & 65535"
            " ELSE shiftright(simhash_hi, 16) & 65535 END"
        ),
    )
    banded = scoped_persist(banded, "dedup_simhash_pairs")
    # r12 (guide §2.4): candidates come from grouped bucket posting
    # lists — ONE shuffle keyed on (band_id, band_val), in-bucket pairs
    # enumerated by the streamed posexplode + suffix-slice generators
    # (the jaccard layout) with the full 64-bit signature carried in the
    # 24-byte list entry. The previous self-equi-join shuffled the
    # banded table twice and joined; the signature travels once now and
    # the hamming check runs straight off the pair row. Buckets are the
    # scale knob exactly as before (n/65536 expected occupancy per
    # band); the distinct that collapses cross-band hits is unchanged.
    hamming = (
        F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
        + F.bit_count(F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
    ).cast("long")
    return (
        banded.groupBy("band_id", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash_lo", "simhash_hi"))
            ).alias("dl")
        )
        .filter(F.size("dl") >= 2)
        .select(F.col("dl"), F.posexplode("dl").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(dl, i + 2, size(dl))")).alias("b"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------- connected components


@query(
    "dedup_components",
    # Same shingle/Jaccard pair derivation as dedup_ngram_jaccard (at
    # threshold 0.5), then min-reachable-id components via a recursive
    # CTE — the graph property the distributed label-propagation
    # operator (operators/components.py) converges to, so both engines
    # must agree exactly.
    oracle=f"""
    WITH RECURSIVE shingled AS ({_DUCK_SHINGLED}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),
    sizes AS (
      SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles FROM shingled
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM pair_inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE)
            / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, comp) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(MIN(comp) AS BIGINT) AS component
    FROM reach
    GROUP BY node
    ORDER BY doc_id
    """,
)
def dedup_components(spark, sf_dir):
    """Near-duplicate CLUSTERS: Jaccard-0.5 pair edges chained into
    connected components (keep-one-per-component is the correct dedup
    contract when duplicates chain a~b~c without a~c). Pair generation
    is the library operator (operators/dedup.jaccard_pairs); the
    component labels come from distributed min-label propagation with
    pointer jumping (operators/components.py) — result is the minimum
    reachable doc_id, a pure graph property both engines compute."""
    from pg_ducklake_spark.operators.components import connected_components
    from pg_ducklake_spark.operators.dedup import jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        rebalance(docs), text_col="text", id_col="doc_id", threshold=0.5
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        # jaccard_pairs emits one ordered row per pair (groupBy output,
        # id_a < id_b) -- skip the pre-loop dedup shuffle
        edges_unique=True,
    )
    return (
        comp.select(
            F.col("node").cast("long").alias("doc_id"),
            F.col("comp").cast("long").alias("component"),
        )
        .orderBy("doc_id")
    )
