"""Extension query catalog — the training-data pipeline operators
(dedup family, similarity search, text analysis, multimodal, streaming,
as-of join), each exposed as (Spark fn, DuckDB oracle) like queries.py.

The minhash/simhash oracles reproduce the exact hash arithmetic through
the cross-engine md5 kernel (functions/hashing.py), so even the LSH
candidate sets match value-for-value — the oracle is not a weaker
approximation of the operator, it IS the operator in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from globallinks_spark.functions import hashing as H
from globallinks_spark.functions import text as TX
from globallinks_spark.functions import vectors as V
from globallinks_spark.queries_base import QuerySpec, _dec, _round2, load


_roundtrip_live: dict[str, list[str]] = {}
_ROUNDTRIP_KEEP = 2


def _roundtrip_dir(kind: str) -> str:
    """Unique per-invocation scratch dir for the sink round-trip
    queries. A fixed path keyed only by the sf-dir basename lets
    concurrent executions (parallel pytest, bench + probe on dirs
    sharing a basename) interleave one process's write with another's
    read-back; a fresh mkdtemp per call cannot collide. The last TWO
    dirs per kind per process stay live; older ones are removed when a
    successor is created — bench/probe loops call each roundtrip query
    several times per process, and without eviction /tmp grew by a
    full table copy per invocation. Keeping depth 2 (not 1, ADVICE r6)
    means a still-unmaterialized lazy frame from the PREVIOUS
    invocation — e.g. a plan-only explain/audit consumer that never
    collects, or a caller that builds before its predecessor
    materializes — still resolves; a frame held across two further
    invocations of the same query is the documented limit. The slot is
    per-process, so concurrent pytest workers never evict each other.
    Remaining dirs are removed at exit."""
    import atexit
    import shutil
    import tempfile

    live = _roundtrip_live.setdefault(kind, [])
    while len(live) >= _ROUNDTRIP_KEEP:
        shutil.rmtree(live.pop(0), ignore_errors=True)
    path = tempfile.mkdtemp(prefix=f"gl_{kind}_roundtrip_")
    live.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path

def _query_vec(emb: DataFrame, name: str) -> list[float]:
    """The catalog's standard query vector: the vec_id=0 embedding.

    Guarded fetch (ADVICE r8 generalized): an empty embeddings table or
    a missing vec_id=0 row raises a named error instead of the bare
    ``TypeError: 'NoneType' object is not subscriptable`` that
    ``.first()["embedding"]`` produces."""
    row = emb.filter(F.col("vec_id") == 0).first()
    if row is None:
        raise ValueError(
            f"{name}: embeddings table has no vec_id=0 query row"
        )
    return [float(x) for x in row["embedding"]]


# Shared oracle CTE: documents → words → distinct 3-gram shingles → H30
# hashes (mirrors operators.dedup.with_shingle_hashes).
_SQL_SHINGLE_CTE = f"""
w AS (
  SELECT doc_id, {TX.words_sql('text')} AS w FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(w) - 2, 0) + 1),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM w
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {H.h30_sql('s')}) AS hashes
  FROM sh WHERE len(sh) > 0
)"""


# ---------------------------------------------------------------------------
# Q: dedup_minhash_lsh — shingle → minhash → LSH band bucket-join →
# exact-Jaccard verify (operators/dedup.minhash_dedup_pairs).

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


def _sql_minhash_ctes() -> str:
    """The shared WITH-body computing verified LSH pairs (CTE ``lshp``:
    doc_a, doc_b, jaccard) — used by the pairs query and, extended with
    a recursive components CTE, by dedup_groups."""
    sig_cols = ",\n    ".join(
        f"{H.minhash_sql('hashes', j)} AS mh_{j}" for j in range(H.NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || ':' || ".join(
                f"CAST(mh_{b * H.BAND_SIZE + r} AS VARCHAR)"
                for r in range(H.BAND_SIZE)
            ),
        )
        for b in range(H.NUM_BANDS)
    )
    return f"""{_SQL_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM hs
), bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
), ex AS (
  SELECT DISTINCT doc_id, unnest(hashes) AS h FROM hs
  WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b
), lshp AS (
  SELECT c.doc_a, c.doc_b,
    CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        / (sa.n + sb.n - COALESCE(i.n_inter, 0)) >= 0.5
)"""


def _sql_minhash_lsh() -> str:
    return f"""
WITH {_sql_minhash_ctes()}
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM lshp
"""


# ---------------------------------------------------------------------------
# Q: dedup_groups — connected components over the verified LSH pairs →
# deterministic keeper (smallest doc_id) + delete list
# (operators/dedup.dedup_groups). The oracle closes the same pair graph
# with a recursive CTE — transitive closure, then min reachable node.

def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import dedup_groups

    return dedup_groups(load(spark, sf_dir, "documents"), threshold=0.5)


def _sql_dedup_groups() -> str:
    return f"""
WITH RECURSIVE {_sql_minhash_ctes()},
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM lshp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM lshp
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id,
  least(a, min(b)) AS keeper_id,
  a = least(a, min(b)) AS keep
FROM reach GROUP BY a
"""


# ---------------------------------------------------------------------------
# Q: dedup_ngram_jaccard — exact all-pairs n-gram Jaccard (ground truth
# for LSH recall; operators/dedup.ngram_jaccard_pairs).

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


SQL_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLE_CTE},
ex AS (
  SELECT DISTINCT doc_id, unnest(hashes) AS h FROM hs
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# Q: simhash_fingerprint — 16-bit tf-weighted simhash per document.

def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), bits=16)


def _sql_simhash(bits: int) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, {TX.words_sql('text')} AS w FROM documents
), toks AS (
  SELECT doc_id, x AS tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS x FROM w)
  GROUP BY doc_id, x
), th AS (
  SELECT doc_id, tf, {H.h30_sql('tok')} AS h FROM toks
), votes AS (
  SELECT doc_id, bit,
    sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, {bits})) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
  CAST(sum(CASE WHEN v > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


SQL_SIMHASH = _sql_simhash(16)


# ---------------------------------------------------------------------------
# Q: simhash_near_dup — banded hamming<=k simhash join (Manku WWW'07
# shape). The oracle replays the banded join's *semantics* — which are
# exactly {pairs : hamming <= k} by the pigeonhole guarantee — as an
# all-pairs xor+popcount over the same simhash CTE; cheap at oracle SF,
# while the Spark side runs the segment-join plan that scales. Full
# 30-bit fingerprints (h30's width): at 16 bits a 50k-doc corpus packs
# ~1.5k docs into every 5-bit segment bucket AND drowns the answer in
# random hamming-2 collisions — wider fingerprints are what keep both
# the buckets and the result sparse as the corpus grows.

def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        load(spark, sf_dir, "documents"), bits=30, k=2
    )


SQL_SIMHASH_NEAR_DUP = f"""
WITH sh AS ({_sql_simhash(30)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


# ---------------------------------------------------------------------------
# Q: embedding_cosine_topk — exact brute-force ANN baseline: top-10 by
# cosine against the vec_id=0 embedding.

def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "embedding_cosine_topk")
    return cosine_topk(emb, qvec, k=10)


SQL_EMBEDDING_COSINE_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, round({V.cosine_sql('embedding', 'qv')}, 4) AS cosine
  FROM embeddings, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q: embedding_near_dup — cosine near-duplicate pairs, blocked by label
# (the blocking key bounds the self-join; threshold tuned to the synthetic
# corpus which has no true dups — 0.35 surfaces the closest pairs).

def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import near_dup_pairs

    return near_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.35,
        partition_col="label",
    )


def q_embedding_near_dup_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas gram-matrix variant (production path for wide
    embeddings — ~7× the expression form at dim 64, gap grows with dim).
    Checked against the SAME DuckDB oracle: float64 matmul and the
    sequential fold agree far below the 4-decimal rounding."""
    from globallinks_spark.operators.similarity import near_dup_pairs_vectorized

    return near_dup_pairs_vectorized(
        load(spark, sf_dir, "embeddings"), threshold=0.35,
        partition_col="label",
    )


SQL_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round({V.cosine_sql('a.embedding', 'b.embedding')}, 4) AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {V.cosine_sql('a.embedding', 'b.embedding')} >= 0.35
"""


# ---------------------------------------------------------------------------
# Q: embedding_dedup_groups — components + keeper over the embedding
# near-dup pair graph (similarity.embedding_dedup_groups); the
# embedding counterpart of dedup_groups, same recursive-CTE oracle.

def q_embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import embedding_dedup_groups

    return embedding_dedup_groups(
        load(spark, sf_dir, "embeddings"), threshold=0.35,
        partition_col="label",
    )


def _sql_embedding_dedup_groups() -> str:
    return f"""
WITH RECURSIVE p AS (
  SELECT vec_a, vec_b FROM ({SQL_EMBEDDING_NEAR_DUP})
), sym AS (
  SELECT vec_a AS a, vec_b AS b FROM p
  UNION
  SELECT vec_b AS a, vec_a AS b FROM p
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS vec_id,
  least(a, min(b)) AS keeper_id,
  a = least(a, min(b)) AS keep
FROM reach GROUP BY a
"""


# ---------------------------------------------------------------------------
# Q: ann_sign_lsh — bucketed ANN: top-5 within the query's sign-LSH bucket.

def q_ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import bucketed_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "ann_sign_lsh")
    return bucketed_topk(emb, qvec, k=5, bits=8)


SQL_ANN_SIGN_LSH = f"""
WITH q AS (
  SELECT embedding AS qv, {V.sign_bucket_sql('embedding')} AS qb
  FROM embeddings WHERE vec_id = 0
), cands AS (
  SELECT vec_id, embedding, qv FROM embeddings, q
  WHERE {V.sign_bucket_sql('embedding')} = qb
)
SELECT vec_id, round({V.cosine_sql('embedding', 'qv')}, 4) AS cosine
FROM cands ORDER BY cosine DESC, vec_id LIMIT 5
"""


# ---------------------------------------------------------------------------
# Q: ann_multiprobe — multi-probe sign-LSH (Lv et al., VLDB'07): probe
# the query's bucket plus the 3 neighbors reached by flipping the
# lowest-|margin| coordinates. Driver computes the probe list from the
# query vector (parameters, not data); the oracle derives the SAME list
# in SQL — sort coordinates by (|value|, index), flip the first three.

def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import bucketed_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "ann_multiprobe")
    return bucketed_topk(emb, qvec, k=5, bits=8, n_probe=4)


SQL_ANN_MULTIPROBE = f"""
WITH q AS (
  SELECT embedding AS qv, {V.sign_bucket_sql('embedding')} AS qb
  FROM embeddings WHERE vec_id = 0
), flips AS (
  SELECT qv, qb, list_transform(
    list_sort(list_transform(range(0, 8),
      i -> {{'a': abs(qv[i + 1]), 'i': i}}))[1:3],
    s -> xor(qb, CAST(2 ** s.i AS INT))) AS alt
  FROM q
), probes AS (
  SELECT qv, unnest(list_prepend(qb, alt)) AS b FROM flips
), cands AS (
  SELECT e.vec_id, e.embedding, p.qv FROM embeddings e, probes p
  WHERE {V.sign_bucket_sql('e.embedding')} = p.b
)
SELECT vec_id, round({V.cosine_sql('embedding', 'qv')}, 4) AS cosine
FROM cands ORDER BY cosine DESC, vec_id LIMIT 5
"""


# ---------------------------------------------------------------------------
# Q: ann_random_projection — sign-LSH over SEEDED random hyperplanes
# (the production projection; coordinate axes are the didactic
# stand-in). The bits × dim matrix is a pure function of the seed,
# rounded to 6 decimals, so both engines inline identical literals and
# the bucket assignment is hash-checked, not approximated.

def q_ann_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "ann_random_projection")
    dim = len(qvec)
    bucket = V.random_projection_bucket(F.col("embedding"), 8, dim)
    qb = (
        emb.filter(F.col("vec_id") == 0)
        .select(bucket.alias("b")).first()["b"]
    )
    cands = emb.withColumn("b", bucket).filter(F.col("b") == qb)
    return cosine_topk(cands, qvec, k=5)


def _sql_ann_random_projection(dim: int = 64) -> str:
    b = V.random_projection_bucket_sql("embedding", 8, dim)
    bq = V.random_projection_bucket_sql("qv", 8, dim)
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), cands AS (
  SELECT e.vec_id, e.embedding, q.qv FROM embeddings e, q
  WHERE {b} = {bq}
)
SELECT vec_id, round({V.cosine_sql('embedding', 'qv')}, 4) AS cosine
FROM cands ORDER BY cosine DESC, vec_id LIMIT 5
"""


# ---------------------------------------------------------------------------
# Q: ann_sq_rerank — two-stage scalar-quantized serving ANN (r7 verdict
# #1): score packed int4 codes for EVERY row (32 bytes/row vs 256
# float32 — measured 0.186 of the full-precision parquet scan bytes,
# see similarity.SQ_MEASURED_BYTES_RATIO), keep the top-50 pool by
# quantized score, exact-cosine re-rank the pool. The oracle replays
# the quantization math directly (packing is a lossless storage layout,
# round-trip pinned by tests/test_dedup_similarity.py::TestSqRerank);
# scale/norm are sequential-fold doubles on both engines, the code dot
# is exact integers, and the approx formula is the same left-assoc
# float64 expression — so the pool cutoff and the final top-k replay
# bit-identically.

_SQ_NBITS = 4
_SQ_POOL = 50


def q_ann_sq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import sq_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "ann_sq_rerank")
    return sq_rerank_topk(emb, qvec, k=10, pool=_SQ_POOL, nbits=_SQ_NBITS)


def _sql_ann_sq_rerank(nbits: int = _SQ_NBITS, pool: int = _SQ_POOL) -> str:
    lim = {4: 7, 8: 127}[nbits]
    lim2 = float(lim * lim)
    amax = "list_max(list_transform({c}, x -> abs(CAST(x AS DOUBLE))))"
    return f"""
WITH qp AS (
  SELECT embedding AS qv,
    CASE WHEN {amax.format(c='embedding')} > 0
         THEN {amax.format(c='embedding')} ELSE 1.0 END AS qscale,
    CASE WHEN {V.norm_sql('embedding')} > 0
         THEN {V.norm_sql('embedding')} ELSE 1.0 END AS qnorm
  FROM embeddings WHERE vec_id = 0
), idx AS (
  SELECT vec_id, embedding AS v,
    {amax.format(c='embedding')} AS s,
    CASE WHEN {amax.format(c='embedding')} > 0
         THEN {amax.format(c='embedding')} ELSE 1.0 END AS sq,
    {V.norm_sql('embedding')} AS nrm
  FROM embeddings
), scored AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(range(1, len(v) + 1),
      i -> CAST(floor(CAST(v[i] AS DOUBLE) / sq * {lim} + 0.5) AS BIGINT)
         * CAST(floor(CAST(qv[i] AS DOUBLE) / qscale * {lim} + 0.5) AS BIGINT)
    )) AS DOUBLE) * s * qscale / {lim2}
      / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END * qnorm) AS approx
  FROM idx, qp
), pool AS (
  SELECT vec_id FROM scored ORDER BY approx DESC, vec_id LIMIT {pool}
)
SELECT e.vec_id, round({V.cosine_sql('e.embedding', 'qp.qv')}, 4) AS cosine
FROM embeddings e JOIN pool USING (vec_id), qp
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q: sq_knn_join — the BATCH form of ann_sq_rerank (knn_join's
# quantized sibling, the production serving shape): per query,
# quantized-score the corpus codes, top-50 pool, exact re-rank.
# Driver-checked as the 5th member of ann_lsh_suite since r10
# (r9 verdict #1); also FULL_REGISTRY under its own name, so the
# pytest oracle gate replays it cell-for-cell every session.

def q_sq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import sq_knn_join

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 40 == 0).orderBy("vec_id").limit(5)
    return sq_knn_join(qs, emb, k=3, pool=_SQ_POOL, nbits=_SQ_NBITS)


def _sql_sq_knn_join(nbits: int = _SQ_NBITS, pool: int = _SQ_POOL,
                     k: int = 3) -> str:
    lim = {4: 7, 8: 127}[nbits]
    lim2 = float(lim * lim)
    amax = "list_max(list_transform({c}, x -> abs(CAST(x AS DOUBLE))))"
    return f"""
WITH qs AS (
  SELECT vec_id AS query_id, embedding AS qv,
    CASE WHEN {amax.format(c='embedding')} > 0
         THEN {amax.format(c='embedding')} ELSE 1.0 END AS qscale,
    CASE WHEN {V.norm_sql('embedding')} > 0
         THEN {V.norm_sql('embedding')} ELSE 1.0 END AS qnorm
  FROM (SELECT * FROM embeddings WHERE vec_id % 40 = 0
        ORDER BY vec_id LIMIT 5)
), idx AS (
  SELECT vec_id, embedding AS v,
    {amax.format(c='embedding')} AS s,
    CASE WHEN {amax.format(c='embedding')} > 0
         THEN {amax.format(c='embedding')} ELSE 1.0 END AS sq,
    {V.norm_sql('embedding')} AS nrm
  FROM embeddings
), scored AS (
  SELECT query_id, vec_id,
    CAST(list_sum(list_transform(range(1, len(v) + 1),
      i -> CAST(floor(CAST(v[i] AS DOUBLE) / sq * {lim} + 0.5) AS BIGINT)
         * CAST(floor(CAST(qv[i] AS DOUBLE) / qscale * {lim} + 0.5) AS BIGINT)
    )) AS DOUBLE) * s * qscale / {lim2}
      / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END * qnorm) AS approx
  FROM idx, qs
), pool AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY approx DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= {pool}
)
SELECT query_id, vec_id, cosine FROM (
  SELECT p.query_id, e.vec_id,
    round({V.cosine_sql('e.embedding', 'qs.qv')}, 4) AS cosine,
    row_number() OVER (
      PARTITION BY p.query_id
      ORDER BY round({V.cosine_sql('e.embedding', 'qs.qv')}, 4) DESC,
               e.vec_id
    ) AS rn
  FROM pool p
  JOIN embeddings e ON e.vec_id = p.vec_id
  JOIN qs ON qs.query_id = p.query_id
) WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Q: dedup_multitable_lsh — multi-table (OR-construction) sign-LSH
# near-dup pairs (r8 verdict #5): n_tables INDEPENDENT seeded
# hyperplane tables (seed 0x5EED + t), each multi-probed, a pair
# reported when it collides in ANY probed (table, bucket) block and
# its exact cosine clears the threshold. The oracle replays the seeded
# matrices as literals, the sign-bit bucket, the (|margin|, index)
# flip order, the symmetric index-time fan-out, and the
# raw-threshold/rounded-output convention — every block and every
# pair, cell-for-cell. Driver-checked inside dedup_docs_suite since
# r10 (r9 verdict #1); also FULL_REGISTRY under its own name.

_MT_BITS = 8
_MT_TABLES = 3
_MT_PROBE = 4
_MT_THRESHOLD = 0.35


def q_dedup_multitable_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import (
        near_dup_pairs_multitable,
    )

    emb = load(spark, sf_dir, "embeddings")
    return near_dup_pairs_multitable(
        emb, threshold=_MT_THRESHOLD, bits=_MT_BITS,
        n_tables=_MT_TABLES, n_probe=_MT_PROBE, dim=64,
    )


def _sql_dedup_multitable_lsh(dim: int = 64) -> str:
    tables = []
    for t in range(_MT_TABLES):
        M = V.projection_matrix(_MT_BITS, dim, 0x5EED + t)
        margins = ", ".join(
            V.dot_sql("embedding",
                      "[" + ", ".join(repr(x) for x in row) + "]")
            for row in M
        )
        tables.append(
            f"SELECT vec_id, embedding, {t} AS t, [{margins}] AS mg "
            f"FROM embeddings"
        )
    union = "\n  UNION ALL\n  ".join(tables)
    cos = V.cosine_sql("a.embedding", "b2.embedding")
    return f"""
WITH tbl AS (
  {union}
), bkt AS (
  SELECT vec_id, embedding, t, mg,
    CAST(list_sum(list_transform(range(1, {_MT_BITS} + 1),
      j -> CASE WHEN mg[j] > 0 THEN 2.0 ** (j - 1) ELSE 0.0 END))
      AS INT) AS qb
  FROM tbl
), blk AS (
  SELECT vec_id, embedding, t,
    unnest(list_prepend(qb, list_transform(
      list_sort(list_transform(range(0, {_MT_BITS}),
        i -> {{'a': abs(mg[i + 1]), 'i': i}}))[1:{_MT_PROBE - 1}],
      s -> xor(qb, CAST(2 ** s.i AS INT))))) AS b
  FROM bkt
)
SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b,
  round({cos}, 4) AS cosine
FROM blk a JOIN blk b2 ON a.t = b2.t AND a.b = b2.b
  AND a.vec_id < b2.vec_id
WHERE {cos} >= {_MT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Q: knn_join — batch kNN: top-3 corpus neighbors for each of 5 query
# vectors (broadcast nested loop + per-query window top-k).

def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import knn_join

    emb = load(spark, sf_dir, "embeddings")
    return knn_join(emb.filter(F.col("vec_id") < 5), emb, k=3)


SQL_KNN_JOIN = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
    round({V.cosine_sql('e.embedding', 'q.qv')}, 4) AS cosine
  FROM embeddings e, q
)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
  ) AS rn FROM scored
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# Q: text_quality — length / token / punctuation / stopword metrics and a
# composite keep-flag (the quality-scoring stage of a data pipeline).

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = TX.words(F.col("text"))
    n_words = F.size(w)
    sw = TX.stopword_ratio(w)
    pr = TX.punct_ratio(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_words.alias("n_words"),
        TX.bpe_token_count(F.col("text")).alias("n_tokens"),
        F.round(pr, 4).alias("punct_ratio"),
        F.round(sw, 4).alias("stopword_ratio"),
        F.when(
            (n_words >= 5) & (n_words <= 5000) & (pr < 0.3) & (sw > 0.0), 1
        ).otherwise(0).alias("keep"),
    )


SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, {TX.words_sql('text')} AS w FROM documents
)
SELECT doc_id,
  length(text) AS n_chars,
  len(w) AS n_words,
  {TX.bpe_token_count_sql('text')} AS n_tokens,
  round({TX.punct_ratio_sql('text')}, 4) AS punct_ratio,
  round({TX.stopword_ratio_sql('w')}, 4) AS stopword_ratio,
  CASE WHEN len(w) >= 5 AND len(w) <= 5000
        AND {TX.punct_ratio_sql('text')} < 0.3
        AND {TX.stopword_ratio_sql('w')} > 0.0
       THEN 1 ELSE 0 END AS keep
FROM base
"""


# ---------------------------------------------------------------------------
# Q: lang_id — marker-stopword language identification vs the labeled
# ``lang`` column.

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.functions.binding import bind_once

    d = load(spark, sf_dir, "documents")
    # bind the token string AND the scores: predict_lang's argmax CASE
    # chain references every score ~2·(n_langs-1) times, and without
    # the barrier CollapseProject inlines the score tree into each
    # reference (~160 evaluations/row at 10 languages — measured 3×
    # the r02 wall time when the catalog grew from 3 to 10 languages).
    # r12: the 9 word-language scores are compiled-regex token counts
    # over ONE bound space-delimited token string
    # (functions/text.py lang_token_string / lang_score_tokens) —
    # whole-stage-codegen'd regexp passes instead of the r11 HOF fold,
    # whose transform/filter/array_contains lambdas Catalyst evaluates
    # INTERPRETED per array element (measured ×1.10–1.21 interleaved
    # at sf0.1, rows identical; the same HOF-interpretation cost the
    # r10 multitable-LSH fan kernel removed). The char-language (zh)
    # score stays a bound regexp count on the raw text. The argmax
    # chain then compares plain attributes. Zero exchanges either way:
    # one scan, all scoring map-side.
    base = d.select(
        "doc_id", "lang", "text",
        bind_once(TX.lang_token_string(F.col("text"))).alias("ts"),
    )
    word_langs = [
        lang for lang in TX.LANG_MARKERS if lang not in TX.CHAR_LANGS
    ]
    scored = base.select(
        "doc_id", "lang",
        *[bind_once(
            TX.lang_score_tokens(F.col("ts"), lang)
        ).alias(f"s_{lang}") for lang in word_langs],
        *[bind_once(
            TX.lang_score(F.lit(None), lang, text=F.col("text"))
        ).alias(f"s_{lang}") for lang in TX.CHAR_LANGS],
    )
    bound = {lang: F.col(f"s_{lang}") for lang in TX.LANG_MARKERS}
    out = scored.select(
        "doc_id",
        *[f"s_{lang}" for lang in TX.LANG_MARKERS],
        TX.predict_lang(bound).alias("predicted"),
        "lang",
    )
    return out.withColumn(
        "is_correct", F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
    )


def _sql_lang_id() -> str:
    score_exprs = {
        lang: TX.lang_score_sql("w", lang, text_expr="text")
        for lang in TX.LANG_MARKERS
    }
    score_cols = ",\n  ".join(
        f"{score_exprs[lang]} AS s_{lang}" for lang in TX.LANG_MARKERS
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, text, {TX.words_sql('text')} AS w FROM documents
)
SELECT doc_id,
  {score_cols},
  {TX.predict_lang_sql(score_exprs)} AS predicted,
  lang,
  CASE WHEN {TX.predict_lang_sql(score_exprs)} = lang THEN 1 ELSE 0 END
    AS is_correct
FROM base
"""


# ---------------------------------------------------------------------------
# Q: doc_fingerprint — content hash + first minhash component (the cheap
# per-document identity pair used for incremental dedup).

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hashes = TX.shingle_hashes(F.col("text"))
    return d.select(
        "doc_id",
        H.h60(F.col("text")).alias("content_hash"),
        H.minhash_expr(hashes, 0).alias("minhash_0"),
    )


SQL_DOC_FINGERPRINT = f"""
WITH {_SQL_SHINGLE_CTE}
SELECT d.doc_id,
  {H.h60_sql('d.text')} AS content_hash,
  {H.minhash_sql('hs.hashes', 0)} AS minhash_0
FROM documents d LEFT JOIN hs ON hs.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Q: multimodal_meta — binary-payload metadata extraction via
# Arrow-batched mapInPandas (operators/multimodal.py). The oracle
# recomputes the deterministic fake features in SQL.

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.multimodal import (
        extract_media_meta,
        with_binary_payload,
    )

    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return extract_media_meta(d)


SQL_MULTIMODAL_META = """
SELECT doc_id,
  'image/fake' AS media_type,
  octet_length(encode(text)) AS n_bytes,
  CASE WHEN length(text) > 0 THEN unicode(substr(text, 1, 1)) ELSE -1 END
    AS first_byte,
  substr(md5(text), 1, 8) AS checksum_prefix
FROM documents
"""


# ---------------------------------------------------------------------------
# Q: frame_sample — video-demux fan-out plumbing (multimodal.py): one
# payload row → ≤8 frame rows via a mapInPandas generator. The oracle
# replays the deterministic fake demuxer (256-byte chunks) with substr
# + md5 — char-slicing equals byte-slicing because the synthetic corpus
# is ASCII (the operator itself is byte-correct for any payload).

def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.multimodal import (
        frame_sample,
        with_binary_payload,
    )

    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return frame_sample(d, every_n=2, max_frames=8).select(
        "doc_id", "frame_idx", "ts_ms", "n_bytes", "checksum_prefix"
    )


def _sql_frame_sample() -> str:
    from globallinks_spark.operators.multimodal import FRAME_BYTES, FRAME_MS

    b, ms = FRAME_BYTES, FRAME_MS
    return f"""
WITH c AS (
  SELECT doc_id, text, unnest(range(0, 16, 2)) AS ci FROM documents
), fr AS (
  SELECT doc_id, CAST(ci AS INT) AS frame_idx,
         substr(text, CAST(ci * {b} + 1 AS INT), {b}) AS fr
  FROM c WHERE ci * {b} < len(text)
)
SELECT doc_id, frame_idx,
  CAST(frame_idx * {ms} AS INT) AS ts_ms,
  CAST(len(fr) AS INT) AS n_bytes,
  substr(md5(fr), 1, 8) AS checksum_prefix
FROM fr
"""


# ---------------------------------------------------------------------------
# Q: streaming_window — tumbling-window counts (batch plan of the
# streaming aggregation; the streaming path itself is tested in tests/).

def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.streaming.ingest import windowed_event_counts

    return windowed_event_counts(load(spark, sf_dir, "events"), "1 hour")


SQL_STREAMING_WINDOW = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
  count(*) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Q: asof_join — each event matched to the user's latest order at or
# before the event time. Spark lacks a native as-of join; the engine's
# implementation is the union+window carry-forward (one shuffle on the
# user key, no range explosion); the oracle uses DuckDB's native ASOF.

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    from pyspark.sql import Window

    # right side deduped per (user, time): keep max orderkey
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    orders1 = (
        o.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )

    o_rows = orders1.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("pri"),
        "o_orderkey", "o_totalprice",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    e_rows = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("pri"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        "event_id",
        "ts",
    )
    unioned = o_rows.unionByName(e_rows)
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "pri", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "user_id", "pri", "event_id", "ts",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("o_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("o_totalprice"),
    )
    return carried.filter(F.col("pri") == 1).select(
        "event_id", "user_id", "ts", "o_orderkey", "o_totalprice"
    )


SQL_ASOF_JOIN = """
WITH o1 AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts, o1.o_orderkey, o1.o_totalprice
FROM events e
ASOF LEFT JOIN o1
  ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
"""


# ---------------------------------------------------------------------------
# Q: filter_sum — TPC-H Q6 shape: the pure predicate-pushdown + map-side
# aggregation showcase (no shuffle of data, one scalar out).

def q_filter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(revenue).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_FILTER_SUM = """
SELECT
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
              * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
  count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate <  TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q: rollup_revenue — hierarchical totals (region → nation → grand total),
# OLAP surface beyond the reference's operator set.

def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double"), 2,
            ).alias("total"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "total", "n_orders",
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ---------------------------------------------------------------------------
# Q: skew_distinct — exact distinct-count per key via the two-stage salted
# aggregation (operators/skew.py): hot keys fan out over salt shards, and
# because the VALUE picks the shard the per-shard distinct counts sum
# exactly — oracle = plain COUNT(DISTINCT).

def q_skew_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.skew import salted_distinct_count

    li = load(spark, sf_dir, "lineitem")
    return salted_distinct_count(li, ["l_returnflag"], "l_partkey")


SQL_SKEW_DISTINCT = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_l_partkey
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q: ann_ivf — inverted-file ANN (k-means cells, probe nearest cells).
# Full value oracle: build_ivf_index is deterministic by construction
# (id-stride seeds, fixed-count Lloyd iterations, float64 reductions), so
# the WHOLE pipeline — seed, two unrolled Lloyd rounds, final assignment,
# probe-cell selection, cosine top-k — replays as SQL CTEs against the
# same view (the pagerank-oracle pattern, iterations unrolled). Engines
# accumulate float64 dot products in different orders (BLAS dgemm vs
# sequential list_sum), but assignments are argmins over distances that
# differ at ~1e-13 relative while random-data distance gaps sit many
# orders above that, and the output cosine rounds to 4 decimals — the
# same tolerance argument every embedding oracle in this file relies on.

def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = _query_vec(emb, "ann_ivf")
    return ivf_topk(emb, qvec, k=10, n_cells=16, n_probe=4)


def q_serving_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 serving-table round trip, oracle-shaped: link-shaped rows
    derived from orders go through write_serving_table (hash-bucketed
    partitionBy layout + salted writers) and come back through
    read_serving_table's partition-pruned domain probe. The oracle
    replays the same derivation + filter directly over orders — so a
    bucketing/pruning bug that drops or duplicates rows (wrong modulus,
    bucket column leaking into output, prune-to-wrong-directory) fails
    the hash, not just a pytest. The write lands in a unique per-call
    tempdir (removed at process exit)."""
    from globallinks_spark.sources.serving import (
        read_serving_table,
        write_serving_table,
    )

    o = load(spark, sf_dir, "orders")
    links = o.select(
        F.concat(
            F.lit("d"), (F.col("o_custkey") % 97).cast("string"),
            F.lit(".com"),
        ).alias("link_domain"),
        F.lit("www").alias("link_sub_domain"),
        F.concat(F.lit("/p/"), F.col("o_orderkey").cast("string"))
        .alias("link_path"),
        F.concat(
            F.lit("h"), (F.col("o_custkey") % 31).cast("string"),
            F.lit(".example.org"),
        ).alias("page_host"),
        _round2(_dec("o_totalprice")).alias("value"),
    )
    path = _roundtrip_dir("serving")
    write_serving_table(links, path, buckets=16)
    return read_serving_table(spark, path, domain="d42.com")


SQL_SERVING_ROUNDTRIP = """
SELECT 'd42.com' AS link_domain,
       'www' AS link_sub_domain,
       '/p/' || CAST(o_orderkey AS VARCHAR) AS link_path,
       'h' || CAST(o_custkey % 31 AS VARCHAR) || '.example.org' AS page_host,
       round(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE), 2) AS value
FROM orders WHERE o_custkey % 97 = 42
"""


def q_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard sink round trip, oracle-shaped (the
    serving_roundtrip pattern for sources/corpus_sink.py): documents
    get a deterministic split, go through write_training_shards
    ((split, shard) partitionBy + keyed-hash shard ids), and the
    returned frame re-aggregates (n_docs, n_tokens) per shard FROM THE
    READBACK of the pruned train subtree. The oracle re-derives split,
    shard (same md5 kernel), and BPE token counts directly over
    documents — a shard-assignment or partition-layout bug changes the
    readback aggregation and fails the hash."""
    from globallinks_spark.sources.corpus_sink import (
        read_training_shards,
        write_training_shards,
    )

    d = load(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    path = _roundtrip_dir("shard")
    write_training_shards(d.withColumn("split", split), path, n_shards=16)
    back = read_training_shards(spark, path, split="train")
    return back.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.bpe_token_count(F.col("text"))).cast("bigint")
        .alias("n_tokens"),
    )


def _sql_shard_roundtrip() -> str:
    shard = H.h60_sql("'shard:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH s AS (
  SELECT doc_id, text,
    CASE WHEN doc_id % 10 < 8 THEN 'train'
         WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
    CAST(({shard}) % 16 AS INT) AS shard
  FROM documents
)
SELECT split, shard, count(*) AS n_docs,
       CAST(sum({TX.bpe_token_count_sql('text')}) AS BIGINT) AS n_tokens
FROM s WHERE split = 'train' GROUP BY 1, 2
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate (the dedup_eval pattern for similarity search):
    recall@10 of the IVF probe against the exact brute-force cosine
    top-10 for the same query vector. Both sides are deterministic, so
    the recall is oracle-reproducible — a broken IVF assignment, probe
    order, or centroid update moves n_common and fails the hash."""
    ivf = q_ann_ivf(spark, sf_dir).select("vec_id")
    brute = q_embedding_cosine_topk(spark, sf_dir).select("vec_id")
    agg = ivf.join(brute, "vec_id").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return agg.select(
        F.lit(10).alias("k"),
        "n_common",
        F.round(F.col("n_common") / 10.0, 4).alias("recall"),
    )


def _sql_ann_recall() -> str:
    return f"""
SELECT 10 AS k, count(*) AS n_common,
       round(count(*) / 10.0, 4) AS recall
FROM (SELECT vec_id FROM ({_sql_ann_ivf()}) __i) a
JOIN (SELECT vec_id FROM ({SQL_EMBEDDING_COSINE_TOPK}) __b) b
  USING (vec_id)
"""


def _ivf_cte_prefix(n_cells: int = 16) -> str:
    """WITH-chain replaying build_ivf_index(n_cells, iterations=2) up to
    ``af`` (the final per-vector cell assignment). Shared by the ann_ivf
    and semantic_dedup oracles.

    Mirrors similarity.py line-for-line in semantics: seeds are the
    id-ordered stride-7 sample (rank min(cell*7, n_seeds-1) — the same
    clamp build_ivf_index applies when the corpus is short); assignment
    is argmin over c·c − 2·v·c with first-minimum (lowest cell) ties;
    empty cells keep their previous centroid via COALESCE."""
    seed_cap = n_cells * 7

    def assign(prev_c: str, name: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.c, c.c) - 2 * list_dot_product(e.v, c.c), c.cell
      ) AS rk
    FROM e CROSS JOIN {prev_c} c
  ) WHERE rk = 1
)"""

    def update(prev_c: str, assigned: str, name: str) -> str:
        return f"""{name} AS (
  SELECT {prev_c}.cell, COALESCE(u.c, {prev_c}.c) AS c
  FROM {prev_c} LEFT JOIN (
    SELECT cell, list(s / cnt ORDER BY i) AS c FROM (
      SELECT {assigned}.cell, d.i, sum(e.v[d.i]) AS s, count(*) AS cnt
      FROM {assigned} JOIN e USING (vec_id) CROSS JOIN dims d
      GROUP BY {assigned}.cell, d.i
    ) GROUP BY cell
  ) u ON u.cell = {prev_c}.cell
)"""

    return f"""
WITH dims AS (
  SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i
), e AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rn, v
  FROM e ORDER BY vec_id LIMIT {seed_cap}
), nseed AS (SELECT count(*) AS n FROM seeds),
cells AS (
  SELECT unnest(range(0, least({n_cells}, (SELECT n FROM nseed)))) AS cell
), c0 AS (
  SELECT cells.cell, s.v AS c
  FROM cells, seeds s, nseed
  WHERE s.rn = least(cells.cell * 7, nseed.n - 1)
), {assign('c0', 'a1')}, {update('c0', 'a1', 'c1')},
{assign('c1', 'a2')}, {update('c1', 'a2', 'c2')},
{assign('c2', 'af')}"""


def _sql_ann_ivf(n_cells: int = 16, n_probe: int = 4, k: int = 10) -> str:
    """SQL replay of ivf_topk: the shared IVF assignment chain plus
    probe-order (full squared distance, stable cell-index ties) and the
    probed-cell cosine top-k."""
    return _ivf_cte_prefix(n_cells) + f""", qv AS (
  SELECT embedding AS q,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q64
  FROM embeddings WHERE vec_id = 0
), probe AS (
  SELECT cell FROM (
    SELECT c2.cell,
      list_sum(list_transform(range(1, len(c2.c) + 1),
        i -> (qv.q64[i] - c2.c[i]) * (qv.q64[i] - c2.c[i]))) AS d2
    FROM c2, qv ORDER BY d2, c2.cell LIMIT {n_probe}
  )
), scored AS (
  SELECT e.vec_id,
    round({V.cosine_sql('e.embedding', 'qv.q')}, 4) AS cosine
  FROM e JOIN af USING (vec_id), qv
  WHERE af.cell IN (SELECT cell FROM probe)
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Q: semantic_dedup — SemDeDup (Abbas et al. 2023): k-means cells +
# within-cell cosine pruning, min-id keeper. The oracle replays the
# full Lloyd chain via the shared IVF CTE prefix, then the within-cell
# pairwise drop — every per-row keep decision hash-checks.

def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        load(spark, sf_dir, "embeddings"), threshold=0.35, n_cells=16
    )


def _sql_semantic_dedup(n_cells: int = 16, threshold: float = 0.35) -> str:
    cos = V.cosine_sql("ea.embedding", "eb.embedding")
    return _ivf_cte_prefix(n_cells) + f""", dropped AS (
  SELECT DISTINCT b.vec_id
  FROM af a
  JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE {cos} >= {threshold}
)
SELECT af.vec_id, af.cell,
       af.vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
FROM af
"""


# ---------------------------------------------------------------------------
# Q: winnow_fingerprint — rolling-hash winnowing fingerprints (window
# minima over the positional shingle-hash stream).

def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(load(spark, sf_dir, "documents"), k=3, w=4)


SQL_WINNOW_FINGERPRINT = f"""
WITH w AS (
  SELECT doc_id, {TX.words_sql('text')} AS w FROM documents
), sh AS (
  SELECT doc_id, {TX.shingles_seq_sql('w', 3)} AS sh FROM w
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {H.h30_sql('s')}) AS hs FROM sh
), fps AS (
  SELECT doc_id,
    list_distinct(list_transform(
      range(1, greatest(len(hs) - 3, 0) + 1),
      i -> list_min(hs[i:i+3]))) AS fps
  FROM hs
)
SELECT doc_id, unnest(fps) AS fp FROM fps
"""


# ---------------------------------------------------------------------------
# Q: cube_revenue — full CUBE over (status, priority): every grouping-set
# combination in one pass.

def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double"), 2,
            ).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "total", "n",
        )
    )


SQL_CUBE_REVENUE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
  count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Q: quantiles — exact interpolated percentiles per group (Spark
# ``percentile`` ≡ DuckDB ``quantile_cont``); the approx variant
# (approx_percentile / percentile_approx) is engine-specific, so the
# oracle pins the exact form. Two EXACT implementations (r12 verdict
# #7), switched by input size, computing bit-identical doubles:
#
# - small inputs: ``percentile(value, array(...))`` — one exchange,
#   but a TypedImperativeAggregate whose buffer is an OpenHashMap of
#   the group's whole value multiset, merged into ONE reducer per
#   group (O(distinct values) single-task memory — the catalog's
#   clearest 100 TB scale-killer when left unguarded).
# - large inputs: distributed rank arithmetic — pre-aggregate
#   (group, value) counts (map-side combine), per-group window cumsum
#   over DISTINCT values only (sort-based, spills gracefully), then
#   one conditional-max aggregation picks the bracketing values and
#   applies percentile()'s own interpolation formula
#   ``(higher - position) * vlo + (position - lower) * vhi`` with
#   position = p·(n−1), so the doubles are bit-identical (verified
#   cell-equal at sf0.001/0.01/0.1).
#
# The r12 attempt at a per-group HISTOGRAM form measured ×0.51 and was
# reverted; this window form measured ×0.61 interleaved at sf0.1 —
# both lose locally because with 3 groups the multiset buffers stay
# small and parallelize. Hence the guard: the fast single-exchange
# form below the threshold, the bounded-memory form above it. Results
# are identical on BOTH paths at every scale — the guard changes the
# physical plan, never the answer.

# 256 MiB of input parquet ≈ 1-2 GB of row data: far above every test
# SF (sf0.1 lineitem is 11 MB), far below the regime where a per-group
# value multiset threatens a reducer. Conservative on purpose — the
# window form is exact, so flipping early costs only the local ×0.61.
QUANTILES_EXACT_BUFFER_MAX_BYTES = 256 * 1024 * 1024


def _input_bytes(path: str) -> int:
    """On-disk bytes of a parquet file or directory; 2^63 on any error
    (unknown size must fail toward the bounded-memory plan)."""
    import os

    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return 1 << 63


_QUANTILES_PS = [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p99", 0.99)]


def _quantiles_window_form(li: DataFrame) -> DataFrame:
    """The bounded-memory exact form (see block comment above). NULL
    values are counted as 0, so they match no rank and an all-NULL
    group keeps its row with n = 0 and NULL quantiles, as in
    percentile()."""
    vc = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("l_extendedprice").alias("c")
    )
    wcum = (
        Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("c").over(wcum)
    frame = vc.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        (cum - F.col("c")).alias("pc"),   # exclusive prefix (0-based)
        cum.alias("cc"),                  # inclusive prefix
        F.sum("c").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    aggs = []
    for tag, p in _QUANTILES_PS:
        pos = F.lit(p) * (F.col("n") - F.lit(1)).cast("double")
        lo = F.floor(pos)
        hi = F.ceil(pos)
        aggs.append(F.max(
            F.when((F.col("pc") <= lo) & (lo < F.col("cc")), F.col("v"))
        ).alias(f"vlo_{tag}"))
        aggs.append(F.max(
            F.when((F.col("pc") <= hi) & (hi < F.col("cc")), F.col("v"))
        ).alias(f"vhi_{tag}"))
    grouped = frame.groupBy("l_returnflag", "n").agg(*aggs)
    outs = []
    for tag, p in _QUANTILES_PS:
        pos = F.lit(p) * (F.col("n") - F.lit(1)).cast("double")
        lo = F.floor(pos)
        hi = F.ceil(pos)
        # percentile()'s exact interpolation, same operand order
        exact = F.when(hi == lo, F.col(f"vlo_{tag}")).otherwise(
            (hi.cast("double") - pos) * F.col(f"vlo_{tag}")
            + (pos - lo.cast("double")) * F.col(f"vhi_{tag}")
        )
        outs.append(F.round(exact, 4).alias(tag))
    return grouped.select("l_returnflag", *outs)


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    if (_input_bytes(f"{sf_dir}/lineitem.parquet")
            > QUANTILES_EXACT_BUFFER_MAX_BYTES):
        return _quantiles_window_form(li)
    return _quantiles_percentile_form(li)


def _quantiles_percentile_form(li: DataFrame) -> DataFrame:
    """The single-exchange form for inputs under the size guard."""
    # ONE percentile aggregate over an array of percentages per group —
    # four scalar percentile() instances would each buffer the group's
    # whole value multiset (the approx_quantiles_bound lesson; 4× the
    # buffer build/merge/sort for identical output)
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))"
        ).alias("ps")
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("ps")[0], 4).alias("p25"),
        F.round(F.col("ps")[1], 4).alias("p50"),
        F.round(F.col("ps")[2], 4).alias("p75"),
        F.round(F.col("ps")[3], 4).alias("p99"),
    )


SQL_QUANTILES = """
SELECT l_returnflag,
  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q: stats_agg — second-moment statistics (stddev / correlation /
# covariance), exact closed forms shared by both engines.

def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_discount", "l_tax"), 6).alias("covar_disc_tax"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


SQL_STATS_AGG = """
SELECT l_linestatus,
  round(stddev_samp(l_quantity), 4) AS sd_qty,
  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
  round(covar_samp(l_discount, l_tax), 6) AS covar_disc_tax,
  round(avg(l_discount), 6) AS avg_disc
FROM lineitem GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Q: approx_profile — sketch-based profiling (HLL distinct counts). The
# sketch estimate is engine-specific so the raw-estimate query has no
# value oracle — the driver records its rows-only check; tests
# additionally bound the estimate against the exact count. The companion
# approx_profile_bound query turns that bound INTO the oracle: it emits
# exact counts plus within-bound booleans, so its hash-green row is a
# numeric driver-side pin of the sketch's error contract.

def q_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_approx_profile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimates checked against exact distinct counts IN the query:
    the output carries the exact counts and a boolean per sketch column
    asserting |estimate − exact| ≤ 10% · exact (5× the requested
    rsd=0.02 — far outside HLL's realistic deviation, so the row is
    deterministic, yet tight enough that a broken sketch flips it). The
    estimates themselves stay out of the output on purpose: they are the
    one engine-specific value, and the contract is what's checkable."""
    li = load(spark, sf_dir, "lineitem")
    # two exact countDistinct in ONE Aggregate would go through Expand
    # (input tripled, hashed once per grouping set — measured 4.4 s at
    # sf0.1 under full materialization). Instead: one single-pass scan
    # for the HLL sketches + row count, and a partial-distinct
    # aggregation per key column (map-side combine, only distinct keys
    # shuffle); the three 1-row frames broadcast-crossJoin back.
    sketch = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("ao"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    exact_parts = (
        li.select("l_partkey").distinct()
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    exact_orders = (
        li.select("l_orderkey").distinct()
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    agg = sketch.crossJoin(F.broadcast(exact_parts)).crossJoin(
        F.broadcast(exact_orders)
    )
    return agg.select(
        "n_rows", "exact_parts", "exact_orders",
        (F.abs(F.col("ap") - F.col("exact_parts"))
         <= F.col("exact_parts") * 0.1).alias("parts_within_bound"),
        (F.abs(F.col("ao") - F.col("exact_orders"))
         <= F.col("exact_orders") * 0.1).alias("orders_within_bound"),
    )


def q_approx_quantiles_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approx_percentile with its RANK-error contract
    checked in-query (the approx_profile_bound pattern): with accuracy
    a, the sketch's p-quantile sits within ±1/a of rank p·n, so its
    VALUE lies between the exact (p − ε)- and (p + ε)-quantiles with
    ε = 2/a. The output carries exact quantiles plus the per-percentile
    boolean; the engine-specific sketch values stay out."""
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    acc = 1000
    eps = 2.0 / acc
    pcts = [max(0.5 - eps, 0.0), 0.5, min(0.5 + eps, 1.0),
            max(0.95 - eps, 0.0), 0.95, min(0.95 + eps, 1.0)]
    # Exact percentiles WITHOUT percentile()'s whole-multiset buffer.
    # percentile() is a TypedImperativeAggregate that builds an
    # OpenHashMap of every distinct value per task and merges ALL of
    # them into one final buffer — r11's one-array-of-6 form already
    # collapsed six buffers to one (10.9 s → 3.3 s), but the remaining
    # buffer alone timed 2.4 s at sf0.1 (vs 0.23 s for a plain count
    # over the same scan) and is single-reducer memory O(distinct
    # values) at 100 TB. r12 replaces it with rank arithmetic over a
    # value-bucket histogram (guide §1.2 step 1 — fix the algorithm):
    #   scan 1  per-floor(value) bucket counts (map-side partial agg);
    #   cumulative counts over the SMALL bucket table locate, for each
    #   of the 12 needed global ranks (floor/ceil of p·(n−1) per
    #   percentile), its bucket and local rank — a broadcast 12-row
    #   non-equi join against the histogram;
    #   scan 2  rows of the ≤12 hit buckets only (broadcast semi-join),
    #   ranked within each tiny bucket, pick the local-rank element;
    #   interpolate lower + (higher−lower)·(pos−floor(pos)) — the same
    #   double arithmetic as percentile(), so values are bit-identical
    #   (verified: identical rows at sf0.01 and sf0.1). 2.60 → 1.71 s
    #   measured interleaved; the window/Sort run over the ~1e5-row
    #   histogram, never the data, and no operator buffers the column.
    b = li.groupBy(F.floor("l_extendedprice").alias("bkt")).agg(
        F.count("*").alias("cnt"))
    wcum = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = b.select(
        "bkt", "cnt", F.sum("cnt").over(wcum).alias("cum")).persist()
    nrow = cum.agg(F.max("cum").alias("n"))
    pct_rows = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(pcts)], "pct_id int, p double")
    ranks = (
        pct_rows.crossJoin(F.broadcast(nrow))
        .select("pct_id",
                (F.col("p") * (F.col("n") - 1).cast("double")).alias("pos"))
        .select("pct_id", "pos", F.explode(F.array(
            F.struct(F.lit(0).alias("w"),
                     (F.floor("pos") + 1).cast("bigint").alias("r")),
            F.struct(F.lit(1).alias("w"),
                     (F.ceil("pos") + 1).cast("bigint").alias("r")),
        )).alias("wr"))
        .select("pct_id", "pos", F.col("wr.w").alias("w"),
                F.col("wr.r").alias("r"))
    )
    loc = (
        F.broadcast(ranks).join(
            cum,
            (F.col("cum") >= F.col("r"))
            & ((F.col("cum") - F.col("cnt")) < F.col("r")),
        )
        .select("pct_id", "pos", "w",
                (F.col("r") - (F.col("cum") - F.col("cnt"))).alias("lr"),
                "bkt")
        .persist()
    )
    cand = li.join(
        F.broadcast(loc.select("bkt").distinct()),
        F.floor("l_extendedprice") == F.col("bkt"),
    ).select("bkt", "l_extendedprice")
    rn = F.row_number().over(
        Window.partitionBy("bkt").orderBy("l_extendedprice"))
    picked = (
        cand.withColumn("rn", rn)
        .join(F.broadcast(loc),
              (cand["bkt"] == loc["bkt"]) & (F.col("rn") == F.col("lr")))
        .select("pct_id", "pos", "w", "l_extendedprice")
    )
    per_pct = picked.groupBy("pct_id", "pos").agg(
        F.max(F.when(F.col("w") == 0, F.col("l_extendedprice"))).alias("vlo"),
        F.max(F.when(F.col("w") == 1, F.col("l_extendedprice"))).alias("vhi"),
    )
    x = per_pct.select(
        "pct_id",
        (F.col("vlo") + (F.col("vhi") - F.col("vlo"))
         * (F.col("pos") - F.floor("pos"))).alias("x"),
    )
    xs = x.agg(*[
        F.max(F.when(F.col("pct_id") == i, F.col("x"))).alias(f"x{i}")
        for i in range(6)
    ])
    sk = li.agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.95), {acc})"
        ).alias("asketch"),
    )
    agg = sk.crossJoin(F.broadcast(xs))
    x = {
        "lo_p50": F.col("x0"), "x_p50": F.col("x1"), "hi_p50": F.col("x2"),
        "lo_p95": F.col("x3"), "x_p95": F.col("x4"), "hi_p95": F.col("x5"),
        "a_p50": F.col("asketch")[0], "a_p95": F.col("asketch")[1],
    }
    return agg.select(
        F.round(x["x_p50"], 2).alias("exact_p50"),
        F.round(x["x_p95"], 2).alias("exact_p95"),
        ((x["a_p50"] >= x["lo_p50"])
         & (x["a_p50"] <= x["hi_p50"])).alias("p50_within_bound"),
        ((x["a_p95"] >= x["lo_p95"])
         & (x["a_p95"] <= x["hi_p95"])).alias("p95_within_bound"),
    )


SQL_APPROX_QUANTILES_BOUND = """
SELECT
  round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_p50,
  round(quantile_cont(l_extendedprice, 0.95), 2) AS exact_p95,
  TRUE AS p50_within_bound,
  TRUE AS p95_within_bound
FROM lineitem
"""


def q_cms_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (df.stat.countMinSketch) with its two-sided
    contract checked in-query: CMS never under-counts, and over-counts
    by at most ε·N with confidence 1−δ (Cormode & Muthukrishnan 2005).
    The sketch is a bounded driver-side summary (depth×width counters —
    parameters, not data); exact per-flag counts ride the same
    aggregation. ε=0.01, δ=0.01; the bound check uses 3ε·N so the row
    is deterministic at any realistic seed."""
    from globallinks_spark.functions.sketches import count_min_sketch

    # two passes over ONE pruned parquet column (cheaper than persisting
    # full rows): the groupBy supplies both the exact counts and n, the
    # sketch build is the second scan
    flags = load(spark, sf_dir, "lineitem").select("l_returnflag")
    exact = {
        r["l_returnflag"]: r["count"]
        for r in flags.groupBy("l_returnflag").count().collect()
    }
    n = sum(exact.values())
    cms = count_min_sketch(flags, "l_returnflag", 0.01, 0.99, 42)
    rows = []
    for flag in sorted(exact):
        est = cms.estimateCount(flag)
        rows.append((
            flag,
            int(exact[flag]),
            bool(est >= exact[flag]),
            bool(est <= exact[flag] + 3 * 0.01 * n),
        ))
    return spark.createDataFrame(
        rows,
        "flag string, exact_count bigint, never_undercounts boolean, "
        "overcount_bounded boolean",
    )


SQL_CMS_BOUND = """
SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS exact_count,
  TRUE AS never_undercounts, TRUE AS overcount_bounded
FROM lineitem GROUP BY 1
"""


def q_bloom_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (df.stat.bloomFilter) contract checked in-query:
    NO false negatives (every present key answers true) and a false-
    positive rate on known-absent keys within 3× the requested fpp.
    The filter is a bounded driver-side bit array; the probe sets are
    deterministic (first 200 real part keys; 200 keys offset past the
    key domain)."""
    keys = load(spark, sf_dir, "lineitem").select("l_partkey")
    parts = [
        r.l_partkey
        for r in keys.distinct().orderBy("l_partkey").limit(200).collect()
    ]
    from globallinks_spark.functions.sketches import bloom_filter

    bf = bloom_filter(keys, "l_partkey", 300000, 0.03)
    present_ok = all(bf.mightContain(k) for k in parts)
    absent = [k + 100_000_000 for k in parts]
    fp = sum(1 for k in absent if bf.mightContain(k)) / len(absent)
    return spark.createDataFrame(
        [(len(parts), bool(present_ok), bool(fp <= 3 * 0.03))],
        "n_probed bigint, no_false_negatives boolean, fp_rate_bounded boolean",
    )


SQL_BLOOM_BOUND = """
SELECT CAST(least(count(DISTINCT l_partkey), 200) AS BIGINT) AS n_probed,
  TRUE AS no_false_negatives, TRUE AS fp_rate_bounded
FROM lineitem
"""


SQL_APPROX_PROFILE_BOUND = """
SELECT count(*) AS n_rows,
  count(DISTINCT l_partkey) AS exact_parts,
  count(DISTINCT l_orderkey) AS exact_orders,
  TRUE AS parts_within_bound,
  TRUE AS orders_within_bound
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Q: set_ops — INTERSECT / EXCEPT surface (SURVEY §2.7: the reference has
# none; a complete engine needs them).

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    with_orders = o.select(F.col("o_custkey").alias("custkey")).distinct()
    with_open = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey")).distinct()
    )
    all_cust = c.select(F.col("c_custkey").alias("custkey"))
    closed_only = with_orders.exceptAll(with_open)
    no_orders = all_cust.exceptAll(with_orders)
    both = with_orders.intersect(all_cust)
    return (
        closed_only.withColumn("category", F.lit("closed_only"))
        .unionByName(no_orders.withColumn("category", F.lit("no_orders")))
        .unionByName(both.withColumn("category", F.lit("customer_with_orders")))
    )


SQL_SET_OPS = """
WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
with_open AS (SELECT DISTINCT o_custkey AS custkey FROM orders
              WHERE o_orderstatus = 'O'),
all_cust AS (SELECT c_custkey AS custkey FROM customer)
SELECT custkey, 'closed_only' AS category
  FROM (SELECT custkey FROM with_orders EXCEPT ALL SELECT custkey FROM with_open)
UNION ALL
SELECT custkey, 'no_orders'
  FROM (SELECT custkey FROM all_cust EXCEPT ALL SELECT custkey FROM with_orders)
UNION ALL
SELECT custkey, 'customer_with_orders'
  FROM (SELECT custkey FROM with_orders INTERSECT SELECT custkey FROM all_cust)
"""


# ---------------------------------------------------------------------------
# Q: pivot_status — pivot (wide counts), unpivoted oracle via CASE sums.

def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))  # count("*") star is invalid inside pivot
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_pending"),
    )


SQL_PIVOT_STATUS = """
SELECT o_orderpriority,
  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q: gopher_quality — Gopher-style document quality rules (Rae et al.
# 2021 §A1.1): word-count bounds, mean-word-length bounds, symbol-to-word
# ratio, distinct-stopword floor. Flags exposed per rule + composite pass.

def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", "text", TX.words(F.col("text")).alias("w"))
    n = F.size("w")
    mwl = TX.mean_word_len(F.col("w"))
    sym = TX.symbol_word_ratio(F.col("text"), F.col("w"))
    nstop = TX.distinct_stopword_count(F.col("w"))
    ok_words = (n >= TX.GOPHER_MIN_WORDS) & (n <= TX.GOPHER_MAX_WORDS)
    ok_mwl = (mwl >= TX.GOPHER_MIN_MEAN_WORD_LEN) & (
        mwl <= TX.GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_sym = sym < TX.GOPHER_MAX_SYMBOL_RATIO
    ok_stop = nstop >= TX.GOPHER_MIN_DISTINCT_STOPWORDS
    return base.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        nstop.alias("n_stop_distinct"),
        ok_words.cast("int").alias("ok_words"),
        ok_mwl.cast("int").alias("ok_word_len"),
        ok_sym.cast("int").alias("ok_symbols"),
        ok_stop.cast("int").alias("ok_stopwords"),
        (ok_words & ok_mwl & ok_sym & ok_stop).cast("int").alias("pass"),
    )


def _sql_gopher_quality() -> str:
    mwl = TX.mean_word_len_sql("w")
    sym = TX.symbol_word_ratio_sql("text", "w")
    nstop = TX.distinct_stopword_count_sql("w")
    ok_words = (
        f"(len(w) >= {TX.GOPHER_MIN_WORDS} AND len(w) <= {TX.GOPHER_MAX_WORDS})"
    )
    ok_mwl = (
        f"({mwl} >= {TX.GOPHER_MIN_MEAN_WORD_LEN} "
        f"AND {mwl} <= {TX.GOPHER_MAX_MEAN_WORD_LEN})"
    )
    ok_sym = f"({sym} < {TX.GOPHER_MAX_SYMBOL_RATIO})"
    ok_stop = f"({nstop} >= {TX.GOPHER_MIN_DISTINCT_STOPWORDS})"
    return f"""
WITH base AS (
  SELECT doc_id, text, {TX.words_sql('text')} AS w FROM documents
)
SELECT doc_id,
  len(w) AS n_words,
  round({mwl}, 4) AS mean_word_len,
  round({sym}, 4) AS symbol_ratio,
  {nstop} AS n_stop_distinct,
  CAST({ok_words} AS INT) AS ok_words,
  CAST({ok_mwl} AS INT) AS ok_word_len,
  CAST({ok_sym} AS INT) AS ok_symbols,
  CAST({ok_stop} AS INT) AS ok_stopwords,
  CAST({ok_words} AND {ok_mwl} AND {ok_sym} AND {ok_stop} AS INT) AS pass
FROM base
"""


# ---------------------------------------------------------------------------
# Q: repetition_profile — repeated-content signals per document: the
# mass fraction of the single most frequent word / 2-gram / 3-gram
# (LLM-data pipelines drop documents dominated by one n-gram). Computed
# by explode → two-level aggregation — corpus-linear, one shuffle per
# gram size, no per-doc UDF.

def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", TX.words(F.col("text")).alias("w")).persist()
    base.count()  # materialization barrier: three gram branches + the
    # final join legs all read this frame in ONE action; without the
    # barrier their tasks race to fill the cache and re-tokenize

    def top_ratio(gram_col, out: str) -> DataFrame:
        counts = (
            base.select("doc_id", F.explode(gram_col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("cnt"))
        )
        return counts.groupBy("doc_id").agg(
            F.round(
                F.max("cnt").cast("double") / F.sum("cnt"), 4
            ).alias(out)
        )

    r1 = top_ratio(F.col("w"), "top_word_ratio")
    r2 = top_ratio(TX.shingles_seq(F.col("w"), 2), "top_2gram_ratio")
    r3 = top_ratio(TX.shingles_seq(F.col("w"), 3), "top_3gram_ratio")
    out = (
        base.select("doc_id")
        .join(r1, "doc_id", "left")
        .join(r2, "doc_id", "left")
        .join(r3, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_word_ratio", F.lit(0.0)).alias("top_word_ratio"),
            F.coalesce("top_2gram_ratio", F.lit(0.0)).alias("top_2gram_ratio"),
            F.coalesce("top_3gram_ratio", F.lit(0.0)).alias("top_3gram_ratio"),
        )
    )
    return out


def _sql_repetition_profile() -> str:
    def ratio_cte(gram_expr: str, tag: str) -> str:
        return f"""g{tag} AS (
  SELECT doc_id, unnest({gram_expr}) AS g FROM w
), c{tag} AS (
  SELECT doc_id, g, count(*) AS cnt FROM g{tag} GROUP BY doc_id, g
), r{tag} AS (
  SELECT doc_id, round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS r
  FROM c{tag} GROUP BY doc_id
)"""

    return f"""
WITH w AS (
  SELECT doc_id, {TX.words_sql('text')} AS w FROM documents
), {ratio_cte('w', '1')}, {ratio_cte(TX.shingles_seq_sql('w', 2), '2')},
{ratio_cte(TX.shingles_seq_sql('w', 3), '3')}
SELECT w.doc_id,
  coalesce(r1.r, 0.0) AS top_word_ratio,
  coalesce(r2.r, 0.0) AS top_2gram_ratio,
  coalesce(r3.r, 0.0) AS top_3gram_ratio
FROM w LEFT JOIN r1 ON w.doc_id = r1.doc_id
LEFT JOIN r2 ON w.doc_id = r2.doc_id
LEFT JOIN r3 ON w.doc_id = r3.doc_id
"""


# ---------------------------------------------------------------------------
# Q: pii_scrub — PII detection + redaction (email / phone / IPv4), the
# scrub stage of a training-data pipeline. The documents fixture has no
# PII, so the query synthesizes contact text from customer columns
# deterministically in BOTH engines (the q_url_parse pattern) — matches
# are real and the redacted text is hash-compared.

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    phone = F.concat_ws(
        "-",
        (F.col("c_custkey") % 90 + 10).cast("string"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lpad((F.col("c_nationkey") * 37 % 1000).cast("string"), 3, "0"),
        F.lpad((F.col("c_custkey") * 7 % 10000).cast("string"), 4, "0"),
    )
    text = F.concat(
        F.col("c_name"), F.lit(" reach me at "), phone,
        F.lit(" or "),
        F.lower(F.regexp_replace(F.col("c_name"), r"[^A-Za-z0-9]", ".")),
        F.lit("@example.com from host 10."),
        (F.col("c_custkey") % 250).cast("string"), F.lit(".0.7"),
    )
    base = c.select("c_custkey", text.alias("contact_text"))
    counts = TX.pii_counts(F.col("contact_text"))
    return base.select(
        "c_custkey",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ips"].alias("n_ips"),
        TX.pii_scrub(F.col("contact_text")).alias("scrubbed"),
    )


def _sql_pii_scrub() -> str:
    phone = (
        "CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' || "
        "lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(c_nationkey * 37 % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(c_custkey * 7 % 10000 AS VARCHAR), 4, '0')"
    )
    text = (
        f"c_name || ' reach me at ' || {phone} || ' or ' || "
        "lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) || "
        "'@example.com from host 10.' || CAST(c_custkey % 250 AS VARCHAR) "
        "|| '.0.7'"
    )
    counts = TX.pii_counts_sql("contact_text")
    return f"""
WITH base AS (
  SELECT c_custkey, {text} AS contact_text FROM customer
)
SELECT c_custkey,
  {counts['n_emails']} AS n_emails,
  {counts['n_phones']} AS n_phones,
  {counts['n_ips']} AS n_ips,
  {TX.pii_scrub_sql('contact_text')} AS scrubbed
FROM base
"""


# ---------------------------------------------------------------------------
# Q: curation_pipeline — the end-to-end corpus-curation composition a
# training run actually executes: Gopher quality gate ∧ near-duplicate
# removal (LSH groups → keep only keepers) ∧ deterministic split
# assignment. One statement in the oracle too (the dedup CTEs compose),
# so the driver hash-checks the whole pipeline, not just its stages.

def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import dedup_groups

    d = load(spark, sf_dir, "documents")
    deletes = (
        dedup_groups(d, threshold=0.5)
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    w = TX.words(F.col("text"))
    n = F.size(w)
    mwl = TX.mean_word_len(w)
    sym = TX.symbol_word_ratio(F.col("text"), w)
    nstop = TX.distinct_stopword_count(w)
    passes = (
        (n >= TX.GOPHER_MIN_WORDS) & (n <= TX.GOPHER_MAX_WORDS)
        & (mwl >= TX.GOPHER_MIN_MEAN_WORD_LEN)
        & (mwl <= TX.GOPHER_MAX_MEAN_WORD_LEN)
        & (sym < TX.GOPHER_MAX_SYMBOL_RATIO)
        & (nstop >= TX.GOPHER_MIN_DISTINCT_STOPWORDS)
    )
    slot = H.h60(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(slot < 90, "train").when(slot < 95, "val").otherwise("test")
    )
    return (
        d.filter(passes)
        .join(deletes, "doc_id", "left_anti")
        .select("doc_id", "lang", split.alias("split"))
    )


def _sql_curation_pipeline() -> str:
    mwl = TX.mean_word_len_sql("w.w")
    sym = TX.symbol_word_ratio_sql("d.text", "w.w")
    nstop = TX.distinct_stopword_count_sql("w.w")
    slot = (
        f"({H.h60_sql(chr(39) + 'split:' + chr(39) + ' || CAST(d.doc_id AS VARCHAR)')} % 100)"
    )
    return f"""
WITH RECURSIVE {_sql_minhash_ctes()},
sym_e AS (
  SELECT doc_a AS a, doc_b AS b FROM lshp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM lshp
),
reach(a, b) AS (
  SELECT a, b FROM sym_e
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym_e s ON r.b = s.a
),
nonkeep AS (
  SELECT a AS doc_id FROM reach GROUP BY a
  HAVING a <> least(a, min(b))
)
SELECT d.doc_id, d.lang,
  CASE WHEN {slot} < 90 THEN 'train'
       WHEN {slot} < 95 THEN 'val'
       ELSE 'test' END AS split
FROM documents d JOIN w ON d.doc_id = w.doc_id
WHERE len(w.w) >= {TX.GOPHER_MIN_WORDS}
  AND len(w.w) <= {TX.GOPHER_MAX_WORDS}
  AND {mwl} >= {TX.GOPHER_MIN_MEAN_WORD_LEN}
  AND {mwl} <= {TX.GOPHER_MAX_MEAN_WORD_LEN}
  AND {sym} < {TX.GOPHER_MAX_SYMBOL_RATIO}
  AND {nstop} >= {TX.GOPHER_MIN_DISTINCT_STOPWORDS}
  AND d.doc_id NOT IN (SELECT doc_id FROM nonkeep)
"""


# ---------------------------------------------------------------------------
# Q: tfidf_top_terms — corpus TF-IDF, top-3 characteristic tokens per
# document (smooth idf = ln((N+1)/(df+1)) + 1). Two corpus-linear
# aggregations (term freq, doc freq) + a broadcast scalar N; ranking on
# the ROUNDED score keeps the cutoff engine-reproducible (ln differs in
# the last ulp across libm implementations).

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(TX.words(F.col("text"))).alias("tok"))
    tf = w.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = w.select("doc_id").distinct().agg(
        F.count("*").alias("n")
    )
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "tok",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH w AS (
  SELECT doc_id, unnest({TX.words_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM w GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), n AS (
  SELECT count(DISTINCT doc_id) AS n FROM w
), scored AS (
  SELECT tf.doc_id, tf.tok,
    round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok), n
)
SELECT doc_id, tok, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
  ) AS rn FROM scored
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# Q: stratified_sample — per-language deterministic sampling (the
# corpus-balancing stage of a training pipeline). Membership is
# h60(doc_id) % 1000 < rate‰ via the cross-engine kernel — reproducible
# run-to-run, engine-independent, and a stable row property (adding or
# removing OTHER rows never changes a row's fate, unlike reservoir or
# Bernoulli-by-seed sampling).

_SAMPLE_RATES = {"en": 500, "de": 250, "fr": 100}  # per-mille by lang


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    key = H.h60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(rate))
            for lang, rate in _SAMPLE_RATES.items()
        ],
        F.lit(0),
    )
    return (
        d.filter((key % 1000) < rate)
        .select("doc_id", "lang", "source")
    )


def _sql_stratified_sample() -> str:
    key = H.h60_sql("'sample:' || CAST(doc_id AS VARCHAR)")
    rate = " ".join(
        f"WHEN lang = '{lang}' THEN {r}"
        for lang, r in _SAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE ({key} % 1000) < (CASE {rate} ELSE 0 END)
"""


# ---------------------------------------------------------------------------
# Q: dataset_split — deterministic train/val/test assignment from the
# same keyed hash (90/5/5). A row's split never changes as the corpus
# grows — the property that keeps eval sets honest across dataset
# versions.

def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    slot = H.h60(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(slot < 90, "train")
        .when(slot < 95, "val")
        .otherwise("test")
    )
    return d.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
    )


def _sql_dataset_split() -> str:
    slot = f"({H.h60_sql(chr(39) + 'split:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} % 100)"
    return f"""
SELECT CASE WHEN {slot} < 90 THEN 'train'
            WHEN {slot} < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Q: training_assembly — the round-3 operators composed end-to-end into
# one hash-checked plan (the curation_pipeline pattern): per-domain cap
# → cross-doc duplicate-span removal over the CAPPED corpus (order is
# load-bearing: first-occurrence winners differ if the cap runs second)
# → min-surviving-tokens gate → deterministic split → token-budget
# packing of the SURVIVING token counts per (split, shard).

_ASM_CAP = 15
_ASM_MIN_TOKENS = 10
_ASM_BUDGET = 256
_ASM_SHARDS = 4


def q_training_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.corpus import span_dedup_rewrite
    from globallinks_spark.operators.packing import domain_cap

    d = load(spark, sf_dir, "documents")
    capped = domain_cap(d, cap=_ASM_CAP)
    spanned = span_dedup_rewrite(capped, n=8)
    joined = (
        spanned.join(capped.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            (F.col("n_tokens") - F.col("n_removed")).alias("kept_tokens"),
        )
        .filter(F.col("kept_tokens") >= _ASM_MIN_TOKENS)
    )
    slot = H.h60(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % 100
    split = (
        F.when(slot < 90, "train").when(slot < 95, "val").otherwise("test")
    )
    shard = H.h60(
        F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))
    ) % _ASM_SHARDS
    order = H.h60(
        F.concat(F.lit("packorder:"), F.col("doc_id").cast("string"))
    )
    staged = joined.select(
        "doc_id", "source", "kept_tokens",
        split.alias("split"), shard.alias("shard"), order.alias("__ord"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy(F.col("__ord").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("kept_tokens").over(w)
    local_bin = F.floor((cum - F.col("kept_tokens")) / F.lit(_ASM_BUDGET))
    return staged.select(
        "doc_id",
        "source",
        "split",
        "kept_tokens",
        F.concat_ws(
            ":", "split", F.col("shard").cast("string"),
            local_bin.cast("string"),
        ).alias("bin_id"),
    )


def _sql_training_assembly() -> str:
    from globallinks_spark.operators.corpus import span_dedup_rewrite_sql
    from globallinks_spark.operators.packing import domain_cap_sql

    slot = H.h60_sql("'split:' || CAST(doc_id AS VARCHAR)") + " % 100"
    shard = (
        H.h60_sql("'pack:' || CAST(doc_id AS VARCHAR)")
        + f" % {_ASM_SHARDS}"
    )
    order = H.h60_sql("'packorder:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH capped AS (
  SELECT * FROM ({domain_cap_sql(cap=_ASM_CAP)})
), spanned AS (
  SELECT * FROM ({span_dedup_rewrite_sql(table='capped')})
), joined AS (
  SELECT s.doc_id, c.source, s.n_tokens - s.n_removed AS kept_tokens
  FROM spanned s JOIN capped c USING (doc_id)
  WHERE s.n_tokens - s.n_removed >= {_ASM_MIN_TOKENS}
), staged AS (
  SELECT doc_id, source, kept_tokens,
    CASE WHEN ({slot}) < 90 THEN 'train'
         WHEN ({slot}) < 95 THEN 'val' ELSE 'test' END AS split,
    ({shard}) AS shard,
    {order} AS ord
  FROM joined
), packed AS (
  SELECT doc_id, source, split, kept_tokens, shard,
    sum(kept_tokens) OVER (
      PARTITION BY split, shard ORDER BY ord ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM staged
)
SELECT doc_id, source, split, kept_tokens,
  split || ':' || CAST(shard AS VARCHAR) || ':' ||
    CAST(CAST(floor((cum - kept_tokens) / {_ASM_BUDGET}) AS BIGINT)
         AS VARCHAR) AS bin_id
FROM packed
"""


# ---------------------------------------------------------------------------
# Q: session_window_agg — Spark's NATIVE gap-based session windows
# (F.session_window), complementing queries.q_sessionize's manual
# lag/cumsum build. Semantics differ at the boundary: session_window
# extends [ts, ts+gap) per event (an event exactly gap later starts a
# NEW session), so the oracle flags new sessions on gap >= 1800 over
# EXACT fractional epochs — unlike sessionize's floor-epoch "> 1800".
# session_end is last_event + gap (the native window's close time).

_SESSION_GAP_SEC = 1800


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{_SESSION_GAP_SEC} seconds").alias("sw"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


SQL_SESSION_WINDOW_AGG = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch(ts) - epoch(lag(ts) OVER w) >= {_SESSION_GAP_SEC}
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL {_SESSION_GAP_SEC} SECOND AS session_end,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
    AS session_value
FROM sessions GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Q: bm25_search — ranked retrieval over the corpus (Robertson BM25,
# Lucene idf variant; operators/corpus.bm25_topk).

_BM25_QUERY = ["scan", "merge", "stream"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.bm25_topk(load(spark, sf_dir, "documents"), _BM25_QUERY, k=10)


def _sql_bm25_search() -> str:
    from globallinks_spark.operators import corpus as C

    return C.bm25_topk_sql(_BM25_QUERY, k=10)


# ---------------------------------------------------------------------------
# Q: triangle_count — per-node triangle participation on a deterministic
# synthetic graph (operators/graph.triangle_count). Each customer key k
# plants the triangle (k, 3k+1, 7k+2) mod 101, so the canonical
# a<b<c enumeration has real work at every sf.

_TRI_MOD = 101


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.graph import triangle_count

    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a = (k % _TRI_MOD).alias("src")
    b = ((k * 3 + 1) % _TRI_MOD).alias("dst")
    cc = ((k * 7 + 2) % _TRI_MOD)
    edges = (
        c.select(a, b)
        .unionAll(c.select((k % _TRI_MOD).alias("src"), cc.alias("dst")))
        .unionAll(
            c.select(((k * 3 + 1) % _TRI_MOD).alias("src"), cc.alias("dst"))
        )
    )
    return triangle_count(edges)


def _sql_triangle_count() -> str:
    m = _TRI_MOD
    return f"""
WITH raw AS (
  SELECT c_custkey % {m} AS src, (c_custkey * 3 + 1) % {m} AS dst
  FROM customer
  UNION ALL
  SELECT c_custkey % {m}, (c_custkey * 7 + 2) % {m} FROM customer
  UNION ALL
  SELECT (c_custkey * 3 + 1) % {m}, (c_custkey * 7 + 2) % {m}
  FROM customer
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node
"""


# ---------------------------------------------------------------------------
# Q: clustering_coeff — per-node local clustering coefficient on the
# planted-triangle synthetic graph (graph.clustering_coefficient).

def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.graph import clustering_coefficient

    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cc = ((k * 7 + 2) % _TRI_MOD)
    edges = (
        c.select((k % _TRI_MOD).alias("src"),
                 ((k * 3 + 1) % _TRI_MOD).alias("dst"))
        .unionAll(c.select((k % _TRI_MOD).alias("src"), cc.alias("dst")))
        .unionAll(
            c.select(((k * 3 + 1) % _TRI_MOD).alias("src"), cc.alias("dst"))
        )
    )
    return clustering_coefficient(edges)


def _sql_clustering_coeff() -> str:
    m = _TRI_MOD
    return f"""
WITH raw AS (
  SELECT c_custkey % {m} AS src, (c_custkey * 3 + 1) % {m} AS dst
  FROM customer
  UNION ALL
  SELECT c_custkey % {m}, (c_custkey * 7 + 2) % {m} FROM customer
  UNION ALL
  SELECT (c_custkey * 3 + 1) % {m}, (c_custkey * 7 + 2) % {m}
  FROM customer
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tc AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT deg.node, deg.degree,
  coalesce(tc.n_triangles, 0) AS n_triangles,
  CASE WHEN deg.degree >= 2 THEN
    round(2.0 * coalesce(tc.n_triangles, 0)
          / (deg.degree * (deg.degree - 1)), 6)
  ELSE 0.0 END AS coeff
FROM deg LEFT JOIN tc USING (node)
"""


# ---------------------------------------------------------------------------
# Q: dedup_eval — precision/recall of the LSH near-dup operator against
# the exact n-gram-Jaccard ground truth, as ONE hash-checked report
# (the dedup-QA query a pipeline runs before trusting its delete list).
# Verification is exact on both paths, so precision is 1.0 BY
# CONSTRUCTION and the hash check pins that; recall measures band
# geometry.

def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        with_shingle_hashes,
    )

    d = load(spark, sf_dir, "documents")
    # ONE shingle table feeds both pipelines — each would otherwise
    # tokenize+md5 the corpus into its own persisted copy
    sh = with_shingle_hashes(d).persist()
    sh.count()
    truth = ngram_jaccard_pairs(d, threshold=0.5, shingled=sh).select(
        "doc_a", "doc_b", F.lit(True).alias("in_t")
    )
    lsh = minhash_dedup_pairs(d, threshold=0.5, shingled=sh).select(
        "doc_a", "doc_b", F.lit(True).alias("in_l")
    )
    # ONE full-outer join + ONE aggregation — each pair pipeline's
    # lineage evaluates once; a count()-per-metric version re-ran both
    # pipelines three times (measured 10 s vs 4 s at sf0.1)
    j = truth.join(lsh, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.count("in_t").cast("bigint").alias("n_true"),
        F.count("in_l").cast("bigint").alias("n_lsh"),
        F.count(F.when(F.col("in_t") & F.col("in_l"), 1))
        .cast("bigint")
        .alias("n_common"),
    )
    return agg.select(
        "n_true", "n_lsh", "n_common",
        F.when(F.col("n_lsh") > 0,
               F.round(F.col("n_common") / F.col("n_lsh"), 6))
        .otherwise(0.0).alias("precision"),
        F.when(F.col("n_true") > 0,
               F.round(F.col("n_common") / F.col("n_true"), 6))
        .otherwise(0.0).alias("recall"),
    )


def _sql_dedup_eval() -> str:
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD})
), lsh AS (
  SELECT doc_a, doc_b FROM ({_sql_minhash_lsh()})
), c AS (
  SELECT
    (SELECT count(*) FROM truth) AS n_true,
    (SELECT count(*) FROM lsh) AS n_lsh,
    (SELECT count(*) FROM truth JOIN lsh USING (doc_a, doc_b)) AS n_common
)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_lsh AS BIGINT) AS n_lsh,
  CAST(n_common AS BIGINT) AS n_common,
  CASE WHEN n_lsh > 0 THEN round(CAST(n_common AS DOUBLE) / n_lsh, 6)
       ELSE 0.0 END AS precision,
  CASE WHEN n_true > 0 THEN round(CAST(n_common AS DOUBLE) / n_true, 6)
       ELSE 0.0 END AS recall
FROM c
"""


# ---------------------------------------------------------------------------
# Q: event_anomaly — per-user trailing-window z-scores (the streaming
# feature-engineering shape: "is this value unusual for THIS user?").

_ANOM_LOOKBACK = 20
_ANOM_Z = 2.5


def q_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ANOM_LOOKBACK, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev("value").over(w)
    z = F.when(sd > 0, F.round((F.col("value") - mu) / sd, 6))
    return ev.select(
        "event_id",
        "user_id",
        z.alias("z"),
        F.coalesce(F.abs(z) > _ANOM_Z, F.lit(False)).alias("anomaly"),
    )


SQL_EVENT_ANOMALY = f"""
WITH stats AS (
  SELECT event_id, user_id, value,
    avg(value) OVER w AS mu,
    stddev_samp(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ANOM_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
  CASE WHEN sd > 0 THEN round((value - mu) / sd, 6) END AS z,
  coalesce(abs(CASE WHEN sd > 0 THEN round((value - mu) / sd, 6) END)
           > {_ANOM_Z}, FALSE) AS anomaly
FROM stats
"""


# ---------------------------------------------------------------------------
# Q: domain_cap — at most N docs per source, keyed-hash selection
# (operators/packing.domain_cap): the C4/RefinedWeb per-domain limit.

def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.packing import domain_cap

    return domain_cap(
        load(spark, sf_dir, "documents"), cap=10
    ).select("doc_id", "source", "cap_rank")


def _sql_domain_cap() -> str:
    from globallinks_spark.operators.packing import domain_cap_sql

    inner = domain_cap_sql(cap=10)
    return f"SELECT doc_id, source, cap_rank FROM ({inner})"


# ---------------------------------------------------------------------------
# Q: pack_sequences — token-budget bin assignment (sequence packing for
# training batches; operators/packing.pack_sequences).

def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.packing import pack_sequences

    return pack_sequences(
        load(spark, sf_dir, "documents"), budget=512, n_shards=8
    )


def _sql_pack_sequences() -> str:
    from globallinks_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql(budget=512, n_shards=8)


# ---------------------------------------------------------------------------
# Q: pagerank — authority scoring over a link graph, the canonical next
# query on a backlink database (Page & Brin 1998). Edges synthesize
# deterministically from customer keys in BOTH engines (the q_url_parse
# pattern); the oracle unrolls the same 3 synchronous iterations as CTE
# stages, with the operator's 12-decimal per-iteration rounding making
# the fp path engine-identical.

_PR_MOD = 499
_PR_DAMPING = 0.85
_PR_ITERATIONS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.graph import pagerank

    c = load(spark, sf_dir, "customer")
    edges = c.select(
        (F.col("c_custkey") % _PR_MOD).alias("src"),
        ((F.col("c_custkey") * 7 + 1) % _PR_MOD).alias("dst"),
    )
    return pagerank(
        edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING
    ).select(F.col("node"), F.col("rank"))


def _sql_pagerank() -> str:
    d = _PR_DAMPING
    stages = []
    prev = "r0"
    for it in range(1, _PR_ITERATIONS + 1):
        stages.append(f"""i{it} AS (
  SELECT e.dst, sum({prev}.rank / deg.deg) AS s
  FROM e JOIN deg USING (src) JOIN {prev} ON e.src = {prev}.node
  GROUP BY e.dst
), r{it} AS (
  SELECT v.node,
    round((1.0 - {d}) / params.n + {d} * coalesce(i{it}.s, 0.0), 12) AS rank
  FROM v LEFT JOIN i{it} ON v.node = i{it}.dst, params
)""")
        prev = f"r{it}"
    joined = ",\n".join(stages)
    return f"""
WITH e AS (
  SELECT DISTINCT c_custkey % {_PR_MOD} AS src,
                  (c_custkey * 7 + 1) % {_PR_MOD} AS dst
  FROM customer
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), v AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), params AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM v
), r0 AS (
  SELECT node, round(1.0 / params.n, 12) AS rank FROM v, params
),
{joined}
SELECT node, round(rank, 6) AS rank FROM {prev}
"""


# ---------------------------------------------------------------------------
# Corpus-curation batch (operators/corpus.py): contamination,
# duplicated spans, temperature resampling, quality classifier,
# bigram-LM fluency. All brief-extension operators with full oracles.

def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-lookback self range join: per event, count/value-sum of
    events in the preceding 10 minutes (operators/rangejoin.py — the
    bucketized plan; Spark's native plan for this predicate is a
    BroadcastNestedLoopJoin). Oracle is the naive BETWEEN join, which
    DuckDB executes as an IEJoin."""
    from globallinks_spark.operators.rangejoin import prior_event_stats

    return prior_event_stats(load(spark, sf_dir, "events"), 600)


SQL_RANGE_JOIN = """
WITH pairs AS (
  SELECT l.event_id, r.value
  FROM events l JOIN events r
    ON r.ts > l.ts - INTERVAL 600 SECOND AND r.ts < l.ts
), stats AS (
  SELECT event_id, count(*) AS n_prior,
    round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
      AS prior_value
  FROM pairs GROUP BY 1
)
SELECT e.event_id,
  coalesce(s.n_prior, 0) AS n_prior,
  coalesce(s.prior_value, 0.0) AS prior_value
FROM events e LEFT JOIN stats s USING (event_id)
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus LSH dedup: odd-doc_id documents treated as
    the incoming batch, even as the standing corpus (the parity split
    straddles real near-dup pairs at every sf — a single-source split
    left the query trivially empty); emits only cross-boundary verified
    pairs (operators/dedup.minhash_dedup_pairs_incremental)."""
    from globallinks_spark.operators.dedup import (
        minhash_dedup_pairs_incremental,
    )

    d = load(spark, sf_dir, "documents")
    return minhash_dedup_pairs_incremental(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        threshold=0.5,
    )


def _sql_dedup_incremental() -> str:
    """The full-corpus LSH CTE chain restricted to cross-boundary
    candidate pairs. Band keys, minhash params and the verify stage are
    byte-identical to _sql_minhash_ctes; only the cand CTE's join
    predicate changes (new side × corpus side instead of doc_a<doc_b)."""
    sig_cols = ",\n    ".join(
        f"{H.minhash_sql('hashes', j)} AS mh_{j}" for j in range(H.NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, is_new, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || ':' || ".join(
                f"CAST(mh_{b * H.BAND_SIZE + r} AS VARCHAR)"
                for r in range(H.BAND_SIZE)
            ),
        )
        for b in range(H.NUM_BANDS)
    )
    return f"""
WITH w AS (
  SELECT doc_id, doc_id % 2 = 1 AS is_new,
         {TX.words_sql('text')} AS w
  FROM documents
), sh AS (
  SELECT doc_id, is_new, {TX.shingles_sql('w', 3)} AS sh FROM w
), hs AS (
  SELECT doc_id, is_new,
         list_transform(sh, s -> {H.h30_sql('s')}) AS hashes
  FROM sh WHERE len(sh) > 0
), sig AS (
  SELECT doc_id, is_new,
    {sig_cols}
  FROM hs
), bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.key = r.key
   AND l.is_new AND NOT r.is_new
), ex AS (
  SELECT DISTINCT doc_id, unnest(hashes) AS h FROM hs
  WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a AS new_id, c.doc_b AS corpus_id,
  round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        / (sa.n + sb.n - COALESCE(i.n_inter, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      / (sa.n + sb.n - COALESCE(i.n_inter, 0)) >= 0.5
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once counts under simulated at-least-once delivery: the
    event feed unioned with itself (every event delivered twice), then
    dropDuplicates(event_id) → per-type counts. The streaming form
    (dropDuplicatesWithinWatermark, bounded state) runs in
    tests/test_stateful_streaming.py; this is its batch plan."""
    from globallinks_spark.streaming.ingest import dedup_event_counts

    ev = load(spark, sf_dir, "events")
    return dedup_event_counts(ev.unionByName(ev))


SQL_STREAMING_DEDUP = """
SELECT event_type, count(DISTINCT event_id) AS n_events
FROM events GROUP BY 1
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    d = load(spark, sf_dir, "documents")
    return C.contamination_pairs(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
    )


def _sql_contamination_check() -> str:
    from globallinks_spark.operators import corpus as C

    k = C.CONTAM_NGRAM
    grams = TX.shingles_sql("w", k)
    return f"""
WITH w AS (
  SELECT doc_id, source, {TX.words_sql('text')} AS w FROM documents
), g AS (
  SELECT doc_id, source, unnest({grams}) AS gram FROM w
), b AS (
  SELECT doc_id AS bench_id, gram FROM g WHERE source = 'src0'
), t AS (
  SELECT doc_id AS train_id, gram FROM g WHERE source <> 'src0'
), sz AS (
  SELECT train_id, count(*) AS n_grams FROM t GROUP BY 1
), ov AS (
  SELECT train_id, bench_id, count(*) AS n_overlap
  FROM t JOIN b USING (gram) GROUP BY 1, 2
)
SELECT train_id, bench_id, n_overlap,
       round(n_overlap * 1.0 / n_grams, 6) AS overlap_frac
FROM ov JOIN sz USING (train_id)
WHERE n_overlap >= {C.CONTAM_MIN_OVERLAP}
"""


def q_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.dup_span_profile(load(spark, sf_dir, "documents"))


def _sql_dup_span_profile() -> str:
    from globallinks_spark.operators import corpus as C

    grams = TX.shingles_seq_sql("w", C.DUPSPAN_NGRAM)
    return f"""
WITH w AS (
  SELECT doc_id, {TX.words_sql('text')} AS w FROM documents
), g AS (
  SELECT doc_id, unnest({grams}) AS gram FROM w
), c AS (
  SELECT doc_id, count(*) OVER (PARTITION BY gram) AS c FROM g
), p AS (
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM c GROUP BY 1
)
SELECT doc_id, n_grams, n_dup,
       round(n_dup * 1.0 / n_grams, 6) AS dup_frac,
       round(n_dup * 1.0 / n_grams, 6) >= {C.DUPSPAN_FLAG_FRAC} AS flagged
FROM p
"""


def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.mix_resample(load(spark, sf_dir, "documents"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.quality_classify(load(spark, sf_dir, "documents"))


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.bigram_lm_score(load(spark, sf_dir, "documents"))


def q_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.span_dedup_rewrite(load(spark, sf_dir, "documents"))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.inverted_index(load(spark, sf_dir, "documents"))


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram frequency table, top 20 — the n-gram stats pass
    of LM data analysis (which phrases dominate the corpus). One
    tokenize + one shuffle on the gram key (partial counts map-side),
    TakeOrdered for the top-k; ties break on the gram string so both
    engines cut rank 20 identically."""
    from globallinks_spark.operators.dedup import _spread

    d = load(spark, sf_dir, "documents")
    staged = _spread(d).select(TX.words(F.col("text")).alias("w"))
    return (
        staged.select(
            F.explode(TX.shingles_seq(F.col("w"), 3)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
    )


def _sql_ngram_topk() -> str:
    return f"""
WITH w AS (
  SELECT {TX.words_sql('text')} AS w FROM documents
), g AS (
  SELECT unnest({TX.shingles_seq_sql('w', 3)}) AS gram FROM w
)
SELECT gram, count(*) AS n FROM g
GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 20
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators import corpus as C

    return C.chunk_documents(load(spark, sf_dir, "documents"))


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.streaming.join import purchase_attribution

    return purchase_attribution(load(spark, sf_dir, "events"))


def _sql_purchase_attribution() -> str:
    from globallinks_spark.streaming.join import purchase_attribution_sql

    return purchase_attribution_sql()


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from globallinks_spark.operators.timeseries import gap_fill_hourly

    return gap_fill_hourly(load(spark, sf_dir, "events"))


def _sql_gap_fill() -> str:
    from globallinks_spark.operators.timeseries import gap_fill_hourly_sql

    return gap_fill_hourly_sql()


def _corpus_specs() -> dict[str, QuerySpec]:
    from globallinks_spark.operators import corpus as C

    return {
        "contamination_check": QuerySpec(
            q_contamination_check, _sql_contamination_check()
        ),
        "dup_span_profile": QuerySpec(
            q_dup_span_profile, _sql_dup_span_profile()
        ),
        "mix_resample": QuerySpec(q_mix_resample, C.mix_resample_sql()),
        "quality_classifier": QuerySpec(
            q_quality_classifier, C.quality_classify_sql()
        ),
        "bigram_lm_score": QuerySpec(
            q_bigram_lm_score, C.bigram_lm_score_sql()
        ),
        "span_dedup_rewrite": QuerySpec(
            q_span_dedup_rewrite, C.span_dedup_rewrite_sql()
        ),
        "inverted_index": QuerySpec(
            q_inverted_index, C.inverted_index_sql()
        ),
        "chunk_documents": QuerySpec(
            q_chunk_documents, C.chunk_documents_sql()
        ),
        "ngram_topk": QuerySpec(q_ngram_topk, _sql_ngram_topk()),
    }


EXT_REGISTRY: dict[str, QuerySpec] = {
    "dedup_minhash_lsh": QuerySpec(q_dedup_minhash_lsh, _sql_minhash_lsh()),
    "dedup_groups": QuerySpec(q_dedup_groups, _sql_dedup_groups()),
    "dedup_ngram_jaccard": QuerySpec(q_dedup_ngram_jaccard, SQL_NGRAM_JACCARD),
    "simhash_fingerprint": QuerySpec(q_simhash_fingerprint, SQL_SIMHASH),
    "simhash_near_dup": QuerySpec(q_simhash_near_dup, SQL_SIMHASH_NEAR_DUP),
    "embedding_cosine_topk": QuerySpec(
        q_embedding_cosine_topk, SQL_EMBEDDING_COSINE_TOPK
    ),
    "embedding_near_dup": QuerySpec(q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "embedding_near_dup_vec": QuerySpec(
        q_embedding_near_dup_vec, SQL_EMBEDDING_NEAR_DUP
    ),
    "embedding_dedup_groups": QuerySpec(
        q_embedding_dedup_groups, _sql_embedding_dedup_groups()
    ),
    "ann_sq_rerank": QuerySpec(q_ann_sq_rerank, _sql_ann_sq_rerank()),
    "sq_knn_join": QuerySpec(q_sq_knn_join, _sql_sq_knn_join()),
    "dedup_multitable_lsh": QuerySpec(
        q_dedup_multitable_lsh, _sql_dedup_multitable_lsh(dim=64)
    ),
    "ann_sign_lsh": QuerySpec(q_ann_sign_lsh, SQL_ANN_SIGN_LSH),
    "ann_multiprobe": QuerySpec(q_ann_multiprobe, SQL_ANN_MULTIPROBE),
    "ann_random_projection": QuerySpec(
        q_ann_random_projection, _sql_ann_random_projection(dim=64)
    ),
    "knn_join": QuerySpec(q_knn_join, SQL_KNN_JOIN),
    "text_quality": QuerySpec(q_text_quality, SQL_TEXT_QUALITY),
    "gopher_quality": QuerySpec(q_gopher_quality, _sql_gopher_quality()),
    "repetition_profile": QuerySpec(
        q_repetition_profile, _sql_repetition_profile()
    ),
    "pii_scrub": QuerySpec(q_pii_scrub, _sql_pii_scrub()),
    "lang_id": QuerySpec(q_lang_id, _sql_lang_id()),
    "doc_fingerprint": QuerySpec(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "multimodal_meta": QuerySpec(q_multimodal_meta, SQL_MULTIMODAL_META),
    "frame_sample": QuerySpec(q_frame_sample, _sql_frame_sample()),
    "streaming_window": QuerySpec(q_streaming_window, SQL_STREAMING_WINDOW),
    "streaming_dedup": QuerySpec(q_streaming_dedup, SQL_STREAMING_DEDUP),
    "range_join": QuerySpec(q_range_join, SQL_RANGE_JOIN),
    "dedup_incremental": QuerySpec(
        q_dedup_incremental, _sql_dedup_incremental()
    ),
    "asof_join": QuerySpec(q_asof_join, SQL_ASOF_JOIN),
    "filter_sum": QuerySpec(q_filter_sum, SQL_FILTER_SUM),
    "rollup_revenue": QuerySpec(q_rollup_revenue, SQL_ROLLUP_REVENUE),
    "skew_distinct": QuerySpec(q_skew_distinct, SQL_SKEW_DISTINCT),
    "set_ops": QuerySpec(q_set_ops, SQL_SET_OPS),
    "pivot_status": QuerySpec(q_pivot_status, SQL_PIVOT_STATUS),
    "winnow_fingerprint": QuerySpec(q_winnow_fingerprint, SQL_WINNOW_FINGERPRINT),
    "cube_revenue": QuerySpec(q_cube_revenue, SQL_CUBE_REVENUE),
    "quantiles": QuerySpec(q_quantiles, SQL_QUANTILES),
    "stats_agg": QuerySpec(q_stats_agg, SQL_STATS_AGG),
    "pagerank": QuerySpec(q_pagerank, _sql_pagerank()),
    "stratified_sample": QuerySpec(
        q_stratified_sample, _sql_stratified_sample()
    ),
    "tfidf_top_terms": QuerySpec(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "curation_pipeline": QuerySpec(
        q_curation_pipeline, _sql_curation_pipeline()
    ),
    "dataset_split": QuerySpec(q_dataset_split, _sql_dataset_split()),
    # rows-only BY NATURE (engine-specific estimate values); its error
    # contract is hash-checked by approx_profile_bound below
    "approx_profile": QuerySpec(q_approx_profile, None),
    "approx_profile_bound": QuerySpec(
        q_approx_profile_bound, SQL_APPROX_PROFILE_BOUND
    ),
    "approx_quantiles_bound": QuerySpec(
        q_approx_quantiles_bound, SQL_APPROX_QUANTILES_BOUND
    ),
    "cms_bound": QuerySpec(q_cms_bound, SQL_CMS_BOUND),
    "bloom_bound": QuerySpec(q_bloom_bound, SQL_BLOOM_BOUND),
    "ann_ivf": QuerySpec(q_ann_ivf, _sql_ann_ivf()),
    "ann_recall": QuerySpec(q_ann_recall, _sql_ann_recall()),
    "serving_roundtrip": QuerySpec(q_serving_roundtrip, SQL_SERVING_ROUNDTRIP),
    "shard_roundtrip": QuerySpec(q_shard_roundtrip, _sql_shard_roundtrip()),
    "semantic_dedup": QuerySpec(q_semantic_dedup, _sql_semantic_dedup()),
    "domain_cap": QuerySpec(q_domain_cap, _sql_domain_cap()),
    "pack_sequences": QuerySpec(q_pack_sequences, _sql_pack_sequences()),
    "gap_fill": QuerySpec(q_gap_fill, _sql_gap_fill()),
    "purchase_attribution": QuerySpec(
        q_purchase_attribution, _sql_purchase_attribution()
    ),
    "bm25_search": QuerySpec(q_bm25_search, _sql_bm25_search()),
    "triangle_count": QuerySpec(q_triangle_count, _sql_triangle_count()),
    "session_window_agg": QuerySpec(
        q_session_window_agg, SQL_SESSION_WINDOW_AGG
    ),
    "training_assembly": QuerySpec(
        q_training_assembly, _sql_training_assembly()
    ),
    "clustering_coeff": QuerySpec(
        q_clustering_coeff, _sql_clustering_coeff()
    ),
    "dedup_eval": QuerySpec(q_dedup_eval, _sql_dedup_eval()),
    "event_anomaly": QuerySpec(q_event_anomaly, SQL_EVENT_ANOMALY),
    **_corpus_specs(),
}
