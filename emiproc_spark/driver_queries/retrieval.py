"""Keyword and vector retrieval driver queries: BM25, phrase and hybrid
search, hard negatives, TF-IDF keywords, exact and approximate
nearest-neighbour search (LSH buckets, IVF, int8) and their recall
audits.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame whose row
multiset the DuckDB oracle SQL next to it reproduces over the driver's
parquet tables.  Parity conventions: md5-derived randomness, per-row
IEEE doubles written identically on both engines, sums through the
µ-quantized integer helpers (``qhelpers``), explicit tie-break keys.

- ``bm25_topk``: Okapi BM25 top-k keyword search over documents
  (operators/retrieval.bm25_topk) — postings hash-agg + broadcast
  df/corpus stats, TakeOrderedAndProject top-k; per-(doc, term)
  contributions quantize to int64 so scores are order-free.
- ``ivf_store_probe``: the IVF index materialized as a
  hive-partitioned vector store; probes read only the nprobe nearest
  partitions (pruning plan-pinned).
- ``ann_recall``: the vector-search analogue of ``lsh_quality`` — for a
  sample of query vectors, the IVF approximate top-10 (nearest-centroid
  assignment, probe the ``N_PROBE`` cells nearest each query, exact
  re-rank within candidates) audited against the exact brute-force
  cosine top-10: recall@10 plus the mean displacement between a hit's
  ANN rank and its true rank.  The exact side is the audit's ground
  truth, so its brute-force cost is inherent — it is bounded here by
  the query SAMPLE (NQ vectors), which is how a recall audit stays
  cheap at 100 TB: rank all N vectors for NQ queries, never all-pairs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.driver_queries._shared import DIM, DOT_SCALE, _dotq, sql_dotq
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import text as tx
from emiproc_spark.qhelpers import qd, sql_qd


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector —
    the correctness baseline for ANN.  Exploded per-element products
    with quantized sums keep both engines bit-identical."""
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    scored = (
        terms.groupBy("vec_id")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        scored.select("vec_id", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_ANN_COSINE_TOPK = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT e.vec_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT vec_id,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM terms GROUP BY vec_id
    )
    SELECT vec_id, {sql_qd('dp / (SQRT(na) * SQRT(nq))')} AS cos
    FROM scored
    ORDER BY {sql_qd('dp / (SQRT(na) * SQRT(nq))')} DESC, vec_id
    LIMIT 10
"""


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (8 deterministic
    md5-seeded planes) — the candidate-generation half of scalable ANN."""
    from emiproc_spark.operators.similarity import hyperplane

    emb = fx.load(spark, sf_dir, "embeddings")
    terms = emb.select("vec_id", F.posexplode("embedding").alias("i", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    planes = [
        (p, i, hp_i) for p in range(8) for i, hp_i in enumerate(hyperplane(DIM, p))
    ]
    pdf = local_rows_df(spark, planes, schema="p int, i int, hp double")
    bits = (
        terms.join(F.broadcast(pdf), "i")
        .groupBy("vec_id", "p")
        .agg(_dotq(F.col("v") * F.col("hp")).alias("dp"))
        .withColumn("bit", F.when(F.col("dp") > 0, "1").otherwise("0"))
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "bit"))),
                    lambda s: s["bit"],
                ),
            ).alias("bucket")
        )
    )
    return bits


SQL_ANN_LSH_BUCKETS = f"""
    WITH planes AS (
        SELECT p.p, i.i,
               CASE WHEN (strpos('0123456789abcdef',
                    substr(md5('p' || CAST(p.p AS VARCHAR) || 'd' || CAST(i.i AS VARCHAR)), 1, 1))
                    - 1) % 2 = 1 THEN 1.0 ELSE -1.0 END AS hp
        FROM UNNEST(range(8)) AS p(p), UNNEST(range({DIM})) AS i(i)
    ),
    terms AS (
        SELECT e.vec_id, pl.p,
               CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.hp AS prod
        FROM embeddings e JOIN planes pl ON TRUE
    ),
    dots AS (
        SELECT vec_id, p, {sql_dotq('prod')} AS dp
        FROM terms GROUP BY vec_id, p
    )
    SELECT vec_id,
           string_agg(CASE WHEN dp > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM dots GROUP BY vec_id
"""


# ======================================================================
# IVF approximate top-k: nearest-centroid cell assignment (map-only in
# the operator; here via the quantized explode so both engines agree
# bit-for-bit), probe the 2 cells nearest the query, exact re-rank.
# Mirrors operators/similarity.ivf_assign/ivf_topk.
# ======================================================================
N_CENTROIDS = 16
N_PROBE = 2


def ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, cos) for every vector × centroid — the quantized
    explode form of ivf_assign's scoring, shared by q_ivf_topk and
    ivf_store_probe (r5h) so both Spark paths and the ONE oracle can
    never drift apart.  Centroids = the N_CENTROIDS lowest-id vectors
    (ivf_seed_centroids)."""
    emb = fx.load(spark, sf_dir, "embeddings")
    cent = (
        emb.where(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode("embedding").alias("i", "cv"),
        )
        .withColumn("cv", F.col("cv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(cent), "i")
    )
    return (
        terms.groupBy("vec_id", "cid")
        .agg(
            _dotq(F.col("v") * F.col("cv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("cv") * F.col("cv")).alias("nc"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nc")))
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    scored = ivf_scored(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    probes = (
        scored.where(F.col("vec_id") == 0)
        .orderBy(F.col("cos").desc(), F.col("cid"))
        .limit(N_PROBE)
        .select(F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probes), "cell")
    # exact re-rank against the query vector (vec_id = 0)
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    qterms = (
        emb.join(cand, "vec_id")
        .select("vec_id", "cell", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    rescored = (
        qterms.groupBy("vec_id", "cell")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        rescored.select("vec_id", "cell", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_IVF_TOPK = f"""
    WITH cent AS (
        SELECT e.vec_id AS cid, t.i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings e, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id < {N_CENTROIDS}
    ),
    terms AS (
        SELECT e.vec_id, c.cid,
               CAST(e.embedding[c.i + 1] AS DOUBLE) AS v,
               c.cv
        FROM embeddings e JOIN cent c ON TRUE
    ),
    scored AS (
        SELECT vec_id, cid,
               {sql_dotq('v * cv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('cv * cv')} AS nc
        FROM terms GROUP BY vec_id, cid
    ),
    cosed AS (
        SELECT vec_id, cid, dp / (SQRT(na) * SQRT(nc)) AS cos
        FROM scored
    ),
    assigned AS (
        SELECT vec_id, cid AS cell
        FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS rn
            FROM cosed
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT cid AS cell FROM cosed
        WHERE vec_id = 0
        ORDER BY cos DESC, cid LIMIT {N_PROBE}
    ),
    cand AS (
        SELECT a.vec_id, a.cell
        FROM assigned a JOIN probes p ON a.cell = p.cell
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qterms AS (
        SELECT c.vec_id, c.cell,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    rescored AS (
        SELECT vec_id, cell,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM qterms GROUP BY vec_id, cell
    )
    SELECT vec_id, cell, {sql_qd('dp / (SQRT(na) * SQRT(nq))')} AS cos
    FROM rescored
    ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, vec_id
    LIMIT 10
"""


# ======================================================================
# knn_join: exact k-NN of a broadcast query set against the corpus
# ======================================================================
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import knn_join

    emb = fx.load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    out = knn_join(q, emb, k=3)
    # 1e-4 quantizer: engine folds raw doubles, oracle reconstructs via
    # quantized per-element products (≤1e-11 apart) — both land on the
    # same 1e-4 grid point
    return out.select("query_id", "neighbor_id", qd("cos", 1e4).alias("cos"))


SQL_KNN_JOIN = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    terms AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(FLOOR(v * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS dp,
               CAST(SUM(CAST(FLOOR(v * v * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS na,
               CAST(SUM(CAST(FLOOR(qv * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS nq
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, dp / (SQRT(na) * SQRT(nq)) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, neighbor_id
               ) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, {sql_qd('cos', 1e4)} AS cos
    FROM ranked WHERE rk <= 3
"""


# ======================================================================
# TF-IDF top-k keywords (log-free idf for engine parity; see tfidf_topk)
# ======================================================================
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        fx.load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    return tx.tfidf_topk(d, k=3, log_idf=False)


SQL_TFIDF_TOPK = """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
    tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM d),
             UNNEST(toks) AS t(term)
        WHERE t.term != ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM d),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               FLOOR(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df * 1e9 + 0.5) / 1e9
                   AS score_q
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score_q, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score_q DESC, term ASC) AS rank
        FROM scored
    ) WHERE rank <= 3
"""


# ======================================================================
# k-NN majority-vote classification over the embeddings table (uses the
# label column; broadcast query side, same determinism contract as the
# knn_join query: quantized per-element products in the oracle land on
# the same ranking as the engine's raw-double fold)
# ======================================================================

def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.similarity import knn_classify

    emb = fx.load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("vec_id") >= 10)
    return knn_classify(q, corpus, k=5)


SQL_KNN_CLASSIFY = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10
    ),
    terms AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id >= 10
    ),
    scored AS (
        SELECT query_id, neighbor_id, ANY_VALUE(label) AS label,
               CAST(SUM(CAST(FLOOR(v * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS dp,
               CAST(SUM(CAST(FLOOR(v * v * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS na,
               CAST(SUM(CAST(FLOOR(qv * qv * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {DOT_SCALE} AS nq
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / (SQRT(na) * SQRT(nq)) DESC, neighbor_id
               ) AS rk
        FROM scored
    ),
    votes AS (
        SELECT query_id, label, COUNT(*) AS votes
        FROM ranked WHERE rk <= 5 GROUP BY 1, 2
    ),
    best AS (
        SELECT query_id, label AS pred_label, votes,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY votes DESC, label ASC
               ) AS vk
        FROM votes
    )
    SELECT query_id, pred_label, votes FROM best WHERE vk = 1
"""


# ======================================================================
# diversity_sample — one representative per hyperplane-LSH bucket (the
# semantic-diversity down-sampler; operators/sampling.diversity_sample).
# The bucket bits reuse the parity-exact quantized-dot path of
# ann_lsh_buckets (per-term quantization keeps the sign bit identical
# across engines); the oracle wraps that query's SQL with the group.
# ======================================================================
def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    bits = q_ann_lsh_buckets(spark, sf_dir)
    return bits.groupBy("bucket").agg(
        F.min("vec_id").alias("keeper"), F.count("*").alias("n_members")
    )


SQL_DIVERSITY_SAMPLE = f"""
        SELECT bucket, MIN(vec_id) AS keeper, COUNT(*) AS n_members
        FROM ({SQL_ANN_LSH_BUCKETS}) GROUP BY bucket
    """


# ======================================================================
# ann_multiprobe — multi-probe LSH ANN: candidates are the query
# vector's bucket plus every bucket at Hamming distance 1 (one flipped
# sign bit), exact cosine re-rank inside.  Buckets and cosines both use
# the parity-exact quantized-dot machinery shared with ann_lsh_buckets
# / ann_cosine_topk.
# ======================================================================
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx

    bits = q_ann_lsh_buckets(spark, sf_dir)
    qb = bits.where(F.col("vec_id") == 0).select(F.col("bucket").alias("qb"))
    cand = (
        bits.crossJoin(F.broadcast(qb))
        .where(
            F.bit_count(
                F.conv("bucket", 2, 10)
                .cast("long")
                .bitwiseXOR(F.conv("qb", 2, 10).cast("long"))
            )
            <= 1
        )
        .select("vec_id")
    )
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.join(cand, "vec_id", "left_semi")
        .select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    scored = (
        terms.groupBy("vec_id")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        scored.select("vec_id", qd("cos").alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_ANN_MULTIPROBE = f"""
    WITH buckets AS ({SQL_ANN_LSH_BUCKETS}),
    qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
    cand AS (
        SELECT b.vec_id FROM buckets b, qb
        WHERE (
            SELECT COUNT(*) FROM range(8) p(i)
            WHERE substr(b.bucket, CAST(p.i + 1 AS INT), 1)
                  <> substr(qb.bucket, CAST(p.i + 1 AS INT), 1)
        ) <= 1
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT e.vec_id,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id IN (SELECT vec_id FROM cand)
    ),
    scored AS (
        SELECT vec_id,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM terms GROUP BY vec_id
    )
    SELECT vec_id, {sql_qd('dp / (SQRT(na) * SQRT(nq))')} AS cos
    FROM scored
    ORDER BY {sql_qd('dp / (SQRT(na) * SQRT(nq))')} DESC, vec_id
    LIMIT 10
    """


# ======================================================================
# int8_topk — quantized similarity search (operators/similarity.py)
# ======================================================================
INT8_K = 20
INT8_DIM = 64
# closed-form pre-quantized query: qq_i = (i*37) % 17 - 8 in [-8, 8]
INT8_QQ = [(i * 37) % 17 - 8 for i in range(INT8_DIM)]


def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity search: the embedding store quantizes
    per-vector (q_i = floor(v_i*127/max|v| + 0.5)) and the top-20 ranks
    by exact INT64 dot product against a closed-form quantized query —
    no float tie ambiguity, so the oracle (same quantization formula +
    integer dot in DuckDB) matches hash-for-hash."""
    from emiproc_spark.operators.similarity import int8_topk

    emb = fx.load(spark, sf_dir, "embeddings")
    return int8_topk(emb, INT8_QQ, k=INT8_K)


SQL_INT8_TOPK = f"""
    WITH ex AS (
        SELECT e.vec_id, CAST(t.i AS INT) AS i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS x
        FROM embeddings e, UNNEST(range(len(e.embedding))) AS t(i)
    ),
    m AS (SELECT vec_id, MAX(ABS(x)) AS ma FROM ex GROUP BY vec_id),
    qv AS (
        SELECT ex.vec_id, ex.i,
               CASE WHEN m.ma > 0
                    THEN CAST(FLOOR(ex.x * 127.0 / m.ma + 0.5) AS BIGINT)
                    ELSE 0 END AS qi
        FROM ex JOIN m USING (vec_id)
    )
    SELECT vec_id,
           CAST(SUM(qi * ((i * 37) % 17 - 8)) AS BIGINT) AS score
    FROM qv GROUP BY vec_id
    ORDER BY score DESC, vec_id
    LIMIT {INT8_K}
"""


# ======================================================================
# bm25_topk — Okapi BM25 retrieval (operators/retrieval.py)
# ======================================================================
_BM25_TERMS = ["spark", "window", "join"]
_BM25_K = 15
_K1 = 1.2
_B = 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.retrieval import bm25_topk

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, _BM25_TERMS, k=_BM25_K, k1=_K1, b=_B)


_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

SQL_BM25_TOPK = f"""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
             UNNEST(toks) AS t(term)
    ),
    corpus AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok
        FROM tok
    ),
    tf0 AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    tf AS (
        SELECT doc_id, term, tf,
               SUM(tf) OVER (PARTITION BY doc_id) AS dl
        FROM tf0
    ),
    posting AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
    dfreq AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
    scored AS (
        SELECT p.doc_id,
               CAST(FLOOR(
                   ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * {_K1 + 1.0!r}
                      / (p.tf + {_K1!r} * (1.0 - {_B!r}
                         + {_B!r} * p.dl / (c.n_tok / c.n_docs))))
                   * 1e9 + 0.5) AS BIGINT) AS cq
        FROM posting p
        JOIN dfreq d ON d.term = p.term
        CROSS JOIN corpus c
    ),
    per AS (
        SELECT doc_id, CAST(SUM(cq) AS DOUBLE) / 1e9 AS score
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score FROM per ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""


# ======================================================================
# ivf_store_probe — the IVF index MATERIALIZED as a hive-partitioned
# vector store: assignment written once partitioned by cell, the probe
# reads ONLY the nprobe nearest partitions (partition pruning pinned in
# tests/test_plan_shapes.py).  Results are identical to ivf_topk, so
# its oracle is reused verbatim — the new surface is the store path.
# ======================================================================
_IVF_DIRS: dict[str, str] = {}


def q_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.store import read_partitioned, save_partitioned
    from emiproc_spark.qhelpers import qd

    path = _IVF_DIRS.get(sf_dir)
    if path is None or not os.path.isdir(path):
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        path = os.path.join(
            fx.scratch_dir("emiproc_ivf_store_"), f"vecs_{tag}"
        )
        scored = ivf_scored(spark, sf_dir)
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("cid")
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", F.col("cid").cast("int").alias("cell"))
        )
        emb = fx.load(spark, sf_dir, "embeddings")
        save_partitioned(
            emb.join(assigned, "vec_id"), path, ["cell"], fmt="parquet"
        )
        _IVF_DIRS[sf_dir] = path

    probes = [
        int(r["cid"])
        for r in ivf_scored(spark, sf_dir)
        .where(F.col("vec_id") == 0)
        .orderBy(F.col("cos").desc(), "cid")
        .limit(N_PROBE)
        .collect()
    ]
    store = read_partitioned(spark, path, fmt="parquet")
    cand = store.where(F.col("cell").isin(probes))  # partition pruning
    emb = fx.load(spark, sf_dir, "embeddings")
    qpos = (
        emb.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("i", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
    )
    qterms = (
        cand.select("vec_id", "cell", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    rescored = (
        qterms.groupBy("vec_id", "cell")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", F.col("dp") / (F.sqrt("na") * F.sqrt("nq")))
    )
    return (
        rescored.select(
            "vec_id", F.col("cell").cast("long").alias("cell"), qd("cos").alias("cos")
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


SQL_IVF_STORE_PROBE = SQL_IVF_TOPK


# ======================================================================
# ann_recall — IVF ANN recall@10 vs exact cosine (operators/similarity)
# ======================================================================
NQ_RECALL = 4  # query-vector sample size
RECALL_K = 10


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fx.load(spark, sf_dir, "embeddings")
    # exact side: every vector scored against every sampled query —
    # quantized per-element dots so both engines rank identically
    qpos = (
        emb.where(F.col("vec_id") < NQ_RECALL)
        .select(
            F.col("vec_id").alias("qid"),
            F.posexplode("embedding").alias("i", "qv"),
        )
        .withColumn("qv", F.col("qv").cast("double"))
    )
    terms = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .join(F.broadcast(qpos), "i")
    )
    scored = (
        terms.groupBy("vec_id", "qid")
        .agg(
            _dotq(F.col("v") * F.col("qv")).alias("dp"),
            _dotq(F.col("v") * F.col("v")).alias("na"),
            _dotq(F.col("qv") * F.col("qv")).alias("nq"),
        )
        .withColumn("cos", qd(F.col("dp") / (F.sqrt("na") * F.sqrt("nq"))))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    exact = scored.select("qid", "vec_id", "cos").withColumn(
        "exact_rank", F.row_number().over(wq)
    )
    # ANN side: IVF cell assignment + per-query probes (the q_ivf_topk
    # plan, generalized to NQ queries via one window instead of a
    # per-query collect).  The scored relation feeds BOTH the
    # assignment and the probe branches — truncate its lineage so the
    # centroid-scoring subtree materializes once instead of once per
    # branch (no ReusedExchange fired here; the duplicated subtree was
    # ~10 Exchanges of the query's 26)
    ivf = ivf_scored(spark, sf_dir).localCheckpoint(eager=False)
    wv = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cid")
    assigned = (
        ivf.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    probes = (
        ivf.where(F.col("vec_id") < NQ_RECALL)
        .withColumn("pr", F.row_number().over(wv))
        .where(F.col("pr") <= N_PROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("cell"))
    )
    cand = assigned.join(F.broadcast(probes), "cell").select("qid", "vec_id")
    # exact re-rank within candidates reuses the exact cos (same values
    # the brute-force side ranked on)
    wa = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    ann = (
        cand.join(exact, ["qid", "vec_id"])
        .withColumn("ann_rank", F.row_number().over(wa))
        .where(F.col("ann_rank") <= RECALL_K)
    )
    return (
        ann.groupBy("qid")
        .agg(
            F.count("*").alias("n_ann"),
            F.count(F.when(F.col("exact_rank") <= RECALL_K, 1)).alias(
                "n_hits"
            ),
            F.sum(F.col("exact_rank") - F.col("ann_rank")).alias("__se"),
        )
        .select(
            "qid",
            "n_ann",
            "n_hits",
            (F.col("n_hits") / F.lit(float(RECALL_K))).alias("recall_at_10"),
            (F.col("__se").cast("double") / F.col("n_ann")).alias(
                "mean_rank_err"
            ),
        )
    )


_COS_Q = sql_qd("dp / (SQRT(na) * SQRT(nq))")

SQL_ANN_RECALL = f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe
        FROM embeddings WHERE vec_id < {NQ_RECALL}
    ),
    terms AS (
        SELECT e.vec_id, q.qid,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS v,
               CAST(q.qe[t.i + 1] AS DOUBLE) AS qv
        FROM embeddings e CROSS JOIN q, UNNEST(range({DIM})) AS t(i)
    ),
    scored AS (
        SELECT vec_id, qid,
               {sql_dotq('v * qv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('qv * qv')} AS nq
        FROM terms GROUP BY vec_id, qid
    ),
    exact AS (
        SELECT qid, vec_id, {_COS_Q} AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY {_COS_Q} DESC, vec_id
               ) AS exact_rank
        FROM scored
    ),
    cent AS (
        SELECT e.vec_id AS cid, t.i,
               CAST(e.embedding[t.i + 1] AS DOUBLE) AS cv
        FROM embeddings e, UNNEST(range({DIM})) AS t(i)
        WHERE e.vec_id < {N_CENTROIDS}
    ),
    cterms AS (
        SELECT e.vec_id, c.cid,
               CAST(e.embedding[c.i + 1] AS DOUBLE) AS v, c.cv
        FROM embeddings e JOIN cent c ON TRUE
    ),
    cscored AS (
        SELECT vec_id, cid,
               {sql_dotq('v * cv')} AS dp,
               {sql_dotq('v * v')} AS na,
               {sql_dotq('cv * cv')} AS nc
        FROM cterms GROUP BY vec_id, cid
    ),
    cosed AS (
        SELECT vec_id, cid, dp / (SQRT(na) * SQRT(nc)) AS cos FROM cscored
    ),
    assigned AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS rn
            FROM cosed
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cos DESC, cid
                   ) AS pr
            FROM cosed WHERE vec_id < {NQ_RECALL}
        ) WHERE pr <= {N_PROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id
        FROM assigned a JOIN probes p ON a.cell = p.cell
    ),
    ann AS (
        SELECT c.qid, c.vec_id, x.exact_rank,
               ROW_NUMBER() OVER (
                   PARTITION BY c.qid ORDER BY x.cos DESC, c.vec_id
               ) AS ann_rank
        FROM cand c
        JOIN exact x ON x.qid = c.qid AND x.vec_id = c.vec_id
    ),
    top AS (SELECT * FROM ann WHERE ann_rank <= {RECALL_K})
    SELECT qid, COUNT(*) AS n_ann,
           COUNT(CASE WHEN exact_rank <= {RECALL_K} THEN 1 END) AS n_hits,
           COUNT(CASE WHEN exact_rank <= {RECALL_K} THEN 1 END)
               / {RECALL_K}.0 AS recall_at_10,
           CAST(SUM(exact_rank - ann_rank) AS DOUBLE) / COUNT(*)
               AS mean_rank_err
    FROM top GROUP BY qid
"""


# ======================================================================
# phrase_search — exact-phrase occurrence counts (operators/retrieval)
# ======================================================================
PHRASE = ["table", "table"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.retrieval import phrase_count

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_count(d, PHRASE)


def _sql_phrase_search() -> str:
    k = len(PHRASE)
    conds = " AND ".join(
        f"toks[i + {j}] = '{w}'" for j, w in enumerate(PHRASE)
    )
    return f"""
    SELECT doc_id,
           CAST(CASE WHEN len(toks) >= {k}
                THEN len(list_filter(range(1, len(toks) - {k} + 2),
                                     i -> {conds}))
                ELSE 0 END AS BIGINT) AS n_occurrences
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


# ======================================================================
# hybrid_search — reciprocal-rank fusion of BM25 and vector cosine
# result lists (operators/retrieval.rrf_fuse): the standard hybrid
# retrieval combiner, composed from two already-oracle-checked
# retrievers (bm25_topk + ann_cosine_topk).
# ======================================================================
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.retrieval import bm25_topk, rrf_fuse

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    lex = bm25_topk(d, _BM25_TERMS, k=_BM25_K, k1=_K1, b=_B)
    sem = q_ann_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cos"
    )
    return rrf_fuse([(lex, "score"), (sem, "cos")], k=10)


SQL_HYBRID_SEARCH = f"""
    WITH lex AS ({SQL_BM25_TOPK}),
    sem AS ({SQL_ANN_COSINE_TOPK}),
    lr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
               AS r FROM lex),
    sr AS (SELECT vec_id AS doc_id,
                  ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r
           FROM sem),
    f AS (
        SELECT COALESCE(lr.doc_id, sr.doc_id) AS doc_id,
               COALESCE(1.0 / (60 + lr.r), 0.0)
                   + COALESCE(1.0 / (60 + sr.r), 0.0) AS s
        FROM lr FULL JOIN sr ON sr.doc_id = lr.doc_id
    )
    SELECT doc_id, FLOOR(s * 1e9 + 0.5) / 1e9 AS rrf
    FROM f ORDER BY FLOOR(s * 1e9 + 0.5) / 1e9 DESC, doc_id LIMIT 10
"""


# ======================================================================
# hard_negatives — batch multi-query BM25 negatives for contrastive
# retrieval training (operators/retrieval.mine_hard_negatives)
# ======================================================================
_HN_K = 3
_HN_K1 = 1.2
_HN_B = 0.75


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 17th document's first 4 tokens become a query whose
    labeled positive is the source document itself; the miner returns
    each query's top-3 BM25-scoring OTHER documents — the contrastive
    triplet recipe (query, positive, BM25 hard negative) over the
    documents corpus, scored in one term-keyed join pass."""
    from pyspark.sql import functions as F

    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators.retrieval import mine_hard_negatives

    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    q = d.where(F.col("doc_id") % 17 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4)).alias(
            "query_text"
        ),
    )
    pos = q.select("query_id", F.col("query_id").alias("doc_id"))
    out = mine_hard_negatives(d, q, pos, k=_HN_K, k1=_HN_K1, b=_HN_B)
    return out.withColumn("rank", F.col("rank").cast("long"))


SQL_HARD_NEGATIVES = f"""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
             UNNEST(toks) AS t(term)
    ),
    corpus AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok
        FROM tok
    ),
    tf0 AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    tf AS (
        SELECT doc_id, term, tf,
               SUM(tf) OVER (PARTITION BY doc_id) AS dl
        FROM tf0
    ),
    q AS (
        SELECT doc_id AS query_id,
               array_to_string(string_split(text, ' ')[1:4], ' ')
                   AS query_text
        FROM documents WHERE doc_id % 17 = 3
    ),
    qtok AS (
        SELECT query_id, t.term, CAST(COUNT(*) AS DOUBLE) AS qtf
        FROM (SELECT query_id, string_split(query_text, ' ') AS toks
              FROM q),
             UNNEST(toks) AS t(term)
        GROUP BY 1, 2
    ),
    posting AS (
        SELECT * FROM tf
        WHERE term IN (SELECT DISTINCT term FROM qtok)
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
    scored AS (
        SELECT qt.query_id, p.doc_id,
               CAST(FLOOR(
                   ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * {_HN_K1 + 1.0!r}
                      / (p.tf + {_HN_K1!r} * (1.0 - {_HN_B!r}
                         + {_HN_B!r} * p.dl / (c.n_tok / c.n_docs))))
                   * qt.qtf * 1e9 + 0.5) AS BIGINT) AS cq
        FROM posting p
        JOIN dfreq d ON d.term = p.term
        JOIN qtok qt ON qt.term = p.term
        CROSS JOIN corpus c
    ),
    pair AS (
        SELECT query_id, doc_id, CAST(SUM(cq) AS DOUBLE) / 1e9 AS score
        FROM scored GROUP BY 1, 2
    ),
    neg AS (SELECT * FROM pair WHERE doc_id <> query_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM neg
    )
    SELECT query_id, doc_id, rank, score FROM ranked WHERE rank <= {_HN_K}
"""


QUERIES = {
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "knn_join": (q_knn_join, SQL_KNN_JOIN),
    "knn_classify": (q_knn_classify, SQL_KNN_CLASSIFY),
    "diversity_sample": (q_diversity_sample, SQL_DIVERSITY_SAMPLE),
    "ann_multiprobe": (q_ann_multiprobe, SQL_ANN_MULTIPROBE),
    "int8_topk": (q_int8_topk, SQL_INT8_TOPK),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "ivf_store_probe": (q_ivf_store_probe, SQL_IVF_STORE_PROBE),
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    "phrase_search": (q_phrase_search, _sql_phrase_search()),
    "hybrid_search": (q_hybrid_search, SQL_HYBRID_SEARCH),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_lsh_buckets": (q_ann_lsh_buckets, SQL_ANN_LSH_BUCKETS),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
}
