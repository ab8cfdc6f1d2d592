"""Helpers used by more than one driver-query domain module: the doubled
document corpus (``_docs2``/``DOCS2_SQL``), its shingle table and the
quantized embedding dot product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx


# doubled corpus: every text appears at least twice so dedup operators
# have guaranteed positives on purely synthetic data
DOUBLE_OFFSET = 1_000_000


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fx.load(spark, sf_dir, "documents").select("doc_id", "text")
    twin = d.select((F.col("doc_id") + DOUBLE_OFFSET).alias("doc_id"), "text")
    return d.unionByName(twin)


DOCS2_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DOUBLE_OFFSET} AS doc_id, text FROM documents
"""


# shared shingle CTE (3-gram over single-space tokens, distinct per doc)
SHINGLES_SQL = """
    SELECT DISTINCT doc_id,
           toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM ({docs}) ),
         UNNEST(range(GREATEST(len(toks) - 2, 0))) AS t(i)
"""


# ======================================================================
# similarity search
# ======================================================================
DIM = 64
DOT_SCALE = 1e12


def _dotq(prod) -> F.Column:
    """Quantized (order-free) sum of per-element products."""
    c = F.col(prod) if isinstance(prod, str) else prod
    return F.sum(
        F.floor(c * F.lit(DOT_SCALE) + F.lit(0.5)).cast("long")
    ).cast("double") / F.lit(DOT_SCALE)


def sql_dotq(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {DOT_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {DOT_SCALE}"
    )
