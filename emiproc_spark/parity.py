"""Local mirror of the driver's correctness gate.

Runs a Spark query and its DuckDB oracle on the same sf dir, compares
row count, column names and an order-insensitive value multiset.  Used
by tests and by ``python -m emiproc_spark.parity`` for a quick check.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        canon_row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                canon_row.append(None)
            elif isinstance(v, float):
                canon_row.append(repr(float(v)))
            elif hasattr(v, "isoformat"):
                canon_row.append(v.isoformat())
            else:
                canon_row.append(str(v))
        rows.append(tuple(canon_row))
    # NULL sorts first in each column, so a NULL/string tie between two
    # rows never compares None with str
    return sorted(rows, key=lambda row: [(v is not None, v) for v in row])


def compare(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    query,
    oracle_sql: str,
) -> dict:
    sdf = query(spark, sf_dir).toPandas()
    con = duckdb_conn(sf_dir)
    odf = con.execute(oracle_sql).df()
    con.close()
    result = {
        "name": name,
        "spark_rows": len(sdf),
        "oracle_rows": len(odf),
        "cols_match": sorted(sdf.columns) == sorted(odf.columns),
        "rows_match": len(sdf) == len(odf),
        "values_match": False,
    }
    if result["cols_match"] and result["rows_match"]:
        result["values_match"] = _canon(sdf) == _canon(odf)
        if not result["values_match"]:
            a, b = _canon(sdf), _canon(odf)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            result["first_diffs"] = diffs
    else:
        result["spark_cols"] = sorted(sdf.columns)
        result["oracle_cols"] = sorted(odf.columns)
    return result


def main() -> None:
    import sys

    from emiproc_spark.driver_queries import ORACLES, QUERIES
    from emiproc_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or list(QUERIES)
    spark = get_spark(app_name="parity")
    failures = 0
    for name in only:
        r = compare(spark, sf_dir, name, QUERIES[name], ORACLES.get(name, ""))
        ok = r["values_match"]
        failures += 0 if ok else 1
        print(("PASS " if ok else "FAIL ") + name, "" if ok else r)
    print(f"{len(only) - failures}/{len(only)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
