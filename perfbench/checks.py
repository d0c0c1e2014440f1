"""Output checks: transcript results against the single-process goldens,
library queries against their DuckDB oracle SQL."""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tests.duck_compare import canon, compare
from work_order_pdf_extractor_spark import oracle
from work_order_pdf_extractor_spark.plans import lineage

FP_COLUMNS = [
    "conv_id", "turn_idx", "extracted_text", "matched", "status",
    "disposition", "out_name",
]
FP_SCHEMA = (
    "conv_id string, turn_idx int, extracted_text string, matched boolean, "
    "status string, disposition string, out_name string"
)


def _fingerprint_aggs() -> list:
    h = F.xxhash64(*FP_COLUMNS)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.cast("decimal(38,0)")).alias("sum"),
        F.bit_xor(h).alias("xor"),
    ]


def fingerprint(df: DataFrame) -> dict:
    """Order-insensitive xxhash64 fingerprint of the committed rows."""
    row = df.agg(*_fingerprint_aggs()).first()
    return {"rows": int(row["rows"]), "sum": str(row["sum"]), "xor": int(row["xor"])}


def golden_fingerprint(spark: SparkSession, corpus, cache_dir: str, n_buckets: int) -> dict:
    """Fingerprint of ``oracle.extract_goldens`` for the corpus, plus the
    number of non-empty buckets, computed once per seed and cached, since
    the serial oracle is slow."""
    path = os.path.join(cache_dir, f"golden-{corpus.seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    g = oracle.extract_goldens(corpus.frame(), corpus.reference())
    g["disposition"] = g["matched"].map({True: "matched", False: "not_matched"})
    g["out_name"] = oracle.output_names(g)
    row = (
        spark.createDataFrame(g[FP_COLUMNS], schema=FP_SCHEMA)
        .agg(
            *_fingerprint_aggs(),
            F.count_distinct(lineage.bucket_col(n_buckets)).alias("buckets"),
        )
        .first()
    )
    fp = {
        "rows": int(row["rows"]), "sum": str(row["sum"]), "xor": int(row["xor"]),
        "buckets": int(row["buckets"]),
    }
    with open(path + ".tmp", "w") as f:
        json.dump(fp, f)
    os.replace(path + ".tmp", path)
    return fp


def duck_result(sql: str, data_dir: str, tables) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def check_against_oracle(result: pd.DataFrame, sql: str, data_dir: str, tables) -> str | None:
    """None when the Spark result equals the DuckDB oracle's, else why not."""
    ok, msg = compare(result, duck_result(sql, data_dir, tables), float_exact=False)
    return None if ok else msg


def frame_fingerprint(result: pd.DataFrame) -> str:
    """Row count plus a hash of the canonical row set; floats are rounded
    to 9 decimals so summation order cannot change it."""
    c = canon(result)
    for col in c.columns:
        if pd.api.types.is_float_dtype(c[col]):
            c[col] = c[col].round(9)
    h = int(pd.util.hash_pandas_object(c.astype(str), index=False).sum()) & (2**64 - 1)
    return f"{len(c)}:{h:016x}"
