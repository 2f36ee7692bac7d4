"""Sources & sinks (SURVEY.md §2.1 S1-S9).

The reference's FileIO (``src/preprocessor/preprocessing.py:15-109``) loads
parquet/JSON into ``list[dict]`` rows; here every dataset stays a columnar
DataFrame so Catalyst gets predicate pushdown and column pruning on the scan.

Collection DDL (reference ``src/database/weaviate_interface_v4.py:77-168``)
maps to plain parquet tables + ``spark.catalog`` temp views — the
"index_filterable" property flag is just a column (Catalyst pushes the
predicate); "index_searchable" columns feed the BM25 stats build
(operators/bm25.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver-generated test tables (TESTDATA.md).
TABLE_NAMES = [
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Plain ``spark.read.parquet`` so filters and
    projections written on top of it reach the scan (PushedFilters/ReadSchema).

    The events table carries TIMESTAMP(NANOS) which Spark rejects by default;
    the legacy conf reads it as BIGINT nanoseconds (exact — downstream
    operators use integer DIV arithmetic on it).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def one_slice_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A literal-rows DataFrame on ONE partition.

    ``createDataFrame(<python list>)`` backs the frame with
    ``parallelize(data)`` at DEFAULT parallelism, so a handful of literal
    rows span |cores| partitions and every action over the frame — a
    take/collect, a broadcast build, a 1-row meta write — runs a
    |cores|-task job of almost entirely EMPTY tasks (pure scheduler
    latency locally; one empty task per core fleet-wide on a cluster,
    and 1-row meta tables written as |cores| parquet files). Literal
    frames are bounded by construction, so one partition is always
    right. Rows are bitwise-identical either way (r12 §16)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the spark.sql surface
    (reference S9: sqlite ``huberman`` table → Spark temp view)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
) -> dict[str, int]:
    """Training-data export: write the frame as ``n_shards`` JSONL shard
    directories (``shard=K/``), rows assigned by a DETERMINISTIC key hash
    (pmod(xxhash64(key), n)) — not round-robin — so a re-export after a
    retry, a repartition, or an engine upgrade lands every row in the
    same shard (resumable downstream consumers depend on that; Spark's
    own round-robin repartition(n) is retry-UNstable by design).

    One shuffle keyed on the shard id; JSONL because every training
    stack's loader reads it. Returns {"shards": n, "rows": count}.
    At 100 TB pick n_shards ≈ total_bytes / 256 MB and the write
    parallelism is the shard count.
    """
    out = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )
    # repartition BY the shard column so each shard directory is written
    # by the task that owns it — one file per shard, not per (task, shard)
    out.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).json(path)
    return {"shards": n_shards, "rows": df.count()}
