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
import threading

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
    """A literal-rows DataFrame backed by a JVM ``LocalRelation``.

    ``schema`` is a DDL string, a ``StructType`` or a list of column
    names (types then inferred exactly as ``createDataFrame(<list>)``
    infers them). ``rows`` are tuples (or Rows) in schema order.

    The rows travel to the JVM once, as an Arrow table, and the frame's
    plan is a ``LocalRelation``: Catalyst folds projections over it, a
    take/collect of it runs no Spark job, a broadcast of it needs no
    Python worker, and a write of it is one task (so 1-row meta tables
    stay one file). ``createDataFrame(<list>)`` would instead back the
    frame with ``parallelize``, whose every action is a job through a
    Python worker — a 1-task job even on one slice (~0.3 s per collect
    on a 4-core host against ~0.03 s for the local relation)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, (list, tuple)):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    elif isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


# path -> (data-file listing, inferred schema); see read_parquet
_SCHEMAS: dict[str, tuple[tuple, object]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _data_files(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file Spark would read
    under ``path``, sorted; None when ``path`` is not a directory.
    Entries starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``, an
    in-flight ``_temporary``) are skipped, as Spark's file index skips
    them."""
    if not os.path.isdir(path):
        return None
    out = []
    for dp, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dp, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed mid-walk by a writer
                continue
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a library-written table, minus
    the schema-inference job on repeat reads.

    A schema-less parquet read runs a footer-read job (~0.1 s) before
    any query does. The inferred schema is remembered per directory,
    keyed on its data-file listing: while the listing is unchanged the
    table is read with that schema (no job; Spark still lists the files
    itself, so the frame reads the same files a plain read would), and
    any change — an append, an overwrite, a compaction — re-infers. A
    missing path or a directory with no data files goes to the plain
    read, so its errors (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA) are
    unchanged.

    Not for external inputs (:func:`load_table`): their inferred types
    can depend on session confs such as ``nanosAsLong``."""
    key = os.path.abspath(path)
    listing = _data_files(key)
    if listing:
        with _SCHEMAS_LOCK:
            hit = _SCHEMAS.get(key)
        if hit is not None and hit[0] == listing:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if listing:
        with _SCHEMAS_LOCK:
            _SCHEMAS[key] = (listing, df.schema)
    return df


def read_meta_row(path: str) -> dict | None:
    """The first row of a 1-row meta table (``lsh``/dedup/bm25
    ``<base>/meta``) as a dict, or None when the directory is missing
    or holds no rows.

    Read on the driver with pyarrow, not with a Spark action: the meta
    is read on every indexed search or append, and
    ``spark.read.parquet(...).head()`` costs a footer job plus a scan
    job for one local row (the local-file read matches the repo-wide
    ``os.path.isdir`` index-layout probes: local/shared FS assumed)."""
    if not os.path.isdir(path):
        return None
    import pyarrow.parquet as pq

    for f in sorted(os.listdir(path)):
        if f.startswith(("_", ".")) or not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, f))
        if t.num_rows:  # Spark may emit empty leading part files
            return t.slice(0, 1).to_pylist()[0]
    return None


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
