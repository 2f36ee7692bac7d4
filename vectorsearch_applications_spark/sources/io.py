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

from py4j.protocol import Py4JError
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
    """Scan one parquet table through :func:`read_parquet`, so filters
    and projections written on top of it reach the scan
    (PushedFilters/ReadSchema) and a repeat read runs no footer job.

    The events table carries TIMESTAMP(NANOS) which Spark rejects by default;
    the legacy conf reads it as BIGINT nanoseconds (exact — downstream
    operators use integer DIV arithmetic on it).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


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


def _stats(paths) -> tuple:
    """(path, size, mtime_ns) of each path, sorted; a path gone since
    it was listed (an overwrite, a writer) gets -1 for both."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, -1, -1))
    return tuple(sorted(out))


def _data_files(path: str) -> tuple | None:
    """:func:`_stats` of every file Spark would read under ``path`` (a
    file lists itself); None when ``path`` does not exist. Entries
    starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``, an in-flight
    ``_temporary``) are skipped, as Spark's file index skips them."""
    if os.path.isfile(path):
        return _stats([path])
    if not os.path.isdir(path):
        return None
    files = []
    for dp, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(dp, f) for f in fs if not f.startswith(("_", "."))]
    return _stats(files)


def frame_files(df: DataFrame) -> tuple:
    """:func:`_stats` of the files ``df`` reads: empty for literal rows,
    an RDD or a checkpoint. ``df.inputFiles()`` is the listing Spark
    took when the frame was built (no job), so a frame built before an
    append keeps its pre-append listing. Local/shared FS assumed, as
    for the index-layout probes: a remote file keeps its URI only."""
    from urllib.parse import unquote, urlparse

    # df.inputFiles() takes a py4j answer per file, and an answer over
    # ~8 KB waits on a delayed ACK: 400 files cost ~40 ms either way
    files = df.sparkSession._jvm.scala.Predef.genericWrapArray(
        df._jdf.inputFiles()
    )
    uris = []
    for i in range(0, files.length(), 64):
        uris += files.slice(i, i + 64).mkString("\n").split("\n")
    return _stats(
        unquote(u.path) if u.scheme in ("", "file") else u.geturl()
        for u in map(urlparse, uris)
    )


class _Entry:
    __slots__ = ("lock", "token", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()  # held while the value builds
        self.token: tuple | None = None  # None: empty
        self.value = None


# (applicationId, key) -> _Entry; see memo
_MEMO: dict[tuple, _Entry] = {}
_MEMO_LOCK = threading.Lock()


def _entry(spark: SparkSession, key) -> _Entry:
    with _MEMO_LOCK:
        return _MEMO.setdefault(
            (spark.sparkContext.applicationId, key), _Entry()
        )


def _release(entry: _Entry) -> None:
    """Empty ``entry``, unpersisting the frame(s) its value holds."""
    value, entry.token, entry.value = entry.value, None, None
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            try:
                df.unpersist()
            except Py4JError:  # its session is already gone
                pass


def memo(spark: SparkSession, key, build, files: tuple = (), extra=()):
    """The session cache: ``build()``'s value for the tuple ``key``,
    built once per (applicationId, key) and rebuilt when its token
    changes: ``files`` (the input's listing, :func:`frame_files` or
    :func:`_data_files`) plus ``extra`` (anything else the value
    depends on, such as a conf). A rebuild first unpersists the
    superseded value, so a change to the files is seen at the next
    call whoever made it; with no files, the key alone identifies the
    value. Builds are single-flight per key."""
    token = (files, extra)
    entry = _entry(spark, key)
    with entry.lock:
        if entry.token != token:
            # release first: Spark's cache matches plans by root path,
            # not by listing, so a rebuild persisted beside the
            # superseded frames would serve their data
            _release(entry)
            entry.value = build()
            entry.token = token
        return entry.value


def memo_replace(spark: SparkSession, key, update):
    """Swap a built entry's value for ``update(value)``, keeping its
    token, and release the old value (``update`` first materializes
    what the new value reads of it). KeyError if ``key`` is not built."""
    entry = _entry(spark, key)
    with entry.lock:
        if entry.token is None:
            raise KeyError(f"nothing memoized under {key!r}")
        token, new = entry.token, update(entry.value)
        _release(entry)
        entry.token, entry.value = token, new
        return new


def forget(path: str | None = None) -> None:
    """Empty the entries, in every application, built from files under
    ``path``, or all of them. :func:`read_parquet` calls it when a
    path's listing changes; ``delete_collection`` calls it to free
    memory, since a deleted path is never read again."""
    under = os.path.abspath(path) if path is not None else None

    def goes(e: _Entry) -> bool:
        files = e.token[0] if e.token else ()
        return under is None or any(
            f[0] == under or f[0].startswith(under + os.sep) for f in files
        )

    with _MEMO_LOCK:
        victims = [e for e in _MEMO.values() if goes(e)]
    for e in victims:
        with e.lock:
            _release(e)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, minus the footer-read job (~0.1 s)
    a schema-less read runs on every call. The inferred schema is
    memoized per path, keyed on its data-file listing and on
    ``nanosAsLong`` (it changes what a TIMESTAMP(NANOS) column infers
    to), so an append, overwrite or compaction re-infers, and first
    releases every memo entry built from files under the path. Spark
    still lists the files itself: the frame reads what a plain read
    would. A missing path or a directory with no data files goes to the
    plain read, so its errors (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA)
    are unchanged."""
    key = os.path.abspath(path)
    listing = _data_files(key)
    if not listing:
        return spark.read.parquet(path)
    seen = _entry(spark, ("schema", key)).token
    if seen is not None and seen[0] != listing:
        # Spark's cache matches file scans by root path, not by listing:
        # a plan equal to one persisted from the old files would be
        # served their data, so release them all before anything rebuilds
        forget(key)

    def infer():
        return spark.read.parquet(path).schema

    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = memo(spark, ("schema", key), infer, listing, nanos)
    return spark.read.schema(schema).parquet(path)


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
