"""Facade calls pay no Spark setup jobs: literal frames are
LocalRelations (sources.io.one_slice_df), unchanged library tables are
read without a footer job (sources.io.read_parquet), and 1-row index
meta is read on the driver (sources.io.read_meta_row)."""

from __future__ import annotations

import ast
import math
import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectorsearch_applications_spark.sources.io import (
    one_slice_df,
    read_meta_row,
    read_parquet,
)

from .conftest import SF_SMOKE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vectorsearch_applications_spark",
)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"setup-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


AWKWARD = [
    (1, "it's", float("nan"), [1.0, float("nan")]),
    (2, "back\\slash", None, None),
    (3, "ünïcödé 🙂", -0.0, []),
    (4, None, 1e308, [None, 2.5]),
]
DDL = "id long, s string, d double, v array<double>"
STRUCT = StructType(
    [
        StructField("id", LongType()),
        StructField("s", StringType()),
        StructField("d", DoubleType()),
        StructField("v", ArrayType(DoubleType())),
    ]
)


def _same(a, b) -> bool:
    """Equality that counts NaN == NaN and tells -0.0 from 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        return repr(a) == repr(b) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b and type(a) is type(b)


@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
def test_one_slice_df_is_a_local_relation_collected_without_a_job(
    spark, schema
):
    df = one_slice_df(spark, AWKWARD, schema)
    assert _optimized_plan(df).startswith("LocalRelation")
    rows, n_jobs = _jobs(spark, df.collect)
    assert n_jobs == 0
    assert df.schema == STRUCT
    for got, want in zip(rows, AWKWARD, strict=True):
        assert _same(tuple(got), want), (got, want)


def test_one_slice_df_names_infer_like_create_data_frame(spark):
    rows = [(1, 2.5, "a", True, [1, 2])]
    names = ["n", "x", "s", "b", "arr"]
    df = one_slice_df(spark, rows, names)
    assert df.schema == spark.createDataFrame(rows, names).schema
    assert _optimized_plan(df).startswith("LocalRelation")
    got, n_jobs = _jobs(spark, df.collect)
    assert n_jobs == 0 and [tuple(r) for r in got] == rows


def test_one_slice_df_empty_rows_and_row_objects(spark):
    for schema in (DDL, STRUCT):
        df = one_slice_df(spark, [], schema)
        assert df.schema == STRUCT
        got, n_jobs = _jobs(spark, df.collect)
        assert got == [] and n_jobs == 0
    df = one_slice_df(spark, [Row(id=7, s="x", d=0.5, v=[1.0])], STRUCT)
    assert df.collect() == [Row(id=7, s="x", d=0.5, v=[1.0])]


def test_projection_over_a_literal_frame_folds_into_the_relation(spark):
    """knn_search takes a projection of the query frame: over a
    LocalRelation Catalyst evaluates it at planning time, no job."""
    q = one_slice_df(spark, [(0, "Spark JOIN")], "query_id long, query string")
    got, n_jobs = _jobs(
        spark, lambda: q.select("query_id", F.lower("query").alias("l")).take(2)
    )
    assert n_jobs == 0 and got == [Row(query_id=0, l="spark join")]


def test_one_slice_df_meta_write_is_one_file(spark, tmp_path):
    path = str(tmp_path / "meta")
    one_slice_df(spark, [(16, 4, 3)], ["num_hashes", "band_size", "k"]).write.parquet(
        path
    )
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 1
    assert read_meta_row(path) == {"num_hashes": 16, "band_size": 4, "k": 3}
    assert read_meta_row(str(tmp_path / "missing")) is None


def test_read_parquet_skips_schema_inference_on_an_unchanged_table(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "id * 2 AS y").write.parquet(path)
    first, _ = _jobs(spark, lambda: read_parquet(spark, path))
    again, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs == 0
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(spark.read.parquet(path).collect())

    # an append is visible (the listing changed; re-inferred)
    spark.range(5, 8).selectExpr("id", "id * 2 AS y").write.mode(
        "append"
    ).parquet(path)
    assert read_parquet(spark, path).count() == 8
    # a cached-schema frame sees what a plain read built at the same
    # moment sees (Spark lists the files when the frame is built)
    cached, plain = read_parquet(spark, path), spark.read.parquet(path)
    spark.range(8, 9).selectExpr("id", "id * 2 AS y").write.mode(
        "append"
    ).parquet(path)
    assert cached.count() == plain.count()
    assert read_parquet(spark, path).count() == 9

    # an overwrite with a new schema returns the new schema
    spark.range(3).selectExpr("CAST(id AS STRING) AS name").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["name"] and df.count() == 3


def test_read_parquet_keeps_partition_columns_in_place(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(12).selectExpr("id", "CAST(id % 3 AS INT) AS bucket").write.partitionBy(
        "bucket"
    ).parquet(path)
    plain = spark.read.parquet(path)
    read_parquet(spark, path)
    cached, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_jobs == 0
    assert cached.schema == plain.schema
    assert sorted(cached.collect()) == sorted(plain.collect())
    assert cached.filter("bucket = 1").count() == 4


def test_read_parquet_schema_follows_nanos_as_long(spark, tmp_path):
    """A schema inferred under one ``nanosAsLong`` value is never served
    under the other: a TIMESTAMP(NANOS) column is BIGINT with the conf
    on, and unreadable with it off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "nanos")
    os.makedirs(path)
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
        os.path.join(path, "part-0.parquet"),
        version="2.6",
    )
    before = spark.conf.get(conf, "false")
    try:
        spark.conf.set(conf, "true")
        assert read_parquet(spark, path).schema["ts"].dataType == LongType()
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="NANOS"):
            read_parquet(spark, path).collect()
    finally:
        spark.conf.set(conf, before)


def test_read_parquet_missing_path_raises_as_before(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from vectorsearch_applications_spark.sources.tombstones import (
        load_tombstones,
    )

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "never_written"))
    assert load_tombstones(spark, str(tmp_path), "doc_id") is None


def test_lsh_index_meta_is_read_without_a_job(spark, tmp_path):
    from vectorsearch_applications_spark.operators.lsh import (
        lsh_load_index,
        lsh_save_index,
    )

    corpus = one_slice_df(
        spark,
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    root = str(tmp_path)
    lsh_save_index(corpus, root, "c", n_planes=3, dim=8)
    lsh_load_index(spark, root, "c")
    (_, planes), n_jobs = _jobs(spark, lambda: lsh_load_index(spark, root, "c"))
    assert n_jobs == 0
    assert len(planes) == 3 and all(len(p) == 8 for p in planes)


def _dataframe_builder_calls(tree) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("createDataFrame", "parallelize")
    ]


def test_literal_frames_are_built_only_in_sources_io():
    """Every literal-rows frame goes through one_slice_df: a direct
    createDataFrame(<list>) or parallelize backs the frame with an RDD
    whose every action is a job through a Python worker."""
    offenders = []
    for dp, _, fs in os.walk(PKG):
        for f in fs:
            path = os.path.join(dp, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "sources", "io.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [
                f"{os.path.relpath(path, PKG)}:{n}"
                for n in _dataframe_builder_calls(tree)
            ]
    assert offenders == []


@pytest.fixture(scope="module")
def indexed_client(spark, tmp_path_factory):
    from vectorsearch_applications_spark.client import SparkSearchClient
    from vectorsearch_applications_spark.sources.io import load_table

    c = SparkSearchClient(spark, str(tmp_path_factory.mktemp("setup_jobs")))
    c.create_collection("docs", load_table(spark, SF_SMOKE, "documents"))
    c.build_text_index("docs")
    c.build_ann_index("docs", kind="ivf")
    return c


# Jobs of one warmed call + collect on the persisted-index collection
# above (local[8], 8 shuffle partitions). Each is the query's own
# execution; a setup job (footer read, literal-frame scan, meta head)
# creeping back into the read path raises the count.
PINNED_JOBS = {"keyword_search": 6, "hybrid_search": 10}


@pytest.mark.parametrize("verb", sorted(PINNED_JOBS))
def test_warmed_facade_call_job_count_is_pinned(spark, indexed_client, verb):
    call = {
        "keyword_search": lambda q: indexed_client.keyword_search(
            "docs", q, limit=10
        ),
        "hybrid_search": lambda q: indexed_client.hybrid_search(
            "docs", q, alpha=0.25, limit=10
        ),
    }[verb]
    call("warm up the reads").collect()
    rows, n_jobs = _jobs(spark, lambda: call("spark join order").collect())
    assert rows
    assert n_jobs == PINNED_JOBS[verb]


def test_second_registry_build_runs_no_job(spark):
    """Registry tables are read through read_parquet too
    (sources.io.load_table): once a query has been built, building it
    again in the session runs no footer job."""
    from vectorsearch_applications_spark.queries import QUERIES

    build = QUERIES["tpch_q8_market_share"]
    build(spark, SF_SMOKE)
    _, n_jobs = _jobs(spark, lambda: build(spark, SF_SMOKE))
    assert n_jobs == 0
