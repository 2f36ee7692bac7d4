"""Z-order encoding (sources/collections.py zorder_value — the Morton
primitive under zorder_collection). Driver parity via the
zorder_layout_orders oracle; these tests pin the encoding against a
pure-Python bit-interleave and measure the pruning property the layout
exists for: a box predicate touches far fewer z-buckets than row-major
buckets."""

from __future__ import annotations

import pyspark.sql.functions as F

from vectorsearch_applications_spark.sources.collections import zorder_value


def morton_interleave(x, y, bits=16):
    return zorder_value(x, y, bits).cast("bigint")


def zorder_layout(df, x_col, y_col, bits=16, bucket_bits=12):
    m = morton_interleave(x_col, y_col, bits)
    return df.withColumn("morton", m).withColumn(
        "zbucket",
        F.floor(F.col("morton") / (1 << (2 * bits - bucket_bits))).cast(
            "bigint"
        ),
    )


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    out = 0
    for i in range(bits):
        out += ((x >> i) & 1) << (2 * i)
        out += ((y >> i) & 1) << (2 * i + 1)
    return out


def test_morton_matches_python_bit_interleave(spark):
    rows = [(x, y) for x in range(0, 300, 7) for y in range(0, 300, 11)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "m", morton_interleave("x", "y")
    )
    for r in df.collect():
        assert r["m"] == _py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_buckets_prune_box_queries(spark):
    # uniform 256x256 grid; box = 32x32 corner window (1/64 of the area).
    rows = [(x * 256 + y, x, y) for x in range(256) for y in range(256)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    z = zorder_layout(df, "x", "y", bits=8, bucket_bits=8)
    box = (F.col("x") < 32) & (F.col("y") < 32)
    total = z.select("zbucket").distinct().count()
    touched = z.filter(box).select("zbucket").distinct().count()
    # z-layout: the box is compact -> touches ~1/64 of buckets
    assert touched <= total // 16, (touched, total)
    # row-major layout (bucket by x only): the same box touches the full
    # y-extent of every x-slice it crosses -> 32/256 = 1/8 of buckets,
    # and a y-only predicate would touch ALL of them
    rm_total = 256 // 8  # 8-row slices -> 32 buckets
    rm = df.withColumn("bucket", F.floor(F.col("x") / 8))
    y_only = rm.filter(F.col("y") < 32).select("bucket").distinct().count()
    assert y_only == rm_total  # row-major cannot prune the y predicate
    z_y_only = z.filter(F.col("y") < 32).select("zbucket").distinct().count()
    assert z_y_only < total // 2  # z-order still prunes it
