"""Z-order layout: z-value correctness vs a pure-Python Morton
reference, and the clustered writer's file-level locality."""

import os

import pytest
from pyspark.sql import functions as F

from traits_data_spark.operators.layout import (
    write_zordered,
    zvalue,
    zvalue_sql,
)


def _morton(xs: list[int], bits: int) -> int:
    out = 0
    for b in range(bits):
        for i, x in enumerate(xs):
            out |= ((x >> b) & 1) << (b * len(xs) + i)
    return out


def test_zvalue_matches_python_reference(spark):
    rows = [(3, 5), (0, 0), (65535, 65535), (1, 2), (40000, 123)]
    df = spark.createDataFrame(rows, "x INT, y INT")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zvalue(["x", "y"]).alias("z")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton([x, y], 16)


def test_zvalue_overflow_guard(spark):
    with pytest.raises(ValueError, match="overflows"):
        zvalue(["a", "b", "c", "d"], bits=16)


def test_zvalue_sql_emits_same_formula(spark, lineitem):
    z = lineitem.select(
        zvalue([F.expr("l_partkey % 256"), F.expr("l_suppkey % 256")], bits=8
               ).alias("z")
    )
    sql_z = lineitem.selectExpr(
        zvalue_sql(["(l_partkey % 256)", "(l_suppkey % 256)"], bits=8) + " AS z"
    )
    assert sorted(r["z"] for r in z.collect()) == sorted(
        r["z"] for r in sql_z.collect()
    )


def test_write_zordered_clusters_files(spark, lineitem, tmp_path):
    path = str(tmp_path / "zordered")
    df = lineitem.withColumn("pk", F.expr("l_partkey % 65536")).withColumn(
        "sk", F.expr("l_suppkey % 65536")
    )
    write_zordered(df, path, zorder_by=["pk", "sk"], num_files=4)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4
    out = spark.read.parquet(path)
    assert out.count() == lineitem.count()
    # range partitioning on the z-curve → per-file z ranges are
    # (nearly) disjoint: max of file i's z-span below min of file i+2's
    spans = []
    for f in files:
        part = spark.read.parquet(os.path.join(path, f))
        zs = part.select(
            zvalue(["pk", "sk"]).alias("z")
        ).agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()[0]
        spans.append((zs["lo"], zs["hi"]))
    spans.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a <= lo_b  # disjoint consecutive files


# ------------------------------------------------------ balanced_shards


def test_balanced_shards_exact_balance_and_contiguity(spark):
    from traits_data_spark.operators.layout import balanced_shards

    rows = [(i, i % 7) for i in range(100)]  # skewed-ish cluster sizes
    df = spark.createDataFrame(rows, "vec_id long, cluster long")
    got = balanced_shards(df, "vec_id", "cluster", n_shards=6).collect()
    assert len(got) == 100
    sizes = {}
    for r in got:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    # exactly balanced: sizes differ by at most 1 and all 6 shards used
    assert sorted(sizes) == list(range(6))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # semantic contiguity: in (cluster, id) order the shard id is
    # non-decreasing — each shard is one contiguous slice of the
    # cluster-sorted layout
    ordered = sorted(got, key=lambda r: (r["cluster"], r["vec_id"]))
    shards = [r["shard"] for r in ordered]
    assert shards == sorted(shards)


def test_balanced_shards_single_shard_and_errors(spark):
    import pytest as _pytest

    from traits_data_spark.operators.layout import balanced_shards

    df = spark.createDataFrame(
        [(1, 0), (2, 1)], "vec_id long, cluster long"
    )
    one = balanced_shards(df, "vec_id", "cluster", n_shards=1).collect()
    assert {r["shard"] for r in one} == {0}
    with _pytest.raises(ValueError):
        balanced_shards(df, "vec_id", "cluster", n_shards=0)


def test_balanced_shards_catalog_sizes(spark, sf_dir, embeddings):
    """Every embedding gets a shard and sizes differ by at most one —
    (pos*6) DIV total chunks as |{pos: pos*6 // total == s}|."""
    from traits_data_spark.catalog.ann import q_balanced_shards

    got = q_balanced_shards(spark, sf_dir).collect()
    sizes = {}
    for r in got:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert sum(sizes.values()) == embeddings.count()
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_balanced_shards_null_cluster_rows_survive(spark):
    """A NULL cluster is a legitimate group: its rows must get shards
    (an equi-join would silently drop them against an inflated total)
    and the exact-balance contract must hold."""
    from traits_data_spark.operators.layout import balanced_shards

    rows = [(i, None if i < 5 else i % 3) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, cluster long")
    got = balanced_shards(df, "vec_id", "cluster", n_shards=4).collect()
    assert len(got) == 12
    sizes = {}
    for r in got:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert sorted(sizes) == [0, 1, 2, 3]
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the NULL group sorts first → occupies the leading positions
    null_shards = {r["shard"] for r in got if r["cluster"] is None}
    assert null_shards <= {0, 1}
