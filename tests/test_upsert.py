"""S10/S11/J13: keyed MERGE semantics, partition-scoped parquet
upsert, incremental anti-join."""

import os
import re

import pytest
from pyspark.sql import functions as F

from traits_data_spark.sinks.upsert import (
    incremental_new_keys,
    merge_upsert,
    upsert_parquet_partition,
)


def test_merge_updates_win_and_new_rows_append(spark):
    existing = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], ["k", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "new2"), (3, "new3")], ["k", "v"]
    )
    out = {r["k"]: r["v"] for r in merge_upsert(existing, updates, ["k"]).collect()}
    assert out == {1: "old1", 2: "new2", 3: "new3"}


def test_merge_reconciles_schema_by_name(spark):
    existing = spark.createDataFrame([(1, "a")], ["k", "v"])
    updates = spark.createDataFrame([(2, "b", 9.0)], ["k", "v", "extra"])
    out = merge_upsert(existing, updates, ["k"])
    rows = {r["k"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.0)}


def test_merge_none_existing_first_write(spark):
    updates = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert merge_upsert(None, updates, ["k"]).count() == 1


def test_upsert_parquet_partition_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c")], ["k", "part", "v"]
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])
    # update k=2, add k=4, touch only partition p1
    delta = spark.createDataFrame(
        [(2, "p1", "B"), (4, "p1", "d")], ["k", "part", "v"]
    )
    upsert_parquet_partition(delta, path, keys=["k"], partition_by=["part"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_merge_delete_retracts_and_wins_over_update(spark):
    existing = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"]
    )
    updates = spark.createDataFrame([(2, "new2"), (4, "new4")], ["k", "v"])
    # k=2 is both updated and retracted: delete wins (fail-safe).
    deletes = spark.createDataFrame([(2,), (3,), (99,)], ["k"])
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(existing, updates, ["k"], deletes=deletes).collect()
    }
    assert out == {1: "old1", 4: "new4"}


def test_upsert_parquet_delete_roundtrip(spark, tmp_path):
    """A retracted key is gone after re-merge — including from a
    partition the update batch never touches, and a partition the
    retraction fully empties leaves no stale files behind."""
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"), (5, "p3", "e")],
        ["k", "part", "v"],
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])
    delta = spark.createDataFrame([(4, "p1", "d")], ["k", "part", "v"])
    # k=2 lives in touched p1; k=3 lives in untouched p2 (and is p2's
    # only row, so the p2 directory itself must disappear).
    deletes = spark.createDataFrame([(2,), (3,)], ["k"])
    upsert_parquet_partition(
        delta, path, keys=["k"], partition_by=["part"], deletes=deletes
    )
    got = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("p1", "a"), 4: ("p1", "d"), 5: ("p3", "e")}
    import os

    assert not os.path.exists(os.path.join(path, "part=p2"))
    assert os.path.exists(os.path.join(path, "part=p3"))
    # idempotent: re-applying the same retraction is a no-op
    upsert_parquet_partition(
        spark.createDataFrame([], "k INT, part STRING, v STRING"),
        path,
        keys=["k"],
        partition_by=["part"],
        deletes=deletes,
    )
    assert spark.read.parquet(path).count() == 3


def _listing(root):
    """Every file under ``root`` (hidden ones too) with its size and
    mtime: a rewritten file or a new ``_SUCCESS`` changes it."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (
                st.st_size,
                st.st_mtime_ns,
            )
    return out


def _executions(spark):
    """SQL executions Spark's status store still retains (the newest
    ``spark.sql.ui.retainedExecutions``), in execution-id order. The
    store is fed by the listener bus, so drain the bus first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _last_execution_id(spark):
    ex = _executions(spark)
    return ex.apply(ex.size() - 1).executionId() if ex.size() else -1


def _partition_filters_after(spark, last_id):
    """``PartitionFilters`` of every file scan in the SQL executions
    after ``last_id``."""
    ex = _executions(spark)
    filters = []
    i = ex.size() - 1
    while i >= 0 and ex.apply(i).executionId() > last_id:
        filters += re.findall(
            r"PartitionFilters: \[([^\]]*)\]", ex.apply(i).physicalPlanDescription()
        )
        i -= 1
    return filters


def test_upsert_scan_is_pruned_to_touched_partitions(spark, tmp_path):
    """An update landing in one of three partitions reads back only
    that partition: the table scan's PartitionFilters name it."""
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p2", "b"), (3, "p3", "c")], ["k", "part", "v"]
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])
    last_id = _last_execution_id(spark)
    delta = spark.createDataFrame([(2, "p2", "B")], ["k", "part", "v"])
    upsert_parquet_partition(delta, path, keys=["k"], partition_by=["part"])
    filters = _partition_filters_after(spark, last_id)
    assert filters, "the MERGE did not scan the table"
    for f in filters:
        assert "p2" in f and "p1" not in f and "p3" not in f, f
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_two_column_partitions_with_null(spark, tmp_path):
    """Partitioned by (a, b) with NULL partition values: a retraction
    empties ``a=x/b=__HIVE_DEFAULT_PARTITION__`` (removed), partially
    retracts ``a=x/b=1`` (survivor kept), an update into the NULL
    partition ``a=__HIVE_DEFAULT_PARTITION__/b=3`` keeps its other row,
    and the untouched ``a=y/b=2`` keeps its exact files. Emptying every
    leaf under ``a=__HIVE_DEFAULT_PARTITION__`` removes that parent
    too."""
    path = str(tmp_path / "t")
    schema = "k INT, v STRING, a STRING, b INT"
    base = spark.createDataFrame(
        [
            (1, "a", "x", 1),
            (2, "b", "x", 1),
            (3, "c", "x", None),
            (4, "d", None, 3),
            (7, "g", None, 3),
            (5, "e", "y", 2),
        ],
        schema,
    )
    upsert_parquet_partition(base, path, keys=["k"], partition_by=["a", "b"])
    null_dir = os.path.join(path, "a=x", "b=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_dir)
    untouched = os.path.join(path, "a=y", "b=2")
    untouched_files = _listing(untouched)
    deletes = spark.createDataFrame([(1,), (3,)], "k INT")
    upsert_parquet_partition(
        spark.createDataFrame([(4, "D", None, 3)], schema),
        path,
        keys=["k"],
        partition_by=["a", "b"],
        deletes=deletes,
    )
    got = {
        r["k"]: (r["v"], r["a"], r["b"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        2: ("b", "x", 1),
        4: ("D", None, 3),
        5: ("e", "y", 2),
        7: ("g", None, 3),
    }
    assert not os.path.exists(null_dir)
    assert _listing(untouched) == untouched_files
    # re-applying the same retraction touches nothing: no file changes
    before = _listing(path)
    upsert_parquet_partition(
        spark.createDataFrame([], schema),
        path,
        keys=["k"],
        partition_by=["a", "b"],
        deletes=deletes,
    )
    assert _listing(path) == before
    # retracting both rows of a=NULL/b=3 empties its leaf; the emptied
    # parent a=NULL/ goes too, while a=x/ still holds b=1
    upsert_parquet_partition(
        spark.createDataFrame([], schema),
        path,
        keys=["k"],
        partition_by=["a", "b"],
        deletes=spark.createDataFrame([(4,), (7,)], "k INT"),
    )
    assert not os.path.exists(os.path.join(path, "a=__HIVE_DEFAULT_PARTITION__"))
    assert os.path.isdir(os.path.join(path, "a=x", "b=1"))
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == [2, 5]


def test_incremental_new_keys_anti_join(spark):
    incoming = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    existing = spark.createDataFrame([(2,)], ["k"])
    out = sorted(r["k"] for r in incremental_new_keys(incoming, existing, ["k"]).collect())
    assert out == [1, 3]
