"""Keyed upsert sinks (SURVEY.md §2.1 S10/S11).

The reference upserts Parquet in place with pandas (update matching
keys, append new, reconcile schema — DEPRECATED/statsbomb-silver.py:50-111)
and upserts MySQL row-chunks (INSERT .. ON DUPLICATE KEY UPDATE —
LOADERS/GOLD-data-loader.py:278-303,654-676).

Plain-Spark MERGE semantics: read the target partition(s), reconcile
schemas with ``unionByName(allowMissingColumns=True)``, keep the newest
row per key with a deterministic window, dynamic-overwrite the touched
partitions. (On a Delta/Iceberg table this whole function is
``MERGE INTO``; we keep the dependency-free formulation.)
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from traits_data_spark.operators.windows import dedup_keep_best

_SRC_FLAG = "__is_update"


def merge_upsert(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    deletes: DataFrame | None = None,
) -> DataFrame:
    """MERGE: updates win over existing on key collision; schemas are
    reconciled by name (missing columns → null).

    ``deletes`` is a keyed retraction set (any frame carrying the key
    columns): every matching key is dropped from the result, and a
    delete WINS over an update for the same key — the reference's
    upstream re-fetch returns either fresh rows or a "no data"
    tombstone per key (UPDATERS/wyscout-bronze-batch.py:60-76), so a
    batch never legitimately carries both, and dropping is the
    fail-safe reading when it does. The anti-join shuffles on the
    same keys the MERGE window already partitions by."""
    flagged_new = updates.withColumn(_SRC_FLAG, F.lit(1))
    if existing is None:
        merged = flagged_new
    else:
        merged = existing.withColumn(_SRC_FLAG, F.lit(0)).unionByName(
            flagged_new, allowMissingColumns=True
        )
    out = dedup_keep_best(merged, list(keys), [F.col(_SRC_FLAG).desc()])
    if deletes is not None:
        out = out.join(
            deletes.select(*keys).distinct(), list(keys), "left_anti"
        )
    return out.drop(_SRC_FLAG)


# Hive's escapePathName special set: these bytes are %XX-encoded in
# partition directory names (what Spark itself writes for e.g. ':').
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _partition_dir_value(v: object) -> str:
    """Render one partition value the way Spark names the directory
    (``col=<this>``): Hive path escaping, with NULL as the default
    ``__HIVE_DEFAULT_PARTITION__``."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in str(v)
    )


def upsert_parquet_partition(
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    deletes: DataFrame | None = None,
) -> None:
    """S10 as partition-scoped MERGE, with keyed retraction.

    Only partitions present in ``updates`` — plus, when ``deletes`` is
    given, partitions holding a retracted key — are read back and
    rewritten, so cost scales with the delta, not the table:

    - the touched partition values are collected on the driver by one
      ``distinct().collect()`` (bounded by the touched-partition count);
      nothing touched on an existing table returns without a write;
    - the table scan is statically pruned to them by a literal
      predicate (null-safe, so a NULL partition matches), which shows
      as the scan's ``PartitionFilters``;
    - the MERGE runs once, inside the dynamic-overwrite write.

    ``deletes`` mirrors the reference's stale-file delete (an upstream
    re-fetch answering "No statistical data" retracts the key —
    UPDATERS/wyscout-bronze-batch.py:60-76): matching rows are dropped
    during the rewrite. Dynamic partition overwrite only replaces
    partitions PRESENT in the written frame, so a partition the
    retraction fully empties would otherwise survive as stale files.
    The write observes the partitions it keeps (``DataFrame.observe``);
    touched minus kept are removed afterwards through the Hadoop
    FileSystem (the portable spelling of the reference's S3
    delete_object), together with any parent partition directory the
    removal leaves empty.

    An empty ``updates`` on a first write creates no table.
    """
    spark = updates.sparkSession
    parts = list(partition_by)
    existing = None
    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        target = None  # first write
    if target is None:
        if updates.isEmpty():
            return
    else:
        touched_df = updates.select(*parts)
        if deletes is not None:
            # Partitions holding a retracted key are touched too, even
            # when no update lands there.
            touched_df = touched_df.union(
                target.join(
                    F.broadcast(deletes.select(*keys).distinct()),
                    list(keys),
                    "left_semi",
                ).select(*parts)
            )
        touched = [tuple(r) for r in touched_df.distinct().collect()]
        if not touched:
            return
        in_touched = (
            reduce(and_, (F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(parts, vals)))
            for vals in touched
        )
        existing = target.filter(reduce(or_, in_touched))
    merged = merge_upsert(existing, updates, keys, deletes=deletes)
    # Partitions the rewrite keeps, observed by the write itself.
    kept_obs = None
    if deletes is not None and existing is not None:
        kept_obs = Observation()
        merged = merged.observe(kept_obs, F.collect_set(F.struct(*parts)).alias("kept"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    merged.write.mode("overwrite").partitionBy(*parts).parquet(path)
    if kept_obs is None:
        return
    kept = {tuple(r) for r in kept_obs.get["kept"]}
    emptied = [vals for vals in touched if vals not in kept]
    if not emptied:
        return
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    for vals in emptied:
        dirs = [f"{col}={_partition_dir_value(v)}" for col, v in zip(parts, vals)]
        # The leaf, then each ancestor the removal left empty, stopping
        # below the table root (a one-column layout has no ancestors).
        for depth in range(len(dirs), 0, -1):
            p = jvm.org.apache.hadoop.fs.Path(path + "/" + "/".join(dirs[:depth]))
            if not fs.exists(p):
                continue
            if depth < len(dirs) and len(fs.listStatus(p)) > 0:
                break
            fs.delete(p, True)


def incremental_new_keys(
    incoming: DataFrame, existing_keys: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J13/U4: the reference's incremental-ingest anti-join — rows whose
    keys are not yet present (UPDATERS/wyscout-bronze-batch.py:218-226).
    """
    return incoming.join(existing_keys, list(keys), "left_anti")
