"""Structured Streaming ingestion (SURVEY.md §2.9).

The reference has no streaming — its incremental semantics are
file-presence anti-joins + keyed upserts (J13/S10). The streaming-native
equivalent: a file-source stream over the bronze landing prefix feeding
``foreachBatch`` MERGE into silver, plus watermarked windowed
aggregates for event-stream rollups. File sources track processed files
in the checkpoint, which subsumes the reference's hand-rolled
"skip already-fetched matchIds" bookkeeping.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from traits_data_spark.sinks.upsert import upsert_parquet_partition


def stream_json_landing(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int = 1000,
) -> DataFrame:
    """readStream over a bronze landing directory. Schema is mandatory —
    streaming sources cannot infer, and at scale you want the contract
    anyway."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def upsert_each_batch(
    stream_df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    checkpoint: str,
    trigger_once: bool = True,
):
    """foreachBatch keyed MERGE into partitioned Parquet — incremental
    silver maintenance. ``trigger once`` makes it a catch-up batch job
    (the Auto-Loader pattern); drop it for continuous micro-batches."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # An empty micro-batch touches no partition: the upsert returns
        # without a write (and creates no table on a first write).
        upsert_parquet_partition(batch, target_path, keys, partition_by)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps state bounded (keys older
    than the watermark are evicted), which is the streaming analog of
    the batch anti-join ingest (J13): at-least-once upstream delivery
    becomes effectively-once downstream.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: match right-stream rows that
    occur within ``[left_ts - max_lag, left_ts]`` for the same key —
    the streaming form of the batch binned range join
    (``operators.joins.range_join_binned``).

    Both sides carry a watermark and the join condition bounds the
    event-time gap, so each side's state store evicts rows once the
    other side's watermark passes ``max_lag`` — without the time
    bound, stream-stream join state grows forever. Outer joins emit
    the unmatched row only when the watermark closes its window.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    lag_s = _duration_seconds(max_lag)
    gap = lt.cast("long") - rt.cast("long")
    cond = (gap >= 0) & (gap <= F.lit(lag_s))
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return lw.alias("l").join(rw.alias("r"), cond, how)


_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _duration_seconds(s: str) -> int:
    n, unit = s.strip().split()
    return int(n) * _UNIT_SECONDS[unit.lower()]


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
    aggs: Sequence | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregates — the streaming form of
    the batch ``date_trunc`` rollup (see __spark_entry__ q_event_windows).
    Late rows beyond the watermark are dropped and state is bounded.

    ``aggs``: aliased aggregate Columns; default is a plain row count.
    """
    agg_cols = list(aggs) if aggs is not None else [
        F.count(F.lit(1)).alias("n_events")
    ]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"), F.col(key_col))
        .agg(*agg_cols)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )
