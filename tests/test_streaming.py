"""Structured Streaming bronze path: file stream → foreachBatch MERGE,
watermarked windowed aggregates (run with availableNow over a temp
landing dir — real streaming machinery, bounded runtime)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from traits_data_spark.sinks.upsert import merge_upsert
from traits_data_spark.streaming.bronze import (
    stream_json_landing,
    upsert_each_batch,
    windowed_event_counts,
)

SCHEMA = "k LONG, part STRING, v STRING"


def test_stream_upsert_each_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    (landing / "a.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 1, "part": "p1", "v": "a"},
                {"k": 2, "part": "p1", "v": "b"},
            ]
        )
    )
    stream = stream_json_landing(spark, str(landing), SCHEMA)
    q = upsert_each_batch(stream, target, keys=["k"], partition_by=["part"], checkpoint=ckpt)
    q.awaitTermination(60)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b"}

    # second drop: update k=2, new k=3 — checkpoint skips the old file
    (landing / "b.json").write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"k": 2, "part": "p1", "v": "B"},
                {"k": 3, "part": "p2", "v": "c"},
            ]
        )
    )
    stream2 = stream_json_landing(spark, str(landing), SCHEMA)
    q2 = upsert_each_batch(stream2, target, keys=["k"], partition_by=["part"], checkpoint=ckpt)
    q2.awaitTermination(60)
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def _files(root):
    return {
        os.path.relpath(os.path.join(d, f), root): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root)
        for f in fs
    }


def test_stream_empty_drop_writes_nothing(spark, tmp_path):
    """An empty landing file runs a 0-row micro-batch: with no table
    yet it creates nothing, and an existing table keeps every file."""
    landing = tmp_path / "landing"
    landing.mkdir()
    target = tmp_path / "silver"
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = upsert_each_batch(
            stream_json_landing(spark, str(landing), SCHEMA),
            str(target),
            keys=["k"],
            partition_by=["part"],
            checkpoint=ckpt,
        )
        q.awaitTermination(60)
        return [p["numInputRows"] for p in q.recentProgress]

    (landing / "empty1.json").write_text("")
    assert drain() == [0]
    assert not target.exists()

    spark.createDataFrame([(1, "p1", "a")], SCHEMA).write.partitionBy(
        "part"
    ).parquet(str(target))
    before = _files(target)
    (landing / "empty2.json").write_text("")
    assert drain() == [0]
    assert _files(target) == before


def test_windowed_event_counts_streaming_plan(spark, tmp_path):
    """Drive the watermarked windowed aggregate through a real stream
    (availableNow → memory sink) and check the rollup."""
    landing = tmp_path / "events"
    landing.mkdir()
    rows = [
        {"ts": "2024-01-01 10:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 10:55:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 11:05:00", "event_type": "view", "value": 3.0},
    ]
    (landing / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts STRING, event_type STRING, value DOUBLE")
        .json(str(landing))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = windowed_event_counts(
        stream,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        ],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(60)
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert out[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 11:00:00", "view")] == (1, 3.0)


def test_stream_dedup_within_watermark(spark, tmp_path):
    from traits_data_spark.streaming.bronze import stream_dedup

    rows = [
        {"k": 1, "ts": "2024-01-01 10:00:00", "v": "a"},
        {"k": 1, "ts": "2024-01-01 10:00:05", "v": "a-dup"},
        {"k": 2, "ts": "2024-01-01 10:01:00", "v": "b"},
    ]
    landing = tmp_path / "dd"
    landing.mkdir()
    (landing / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("k LONG, ts STRING, v STRING")
        .json(str(landing))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        stream_dedup(stream, ["k"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dd")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM dd").collect()}
    assert set(got) == {1, 2}
    assert got[1] in ("a", "a-dup") and len(got) == 2


def test_streaming_incremental_lsh_dedup(spark, tmp_path, documents):
    """E2E: a file stream of new documents is near-dup-mined against a
    persisted LSH band index inside foreachBatch — history is never
    re-shingled, and the resulting candidate set matches a full batch
    re-run over (history + new docs)."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.dedup import (
        banded_signatures,
        incremental_lsh_candidates,
        minhash_lsh_candidates,
    )

    docs = documents.select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400).limit(50)

    # persisted index for the existing corpus (the steady-state asset)
    index_path = str(tmp_path / "band_index")
    banded_signatures(history, "text", "doc_id", num_hashes=16, bands=4)\
        .write.parquet(index_path)

    # land the new docs as a JSON file stream
    landing = tmp_path / "docs_landing"
    landing.mkdir()
    pdf = new_docs.toPandas()
    (landing / "batch0.json").write_text(
        pdf.to_json(orient="records", lines=True)
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(landing))
    )
    out_path = str(tmp_path / "cands")

    def _mine(batch_df, batch_id):
        idx = batch_df.sparkSession.read.parquet(index_path)
        cands = incremental_lsh_candidates(
            batch_df, idx, "text", "doc_id", num_hashes=16, bands=4
        )
        cands.write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(_mine)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out_path).collect()
    }
    # ground truth: full batch re-run over history + new docs, keeping
    # only pairs that touch a new doc (the increment a stream adds)
    new_ids = {r["doc_id"] for r in new_docs.collect()}
    full = minhash_lsh_candidates(
        history.unionByName(new_docs), "text", "doc_id",
        num_hashes=16, bands=4,
    )
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert got == want and got


def test_streaming_cms_sketch_matches_batch(spark, tmp_path, documents):
    """E2E: a count-min sketch maintained incrementally over a file
    stream (foreachBatch add-merges each micro-batch's cells into the
    persisted sketch) equals the sketch built in one batch pass — the
    add-merge property is what makes the sketch a streaming-safe
    aggregate at 100 TB (fixed state, no re-scan of history)."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.sketches import count_min_sketch
    from traits_data_spark.operators.text import word_array

    docs = documents.select("doc_id", "text").filter(F.col("doc_id") < 120)

    landing = tmp_path / "cms_landing"
    landing.mkdir()
    # two files -> two micro-batches under availableNow with
    # maxFilesPerTrigger=1
    for i, pred in enumerate(
        [F.col("doc_id") < 60, F.col("doc_id") >= 60]
    ):
        pdf = docs.filter(pred).toPandas()
        (landing / f"batch{i}.json").write_text(
            pdf.to_json(orient="records", lines=True)
        )

    sketch_path = str(tmp_path / "cms_sketch")

    def _update(batch_df, batch_id):
        ss = batch_df.sparkSession
        words = batch_df.select(
            F.explode(word_array("text")).alias("__w")
        ).select(F.lower(F.col("__w")).alias("term"))
        delta = count_min_sketch(words, "term", depth=2, width=64)
        try:
            prev = ss.read.parquet(sketch_path)
            merged = (
                prev.unionByName(delta)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        except Exception:
            merged = delta
        merged.localCheckpoint().write.mode("overwrite").parquet(sketch_path)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        stream.writeStream.foreachBatch(_update)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    batch_words = docs.select(
        F.explode(word_array("text")).alias("__w")
    ).select(F.lower(F.col("__w")).alias("term"))
    expected = sorted(
        map(tuple, count_min_sketch(batch_words, "term", depth=2, width=64).collect())
    )
    got = sorted(map(tuple, spark.read.parquet(sketch_path).collect()))
    assert got == expected


def test_streaming_incremental_semantic_dedup(spark, tmp_path, embeddings):
    """E2E: a file stream of new embeddings is near-dup-mined against a
    persisted hyperplane-bucket index inside foreachBatch — history is
    never re-bucketed, and the resulting pair set matches a full batch
    re-run over (history + new vectors)."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        embedding_near_dups,
        hyperplane_bucket_index,
        incremental_embedding_near_dups,
    )

    emb = embeddings.select("vec_id", "embedding").limit(200).cache()
    history = emb.filter(F.col("vec_id") % 5 != 0)
    new_vecs = emb.filter(F.col("vec_id") % 5 == 0)
    params = dict(dim=64, threshold=0.2, n_planes=3)

    # persisted index for the existing corpus (the steady-state asset)
    index_path = str(tmp_path / "bucket_index")
    hyperplane_bucket_index(history, dim=64, n_planes=3).write.parquet(
        index_path
    )

    # land the new vectors as a JSON file stream
    landing = tmp_path / "vec_landing"
    landing.mkdir()
    # double_precision=15 keeps the embeddings bit-stable through the
    # JSON round-trip; pandas' default 10 would perturb vectors near a
    # hyperplane or a 6-dp cosine rounding boundary.
    (landing / "batch0.json").write_text(new_vecs.toPandas().to_json(
        orient="records", lines=True, double_precision=15
    ))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .json(str(landing))
    )
    out_path = str(tmp_path / "pairs")

    def _mine(batch_df, batch_id):
        idx = batch_df.sparkSession.read.parquet(index_path)
        pairs = incremental_embedding_near_dups(batch_df, idx, **params)
        pairs.write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(_mine)
        .option("checkpointLocation", str(tmp_path / "ckpt_sem"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in spark.read.parquet(out_path).collect()
    }
    # ground truth: full batch re-run, keeping only pairs that touch a
    # new vector (the increment a stream adds)
    new_ids = {r["vec_id"] for r in new_vecs.collect()}
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dups(emb, **params).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert got == want and got


def test_streaming_curation_ingest(spark, tmp_path, documents):
    """E2E: streaming curation — each micro-batch is Gopher-filtered,
    near-dup-mined against the persisted LSH band index (which grows
    with every batch's survivors), and only clean novel docs are
    appended. The curated set matches a sequential batch replay, and
    history is never re-shingled."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.dedup import (
        banded_signatures,
        incremental_lsh_candidates,
    )
    from traits_data_spark.operators.text import gopher_rules

    STOPS = ("the", "a", "spark", "stream")
    docs = documents.select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 300)
    b1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 380))
    b2 = docs.filter((F.col("doc_id") >= 380) & (F.col("doc_id") < 460))

    index_path = str(tmp_path / "band_index")
    banded_signatures(history, "text", "doc_id", num_hashes=16, bands=4)\
        .write.parquet(index_path)

    landing = tmp_path / "curation_landing"
    landing.mkdir()
    for i, b in enumerate([b1, b2]):
        (landing / f"batch{i}.json").write_text(
            b.toPandas().to_json(orient="records", lines=True)
        )
    out_path = str(tmp_path / "curated")

    def _curate(batch_df, batch_id):
        ss = batch_df.sparkSession
        passed = (
            gopher_rules(batch_df, min_words=10, stops=STOPS)
            .filter(F.col("keep") == 1)
            .select("doc_id", "text")
        )
        idx = ss.read.parquet(index_path)
        dup_ids = (
            incremental_lsh_candidates(
                passed, idx, "text", "doc_id", num_hashes=16, bands=4
            )
            .select(F.greatest("id_a", "id_b").alias("doc_id"))
            .distinct()
        )
        survivors = passed.join(dup_ids, "doc_id", "left_anti")
        survivors.write.mode("append").parquet(out_path)
        banded_signatures(
            survivors, "text", "doc_id", num_hashes=16, bands=4
        ).write.mode("append").parquet(index_path)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .writeStream.foreachBatch(_curate)
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}

    # sequential batch replay with the same greedy keep-earlier policy
    def replay(batch, kept_so_far):
        passed = (
            gopher_rules(batch, min_words=10, stops=STOPS)
            .filter(F.col("keep") == 1)
            .select("doc_id", "text")
        )
        idx = banded_signatures(
            kept_so_far, "text", "doc_id", num_hashes=16, bands=4
        )
        dup = (
            incremental_lsh_candidates(
                passed, idx, "text", "doc_id", num_hashes=16, bands=4
            )
            .select(F.greatest("id_a", "id_b").alias("doc_id"))
            .distinct()
        )
        return passed.join(dup, "doc_id", "left_anti")

    s1 = replay(b1, history)
    s2 = replay(b2, history.unionByName(s1.select("doc_id", "text")))
    want = {r.doc_id for r in s1.collect()} | {r.doc_id for r in s2.collect()}
    assert got == want and got
    # and the stream actually curated something away
    all_in = {r.doc_id for r in b1.collect()} | {r.doc_id for r in b2.collect()}
    assert got < all_in


def test_streaming_anomalies_matches_python_welford(spark, tmp_path):
    """Two micro-batches through the stateful anomaly detector: flags
    and z-scores match a pure-Python replay of the same
    score-against-pre-batch / Chan-merge semantics, and state survives
    across batches (batch-2 scores use batch-1 statistics)."""
    import json
    import math

    from traits_data_spark.streaming.anomaly import streaming_anomalies

    rows_b1 = [("a", float(v)) for v in [10, 11, 9, 10, 12, 8, 10, 11, 9, 10, 30]]
    rows_b2 = [("a", 10.0), ("a", 55.0), ("b", 1.0)]
    landing = tmp_path / "anom"
    landing.mkdir()
    import os
    for i, rows in enumerate([rows_b1, rows_b2]):
        p = landing / f"b{i}.json"
        p.write_text(
            "\n".join(json.dumps({"event_type": k, "value": v}) for k, v in rows)
        )
        # FileStreamSource orders by modification time; same-ms writes
        # would make batch order ambiguous
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        streaming_anomalies(stream, threshold=3.0, min_count=10)
        .writeStream.format("memory")
        .queryName("anom")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = [
        (r.key, r.value, r.is_anomaly, r.n_seen)
        for r in spark.sql("SELECT * FROM anom ORDER BY key, n_seen, value").collect()
    ]

    # pure-Python replay
    def replay(batches, threshold=3.0, min_count=10):
        state = {}
        out = []
        for batch in batches:
            by_key = {}
            for k, v in batch:
                by_key.setdefault(k, []).append(v)
            for k, vals in by_key.items():
                n0, mean0, m2_0 = state.get(k, (0, 0.0, 0.0))
                for v in vals:
                    if n0 >= min_count and m2_0 > 0:
                        z = (v - mean0) / math.sqrt(m2_0 / (n0 - 1))
                        flag = abs(z) > threshold
                    else:
                        flag = False
                    out.append((k, v, flag, n0))
                nb = len(vals)
                mean_b = sum(vals) / nb
                m2_b = sum((x - mean_b) ** 2 for x in vals)
                n1 = n0 + nb
                delta = mean_b - mean0
                state[k] = (
                    n1,
                    mean0 + delta * nb / n1,
                    m2_0 + m2_b + delta * delta * n0 * nb / n1,
                )
        return sorted(out)

    want = replay([rows_b1, rows_b2])
    assert sorted(got) == want
    # the batch-2 spike IS flagged (scored against batch-1 stats)
    assert ("a", 55.0, True, 11) in got
    # batch-1's own 30 is NOT flagged (pre-batch state had n=0)
    assert ("a", 30.0, False, 0) in got


def test_streaming_anomalies_null_and_flat_baseline(spark, tmp_path):
    """Nulls are dropped without biasing the state, and a deviation
    from a flat (zero-variance) baseline is flagged even though no
    finite z exists."""
    import json
    import os

    from traits_data_spark.streaming.anomaly import streaming_anomalies

    b1 = [("hb", 10.0)] * 12 + [("hb", None)]
    b2 = [("hb", 10.0), ("hb", 5000.0)]
    landing = tmp_path / "anom2"
    landing.mkdir()
    for i, rows in enumerate([b1, b2]):
        p = landing / f"b{i}.json"
        p.write_text(
            "\n".join(json.dumps({"event_type": k, "value": v}) for k, v in rows)
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        streaming_anomalies(stream, threshold=3.0, min_count=10)
        .writeStream.format("memory")
        .queryName("anom2")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_anom2"))
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    rows = spark.sql("SELECT * FROM anom2").collect()
    # the null row never reaches the output and never inflates n:
    # batch 2 sees exactly 12 prior observations
    assert all(r.value is not None for r in rows)
    b2_rows = {r.value: r for r in rows if r.n_seen == 12}
    assert set(b2_rows) == {10.0, 5000.0}
    # flat baseline: the spike flags (null z), the steady value doesn't
    assert b2_rows[5000.0].is_anomaly and b2_rows[5000.0].zscore is None
    assert not b2_rows[10.0].is_anomaly


def test_streaming_exact_dedup_ingest(spark, tmp_path, documents):
    """E2E: streaming exact-dedup ingest — each micro-batch anti-joins
    the persisted ``(content_hash, min_id)`` index, appends only
    unseen content, and extends the index with what it kept. The kept
    set matches a sequential batch replay; history is hashed once at
    bootstrap and never again."""
    import os

    from pyspark.sql import functions as F

    from traits_data_spark.operators.dedup import (
        content_hash_index,
        extend_content_index,
        incremental_exact_dedup,
    )

    docs = documents.select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 300)
    # the sf0.001 slice has no exact dups in this id range — inject
    # them: 9001 duplicates history content (must drop), 9002/9003
    # duplicate each other across batches (first one wins)
    h_texts = [r.text for r in history.filter(F.col("text").isNotNull()).limit(2).collect()]
    extra = spark.createDataFrame(
        [(9001, h_texts[0]), (9002, "brand new content xyz")],
        "doc_id long, text string",
    )
    extra2 = spark.createDataFrame(
        [(9003, "brand  NEW   content xyz")], "doc_id long, text string"
    )
    b1 = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 380)
    ).unionByName(extra)
    b2 = docs.filter(
        (F.col("doc_id") >= 380) & (F.col("doc_id") < 460)
    ).unionByName(extra2)

    index_path = str(tmp_path / "content_index")
    content_hash_index(history, "text", "doc_id").write.parquet(index_path)

    landing = tmp_path / "dedup_landing"
    landing.mkdir()
    for i, b in enumerate([b1, b2]):
        p = landing / f"batch{i}.json"
        p.write_text(b.toPandas().to_json(orient="records", lines=True))
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    out_path = str(tmp_path / "kept")

    def _ingest(batch_df, batch_id):
        ss = batch_df.sparkSession
        idx = ss.read.parquet(index_path)
        kept = incremental_exact_dedup(batch_df, idx, "text", "doc_id")
        kept.write.mode("append").parquet(out_path)
        extend_content_index(
            idx.limit(0), kept, "doc_id"
        ).write.mode("append").parquet(index_path)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt_ded"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}

    # sequential replay through the library API (no parquet round-trip)
    idx0 = content_hash_index(history, "text", "doc_id")
    k1 = incremental_exact_dedup(b1, idx0, "text", "doc_id")
    k2 = incremental_exact_dedup(
        b2, extend_content_index(idx0, k1, "doc_id"), "text", "doc_id"
    )
    want = {r.doc_id for r in k1.collect()} | {r.doc_id for r in k2.collect()}
    assert got == want and got
    # the injected dups were deduped: 9001 (history content) and 9003
    # (normalizes to 9002's batch-1 content) dropped, 9002 kept
    assert 9002 in got and 9001 not in got and 9003 not in got
    # final index: one row per distinct content across history + kept
    final_idx = spark.read.parquet(index_path)
    hashes = [r.content_hash for r in final_idx.collect()]
    assert len(hashes) == len(set(hashes))


def test_streaming_anomalies_ttl_evicts_and_restarts(spark, tmp_path):
    """The processing-time TTL branch: a key idle past ``state_ttl_ms``
    is evicted (its timed-out callback emits nothing), and when the key
    returns its statistics restart from zero — n_seen is 0 again and
    the first ``min_count`` values are never flagged, even a spike that
    the pre-eviction statistics would have caught."""
    import json
    import os

    from traits_data_spark.streaming.anomaly import streaming_anomalies

    b1 = [("x", float(v)) for v in [10, 11, 9, 10, 12, 8, 10, 11, 9, 10, 10, 9]]
    b2 = [("other", 1.0)]  # drives the micro-batch that fires x's timeout
    b3 = [("x", 10.0), ("x", 999.0)]  # 999 would flag against b1 stats
    landing = tmp_path / "anom_ttl"
    landing.mkdir()
    for i, rows in enumerate([b1, b2, b3]):
        p = landing / f"b{i}.json"
        p.write_text(
            "\n".join(json.dumps({"event_type": k, "value": v}) for k, v in rows)
        )
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = (
        streaming_anomalies(
            stream, threshold=3.0, min_count=10, state_ttl_ms=1
        )
        .writeStream.format("memory")
        .queryName("anom_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_anom_ttl"))
        .start()
    )
    # ProcessingTimeTimeout + availableNow keeps scheduling (empty)
    # micro-batches to fire timeouts, so the query never terminates on
    # its own — poll the sink for the expected rows, then stop.
    import time

    expected = len(b1) + len(b2) + len(b3)
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) AS c FROM anom_ttl").collect()[0].c >= expected:
            break
        time.sleep(1)
    q.stop()
    rows = spark.sql("SELECT * FROM anom_ttl").collect()
    x_rows = [r for r in rows if r.key == "x"]
    # batch 1 emitted 12 x-rows (n_seen 0, pre-batch state empty);
    # batch 3 emitted 2 more — ALSO with n_seen 0: the state was
    # evicted between batches, not carried (without TTL it would be 12)
    assert len(x_rows) == len(b1) + len(b3)
    assert all(r.n_seen == 0 for r in x_rows)
    # the restarted key's first min_count values are never flagged —
    # including the 999 spike the old statistics would have caught
    spike = [r for r in x_rows if r.value == 999.0]
    assert spike and not spike[0].is_anomaly and spike[0].zscore is None
    # the timed-out callback itself emitted nothing (only real data
    # rows appear for x, no eviction artifacts)
    assert all(r.value is not None for r in x_rows)


def test_streaming_pq_encode_ingest(spark, tmp_path, embeddings):
    """E2E: new embeddings stream in and are PQ-encoded against a
    FROZEN codebook artifact inside foreachBatch — the ANN
    index-maintenance deployment loop (train once, encode deltas
    forever; batch-side attestation: the ``pq_incremental_encode``
    catalog oracle and the encode parity tests). The accumulated code
    table (stored history codes + streamed delta codes) must equal a
    full batch re-encode of the whole corpus."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import pq_encode, pq_fit

    emb = (
        embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .limit(160)
        .cache()
    )
    history = emb.filter(F.col("vec_id") % 4 != 0)
    new_vecs = emb.filter(F.col("vec_id") % 4 == 0)

    # steady-state assets: frozen codebooks + the history's stored codes
    books = pq_fit(history, dim=64, m=4, k=8, n_iter=2)
    books_path = str(tmp_path / "pq_books")
    books.write.parquet(books_path)
    codes_path = str(tmp_path / "pq_codes")
    pq_encode(
        history, spark.read.parquet(books_path), dim=64, m=4
    ).write.mode("append").parquet(codes_path)

    # land the delta as TWO micro-batches (distinct mtimes — file
    # stream orders by modification time). Parquet, NOT JSON: a JSON
    # round-trip perturbs doubles by ~1 ulp and a vector near-
    # equidistant between two centroids could then encode differently
    # than the batch re-encode of the exact vector (review finding).
    import os as _os

    landing = tmp_path / "vec_landing"
    landing.mkdir()
    half_df = new_vecs.withColumn(
        "__h", (F.monotonically_increasing_id() % 2).cast("int")
    ).cache()
    for i in (0, 1):
        sub = landing / f"batch{i}"
        half_df.filter(F.col("__h") == i).drop("__h").coalesce(
            1
        ).write.parquet(str(sub))
        for f in sub.iterdir():
            _os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(landing))
    )

    def _encode(batch_df, batch_id):
        bk = batch_df.sparkSession.read.parquet(books_path)
        pq_encode(batch_df, bk, dim=64, m=4).write.mode("append").parquet(
            codes_path
        )

    q = (
        stream.writeStream.foreachBatch(_encode)
        .option("checkpointLocation", str(tmp_path / "ckpt_pq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r["vec_id"], r["sub"], r["code"])
        for r in spark.read.parquet(codes_path).collect()
    }
    want = {
        (r["vec_id"], r["sub"], r["code"])
        for r in pq_encode(
            emb, spark.read.parquet(books_path), dim=64, m=4
        ).collect()
    }
    assert got == want and got


def test_streaming_unigram_tokenize_ingest(spark, tmp_path, documents):
    """E2E: train the unigram tokenizer ONCE on the history corpus
    (``unigram_train`` — the on-cluster trainer), persist the piece
    table, then tokenize newly-landing documents inside a streaming
    ``foreachBatch`` against the FROZEN vocabulary — the tokenizer
    twin of the PQ encode-deltas-forever loop. The accumulated token
    counts must equal a batch apply over all the new docs."""
    import os as _os

    from pyspark.sql import functions as F

    from traits_data_spark.operators.text import (
        unigram_apply_token_counts,
        unigram_train,
    )

    docs = documents.select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 300)
    new_docs = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 420)
    ).cache()

    vocab_path = str(tmp_path / "unigram_vocab")
    unigram_train(history).write.parquet(vocab_path)

    landing = tmp_path / "doc_landing"
    landing.mkdir()
    for i, half in enumerate(
        (new_docs.filter(F.col("doc_id") % 2 == 0),
         new_docs.filter(F.col("doc_id") % 2 == 1))
    ):
        sub = landing / f"batch{i}"
        half.coalesce(1).write.parquet(str(sub))
        for f in sub.iterdir():
            _os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    out_path = str(tmp_path / "tok_counts")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(landing))
    )

    def _tokenize(batch_df, batch_id):
        vb = batch_df.sparkSession.read.parquet(vocab_path)
        unigram_apply_token_counts(batch_df, vb).write.mode(
            "append"
        ).parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(_tokenize)
        .option("checkpointLocation", str(tmp_path / "ckpt_unigram"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r["doc_id"], r["unigram_trained_tokens"], r["nll_q20"])
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r["doc_id"], r["unigram_trained_tokens"], r["nll_q20"])
        for r in unigram_apply_token_counts(
            new_docs, spark.read.parquet(vocab_path)
        ).collect()
    }
    assert got == want and len(got) == new_docs.count()


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path, documents):
    """E2E deploy path for the on-cluster DSIR trainer: train the
    hashed-ngram importance weights ONCE (``dsir_train``), freeze the
    dense model to parquet (the index-artifact contract the PQ/LSH
    streaming tests pin), then score streaming document micro-batches
    against the frozen model inside foreachBatch. Per-doc weights
    equal the batch replay exactly — training never re-runs on the
    stream."""
    import os

    from pyspark.sql import functions as F

    from traits_data_spark.operators.selection import dsir_train, dsir_weights

    docs = documents.select("doc_id", "text", "lang")
    model_path = str(tmp_path / "dsir_model")
    dsir_train(docs).select("bucket", "delta_q20").write.parquet(model_path)

    b1 = docs.filter(F.col("doc_id") < 80).select("doc_id", "text")
    b2 = docs.filter(
        (F.col("doc_id") >= 80) & (F.col("doc_id") < 160)
    ).select("doc_id", "text")
    landing = tmp_path / "dsir_landing"
    landing.mkdir()
    for i, b in enumerate([b1, b2]):
        p = landing / f"batch{i}.json"
        p.write_text(b.toPandas().to_json(orient="records", lines=True))
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    out_path = str(tmp_path / "dsir_scored")

    def _score(batch_df, batch_id):
        model = batch_df.sparkSession.read.parquet(model_path)
        dsir_weights(
            batch_df, model, delta_col="delta_q20", weight_col="weight_q20"
        ).select("doc_id", "n_feats", "weight_q20").write.mode(
            "append"
        ).parquet(out_path)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
        .writeStream.foreachBatch(_score)
        .option("checkpointLocation", str(tmp_path / "ckpt_dsir"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        r.doc_id: (r.n_feats, r.weight_q20)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        r.doc_id: (r.n_feats, r.weight_q20)
        for r in dsir_weights(
            b1.unionByName(b2),
            spark.read.parquet(model_path),
            delta_col="delta_q20",
            weight_col="weight_q20",
        ).collect()
    }
    assert got == want and got
    # the model was frozen before the stream: weights of docs inside
    # the training slice score under the SAME frozen deltas (no
    # re-train drift between micro-batches)
    assert any(r != (0, 0) for r in got.values())


def test_streaming_semantic_decontaminate(spark, tmp_path, embeddings):
    """E2E: a file stream of corpus embeddings is decontamination-
    checked against a persisted benchmark hyperplane-bucket index
    inside foreachBatch — the benchmark is bucketed once per release,
    never per batch, and the flagged set over all micro-batches
    matches the batch run over the full corpus (per-doc flags are
    independent, so streaming == batch exactly)."""
    import os

    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        hyperplane_bucket_index,
        semantic_decontaminate,
    )

    emb = embeddings.select("vec_id", "embedding").limit(200).cache()
    bench = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    params = dict(dim=64, threshold=0.2, n_planes=3)

    index_path = str(tmp_path / "bench_index")
    hyperplane_bucket_index(bench, dim=64, n_planes=3).write.parquet(
        index_path
    )

    landing = tmp_path / "corpus_landing"
    landing.mkdir()
    halves = (
        corpus.filter(F.col("vec_id") % 2 == 0),
        corpus.filter(F.col("vec_id") % 2 == 1),
    )
    for i, half in enumerate(halves):
        f = landing / f"batch{i}.json"
        f.write_text(half.toPandas().to_json(
            orient="records", lines=True, double_precision=15
        ))
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    out_path = str(tmp_path / "flags")

    def _check(batch_df, batch_id):
        idx = batch_df.sparkSession.read.parquet(index_path)
        flagged = semantic_decontaminate(batch_df, idx, **params)
        flagged.write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(_check)
        .option("checkpointLocation", str(tmp_path / "ckpt_decon"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r["vec_id"], r["eval_id"], r["cosine"], r["n_matches"])
        for r in spark.read.parquet(out_path).collect()
    }
    idx = spark.read.parquet(index_path)
    want = {
        (r["vec_id"], r["eval_id"], r["cosine"], r["n_matches"])
        for r in semantic_decontaminate(corpus, idx, **params).collect()
    }
    assert got == want and got
