"""Similarity search: brute-force vs numpy ground truth; LSH bucket
recall behavior."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from traits_data_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
    with_lsh_bucket,
)


def test_bruteforce_matches_numpy(spark, embeddings):
    emb = embeddings.limit(50).cache()
    queries = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=3)
    got = {
        (r["query_id"], r["rk"]): (r["neighbor_id"], r["cosine"])
        for r in out.collect()
    }

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for q in [r["vec_id"] for r in queries.collect()]:
        sims = []
        for nid, v in vecs.items():
            if nid == q:
                continue
            c = float(vecs[q] @ v / (np.linalg.norm(vecs[q]) * np.linalg.norm(v)))
            sims.append((round(c, 6), -nid))
        sims.sort(reverse=True)
        for rk in (1, 2, 3):
            c_exp, neg_id = sims[rk - 1]
            nid_got, c_got = got[(q, rk)]
            assert nid_got == -neg_id
            assert c_got == pytest.approx(c_exp, abs=1e-6)


def test_lsh_same_vector_same_bucket(spark):
    rows = [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = with_lsh_bucket(
        df.select("vec_id", F.col("embedding").cast("array<double>").alias("v")),
        "v",
        dim=8,
    )
    b = {r["vec_id"]: r["bucket"] for r in out.collect()}
    assert b[1] == b[2]
    assert b[1] != b[3]  # opposite vector flips every sign bit


def test_lsh_topk_is_subset_of_bruteforce_candidates(spark, embeddings):
    emb = embeddings.limit(100)
    queries = emb.filter(F.col("vec_id") < 5)
    approx = lsh_bucketed_topk(emb, queries, dim=64, id_col="vec_id", k=5)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=100)
    a = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in exact.collect()}
    # every approx hit must be a genuine pair with the exact same score
    assert a <= e


def test_embedding_near_dups_finds_planted_pair(spark):
    from traits_data_spark.operators.similarity import embedding_near_dups

    base = [1.0, 0.5] * 4
    nearly = [1.0, 0.5] * 3 + [1.01, 0.5]
    opposite = [-x for x in base]
    df = spark.createDataFrame(
        [(1, base), (2, nearly), (3, opposite)], ["vec_id", "embedding"]
    )
    out = embedding_near_dups(df, dim=8, threshold=0.95, n_planes=4)
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert all(3 not in p for p in pairs)


def test_multiprobe_recall_at_least_single_table(spark, embeddings):
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        lsh_bucketed_topk,
        lsh_topk_multiprobe,
    )

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(embeddings, queries, id_col="vec_id", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    single = lsh_bucketed_topk(
        embeddings, queries, dim=64, id_col="vec_id", k=5, n_planes=6
    )
    multi = lsh_topk_multiprobe(
        embeddings, queries, dim=64, id_col="vec_id", k=5, n_planes=6, n_tables=3
    )
    r_single = len(
        {(r["query_id"], r["neighbor_id"]) for r in single.collect()} & truth
    ) / len(truth)
    r_multi = len(
        {(r["query_id"], r["neighbor_id"]) for r in multi.collect()} & truth
    ) / len(truth)
    # more tables can only add candidates → recall is monotone
    assert r_multi >= r_single
    assert r_multi > 0.0


def test_ivf_hyperplane_full_probe_equals_bruteforce(spark, embeddings):
    """Probing all 2^n_planes cells degenerates to exact search."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import ivf_topk_hyperplane

    emb = embeddings.limit(100).cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=5)
    full = ivf_topk_hyperplane(
        emb, queries, dim=64, k=5, n_planes=3, n_probe=8
    )
    e = sorted(tuple(r) for r in exact.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert e == f


def test_ivf_hyperplane_partial_probe_subset(spark, embeddings):
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import ivf_topk_hyperplane

    emb = embeddings.limit(200)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=200)
    truth = {
        (r["query_id"], r["neighbor_id"], r["cosine"]) for r in exact.collect()
    }
    approx = ivf_topk_hyperplane(
        emb, queries, dim=64, k=5, n_planes=3, n_probe=2
    )
    got = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in approx.collect()}
    assert got and got <= truth  # genuine pairs, exact same scores


def test_quantize_int8_roundtrip_error_bound(spark, embeddings):
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        dequantize_int8,
        quantize_int8,
    )

    emb = embeddings.limit(50)
    qd = quantize_int8(emb)
    err = F.array_max(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            dequantize_int8("qvec", "q_scale", "q_min"),
            lambda a, b: F.abs(a - b),
        )
    )
    rows = qd.select(
        "q_scale",
        err.alias("max_err"),
        F.array_min("qvec").alias("cmin"),
        F.array_max("qvec").alias("cmax"),
    ).collect()
    for r in rows:
        assert r["cmin"] >= -128 and r["cmax"] <= 127
        # round() puts every code within half a step of the true value
        assert r["max_err"] <= r["q_scale"] / 2 + 1e-12


def test_quantize_int8_constant_vector(spark):
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        dequantize_int8,
        quantize_int8,
    )

    df = spark.createDataFrame([(1, [0.5] * 4)], ["vec_id", "embedding"])
    qd = quantize_int8(df)
    r = qd.select(
        "qvec", "q_scale", "q_min",
        dequantize_int8("qvec", "q_scale", "q_min").alias("rec"),
    ).collect()[0]
    assert r["qvec"] == [-128] * 4
    assert r["q_scale"] == 0.0
    assert r["rec"] == [0.5] * 4  # (q+128)*0 + min == min exactly


def test_knn_label_eval_planted_clusters(spark):
    """Two well-separated label clusters: every query's kNN majority
    label is its own label with full agreement."""
    import random

    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import knn_label_eval

    rng = random.Random(7)
    rows = []
    for i in range(20):
        base = 10.0 if i % 2 == 0 else -10.0
        rows.append(
            (i, [base + rng.gauss(0, 0.1) for _ in range(8)], i % 2)
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = knn_label_eval(df, df.filter(F.col("vec_id") < 4), k=3).collect()
    assert len(out) == 4
    for r in out:
        assert r["is_correct"]
        assert r["agreement"] == 1.0


def test_quantized_topk_high_recall_vs_exact(spark, embeddings):
    """SQ8 scoring preserves the exact neighbourhood almost perfectly
    on real embeddings: top-k overlap with float scoring stays high
    and the top-1 neighbour matches for most queries."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
    )

    emb = embeddings.limit(200).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=5)
    quant = cosine_topk_quantized(emb, queries, dim=64, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    qs = {(r["query_id"], r["neighbor_id"]) for r in quant.collect()}
    recall = len(e & qs) / len(e)
    assert recall >= 0.9
    e1 = {r["query_id"]: r["neighbor_id"] for r in exact.collect() if r["rk"] == 1}
    q1 = {r["query_id"]: r["neighbor_id"] for r in quant.collect() if r["rk"] == 1}
    top1 = sum(e1[q] == q1[q] for q in e1) / len(e1)
    assert top1 >= 0.8


def test_zero_norm_vectors_dropped_not_poisoning(spark):
    """An all-zero embedding must be dropped from cosine scoring (0/0
    is NULL on Spark, NaN on IEEE engines — rankings would diverge),
    never ranked or crashing."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import (
        cosine_topk_quantized,
        ivf_topk_hyperplane,
    )

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(1, 6)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # degenerate
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id").isin(1, 99))

    out = cosine_topk_quantized(df, q, dim=4, k=3).collect()
    ids = {r["query_id"] for r in out}
    neigh = {r["neighbor_id"] for r in out}
    assert 99 not in ids and 99 not in neigh
    assert all(r["cosine_q"] is not None for r in out)

    out2 = ivf_topk_hyperplane(df, q, dim=4, k=3, n_planes=1, n_probe=2).collect()
    assert all(r["cosine"] is not None for r in out2)
    assert 99 not in {r["query_id"] for r in out2}
    assert 99 not in {r["neighbor_id"] for r in out2}


def test_semantic_dedup_composition_planted_clusters(spark):
    """SemDeDup composition: scaled copies of one direction collapse to
    one canonical vector; unrelated directions stay singletons."""
    from traits_data_spark.operators.dedup import dedup_clusters
    from traits_data_spark.operators.similarity import embedding_near_dups

    rows = [
        (1, [1.0, 2.0, 3.0, 4.0]),
        (2, [2.0, 4.0, 6.0, 8.0]),     # same direction as 1 (cos = 1)
        (3, [0.5, 1.0, 1.5, 2.0]),     # same direction again
        (4, [4.0, -3.0, 2.0, -1.0]),   # unrelated
        (5, [-1.0, 2.0, -3.0, 4.0]),   # unrelated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dups(emb, dim=4, threshold=0.99, n_planes=3)
    out = {
        r["vec_id"]: r
        for r in dedup_clusters(emb, pairs.select("id_a", "id_b"), "vec_id").collect()
    }
    assert out[1]["component"] == out[2]["component"] == out[3]["component"] == 1
    assert out[1]["is_canonical"] is True
    assert out[2]["is_canonical"] is False and out[3]["is_canonical"] is False
    assert out[4]["component"] == 4 and out[4]["is_canonical"] is True
    assert out[5]["component"] == 5 and out[5]["is_canonical"] is True


class TestKMeansClusters:
    def test_deterministic_and_bounded(self, spark, embeddings):
        from traits_data_spark.operators.similarity import kmeans_clusters

        a = kmeans_clusters(embeddings, k=8, n_iter=2).collect()
        b = kmeans_clusters(embeddings, k=8, n_iter=2).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        clusters = {r["cluster"] for r in a}
        assert len(clusters) <= 8
        assert len(a) == embeddings.count()
        assert all(r["dist2"] >= 0 for r in a)

    def test_lloyd_step_does_not_increase_sse(self, spark, embeddings):
        from pyspark.sql import functions as F

        from traits_data_spark.operators.similarity import kmeans_clusters

        def sse(n_iter):
            return (
                kmeans_clusters(embeddings, k=8, n_iter=n_iter)
                .agg(F.sum("dist2"))
                .collect()[0][0]
            )

        # each extra Lloyd step may only improve (or hold) the
        # objective, up to the 1e-6 assignment rounding
        s1, s2 = sse(1), sse(2)
        assert s2 <= s1 + 1e-3


def test_ivf_kmeans_full_probe_equals_bruteforce(spark, embeddings):
    """Probing every k-means cell degenerates to exact search."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import ivf_topk_kmeans

    emb = embeddings.limit(100).cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=5)
    full = ivf_topk_kmeans(
        emb, queries, k=5, n_centroids=4, n_iter=1, n_probe=4
    )
    e = sorted(tuple(r) for r in exact.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert e == f


def test_ivf_kmeans_partial_probe_subset(spark, embeddings):
    from pyspark.sql import functions as F

    from traits_data_spark.operators.similarity import ivf_topk_kmeans

    emb = embeddings.limit(200)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, id_col="vec_id", k=200)
    truth = {
        (r["query_id"], r["neighbor_id"], r["cosine"]) for r in exact.collect()
    }
    approx = ivf_topk_kmeans(
        emb, queries, k=5, n_centroids=8, n_iter=2, n_probe=2
    )
    got = {(r["query_id"], r["neighbor_id"], r["cosine"]) for r in approx.collect()}
    assert got and got <= truth  # genuine pairs, exact same scores


def test_incremental_embedding_near_dups_matches_full_rerun(spark, embeddings):
    """old-pairs ∪ incremental(new vs persisted hyperplane index(old))
    must equal a full embedding_near_dups re-run over old+new —
    history never re-bucketed."""
    from traits_data_spark.operators.similarity import (
        embedding_near_dups,
        hyperplane_bucket_index,
        incremental_embedding_near_dups,
    )

    emb = embeddings.limit(200).cache()
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    params = dict(dim=64, threshold=0.2, n_planes=3)

    def pairs(df_out):
        return {
            (r["id_a"], r["id_b"], r["cosine"]) for r in df_out.collect()
        }

    full = pairs(embedding_near_dups(emb, **params))
    old_pairs = pairs(embedding_near_dups(old, **params))
    inc = pairs(
        incremental_embedding_near_dups(
            new,
            hyperplane_bucket_index(old, dim=64, n_planes=3),
            **params,
        )
    )
    assert inc  # the split must actually exercise the incremental path
    assert old_pairs | inc == full
    assert old_pairs.isdisjoint(inc)


def test_incremental_embedding_near_dups_broadcasts_new_side(spark, embeddings):
    """The bucket key has only 2^n_planes distinct values — the
    incremental join must broadcast the ingest batch, never shuffle
    history on the bucket."""
    from traits_data_spark.operators.similarity import (
        hyperplane_bucket_index,
        incremental_embedding_near_dups,
    )

    emb = embeddings.limit(100)
    out = incremental_embedding_near_dups(
        emb.filter(F.col("vec_id") % 5 == 0),
        hyperplane_bucket_index(
            emb.filter(F.col("vec_id") % 5 != 0), dim=64, n_planes=3
        ),
        dim=64,
        threshold=0.2,
        n_planes=3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re

    assert not re.search(r"Exchange hashpartitioning\(bucket", plan), plan


def test_ann_broadcast_hatch_parity(spark, embeddings):
    """broadcast_queries=False must change only the join strategy,
    never the results (the AQE-fallback escape hatch for huge query
    batches)."""
    import pyspark.sql.functions as F

    from traits_data_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk_kmeans,
        lsh_bucketed_topk,
    )

    corpus = embeddings.filter(F.col("vec_id") < 400)
    queries = embeddings.filter(F.col("vec_id") >= 480).limit(10)
    for fn, kw in [
        (cosine_topk_bruteforce, {}),
        (lsh_bucketed_topk, {"dim": 64, "n_planes": 4}),
        (ivf_topk_kmeans, {"n_centroids": 4, "n_iter": 1}),
    ]:
        hinted = {tuple(r) for r in fn(corpus, queries, k=5, **kw).collect()}
        plain = {
            tuple(r)
            for r in fn(
                corpus, queries, k=5, broadcast_queries=False, **kw
            ).collect()
        }
        assert hinted == plain and hinted, fn.__name__


def test_ann_recall_counts_hits_and_missing_queries(spark):
    """recall@k = |approx ∩ exact| / k per query; a query the
    approximate method misses entirely still appears with recall 0."""
    from traits_data_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = {
        # q1: one of two right; q2: absent (empty bucket)
        "m": spark.createDataFrame(
            [(1, 10), (1, 99)], "query_id long, neighbor_id long"
        )
    }
    out = {
        (r.method, r.query_id): (r.hits, r.recall_at_k)
        for r in ann_recall(exact, approx, k=2).collect()
    }
    assert out[("m", 1)] == (1, 0.5)
    assert out[("m", 2)] == (0, 0.0)


def test_probe_masks_enumerate_hamming_ball():
    from traits_data_spark.operators.similarity import probe_masks

    masks = probe_masks(5, 2)
    # C(5,0) + C(5,1) + C(5,2) = 1 + 5 + 10
    assert len(masks) == 16
    assert len(set(masks)) == 16
    assert all(bin(m).count("1") <= 2 and m < 32 for m in masks)
    assert probe_masks(8, 0) == [0]


def test_multiprobe_bits_recall_monotone_and_subset(spark, embeddings):
    """Bit-flip probing only ADDS candidates: the probed result's
    recall dominates the unprobed one at the same planes/tables, and
    every scored pair is a genuine pair (scores match brute force)."""
    from traits_data_spark.operators.similarity import lsh_topk_multiprobe

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(embeddings, queries, id_col="vec_id", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    plain = lsh_topk_multiprobe(
        embeddings, queries, dim=64, k=5, n_planes=12, n_tables=2
    )
    probed = lsh_topk_multiprobe(
        embeddings, queries, dim=64, k=5, n_planes=12, n_tables=2,
        probe_bits=2,
    )
    r_plain = len(
        {(r["query_id"], r["neighbor_id"]) for r in plain.collect()} & truth
    ) / len(truth)
    r_probed = len(
        {(r["query_id"], r["neighbor_id"]) for r in probed.collect()} & truth
    ) / len(truth)
    assert r_probed >= r_plain
    assert r_probed > 0.0
    # probed scores are genuine cosines (subset of exhaustive pairs)
    all_pairs = cosine_topk_bruteforce(
        embeddings, queries, id_col="vec_id", k=10_000
    )
    e = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in all_pairs.collect()
    }
    p = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in probed.collect()
    }
    assert p <= e


def test_ivf_precomputed_centroids_match_inline_fit(spark, embeddings):
    """Passing a kmeans_fit result reproduces the inline-fit output
    exactly — the index-reuse path a deployment sweeps n_probe with."""
    from traits_data_spark.operators.similarity import (
        ivf_topk_kmeans,
        kmeans_fit,
    )

    emb = embeddings.limit(200).cache()
    queries = emb.filter(F.col("vec_id") < 5)
    inline = ivf_topk_kmeans(emb, queries, k=5, n_centroids=8, n_probe=3)
    cents = kmeans_fit(emb, k=8, n_iter=2)
    reused = ivf_topk_kmeans(
        emb, queries, k=5, n_probe=3, centroids=cents
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, reused.collect())
    )


def test_tuned_ann_presets_stay_deployable(spark, embeddings):
    """The round-10 Done criterion, pinned: the shipped tuned presets
    (catalog ANN_TUNED_* multi-probe LSH and IVF_TUNED_PROBE) must
    keep mean recall@5 >= 0.8 against brute force on the eval corpus —
    if a preset or the signature path regresses into the round-9
    situation (recall 0.02-0.12 presets shipped as defaults), this
    fails before the driver gate ever sees it."""
    from traits_data_spark.catalog.ann import (
        ANN_TUNED_PLANES,
        ANN_TUNED_TABLES,
        ANN_TUNED_PROBE_BITS,
        IVF_TUNED_PROBE,
        KMEANS_K,
        KMEANS_ITER,
        IVF_SCALE,
        TOPK,
        EMB_DIM,
    )
    from traits_data_spark.operators.similarity import (
        ann_recall,
        ivf_topk_kmeans,
        lsh_topk_multiprobe,
    )

    emb = embeddings.persist()
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, q, id_col="vec_id", k=TOPK)
    approx = {
        "lsh_tuned": lsh_topk_multiprobe(
            emb, q, dim=EMB_DIM, k=TOPK, n_planes=ANN_TUNED_PLANES,
            n_tables=ANN_TUNED_TABLES, probe_bits=ANN_TUNED_PROBE_BITS,
        ),
        "ivf_tuned": ivf_topk_kmeans(
            emb, q, k=TOPK, n_centroids=KMEANS_K, n_iter=KMEANS_ITER,
            n_probe=IVF_TUNED_PROBE, scale=IVF_SCALE,
        ),
    }
    rows = ann_recall(exact, approx, k=TOPK).collect()
    by_method: dict = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(r.recall_at_k)
    for method, vals in by_method.items():
        mean = sum(vals) / len(vals)
        assert mean >= 0.8, f"{method} mean recall@5 {mean:.2f} < 0.8"
    emb.unpersist()


def test_pq_encode_shape_and_determinism(spark, embeddings):
    from traits_data_spark.operators.similarity import pq_encode, pq_fit

    emb = embeddings.limit(100).cache()
    books = pq_fit(emb, dim=64, m=4, k=8)
    assert books.count() == 32  # 4 subspaces x 8 codes
    codes = pq_encode(emb, books, dim=64, m=4)
    rows = codes.collect()
    assert len(rows) == 400  # one row per (vector, subspace)
    assert all(0 <= r["code"] < 8 and 0 <= r["sub"] < 4 for r in rows)
    # deterministic: re-encoding yields identical codes
    again = pq_encode(emb, books, dim=64, m=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_topk_rerank_deployable_recall(spark, embeddings):
    """The shipped PQ preset (catalog PQ_M/PQ_CODES/PQ_RERANK):
    retrieve-by-ADC then exact re-rank must keep mean recall@5 >= 0.8
    against exact L2 on the eval corpus — pins the deployable
    operating point like the tuned-LSH floor test."""
    from traits_data_spark.catalog.ann import (
        PQ_CODES,
        PQ_ITER,
        PQ_M,
        PQ_RERANK,
    )
    from traits_data_spark.operators.similarity import dot, pq_topk

    emb = embeddings.persist()
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    from pyspark.sql import Window

    d2 = (
        dot(F.col("qv"), F.col("qv"))
        - F.lit(2.0) * dot(F.col("qv"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(d2, 6).asc(), F.col("neighbor_id").asc()
    )
    exact = (
        qq.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = pq_topk(
        emb, q, dim=64, m=PQ_M, k=5, n_codes=PQ_CODES, n_iter=PQ_ITER,
        rerank=PQ_RERANK,
    )
    hits = sum(
        1
        for r in approx.collect()
        if r["neighbor_id"] in truth.get(r["query_id"], set())
    )
    assert hits / (5 * len(truth)) >= 0.8
    emb.unpersist()


def test_pq_topk_pure_adc_is_ranked_and_self_free(spark, embeddings):
    from traits_data_spark.operators.similarity import pq_topk

    emb = embeddings.limit(200).cache()
    q = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(emb, q, dim=64, m=4, k=5, n_codes=8).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(
            (r["rk"], r["approx_d2_micro"])
        )
    for rows in by_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
        )


def test_ivfpq_full_probe_full_rerank_equals_exact(spark, embeddings):
    """probe = all cells + rerank >= corpus degenerates IVF-PQ to the
    exact L2 top-k: the ADC stage passes every candidate through and
    the re-rank is exact brute force."""
    from traits_data_spark.operators.similarity import ivfpq_topk

    emb = embeddings.limit(120).cache()
    q = emb.filter(F.col("vec_id") < 4)
    out = ivfpq_topk(
        emb, q, dim=64, k=5, n_cells=4, cell_iter=1, n_probe=4,
        m=4, n_codes=8, pq_iter=1, rerank=200,
    ).collect()
    # exact ground truth by the same rounded-d2 + id tie ordering
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for qid in (0, 1, 2, 3):
        qv = vecs[qid]
        d2s = sorted(
            (
                round(
                    sum(a * a for a in qv)
                    - 2.0 * sum(a * b for a, b in zip(qv, vecs[n]))
                    + sum(b * b for b in vecs[n]),
                    6,
                ),
                n,
            )
            for n in vecs
            if n != qid
        )
        expect = [n for _, n in d2s[:5]]
        got = [
            r["neighbor_id"]
            for r in sorted(
                (r for r in out if r["query_id"] == qid),
                key=lambda r: r["rk"],
            )
        ]
        assert got == expect
    emb.unpersist()


def test_ivfpq_pure_adc_ranked_self_free_and_cell_pruned(spark, embeddings):
    from traits_data_spark.operators.similarity import ivfpq_topk

    emb = embeddings.limit(200).cache()
    q = emb.filter(F.col("vec_id") < 5)
    out = ivfpq_topk(
        emb, q, dim=64, k=5, n_cells=8, n_probe=2, m=4, n_codes=8
    ).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(
            (r["rk"], r["approx_d2_micro"])
        )
    for rows in by_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
        )
    emb.unpersist()


def test_ivfpq_shipped_preset_recall_floor(spark, embeddings):
    """The shipped IVF-PQ preset (catalog IVFPQ_*) must keep mean
    recall@5 >= 0.8 against exact L2 on the eval corpus — pins the
    deployable operating point like the PQ and tuned-LSH floors."""
    from traits_data_spark.catalog.ann import (
        IVFPQ_CODES,
        IVFPQ_M,
        IVFPQ_PROBE,
        IVFPQ_RERANK,
        KMEANS_ITER,
        KMEANS_K,
        PQ_ITER,
    )
    from traits_data_spark.operators.similarity import dot, ivfpq_topk

    emb = embeddings.persist()
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    from pyspark.sql import Window

    d2 = (
        dot(F.col("qv"), F.col("qv"))
        - F.lit(2.0) * dot(F.col("qv"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(d2, 6).asc(), F.col("neighbor_id").asc()
    )
    exact = (
        qq.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = ivfpq_topk(
        emb, q, dim=64, k=5, n_cells=KMEANS_K, cell_iter=KMEANS_ITER,
        n_probe=IVFPQ_PROBE, m=IVFPQ_M, n_codes=IVFPQ_CODES,
        pq_iter=PQ_ITER, rerank=IVFPQ_RERANK,
    )
    hits = sum(
        1
        for r in approx.collect()
        if r["neighbor_id"] in truth.get(r["query_id"], set())
    )
    assert hits / (5 * len(truth)) >= 0.8
    emb.unpersist()


def test_matryoshka_full_dim_recall_is_one(spark, embeddings):
    """Slicing to the full 64 dims must reproduce the exact top-k
    bit-for-bit (recall 1.0 for EVERY query) — the self-consistency
    anchor of the truncation-recall curve; low dims stay in [0, 1]."""
    from traits_data_spark.operators.similarity import matryoshka_recall

    emb = embeddings.limit(150).cache()
    q = emb.filter("vec_id < 5")
    out = matryoshka_recall(emb, q, dims=(8, 64), k=3).collect()
    by_m = {}
    for r in out:
        by_m.setdefault(r["method"], []).append(r)
    assert set(by_m) == {"dim_08", "dim_64"}
    assert all(len(v) == 5 for v in by_m.values())  # one row per query
    assert all(r["recall_at_k"] == 1.0 for r in by_m["dim_64"])
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in by_m["dim_08"])
    # hits/k arithmetic is exact
    assert all(
        r["recall_at_k"] == round(r["hits"] / 3, 6) for r in out
    )


def test_hard_negative_mining_roles_ranks_and_labels(spark, embeddings):
    from traits_data_spark.operators.similarity import hard_negative_mining

    emb = embeddings.limit(150).cache()
    anchors = emb.filter("vec_id < 6")
    out = hard_negative_mining(emb, anchors, k_pos=2, k_neg=3).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    by_anchor = {}
    for r in out:
        assert r["neighbor_id"] != r["anchor_id"]
        # role matches the label relationship
        same = labels[r["neighbor_id"]] == labels[r["anchor_id"]]
        assert r["role"] == ("pos" if same else "neg")
        by_anchor.setdefault((r["anchor_id"], r["role"]), []).append(r)
    for (a, role), rows in by_anchor.items():
        assert len(rows) <= (2 if role == "pos" else 3)
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        # ranked by cosine descending, neighbor-id tiebreak
        key = [(-r["cosine"], r["neighbor_id"]) for r in rows]
        assert key == sorted(key)
    # negatives really are the globally closest wrong-label items:
    # no unmined wrong-label neighbor may beat a mined rank-1 negative
    import itertools
    sc = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = sum(x * x for x in u) ** 0.5
        nv = sum(x * x for x in v) ** 0.5
        return d / (nu * nv)

    for a in (0, 1, 2):
        negs = by_anchor.get((a, "neg"), [])
        if not negs:
            continue
        mined = {r["neighbor_id"] for r in negs}
        best_unmined = max(
            (
                round(cos(sc[a], sc[n]), 6)
                for n in sc
                if n != a and labels[n] != labels[a] and n not in mined
            ),
            default=float("-inf"),
        )
        worst_mined = min(r["cosine"] for r in negs)
        assert worst_mined >= best_unmined


def test_pq_encode_incremental_parity(spark, embeddings):
    """Incremental index maintenance: encoding the new-arrival batch
    against FROZEN codebooks and unioning with the history's stored
    codes must equal a full re-encode of the appended corpus — the
    daily-snapshot deployment contract (only the delta is ever
    touched). Catalog attestation: ``pq_incremental_encode`` (full
    DuckDB oracle)."""
    from traits_data_spark.operators.similarity import pq_encode, pq_fit

    emb = embeddings.limit(120).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    hist = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    books = pq_fit(hist, dim=64, m=4, k=8, n_iter=2)
    full = pq_encode(emb, books, dim=64, m=4)
    incr = pq_encode(hist, books, dim=64, m=4).unionByName(
        pq_encode(delta, books, dim=64, m=4)
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, incr.collect())
    )
    # the delta-only encode contains ONLY delta ids (index build never
    # touches history rows)
    delta_ids = {r["vec_id"] for r in
                 pq_encode(delta, books, dim=64, m=4).collect()}
    assert delta_ids and all(i % 10 == 0 for i in delta_ids)


def test_pq_encode_m1_is_frozen_cell_assignment_parity(spark, embeddings):
    """With m=1 the PQ subspace IS the whole vector, so pq_encode
    against frozen codebooks is exactly IVF cell assignment with
    frozen centroids (same ``_kmeans_assign`` core ivf_topk_kmeans
    routes through via ``centroids=``) — batch-split invariance here
    attests the IVF side of incremental index maintenance too."""
    from traits_data_spark.operators.similarity import (
        kmeans_fit,
        pq_encode,
    )

    emb = embeddings.limit(100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    hist = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    cents = kmeans_fit(hist, k=4, n_iter=2)
    books = cents.select(
        F.lit(0).alias("sub"), "cid", F.col("__centv").alias("cvec")
    )
    full = pq_encode(emb, books, dim=64, m=1)
    incr = pq_encode(hist, books, dim=64, m=1).unionByName(
        pq_encode(delta, books, dim=64, m=1)
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, incr.collect())
    )


def test_keyed_near_dups_shard_local_recall(spark, embeddings):
    """Shard-local near-dup = keyed_near_dups over balanced_shards:
    every emitted pair is co-shard and appears in the all-pairs ground
    truth, and semantic sharding recovers a solid fraction of the
    global pairs at ~1/n_shards of the comparisons."""
    from pyspark.sql import functions as F

    from traits_data_spark.catalog.ann import (
        BALANCED_SHARDS_N,
        KMEANS_ITER,
        KMEANS_K,
        NEAR_DUP_THRESHOLD,
    )
    from traits_data_spark.operators.layout import balanced_shards
    from traits_data_spark.operators.similarity import (
        dot,
        keyed_near_dups,
        kmeans_clusters,
        l2_norm,
    )

    emb = embeddings.limit(300).cache()
    asg = kmeans_clusters(emb, k=KMEANS_K, n_iter=KMEANS_ITER).select(
        "vec_id", "cluster"
    )
    sh = balanced_shards(asg, "vec_id", "cluster", BALANCED_SHARDS_N)
    keyed = emb.join(sh.select("vec_id", "shard"), "vec_id")
    local = {
        (r["id_a"], r["id_b"])
        for r in keyed_near_dups(
            keyed, "shard", threshold=NEAR_DUP_THRESHOLD
        ).collect()
    }
    # all-pairs ground truth (300² is test-sized only)
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    full = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (l2_norm(F.col("va")) * l2_norm(F.col("vb"))),
                6,
            )
            + F.lit(0.0),
        )
        .filter(F.col("cosine") >= NEAR_DUP_THRESHOLD)
        .collect()
    }
    assert local <= full
    shard_of = {r["vec_id"]: r["shard"] for r in sh.collect()}
    assert all(shard_of[x] == shard_of[y] for x, y in local)
    # semantic co-location beats random sharding's 1/n expected recall
    assert full and len(local) / len(full) >= 2.0 / BALANCED_SHARDS_N


def test_keyed_near_dups_zero_norm_vectors_excluded(spark):
    """A zero-norm vector has no cosine: it must be dropped before
    pairing (ANSI division throws; NaN >= threshold is TRUE on Spark
    but NULL on the SQL oracle — the same guard the IVF scorers use)."""
    from traits_data_spark.operators.similarity import keyed_near_dups

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [0.0, 0.0], 0),  # zero-norm, same key
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, k int"
    )
    got = keyed_near_dups(df, "k", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]


def _zero_norm_frame(spark):
    """Four 4-d vectors, their negations (so every sign bucket of a
    one-plane LSH holds a vector) and one all-zero vector, id 99."""
    base = [
        [1.0, 0.2, 0.0, 0.1],
        [0.9, 0.3, 0.1, 0.0],
        [0.0, 1.0, 0.5, 0.2],
        [0.1, 0.0, 1.0, 0.7],
    ]
    rows = [(i + 1, v, i % 2) for i, v in enumerate(base)]
    rows += [(i + 11, [-x for x in v], i % 2) for i, v in enumerate(base)]
    rows.append((99, [0.0] * 4, 0))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def _zero_norm_cases():
    from traits_data_spark.operators import similarity as S

    def index(df):
        return S.hyperplane_bucket_index(df, dim=4, n_planes=1)

    return {
        "cosine_topk_bruteforce": lambda df, q: S.cosine_topk_bruteforce(
            df, q, k=20
        ),
        "cosine_topk_quantized": lambda df, q: S.cosine_topk_quantized(
            df, q, dim=4, k=20
        ),
        "lsh_bucketed_topk": lambda df, q: S.lsh_bucketed_topk(
            df, q, dim=4, k=20, n_planes=1
        ),
        "lsh_topk_multiprobe": lambda df, q: S.lsh_topk_multiprobe(
            df, q, dim=4, k=20, n_planes=1, n_tables=2
        ),
        "ivf_topk_hyperplane": lambda df, q: S.ivf_topk_hyperplane(
            df, q, dim=4, k=20, n_planes=1, n_probe=2
        ),
        "ivf_topk_kmeans": lambda df, q: S.ivf_topk_kmeans(
            df, q, k=20, n_centroids=2, n_iter=1, n_probe=2
        ),
        "hard_negative_mining": lambda df, q: S.hard_negative_mining(
            df, q, k_pos=20, k_neg=20
        ),
        "keyed_near_dups": lambda df, q: S.keyed_near_dups(
            df, "label", threshold=-1.0
        ),
        "all_pairs_cosine": lambda df, q: S.all_pairs_cosine(
            df, threshold=-1.0, n_blocks=2
        ),
        "embedding_near_dups": lambda df, q: S.embedding_near_dups(
            df, dim=4, threshold=-1.0, n_planes=1
        ),
        "incremental_embedding_near_dups": lambda df, q: (
            S.incremental_embedding_near_dups(
                q, index(df.filter("vec_id NOT IN (1, 99)")), dim=4,
                threshold=-1.0, n_planes=1,
            )
        ),
        "semantic_decontaminate": lambda df, q: S.semantic_decontaminate(
            df, index(q), dim=4, threshold=-1.0, n_planes=1
        ),
    }


@pytest.mark.parametrize("name", sorted(_zero_norm_cases()))
def test_cosine_scorers_drop_zero_norm_vectors(spark, name):
    """A zero vector has no cosine: every scorer drops it before the
    pair join instead of throwing DIVIDE_BY_ZERO under ANSI or ranking
    a NULL/NaN score. The zero vector is in the corpus AND the query /
    new / eval side, and shares a bucket with non-zero vectors."""
    df = _zero_norm_frame(spark)
    q = df.filter("vec_id IN (1, 99)")
    rows = _zero_norm_cases()[name](df, q).collect()
    assert rows
    id_cols = [
        c
        for c in rows[0].asDict()
        if c in ("query_id", "neighbor_id", "anchor_id", "id_a", "id_b",
                 "vec_id", "eval_id")
    ]
    assert id_cols
    assert all(r[c] != 99 for r in rows for c in id_cols)


def test_topk_operators_output_contract(spark):
    """Every top-k operator ranks with a BIGINT ``rk``, and no score is
    -0.0 (a pair at cosine -1e-9 rounds to -0.0 before the + 0.0)."""
    import math

    from traits_data_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [-1e-9, 1.0, 0.0, 0.0], 1),
        (3, [0.5, 0.5, 0.1, 0.0], 0),
        (4, [0.2, 0.9, 0.3, 0.1], 1),
        (5, [0.0, 0.1, 1.0, 0.4], 0),
        (6, [0.3, 0.0, 0.2, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = df.filter("vec_id <= 2")
    ops = {
        "cosine": [
            S.cosine_topk_bruteforce(df, q, k=10),
            S.lsh_bucketed_topk(df, q, dim=4, k=10, n_planes=1),
            S.lsh_topk_multiprobe(
                df, q, dim=4, k=10, n_planes=1, n_tables=2, probe_bits=1
            ),
            S.ivf_topk_hyperplane(df, q, dim=4, k=10, n_planes=1, n_probe=2),
            S.ivf_topk_kmeans(df, q, k=10, n_centroids=2, n_iter=1, n_probe=2),
            S.hard_negative_mining(df, q, k_pos=10, k_neg=10),
        ],
        "cosine_q": [S.cosine_topk_quantized(df, q, dim=4, k=10)],
        "approx_d2_micro": [S.pq_topk(df, q, dim=4, m=2, k=10, n_codes=2)],
        "d2": [
            S.pq_topk(df, q, dim=4, m=2, k=10, n_codes=2, rerank=10),
            S.ivfpq_topk(
                df, q, dim=4, k=10, n_cells=2, n_probe=2, m=2, n_codes=2,
                rerank=10,
            ),
        ],
    }
    saw_zero = False
    for score, frames in ops.items():
        for out in frames:
            assert out.schema["rk"].dataType.simpleString() == "bigint"
            got = out.collect()
            assert got
            if score in ("cosine", "d2"):
                zeros = [r[score] for r in got if r[score] == 0.0]
                assert all(math.copysign(1.0, z) > 0 for z in zeros)
                saw_zero = saw_zero or bool(zeros)
    assert saw_zero  # the -1e-9 pair reached the output as 0.0
