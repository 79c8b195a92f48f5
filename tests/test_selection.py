"""DSIR importance-based data selection: feature grams, pure-Python
weight parity against the committed artifact, empty/null docs, exact
top-k selection arithmetic, and the sampled-threshold path."""

import hashlib
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from traits_data_spark.operators.selection import (
    DSIR_MODEL_PATH,
    N_BUCKETS,
    dsir_select,
    dsir_select_sampled,
    dsir_weights,
    load_dsir_model,
    word_grams,
)


def _grams_py(text):
    if text is None:
        return []
    ws = [
        w for w in re.sub(r"\s+", " ", text).strip().lower().split(" ") if w
    ]
    return ws + [f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)]


def _bucket_py(g):
    return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:7], 16) % N_BUCKETS


def test_word_grams_tiny_docs(spark):
    df = spark.createDataFrame(
        [(1, "Alpha  beta gamma"), (2, "solo"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", word_grams().alias("g")).collect()
    }
    assert out[1] == [
        "alpha", "beta", "gamma", "alpha beta", "beta gamma",
    ]
    assert out[2] == ["solo"]  # no F.sequence(1, 0) descent
    assert out[3] == []
    assert out[4] is None


def test_dsir_weights_matches_pure_python_reference(spark, documents):
    """Independent-implementation parity: recompute every document's
    (n_feats, weight_micro) in plain Python from the committed dense
    model and require exact equality on real corpus text."""
    mt = pq.read_table(DSIR_MODEL_PATH)
    delta = dict(
        zip(mt.column("bucket").to_pylist(),
            mt.column("delta_micro").to_pylist())
    )
    assert len(delta) == N_BUCKETS  # dense: the broadcast join is total

    docs = documents.select("doc_id", "text").limit(120)
    model = load_dsir_model(spark)
    got = {
        r["doc_id"]: (r["n_feats"], r["weight_micro"])
        for r in dsir_weights(docs, model).collect()
    }
    want = {}
    for r in docs.collect():
        gs = _grams_py(r["text"])
        want[r["doc_id"]] = (
            len(gs), sum(delta[_bucket_py(g)] for g in gs)
        )
    assert got == want


def test_dsir_weights_empty_and_null_docs(spark):
    model = load_dsir_model(spark)
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dsir_weights(df, model).collect()}
    for d in (1, 2, 3):
        assert out[d]["n_feats"] == 0
        assert out[d]["weight_micro"] == 0


def test_dsir_select_top_fraction_arithmetic(spark, documents):
    docs = documents.select("doc_id", "text").limit(200)
    model = load_dsir_model(spark)
    rows = dsir_select(docs, model, keep_bp=2_500).collect()
    n = len(rows)
    picked = [r for r in rows if r["selected"]]
    # rn0 * 10000 < n * 2500  <=>  rn0 < n/4  => ceil(n/4) selected
    assert len(picked) == -(-n * 2_500 // 10_000)
    # selection is exactly the top of the (weight DESC, id ASC) order
    order = sorted(rows, key=lambda r: (-r["weight_micro"], r["doc_id"]))
    assert {r["doc_id"] for r in order[: len(picked)]} == {
        r["doc_id"] for r in picked
    }


def test_dsir_select_targets_english(spark, documents):
    """Direction check: the committed model was fit with target =
    lang='en', so English documents must score higher on average and
    be over-selected relative to the pool."""
    model = load_dsir_model(spark)
    out = dsir_select(
        documents.select("doc_id", "text"), model
    ).join(documents.select("doc_id", "lang"), "doc_id")
    agg = {
        r["is_en"]: (r["mw"], r["sel"], r["n"])
        for r in out.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(
            F.avg("weight_micro").alias("mw"),
            F.avg(F.col("selected").cast("double")).alias("sel"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert agg[True][0] > agg[False][0]  # mean weight
    assert agg[True][1] > agg[False][1]  # selection rate


def test_dsir_select_sampled_full_sample_matches_exact_up_to_ties(
    spark, documents
):
    """At a 100% sample the threshold path selects the exact top set
    plus any docs tied with the cut value (ties INCLUDE by contract)."""
    docs = documents.select("doc_id", "text").limit(200)
    model = load_dsir_model(spark)
    exact = {
        r["doc_id"]: r
        for r in dsir_select(docs, model, keep_bp=2_500).collect()
    }
    sampled = {
        r["doc_id"]: r
        for r in dsir_select_sampled(
            docs, model, keep_bp=2_500, rate_bp=10_000
        ).collect()
    }
    ex = {d for d, r in exact.items() if r["selected"]}
    sa = {d for d, r in sampled.items() if r["selected"]}
    assert ex <= sa
    cut = min(exact[d]["weight_micro"] for d in ex)
    assert all(sampled[d]["weight_micro"] == cut for d in sa - ex)
    # and the threshold is monotone: nothing below the cut selected
    assert all(sampled[d]["weight_micro"] >= cut for d in sa)


# ---------------------------------------------------------------------------
# On-cluster DSIR trainer
# ---------------------------------------------------------------------------


def test_dsir_train_matches_pure_python_reference(spark, documents):
    """Every one of the 10k dense model rows — counts AND Q20 log2
    delta — equals a pure-Python recompute of the builder's method
    (tools/build_dsir_model.py) with ilog2_q20 standing in for ln."""
    import re

    from traits_data_spark.functions.intmath import ilog2_q20
    from traits_data_spark.operators.selection import N_BUCKETS, dsir_train

    rows = documents.select("doc_id", "text", "lang").collect()
    c_t, c_r = {}, {}
    for r in rows:
        if r.text is None or r.doc_id % 10 != 0:
            continue
        nt = re.sub(r"\s+", " ", r.text).strip().lower()
        ws = [w for w in nt.split(" ") if w]
        grams = ws + [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        for g in grams:
            b = _bucket_py(g)
            c_r[b] = c_r.get(b, 0) + 1
            if r.lang == "en":
                c_t[b] = c_t.get(b, 0) + 1
    ct_tot = sum(c_t.values()) + N_BUCKETS
    cr_tot = sum(c_r.values()) + N_BUCKETS
    il_ct_tot, il_cr_tot = ilog2_q20(ct_tot), ilog2_q20(cr_tot)
    got = dsir_train(documents).collect()
    assert len(got) == N_BUCKETS
    for row in got:
        et, er = c_t.get(row.bucket, 0), c_r.get(row.bucket, 0)
        assert (row.c_target, row.c_raw) == (et, er), row.bucket
        want = (ilog2_q20(et + 1) - il_ct_tot) - (ilog2_q20(er + 1) - il_cr_tot)
        assert row.delta_q20 == want, row.bucket


def test_dsir_train_select_chain(spark, documents):
    """The train-then-select chain keeps exactly ceil(25%) docs and
    ranks by the trained Q20 weights (weight DESC, doc_id tiebreak)."""
    from traits_data_spark.operators.selection import dsir_select, dsir_train

    model = dsir_train(documents).select("bucket", "delta_q20")
    out = dsir_select(
        documents.select("doc_id", "text"),
        model,
        delta_col="delta_q20",
        weight_col="weight_q20",
    ).collect()
    n = len(out)
    n_sel = sum(1 for r in out if r.selected)
    assert n_sel == -(-(n * 2_500) // 10_000)  # ceil
    ranked = sorted(out, key=lambda r: (-r.weight_q20, r.doc_id))
    assert all(r.selected for r in ranked[:n_sel])
    assert not any(r.selected for r in ranked[n_sel:])


def test_with_ilog2_q20_column_matches_python(spark):
    """The in-plan square-and-shift log2 is bit-identical to the
    Python scalar over a boundary-heavy sweep (powers of two +-1 up
    to 2^61, the full BIGINT domain the trainer feeds it)."""
    from traits_data_spark.functions.intmath import ilog2_q20, with_ilog2_q20

    vals = (
        list(range(1, 600))
        + [2**k for k in range(1, 62)]
        + [2**k - 1 for k in range(2, 62)]
        + [2**k + 1 for k in range(1, 61)]
        + [10**k for k in range(1, 18)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r["x"]: r["il"] for r in with_ilog2_q20(df, "x", "il").collect()}
    for v in vals:
        assert got[v] == ilog2_q20(v), v


def test_curate_dsir_gate_mechanics(spark, sf_dir):
    """The in-chain DSIR stage's mechanics: every chain survivor is in
    the top-50% DSIR selection computed from the SAME bench-excluded
    corpus with the SAME in-plan-trained weights, the gate is a real
    filter (survivors ⊆ the ungated chain's kept set is NOT asserted —
    dedup keepers and mixture rates shift with the kept set, the
    trained-variant lesson), and the selection fraction is the exact
    ceil(n/2) integer-rank arithmetic."""
    from pyspark.sql import functions as F

    from traits_data_spark.catalog.dedup import DECON_BENCH_SOURCE
    from traits_data_spark.catalog.selection import (
        CURATE_DSIR_KEEP_BP,
        q_curate_corpus_dsir,
    )
    from traits_data_spark.operators.selection import dsir_select, dsir_train

    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("source") != DECON_BENCH_SOURCE)
        .select("doc_id", "text", "lang")
    )
    model = dsir_train(corpus).select("bucket", "delta_q20")
    sel = dsir_select(
        corpus.select("doc_id", "text"),
        model,
        keep_bp=CURATE_DSIR_KEEP_BP,
        delta_col="delta_q20",
        weight_col="weight_q20",
    ).collect()
    selected = {r.doc_id for r in sel if r.selected}
    n = len(sel)
    assert len(selected) == -(-(n * CURATE_DSIR_KEEP_BP) // 10_000)

    out = q_curate_corpus_dsir(spark, sf_dir).collect()
    assert out  # the gated chain still yields a corpus
    doc_col = out[0].__fields__[0]
    survivors = {getattr(r, doc_col) for r in out}
    assert survivors <= selected, sorted(survivors - selected)[:5]


def test_dsir_counts_incremental_merge_parity(spark, documents):
    """The add-mergeable DSIR count-index contract (the LM family's
    word_ngram_counts discipline applied to selection): per-slice
    dsir_counts merged by keyed sum equal counts over the union, and
    dsir_train(counts=) re-derives the bit-identical model with no
    text touched. Passing both df and counts (or neither) is a
    ValueError."""
    import pytest

    from traits_data_spark.operators.selection import (
        dsir_counts,
        dsir_train,
        merge_dsir_counts,
    )

    docs = documents.select("doc_id", "text", "lang").limit(300)
    hist = docs.filter(F.pmod(F.col("doc_id"), 20) == 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), 20) == 10)
    merged = merge_dsir_counts(dsir_counts(hist), dsir_counts(batch))
    full = dsir_counts(docs)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    assert key(merged.collect()) == key(full.collect())
    assert key(dsir_train(counts=merged).collect()) == key(
        dsir_train(docs).collect()
    )
    with pytest.raises(ValueError, match="not both"):
        dsir_train(docs, counts=merged)
    with pytest.raises(ValueError, match="needs df or counts"):
        dsir_train()
    with pytest.raises(ValueError, match="at least one part"):
        merge_dsir_counts()


def test_dsir_model_rows_rejects_out_of_range_bucket(spark):
    """A count row whose bucket falls outside the fixed spine (an index
    built with another bucket count) is an error, not silently dropped."""
    import pytest

    from traits_data_spark.catalog.selection import (
        _DSIR_N_BUCKETS,
        _dsir_model_rows,
    )

    ddl = "bucket bigint, c_target bigint, c_raw bigint"
    ok = spark.createDataFrame([(0, 1, 2), (_DSIR_N_BUCKETS - 1, 0, 3)], ddl)
    assert len(_dsir_model_rows(ok)) == _DSIR_N_BUCKETS
    for bad in (_DSIR_N_BUCKETS, -1):
        counts = spark.createDataFrame([(0, 1, 2), (bad, 1, 1)], ddl)
        with pytest.raises(ValueError, match="outside"):
            _dsir_model_rows(counts)
