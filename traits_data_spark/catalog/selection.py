"""Training-set selection and layout: training_prep, z-order values, DSIR selection, copy-PageRank, vocabulary drift."""

from __future__ import annotations

from traits_data_spark.catalog._shared import (
    DSIR_MODEL_PATH,
    DataFrame,
    F,
    SparkSession,
    _DSIR_N_BUCKETS,
    _H60,
    _NORM,
    _docs_wide,
    _t,
    chunk_documents,
    clean_corpus,
    dsir_counts,
    dsir_select,
    dsir_select_sampled,
    merge_dsir_counts,
    hash_split,
    name_search,
    load_dsir_model,
    pack_contiguous,
    pagerank,
    vocab_drift,
    widen_if_narrow,
    winnow_fingerprints,
    winnow_matches,
    word_array,
    zvalue,
    zvalue_sql,
)
from traits_data_spark.catalog.text import (
    WINNOW_K,
    WINNOW_MAX_FP_DOCS,
    WINNOW_MIN_SHARED,
    WINNOW_W,
    _clean_corpus_sql,
    _ilog2_ctes,
    _winnow_matches_sql,
)
from traits_data_spark.catalog.sketches import (
    _CHUNK,
    _OVERLAP,
)
from traits_data_spark.functions.literals import literal_frame

# Packs are budgeted in TOKENS (whitespace tokenization, matching
# token_counts' ws_tokens so the DuckDB oracle stays expressible) — a
# real pipeline packs sequences against the model's context length in
# tokens, not characters. 320 tokens ≈ the old 2000-char budget at the
# corpus' ~5.2 chars/token.
_PREP_TOKEN_BUDGET, _PREP_BUCKETS = 320, 32


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM training-data prep flagship: corpus cleaning
    (quality → langid → exact dedup → LSH near-dup) → overlapping
    chunking → document-level train/val/test split (all chunks of a
    doc share a split, so no near-duplicate leakage across splits) →
    token-budgeted contiguous packing per (split, hash bucket).

    Packing is token-aware: each chunk's cost is its whitespace token
    count (``word_array``, the same tokenization ``token_counts``
    reports as ``ws_tokens``), so packs respect a context-length-style
    token budget rather than a character proxy.

    The pack window partitions on ``(split, doc_id % 32)``, not just
    ``split``: a split-only window puts ~90% of the corpus (the train
    split) into ONE running-sum task at 100 TB. Buckets affect only
    pack NUMBERING (ids are bucket-prefixed), never pack validity, so
    the layout stays deterministic and the parallelism scales with the
    bucket count."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    survivors = clean_corpus(docs).select("doc_id")
    with_text = docs.join(survivors, "doc_id", "left_semi")
    chunks = chunk_documents(
        widen_if_narrow(with_text), chunk_chars=_CHUNK, overlap=_OVERLAP
    )
    labeled = (
        hash_split(chunks, "doc_id")
        .withColumn(
            "chunk_tokens", F.size(word_array("chunk_text")).cast("long")
        )
        .withColumn("bucket", F.col("doc_id") % _PREP_BUCKETS)
        # project chunk_text OUT before the pack window: the output
        # never emits it, and the (split, bucket) exchange otherwise
        # carries the overlap-inflated chunk bodies (26.8 MB of a
        # 27 MB shuffle at sf0.1 — guide §2.3 "project before the
        # exchange"; at 100 TB this is the whole corpus moved for a
        # running sum over five integer columns)
        .select("doc_id", "chunk_idx", "split", "chunk_tokens", "bucket")
    )
    packed = pack_contiguous(
        labeled,
        "chunk_tokens",
        ["doc_id", "chunk_idx"],
        budget=_PREP_TOKEN_BUDGET,
        partition_cols=["split", "bucket"],
    )
    return packed.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "split",
        "pack_id",
        "chunk_tokens",
    )


def _training_prep_sql() -> str:
    step = _CHUNK - _OVERLAP
    # whitespace token count of the chunk — mirrors word_array / ws_tokens
    toks = (
        "len(list_filter(string_split(trim(regexp_replace("
        f"substring(text, CAST(chunk_start AS INT), {_CHUNK}), "
        "'\\s+', ' ', 'g')), ' '), w -> length(w) > 0))"
    )
    cum = (
        f"COALESCE(SUM(chunk_tokens) OVER (PARTITION BY split, "
        f"doc_id % {_PREP_BUCKETS} ORDER BY doc_id, chunk_idx "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    return f"""
WITH survivors AS (SELECT doc_id FROM ({_clean_corpus_sql()})),
wt AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN survivors USING (doc_id)
),
ch AS (
  SELECT doc_id,
         CAST((chunk_start - 1) // {step} AS BIGINT) AS chunk_idx,
         {toks} AS chunk_tokens
  FROM (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - {_OVERLAP}, 1) + 1, {step}))
             AS chunk_start
    FROM wt
  )
),
sp AS (
  SELECT *, CASE WHEN b < 9000 THEN 'train'
                 WHEN b < 9500 THEN 'val'
                 ELSE 'test' END AS split
  FROM (
    SELECT *, {_H60.format(x='CAST(doc_id AS VARCHAR)')} % 10000 AS b FROM ch
  )
)
SELECT doc_id, chunk_idx, split,
       split || '-' || CAST(doc_id % {_PREP_BUCKETS} AS VARCHAR) || '-' ||
         CAST(CAST(FLOOR({cum} / {_PREP_TOKEN_BUDGET}) AS BIGINT) AS VARCHAR)
         AS pack_id,
       CAST(chunk_tokens AS BIGINT) AS chunk_tokens
FROM sp
"""


_Z_COLS = ["l_partkey % 65536", "l_suppkey % 65536"]


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values for 2-D clustering (``operators.layout``) —
    the column the z-ordered writer range-partitions and sorts on."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zvalue([F.expr(c) for c in _Z_COLS]).alias("zval"),
    )


def _zorder_sql() -> str:
    return f"""
SELECT l_orderkey, l_linenumber, {zvalue_sql([f'({c})' for c in _Z_COLS])} AS zval
FROM lineitem
"""


# ---------------------------------------------------------------------------
# DSIR importance-based data selection
# ---------------------------------------------------------------------------

DSIR_KEEP_BP = 2_500  # deterministic top-25% selection


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-based data selection
    (``operators.selection.dsir_select``; Xie et al., NeurIPS 2023):
    every document scored under the committed hashed-n-gram
    target/raw ratio model (``data/dsir_model.parquet``, trained on
    the ``doc_id % 10 == 0`` held-out slice with target =
    ``lang='en'`` by ``tools/build_dsir_model.py``), top 25% by
    weight flagged ``selected`` — the missing SELECTOR next to the
    per-doc filters (``gopher_rules``/``lm_perplexity``) and the
    source mixer (``mixture_plan``). All ``ln`` lives in the
    artifact (integer micro-nats); the plan hashes word uni+bigrams
    with the portable 28-bit md5 bucket, joins the broadcast dense
    model, and does integer sums + integer rank arithmetic, so the
    DuckDB oracle recomputes every weight and flag bit-for-bit."""
    docs = _docs_wide(spark, sf_dir)
    out = dsir_select(docs, load_dsir_model(spark), keep_bp=DSIR_KEEP_BP)
    avg = F.when(
        F.col("n_feats") > 0,
        F.round(
            F.col("weight_micro").cast("double") / F.col("n_feats"), 6
        )
        + F.lit(0.0),
    )
    return out.select(
        "doc_id",
        "n_feats",
        "weight_micro",
        avg.alias("avg_weight_micro"),
        "selected",
    )


DSIR_SAMPLED_RATE_BP = 2_000  # 20% deterministic hash sample for the cut


def q_dsir_select_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dsir_select`` with the SCALE-SAFE threshold path
    (``operators.selection.dsir_select_sampled``): the selection cut
    comes from a deterministic 20% hash sample — only the sample
    sorts; the corpus is filtered by comparison against ONE broadcast
    cut value (ties include, so the kept fraction may exceed
    ``keep_bp`` by the tie mass). The ``sampled_quantiles``/
    ``lm_perplexity_sampled`` discipline applied to selection."""
    docs = _docs_wide(spark, sf_dir)
    out = dsir_select_sampled(
        docs,
        load_dsir_model(spark),
        keep_bp=DSIR_KEEP_BP,
        rate_bp=DSIR_SAMPLED_RATE_BP,
    )
    return out.select("doc_id", "n_feats", "weight_micro", "selected")


# shared weight chain: d (docs+word list) -> g (uni+bigrams) ->
# f (hashed buckets) -> s (per-doc sums) -> w (zero-filled weights)
_DSIR_WEIGHT_CTES = f"""d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
g AS (
  SELECT doc_id, unnest(wl) AS gram FROM d
  UNION ALL
  SELECT doc_id, wl[i] || ' ' || wl[i + 1] AS gram
  FROM (SELECT doc_id, wl, unnest(range(1, length(wl))) AS i FROM d)
),
f AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 7)) AS BIGINT)
           % {_DSIR_N_BUCKETS} AS bucket
  FROM g
),
s AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(m.delta_micro) AS BIGINT) AS weight_micro
  FROM f JOIN read_parquet('{DSIR_MODEL_PATH}') m USING (bucket)
  GROUP BY f.doc_id
),
w AS (
  SELECT d.doc_id,
         CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
         CAST(coalesce(s.weight_micro, 0) AS BIGINT) AS weight_micro
  FROM d LEFT JOIN s USING (doc_id)
)"""

_DSIR_SELECT_SQL = f"""
WITH {_DSIR_WEIGHT_CTES},
r AS (
  SELECT *,
         row_number() OVER (ORDER BY weight_micro DESC, doc_id) - 1 AS rn0,
         count(*) OVER () AS cnt
  FROM w
)
SELECT doc_id, n_feats, weight_micro,
       CASE WHEN n_feats > 0
            THEN round(weight_micro::DOUBLE / n_feats, 6) + 0.0
       END AS avg_weight_micro,
       (rn0 * 10000 < cnt * {DSIR_KEEP_BP}) AS selected
FROM r
"""

_DSIR_SELECT_SAMPLED_SQL = f"""
WITH {_DSIR_WEIGHT_CTES},
samp AS (
  SELECT weight_micro, doc_id FROM w
  WHERE {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 10000
        < {DSIR_SAMPLED_RATE_BP}
),
rk AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
              AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM samp
),
cut AS (
  SELECT weight_micro AS c FROM rk
  WHERE rn = ({DSIR_KEEP_BP} * (n - 1)) // 10000 + 1
)
SELECT w.doc_id, w.n_feats, w.weight_micro,
       (w.weight_micro >= (SELECT c FROM cut)) AS selected
FROM w
"""


def q_dsir_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-CLUSTER DSIR importance-weight TRAINING
    (``operators.selection.dsir_train``): the in-plan replacement for
    the offline artifact builder ``tools/build_dsir_model.py``,
    closing the trainer-parity gap for the selection family (the BPE /
    unigram / bigram-LM / ridge trainers all have on-cluster twins;
    the DSIR model was the last offline-only artifact). Same
    estimator — held-out slice ``doc_id % 10 == 0``, target =
    ``lang='en'``, word uni+bigrams under the portable 28-bit md5
    bucket, Laplace smoothing — but the log-ratio is computed in Q20
    fixed-point log2 by the in-plan square-and-shift recurrence
    (``functions.intmath.with_ilog2_q20``): pure JVM integer column
    arithmetic, no libm, no driver collect, so every one of the
    10 000 dense model rows hash-matches the oracle's recursive-CTE
    replay of the identical digit recurrence."""
    docs = widen_if_narrow(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    # round 17: ONE job collects the sparse count aggregate (the only
    # corpus-sized work); the Laplace + ilog2 model math runs on the
    # driver over the bounded ≤10k-bucket table (bit-identical by the
    # intmath Python==SQL contract) and the dense model re-embeds as a
    # VALUES LocalRelation — the in-plan spine join, count persist,
    # totals cross-join and 4 × 20-round ilog2 codegen chains are gone.
    return literal_frame(
        spark, _dsir_model_rows(dsir_counts(docs)), _DSIR_MODEL_DDL
    )


def q_dsir_train_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-index attestation for the DSIR trainer
    (``operators.selection.dsir_counts`` / ``merge_dsir_counts`` /
    ``dsir_train(counts=)``): the corpus is split into two ingest
    slices IN-PLAN (even/odd doc-id halves of the held-out slice),
    each slice produces its own sparse bucket-count table, the two
    tables merge by keyed sum, and the model re-derives from the
    merged ≤10k-row index WITHOUT touching corpus text — the
    ``word_ngram_counts``/``merge_ngram_counts`` add-mergeable
    index contract applied to the selection family. The output is
    bit-identical to ``dsir_train`` on the full corpus, so the oracle
    is the SAME recursive-CTE replay — the entry attests the
    merge-equivalence end-to-end."""
    docs = widen_if_narrow(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    # two ingest batches: holdout slice is doc_id % 10 == 0; split it
    # by doc_id % 20 so each half flows through its own count stage
    merged = merge_dsir_counts(
        dsir_counts(docs.filter(F.pmod(F.col("doc_id"), 20) == 0)),
        dsir_counts(docs.filter(F.pmod(F.col("doc_id"), 20) == 10)),
    )
    # driver-side model math over the merged bounded index (see
    # q_dsir_train) — the merge itself stays distributed, attesting
    # the add-mergeable contract end-to-end
    return literal_frame(spark, _dsir_model_rows(merged), _DSIR_MODEL_DDL)


def _dsir_train_ctes(where_extra: str = "") -> str:
    """CTE chain replaying ``dsir_train`` → ``dtm(bucket, c_target,
    c_raw, delta_q20)``. Caller must open with ``WITH RECURSIVE``
    (the ilog2 digit recurrence is a recursive CTE). ``where_extra``
    restricts the training corpus (the in-chain curate variant trains
    on the bench-excluded split only)."""
    b = _DSIR_N_BUCKETS
    return (
        f"""td AS (
  SELECT lang = 'en' AS tgt,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
  WHERE text IS NOT NULL AND doc_id % 10 = 0{where_extra}
),
tg AS (
  SELECT tgt, unnest(wl) AS gram FROM td
  UNION ALL
  SELECT tgt, wl[i] || ' ' || wl[i + 1] AS gram
  FROM (SELECT tgt, wl, unnest(range(1, length(wl))) AS i FROM td)
),
tf AS (
  SELECT tgt,
         CAST(('0x' || substr(md5(gram), 1, 7)) AS BIGINT) % {b} AS bucket
  FROM tg
),
tc AS (
  SELECT bucket,
         CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS c_target,
         CAST(count(*) AS BIGINT) AS c_raw
  FROM tf GROUP BY bucket
),
tbk AS (SELECT unnest(range(0, {b})) AS bucket),
tdn AS MATERIALIZED (
  SELECT tbk.bucket,
         CAST(coalesce(tc.c_target, 0) AS BIGINT) AS c_target,
         CAST(coalesce(tc.c_raw, 0) AS BIGINT) AS c_raw
  FROM tbk LEFT JOIN tc USING (bucket)
),
ttt AS (SELECT 1 AS j, CAST(SUM(c_target) + {b} AS BIGINT) AS x FROM tdn),
ttr AS (SELECT 1 AS j, CAST(SUM(c_raw) + {b} AS BIGINT) AS x FROM tdn),"""
        + _ilog2_ctes("tilt", "ttt", "j")
        + ","
        + _ilog2_ctes("tilr", "ttr", "j")
        + ","
        + _ilog2_ctes("tibt", "(SELECT bucket, c_target + 1 AS x FROM tdn)", "bucket")
        + ","
        + _ilog2_ctes("tibr", "(SELECT bucket, c_raw + 1 AS x FROM tdn)", "bucket")
        + """,
dtm AS MATERIALIZED (
  SELECT d.bucket, d.c_target, d.c_raw,
         (bt.il - tt.il) - (br.il - tr.il) AS delta_q20
  FROM tdn d
  JOIN tibt bt USING (bucket)
  JOIN tibr br USING (bucket)
  CROSS JOIN tilt tt CROSS JOIN tilr tr
)"""
    )


def _dsir_train_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _dsir_train_ctes()
        + "\nSELECT bucket, c_target, c_raw, delta_q20 FROM dtm"
    )


def q_dsir_train_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-select DSIR chain (the ``bpe_train_tokens`` /
    ``unigram_train_tokens`` discipline applied to selection): fit
    the hashed-n-gram importance weights on-cluster on the held-out
    slice (``dsir_train``), then score and rank the FULL corpus with
    the weights the plan just learned — no committed artifact
    anywhere in the chain. Weights are Q20 log2-bits instead of the
    artifact's micro-nats; ranking (and therefore selection) is
    invariant to the positive log-base factor. Output mirrors
    ``dsir_select``: weight sums, exact top-25% integer-rank flag."""
    docs = widen_if_narrow(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    # driver-side model math + VALUES literal model (see q_dsir_train):
    # the scoring join consumes a LocalRelation instead of carrying the
    # trainer subtree
    model = literal_frame(
        spark,
        _dsir_delta_rows(dsir_counts(docs)),
        "bucket bigint, delta_q20 bigint",
    )
    out = dsir_select(
        _docs_wide(spark, sf_dir),
        model,
        keep_bp=DSIR_KEEP_BP,
        delta_col="delta_q20",
        weight_col="weight_q20",
    )
    return out.select("doc_id", "n_feats", "weight_q20", "selected")


def _dsir_train_select_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _dsir_train_ctes()
        + f""",
sd AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
sg AS (
  SELECT doc_id, unnest(wl) AS gram FROM sd
  UNION ALL
  SELECT doc_id, wl[i] || ' ' || wl[i + 1] AS gram
  FROM (SELECT doc_id, wl, unnest(range(1, length(wl))) AS i FROM sd)
),
sf AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 7)) AS BIGINT)
           % {_DSIR_N_BUCKETS} AS bucket
  FROM sg
),
ss AS (
  SELECT sf.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(m.delta_q20) AS BIGINT) AS weight_q20
  FROM sf JOIN dtm m USING (bucket)
  GROUP BY sf.doc_id
),
sw AS (
  SELECT d.doc_id,
         CAST(coalesce(ss.n_feats, 0) AS BIGINT) AS n_feats,
         CAST(coalesce(ss.weight_q20, 0) AS BIGINT) AS weight_q20
  FROM sd d LEFT JOIN ss USING (doc_id)
),
sr AS (
  SELECT *,
         row_number() OVER (ORDER BY weight_q20 DESC, doc_id) - 1 AS rn0,
         count(*) OVER () AS cnt
  FROM sw
)
SELECT doc_id, n_feats, weight_q20,
       (rn0 * 10000 < cnt * {DSIR_KEEP_BP}) AS selected
FROM sr"""
    )


# the in-chain DSIR gate keeps HALF the corpus, not dsir_select's demo
# 25%: the gate composes with Gopher + dedup + decon + mixture
# sampling, and stacking a 25% cut under all of them leaves a
# 2-6-row kept set at test scale — too thin to attest the chain's
# stage interactions (a near-empty frame passes almost any replay)
CURATE_DSIR_KEEP_BP = 5_000


def _dsir_model_rows(counts: DataFrame) -> list[tuple[int, int, int, int]]:
    """Driver-side DSIR model math over the collected SPARSE count
    index: densify over the fixed bucket spine, Laplace-smooth, and
    compute ``delta_q20`` with the Python ``ilog2_q20`` — bit-identical
    to the in-plan ``with_ilog2_q20`` chain by the intmath contract
    (tests pin Python == SQL on a value sweep). The count table is
    bounded (≤ ``_DSIR_N_BUCKETS`` rows, never grows with the corpus),
    so this is the kmeans-codebook collect contract: one job aggregates
    the corpus slice to ≤10k count rows; the four 20-round unrolled
    ilog2 projections, the dense-spine join, the count-table persist
    and the totals cross-join all leave the distributed plan. Returns
    the full dense model: ``(bucket, c_target, c_raw, delta_q20)``.
    Raises ``ValueError`` on a bucket outside ``[0, _DSIR_N_BUCKETS)``
    (an index built with another bucket count)."""
    from traits_data_spark.functions.intmath import ilog2_q20

    n = int(_DSIR_N_BUCKETS)
    seen = {int(r["bucket"]): (int(r["c_target"]), int(r["c_raw"]))
            for r in counts.collect()}
    stray = sorted(b for b in seen if not 0 <= b < n)
    if stray:
        raise ValueError(
            f"DSIR count index has buckets outside [0, {n}): {stray[:5]}"
            " — it was built with a different bucket count"
        )
    ct_tot = sum(c for c, _ in seen.values()) + n
    cr_tot = sum(c for _, c in seen.values()) + n
    il_ct_tot = ilog2_q20(ct_tot)
    il_cr_tot = ilog2_q20(cr_tot)
    rows = []
    for b in range(n):
        ct, cr = seen.get(b, (0, 0))
        delta = (ilog2_q20(ct + 1) - il_ct_tot) - (
            ilog2_q20(cr + 1) - il_cr_tot
        )
        rows.append((b, ct, cr, delta))
    return rows


def _dsir_delta_rows(counts: DataFrame) -> list[tuple[int, int]]:
    """The ``(bucket, delta_q20)`` projection of ``_dsir_model_rows``
    — the shape the scoring join consumes."""
    return [(b, d) for b, _ct, _cr, d in _dsir_model_rows(counts)]


_DSIR_MODEL_DDL = (
    "bucket bigint, c_target bigint, c_raw bigint, delta_q20 bigint"
)


def _curate_dsir(spark: SparkSession, sf_dir: str, counts_fn) -> DataFrame:
    """The ONE copy of the DSIR-gated curation invocation: the chain
    trains importance weights from ``counts_fn(corpus)`` (the sparse
    hashed-gram count index — computed from text, or merged from
    per-batch indexes, the round-15 ``counts=`` wiring), ranks every
    corpus doc by trained weight, and gates the Gopher-kept set on the
    deterministic top-N flag."""
    from traits_data_spark.catalog.corpus import _curate_call

    def _builder(corpus: DataFrame) -> DataFrame:
        # corpus: the bench-excluded (doc_id, text, lang) split built
        # by _curate_call — train and rank on the SAME frame.
        #
        # The trained model is a BOUNDED artifact (dense over the fixed
        # 10k hash buckets — it never grows with the corpus), so apply
        # the round-16 codebook recipe end-to-end: ONE job collects the
        # sparse count aggregate (the only corpus-sized work in the
        # trainer), the model math runs on the driver
        # (``_dsir_delta_rows``; bit-identical ilog2 by the intmath
        # contract), and the (bucket, delta_q20) table re-embeds as a
        # SQL VALUES LocalRelation (functions/literals.py). Earlier
        # rounds carried the trainer SUBTREE (4 × 20-round unrolled
        # ilog2 projections + dense-spine join + totals cross-join) in
        # the gate plan and paid its driver-side analysis + codegen in
        # every downstream stage — the measured ladder was: no pin
        # 33-38 s, persist() 35-39 s (the cost is analysis, not
        # re-execution), localCheckpoint of the score frame 13.4 s
        # (round 13), literal model with the in-plan trainer ~10 s,
        # this form ~8 s isolated. The ranking chain (gram explode →
        # broadcast literal join → doc aggregate → rank window) stays
        # lazy and embeds into the curation semi-join — one consumer,
        # one execution, small plan.
        lit = literal_frame(
            spark,
            _dsir_delta_rows(counts_fn(corpus)),
            "bucket bigint, delta_q20 bigint",
        )
        sel = dsir_select(
            corpus.select("doc_id", "text"),
            lit,
            keep_bp=CURATE_DSIR_KEEP_BP,
            delta_col="delta_q20",
            weight_col="weight_q20",
        )
        return sel.select(
            "doc_id",
            F.when(F.col("selected"), 1)
            .otherwise(0)
            .cast("long")
            .alias("dsir_sel"),
        )

    return _curate_call(
        spark,
        sf_dir,
        quality_pred_builder=_builder,
        quality_min=1,
        quality_score_col="dsir_sel",
    )


def q_curate_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curate_corpus`` with a DSIR SELECTION stage trained IN-PLAN
    (round 13): the chain trains the hashed-n-gram importance weights
    on its own bench-excluded corpus split (``dsir_train`` — Q20
    fixed-point log2, zero offline artifacts anywhere), ranks every
    corpus doc by trained weight, and gates the Gopher-kept set on
    the deterministic top-25% flag at the same stage position the
    LM/trained-classifier variants use — "keep what looks like the
    target distribution" as a curation stage, completing the selector
    family inside the chain (gopher = per-doc rules, ppl = LM filter,
    trained = distilled classifier, dsir = distributional match).
    The oracle injects the trainer + weight + integer-rank CTEs into
    the curation replay via ``_curate_corpus_sql(gq_ctes=,
    force_recursive=True)`` (the ilog2 recurrence needs ``WITH
    RECURSIVE``)."""
    return _curate_dsir(spark, sf_dir, dsir_counts)


def q_curate_corpus_dsir_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DSIR-gated curation chain CONSUMING the add-mergeable count
    index (round-14 verdict task 6): the gate's model re-derives from
    two per-ingest-batch ``dsir_counts`` tables merged by keyed sum —
    ``dsir_train(counts=)`` — instead of retraining from text in-plan,
    the shape a nightly curation run takes when the index is persisted
    (history text never re-tokenized; only the new batch is counted).
    The split replays two ingest batches in-plan (even/odd halves of
    the held-out slice, the ``dsir_train_counts`` pattern), so the
    output is bit-identical to ``curate_corpus_dsir`` and the oracle
    is the SAME curation replay — the hash-match IS the
    merge-equivalence attestation for the full chain."""

    def _from_counts(corpus: DataFrame) -> DataFrame:
        return merge_dsir_counts(
            dsir_counts(corpus.filter(F.pmod(F.col("doc_id"), 20) == 0)),
            dsir_counts(corpus.filter(F.pmod(F.col("doc_id"), 20) == 10)),
        )

    return _curate_dsir(spark, sf_dir, _from_counts)


def _curate_corpus_dsir_sql() -> str:
    from traits_data_spark.catalog.corpus import _curate_corpus_sql
    from traits_data_spark.catalog.dedup import DECON_BENCH_SOURCE

    src = f" AND source <> '{DECON_BENCH_SOURCE}'"
    gq = (
        _dsir_train_ctes(where_extra=src)
        + f""",
qsd AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents WHERE source <> '{DECON_BENCH_SOURCE}'
),
qsg AS (
  SELECT doc_id, unnest(wl) AS gram FROM qsd
  UNION ALL
  SELECT doc_id, wl[i] || ' ' || wl[i + 1] AS gram
  FROM (SELECT doc_id, wl, unnest(range(1, length(wl))) AS i FROM qsd)
),
qsf AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 7)) AS BIGINT)
           % {_DSIR_N_BUCKETS} AS bucket
  FROM qsg
),
qss AS (
  SELECT qsf.doc_id, CAST(sum(m.delta_q20) AS BIGINT) AS weight_q20
  FROM qsf JOIN dtm m USING (bucket)
  GROUP BY qsf.doc_id
),
qsw AS (
  SELECT d.doc_id,
         CAST(coalesce(qss.weight_q20, 0) AS BIGINT) AS weight_q20
  FROM qsd d LEFT JOIN qss USING (doc_id)
),
qsr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY weight_q20 DESC, doc_id) - 1 AS rn0,
         count(*) OVER () AS cnt
  FROM qsw
),
gq AS (
  SELECT g.* FROM g JOIN qsr USING (doc_id)
  WHERE qsr.rn0 * 10000 < qsr.cnt * {CURATE_DSIR_KEEP_BP}
)"""
    )
    return _curate_corpus_sql(gq_ctes=gq, force_recursive=True)


# ---------------------------------------------------------------------------
# Serving-layer name search
# ---------------------------------------------------------------------------

NAME_SEARCH_QUERY = "red bo"  # exact adjective + `bo*` noun prefix


def q_name_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-layer name search (``operators.text.name_search``):
    the query-side twin of the normalized-generated-column + FULLTEXT
    DDL the RDBMS sink emits (``sinks.jdbc.normalized_column_sql``,
    reference ``LOADERS/GOLD-data-loader.py:593-632``) — the one
    reference serving behavior that previously had no engine
    equivalent. Boolean-mode ``term*`` prefix search over the
    ø-normalized, lowercased, tokenized name column of the ``part``
    dim (the engine's name-bearing serving table), returning integer
    exact/prefix hit counts and the implicit-AND ``matched_all``
    flag — deterministic relevance, unlike MySQL's float score."""
    part = _t(spark, sf_dir, "part")
    return name_search(
        part.select("p_partkey", "p_name"),
        NAME_SEARCH_QUERY,
        name_col="p_name",
        id_col="p_partkey",
    )


_NAME_SEARCH_SQL = f"""
WITH n AS (
  SELECT p_partkey, p_name,
         list_filter(
           string_split_regex(
             lower(replace(replace(p_name, 'ø', 'o'), 'Ø', 'O')),
             '[^a-z0-9]+'),
           x -> length(x) > 0) AS toks
  FROM part
),
s AS (
  SELECT p_partkey, p_name,
         CAST((CASE WHEN list_contains(toks, 'red') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(toks, 'bo') THEN 1 ELSE 0 END)
              AS BIGINT) AS exact_hits,
         CAST((CASE WHEN len(list_filter(toks, x -> starts_with(x, 'red'))) > 0
                    THEN 1 ELSE 0 END)
              + (CASE WHEN len(list_filter(toks, x -> starts_with(x, 'bo'))) > 0
                      THEN 1 ELSE 0 END)
              AS BIGINT) AS prefix_hits
  FROM n
)
SELECT p_partkey, p_name, exact_hits, prefix_hits,
       prefix_hits = 2 AS matched_all
FROM s WHERE prefix_hits > 0
"""


# ---------------------------------------------------------------------------
# Copy-graph PageRank
# ---------------------------------------------------------------------------

PAGERANK_DAMPING_PCT = 85
PAGERANK_ITERS = 5


def q_copy_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-graph centrality (``operators.graph.pagerank``):
    integer-exact damped PageRank over the winnowing copy-detection
    pairs — surfaces the template/boilerplate HUBS the copy-graph
    hangs off, the ranking question next to the clustering one
    ``dup_clusters`` answers. All-integer micro-unit arithmetic
    (rank DIV degree shares, damping as an integer percentage), fixed
    5 rounds, so the DuckDB oracle recomputes every rank bit-for-bit
    from 5 unrolled CTEs. The loop runs on the edge subgraph only."""
    docs = _docs_wide(spark, sf_dir)
    fps = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    pairs = winnow_matches(
        fps, min_shared=WINNOW_MIN_SHARED, max_fp_docs=WINNOW_MAX_FP_DOCS
    )
    return pagerank(
        pairs, damping_pct=PAGERANK_DAMPING_PCT, n_iter=PAGERANK_ITERS
    ).select(F.col("id").alias("doc_id"), "degree", "rank_micro")


def _copy_pagerank_sql() -> str:
    damp, iters = PAGERANK_DAMPING_PCT, PAGERANK_ITERS
    base = (100 - damp) * 1_000_000 // 100
    ctes = [
        f"""pairs AS ({_winnow_matches_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT d.id,
         CAST({base} + ({damp} * COALESCE(s.m, 0)) // 100 AS BIGINT) AS r
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, SUM(p.r // dg.deg) AS m
    FROM edges e
    JOIN r{i - 1} p ON p.id = e.src
    JOIN deg dg ON dg.id = e.src
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.id AS doc_id, d.deg AS degree, r{iters}.r AS rank_micro
FROM deg d JOIN r{iters} USING (id)
"""
    )


# ---------------------------------------------------------------------------
# Vocabulary drift between corpus snapshots
# ---------------------------------------------------------------------------

VOCAB_DRIFT_TOP_N = 20


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift monitor (``operators.text.vocab_drift``):
    top drifted words between the even- and odd-``doc_id`` snapshot
    halves, ranked by the EXACT integer cross-product statistic
    ``|count_a*total_b - count_b*total_a|`` (the numerator of
    ``|p_a - p_b|`` cleared of both denominators — no division in the
    ranking, so both engines order identically), with each word's
    total-variation contribution as one IEEE-exact division."""
    docs = _docs_wide(spark, sf_dir)
    return vocab_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_n=VOCAB_DRIFT_TOP_N,
    )


_VOCAB_DRIFT_SQL = f"""
WITH d AS (
  SELECT doc_id % 2 = 0 AS side_a,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
w AS (SELECT side_a, unnest(wl) AS word FROM d),
c AS (
  SELECT word,
         CAST(sum(CASE WHEN side_a THEN 1 ELSE 0 END) AS BIGINT) AS count_a,
         CAST(sum(CASE WHEN NOT side_a THEN 1 ELSE 0 END) AS BIGINT)
           AS count_b
  FROM w GROUP BY word
),
t AS (SELECT sum(count_a) AS ta, sum(count_b) AS tb FROM c),
x AS (
  SELECT word, count_a, count_b,
         CAST(abs(count_a * t.tb - count_b * t.ta) AS BIGINT)
           AS drift_cross,
         CASE WHEN t.ta > 0 AND t.tb > 0 THEN
           round(abs(count_a * t.tb - count_b * t.ta)::DOUBLE
                 / (2 * t.ta * t.tb), 9) + 0.0
         END AS tv_contrib
  FROM c, t
),
r AS (SELECT *, row_number() OVER (ORDER BY drift_cross DESC, word) AS rk
      FROM x)
SELECT word, count_a, count_b, drift_cross, tv_contrib,
       CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {VOCAB_DRIFT_TOP_N}
"""
