"""DSIR-style importance-based data selection.

DSIR (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023) is the standard method for choosing raw web
documents that LOOK LIKE a trusted target corpus: fit two
bag-of-hashed-n-grams models — target and raw — and keep the documents
with the highest target/raw log-likelihood ratio. It fills the gap
between the engine's FILTERS (gopher_rules / lm_perplexity judge each
doc in isolation) and its MIXERS (mixture_plan re-weights sources that
are already chosen): DSIR picks WHICH raw documents enter the pool by
distributional match to a target.

Model contract: a committed artifact (``tools/build_dsir_model.py``)
with one row per hashed n-gram bucket — DENSE over all ``N_BUCKETS``
buckets — carrying ``delta_micro = ln p_target - ln p_raw`` in integer
micro-nats. All transcendental math lives in the artifact (the
``word_lm`` rule); the distributed plan hashes grams with the portable
28-bit md5 hash, joins the broadcast model, and does integer sums, so
a DuckDB oracle recomputes every weight bit-for-bit.

Selection is the DETERMINISTIC top-k variant (the paper's Gumbel
resampling at temperature -> 0): rank by weight descending, doc id
tiebreak. Gumbel noise itself is ``-ln(-ln u))`` — transcendental, so
the stochastic variant is out of cross-engine scope by the same rule
that keeps ``exp`` out of ``lm_perplexity``.

Scale shape (100 TB): the model is a bounded broadcast dim (10k rows
here; the paper's production runs use 10k buckets too — it never
grows with the corpus). ``dsir_weights`` is scan -> explode -> one
broadcast join -> one doc-keyed aggregate: no corpus-sized shuffle on
anything but ``doc_id``. The exact-rank ``dsir_select`` adds a global
sort of the ONE-ROW-PER-DOC weight frame (same caveat as
``lm_perplexity``'s decile window); ``dsir_select_sampled`` replaces
it with a threshold cut from a deterministic hash sample — only the
sample sorts, the corpus is filtered by comparison against one
broadcast cut value (CCNet's sampled-quantile discipline applied to
selection).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from traits_data_spark.operators.dedup import normalized_text

N_BUCKETS = 10_000

_DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
)
DSIR_MODEL_PATH = os.path.join(_DATA_DIR, "dsir_model.parquet")


def load_dsir_model(spark) -> DataFrame:
    """Load the committed DSIR bucket->delta table (see
    ``tools/build_dsir_model.py`` for provenance — trained on the
    ``doc_id % 10 == 0`` held-out slice, target = ``lang='en'``).
    Bounded model artifact, same broadcast-dim contract as
    ``load_word_lm``."""
    return spark.read.parquet(DSIR_MODEL_PATH)


def word_grams(text_col: str = "text") -> F.Column:
    """Word unigrams + bigrams of the whitespace-normalized text, as
    one array<string> — DSIR's feature set. Bigram positions are
    always in-bounds (1..size-1, +1), so ANSI ``element_at`` cannot
    throw; the explicit size guard avoids ``F.sequence(1, 0)``
    DESCENDING on single-word docs (the round-10 review finding on
    ``score_perplexity_sampled``).

    The word list is ``_let``-bound: HOF lambdas run interpreted and
    re-evaluate closed-over OUTER expressions per element, so an
    unbound ``wl`` re-ran the whole normalize→split→filter chain for
    every ``element_at`` at every bigram position — O(n_tokens) regex
    passes per document (the ``winnow_fingerprints`` lesson; measured
    as the dominant stage of every DSIR consumer)."""
    from traits_data_spark.operators.dedup import _let

    def build(wl: F.Column) -> F.Column:
        bigrams = F.when(
            F.size(wl) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(wl) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(wl, i), F.element_at(wl, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(wl, bigrams)

    return _let(
        F.filter(
            F.split(normalized_text(text_col), " "),
            lambda w: F.length(w) > 0,
        ),
        build,
    )


def _bucket(gram: F.Column, n_buckets: int) -> F.Column:
    """Portable 28-bit md5 bucket — equals the builder's
    ``int(md5(g)[:7], 16) % n`` and the oracle's
    ``CAST(('0x' || substr(md5(g),1,7)) AS BIGINT) % n``."""
    h28 = F.conv(F.substring(F.md5(gram), 1, 7), 16, 10).cast("long")
    return F.pmod(h28, F.lit(int(n_buckets)))


def dsir_weights(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    delta_col: str = "delta_micro",
    weight_col: str = "weight_micro",
) -> DataFrame:
    """Per-document DSIR importance weight: one row per input row with

    - ``n_feats`` — hashed n-gram occurrences scored (0 for null/empty
      text; counted WITH multiplicity, as the paper's bag model does),
    - ``weight_micro`` — Σ ``delta_micro`` over features (BIGINT,
      exact): the document's target/raw log-likelihood ratio in
      micro-nats, up to the constant log-prior that cancels under
      ranking.

    The model is dense over buckets, so the broadcast join is total —
    no unseen fallback needed. No global ops: scan, explode, broadcast
    join, one aggregate keyed by ``id_col``.
    """
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_grams(text_col)).alias("__g"),
    )
    feats = grams.select("__id", _bucket(F.col("__g"), n_buckets).alias("bucket"))
    sums = (
        feats.join(F.broadcast(model.select("bucket", delta_col)), "bucket")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum(delta_col).cast("long").alias(weight_col),
        )
    )
    return df.join(
        sums.withColumnRenamed("__id", id_col), id_col, "left"
    ).withColumns(
        {
            "n_feats": F.coalesce(F.col("n_feats"), F.lit(0)).cast("long"),
            weight_col: F.coalesce(
                F.col(weight_col), F.lit(0)
            ).cast("long"),
        }
    )


def dsir_select(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_bp: int = 2_500,
    n_buckets: int = N_BUCKETS,
    delta_col: str = "delta_micro",
    weight_col: str = "weight_micro",
) -> DataFrame:
    """``dsir_weights`` + a ``selected`` flag for the top ``keep_bp``
    basis points (default 25%) by weight — deterministic DSIR
    (temperature-0 resampling). Integer rank arithmetic:
    ``selected = rn0 * 10000 < cnt * keep_bp`` with ``(weight DESC,
    id ASC)`` ordering, so both engines agree exactly at any
    cardinality. The global window ranks the one-row-per-doc weight
    frame (k columns), not the corpus; use ``dsir_select_sampled`` at
    extreme cardinality."""
    weighted = dsir_weights(
        df, model, text_col, id_col, n_buckets, delta_col, weight_col
    )
    w = Window.orderBy(F.col(weight_col).desc(), F.col(id_col).asc())
    return (
        weighted.withColumn(
            "__rn0", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        .withColumn(
            "__cnt",
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long"),
        )
        .withColumn(
            "selected",
            F.col("__rn0") * F.lit(10_000) < F.col("__cnt") * F.lit(int(keep_bp)),
        )
        .drop("__rn0", "__cnt")
    )


def dsir_select_sampled(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_bp: int = 2_500,
    rate_bp: int = 2_000,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Scale-safe ``dsir_select``: the selection threshold comes from a
    deterministic hash sample instead of a corpus-wide rank.

    Pipeline: per-doc weights -> keep docs whose
    ``portable_hash64(id) % 10000 < rate_bp`` -> rank the SAMPLE by
    ``(weight DESC, id)`` -> take the single discrete cut value at
    1-based rank ``(keep_bp * (n - 1)) DIV 10000 + 1`` -> every doc's
    ``selected = weight_micro >= cut`` (ties INCLUDE, so the kept
    fraction can exceed ``keep_bp`` by the tie mass — the documented
    trade for never sorting the corpus). Only the sample shuffles into
    a sort; the corpus-sized stages are a broadcast join and one
    doc-keyed aggregate, mirroring ``score_perplexity_sampled``.
    """
    from traits_data_spark.functions.scalars import portable_hash64

    weighted = dsir_weights(df, model, text_col, id_col, n_buckets)
    h = F.pmod(
        portable_hash64(F.col(id_col).cast("string")), F.lit(10_000)
    )
    # weight the SAMPLE SLICE only (filter before the gram explode):
    # the corpus-sized gram/hash/join subtree runs once at rate_bp/1e4
    # cost for the cut, once at full cost for the output — not twice
    # at full cost (the plan-audit finding on the first cut of this
    # operator)
    sample = dsir_weights(
        df.filter(h < rate_bp), model, text_col, id_col, n_buckets
    ).select("weight_micro", id_col)
    w = Window.orderBy(F.col("weight_micro").desc(), F.col(id_col).asc())
    ranked = sample.withColumn(
        "__rn", F.row_number().over(w).cast("long")
    ).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
    )
    # 1-based cut rank: floor((keep_bp * (n-1)) / 10000) + 1 — the
    # subtract-pmod-divide exact floor form (all terms non-negative)
    x = F.lit(int(keep_bp)) * (F.col("__n") - 1)
    cut_rank = ((x - F.pmod(x, F.lit(10_000))) / F.lit(10_000)).cast(
        "long"
    ) + F.lit(1)
    cut = ranked.filter(F.col("__rn") == cut_rank).select(
        F.col("weight_micro").alias("__cut")
    )
    return (
        weighted.crossJoin(F.broadcast(cut))
        .withColumn("selected", F.col("weight_micro") >= F.col("__cut"))
        .drop("__cut")
    )


def dsir_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    target_lang: str = "en",
    holdout_mod: int = 10,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """SPARSE hashed-gram bucket counts ``(bucket, c_target, c_raw)``
    over the held-out slice — the persistable DSIR count index
    (round-13 verdict task 5: the LM family's add-mergeable
    ``word_ngram_counts`` contract applied to the selection family).
    Counts are ADD-MERGEABLE: ``merge_dsir_counts`` of per-slice
    counts == counts over the union, so a nightly ingest extends a
    persisted index from the new batch alone and ``dsir_train``
    re-derives the model from the ≤n_buckets-row table — history text
    is never re-tokenized. Only SEEN buckets are emitted (the dense
    zero-filled spine is the trainer's job — a sparse index stays
    merge-cheap)."""
    sl = df.filter(
        F.col(text_col).isNotNull()
        & (F.pmod(F.col(id_col), F.lit(int(holdout_mod))) == 0)
    )
    feats = sl.select(
        (F.col(lang_col) == target_lang).alias("__tgt"),
        F.explode(word_grams(text_col)).alias("__g"),
    ).select("__tgt", _bucket(F.col("__g"), n_buckets).alias("bucket"))
    return feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
        .cast("long")
        .alias("c_target"),
        F.count(F.lit(1)).cast("long").alias("c_raw"),
    )


def merge_dsir_counts(*parts: DataFrame) -> DataFrame:
    """Merge per-slice ``dsir_counts`` tables (union + keyed sum) —
    one shuffle over ≤n_buckets-row count frames, never over text."""
    if not parts:
        raise ValueError("merge_dsir_counts needs at least one part")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("bucket").agg(
        F.sum("c_target").cast("long").alias("c_target"),
        F.sum("c_raw").cast("long").alias("c_raw"),
    )


def dsir_train(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    target_lang: str = "en",
    holdout_mod: int = 10,
    n_buckets: int = N_BUCKETS,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Train the DSIR hashed-n-gram importance weights ON-CLUSTER —
    the in-plan replacement for the offline artifact builder
    ``tools/build_dsir_model.py``, completing the trainer discipline
    (``bpe_train`` / ``unigram_train`` / ``train_bigram_lm`` /
    ``train_quality_classifier``) for the selection family: at 100 TB
    the target/raw models must be fit on the corpus being selected,
    not on a laptop.

    Same estimator as the builder: the held-out slice
    ``id % holdout_mod == 0`` provides both corpora — target = docs
    with ``lang_col == target_lang``, raw = the whole slice; features
    are word uni+bigrams hashed with the portable 28-bit md5 bucket;
    Laplace ``(c + 1) / (C + n_buckets)`` smoothing on both sides.
    ONE difference, and it is the point: the builder computes
    ``ln p_t - ln p_r`` in Python micro-nats, while this trainer
    computes the same log-ratio in Q20 fixed-point **log2** via the
    in-plan square-and-shift recurrence
    (``functions.intmath.with_ilog2_q20``) — pure JVM integer column
    arithmetic, NO libm, NO driver collect, so the whole model is a
    distributed plan whose every row hash-matches the oracle's
    recursive-CTE replay. Ranking is invariant to the log-base change
    (a positive constant factor).

    Execution shape: one gram explode over the slice → ONE groupBy on
    the 28-bit bucket (the only corpus-sized shuffle, keyed on 10k
    values) → dense bucket spine (``spark.range``; missing buckets
    count 0 — DSIR's model is dense by contract) → two 20-round
    integer log2 chains per row + two on the broadcast 1-row totals.
    Output: ``(bucket, c_target, c_raw, delta_q20)`` — ``n_buckets``
    rows, all BIGINT.

    Pass ``counts=`` (a ``dsir_counts``-shaped sparse table — e.g. a
    persisted index extended via ``merge_dsir_counts``) to re-derive
    the model without touching corpus text; exactly one of
    ``df``/``counts`` is required.
    """
    from traits_data_spark.functions.intmath import with_ilog2_q20

    if counts is None:
        if df is None:
            raise ValueError("dsir_train needs df or counts")
        counts = dsir_counts(
            df, text_col, id_col, lang_col, target_lang,
            holdout_mod, n_buckets,
        )
    elif df is not None:
        raise ValueError(
            "dsir_train: pass df OR counts, not both — with counts= "
            "the corpus text is never touched"
        )
    # persist the n_buckets-row dense count table: BOTH the totals
    # aggregate and the per-bucket scoring consume it, and without the
    # pin each consumer re-executes the corpus-sized gram explode —
    # a double corpus scan at 100 TB for a 10k-row frame
    dense = (
        counts.sparkSession.range(int(n_buckets))
        .select(F.col("id").alias("bucket"))
        .join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_target", F.lit(0)).cast("long").alias("c_target"),
            F.coalesce("c_raw", F.lit(0)).cast("long").alias("c_raw"),
        )
        .persist()
    )
    totals = dense.agg(
        (F.sum("c_target") + F.lit(int(n_buckets)))
        .cast("long")
        .alias("__ct_tot"),
        (F.sum("c_raw") + F.lit(int(n_buckets)))
        .cast("long")
        .alias("__cr_tot"),
    )
    totals = with_ilog2_q20(totals, "__ct_tot", "__il_ct_tot")
    totals = with_ilog2_q20(totals, "__cr_tot", "__il_cr_tot")
    scored = dense.withColumn(
        "__ct1", F.col("c_target") + F.lit(1).cast("long")
    ).withColumn("__cr1", F.col("c_raw") + F.lit(1).cast("long"))
    scored = with_ilog2_q20(scored, "__ct1", "__il_ct")
    scored = with_ilog2_q20(scored, "__cr1", "__il_cr")
    return (
        scored.crossJoin(F.broadcast(totals))
        .withColumn(
            "delta_q20",
            (
                (F.col("__il_ct") - F.col("__il_ct_tot"))
                - (F.col("__il_cr") - F.col("__il_cr_tot"))
            ).cast("long"),
        )
        .select("bucket", "c_target", "c_raw", "delta_q20")
    )
