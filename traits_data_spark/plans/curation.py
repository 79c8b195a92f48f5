"""The end-to-end pretraining-corpus curation pipeline — the third
LLM-pipeline flagship, composing the round-7 surface:

    Gopher rule filter → exact dedup (keep min id) → MinHash-LSH
    near-dup removal (Jaccard-verified) → benchmark decontamination →
    mixture-plan-driven deterministic sampling → sharded
    training-order shuffle

Every stage is an already-oracle-checked operator; the composition
adds the realistic EXECUTION of a mixture plan: ``mixture_plan``
computes per-source epochs, and sources over their target are
subsampled to it with the deterministic hash sampler (so the output
corpus actually lands on the planned mixture), while under-target
sources keep everything and rely on ``repeat_epochs`` at load time
(curation cannot mint new documents).

Scale shape: one persist barrier after the regex-heavy Gopher scoring
(same hazard ``clean_corpus`` documents — without it Catalyst pushes
the fused regex predicate into the scan and evaluates it twice), one
map-side-combined exact-dedup aggregate, a broadcast-benchmark
decontamination join that never shuffles the corpus, a broadcast join
against the one-row-per-source mixture plan, and the single hash-dealt
shard window. No stage keys a shuffle on a natural (skewable) column.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from traits_data_spark.functions.scalars import portable_hash64
from traits_data_spark.operators.dedup import (
    jaccard_verify,
    minhash_lsh_candidates,
    ngram_decontaminate,
    normalized_text,
    widen_if_narrow,
)
from traits_data_spark.operators.sampling import (
    N_BUCKETS,
    PPM,
    mixture_plan,
    shuffle_shards,
    split_bucket,
)
from traits_data_spark.operators.text import GOPHER_STOPS, gopher_rules
from traits_data_spark.functions.barrier import barrier


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_words: int = 30,
    stops: Sequence[str] = GOPHER_STOPS,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    decon_n: int = 5,
    decon_min_overlap: int = 1,
    weights_ppm: Mapping[str, int] | None = None,
    token_budget: int = 1_000_000,
    sample_salt: str = "mix",
    n_shards: int = 32,
    shard_salt: str = "ep0",
    max_bucket_size: int | None = None,
    bpe_vocab: Sequence[str] | None = None,
    bpe_cap: int = 24,
    lm: tuple[DataFrame, DataFrame] | None = None,
    lm_max_nll_micro: int | None = None,
    quality_scores: DataFrame | None = None,
    quality_min: int | None = None,
    quality_score_col: str = "pred_lp_pico",
) -> DataFrame:
    """Run the full curation chain; returns one row per document in
    the curated corpus: ``(id, source, ws_tokens, shard, shard_pos)``.

    The sampling stage keeps a doc from source ``s`` when its salted
    hash bucket clears ``min(epochs_ppm_s, PPM)`` — i.e. over-target
    sources are thinned to their planned token share (to bucket
    resolution), everything else passes. Unplanned sources (weight 0)
    drop entirely. All arithmetic is 64-bit integer, so the kept set
    is reproducible on any engine.

    ``max_bucket_size`` (default ``None`` — engine-exact) caps LSH
    band buckets in the near-dup stage; set it (e.g. 1000) at corpus
    scale to kill degenerate quadratic buckets, accepting that capped
    buckets skip near-dup candidacy.

    .. note:: **Changed in round 8** — earlier revisions inherited
       ``minhash_lsh_candidates``' implicit cap of 1000, so existing
       corpus-scale callers that never passed ``max_bucket_size``
       silently lost the quadratic-bucket guard when the default
       moved to ``None`` for oracle parity. Scale callers should pass
       ``max_bucket_size=1000`` explicitly.

    ``bpe_vocab``: when given, the mixture is budgeted in SUBWORD
    tokens (greedy longest-match against this vocab — see
    ``operators.text.bpe_token_counts``) instead of whitespace tokens,
    the unit a model's context window is actually measured in;
    ``token_budget`` is then a subword-token budget, and the output
    gains a ``bpe_tokens`` column next to ``ws_tokens``. The count is
    a pure projection over the post-dedup/decon survivors, so the
    only plan change is the extra scan-speed expression.

    ``lm`` + ``lm_max_nll_micro`` (round 10): when both are given, a
    CCNet-style LM-perplexity filter runs on the quality-kept set —
    docs whose mean negative log-likelihood under the broadcast
    word-bigram LM exceeds ``lm_max_nll_micro`` micro-nats are
    dropped before dedup. ``lm`` is the ``load_word_lm(spark)`` pair;
    thresholds are integers, so the kept set stays engine-exact.

    ``quality_scores`` + ``quality_min`` (round 12): the TRAINED
    quality stage — a per-doc score frame (``(id_col,
    quality_score_col)``, e.g. ``train_linear_scorer``'s distilled
    LM predictions) filters the quality-kept set at the same
    CCNet position as the ``lm`` hook, keeping docs with score >=
    ``quality_min``. This is the deployment shape where the exact LM
    ran only on the training slice and the cheap learned scorer
    gates the corpus; scores are exact BIGINT so the kept set stays
    engine-exact.
    """
    weights_ppm = dict(weights_ppm or {})
    base = widen_if_narrow(
        docs.select(id_col, source_col, text_col).filter(
            F.col(text_col).isNotNull()
        )
    )
    # Persist BEFORE filtering on the fused regex flags (see
    # clean_corpus): pins the Gopher regex stack to one parallel pass.
    scored = gopher_rules(
        base, min_words=min_words, stops=stops, emit_tokens="ws_tokens"
    ).persist()
    kept_quality = scored.filter(F.col("keep") == 1)

    # optional CCNet-style LM-perplexity filter (round 10): keep docs
    # whose mean negative log-likelihood under the broadcast bigram LM
    # is at most lm_max_nll_micro micro-nats (avg_lp_micro >=
    # -lm_max_nll_micro). Runs on the quality-kept set, BEFORE dedup —
    # the same quality-stage position CCNet applies its KenLM filter
    # at. Pure broadcast joins + one doc-keyed aggregate; see
    # operators.perplexity for the exact-arithmetic contract.
    if lm is not None and lm_max_nll_micro is not None:
        from traits_data_spark.operators.perplexity import doc_lp_sums

        bigram_lp, context_lp = lm
        lp = doc_lp_sums(
            kept_quality, bigram_lp, context_lp, text_col, id_col
        ).filter(
            F.col("avg_lp_micro") >= F.lit(-int(lm_max_nll_micro))
        ).select(F.col("__id").alias(id_col))
        # corpus-sized keep-set: a plain id-keyed semi join (no
        # broadcast — AQE picks the strategy; the LM TABLES broadcast,
        # the per-doc score frame must not)
        kept_quality = kept_quality.join(lp, id_col, "semi")

    # optional TRAINED quality filter (round 12): same stage position
    # as the LM hook, but the per-doc score comes from a learned
    # scorer instead of the full LM pass (see docstring)
    if quality_scores is not None and quality_min is not None:
        qs = quality_scores.filter(
            F.col(quality_score_col) >= F.lit(int(quality_min))
        ).select(id_col)
        kept_quality = kept_quality.join(qs, id_col, "semi")

    # exact dedup: ONE map-side-combined min_by per content hash.
    # Persisted — the exact-kept set feeds near-dup shingling, both
    # verify sides, and the anti-join (the clean_corpus barrier).
    row = F.struct(F.col(id_col), F.col(source_col), F.col(text_col), F.col("ws_tokens"))
    # localCheckpoint, not persist (round 16): the exact-kept set feeds
    # near-dup shingling, both verify sides and the anti-join, and each
    # of those references embeds the FULL upstream subtree (gopher
    # regex stack + optional quality-gate chain) into the analyzed
    # plan — the trained variant's plan reached 1.7 MB / 478 scan
    # nodes, and its driver-side analysis was re-paid by every
    # downstream action. A cached frame still carries the child plan;
    # the checkpoint truncates lineage to a leaf (guide §3.3), same
    # move as the DSIR gate's measured 33 s → 13.4 s cut. Same caveat:
    # eager, executor-local blocks (rerun on executor loss).
    deduped = (
        kept_quality.withColumn(
            "__ch", portable_hash64(normalized_text(text_col))
        )
        .groupBy("__ch")
        .agg(F.min_by(row, F.col(id_col)).alias("__r"))
        .select("__r.*")
        .transform(barrier)
    )

    # near-dup removal over the exact-kept set (MinHash-LSH candidates,
    # Jaccard-verified; drop the larger id of every verified pair —
    # same greedy policy as clean_corpus). widen=False: deduped is
    # already partitioned by the dedup aggregation's shuffle.
    # Default max_bucket_size=None: the DuckDB oracle
    # (_near_dup_drop_sql) has no bucket cap, so a capped Spark side
    # would silently drop candidate pairs the oracle keeps once a band
    # bucket exceeds the cap. Callers running at corpus scale should
    # set the cap (1000 is the minhash_lsh_candidates production
    # default) — and mirror it in any oracle they compare against.
    cand = minhash_lsh_candidates(
        deduped, text_col, id_col, num_hashes=num_hashes, bands=bands,
        max_bucket_size=max_bucket_size, widen=False,
    )
    near = jaccard_verify(
        cand, deduped, text_col, id_col, threshold=jaccard_threshold,
        widen=False,
    ).select(F.col("id_b").alias(id_col))
    unique_docs = deduped.join(near, id_col, "left_anti")

    # decontamination: broadcast benchmark grams; corpus never shuffles
    contaminated = ngram_decontaminate(
        unique_docs, benchmark, text_col, id_col, id_col,
        n=decon_n, min_overlap=decon_min_overlap,
    ).select(F.col("id").alias(id_col))
    survivors = unique_docs.join(contaminated, id_col, "left_anti")

    # optional subword-token budget column (pure projection; see
    # docstring) — computed AFTER dedup/decon so only survivors pay
    # the per-char vocab probes
    budget_col = "ws_tokens"
    out_token_cols = [budget_col]
    if bpe_vocab is not None:
        from traits_data_spark.operators.text import bpe_token_counts

        survivors = bpe_token_counts(
            survivors, text_col, vocab=bpe_vocab, cap=bpe_cap, id_col=id_col
        )
        budget_col = "bpe_tokens"
        out_token_cols.append(budget_col)
    # lineage cut for the same reason as deduped above: survivors feed
    # the mixture plan, the sampled join and the shard window
    survivors = survivors.transform(barrier)

    # mixture execution: per-source plan (one row per source, broadcast)
    plan = mixture_plan(
        survivors, source_col, budget_col, weights_ppm, token_budget
    ).select(
        F.col("source").alias(source_col),
        F.least(F.col("epochs_ppm"), F.lit(PPM)).alias("__rate_ppm"),
    )
    # bucket resolution is 1/N_BUCKETS; rate comparison stays integer:
    # keep iff bucket * (PPM / N_BUCKETS) < rate_ppm
    per_bucket = PPM // N_BUCKETS
    sampled = (
        survivors.join(F.broadcast(plan), source_col)
        .filter(
            split_bucket(F.col(id_col), sample_salt) * per_bucket
            < F.col("__rate_ppm")
        )
        .select(id_col, source_col, *out_token_cols)
    )

    return shuffle_shards(
        sampled, id_col, n_shards=n_shards, salt=shard_salt
    )
