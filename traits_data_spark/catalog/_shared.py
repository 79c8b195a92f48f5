"""Shared catalog primitives: the full operator-import surface,
the table loaders, and the tokenize/hash SQL fragments every family
module builds on."""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from traits_data_spark.functions.feature_store import Feature, FeatureStore
from traits_data_spark.functions.scalars import (
    age_at,
    map_lookup,
    portable_hash64,
    surrogate_key,
)
from traits_data_spark.operators.any_union import (
    rollup_grouping_sets,
    union_with_coarse_group,
)
from traits_data_spark.operators.dedup import (
    substring_dup_profile,
    MINHASH_PRIME,
    _hash_coeffs,
    bloom_decontaminate,
    content_hash_index,
    dedup_clusters,
    dedup_lines,
    exact_dedup,
    incremental_exact_dedup,
    containment_verify,
    jaccard_verify,
    minhash_lsh_candidates,
    minhash_signatures_df,
    ngram_decontaminate,
    ngram_jaccard_pairs,
    normalized_text,
    remove_dup_substrings,
    simhash64,
    simhash_near_dups,
    widen_if_narrow,
)
from traits_data_spark.operators.flatten import enforce_cast_contract
from traits_data_spark.operators.joins import (
    asof_join,
    dim_join,
    mismatch_join,
    range_join_binned,
)
from traits_data_spark.operators.multimodal import (
    extract_audio_features,
    extract_audio_metadata,
    extract_image_features,
    extract_image_metadata,
    extract_video_metadata,
    frame_sample_plan,
    synthetic_media_table,
    synthetic_mp4_media,
    synthetic_webm_media,
    synthetic_png_media,
    synthetic_wav_media,
)
from traits_data_spark.operators.ratings import WeightsHierarchy
from traits_data_spark.operators.selection import (
    DSIR_MODEL_PATH,
    N_BUCKETS as _DSIR_N_BUCKETS,
    dsir_counts,
    dsir_select,
    dsir_select_sampled,
    load_dsir_model,
    merge_dsir_counts,
)
from traits_data_spark.operators.sessions import sessionize
from traits_data_spark.operators.similarity import (
    ann_recall,
    matryoshka_recall,
    hard_negative_mining,
    ivf_topk_kmeans,
    kmeans_clusters,
    kmeans_fit,
    pq_topk,
    pq_fit,
    pq_encode,
    ivfpq_topk,
    probe_masks,
    _hyperplanes,
    cosine_topk_bruteforce,
    cosine_topk_quantized,
    dequantize_int8,
    embedding_near_dups,
    hyperplane_bucket_index,
    incremental_embedding_near_dups,
    ivf_topk_hyperplane,
    knn_label_eval,
    lsh_bucketed_topk,
    lsh_topk_multiprobe,
    quantize_int8,
)
from traits_data_spark.operators.perplexity import (
    WORD_LM_BIGRAM_PATH,
    WORD_LM_CONTEXT_PATH,
    load_word_lm,
    score_perplexity,
    score_perplexity_sampled,
)
from traits_data_spark.plans.corpus import clean_corpus
from traits_data_spark.plans.curation import curate_corpus
from traits_data_spark.operators.text import (
    BPE_MERGE_COUNTS_PATH,
    UNIGRAM_COUNTS_PATH,
    bpe_effective_vocab,
    bpe_merge_token_counts,
    bpe_token_counts,
    bpe_train,
    bpe_train_token_counts,
    train_bigram_lm,
    MKN4_Q,
    MKN4_Q_BITS,
    kn4_doc_scores,
    kn_doc_scores,
    train_kn_lm,
    load_bpe_merges,
    load_bpe_vocab,
    bm25_topk,
    char_entropy,
    classifier_score,
    document_fingerprint,
    gopher_rules,
    identify_language,
    quality_features,
    redact_pii,
    repetition_features,
    load_unigram_vocab,
    name_search,
    tfidf_top_terms,
    token_counts,
    unigram_token_counts,
    unigram_train,
    unigram_train_token_counts,
    UNIGRAM_TRAIN_MAX_PIECE_LEN,
    UNIGRAM_TRAIN_MAX_WORD_LEN,
    UNIGRAM_TRAIN_EM_ITERS,
    UNIGRAM_TRAIN_VOCAB_SIZE,
    UNIGRAM_TRAIN_SEED_CAP,
    UNIGRAM_TRAIN_UNK_Q20,
    UNIGRAM_MAX_WORD_LEN,
    vocab_drift,
    winnow_fingerprints,
    winnow_matches,
    word_array,
    BPE_CAP,
    BPE_VOCAB,
    BPE_VOCAB_LARGE_PATH,
    LANG_MARKERS,
)
from traits_data_spark.operators.windows import (
    cumcount,
    dedup_keep_best,
    filter_small_groups,
    last_n_filter,
    rolling_range_agg,
    with_group_rank,
)
from traits_data_spark.operators.zscore import group_zscores
from traits_data_spark.plans.gold import GoldSpec, build_ratings
from traits_data_spark.plans.silver import (
    ProfileSpec,
    _prepare,
    attach_any_season_totals,
    attach_meta,
    build_profiles,
)
from traits_data_spark.operators.incremental import (
    merge_aggregate_states,
    scd2_merge,
    snapshot_diff,
)
from traits_data_spark.operators.graph import pagerank
from traits_data_spark.operators.layout import zvalue, zvalue_sql
from traits_data_spark.operators.packing import (
    cdc_chunks,
    chunk_documents,
    pack_best_fit,
    pack_contiguous,
)
from traits_data_spark.operators.pivot import pivot_wide
from traits_data_spark.operators.sampling import (
    epoch_expand,
    hash_split,
    mixture_plan,
    shuffle_shards,
    stratified_sample,
    temperature_sample,
    temperature_weights,
    token_budget_filter,
)
from traits_data_spark.operators.analytics import (
    cohort_retention,
    decayed_engagement,
    funnel_steps,
)
from traits_data_spark.operators.sketches import (
    cms_estimate,
    count_min_sketch,
    histogram_sketch,
    sampled_quantiles,
    hll_estimate,
    hll_registers,
    kmv_distinct,
    kmv_set_ops,
)
from traits_data_spark.quality import null_zero_profile, percentile_profile
from traits_data_spark.sinks.jdbc import distinct_dims
from traits_data_spark.sinks.upsert import incremental_new_keys, merge_upsert

QueryFn = Callable[[SparkSession, str], DataFrame]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (doc_id, text) widened to all cores: the text operators
    are regex/md5-CPU-bound and a small file scans as one partition."""
    return widen_if_narrow(_t(spark, sf_dir, "documents").select("doc_id", "text"))


# ---------------------------------------------------------------------------
# Dedup suite over documents (exact, minhash, LSH, jaccard, simhash)
# ---------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(length(nt) - 4, 1) + 1), i -> substr(nt, i::INT, 5)))"
)
_H28 = "CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)"
_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
CURATE_STOPS = ("the", "a", "spark", "stream")
