"""Guards on the catalog's driver-facing ordering contract.

The round driver records correctness for only the FIRST 50 entries of
``queries()`` (dict insertion order).  These tests pin the load-bearing
entries inside that window so adding a query can never silently evict a
flagship or a previously-failed query from the attested set.
"""

import hashlib
import json
import os

from traits_data_spark import catalog

DRIVER_WINDOW = 50

QUERIES_ORDER_SHA = (
    "8307085fb14cc535450e0ffbb74f97948b37767de09abac753cfc5646d2e24ef"
)
QUERIES_BUILDERS_SHA = (
    "0bba31ef2269d600746acdcb07eff6c2634998875edef076fa3254acb916d3a7"
)
ORACLES_SHA = (
    "2f1912c5a68e2994227713e6b0b1c31957b463f7cf4b84a43c5aff72d4d14a58"
)
BENCHED_SHA = (
    "3c8b7affe82599a595b977c72c65b0ce651c1b05108d5ad646656ead8457d323"
)

# Flagship pipelines, every query that ever failed a round's gate
# (asof_join / range_join failed round 3's oracle before the timestamp
# fix), entries the driver has not attested recently, and the newest
# additions. Which entries rotated out of the window, and when, is the
# ledger in COVERAGE.md (generated by tools/check_counts.py).
LOAD_BEARING = [
    "silver_e1",
    "gold_ratings",
    "profile_build",
    "profile_build_multi_pass",
    "clean_corpus",
    "training_prep",
    "asof_join",
    "range_join",
    "curate_corpus",
    "bpe_token_counts_large",
    "video_metadata",
    "bpe_merge_token_counts",
    "curate_corpus_ppl",
    "lm_perplexity_sampled",
    "winnow_matches",
    "tokenizer_fertility",
    "pq_topk",
    "bm25_topk",
    "ivfpq_topk",
    "unigram_train",
    "unigram_train_tokens",
    "train_quality_classifier",
    "balanced_shards",
    "shard_local_near_dups",
    "curate_corpus_trained",
    "shard_local_near_dups_m2",
    "semantic_dedup_sharded",
    "dsir_train",
    "dsir_train_select",
    "name_search",
    "near_dup_recall_report",
    "curate_corpus_dsir",
    "hybrid_topk_rrf",
    "semantic_decontaminate",
    "train_kn_lm",
    "kn_doc_scores",
    "decontamination_report",
    "hybrid_topk_weighted",
    "curriculum_shards",
    "source_diversity",
    "train_mkn_lm",
    "dsir_train_counts",
    "curriculum_pack",
    "train_kn3_lm",
    "kn3_doc_scores",
    "curate_corpus_dsir_counts",
    "train_mkn3_lm",
    "merge_upsert_delete",
    "train_mkn4_lm",
    "kn4_doc_scores",
]

# Rows-only-by-contract entries must sit OUTSIDE the window so every
# driver-recorded row carries a full row+schema+value-hash oracle.
ROWS_ONLY = {"multimodal_features", "audio_features", "pack_best_fit"}


def test_load_bearing_list_fits_in_window():
    # Static authoring-time guard: a 51st load-bearing name is a
    # contradiction (the driver attests only 50 slots) and must fail
    # HERE, not as a mysterious ordering failure below — this is the
    # overflow class that shipped round 10 with lsh_candidates at
    # slot 51.
    assert len(LOAD_BEARING) <= DRIVER_WINDOW, (
        f"{len(LOAD_BEARING)} load-bearing queries declared but the "
        f"driver window holds {DRIVER_WINDOW}; rotate something out"
    )


def test_load_bearing_queries_inside_driver_window():
    window = list(catalog.QUERIES)[:DRIVER_WINDOW]
    missing = [name for name in LOAD_BEARING if name not in window]
    assert not missing, (
        f"{missing} fell outside the driver's first-{DRIVER_WINDOW} "
        "correctness window; reorder catalog.QUERIES"
    )


def test_driver_window_is_fully_oracle_backed():
    window = list(catalog.QUERIES)[:DRIVER_WINDOW]
    oracles = catalog.oracle_sqls()
    unbacked = [name for name in window if name not in oracles]
    assert not unbacked, (
        f"{unbacked} sit inside the driver window without a DuckDB "
        "oracle; rows-only entries belong past slot "
        f"{DRIVER_WINDOW}"
    )


def test_every_query_has_oracle_or_declared_rows_only():
    oracles = catalog.oracle_sqls()
    rows_only = {name for name in catalog.QUERIES if name not in oracles}
    # Binary-payload queries are rows-only by declared contract; anything
    # else missing an oracle is an accidental gap.
    assert rows_only == ROWS_ONLY


def test_no_orphan_oracles():
    orphans = set(catalog.oracle_sqls()) - set(catalog.QUERIES)
    assert not orphans


def test_bench_board_covers_every_catalog_query():
    """Every catalog query appears in exactly one of bench.py's
    BENCH_QUERIES / BENCH_EXCLUDED — so a new catalog entry that
    skips the bench board is an explicit, reviewed decision, never a
    silent gap in the bench_compare regression gate."""
    import bench

    benched = set(bench.BENCH_QUERIES)
    excluded = set(bench.BENCH_EXCLUDED)
    allq = set(catalog.QUERIES)
    overlap = benched & excluded
    assert not overlap, f"queries both benched and excluded: {sorted(overlap)}"
    ghosts = (benched | excluded) - allq
    assert not ghosts, f"bench names not in the catalog: {sorted(ghosts)}"
    uncovered = allq - benched - excluded
    assert not uncovered, (
        f"catalog queries on neither bench list: {sorted(uncovered)}; "
        "add to BENCH_QUERIES or document in BENCH_EXCLUDED"
    )


def test_bench_lists_have_no_duplicates_and_tiers_are_subsets():
    """BENCH_QUERIES must be duplicate-free (a double-benched query
    skews the headline), and every flagship must be a benched name."""
    import bench

    q = bench.BENCH_QUERIES
    dups = sorted({x for x in q if q.count(x) > 1})
    assert not dups, f"duplicated in BENCH_QUERIES: {dups}"
    stray = sorted(set(bench.FLAGSHIPS) - set(q))
    assert not stray, f"flagships not benched: {stray}"
    assert q[: len(bench.FLAGSHIPS)] == bench.FLAGSHIPS


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_registry_contract_snapshot():
    """Pins the registry's driver-facing contract: the key order of
    QUERIES (the driver window), the builder behind every name, every
    oracle's SQL text and the benched set. Eleven oracles embed the
    absolute path of the package's committed parquet models, so that
    directory is replaced by a placeholder before hashing."""
    import bench

    pkg_dir = os.path.dirname(os.path.dirname(catalog.__file__))
    oracles = {
        name: sql.replace(pkg_dir, "<pkg>")
        for name, sql in catalog.oracle_sqls().items()
    }
    assert len(catalog.QUERIES) == 170
    assert len(oracles) == 167
    assert len(bench.BENCH_QUERIES) == 147
    assert len(bench.BENCH_EXCLUDED) == 23
    assert _sha("\n".join(catalog.QUERIES)) == QUERIES_ORDER_SHA
    assert _sha(
        "\n".join(
            f"{n}={f.__module__}.{f.__qualname__}"
            for n, f in catalog.QUERIES.items()
        )
    ) == QUERIES_BUILDERS_SHA
    assert _sha(json.dumps(sorted(oracles.items()))) == ORACLES_SHA
    assert _sha("\n".join(sorted(bench.BENCH_QUERIES))) == BENCHED_SHA
