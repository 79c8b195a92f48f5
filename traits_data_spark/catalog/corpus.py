"""Corpus flagships and slowly-changing state: corpus_report, SCD2 merge, snapshot diff, and the curate_corpus chain (with the shared CCNet LM scoring CTEs)."""

from __future__ import annotations

from traits_data_spark.catalog._shared import (
    BPE_CAP,
    BPE_VOCAB,
    CURATE_STOPS,
    DataFrame,
    F,
    SparkSession,
    WORD_LM_BIGRAM_PATH,
    WORD_LM_CONTEXT_PATH,
    _H28,
    _H60,
    _NORM,
    _SHINGLES,
    _t,
    bpe_effective_vocab,
    curate_corpus,
    gopher_rules,
    load_word_lm,
    normalized_text,
    portable_hash64,
    scd2_merge,
    snapshot_diff,
    widen_if_narrow,
)
from traits_data_spark.catalog.dedup import (
    BANDS,
    DECON_BENCH_SOURCE,
    DECON_N,
    NUM_HASHES,
    _minhash_sql_parts,
    _ngrams_sql,
)
from traits_data_spark.catalog.quality import (
    _gopher_keep_sql,
    _gopher_metrics_sql,
)

# ---------------------------------------------------------------------------
# Corpus-cleaning flagship (quality → langid → exact dedup → near-dup)
# ---------------------------------------------------------------------------


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet: docs, null texts, whitespace
    tokens, Gopher keep count, and docs participating in a
    corpus-wide exact-dup group — the one-pass report a data team
    reads before training. Pure composition: one scored projection,
    ONE groupBy(source), plus a map-side-combined dup-count aggregate
    joined back on the content hash (no row ever shuffles twice)."""
    docs = _t(spark, sf_dir, "documents")
    # persist: the regex-heavy scored projection feeds BOTH the
    # dup-count aggregate and the join side — without the barrier the
    # Gopher scoring and the corpus scan execute twice (the two
    # branches' exchanges are not reuse-identical). Only the four
    # columns the report reads are cached — not the document text.
    scored = (
        gopher_rules(
            docs.filter(F.col("text").isNotNull()),
            min_words=30,
            stops=CURATE_STOPS,
            emit_tokens="__tok",
        )
        .select(
            "source",
            "keep",
            "__tok",
            portable_hash64(normalized_text(F.col("text"))).alias("__ch"),
        )
        .persist()
    )
    dup_counts = scored.groupBy("__ch").agg(
        F.count(F.lit(1)).alias("__occ")
    )
    enriched = scored.join(dup_counts, "__ch")
    nulls = (
        docs.filter(F.col("text").isNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("null_texts"))
    )
    report = enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("keep").cast("long").alias("gopher_keep"),
        F.sum((F.col("__occ") > 1).cast("long")).alias("dup_docs"),
    )
    # full outer: a source whose documents are ALL null-text still
    # appears (n_docs 0, its null count) — the broken sources are the
    # ones a datasheet exists to surface
    return report.join(nulls, "source", "full_outer").select(
        "source",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("null_texts", F.lit(0)).cast("long").alias("null_texts"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("gopher_keep", F.lit(0)).cast("long").alias("gopher_keep"),
        F.coalesce("dup_docs", F.lit(0)).cast("long").alias("dup_docs"),
    )


def _corpus_report_sql() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, source, text,
    list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                x -> length(x) > 0) AS wl,
    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ll,
    {_H60.format(x=_NORM)} AS ch
  FROM documents WHERE text IS NOT NULL
),
m AS (
  SELECT doc_id, source, ch,
    {_gopher_metrics_sql(CURATE_STOPS)}
  FROM w
),
f AS (
  SELECT doc_id, source, ch, CAST(n_words AS BIGINT) AS tok,
    CASE WHEN {_gopher_keep_sql()} THEN 1 ELSE 0 END AS keep
  FROM m
),
occ AS (SELECT ch, COUNT(*) AS n_occ FROM f GROUP BY ch),
nulls AS (
  SELECT source, COUNT(*) AS null_texts FROM documents
  WHERE text IS NULL GROUP BY source
),
rep AS (
  SELECT f.source, COUNT(*) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS n_tokens,
         CAST(SUM(keep) AS BIGINT) AS gopher_keep,
         CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
  FROM f JOIN occ USING (ch)
  GROUP BY f.source
)
SELECT coalesce(rep.source, nulls.source) AS source,
       CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(null_texts, 0) AS BIGINT) AS null_texts,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(gopher_keep, 0) AS BIGINT) AS gopher_keep,
       CAST(coalesce(dup_docs, 0) AS BIGINT) AS dup_docs
FROM rep FULL OUTER JOIN nulls ON rep.source = nulls.source
"""


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension-history merge
    (``operators.incremental.scd2_merge``): customers with
    ``c_custkey % 5 != 0`` play the existing OPEN dimension slice
    (valid_from 0); an update batch of ``c_custkey % 4 == 0`` arrives
    at ts 1, with segment moved to 'MOVED' where ``c_custkey % 8 == 0``
    — exercising all three paths in one gate: brand-new keys
    (%5==0 ∧ %4==0), changed rows (closed + re-opened), and identical
    no-op rows. One key-shuffle join between the open slice and the
    delta; closed history never moves."""
    cust = _t(spark, sf_dir, "customer")
    current = cust.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(1).cast("int").alias("is_current"),
    )
    updates = cust.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 8 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
        F.lit(1).cast("long").alias("effective_ts"),
    )
    return scd2_merge(
        current, updates, ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    )


_SCD2_SQL = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(0 AS BIGINT) AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to,
         CAST(1 AS INTEGER) AS is_current
  FROM customer WHERE c_custkey % 5 != 0
),
up AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 8 = 0 THEN 'MOVED'
              ELSE c_mktsegment END AS u_seg,
         c_acctbal AS u_bal,
         CAST(1 AS BIGINT) AS u_ts
  FROM customer WHERE c_custkey % 4 = 0
),
j AS (
  SELECT coalesce(cur.c_custkey, up.c_custkey) AS c_custkey,
         cur.c_mktsegment, cur.c_acctbal, cur.valid_from, cur.valid_to,
         cur.is_current, up.u_seg, up.u_bal, up.u_ts
  FROM cur FULL OUTER JOIN up ON cur.c_custkey = up.c_custkey
),
flags AS (
  SELECT *,
         valid_from IS NOT NULL AS has_cur,
         u_ts IS NOT NULL AS has_upd,
         (c_mktsegment IS DISTINCT FROM u_seg)
           OR (c_acctbal IS DISTINCT FROM u_bal) AS changed
  FROM j
)
SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to, is_current
FROM flags WHERE has_cur AND (NOT has_upd OR NOT changed)
UNION ALL
SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, u_ts,
       CAST(0 AS INTEGER)
FROM flags WHERE has_cur AND has_upd AND changed
UNION ALL
SELECT c_custkey, u_seg, u_bal, u_ts, CAST(NULL AS BIGINT),
       CAST(1 AS INTEGER)
FROM flags WHERE has_upd AND (NOT has_cur OR changed)
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (``operators.incremental.snapshot_diff``):
    two synthetic snapshots of orders (key % 4 selects membership and
    a comment mutation) → per-key added / removed / changed."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % 4 != 0)
    new = o.filter(F.col("o_orderkey") % 4 != 1).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 4 == 2, F.lit("CHANGED")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 4 != 0
),
new AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey % 4 = 2 THEN 'CHANGED' ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 4 != 1
)
SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
              OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'changed'
       END AS status
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE CASE WHEN old.o_orderkey IS NULL THEN 'added'
           WHEN new.o_orderkey IS NULL THEN 'removed'
           WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
             OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'changed'
      END IS NOT NULL
"""


CURATE_WEIGHTS = {
    "src1": 400_000,
    "src2": 300_000,
    "src3": 200_000,
    "src4": 100_000,
}
CURATE_BUDGET = 4_000


def _near_dup_drop_sql(src: str, threshold: float) -> str:
    """CTE chain computing ``cnear`` — the id_b side of every
    Jaccard-verified LSH near-dup pair over ``src`` (a CTE exposing
    ``doc_id`` and normalized ``nt``). Mirrors minhash_lsh_candidates
    + jaccard_verify with the repo hash params; shared by the
    clean_corpus-style oracles."""
    _, mh = _minhash_sql_parts(NUM_HASHES)
    rows_per_band = NUM_HASHES // BANDS
    bsel = " UNION ALL ".join(
        "SELECT id, {b} AS band_idx, md5(concat_ws(',', {cols})) AS band_key FROM csig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}::VARCHAR"
                for r in range(rows_per_band)
            ),
        )
        for b in range(BANDS)
    )
    return f"""
csh AS (SELECT doc_id AS id, {_SHINGLES} AS s_arr FROM {src}),
chs AS (SELECT id, list_transform(s_arr, s -> {_H28}) AS hl
        FROM csh WHERE len(s_arr) > 0),
csig AS (SELECT id, {mh} FROM chs),
cbands AS ({bsel}),
ccand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM cbands a JOIN cbands b USING (band_idx, band_key)
  WHERE a.id < b.id
),
cshj AS (SELECT id AS jid, s_arr AS js FROM csh),
cnear AS (
  SELECT id_b FROM (
    SELECT id_a, id_b,
      round(len(list_intersect(a.js, b.js))::DOUBLE
            / len(list_distinct(list_cat(a.js, b.js)))::DOUBLE, 6) AS jaccard
    FROM ccand JOIN cshj a ON ccand.id_a = a.jid JOIN cshj b ON ccand.id_b = b.jid
  ) WHERE jaccard >= {threshold}
)"""


def _curate_call(
    spark: SparkSession,
    sf_dir: str,
    quality_pred_builder=None,
    **extra,
) -> DataFrame:
    """The ONE copy of the flagship curation invocation (src0 bench
    split + the shared stop/decon/weights/budget config); the bpe,
    ppl and trained variants differ only in the ``extra`` kwargs, so a
    change to the shared defaults lands in every catalog entrypoint.
    ``quality_pred_builder`` (trained variant): a callable receiving
    the bench-EXCLUDED ``(doc_id, text)`` corpus frame and returning
    the per-doc ``quality_scores`` frame — built HERE so the scorer's
    corpus can never diverge from the chain's corpus split."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == DECON_BENCH_SOURCE)
    corpus = docs.filter(F.col("source") != DECON_BENCH_SOURCE)
    if quality_pred_builder is not None:
        # deliberately NOT persisted: the round-13 A/B (two
        # independent fresh-session pairs, 4 reps, sf0.1) measured the
        # prediction-frame persist at 15.5-17.5 s vs 12.8-13.1 s
        # without — the classifier subtree already pins its one
        # corpus-sized frame (feats, inside _tqc_scores) and the
        # chain consumes the cheap scoring projection once, so an
        # extra cache boundary only adds materialization cost (the
        # inverse of the balanced_shards precedent, where THREE
        # consumers re-ran the distance fold). See BASELINE.md r13.
        # (doc_id, text, lang): the trained-classifier builder ignores
        # lang; the DSIR builder's target model needs it
        extra["quality_scores"] = quality_pred_builder(
            widen_if_narrow(corpus.select("doc_id", "text", "lang"))
        )
    return curate_corpus(
        corpus,
        bench,
        min_words=30,
        stops=CURATE_STOPS,
        decon_n=DECON_N,
        decon_min_overlap=1,
        weights_ppm=CURATE_WEIGHTS,
        **{"token_budget": CURATE_BUDGET, **extra},
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 curation flagship (``plans.curation.curate_corpus``):
    Gopher filter → exact dedup → decontamination vs the src0 slice →
    mixture-plan-driven deterministic sampling → sharded shuffle."""
    return _curate_call(spark, sf_dir)


# Subword-token budget for the BPE-budgeted curation variant: larger
# than CURATE_BUDGET because a subword count exceeds the whitespace
# count for the same text (~1.5-2.5x on English prose).
CURATE_BPE_BUDGET = 7_000


def _bpe_tok_ctes(words_cte: str) -> str:
    """Vocab relation + recursive greedy longest-match tokenizer CTEs
    (DuckDB), mirroring ``operators.text.bpe_piece_count`` exactly:
    ``wtok(w, t)`` is the subword piece count of every word in
    ``words_cte`` (a CTE exposing distinct lowercase words as ``w``).
    Requires ``WITH RECURSIVE`` on the enclosing query."""
    vals = ", ".join(f"('{p}')" for p in bpe_effective_vocab(BPE_VOCAB))
    return f"""vocab(piece) AS (SELECT * FROM (VALUES {vals}) v(piece)),
tok(w, pos, cnt, i) AS (
  SELECT w, 1, 0, 0 FROM {words_cte}
  UNION ALL
  SELECT w,
         pos + coalesce((SELECT max(length(piece)) FROM vocab
                         WHERE piece = substr(w, pos, length(piece))), 1),
         cnt + 1, i + 1
  FROM tok WHERE pos <= length(w) AND i < {BPE_CAP}
),
wtok AS (SELECT w, max_by(cnt + greatest(length(w) - pos + 1, 0), i) AS t
         FROM tok GROUP BY w)"""


# LM-perplexity ceiling for the curate_corpus_ppl variant: 3.43
# nats/token in micro-nats, chosen near the corpus median mean-NLL
# (sf0.01 range 3.30-3.73) so the filter demonstrably drops the
# worst-perplexity half rather than being a no-op.
CURATE_PPL_MAX_NLL_MICRO = 3_430_000


def _lm_chain(p: str, src: str) -> str:
    """The ONE copy of the exactness-critical LM scoring SQL chain
    (artifact lookups → tokenize → unk-map → lag context → lookup →
    per-doc integer sums → exact avg), name-prefixed with ``p`` so the
    standalone perplexity oracles (prefix '') and the curate filter
    stage (prefix 'lm') share it verbatim — a fix to the unk-mapping
    or rounding form lands in every oracle at once. ``src`` must be a
    CTE exposing ``(doc_id, wl)``; the chain ends at ``{p}a2`` with
    ``(doc_id, n_scored, sum_lp_micro, avg_lp_micro)``. Mirrors
    ``operators.perplexity.doc_lp_sums`` exactly."""
    return f"""{p}bi AS (SELECT u, w, lp_micro FROM read_parquet('{WORD_LM_BIGRAM_PATH}')),
{p}ctx AS (SELECT u, unseen_lp_micro FROM read_parquet('{WORD_LM_CONTEXT_PATH}')),
{p}tok AS (
  SELECT doc_id, i.pos, wl[i.pos] AS w0
  FROM {src} CROSS JOIN LATERAL
    (SELECT unnest(range(1, len(wl) + 1)) AS pos) i
),
{p}m AS (
  SELECT doc_id, pos,
         CASE WHEN w0 IN (SELECT u FROM {p}ctx) THEN w0
              ELSE '<unk>' END AS w
  FROM {p}tok
),
{p}p AS (
  SELECT doc_id, pos, w,
         coalesce(lag(w) OVER (PARTITION BY doc_id ORDER BY pos),
                  '<s>') AS u
  FROM {p}m
),
{p}s AS (
  SELECT {p}p.doc_id, coalesce({p}bi.lp_micro, {p}ctx.unseen_lp_micro) AS lp
  FROM {p}p LEFT JOIN {p}bi ON {p}bi.u = {p}p.u AND {p}bi.w = {p}p.w
            LEFT JOIN {p}ctx ON {p}ctx.u = {p}p.u
),
{p}agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
         CAST(sum(lp) AS BIGINT) AS sum_lp_micro
  FROM {p}s GROUP BY doc_id
),
{p}a2 AS (
  SELECT *,
         round(CAST(sum_lp_micro AS DOUBLE) / n_scored, 6) + 0.0
           AS avg_lp_micro
  FROM {p}agg
)"""


def _lm_filter_ctes(src_cte: str, out_cte: str) -> str:
    """CCNet-position LM filter over a CTE exposing (doc_id, nt, ...):
    keep docs whose mean log-prob clears -CURATE_PPL_MAX_NLL_MICRO.
    Shares the scoring chain with the perplexity oracles via
    ``_lm_chain`` (prefix 'lm')."""
    return f"""
lmw AS (
  SELECT doc_id,
         list_filter(string_split(nt, ' '), x -> length(x) > 0) AS wl
  FROM {src_cte}
),
{_lm_chain('lm', 'lmw')},
{out_cte} AS (
  SELECT {src_cte}.* FROM {src_cte} JOIN lma2 USING (doc_id)
  WHERE lma2.avg_lp_micro >= -{CURATE_PPL_MAX_NLL_MICRO}
)"""


def _curate_corpus_sql(
    bpe: bool = False,
    lm: bool = False,
    gq_ctes: str | None = None,
    force_recursive: bool = False,
) -> str:
    """``gq_ctes`` (round 12): caller-supplied override for the
    quality-stage CTE block — must define ``gq`` over ``g`` (the
    Gopher-kept set) and end WITHOUT a trailing comma. Used by the
    trained-classifier curate variant (``catalog.text``) to inject
    its prefixed prediction chain; mutually exclusive with ``lm``.
    ``force_recursive`` (round 13): emit ``WITH RECURSIVE`` even in
    the non-bpe chain — required when the injected ``gq_ctes`` carry
    recursive CTEs (the DSIR variant's fixed-point log2)."""
    if lm and gq_ctes:
        raise ValueError(
            "_curate_corpus_sql: lm and gq_ctes are mutually exclusive "
            "(lm would silently win and drop the injected stage)"
        )
    cases = " ".join(f"WHEN '{s}' THEN {w}" for s, w in CURATE_WEIGHTS.items())
    # The bpe variant budgets the mixture in subword tokens: tokenize
    # the DISTINCT lowercase words of the post-dedup/decon survivors
    # (the distinct-word shape the oracles use for bpe_token_counts),
    # sum per doc, and drive per/rates/kept off bpe_tokens.
    if bpe:
        budget_col, budget = "bpe_tokens", CURATE_BPE_BUDGET
        surv_cols = "doc_id, source, ws_tokens, nwl"
        bpe_ctes = f"""
swords AS (SELECT DISTINCT unnest(nwl) AS w FROM surv),
{_bpe_tok_ctes('swords')},
occ AS (SELECT doc_id, unnest(nwl) AS w FROM surv),
docbpe AS (SELECT doc_id, CAST(sum(t) AS BIGINT) AS bpe_tokens
           FROM occ JOIN wtok USING (w) GROUP BY doc_id),
survt AS (
  SELECT s.doc_id, s.source, s.ws_tokens,
         coalesce(db.bpe_tokens, CAST(0 AS BIGINT)) AS bpe_tokens
  FROM surv s LEFT JOIN docbpe db USING (doc_id)
),"""
        token_cols = "ws_tokens, bpe_tokens"
        recursive = "RECURSIVE "
    else:
        budget_col, budget = "ws_tokens", CURATE_BUDGET
        surv_cols = "doc_id, source, ws_tokens"
        bpe_ctes = "\nsurvt AS (SELECT * FROM surv),"
        token_cols = "ws_tokens"
        recursive = "RECURSIVE " if force_recursive else ""
    return rf"""
WITH {recursive}w AS (
  SELECT doc_id, source, text, {_NORM} AS nt,
    list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                x -> length(x) > 0) AS wl,
    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ll
  FROM documents WHERE text IS NOT NULL AND source <> '{DECON_BENCH_SOURCE}'
),
m AS (
  SELECT doc_id, source, nt, wl,
    {_gopher_metrics_sql(CURATE_STOPS)}
  FROM w
),
g AS (
  SELECT doc_id, source, nt, CAST(n_words AS BIGINT) AS ws_tokens
  FROM m
  WHERE {_gopher_keep_sql()}
),{(_lm_filter_ctes('g', 'gq') + ',') if lm else (gq_ctes + ',') if gq_ctes else '''
gq AS (SELECT * FROM g),'''}
keepers AS (SELECT MIN(doc_id) AS doc_id FROM gq GROUP BY {_H60.format(x='nt')}),
ded AS (SELECT gq.* FROM gq JOIN keepers USING (doc_id)),
{_near_dup_drop_sql('ded', 0.8)},
uniq AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT id_b FROM cnear)),
nw AS (SELECT doc_id, source, ws_tokens,
              list_filter(string_split(nt, ' '), t -> length(t) > 0) AS nwl
       FROM uniq),
cg AS (SELECT doc_id, unnest({_ngrams_sql(DECON_N).replace('wl', 'nwl')}) AS gram FROM nw),
bg AS (
  SELECT DISTINCT unnest({_ngrams_sql(DECON_N)}) AS gram
  FROM (SELECT list_filter(string_split({_NORM}, ' '), t -> length(t) > 0) AS wl
        FROM documents
        WHERE text IS NOT NULL AND source = '{DECON_BENCH_SOURCE}')
),
contaminated AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)),
surv AS (
  SELECT {surv_cols} FROM nw
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),{bpe_ctes}
per AS (
  SELECT source,
         CAST(SUM({budget_col}) AS BIGINT) AS n_tokens,
         CAST(CASE source {cases} ELSE 0 END AS BIGINT) AS weight_ppm
  FROM survt GROUP BY source
),
rates AS (
  SELECT source,
    least(CASE WHEN n_tokens > 0
               THEN (target_tokens // n_tokens) * 1000000
                    + ((target_tokens % n_tokens) * 1000000) // n_tokens
               ELSE CAST(0 AS BIGINT) END,
          CAST(1000000 AS BIGINT)) AS rate_ppm
  FROM (SELECT *,
          CAST({budget} AS BIGINT) * weight_ppm // 1000000 AS target_tokens
        FROM per)
),
kept AS (
  SELECT survt.* FROM survt JOIN rates USING (source)
  WHERE ({_H60.format(x="'mix' || CAST(doc_id AS VARCHAR)")} % 10000) * 100 < rate_ppm
)
SELECT doc_id, source, {token_cols},
       CAST(h % 32 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 32 ORDER BY h, doc_id) AS BIGINT) AS shard_pos
FROM (SELECT *, {_H60.format(x="'ep0' || CAST(doc_id AS VARCHAR)")} AS h FROM kept)
"""


def q_curate_corpus_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curate_corpus`` with the round-10 CCNet-position LM-perplexity
    hook ON (``lm=``, ``lm_max_nll_micro=``): docs whose mean NLL under
    the committed bigram LM exceeds 3.43 nats/token are dropped after
    the Gopher gate and before dedup — the full curation chain with the
    model-based quality stage a web-corpus pipeline actually runs. The
    threshold sits near the corpus median mean-NLL, so the stage
    verifiably halves the quality-kept set (not a no-op), and the
    DuckDB oracle replays the filter from the same LM artifacts with
    the same integer threshold."""
    return _curate_call(
        spark,
        sf_dir,
        lm=load_word_lm(spark),
        lm_max_nll_micro=CURATE_PPL_MAX_NLL_MICRO,
    )


def q_curate_corpus_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curate_corpus`` budgeting the mixture in SUBWORD tokens
    (greedy longest-match against the demo BPE vocab) instead of the
    whitespace-token proxy — the unit a context window is actually
    measured in. Same pipeline otherwise; output adds ``bpe_tokens``."""
    return _curate_call(
        spark,
        sf_dir,
        token_budget=CURATE_BPE_BUDGET,
        bpe_vocab=BPE_VOCAB,
        bpe_cap=BPE_CAP,
    )
