"""Tokenizer and text-model family: BPE/unigram apply + ON-CLUSTER trainers (BPE, bigram LM, unigram LM, ridge/quality classifier), LM perplexity, BM25, winnowing, quality features, language id, fingerprints."""

from __future__ import annotations

from traits_data_spark.catalog._shared import (
    BPE_CAP,
    BPE_MERGE_COUNTS_PATH,
    BPE_VOCAB_LARGE_PATH,
    DataFrame,
    F,
    LANG_MARKERS,
    SparkSession,
    UNIGRAM_COUNTS_PATH,
    UNIGRAM_MAX_WORD_LEN,
    UNIGRAM_TRAIN_EM_ITERS,
    UNIGRAM_TRAIN_MAX_PIECE_LEN,
    UNIGRAM_TRAIN_MAX_WORD_LEN,
    UNIGRAM_TRAIN_SEED_CAP,
    UNIGRAM_TRAIN_UNK_Q20,
    UNIGRAM_TRAIN_VOCAB_SIZE,
    _H60,
    _NORM,
    _docs_wide,
    _t,
    bm25_topk,
    bpe_merge_token_counts,
    bpe_token_counts,
    bpe_train,
    bpe_train_token_counts,
    char_entropy,
    classifier_score,
    clean_corpus,
    content_hash_index,
    dedup_lines,
    document_fingerprint,
    identify_language,
    incremental_exact_dedup,
    load_bpe_merges,
    load_bpe_vocab,
    load_unigram_vocab,
    load_word_lm,
    normalized_text,
    portable_hash64,
    quality_features,
    score_perplexity,
    score_perplexity_sampled,
    token_counts,
    train_bigram_lm,
    MKN4_Q,
    MKN4_Q_BITS,
    kn4_doc_scores,
    kn_doc_scores,
    train_kn_lm,
    unigram_token_counts,
    unigram_train,
    unigram_train_token_counts,
    widen_if_narrow,
    winnow_fingerprints,
    winnow_matches,
)
from traits_data_spark.functions.barrier import barrier
from traits_data_spark.catalog.dedup import (
    BANDS,
    DECON_BENCH_SOURCE,
    NUM_HASHES,
)
from traits_data_spark.catalog.corpus import (
    CURATE_PPL_MAX_NLL_MICRO,
    _bpe_tok_ctes,
    _curate_corpus_sql,
    _lm_chain,
    _near_dup_drop_sql,
)

def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token counting (``operators.text.bpe_token_counts``):
    greedy longest-match against a broadcast vocabulary — whitespace
    and subword counts side by side per document."""
    docs = _docs_wide(spark, sf_dir)
    return bpe_token_counts(token_counts(docs)).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


def _bpe_token_sql() -> str:
    return rf"""
WITH RECURSIVE
d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
words AS (SELECT DISTINCT unnest(wl) AS w FROM d),
{_bpe_tok_ctes('words')},
occ AS (SELECT doc_id, unnest(wl) AS w FROM d),
bpe AS (SELECT doc_id, CAST(sum(t) AS BIGINT) AS bpe_tokens
        FROM occ JOIN wtok USING (w) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(d.wl) AS BIGINT) AS ws_tokens,
       coalesce(b.bpe_tokens, CAST(0 AS BIGINT)) AS bpe_tokens
FROM d LEFT JOIN bpe b USING (doc_id)
"""


def q_bpe_token_counts_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token counting against the PRODUCTION-scale piece table
    (``operators.text.bpe_token_counts`` past its inline threshold):
    the 12k-piece parquet vocab artifact is broadcast as
    length-bucketed hash sets and each DISTINCT word is tokenized once
    by an Arrow-batched pandas UDF — the shape a real model tokenizer
    takes at 100 TB, vs the plan-literal CASE ladder the demo vocab
    of ``q_bpe_token_counts`` stays on. The DuckDB
    oracle recomputes every count from the same parquet artifact with
    a length-bucketed candidate join + recursive greedy advance, so
    the Python tokenizer is hash-checked end to end."""
    docs = _docs_wide(spark, sf_dir)
    vocab = load_bpe_vocab(spark)
    return bpe_token_counts(token_counts(docs), vocab=vocab).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


def _bpe_token_large_sql() -> str:
    # derive the max piece length from the artifact itself so a vocab
    # rebuilt with a different MAX_LEN can never desync the oracle
    # from the Spark tokenizer (which probes every length present)
    return rf"""
WITH RECURSIVE
vocab AS (
  SELECT DISTINCT piece FROM read_parquet('{BPE_VOCAB_LARGE_PATH}')
  WHERE length(piece) >= 2
),
vlen AS (SELECT max(length(piece)) AS max_len FROM vocab),
d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
words AS (SELECT DISTINCT unnest(wl) AS w FROM d),
wpos AS (SELECT w, unnest(range(1, length(w) + 1)) AS p FROM words),
cand AS (
  SELECT wp.w, wp.p, max(l.len) AS mlen
  FROM wpos wp
  CROSS JOIN (SELECT unnest(range(2, (SELECT max_len FROM vlen) + 1)) AS len) l
  JOIN vocab v
    ON length(v.piece) = l.len AND v.piece = substr(wp.w, wp.p, l.len)
  GROUP BY wp.w, wp.p
),
adv AS (
  SELECT wp.w, wp.p, coalesce(c.mlen, 1) AS step
  FROM wpos wp LEFT JOIN cand c ON c.w = wp.w AND c.p = wp.p
),
tok(w, pos, cnt, i) AS (
  SELECT w, 1, 0, 0 FROM words
  UNION ALL
  SELECT t.w, t.pos + a.step, t.cnt + 1, t.i + 1
  FROM tok t JOIN adv a ON a.w = t.w AND a.p = t.pos
  WHERE t.pos <= length(t.w) AND t.i < {BPE_CAP}
),
wtok AS (SELECT w, max_by(cnt + greatest(length(w) - pos + 1, 0), i) AS t
         FROM tok GROUP BY w),
occ AS (SELECT doc_id, unnest(wl) AS w FROM d),
bpe AS (SELECT doc_id, CAST(sum(t) AS BIGINT) AS bpe_tokens
        FROM occ JOIN wtok USING (w) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(d.wl) AS BIGINT) AS ws_tokens,
       coalesce(b.bpe_tokens, CAST(0 AS BIGINT)) AS bpe_tokens
FROM d LEFT JOIN bpe b USING (doc_id)
"""


def q_bpe_merge_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-BPE (merge-rank) token counting
    (``operators.text.bpe_merge_token_counts``): merges applied in
    training-rank order against the committed 12k-row ranked-merge
    artifact (``data/bpe_merges.parquet``, built by
    ``tools/build_bpe_merges.py``), closing the round-9 gap where the
    greedy longest-match path (kept as the WordPiece variant,
    ``bpe_token_counts*``) could diverge from a real model tokenizer's
    counts. Same scale shape as the WordPiece path: broadcast rank
    dict, one Arrow-batched tokenization per DISTINCT word, word-keyed
    join back, per-doc sum. The DuckDB oracle joins the per-word
    counts PRECOMPUTED by the independent naive reference tokenizer in
    tools/build_bpe_merges.py (one merge occurrence at a time, full
    rescan per step) — parity between the two implementations is
    hypothesis-tested in tests/test_text.py."""
    docs = _docs_wide(spark, sf_dir)
    merges = load_bpe_merges(spark)
    return bpe_merge_token_counts(token_counts(docs), merges).select(
        "doc_id", "ws_tokens", "bpe_merge_tokens"
    )


def q_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) token counting
    (``operators.text.unigram_token_counts``): Viterbi segmentation
    maximizing ``(Σ logp_micro, -n_pieces)`` against the committed
    2000-piece artifact (``data/unigram_vocab.parquet``, substring-
    seeded + EM-refined by ``tools/build_unigram_vocab.py``; integer
    micro-nat log-probs, so no ``ln`` runs in-plan) — the third
    tokenizer family next to greedy longest-match (WordPiece) and
    merge-rank BPE, same distinct-word execution shape. The DuckDB
    oracle joins per-word counts PRECOMPUTED by the independent
    recursive reference in tools/build_unigram_vocab.py; the iterative
    engine DP is parity-tested against it in tests/test_text.py."""
    docs = _docs_wide(spark, sf_dir)
    vocab = load_unigram_vocab(spark)
    return unigram_token_counts(token_counts(docs), vocab).select(
        "doc_id", "ws_tokens", "unigram_tokens", "nll_micro"
    )


_UNIGRAM_TOKEN_SQL = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
exp AS (SELECT word, n_tokens, nll_micro
        FROM read_parquet('{UNIGRAM_COUNTS_PATH}')),
occ AS (SELECT doc_id, unnest(wl) AS w FROM d),
uni AS (
  SELECT occ.doc_id,
         CASE WHEN bool_and(e.word IS NOT NULL)
              THEN CAST(sum(e.n_tokens) AS BIGINT) END AS unigram_tokens,
         CASE WHEN bool_and(e.word IS NOT NULL)
              THEN CAST(sum(e.nll_micro) AS BIGINT) END AS nll_micro
  FROM occ LEFT JOIN exp e ON e.word = occ.w
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(len(d.wl) AS BIGINT) AS ws_tokens,
       coalesce(u.unigram_tokens, CAST(0 AS BIGINT)) AS unigram_tokens,
       coalesce(u.nll_micro, CAST(0 AS BIGINT)) AS nll_micro
FROM d LEFT JOIN uni u USING (doc_id)
"""


# A word missing from the expected-counts artifact must surface as a
# LOUD mismatch (NULL count for its docs), never a silently-skipped
# NULL inside sum() — hence the bool_and guard.
_BPE_MERGE_TOKEN_SQL = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
exp AS (SELECT word, n_tokens FROM read_parquet('{BPE_MERGE_COUNTS_PATH}')),
occ AS (SELECT doc_id, unnest(wl) AS w FROM d),
bpe AS (
  SELECT occ.doc_id,
         CASE WHEN bool_and(e.word IS NOT NULL)
              THEN CAST(sum(e.n_tokens) AS BIGINT) END AS bpe_merge_tokens
  FROM occ LEFT JOIN exp e ON e.word = occ.w
  GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(len(d.wl) AS BIGINT) AS ws_tokens,
       coalesce(b.bpe_merge_tokens, CAST(0 AS BIGINT)) AS bpe_merge_tokens
FROM d LEFT JOIN bpe b USING (doc_id)
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality scoring
    (``operators.perplexity.score_perplexity``): every document scored
    under the committed Laplace-smoothed word-bigram LM
    (``data/word_lm*.parquet``, trained on the ``doc_id % 10 == 0``
    held-out slice by ``tools/build_word_lm.py``) and bucketed into
    perplexity deciles — the missing model-based stratifier next to
    ``gopher_rules``/``quality_classifier``. All transcendental math
    lives in the artifact (integer micro-nat log-probs); the plan does
    integer sums + one IEEE-exact division + integer DIV bucketing, so
    the DuckDB oracle recomputes every value from the same parquet
    artifacts bit-for-bit."""
    docs = _docs_wide(spark, sf_dir)
    bigram, context = load_word_lm(spark)
    return score_perplexity(docs, bigram, context).select(
        "doc_id", "n_scored", "sum_lp_micro", "avg_lp_micro", "ppl_bucket"
    )


# shared LM scoring chain for the standalone perplexity oracles
# (prefix '' — reads the whole documents table); the curate filter
# stage reuses the same chain via _lm_filter_ctes (prefix 'lm')
_LM_SCORE_CTES = f"""d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents
),
{_lm_chain('', 'd')}"""

_LM_PERPLEXITY_SQL = f"""
WITH {_LM_SCORE_CTES},
r AS (
  SELECT *,
         row_number() OVER (ORDER BY avg_lp_micro, doc_id) - 1 AS rn0,
         count(*) OVER () AS cnt
  FROM a2
),
b AS (
  SELECT doc_id, n_scored, sum_lp_micro, avg_lp_micro,
         CAST((rn0 * 10) // cnt AS BIGINT) AS ppl_bucket
  FROM r
)
SELECT d.doc_id,
       CAST(coalesce(b.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(b.sum_lp_micro, 0) AS BIGINT) AS sum_lp_micro,
       b.avg_lp_micro,
       b.ppl_bucket
FROM d LEFT JOIN b USING (doc_id)
"""

LM_SAMPLED_RATE_BP = 2_000  # 20% deterministic hash sample for cuts
LM_SAMPLED_BUCKETS = 10

_LM_PERPLEXITY_SAMPLED_SQL = f"""
WITH {_LM_SCORE_CTES},
samp AS (
  SELECT avg_lp_micro, doc_id FROM a2
  WHERE {_H60.format(x="CAST(doc_id AS VARCHAR)")} % 10000
        < {LM_SAMPLED_RATE_BP}
),
rk AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY avg_lp_micro, doc_id)
              AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM samp
),
-- one cut row per DISTINCT selected rank (two q hitting the same rank
-- must not duplicate the cut: the Spark side matches each sample row
-- at most once via array_contains)
cuts AS (
  SELECT avg_lp_micro AS cut FROM (
    SELECT DISTINCT rk.rn, rk.avg_lp_micro
    FROM rk CROSS JOIN
      (SELECT unnest(range(1, {LM_SAMPLED_BUCKETS})) AS q) qs
    WHERE rk.rn = (qs.q * (rk.n - 1)) // {LM_SAMPLED_BUCKETS} + 1
  )
),
b AS (
  SELECT a2.doc_id, a2.n_scored, a2.sum_lp_micro, a2.avg_lp_micro,
         CAST((SELECT count(*) FROM cuts
               WHERE cuts.cut <= a2.avg_lp_micro) AS BIGINT)
           AS ppl_bucket_sampled
  FROM a2
)
SELECT d.doc_id,
       CAST(coalesce(b.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(coalesce(b.sum_lp_micro, 0) AS BIGINT) AS sum_lp_micro,
       b.avg_lp_micro,
       b.ppl_bucket_sampled
FROM d LEFT JOIN b USING (doc_id)
"""


def q_lm_perplexity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_perplexity`` with the SCALE-SAFE bucket path
    (``operators.perplexity.score_perplexity_sampled``): decile cut
    values come from a 20% deterministic hash sample ranked in one
    small window, broadcast as a single array row, and every document
    buckets by comparison — no corpus-wide total order anywhere (the
    ``sampled_quantiles`` discipline applied to the CCNet stratifier).
    Discrete selection + integer rank arithmetic + exact double
    compares, so the oracle replays every bucket bit-for-bit."""
    docs = _docs_wide(spark, sf_dir)
    bigram, context = load_word_lm(spark)
    return score_perplexity_sampled(
        docs,
        bigram,
        context,
        n_buckets=LM_SAMPLED_BUCKETS,
        rate_bp=LM_SAMPLED_RATE_BP,
    ).select(
        "doc_id",
        "n_scored",
        "sum_lp_micro",
        "avg_lp_micro",
        "ppl_bucket_sampled",
    )


BPE_TRAIN_MERGES = 8
BPE_TRAIN_MAX_WORD_LEN = 32


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-merge LEARNING over the documents corpus
    (``operators.text.bpe_train``): the top-8 most-frequent adjacent
    symbol pairs, learned by 8 occurrence-weighted merge iterations on
    the distinct-word table — training the tokenizer ON the corpus
    being curated (Sennrich et al. ACL'16), where every other
    tokenizer entry here only APPLIES a pre-trained artifact. The
    oracle unrolls the same 8 iterations as a CTE chain (pair counts →
    lexicographic-tie-broken argmax → literal spaced-symbol replace),
    so ranks, pairs, and counts are integer/string-exact."""
    docs = _t(spark, sf_dir, "documents")
    return bpe_train(
        docs, n_merges=BPE_TRAIN_MERGES, max_word_len=BPE_TRAIN_MAX_WORD_LEN
    )


def _bpe_merge_chain_ctes(
    n_merges: int,
    max_word_len: int,
    carry_word: bool,
    apply_last: bool,
) -> str:
    """Shared unrolled merge-learning chain (``w0..w{n}``, ``p{s}``,
    ``b{s}``) used by BOTH bpe oracles, so a semantics fix can never
    apply to one and not the other. The merge application LEFT JOINs
    the ≤1-row ``b{step}`` ON TRUE and keeps the state UNCHANGED when
    it is empty (vocabulary collapsed before ``n_merges``) — matching
    the Spark loop's ``break``; an unconditional CROSS JOIN would
    empty the whole word-state chain instead (round-11 review
    finding, confirmed by execution on a two-word corpus).
    ``carry_word`` keeps the word through the chain (the tokens oracle
    joins back on it); ``apply_last`` emits the final ``w{n_merges}``
    state (needed only when the states are consumed downstream)."""
    w_sel = "w, " if carry_word else ""

    def pair_and_best(step: int) -> str:
        return f"""
p{step} AS (
  SELECT pr['l'] AS l, pr['r'] AS r, SUM(c) AS cnt FROM (
    SELECT unnest([{{'l': arr[k], 'r': arr[k+1]}}
                   for k in range(1, len(arr))]) AS pr, c
    FROM (SELECT string_split(trim(sym), ' ') AS arr, c FROM w{step})
  ) GROUP BY 1, 2
),
b{step} AS (SELECT l, r, cnt FROM p{step} ORDER BY cnt DESC, l, r LIMIT 1)"""

    def apply_merge(step: int) -> str:
        return f"""
w{step + 1} AS (
  SELECT {w_sel}
         CASE WHEN b.l IS NULL THEN sym
              ELSE list_reduce(
                     list_prepend('', string_split(trim(sym), ' ')),
                     (acc, x) -> CASE WHEN ends_with(acc, ' ' || b.l)
                                       AND x = b.r
                                      THEN acc || x
                                      ELSE acc || ' ' || x END) || ' '
         END AS sym, c
  FROM w{step} LEFT JOIN b{step} b ON TRUE
)"""

    parts = [
        f"""WITH d0 AS (
  SELECT doc_id, {_NORM} AS nt
  FROM documents
),
wds AS (
  SELECT unnest(list_filter(string_split(nt, ' '),
                x -> length(x) > 0 AND length(x) <= {max_word_len})) AS w
  FROM d0 WHERE nt IS NOT NULL
),
w0 AS (
  SELECT {w_sel}' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym,
         COUNT(*) AS c
  FROM wds GROUP BY w
)"""
    ]
    for step in range(n_merges):
        parts.append(pair_and_best(step))
        if step < n_merges - 1 or apply_last:
            parts.append(apply_merge(step))
    return ",".join(parts)


def _bpe_train_sql(
    n_merges: int = BPE_TRAIN_MERGES,
    max_word_len: int = BPE_TRAIN_MAX_WORD_LEN,
) -> str:
    finals = "\nUNION ALL ".join(
        f"""SELECT CAST({s + 1} AS BIGINT) AS rank, l AS "left",
       r AS "right", CAST(cnt AS BIGINT) AS pair_count FROM b{s}"""
        for s in range(n_merges)
    )
    return (
        _bpe_merge_chain_ctes(
            n_merges, max_word_len, carry_word=False, apply_last=False
        )
        + "\n"
        + finals
    )


def q_bpe_train_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE on the documents corpus, then tokenize that same
    corpus with the merges just learned
    (``operators.text.bpe_train_token_counts``) — the end-to-end
    on-cluster tokenizer chain (train → apply in one plan; the final
    training word-states ARE the tokenization, joined back broadcast).
    Per-document learned-BPE token counts; over-length words fall back
    to chars; empty docs keep a 0 row. The oracle replays the 8
    unrolled merge iterations carrying the word through, then
    re-tokenizes the corpus from the final state table."""
    docs = _t(spark, sf_dir, "documents")
    return bpe_train_token_counts(
        docs, n_merges=BPE_TRAIN_MERGES, max_word_len=BPE_TRAIN_MAX_WORD_LEN
    )


def _bpe_train_tokens_sql(
    n_merges: int = BPE_TRAIN_MERGES,
    max_word_len: int = BPE_TRAIN_MAX_WORD_LEN,
) -> str:
    return (
        _bpe_merge_chain_ctes(
            n_merges, max_word_len, carry_word=True, apply_last=True
        )
        + f""",
ntok AS (
  SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS nt
  FROM w{n_merges}
),
dw AS (
  SELECT doc_id, unnest(list_filter(string_split(nt, ' '),
                x -> length(x) > 0)) AS w
  FROM d0 WHERE nt IS NOT NULL
),
sums AS (
  SELECT dw.doc_id,
         SUM(CASE WHEN t.nt IS NOT NULL THEN t.nt
                  ELSE length(dw.w) END) AS s
  FROM dw LEFT JOIN ntok t USING (w) GROUP BY dw.doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.s, 0) AS BIGINT) AS bpe_trained_tokens
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN sums s USING (doc_id)"""
    )


RIDGE_BUCKETS = 6


def q_ridge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ridge-regression sufficient statistics
    (``operators.regression.ridge_stats``) for a linear quality scorer
    trained ON-CLUSTER: features are hashed bag-of-words counts
    (portable 60-bit hash into 6 buckets — the fastText hashing-trick
    featurizer) plus an intercept, label is the document word count.
    Output is the exact integer-micro X^T X upper triangle, X^T y and
    row count — everything the driver-side closed-form solve needs;
    ``ridge_solve`` recovers near-unit weights on this construction
    (label = sum of the bucket features), pinned in tests. All
    products are integral here so quantization is exact on both
    engines."""
    docs = _t(spark, sf_dir, "documents")
    from traits_data_spark.functions.scalars import portable_hash64
    from traits_data_spark.operators.dedup import normalized_text
    from traits_data_spark.operators.regression import ridge_stats

    nt = normalized_text(F.col("text"))
    wlist = F.filter(F.split(nt, " "), lambda x: F.length(x) > 0)
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), F.explode(wlist).alias("w"))
        .withColumn(
            "bkt", F.pmod(portable_hash64(F.col("w")), F.lit(RIDGE_BUCKETS))
        )
    )
    feats = words.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("bkt") == b, 1).otherwise(0))
            .cast("double")
            .alias(f"c{b}")
            for b in range(RIDGE_BUCKETS)
        ],
        F.count(F.lit(1)).cast("double").alias("n_words"),
    )
    return ridge_stats(
        feats, [f"c{b}" for b in range(RIDGE_BUCKETS)], "n_words"
    )


def _ridge_stats_sql(k_feats: int = RIDGE_BUCKETS) -> str:
    h = _H60.format(x="w")
    k = k_feats + 1  # + intercept
    feat = ", ".join(
        f"SUM(CASE WHEN bkt = {b} THEN 1 ELSE 0 END)::DOUBLE AS f{b + 1}"
        for b in range(k_feats)
    )
    fexpr = ["1.0::DOUBLE"] + [f"f{i}" for i in range(1, k)]
    aggs, finals = [], []
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                f"SUM(CAST(ROUND({fexpr[i]} * {fexpr[j]} * 1000000.0) "
                f"AS BIGINT)) AS xx_{i}_{j}"
            )
            finals.append(
                f"SELECT 'xtx' AS kind, {i} AS i, {j} AS j, "
                f"CAST(xx_{i}_{j} AS BIGINT) AS s_micro FROM agg"
            )
    for i in range(k):
        aggs.append(
            f"SUM(CAST(ROUND({fexpr[i]} * y * 1000000.0) AS BIGINT)) "
            f"AS xy_{i}"
        )
        finals.append(
            f"SELECT 'xty', {i}, 0, CAST(xy_{i} AS BIGINT) FROM agg"
        )
    aggs.append("COUNT(*)::BIGINT AS n_rows")
    finals.append("SELECT 'n', 0, 0, n_rows FROM agg")
    return f"""
WITH d AS (
  SELECT doc_id, {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
w AS (
  SELECT doc_id, unnest(list_filter(string_split(nt, ' '),
                                    x -> length(x) > 0)) AS w
  FROM d
),
b AS (SELECT doc_id, {h} % {k_feats} AS bkt FROM w),
f AS (
  SELECT doc_id, {feat}, COUNT(*)::DOUBLE AS y
  FROM b GROUP BY doc_id
),
agg AS (SELECT {", ".join(aggs)} FROM f)
{" UNION ALL ".join(finals)}"""


TQC_FEATURES = ("n_words_f", "n_punct_f", "n_stop_f")
TQC_LAM = 1.0


def _tqc_features(docs: DataFrame) -> DataFrame:
    """Integer surface features for the trained quality scorer —
    word / punctuation / stopword COUNTS (not ratios: the exact-LONG
    scoring contract of ``train_linear_scorer`` wants integer
    features), NULL text → all-zero row. Same regex classes and
    normalized stopword match as ``quality_features``."""
    from traits_data_spark.operators.text import (
        _STOPWORDS_EN,
        NONSPACE,
        PUNCT_CLASS,
        _count_matches,
    )
    from traits_data_spark.operators.dedup import normalized_text

    t = F.col("text")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS_EN])
    n_stop = F.size(
        F.filter(
            F.split(normalized_text(t), " "),
            lambda w: F.array_contains(stop_arr, w),
        )
    )
    return docs.select(
        "doc_id",
        F.coalesce(_count_matches(t, NONSPACE), F.lit(0))
        .cast("long")
        .alias("n_words_f"),
        F.coalesce(_count_matches(t, PUNCT_CLASS), F.lit(0))
        .cast("long")
        .alias("n_punct_f"),
        F.coalesce(n_stop, F.lit(0)).cast("long").alias("n_stop_f"),
    )


def q_train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED quality-classifier training loop on ``ridge_stats``
    (``operators.regression.train_linear_scorer``): distill the
    expensive CCNet LM-perplexity signal (``lm_perplexity``'s
    ``avg_lp_micro``, computed here only on the labeled slice) into a
    cheap linear surface-feature model — label the deterministic 20%
    id-slice (``doc_id % 5 == 1``, disjoint from the LM artifact's own
    ``% 10 == 0`` training split), fit ridge via the one-pass exact
    sufficient statistics, solve the 4×4 normal equations IN-PLAN with
    the engine-portable fixed-order Cramer expansion
    (``leibniz_det_sql`` — both engines evaluate the IDENTICAL
    arithmetic string, so the double weights are bit-identical),
    quantize to micro-units, and score EVERY document with exact
    BIGINT arithmetic. This is the fastText-style distillation step a
    curation pipeline runs so the full corpus never pays the LM pass
    (CCNet, Wenzek et al. 2020). Output: ``(doc_id, is_train,
    pred_lp_pico)`` — the learned predicted avg log-prob in
    PICO-nats: the label is ``avg_lp_micro`` (micro-nats) and the
    micro-quantized weights scale predictions by another 1e6, so
    compare against micro-nat thresholds × 1e6 (see
    ``curate_corpus_trained``). Hash-exact against the oracle's
    replay of features, LM labels, statistics, Cramer solve, and
    scoring."""
    return _tqc_scores(spark, _docs_wide(spark, sf_dir))


def _tqc_scores(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The trained-quality-classifier pipeline over an arbitrary
    ``(doc_id, text)`` frame — shared by the standalone catalog entry
    and the trained curate variant (which scores the
    benchmark-excluded corpus slice)."""
    from traits_data_spark.operators.regression import train_linear_scorer

    bigram, context = load_word_lm(spark)
    # the expensive LM label runs ONLY on the 20% train slice (that is
    # the distillation economics); the slice-restricted left join is
    # exactly equivalent for the fit, which drops NULL labels anyway
    lab = score_perplexity(
        docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == F.lit(1)),
        bigram,
        context,
    ).select("doc_id", "avg_lp_micro")
    # one narrow (id, 3 ints, label) frame feeds both the stats pass
    # and the scoring pass — persist it so the corpus scans once
    feats = _tqc_features(docs).join(lab, "doc_id", "left").persist()
    return train_linear_scorer(
        feats,
        list(TQC_FEATURES),
        "avg_lp_micro",
        lam=TQC_LAM,
        pred_col="pred_lp_pico",
    )


def _tqc_pred_ctes(where_extra: str = "", lam: float = TQC_LAM) -> str:
    """The trained-quality-classifier chain as prefixed CTEs (``qd``,
    ``qfeats``, ``qlsrc``, ``tqc*`` LM labels, ``qtr``, ``qagg``,
    ``qw``) ending in ``tqcpred(doc_id, is_train, pred_lp_pico)`` —
    composable into other oracles (the trained curate variant injects
    it into the curation chain, whose own first CTE is named ``w``;
    the prefixes avoid the collision). ``where_extra`` restricts the
    source documents (e.g. the curation chain's benchmark-source
    exclusion)."""
    from traits_data_spark.operators.regression import (
        MICRO,
        cramer_weight_sql,
    )
    from traits_data_spark.operators.text import _STOPWORDS_EN

    stops = ", ".join(f"'{s}'" for s in _STOPWORDS_EN)
    k = 4  # intercept + 3 surface features
    fexpr = ["1.0::DOUBLE", "x1::DOUBLE", "x2::DOUBLE", "x3::DOUBLE"]
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                f"SUM(CAST(ROUND({fexpr[i]} * {fexpr[j]} * 1000000.0) "
                f"AS BIGINT)) AS xx_{i}_{j}"
            )
    for i in range(k):
        aggs.append(
            f"SUM(CAST(ROUND({fexpr[i]} * y * 1000000.0) AS BIGINT)) "
            f"AS xy_{i}"
        )
    aggs.append("COUNT(*)::BIGINT AS n_rows")
    wsel = ", ".join(
        f"CAST(ROUND(({w}) * CAST({float(MICRO)!r} AS DOUBLE)) AS BIGINT)"
        f" AS w_{i}_micro"
        for i, w in enumerate(cramer_weight_sql(k, lam=lam))
    )
    return f"""qd AS (SELECT doc_id, text, {_NORM} AS nt
       FROM documents{where_extra}),
qfeats AS (
  SELECT doc_id,
         CAST(COALESCE(len(regexp_extract_all(text, '\\S+')), 0)
              AS BIGINT) AS x1,
         CAST(COALESCE(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')),
              0) AS BIGINT) AS x2,
         CAST(COALESCE(len(list_filter(string_split(nt, ' '),
              w -> list_contains([{stops}], w))), 0) AS BIGINT) AS x3
  FROM qd
),
qlsrc AS (
  SELECT doc_id,
         list_filter(string_split(nt, ' '), x -> length(x) > 0) AS wl
  FROM qd WHERE ((doc_id % 5) + 5) % 5 = 1
),
{_lm_chain('tqc', 'qlsrc')},
qtr AS (
  SELECT f.x1, f.x2, f.x3, l.avg_lp_micro AS y
  FROM qfeats f JOIN tqca2 l USING (doc_id)
  WHERE ((f.doc_id % 5) + 5) % 5 = 1 AND l.avg_lp_micro IS NOT NULL
),
qagg AS (SELECT {", ".join(aggs)} FROM qtr),
qw AS (SELECT {wsel} FROM qagg),
tqcpred AS (
  SELECT f.doc_id,
         CAST(CASE WHEN ((f.doc_id % 5) + 5) % 5 = 1 THEN 1 ELSE 0 END
              AS INT)
           AS is_train,
         CAST(w_0_micro + w_1_micro * x1 + w_2_micro * x2
              + w_3_micro * x3 AS BIGINT) AS pred_lp_pico
  FROM qfeats f CROSS JOIN qw
)"""


def _train_quality_classifier_sql(lam: float = TQC_LAM) -> str:
    return (
        "\nWITH "
        + _tqc_pred_ctes(lam=lam)
        + "\nSELECT doc_id, is_train, pred_lp_pico FROM tqcpred"
    )


# keep docs whose PREDICTED avg log-prob clears the same 3.43
# nats/token ceiling the exact-LM curate variant uses — in pico-nats,
# since train_linear_scorer's micro-quantized weights scale the
# micro-nat label by another 1e6
CURATE_TQC_MIN_PRED_PICO = -CURATE_PPL_MAX_NLL_MICRO * 1_000_000


def q_curate_corpus_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curate_corpus`` with the TRAINED quality stage ON (round 12):
    where ``curate_corpus_ppl`` pays the exact LM pass over every
    quality-kept doc, this variant runs the LM only on the 20%
    training slice, distills it into the linear surface-feature scorer
    (``train_quality_classifier``'s pipeline over the
    benchmark-excluded corpus), and gates the chain on the PREDICTED
    avg log-prob at the same CCNet stage position and the same 3.43
    nats/token ceiling (pico-nat scaled) — the full
    train-then-deploy curation economics in one plan. The oracle
    injects the prefixed classifier-prediction chain into the curation
    replay's quality stage.

    Honesty note on the SYNTHETIC corpus: the per-token LM label here
    is bigram-draw noise with almost no linearly-learnable structure
    (measured round 12: a FULL unigram-share regression caps at corr
    0.36 / 62% gate agreement, surface features lower), so this entry
    attests the train→solve→score→gate MECHANICS hash-exactly, not
    distillation quality — that is a data property; see
    ``test_curate_trained_gate_mechanics_and_size``."""
    from traits_data_spark.catalog.corpus import _curate_call

    return _curate_call(
        spark,
        sf_dir,
        # the scorer trains/scores on the SAME bench-excluded corpus
        # frame the chain consumes — _curate_call builds the split
        # once and hands it to the builder
        quality_pred_builder=lambda corpus: _tqc_scores(
            spark, corpus
        ).select("doc_id", "pred_lp_pico"),
        quality_min=CURATE_TQC_MIN_PRED_PICO,
    )


def _curate_corpus_trained_sql() -> str:
    gq = (
        _tqc_pred_ctes(
            where_extra=f" WHERE source <> '{DECON_BENCH_SOURCE}'"
        )
        + f""",
gq AS (
  SELECT g.* FROM g JOIN tqcpred USING (doc_id)
  WHERE tqcpred.pred_lp_pico >= {CURATE_TQC_MIN_PRED_PICO}
)"""
    )
    return _curate_corpus_sql(gq_ctes=gq)


def q_train_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed word-bigram LM TRAINING over the documents corpus
    (``operators.text.train_bigram_lm``): the Laplace-smoothed model
    the CCNet-style perplexity filter consumes, computed on-cluster —
    one row per seen bigram with its counts and the smoothed
    ``round((n_uw+1)/(n_u+V), 9)`` probability (single IEEE division —
    cross-engine exact; the ``ln`` stays in the offline artifact step
    per the repo's no-in-plan-transcendentals rule). Where
    ``lm_perplexity`` APPLIES ``tools/build_word_lm.py``'s committed
    artifact, this trains the same model shape from scratch at corpus
    scale: one bigram shuffle, context totals derived from the bounded
    bigram table, V as a one-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    return train_bigram_lm(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)


_TRAIN_BIGRAM_LM_SQL = f"""
WITH d AS (
  SELECT {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT list_prepend('<s>', list_filter(string_split(nt, ' '),
             x -> length(x) > 0 AND length(x) <= {BPE_TRAIN_MAX_WORD_LEN}))
         AS ws
  FROM d
),
b AS (
  SELECT unnest([{{'u': ws[k], 'w': ws[k+1]}} for k in range(1, len(ws))])
         AS bg
  FROM t
),
counts AS (
  SELECT bg['u'] AS u, bg['w'] AS w, CAST(COUNT(*) AS BIGINT) AS n_uw
  FROM b GROUP BY 1, 2
),
ctx AS (SELECT u, CAST(SUM(n_uw) AS BIGINT) AS n_u FROM counts GROUP BY u),
v AS (SELECT CAST(COUNT(DISTINCT w) + 1 AS BIGINT) AS vsz FROM counts)
SELECT c.u, c.w, c.n_uw, x.n_u,
       round((c.n_uw + 1)::DOUBLE / (x.n_u + v.vsz)::DOUBLE, 9) AS p
FROM counts c JOIN ctx x USING (u) CROSS JOIN v
"""


def q_train_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed interpolated Kneser-Ney word-bigram LM TRAINING
    (``operators.text.train_kn_lm`` at order 2) — the smoothing family
    the production CCNet filter actually ships (KenLM is modified-KN),
    trained on-cluster next to the Laplace variant
    (``train_bigram_lm``). The Ney discount ``D = n1/(n1+2 n2)`` stays
    an integer fraction, so each bigram's probability is ONE exact
    integer ratio (DECIMAL(38,0) on Spark, BIGINT on the oracle)
    ending in a single rounded IEEE division — no libm. Same scale
    shape as the Laplace trainer: one corpus bigram shuffle;
    discounts, continuation counts and type totals all derive from
    the vocab²-bounded bigram-type table."""
    docs = _t(spark, sf_dir, "documents")
    return train_kn_lm(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)


# shared KN CTE body: tokenization (doc_id carried for the apply
# path), bigram type counts, the Ney discount as an integer fraction,
# and the model with its exact BIGINT p_num / p_den ratio
_KN_CTES = f"""d AS (
  SELECT doc_id, {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(string_split(nt, ' '),
             x -> length(x) > 0 AND length(x) <= {BPE_TRAIN_MAX_WORD_LEN}))
         AS ws
  FROM d
),
b AS (
  SELECT unnest([{{'u': ws[k], 'w': ws[k+1]}} for k in range(1, len(ws))])
         AS bg
  FROM t
),
counts AS (
  SELECT bg['u'] AS u, bg['w'] AS w, CAST(COUNT(*) AS BIGINT) AS n_uw
  FROM b GROUP BY 1, 2
),
ctx AS (SELECT u, CAST(SUM(n_uw) AS BIGINT) AS n_u,
               CAST(COUNT(*) AS BIGINT) AS n1u
        FROM counts GROUP BY u),
pred AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ncw FROM counts GROUP BY w),
g0 AS (
  SELECT CAST(SUM(CASE WHEN n_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN n_uw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(COUNT(*) AS BIGINT) AS nbb
  FROM counts
),
g AS (
  SELECT CASE WHEN n1 + 2 * n2 > 0 THEN n1
              ELSE CAST(3 AS BIGINT) END AS dn,
         CASE WHEN n1 + 2 * n2 > 0 THEN n1 + 2 * n2
              ELSE CAST(4 AS BIGINT) END AS dd,
         nbb
  FROM g0
),
kmodel AS (
  SELECT c.u, c.w, c.n_uw, x.n_u, x.n1u, p2.ncw,
         CAST(GREATEST(c.n_uw * g.dd - g.dn, CAST(0 AS BIGINT)) * g.nbb
              + g.dn * x.n1u * p2.ncw AS BIGINT) AS p_num,
         CAST(x.n_u * g.dd * g.nbb AS BIGINT) AS p_den
  FROM counts c JOIN ctx x USING (u) JOIN pred p2 USING (w) CROSS JOIN g
)"""

_TRAIN_KN_LM_SQL = (
    "WITH "
    + _KN_CTES
    + """
SELECT u, w, n_uw, n_u, n1u, ncw,
       round(p_num::DOUBLE / p_den::DOUBLE, 9) AS p
FROM kmodel
"""
)


def q_train_mkn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MODIFIED Kneser-Ney word-bigram LM training
    (``operators.text.train_kn_lm(modified=True)``) — the exact
    smoothing class
    KenLM (the published CCNet scorer) ships, with the three
    count-dependent discounts D1/D2/D3+ estimated from the bigram
    count-of-count statistics n1..n4 (Chen & Goodman 1998 §3). Each
    discount is an integer fraction over the reduced common
    denominator ``n2*n3*(n1+2*n2)`` (round 15: the n1 factor cancels
    out of D1), clamped to its textbook ``[0, level]`` range, so
    every probability is ONE exact integer ratio — DECIMAL(38,0) on
    Spark, HUGEINT on the DuckDB oracle — ending in a single rounded
    IEEE division: hash-exact cross-engine, no libm, no silent
    BIGINT wraparound at web-corpus type counts.
    Same scale shape as the ``train_kn_lm`` entry: one corpus bigram
    shuffle; the count-of-count buckets, continuation counts, and the
    one-row discount frame all derive from the vocab²-bounded
    bigram-type table."""
    docs = _t(spark, sf_dir, "documents")
    return train_kn_lm(
        docs, modified=True, max_word_len=BPE_TRAIN_MAX_WORD_LEN
    )


_TRAIN_MKN_LM_SQL = f"""
WITH d AS (
  SELECT {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT list_prepend('<s>', list_filter(string_split(nt, ' '),
             x -> length(x) > 0 AND length(x) <= {BPE_TRAIN_MAX_WORD_LEN}))
         AS ws
  FROM d
),
b AS (
  SELECT unnest([{{'u': ws[k], 'w': ws[k+1]}} for k in range(1, len(ws))])
         AS bg
  FROM t
),
counts AS (
  SELECT bg['u'] AS u, bg['w'] AS w, CAST(COUNT(*) AS BIGINT) AS n_uw
  FROM b GROUP BY 1, 2
),
ctx AS (
  SELECT u, CAST(SUM(n_uw) AS BIGINT) AS n_u,
         CAST(SUM(CASE WHEN n_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
         CAST(SUM(CASE WHEN n_uw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
         CAST(SUM(CASE WHEN n_uw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nu3p
  FROM counts GROUP BY u
),
pred AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ncw FROM counts GROUP BY w),
g0 AS (
  SELECT CAST(SUM(CASE WHEN n_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN n_uw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN n_uw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN n_uw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(COUNT(*) AS BIGINT) AS nbb
  FROM counts
),
g1 AS (
  -- HUGEINT (int128) mirrors Spark's DECIMAL(38,0): the reduced
  -- denominator n2*n3*yd and its numerators stay exact far past the
  -- BIGINT boundary (and DuckDB errors loudly rather than wrapping)
  SELECT *, CAST(n1 + 2 * n2 AS HUGEINT) AS yd,
         (n1 > 0 AND n2 > 0 AND n3 > 0) AS healthy,
         CAST(n2 AS HUGEINT) * n3 * (n1 + 2 * n2) AS bigdd
  FROM g0
),
g AS (
  SELECT
    CASE WHEN healthy THEN LEAST(GREATEST(
           CAST(n1 AS HUGEINT) * n2 * n3,
           CAST(0 AS HUGEINT)), CAST(1 AS HUGEINT) * bigdd)
         WHEN yd > 0 THEN CAST(n1 AS HUGEINT)
         ELSE CAST(3 AS HUGEINT) END AS d1,
    CASE WHEN healthy THEN LEAST(GREATEST(
           (2 * CAST(n2 AS HUGEINT) * yd - 3 * CAST(n1 AS HUGEINT) * n3)
             * n3,
           CAST(0 AS HUGEINT)), CAST(2 AS HUGEINT) * bigdd)
         WHEN yd > 0 THEN CAST(n1 AS HUGEINT)
         ELSE CAST(3 AS HUGEINT) END AS d2,
    CASE WHEN healthy THEN LEAST(GREATEST(
           (3 * CAST(n3 AS HUGEINT) * yd - 4 * CAST(n1 AS HUGEINT) * n4)
             * n2,
           CAST(0 AS HUGEINT)), CAST(3 AS HUGEINT) * bigdd)
         WHEN yd > 0 THEN CAST(n1 AS HUGEINT)
         ELSE CAST(3 AS HUGEINT) END AS d3,
    CASE WHEN healthy THEN bigdd
         WHEN yd > 0 THEN yd ELSE CAST(4 AS HUGEINT) END AS dd,
    CAST(nbb AS HUGEINT) AS nbb
  FROM g1
)
SELECT c.u, c.w, c.n_uw, x.n_u, x.nu1, x.nu2, x.nu3p, p2.ncw,
       round((GREATEST(CAST(c.n_uw AS HUGEINT) * g.dd
                    - CASE WHEN c.n_uw = 1 THEN g.d1
                           WHEN c.n_uw = 2 THEN g.d2
                           ELSE g.d3 END, CAST(0 AS HUGEINT)) * g.nbb
                  + (g.d1 * x.nu1 + g.d2 * x.nu2 + g.d3 * x.nu3p)
                    * p2.ncw)::DOUBLE
             / (CAST(x.n_u AS HUGEINT) * g.dd * g.nbb)::DOUBLE, 9) AS p
FROM counts c JOIN ctx x USING (u) JOIN pred p2 USING (w) CROSS JOIN g
"""


def q_train_kn3_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed interpolated Kneser-Ney word-TRIGRAM LM training
    (``operators.text.train_kn_lm(order=3)``) — the order-3 step toward
    KenLM's order-5 CCNet scorer, with the full backoff chain
    (trigram raw counts → continuation-bigram type counts →
    continuation-unigram) derived from the ONE trigram type table and
    per-order Ney discounts from each order's count-of-counts (Chen &
    Goodman 1998 §3). Every probability is ONE exact integer ratio —
    DECIMAL(38,0) on Spark, HUGEINT on the DuckDB oracle — ending in
    a single rounded IEEE division. Scale shape: one corpus trigram
    shuffle; everything downstream is type-table-bounded."""
    docs = _t(spark, sf_dir, "documents")
    return train_kn_lm(docs, order=3, max_word_len=BPE_TRAIN_MAX_WORD_LEN)


# Shared CTE chain for the order-3 KN family: trigram counts → the
# continuation backoff tables → ``k3model(u, v, w, ..., p_num, p_den,
# p)`` — the trainer oracle and the train-then-score oracle reuse it
# verbatim so the replays can never diverge (the _KN_CTES pattern one
# order up). ``t3`` carries doc_id for the scorer's trigram stream.
_KN3_CTES = f"""d3 AS (
  SELECT doc_id, {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
t3 AS (
  SELECT doc_id, list_concat(['<s>', '<s>'],
             list_filter(string_split(nt, ' '),
             x -> length(x) > 0 AND length(x) <= {BPE_TRAIN_MAX_WORD_LEN}))
         AS ws
  FROM d3
),
tr AS (
  SELECT unnest([{{'u': ws[k], 'v': ws[k+1], 'w': ws[k+2]}}
                 for k in range(1, len(ws) - 1)]) AS tg
  FROM t3
),
counts AS (
  SELECT tg['u'] AS u, tg['v'] AS v, tg['w'] AS w,
         CAST(COUNT(*) AS BIGINT) AS n_uvw
  FROM tr GROUP BY 1, 2, 3
),
ctx3 AS (
  SELECT u, v, CAST(SUM(n_uvw) AS BIGINT) AS n_uv,
         CAST(COUNT(*) AS BIGINT) AS n1uv,
         CAST(SUM(CASE WHEN n_uvw = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS nu1uv,
         CAST(SUM(CASE WHEN n_uvw = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS nu2uv,
         CAST(SUM(CASE WHEN n_uvw >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS nu3puv
  FROM counts GROUP BY u, v
),
c2 AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c2_vw
  FROM counts GROUP BY v, w
),
ctx2 AS (
  SELECT v, CAST(SUM(c2_vw) AS BIGINT) AS c2_v,
         CAST(COUNT(*) AS BIGINT) AS n1v,
         CAST(SUM(CASE WHEN c2_vw = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS mv1,
         CAST(SUM(CASE WHEN c2_vw = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS mv2,
         CAST(SUM(CASE WHEN c2_vw >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS mv3p
  FROM c2 GROUP BY v
),
pred AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ncw FROM c2 GROUP BY w),
g3 AS (
  SELECT CAST(SUM(CASE WHEN n_uvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         CAST(SUM(CASE WHEN n_uvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
         CAST(SUM(CASE WHEN n_uvw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
         CAST(SUM(CASE WHEN n_uvw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS t4
  FROM counts
),
g2 AS (
  SELECT CAST(SUM(CASE WHEN c2_vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         CAST(SUM(CASE WHEN c2_vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
         CAST(SUM(CASE WHEN c2_vw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
         CAST(SUM(CASE WHEN c2_vw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS m4,
         CAST(COUNT(*) AS BIGINT) AS nbb
  FROM c2
),
g AS (
  SELECT
    CASE WHEN t1 + 2 * t2 > 0 THEN CAST(t1 AS HUGEINT)
         ELSE CAST(3 AS HUGEINT) END AS e3n,
    CASE WHEN t1 + 2 * t2 > 0 THEN CAST(t1 + 2 * t2 AS HUGEINT)
         ELSE CAST(4 AS HUGEINT) END AS e3d,
    CASE WHEN m1 + 2 * m2 > 0 THEN CAST(m1 AS HUGEINT)
         ELSE CAST(3 AS HUGEINT) END AS e2n,
    CASE WHEN m1 + 2 * m2 > 0 THEN CAST(m1 + 2 * m2 AS HUGEINT)
         ELSE CAST(4 AS HUGEINT) END AS e2d,
    CAST(nbb AS HUGEINT) AS nbb
  FROM g3, g2
),
k3model AS (
  SELECT c.u, c.v, c.w, c.n_uvw, x3.n_uv, x3.n1uv, b.c2_vw, x2.c2_v,
         x2.n1v, p1.ncw,
         GREATEST(CAST(c.n_uvw AS HUGEINT) * g.e3d - g.e3n,
                  CAST(0 AS HUGEINT))
           * (CAST(x2.c2_v AS HUGEINT) * g.e2d * g.nbb)
         + g.e3n * x3.n1uv
           * (GREATEST(CAST(b.c2_vw AS HUGEINT) * g.e2d - g.e2n,
                       CAST(0 AS HUGEINT)) * g.nbb
              + g.e2n * x2.n1v * p1.ncw) AS p_num,
         CAST(x3.n_uv AS HUGEINT) * g.e3d * x2.c2_v * g.e2d * g.nbb
           AS p_den
  FROM counts c JOIN ctx3 x3 USING (u, v) JOIN c2 b USING (v, w)
       JOIN ctx2 x2 USING (v) JOIN pred p1 USING (w) CROSS JOIN g
)"""

_TRAIN_KN3_LM_SQL = (
    "WITH "
    + _KN3_CTES
    + """
SELECT u, v, w, n_uvw, n_uv, n1uv, c2_vw, c2_v, n1v, ncw,
       round(p_num::DOUBLE / p_den::DOUBLE, 9) AS p
FROM k3model
"""
)


def _mkn_disc_cols(c: str, p: str) -> str:
    """The modified-KN discount columns (clamped integer fractions over
    the reduced common denominator, per-level single-discount
    fallback) from a count-of-count row ``{c}1..{c}4`` — the
    ``train_mkn_lm`` g-CTE shape, name-prefixed ``{p}`` so the trigram
    and continuation levels coexist in one frame."""
    yd = f"CAST({c}1 + 2 * {c}2 AS HUGEINT)"
    big = f"(CAST({c}2 AS HUGEINT) * {c}3 * ({c}1 + 2 * {c}2))"
    healthy = f"({c}1 > 0 AND {c}2 > 0 AND {c}3 > 0)"
    fb = (f"CASE WHEN {c}1 + 2 * {c}2 > 0 THEN CAST({c}1 AS HUGEINT) "
          f"ELSE CAST(3 AS HUGEINT) END")

    def clamp(raw: str, level: int) -> str:
        return (f"LEAST(GREATEST({raw}, CAST(0 AS HUGEINT)), "
                f"CAST({level} AS HUGEINT) * {big})")

    d1 = clamp(f"CAST({c}1 AS HUGEINT) * {c}2 * {c}3", 1)
    d2 = clamp(
        f"(2 * CAST({c}2 AS HUGEINT) * {yd}"
        f" - 3 * CAST({c}1 AS HUGEINT) * {c}3) * {c}3", 2
    )
    d3 = clamp(
        f"(3 * CAST({c}3 AS HUGEINT) * {yd}"
        f" - 4 * CAST({c}1 AS HUGEINT) * {c}4) * {c}2", 3
    )
    return f"""
    CASE WHEN {healthy} THEN {d1} ELSE {fb} END AS {p}1,
    CASE WHEN {healthy} THEN {d2} ELSE {fb} END AS {p}2,
    CASE WHEN {healthy} THEN {d3} ELSE {fb} END AS {p}3,
    CASE WHEN {healthy} THEN {big}
         WHEN {c}1 + 2 * {c}2 > 0 THEN {yd}
         ELSE CAST(4 AS HUGEINT) END AS {p}D"""


_TRAIN_MKN3_LM_SQL = (
    "WITH "
    + _KN3_CTES
    + f""",
mg AS (
  SELECT {_mkn_disc_cols('t', 'dt')},
         {_mkn_disc_cols('m', 'de')},
         CAST(nbb AS HUGEINT) AS nbb
  FROM g3, g2
)
SELECT c.u, c.v, c.w, c.n_uvw, x3.n_uv, x3.nu1uv, x3.nu2uv, x3.nu3puv,
       b.c2_vw, x2.c2_v, x2.mv1, x2.mv2, x2.mv3p, p1.ncw,
       round((GREATEST(CAST(c.n_uvw AS HUGEINT) * mg.dtD
                - CASE WHEN c.n_uvw = 1 THEN mg.dt1
                       WHEN c.n_uvw = 2 THEN mg.dt2
                       ELSE mg.dt3 END, CAST(0 AS HUGEINT))
              * (CAST(x2.c2_v AS HUGEINT) * mg.deD * mg.nbb)
              + (mg.dt1 * x3.nu1uv + mg.dt2 * x3.nu2uv
                 + mg.dt3 * x3.nu3puv)
                * (GREATEST(CAST(b.c2_vw AS HUGEINT) * mg.deD
                     - CASE WHEN b.c2_vw = 1 THEN mg.de1
                            WHEN b.c2_vw = 2 THEN mg.de2
                            ELSE mg.de3 END, CAST(0 AS HUGEINT))
                     * mg.nbb
                   + (mg.de1 * x2.mv1 + mg.de2 * x2.mv2
                      + mg.de3 * x2.mv3p) * p1.ncw))::DOUBLE
             / (CAST(x3.n_uv AS HUGEINT) * mg.dtD * x2.c2_v * mg.deD
                * mg.nbb)::DOUBLE, 9) AS p
FROM counts c JOIN ctx3 x3 USING (u, v) JOIN c2 b USING (v, w)
     JOIN ctx2 x2 USING (v) JOIN pred p1 USING (w) CROSS JOIN mg
"""
)


def q_train_mkn3_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MODIFIED Kneser-Ney word-TRIGRAM LM training
    (``operators.text.train_kn_lm(order=3, modified=True)``) —
    KenLM's estimator class at order 3: the three-discount machinery
    applied per level to the continuation-count backoff chain, each
    level's
    D1/D2/D3+ estimated from its own count-of-counts (raw trigram
    stats t1..t4, continuation-bigram stats m1..m4) as clamped
    integer fractions over the reduced common denominators. Every
    probability is ONE exact DECIMAL(38,0)/HUGEINT ratio + a single
    rounded IEEE division. Same scale shape as the ``train_kn3_lm``
    entry: one corpus trigram shuffle, everything else
    type-table-bounded."""
    docs = _t(spark, sf_dir, "documents")
    return train_kn_lm(
        docs, order=3, modified=True, max_word_len=BPE_TRAIN_MAX_WORD_LEN
    )


def q_kn3_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score at ORDER 3 (``operators.text.kn_doc_scores``
    with ``order=3``):
    fit the interpolated trigram KN LM on the corpus, score every
    document's trigram stream under it — per-trigram cost
    ``ilog2_q20(p_den) - ilog2_q20(p_num)`` over the exact integer
    ratio, summed per doc as a BIGINT. The CCNet fluency gate two
    orders closer to KenLM's order-5 scorer, with zero offline
    artifacts and zero libm on either engine; the oracle replays the
    trainer AND the square-and-shift log2 recurrence in recursive
    CTEs over the shared ``_KN3_CTES`` chain."""
    docs = _t(spark, sf_dir, "documents")
    return kn_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN, order=3)


def _kn3_score_ctes() -> str:
    """The order-3 train-then-score chain as CTEs ending in
    ``k3score(doc_id, n_trigrams, nll_q20, bits_per_trigram_q20)`` —
    shares ``_KN3_CTES`` with the trainer oracle so the replays can
    never diverge. Needs ``WITH RECURSIVE`` (the ilog2 digit
    recurrence). The exact HUGEINT ratio casts to BIGINT for the
    64-bit log2 stage (the documented scoring boundary — DuckDB
    errors loudly on a lossy cast, mirroring Spark's NULL)."""
    return (
        _KN3_CTES
        + """,
mo3 AS MATERIALIZED (
  SELECT u || ' ' || v || ' ' || w AS bk, u, v, w,
         CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den
  FROM k3model
),"""
        + _ilog2_ctes("k3n", "(SELECT bk, p_num AS x FROM mo3)", "bk")
        + ","
        + _ilog2_ctes("k3d", "(SELECT bk, p_den AS x FROM mo3)", "bk")
        + """,
mbits3 AS (
  SELECT mo3.u, mo3.v, mo3.w, k3d.il - k3n.il AS bits_q20
  FROM mo3 JOIN k3n USING (bk) JOIN k3d USING (bk)
),
db3 AS (
  SELECT doc_id, tg['u'] AS u, tg['v'] AS v, tg['w'] AS w FROM (
    SELECT doc_id,
           unnest([{'u': ws[k], 'v': ws[k+1], 'w': ws[k+2]}
                   for k in range(1, len(ws) - 1)]) AS tg
    FROM t3)
),
k3score AS (
  SELECT db3.doc_id,
         CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(sum(m.bits_q20) AS BIGINT) AS nll_q20,
         CAST(CAST(sum(m.bits_q20) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS BIGINT)
           AS bits_per_trigram_q20
  FROM db3 JOIN mbits3 m USING (u, v, w)
  GROUP BY db3.doc_id
)"""
    )


def _kn3_doc_scores_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _kn3_score_ctes()
        + """
SELECT doc_id, n_trigrams, nll_q20, bits_per_trigram_q20 FROM k3score
"""
    )


_KN4_CTES = f"""d4 AS (
  SELECT doc_id, {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
t4 AS (
  SELECT doc_id, list_concat(['<s>', '<s>', '<s>'],
             list_filter(string_split(nt, ' '),
             x -> length(x) > 0 AND length(x) <= {BPE_TRAIN_MAX_WORD_LEN}))
         AS ws
  FROM d4
),
fr AS (
  SELECT unnest([{{'t': ws[k], 'u': ws[k+1], 'v': ws[k+2], 'w': ws[k+3]}}
                 for k in range(1, len(ws) - 2)]) AS fg
  FROM t4
),
counts4 AS (
  SELECT fg['t'] AS t, fg['u'] AS u, fg['v'] AS v, fg['w'] AS w,
         CAST(COUNT(*) AS BIGINT) AS n_tuvw
  FROM fr GROUP BY 1, 2, 3, 4
),
ctx4 AS (
  SELECT t, u, v, CAST(SUM(n_tuvw) AS BIGINT) AS n_tuv,
         CAST(SUM(CASE WHEN n_tuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
         CAST(SUM(CASE WHEN n_tuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
         CAST(SUM(CASE WHEN n_tuvw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nu3p
  FROM counts4 GROUP BY t, u, v
),
c3 AS (
  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3_uvw
  FROM counts4 GROUP BY u, v, w
),
ctx3m AS (
  SELECT u, v, CAST(SUM(c3_uvw) AS BIGINT) AS c3_uv,
         CAST(SUM(CASE WHEN c3_uvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mu1,
         CAST(SUM(CASE WHEN c3_uvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mu2,
         CAST(SUM(CASE WHEN c3_uvw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS mu3p
  FROM c3 GROUP BY u, v
),
c2m AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c2_vw
  FROM c3 GROUP BY v, w
),
ctx2m AS (
  SELECT v, CAST(SUM(c2_vw) AS BIGINT) AS c2_v,
         CAST(SUM(CASE WHEN c2_vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mv1,
         CAST(SUM(CASE WHEN c2_vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS mv2,
         CAST(SUM(CASE WHEN c2_vw >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS mv3p
  FROM c2m GROUP BY v
),
pred4 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS ncw FROM c2m GROUP BY w),
ga AS (
  SELECT CAST(SUM(CASE WHEN n_tuvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(SUM(CASE WHEN n_tuvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
         CAST(SUM(CASE WHEN n_tuvw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
         CAST(SUM(CASE WHEN n_tuvw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS a4
  FROM counts4
),
gb AS (
  SELECT CAST(SUM(CASE WHEN c3_uvw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN c3_uvw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN c3_uvw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(SUM(CASE WHEN c3_uvw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4
  FROM c3
),
ge AS (
  SELECT CAST(SUM(CASE WHEN c2_vw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS e1,
         CAST(SUM(CASE WHEN c2_vw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS e2,
         CAST(SUM(CASE WHEN c2_vw = 3 THEN 1 ELSE 0 END) AS BIGINT) AS e3,
         CAST(SUM(CASE WHEN c2_vw = 4 THEN 1 ELSE 0 END) AS BIGINT) AS e4,
         CAST(COUNT(*) AS BIGINT) AS nbbr
  FROM c2m
),
mg4 AS (
  SELECT {_mkn_disc_cols('a', 'da')},
         {_mkn_disc_cols('b', 'db')},
         {_mkn_disc_cols('e', 'de')},
         CAST(nbbr AS HUGEINT) AS nbb
  FROM ga, gb, ge
),
k4j AS (
  SELECT c.t, c.u, c.v, c.w, c.n_tuvw, x4.n_tuv, x4.nu1, x4.nu2, x4.nu3p,
         b3.c3_uvw, x3.c3_uv, x3.mu1, x3.mu2, x3.mu3p,
         b2.c2_vw, x2.c2_v, x2.mv1, x2.mv2, x2.mv3p, p1.ncw,
         mg4.*
  FROM counts4 c JOIN ctx4 x4 USING (t, u, v) JOIN c3 b3 USING (u, v, w)
       JOIN ctx3m x3 USING (u, v) JOIN c2m b2 USING (v, w)
       JOIN ctx2m x2 USING (v) JOIN pred4 p1 USING (w) CROSS JOIN mg4
),
k4q2 AS (
  SELECT *,
         (GREATEST(CAST(c2_vw AS HUGEINT) * deD
             - CASE WHEN c2_vw = 1 THEN de1
                    WHEN c2_vw = 2 THEN de2 ELSE de3 END,
             CAST(0 AS HUGEINT)) * CAST({MKN4_Q} AS HUGEINT)
          + (de1 * mv1 + de2 * mv2 + de3 * mv3p)
            * ((CAST(ncw AS HUGEINT) * CAST({MKN4_Q} AS HUGEINT)) // nbb))
         // (CAST(c2_v AS HUGEINT) * deD) AS p2q
  FROM k4j
),
k4q3 AS (
  SELECT *,
         (GREATEST(CAST(c3_uvw AS HUGEINT) * dbD
             - CASE WHEN c3_uvw = 1 THEN db1
                    WHEN c3_uvw = 2 THEN db2 ELSE db3 END,
             CAST(0 AS HUGEINT)) * CAST({MKN4_Q} AS HUGEINT)
          + (db1 * mu1 + db2 * mu2 + db3 * mu3p) * p2q)
         // (CAST(c3_uv AS HUGEINT) * dbD) AS p3q
  FROM k4q2
),
k4model AS (
  SELECT *,
         (GREATEST(CAST(n_tuvw AS HUGEINT) * daD
             - CASE WHEN n_tuvw = 1 THEN da1
                    WHEN n_tuvw = 2 THEN da2 ELSE da3 END,
             CAST(0 AS HUGEINT)) * CAST({MKN4_Q} AS HUGEINT)
          + (da1 * nu1 + da2 * nu2 + da3 * nu3p) * p3q)
         // (CAST(n_tuv AS HUGEINT) * daD) AS p4q
  FROM k4q3
)"""

_TRAIN_MKN4_LM_SQL = (
    "WITH "
    + _KN4_CTES
    + f"""
SELECT t, u, v, w, n_tuvw, n_tuv, nu1, nu2, nu3p,
       c3_uvw, c3_uv, mu1, mu2, mu3p,
       c2_vw, c2_v, mv1, mv2, mv3p, ncw,
       round(p4q::DOUBLE / CAST({MKN4_Q} AS DOUBLE), 9) AS p
FROM k4model
"""
)


def q_train_mkn4_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MODIFIED Kneser-Ney word-FOURGRAM LM training
    (``operators.text.train_kn_lm(order=4, modified=True)``) —
    KenLM's estimator class one
    order short of its production order 5: per-order three-discount
    estimates over the continuation-count backoff chain, each level's
    (num, den) an exact DECIMAL(38,0)/HUGEINT pair, levels composed
    in Q40 fixed point via floor division (the documented
    reduce-vs-round boundary — the order-4 full-product ratio would
    exceed 1e38). ``p_q40`` is bit-identical cross-engine; one
    corpus fourgram shuffle, everything else type-table-bounded."""
    docs = _t(spark, sf_dir, "documents")
    return train_kn_lm(
        docs, order=4, modified=True, max_word_len=BPE_TRAIN_MAX_WORD_LEN
    )


def q_kn4_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score at ORDER 4 (``operators.text.kn4_doc_scores``):
    fit the modified-KN fourgram LM on the corpus, score every
    document's fourgram stream under it — per-fourgram cost
    ``40*2^20 - ilog2_q20(max(p_q40, 1))`` over the trainer's
    bit-exact Q40 fixed-point probability (single log — the Q40 grid
    replaces the order-3 num/den ratio pair), summed per doc as a
    BIGINT. The CCNet fluency gate ONE order short of KenLM's
    production scorer, zero offline artifacts, zero libm on either
    engine."""
    docs = _t(spark, sf_dir, "documents")
    return kn4_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)


def _kn4_doc_scores_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _KN4_CTES
        + f""",
mo4 AS MATERIALIZED (
  SELECT t || ' ' || u || ' ' || v || ' ' || w AS bk, t, u, v, w,
         CAST(GREATEST(p4q, CAST(1 AS HUGEINT)) AS BIGINT) AS pq
  FROM k4model
),"""
        + _ilog2_ctes("k4l", "(SELECT bk, pq AS x FROM mo4)", "bk")
        + f""",
mbits4 AS (
  SELECT mo4.t, mo4.u, mo4.v, mo4.w,
         ({MKN4_Q_BITS} << 20) - k4l.il AS bits_q20
  FROM mo4 JOIN k4l USING (bk)
),
db4 AS (
  SELECT doc_id, fg['t'] AS t, fg['u'] AS u, fg['v'] AS v, fg['w'] AS w
  FROM (
    SELECT doc_id,
           unnest([{{'t': ws[k], 'u': ws[k+1], 'v': ws[k+2],
                     'w': ws[k+3]}}
                   for k in range(1, len(ws) - 2)]) AS fg
    FROM t4)
),
k4score AS (
  SELECT db4.doc_id,
         CAST(count(*) AS BIGINT) AS n_fourgrams,
         CAST(sum(m.bits_q20) AS BIGINT) AS nll_q20,
         CAST(CAST(sum(m.bits_q20) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS BIGINT)
           AS bits_per_fourgram_q20
  FROM db4 JOIN mbits4 m USING (t, u, v, w)
  GROUP BY db4.doc_id
)
SELECT doc_id, n_fourgrams, nll_q20, bits_per_fourgram_q20 FROM k4score
"""
    )


def q_kn_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score KN chain (``operators.text.kn_doc_scores``):
    fit the interpolated Kneser-Ney bigram LM on the corpus, then
    score every document under the model the plan just learned —
    per-bigram cost ``ilog2_q20(p_den) - ilog2_q20(p_num)`` (the
    transcendental-free Q20 log2 of the exact integer probability
    ratio), summed per doc as a BIGINT. The CCNet perplexity gate with
    zero offline artifacts and zero libm on either engine; the oracle
    replays the trainer AND the square-and-shift log2 digit recurrence
    in recursive CTEs."""
    docs = _t(spark, sf_dir, "documents")
    return kn_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)


def _kn_score_ctes() -> str:
    """The KN train-then-score chain as CTEs ending in
    ``kscore(doc_id, n_bigrams, nll_q20, bits_per_bigram_q20)`` —
    shared by the ``kn_doc_scores`` oracle and every downstream
    consumer (``curriculum_shards``), so the scoring replay can never
    diverge between them. Needs ``WITH RECURSIVE`` (the ilog2 digit
    recurrence)."""
    return (
        _KN_CTES
        + """,
mo AS MATERIALIZED (
  SELECT u || ' ' || w AS bk, u, w, p_num, p_den FROM kmodel
),"""
        + _ilog2_ctes("kin", "(SELECT bk, p_num AS x FROM mo)", "bk")
        + ","
        + _ilog2_ctes("kid", "(SELECT bk, p_den AS x FROM mo)", "bk")
        + """,
mbits AS (
  SELECT mo.u, mo.w, kid.il - kin.il AS bits_q20
  FROM mo JOIN kin USING (bk) JOIN kid USING (bk)
),
db AS (
  SELECT doc_id, bg['u'] AS u, bg['w'] AS w FROM (
    SELECT doc_id,
           unnest([{'u': ws[k], 'w': ws[k+1]} for k in range(1, len(ws))])
             AS bg
    FROM t)
),
kscore AS (
  SELECT db.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(m.bits_q20) AS BIGINT) AS nll_q20,
         CAST(CAST(sum(m.bits_q20) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS BIGINT)
           AS bits_per_bigram_q20
  FROM db JOIN mbits m USING (u, w)
  GROUP BY db.doc_id
)"""
    )


def _kn_doc_scores_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _kn_score_ctes()
        + """
SELECT doc_id, n_bigrams, nll_q20, bits_per_bigram_q20 FROM kscore
"""
    )


CURRICULUM_SHARDS = 8


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data layout (``kn_doc_scores`` ∘
    ``layout.balanced_shards``): order the corpus easy→hard by the
    in-plan-trained KN perplexity (Q20 bits/bigram — low = fluent =
    early curriculum) and chunk that order into exactly-even
    contiguous shards, so a curriculum sampler consumes shard 0
    first and shard sizes stay write-friendly. NO corpus-wide total
    order in the plan: the difficulty band (the integer Q20 score)
    plays ``balanced_shards``' cluster role — per-band counts
    cumulative-sum into offsets, rows rank within their band, and the
    shard is integer chunk arithmetic (Bengio et al. 2009 curriculum
    practice, laid out with the ``sampled_quantiles`` no-total-order
    discipline)."""
    from traits_data_spark.operators.layout import balanced_shards

    docs = _t(spark, sf_dir, "documents")
    # the layout consumes the score frame three times (band counts,
    # within-band ranks, total) — persist it so the KN train+score
    # chain runs once (the balanced_shards kmeans-persist precedent;
    # without it the plan re-executes the chain per consumer: 15
    # deduped scans vs 5, caught by the plan_audit MAX_SCANS gate)
    scores = (
        kn_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)
        .select("doc_id", "bits_per_bigram_q20")
        .transform(barrier)
    )
    return balanced_shards(
        scores,
        "doc_id",
        "bits_per_bigram_q20",
        CURRICULUM_SHARDS,
    ).select("doc_id", "bits_per_bigram_q20", "shard")


def _curriculum_shards_sql() -> str:
    from traits_data_spark.catalog.ann import _bshard_layout_ctes

    return (
        "WITH RECURSIVE "
        + _kn_score_ctes()
        + """,
casg AS (SELECT doc_id AS vec_id, bits_per_bigram_q20 AS cluster
         FROM kscore)"""
        + _bshard_layout_ctes("casg", str(CURRICULUM_SHARDS), "cu")
        + """
SELECT vec_id AS doc_id, cluster AS bits_per_bigram_q20, shard
FROM cubshard
"""
    )


CURRICULUM_PACK_BUDGET = 2048


def q_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum→packing chain flagship (round-13 verdict task 6):
    the actual deployment artifact a curriculum trainer consumes.
    ``kn_doc_scores`` ∘ ``layout.balanced_shards`` ∘
    ``packing.pack_contiguous`` — score every document's difficulty
    under the in-plan-trained KN LM (Q20 bits/bigram), chunk the
    easy→hard order into exactly-even contiguous shards
    (``curriculum_shards``' layout, no corpus-wide total order), then
    pack WITHIN each shard by contiguous fill on the documents' token
    weight (``n_bigrams``, budget {budget}): a row's pack is
    ``floor(cumsum_before/budget)`` over the shard-local easy→hard
    order, so shard 0's pack 0 is the first batch the sampler reads
    and every pack averages the budget exactly.

    Scale shape: the score frame is persisted once (the
    ``curriculum_shards`` 15→5-scan precedent); the shard layout is
    band-count arithmetic (no total order); the packing window
    partitions by shard — parallel across shards, one extra
    zero-shuffle projection since ``n_bigrams`` rides along from the
    score frame (no join back). Output: ``(doc_id, n_bigrams,
    bits_per_bigram_q20, shard, pack_id)`` with the
    ``pack_contiguous`` shard-prefixed pack key.
    """
    from traits_data_spark.operators.layout import balanced_shards
    from traits_data_spark.operators.packing import pack_contiguous

    docs = _t(spark, sf_dir, "documents")
    scores = (
        kn_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)
        .select("doc_id", "n_bigrams", "bits_per_bigram_q20")
        .transform(barrier)
    )
    sharded = balanced_shards(
        scores, "doc_id", "bits_per_bigram_q20", CURRICULUM_SHARDS
    )
    return pack_contiguous(
        sharded,
        "n_bigrams",
        order_by=[F.col("bits_per_bigram_q20"), F.col("doc_id")],
        budget=CURRICULUM_PACK_BUDGET,
        partition_cols=["shard"],
    ).select(
        "doc_id", "n_bigrams", "bits_per_bigram_q20", "shard", "pack_id"
    )


q_curriculum_pack.__doc__ = q_curriculum_pack.__doc__.format(
    budget=CURRICULUM_PACK_BUDGET
)


def _curriculum_pack_sql() -> str:
    from traits_data_spark.catalog.ann import _bshard_layout_ctes

    return (
        "WITH RECURSIVE "
        + _kn_score_ctes()
        + """,
casg AS (SELECT doc_id AS vec_id, bits_per_bigram_q20 AS cluster
         FROM kscore)"""
        + _bshard_layout_ctes("casg", str(CURRICULUM_SHARDS), "cp")
        + f""",
cpk AS (
  SELECT s.vec_id, s.cluster, s.shard, k.n_bigrams,
         COALESCE(SUM(k.n_bigrams) OVER (
             PARTITION BY s.shard ORDER BY s.cluster ASC, s.vec_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS cb
  FROM cpbshard s JOIN kscore k ON k.doc_id = s.vec_id
)
SELECT vec_id AS doc_id, n_bigrams, cluster AS bits_per_bigram_q20,
       shard,
       CAST(shard AS VARCHAR) || '-'
         || CAST(cb // {CURRICULUM_PACK_BUDGET} AS VARCHAR) AS pack_id
FROM cpk
"""
    )


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SentencePiece-style unigram-LM tokenizer TRAINING
    over the documents corpus (``operators.text.unigram_train``, Kudo
    ACL'18) — the last member of the on-cluster trainer triad next to
    ``bpe_train`` and ``train_bigram_lm``, replacing the offline
    artifact builder ``tools/build_unigram_vocab.py``: substring-seeded
    counts, 2 hard-EM refinements (Viterbi E-step over the distinct
    words; M-step count→log-prob via the transcendental-free
    square-and-shift ``ilog2_q20``), pruned to 150 pieces with
    single-char coverage. The oracle replays the WHOLE chain in
    recursive CTEs — the seed explosion, the fixed-point log2 digit
    recurrence, the ``(score, -n, len)`` tie-broken Viterbi with
    backtrace, the singles floor, and the final prune — so piece
    counts AND Q20 log-probs are BIGINT-exact."""
    docs = _t(spark, sf_dir, "documents")
    return unigram_train(docs)


def _ilog2_ctes(name: str, src: str, key: str) -> str:
    """Recursive-CTE fixed-point ``log2`` in Q20 over relation ``src``
    providing ``({key}, x BIGINT >= 1)`` — the SQL twin of
    ``functions.intmath.ilog2_q20`` (same square-and-shift digit
    recurrence, max intermediate 2^62, so counts→log-probs are
    engine-exact integers with NO libm on either side). Emits CTE
    ``{name}({key}, il)``. A recursive CTE (not lateral column
    aliases, which DuckDB expands by exponential textual
    substitution; not an unrolled 20-column SELECT for the same
    reason) keeps the plan linear in the 20 fraction bits."""
    return f"""
{name}_b AS MATERIALIZED (
  SELECT {key}, x, CAST(length(bin(x)) - 1 AS BIGINT) AS bb FROM {src}
),
{name}_it AS (
  SELECT {key}, bb,
         CASE WHEN bb <= 30 THEN x * (1::BIGINT << CAST(30 - bb AS INT))
              ELSE x >> CAST(bb - 30 AS INT) END AS m,
         0::BIGINT AS f, 0 AS k
  FROM {name}_b
  UNION ALL
  SELECT {key}, bb, CASE WHEN t >= 2147483648 THEN t >> 1 ELSE t END,
         f * 2 + CASE WHEN t >= 2147483648 THEN 1 ELSE 0 END, k + 1
  FROM (SELECT {key}, bb, (m * m) >> 30 AS t, f, k
        FROM {name}_it WHERE k < 20)
),
{name} AS MATERIALIZED (SELECT {key}, (bb << 20) + f AS il FROM {name}_it WHERE k = 20)"""


def _unigram_score_ctes(p: str, cnt: str) -> str:
    """Q20 log2-prob scores from a piece-count relation ``cnt(piece,
    c)``: ``il(c) - il(total)`` — the trainer's M-step. Emits
    ``{p}score(piece, s)``."""
    return (
        f"""
{p}tot AS MATERIALIZED (SELECT 1 AS j, CAST(SUM(c) AS BIGINT) AS x FROM {cnt}),"""
        + _ilog2_ctes(f"{p}ilt", f"{p}tot", "j")
        + ","
        + _ilog2_ctes(f"{p}ilp", f"(SELECT piece, c AS x FROM {cnt})", "piece")
        + f""",
{p}score AS MATERIALIZED (
  SELECT p.piece, p.il - t.il AS s FROM {p}ilp p CROSS JOIN {p}ilt t
)"""
    )


def _unigram_viterbi_ctes(
    p: str,
    words: str,
    vocab: str,
    maxp: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    unk: int = UNIGRAM_TRAIN_UNK_Q20,
    with_backtrace: bool = True,
) -> str:
    """Recursive-CTE Viterbi over ``words(w)`` with piece scores
    ``vocab(piece, s)``: forward DP maximizing ``(score, -n_pieces,
    piece_len)`` lexicographically (struct ``{{s, n, l}}`` —
    ``list_sort(...)[-1]`` IS that max, and the third key pins the
    chosen pieces when segmentations tie, matching
    ``unigram_train_viterbi_py``), then a backtrace recursion
    extracting the pieces. Emits ``{p}fin(w, d)`` (full DP list; final
    state at ``d[length(w)+1]``) and, with backtrace, ``{p}toks(w,
    pieces)``. Unknown single chars score ``unk``; longer unknown
    substrings are not candidates."""
    bt = f""",
{p}bt AS (
  SELECT w, CAST(length(w) AS BIGINT) AS pos, []::VARCHAR[] AS pieces, d
  FROM {p}fin
  UNION ALL
  SELECT w, pos - d[CAST(pos + 1 AS INT)].l,
         list_append(pieces,
           w[CAST(pos - d[CAST(pos + 1 AS INT)].l + 1 AS INT)
             : CAST(pos AS INT)]),
         d
  FROM {p}bt WHERE pos > 0
),
{p}toks AS MATERIALIZED (
  SELECT w, list_reverse(pieces) AS pieces FROM {p}bt WHERE pos = 0
)"""
    return f"""
{p}cand0 AS MATERIALIZED (
  SELECT w.w, CAST(i AS BIGINT) AS i, CAST(l AS BIGINT) AS l,
         w.w[CAST(i - l + 1 AS INT) : CAST(i AS INT)] AS piece
  FROM {words} w,
       LATERAL unnest(range(1, length(w.w) + 1)) AS t1(i),
       LATERAL unnest(range(1, least({maxp}, i) + 1)) AS t2(l)
),
{p}cand AS MATERIALIZED (
  SELECT c.w, c.i, c.l,
         COALESCE(v.s, CASE WHEN c.l = 1 THEN {unk}::BIGINT END) AS s
  FROM {p}cand0 c LEFT JOIN {vocab} v ON v.piece = c.piece
  WHERE COALESCE(v.s, CASE WHEN c.l = 1 THEN 0 END) IS NOT NULL
),
{p}candl AS MATERIALIZED (
  SELECT w, list_sort(list({{'i': i, 'l': l, 's': s}})) AS cs
  FROM {p}cand GROUP BY w
),
{p}dp AS (
  SELECT c.w, 0::BIGINT AS i,
         [{{'s': 0::BIGINT, 'n': 0::BIGINT, 'l': 0::BIGINT}}] AS d
  FROM {p}candl c
  UNION ALL
  SELECT dp.w, dp.i + 1,
         dp.d || [list_sort(list_transform(
                    list_filter(c.cs, x -> x.i = dp.i + 1),
                    x -> {{'s': dp.d[CAST(dp.i + 2 - x.l AS INT)].s + x.s,
                          'n': dp.d[CAST(dp.i + 2 - x.l AS INT)].n - 1,
                          'l': x.l}}))[-1]]
  FROM {p}dp dp JOIN {p}candl c ON c.w = dp.w
  WHERE dp.i < length(dp.w)
),
{p}fin AS MATERIALIZED (SELECT w, d FROM {p}dp WHERE i = length(w)){bt if with_backtrace else ""}"""


def _unigram_estep_ctes(p: str, score_rel: str) -> str:
    """One hard-EM E-step: Viterbi every distinct word under
    ``score_rel``, count chosen pieces occurrence-weighted, then apply
    the single-char coverage floor (missing seeded singles re-enter at
    count 1 — ``counts.setdefault(p, 1)`` in the Spark loop). Emits
    ``{p}cnt_f(piece, c)``. Assumes ``w0(w, c)`` and
    ``useed_singles(piece)`` exist."""
    return (
        _unigram_viterbi_ctes(p, "w0", score_rel)
        + f""",
{p}cnt AS MATERIALIZED (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS c
  FROM (SELECT unnest(t.pieces) AS piece, w0.c
        FROM {p}toks t JOIN w0 USING (w))
  GROUP BY piece
),
{p}cnt_f AS MATERIALIZED (
  SELECT COALESCE(n.piece, s.piece) AS piece,
         COALESCE(n.c, 1::BIGINT) AS c
  FROM {p}cnt n FULL OUTER JOIN useed_singles s ON n.piece = s.piece
)"""
    )


def _unigram_train_chain_ctes(
    max_word_len: int = UNIGRAM_TRAIN_MAX_WORD_LEN,
    max_piece_len: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    em_iters: int = UNIGRAM_TRAIN_EM_ITERS,
    vocab_size: int = UNIGRAM_TRAIN_VOCAB_SIZE,
    seed_cap: int = UNIGRAM_TRAIN_SEED_CAP,
) -> tuple[str, str]:
    """The full unigram-trainer replay: seed → ``em_iters`` E/M rounds
    → prune. Returns ``(ctes, final_cnt_name)`` where the final CTE
    chain ends with ``ukept(piece, c)`` (the pruned vocabulary) and
    ``ufscore(piece, s)`` (its Q20 log-probs)."""
    parts = [
        f"""ud0 AS (
  SELECT {_NORM} AS nt FROM documents
),
uwds AS (
  SELECT unnest(list_filter(string_split(nt, ' '),
                x -> length(x) > 0 AND length(x) <= {max_word_len})) AS w
  FROM ud0 WHERE nt IS NOT NULL
),
w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uwds GROUP BY w),
useed0 AS (
  SELECT w0.w[CAST(i - l + 1 AS INT) : CAST(i AS INT)] AS piece, w0.c
  FROM w0,
       LATERAL unnest(range(1, length(w0.w) + 1)) AS t1(i),
       LATERAL unnest(range(1, least({max_piece_len}, i) + 1)) AS t2(l)
),
useed_cnt AS MATERIALIZED (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS c FROM useed0 GROUP BY piece
),
useed_singles AS MATERIALIZED (SELECT piece FROM useed_cnt WHERE length(piece) = 1),
useed AS MATERIALIZED (
  SELECT piece, c FROM useed_cnt WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) AS rk
    FROM useed_cnt WHERE length(piece) > 1)
  WHERE rk <= {seed_cap}
)"""
    ]
    cnt = "useed"
    for it in range(1, em_iters + 1):
        parts.append(_unigram_score_ctes(f"um{it}_", cnt))
        parts.append(_unigram_estep_ctes(f"ue{it}_", f"um{it}_score"))
        cnt = f"ue{it}_cnt_f"
    parts.append(
        f"""
unsing AS (SELECT COUNT(*) AS n FROM useed_singles),
ukept AS MATERIALIZED (
  SELECT piece, c FROM {cnt} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) AS rk
    FROM {cnt} WHERE length(piece) > 1)
  WHERE rk <= {vocab_size} - (SELECT n FROM unsing)
)"""
    )
    parts.append(_unigram_score_ctes("uf_", "ukept"))
    parts.append(
        "\nufscore AS MATERIALIZED (SELECT piece, s FROM uf_score)"
    )
    return ",".join(parts), "ukept"


def _unigram_train_sql() -> str:
    ctes, kept = _unigram_train_chain_ctes()
    return f"""WITH RECURSIVE {ctes}
SELECT k.piece, k.c AS em_count, f.s AS logp2_q20
FROM {kept} k JOIN ufscore f USING (piece)"""


def q_unigram_train_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram LM on the documents corpus, then tokenize
    that same corpus with the pieces just learned
    (``operators.text.unigram_train_token_counts``) — the end-to-end
    train→apply chain for the SentencePiece family (mirror of
    ``bpe_train_tokens``). Per-document learned-unigram token counts
    and total negative Q20 log2-prob; application is total (UNK
    single-char fallback; char segmentation beyond the DP length
    guard); empty docs keep a 0 row. The oracle replays the training
    chain and then runs the SAME recursive-CTE Viterbi once more over
    the full corpus vocabulary with the learned scores."""
    docs = _t(spark, sf_dir, "documents")
    return unigram_train_token_counts(docs)


def _unigram_train_tokens_sql(
    apply_max_word_len: int = UNIGRAM_MAX_WORD_LEN,
    unk: int = UNIGRAM_TRAIN_UNK_Q20,
) -> str:
    ctes, _ = _unigram_train_chain_ctes()
    return f"""WITH RECURSIVE {ctes},
uadw AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(string_split({_NORM}, ' '),
                x -> length(x) > 0)) AS w
  FROM documents WHERE text IS NOT NULL
),
uaw AS MATERIALIZED (SELECT DISTINCT w FROM uadw WHERE length(w) <= {apply_max_word_len}),
{_unigram_viterbi_ctes("ua_", "uaw", "ufscore", with_backtrace=False).lstrip()},
ua_res AS MATERIALIZED (
  SELECT w,
         CAST(-d[length(w) + 1].n AS BIGINT) AS n_tokens,
         CAST(-d[length(w) + 1].s AS BIGINT) AS nll
  FROM ua_fin
),
uafb0 AS (
  SELECT a.w, a.w[CAST(i AS INT) : CAST(i AS INT)] AS ch
  FROM (SELECT DISTINCT w FROM uadw
        WHERE length(w) > {apply_max_word_len}) a,
       LATERAL unnest(range(1, length(a.w) + 1)) AS t(i)
),
uafb AS (
  SELECT f.w, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(-SUM(COALESCE(v.s, {unk})) AS BIGINT) AS nll
  FROM uafb0 f LEFT JOIN ufscore v ON v.piece = f.ch
  GROUP BY f.w
),
uaperw AS (SELECT * FROM ua_res UNION ALL SELECT * FROM uafb),
uasums AS (
  SELECT dw.doc_id, CAST(SUM(p.n_tokens) AS BIGINT) AS nt,
         CAST(SUM(p.nll) AS BIGINT) AS nl
  FROM uadw dw JOIN uaperw p USING (w) GROUP BY dw.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.nt, 0) AS BIGINT) AS unigram_trained_tokens,
       CAST(COALESCE(s.nl, 0) AS BIGINT) AS nll_q20
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN uasums s USING (doc_id)"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility report — tokens per whitespace
    word under all THREE shipped subword tokenizers (greedy
    longest-match against the 12k-piece vocab = WordPiece-style
    inference, merge-rank against the 12k ranked-merge table = true
    BPE, and unigram-LM Viterbi against the 2000-piece artifact =
    SentencePiece), the comparison a team runs when choosing the
    tokenizer a corpus will be budgeted in. One row per source: doc
    count, summed whitespace / WordPiece / BPE / unigram tokens, and
    the three fertility ratios (6-dp-rounded
    single divisions — cross-engine exact). The oracle nests the two
    attested per-doc tokenizer oracles as derived tables and
    re-aggregates."""
    docs = _docs_wide(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    wp = bpe_token_counts(
        token_counts(docs), vocab=load_bpe_vocab(spark), out_col="wp_tokens"
    ).select("doc_id", "ws_tokens", "wp_tokens")
    mr = bpe_merge_token_counts(docs, load_bpe_merges(spark)).select(
        "doc_id", F.col("bpe_merge_tokens").alias("bpe_tokens")
    )
    uni = unigram_token_counts(docs, load_unigram_vocab(spark)).select(
        "doc_id", F.col("unigram_tokens").alias("uni_tokens")
    )
    joined = wp.join(mr, "doc_id").join(uni, "doc_id").join(src, "doc_id")

    def fert(tok: str) -> Column:
        return F.when(
            F.sum("ws_tokens") > 0,
            F.round(
                F.sum(tok).cast("double") / F.sum("ws_tokens").cast("double"),
                6,
            )
            + F.lit(0.0),
        )

    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("ws_tokens"),
        F.sum("wp_tokens").cast("long").alias("wp_tokens"),
        F.sum("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.sum("uni_tokens").cast("long").alias("uni_tokens"),
        fert("wp_tokens").alias("wp_fertility"),
        fert("bpe_tokens").alias("bpe_fertility"),
        fert("uni_tokens").alias("uni_fertility"),
    )


def _tokenizer_fertility_sql() -> str:
    # nest the two attested per-doc tokenizer oracles as derived
    # tables (the ann_recall composition pattern) and re-aggregate;
    # fertility is one double division rounded to 6 dp on both engines
    return f"""
WITH wp AS (SELECT doc_id, ws_tokens, bpe_tokens AS wp_tokens
            FROM ({_bpe_token_large_sql()})),
mr AS (SELECT doc_id, bpe_merge_tokens AS bpe_tokens
       FROM ({_BPE_MERGE_TOKEN_SQL})),
uni AS (SELECT doc_id, unigram_tokens AS uni_tokens
        FROM ({_UNIGRAM_TOKEN_SQL})),
j AS (
  SELECT d.source, wp.ws_tokens, wp.wp_tokens, mr.bpe_tokens,
         uni.uni_tokens
  FROM wp JOIN mr USING (doc_id) JOIN uni USING (doc_id)
       JOIN documents d USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       CAST(sum(wp_tokens) AS BIGINT) AS wp_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(sum(uni_tokens) AS BIGINT) AS uni_tokens,
       CASE WHEN sum(ws_tokens) > 0 THEN
         round(CAST(sum(wp_tokens) AS DOUBLE)
               / CAST(sum(ws_tokens) AS DOUBLE), 6) + 0.0 END
         AS wp_fertility,
       CASE WHEN sum(ws_tokens) > 0 THEN
         round(CAST(sum(bpe_tokens) AS DOUBLE)
               / CAST(sum(ws_tokens) AS DOUBLE), 6) + 0.0 END
         AS bpe_fertility,
       CASE WHEN sum(ws_tokens) > 0 THEN
         round(CAST(sum(uni_tokens) AS DOUBLE)
               / CAST(sum(ws_tokens) AS DOUBLE), 6) + 0.0 END
         AS uni_fertility
FROM j GROUP BY source
"""


WINNOW_K = 4
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_FP_DOCS = 1000


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-detection report (``operators.text.winnow_matches``):
    document pairs ranked by shared winnowed fingerprints — MOSS's
    output as one fingerprint-keyed join (never all-pairs; degenerate
    boilerplate fingerprints capped like LSH stop-buckets). On this
    corpus the surviving pairs are exactly the planted near/exact
    duplicates."""
    docs = _docs_wide(spark, sf_dir)
    fps = winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    return winnow_matches(
        fps,
        min_shared=WINNOW_MIN_SHARED,
        max_fp_docs=WINNOW_MAX_FP_DOCS,
    )


def _winnow_matches_sql() -> str:
    return f"""
WITH sel AS (SELECT * FROM ({_WINNOW_SQL})),
f AS (SELECT DISTINCT doc_id, fp FROM sel),
ok_fp AS (
  SELECT fp FROM f GROUP BY fp
  HAVING count(*) <= {WINNOW_MAX_FP_DOCS}
),
sized AS (SELECT f.* FROM f JOIN ok_fp USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (``operators.text.winnow_fingerprints``,
    the SIGMOD'03 MOSS algorithm): rightmost-minimum selection over
    every window of w=4 consecutive word-4-gram hashes — the standard
    copy-detection sketch whose guarantee (any shared ≥ w+k-1-word
    passage shares a fingerprint) the rolling-hash
    ``document_fingerprint`` family lacked. Pure per-doc expressions,
    zero shuffles; the oracle replays gram hashing, the per-window
    rightmost-min (row_number over (hash asc, pos desc)), and the
    dedup."""
    docs = _docs_wide(spark, sf_dir)
    return winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W).select(
        "doc_id", "pos", "fp"
    )


_WINNOW_SQL = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS wl
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i.i AS p,
         {_H60.format(
             x=f"array_to_string(list_slice(wl, i.i::INT, i.i::INT + {WINNOW_K - 1}), ' ')"
         )} AS h
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(len(wl) - {WINNOW_K - 1}, 1) + 1)) AS i
  ) i
),
ws AS (
  SELECT doc_id, s.s AS s
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(range(1,
      greatest(greatest(len(wl) - {WINNOW_K - 1}, 1) - {WINNOW_W - 1}, 1) + 1
    )) AS s
  ) s
),
j AS (
  SELECT ws.doc_id, ws.s, g.h, g.p
  FROM ws JOIN g ON g.doc_id = ws.doc_id
                AND g.p BETWEEN ws.s AND ws.s + {WINNOW_W - 1}
),
pick AS (
  SELECT doc_id, s, h, p,
         row_number() OVER (PARTITION BY doc_id, s
                            ORDER BY h ASC, p DESC) AS rn
  FROM j
)
SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos, CAST(h AS BIGINT) AS fp
FROM pick WHERE rn = 1
"""


BM25_K = 5
BM25_K1 = 1.2
BM25_B = 0.75
_BM25_QUERY_PRED = "doc_id % 50 = 0"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (``operators.text.bm25_topk``): docs
    with ``doc_id % 50 == 0`` play the query set (more-like-this
    retrieval over their distinct terms); inverted postings are pruned
    on the broadcast query vocabulary BEFORE any shuffle; idf follows
    the ``tfidf_top_terms`` round(ln,6) precedent and each per-term
    contribution becomes an integer micro-unit so the per-document sum
    is shuffle-order-free. Reference analogue: query side of the
    FULLTEXT index the reference's db_writer declares (db_writer.py
    DDL); ranking semantics are the Lucene/ES BM25 default."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.expr(_BM25_QUERY_PRED))
    return bm25_topk(
        docs, queries, k=BM25_K, k1=BM25_K1, b=BM25_B
    )


BM25_CHAMPION_N = 32


def q_bm25_topk_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with champion lists (``bm25_topk(champion_n=32)``): only
    each term's top-32 postings by (tf desc, doc asc) are scored —
    the bounded-cost retrieval mode for corpora/queries where
    exhaustive scoring degenerates to |Q|·|D| (the round-11 20× stress
    decomposition). df/idf stay exact on the uncut postings; the
    Spark side's salted two-phase per-term top-N must select exactly
    the single-window cut the oracle replays."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.filter(F.expr(_BM25_QUERY_PRED))
    return bm25_topk(
        docs, queries, k=BM25_K, k1=BM25_K1, b=BM25_B,
        champion_n=BM25_CHAMPION_N,
    )


def _bm25_sql(champion_n: int | None = None, k: int = BM25_K) -> str:
    # float-literal parity: the SQL inlines repr() of the exact Python
    # doubles the Spark plan uses (k1+1 is NOT the literal 2.2)
    k1p1, one_b = repr(BM25_K1 + 1.0), repr(1.0 - BM25_B)
    k1, b = repr(BM25_K1), repr(BM25_B)
    if champion_n is None:
        champ, src = "", "tf"
    else:
        # champion cut: single per-term row_number here (the oracle
        # runs single-node); the Spark side's salted two-phase top-N
        # selects the identical rows
        champ = f""",
ch AS (
  SELECT doc_id, term, tf, dl FROM (
    SELECT *, row_number() OVER (PARTITION BY term
                                 ORDER BY tf DESC, doc_id ASC) AS crk
    FROM tf)
  WHERE crk <= {int(champion_n)}
)"""
        src = "ch"
    toks = (
        "list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', "
        "'g')), ' '), x -> length(x) > 0)"
    )
    return f"""
WITH corp AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
words AS (
  SELECT doc_id, dl, lower(w) AS term FROM (
    SELECT doc_id, len({toks}) AS dl, unnest({toks}) AS w FROM corp)
),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, lower(w) AS term FROM (
    SELECT doc_id, unnest({toks}) AS w
    FROM corp WHERE {_BM25_QUERY_PRED})
),
qvocab AS (SELECT DISTINCT term FROM qterms),
matched AS (SELECT w.* FROM words w JOIN qvocab USING (term)),
tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf, any_value(dl) AS dl
       FROM matched GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*)::BIGINT AS df_docs FROM tf GROUP BY 1){champ},
stats AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(len({toks}))::DOUBLE / COUNT(*)::DOUBLE AS avgdl
  FROM corp
),
contrib AS (
  SELECT q.query_id, {src}.doc_id AS neighbor_id,
         CAST(ROUND(
           ROUND(LN(1.0::DOUBLE
                    + ((n - df_docs)::DOUBLE + 0.5::DOUBLE)
                      / (df_docs::DOUBLE + 0.5::DOUBLE)), 6)
           * ((tf::DOUBLE * {k1p1}::DOUBLE)
              / (tf::DOUBLE + {k1}::DOUBLE
                 * ({one_b}::DOUBLE
                    + {b}::DOUBLE * (dl::DOUBLE / avgdl))))
           * 1000000.0::DOUBLE) AS BIGINT) AS c_micro
  FROM {src} JOIN dfreq USING (term) CROSS JOIN stats
       JOIN qterms q USING (term)
),
scored AS (
  SELECT query_id, neighbor_id,
         SUM(c_micro)::BIGINT AS score_micro,
         COUNT(*)::BIGINT AS matched_terms
  FROM contrib GROUP BY 1, 2
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_micro DESC,
                                            neighbor_id ASC) AS rk
      FROM scored)
SELECT query_id, neighbor_id, matched_terms, score_micro,
       ROUND(score_micro / 1000000.0::DOUBLE, 6) + 0.0 AS score,
       rk::BIGINT AS rk
FROM r WHERE rk <= {int(k)}
"""


def q_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a persisted content-hash index
    (``dedup.content_hash_index`` + ``dedup.incremental_exact_dedup``):
    docs with ``doc_id % 3 == 0`` play the ingest batch, the rest the
    already-indexed history. Only the batch is hashed; history
    participates via its ``(content_hash, min_id)`` index and is never
    re-shuffled (batch-side broadcast). Output: the batch rows whose
    content the corpus has not seen (first-seen-wins)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    history = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = content_hash_index(history, "text", "doc_id")
    kept = incremental_exact_dedup(batch, index, "text", "doc_id")
    return kept.select("doc_id", "source", "content_hash")


_INCREMENTAL_EXACT_DEDUP_SQL = f"""
WITH h AS (
  SELECT doc_id, source, {_H60.format(x=_NORM)} AS content_hash
  FROM documents
),
hist AS (SELECT content_hash FROM h WHERE doc_id % 3 != 0),
batch AS (SELECT * FROM h WHERE doc_id % 3 = 0),
bu AS (
  SELECT content_hash,
         arg_min(doc_id, doc_id) AS doc_id,
         arg_min(source, doc_id) AS source
  FROM batch GROUP BY content_hash
)
SELECT doc_id, source, content_hash FROM bu
WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.content_hash = bu.content_hash)
"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return clean_corpus(
        docs,
        min_words=10,
        max_punct_ratio=0.2,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        jaccard_threshold=0.8,
    )


def _clean_corpus_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"((length(pt) - length(replace(pt, '{m}', ''))) / {len(m)})::INT"
            for m in markers
        )
        score_exprs.append(f"({terms}) AS score_{lang}")
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    arms = " ".join(
        f"WHEN score_{l} = {best} AND {best} > 0 THEN '{l}'" for l in langs
    )
    return f"""
WITH d AS (SELECT doc_id, text, {_NORM} AS nt FROM documents),
q AS (
  SELECT *, ' ' || nt || ' ' AS pt,
    len(regexp_extract_all(text, '\\S+')) AS n_words,
    round(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]'))
          / (CASE WHEN length(text) > 0 THEN length(text)::DOUBLE END), 4) AS punct_ratio
  FROM d
),
s AS (SELECT *, {', '.join(score_exprs)} FROM q),
lang AS (SELECT *, CASE {arms} ELSE 'und' END AS lang_pred FROM s),
filt AS (
  SELECT doc_id, text, nt, lang_pred, n_words FROM lang
  WHERE n_words >= 10 AND punct_ratio < 0.2 AND lang_pred != 'und'
),
keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM filt GROUP BY {_H60.format(x='nt')}
),
ek AS (SELECT f.* FROM filt f JOIN keepers USING (doc_id)),
{_near_dup_drop_sql('ek', 0.8)}
SELECT doc_id, lang_pred, n_words FROM ek
WHERE doc_id NOT IN (SELECT id_b FROM cnear)
"""


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------


_LN2 = 0.6931471805599453


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy (bits) — the cheap
    perplexity proxy; entropy terms summed as scaled BIGINTs so the
    cross-row sum is partitioning-independent."""
    docs = _docs_wide(spark, sf_dir)
    return char_entropy(docs)


_CHAR_ENTROPY_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS skel
  FROM documents
),
ch AS (SELECT doc_id, unnest(string_split(skel, '')) AS ch FROM d),
cc AS (
  SELECT doc_id, ch, COUNT(*) AS cnt FROM ch
  WHERE length(ch) > 0 GROUP BY doc_id, ch
),
t AS (
  SELECT doc_id, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS total FROM cc
),
p AS (
  SELECT doc_id, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS pd FROM t
),
s AS (
  SELECT doc_id,
         CAST(ROUND(-pd * ln(pd) / {_LN2} * 1e9) AS BIGINT) AS term
  FROM p
),
e AS (
  SELECT doc_id, CAST(SUM(term) AS DOUBLE) / 1e9 AS ent FROM s GROUP BY doc_id
)
SELECT b.doc_id, COALESCE(round(e.ent, 4), 0.0) AS char_entropy
FROM (SELECT DISTINCT doc_id FROM documents) b
LEFT JOIN e USING (doc_id)
"""


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return quality_features(docs).drop("text")


_QUALITY_SQL = f"""
WITH d AS (SELECT doc_id, text, {_NORM} AS nt FROM documents)
SELECT doc_id,
  length(text) AS n_chars_q,
  len(regexp_extract_all(text, '\\S+')) AS n_words,
  round(length(regexp_replace(text, '\\s+', '', 'g'))
        / (CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                THEN len(regexp_extract_all(text, '\\S+'))::DOUBLE END), 4) AS avg_word_len,
  round(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]'))
        / (CASE WHEN length(text) > 0 THEN length(text)::DOUBLE END), 4) AS punct_ratio,
  round(len(regexp_extract_all(text, '[0-9]'))
        / (CASE WHEN length(text) > 0 THEN length(text)::DOUBLE END), 4) AS digit_ratio,
  round(len(list_filter(string_split(nt, ' '),
            w -> list_contains(['the','and','of','to','a','in','is','it','that','for',
                                'on','with','as','was','at','by','an','be','this','are'], w)))
        / (CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                THEN len(regexp_extract_all(text, '\\S+'))::DOUBLE END), 4) AS stopword_ratio
FROM d
"""


# The "model artifact" for the classifier demo: a hand-set linear
# vocabulary in integer micro-units (1e-6).  Real deployments load the
# quantized weights of a trained fasttext/logistic model into the same
# (term, weight) shape; the operator only assumes a small-enough-to-
# broadcast vocabulary.
CLASSIFIER_WEIGHTS: list[tuple[str, int]] = [
    ("fast", 400_000),
    ("vector", 250_000),
    ("stream", 200_000),
    ("spark", 300_000),
    ("merge", 150_000),
    ("window", 100_000),
    ("slow", -500_000),
    ("small", -150_000),
    ("dup", -800_000),
    ("the", -50_000),
    ("a", -50_000),
]
CLASSIFIER_BIAS = 25_000
CLASSIFIER_THRESHOLD = 0


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: score every document with a
    broadcast linear bag-of-words classifier (fasttext-style), the
    standard learned companion to the heuristic quality_features gate."""
    docs = _docs_wide(spark, sf_dir)
    from traits_data_spark.functions.literals import literal_frame

    weights = literal_frame(
        spark, CLASSIFIER_WEIGHTS, "term string, weight long"
    )
    return classifier_score(
        docs, weights, bias=CLASSIFIER_BIAS, threshold=CLASSIFIER_THRESHOLD
    )


def _quality_classifier_sql() -> str:
    values = ", ".join(f"('{t}', {w})" for t, w in CLASSIFIER_WEIGHTS)
    bias = CLASSIFIER_BIAS
    return f"""
WITH w(term, weight) AS (VALUES {values}),
d AS (SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> length(x) > 0) AS words
      FROM documents WHERE text IS NOT NULL),
t AS (SELECT doc_id, len(words) AS n_words, unnest(words) AS term
      FROM d WHERE len(words) > 0),
s AS (SELECT t.doc_id,
             any_value(t.n_words)::BIGINT AS n_words,
             count(w.weight) AS matched,
             sum(coalesce(w.weight, 0))::BIGINT AS wsum
      FROM t LEFT JOIN w USING (term) GROUP BY t.doc_id)
SELECT doc_id, n_words, matched,
       ({bias} + wsum)::BIGINT AS logit_micro,
       round(({bias} + wsum) / (1e6 * n_words), 6) AS score,
       ({bias} + wsum) >= {CLASSIFIER_THRESHOLD} AS keep
FROM s
"""


# The demo corpus is single-line, so the line-dedup query derives
# lines by wrapping every 5 words; the operator's semantics don't
# depend on how the line boundaries arose.  Same regex subset in Java
# (Spark) and RE2 (DuckDB): \w runs over ASCII words.
LINE_WRAP_RE = r"((\w+ ){4}\w+) "


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup: every duplicated line keeps only its
    first occurrence in corpus order, documents reassembled from the
    surviving lines — the boilerplate-removal step document-level
    dedup can't see."""
    docs = _docs_wide(spark, sf_dir)
    wrapped = docs.withColumn(
        "text", F.regexp_replace("text", LINE_WRAP_RE, "$1\n")
    )
    return dedup_lines(wrapped, mode="keep_first")


def _line_dedup_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '((\\w+ ){{4}}\\w+) ', '\\1' || chr(10), 'g') AS t
  FROM documents WHERE text IS NOT NULL
),
s AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
l AS (SELECT doc_id, len(ls)::BIGINT AS n_lines, unnest(ls) AS line,
             unnest(range(0, len(ls))) AS line_idx
      FROM s),
h AS (SELECT *, {_H60.format(x="line")} AS lh FROM l),
-- min(struct) winner per line hash — mirrors the operator's map-side
-- combinable aggregate (NOT a per-hash analytic window)
f AS (SELECT lh, min({{'doc_id': doc_id, 'line_idx': line_idx}}) AS w
      FROM h GROUP BY lh),
r AS (SELECT h.* FROM h
      JOIN f ON h.doc_id = f.w.doc_id AND h.line_idx = f.w.line_idx)
SELECT doc_id, any_value(n_lines) AS n_lines, count(*) AS kept_lines,
       string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
FROM r
GROUP BY doc_id
"""


def q_identify_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return identify_language(docs).drop("text")


def _langid_sql() -> str:
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"((length(pt) - length(replace(pt, '{m}', ''))) / {len(m)})::INT"
            for m in markers
        )
        score_exprs.append(f"({terms}) AS score_{lang}")
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    arms = " ".join(
        f"WHEN score_{l} = {best} AND {best} > 0 THEN '{l}'" for l in langs
    )
    return f"""
WITH d AS (SELECT doc_id, ' ' || {_NORM} || ' ' AS pt FROM documents),
s AS (SELECT doc_id, {', '.join(score_exprs)} FROM d)
SELECT doc_id, {', '.join('score_' + l for l in langs)},
       CASE {arms} ELSE 'und' END AS lang_pred
FROM s
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return token_counts(docs).drop("text")


_TOKEN_SQL = r"""
SELECT doc_id,
  len(list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                  w -> length(w) > 0)) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
FROM documents
"""


def q_document_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    return document_fingerprint(docs).drop("text")


_FINGERPRINT_SQL = f"""
SELECT doc_id,
  {_H60.format(x="lower(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g'))")} AS fingerprint
FROM documents
"""


def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity datasheet — the corpus-quality
    report a data buyer reads next to ``corpus_report``: type-token
    ratio at unigram and bigram order (low TTR = templated/repetitive
    source; the distinct-n diversity metric applied at corpus scale)
    plus the summed per-doc character entropy (each doc's entropy is
    the attested ``char_entropy`` BIGINT-exact chain, re-quantized to
    1e-4 so the per-source sum crosses engines exactly) and the
    per-source entropy DISTRIBUTION (p10/p50/p90 via the
    ``sampled_quantiles`` discrete rank selection at rate 10000 —
    exact, no interpolation; mean + deciles is the full datasheet
    next to ``corpus_report``). Ratios are integer ppm with a
    zero-total guard. Scale shape: every aggregate is keyed by
    ``source`` (map-side combine into a tiny frame); the distinct
    counts shuffle (source, gram) pairs, never documents; the
    entropy chain is the attested per-doc shape — consumed by BOTH
    the sum-agg and the decile window WITHOUT a persist (A/B at
    sf0.1, min-of-3: no-persist 2.0 s vs persist 2.9 s — the cheap
    per-doc chain re-executes faster than the cache boundary
    materializes, the ``curate_corpus_trained`` negative result
    again)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    nt = normalized_text(F.col("text"), lowercase=True)
    wl = F.filter(F.split(nt, " "), lambda x: F.length(x) > 0)
    words = docs.select(
        "source", F.explode(wl).alias("w")
    )
    uni = words.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_unigrams"),
        F.countDistinct("w").cast("long").alias("distinct_unigrams"),
    )
    arr = F.col("__wl")
    n = F.size(arr)
    bi = (
        docs.select("source", wl.alias("__wl"))
        .select(
            "source",
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, n - 1),
                    F.slice(arr, 2, n - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bg"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_bigrams"),
            F.countDistinct("bg").cast("long").alias("distinct_bigrams"),
        )
    )
    from traits_data_spark.operators.sketches import sampled_quantiles

    edoc = (
        char_entropy(docs, id_col="doc_id", text_col="text")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.round(F.col("char_entropy") * 1e4).cast("long").alias("__e4"),
        )
    )
    ent = edoc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__e4").cast("long").alias("entropy_e4_sum"),
    )
    dec = sampled_quantiles(
        edoc,
        ["source"],
        "__e4",
        "doc_id",
        quantiles=(0.1, 0.5, 0.9),
        rate_bp=10_000,
        prefix="entropy_e4_p",
    ).drop("n_sample")

    return (
        ent.join(uni, "source", "left")
        .join(bi, "source", "left")
        .join(dec, "source", "left")
        .na.fill(
            0,
            [
                "total_unigrams",
                "distinct_unigrams",
                "total_bigrams",
                "distinct_bigrams",
            ],
        )
        .select(
            "source",
            "n_docs",
            "total_unigrams",
            "distinct_unigrams",
            F.expr(
                "CASE WHEN total_unigrams > 0 THEN "
                "CAST(distinct_unigrams * 1000000 DIV total_unigrams "
                "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            ).alias("unigram_ttr_ppm"),
            "total_bigrams",
            "distinct_bigrams",
            F.expr(
                "CASE WHEN total_bigrams > 0 THEN "
                "CAST(distinct_bigrams * 1000000 DIV total_bigrams "
                "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            ).alias("bigram_ttr_ppm"),
            "entropy_e4_sum",
            F.expr("CAST(entropy_e4_sum DIV n_docs AS BIGINT)").alias(
                "mean_entropy_e4"
            ),
            "entropy_e4_p10",
            "entropy_e4_p50",
            "entropy_e4_p90",
        )
    )


_SOURCE_DIVERSITY_SQL = f"""
WITH d AS (
  SELECT doc_id, source, {_NORM} AS nt
  FROM documents WHERE text IS NOT NULL
),
wl AS (
  SELECT doc_id, source,
         list_filter(string_split(nt, ' '), x -> length(x) > 0) AS ws
  FROM d
),
words AS (SELECT source, unnest(ws) AS w FROM wl),
uni AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_unigrams,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS distinct_unigrams
  FROM words GROUP BY source
),
bg AS (
  SELECT source, unnest([ws[k] || ' ' || ws[k+1]
                         for k in range(1, len(ws))]) AS b
  FROM wl
),
bi AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_bigrams,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS distinct_bigrams
  FROM bg GROUP BY source
),
chars AS (
  SELECT doc_id, source,
         unnest(string_split(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), '')) AS ch
  FROM documents WHERE text IS NOT NULL
),
ccount AS (
  SELECT doc_id, source, ch, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM chars WHERE length(ch) > 0 GROUP BY 1, 2, 3
),
cterm AS (
  SELECT doc_id, source,
         CAST(ROUND(-(cnt::DOUBLE / tot::DOUBLE)
                    * ln(cnt::DOUBLE / tot::DOUBLE) / ln(2.0::DOUBLE)
                    * 1e9) AS BIGINT) AS term
  FROM (SELECT *, SUM(cnt) OVER (PARTITION BY doc_id) AS tot FROM ccount)
),
edoc AS (
  SELECT d.doc_id, d.source,
         CAST(ROUND(ROUND(COALESCE(t.s, 0)::DOUBLE / 1e9, 4) * 1e4)
              AS BIGINT) AS e4
  FROM d LEFT JOIN (SELECT doc_id, CAST(SUM(term) AS BIGINT) AS s
                    FROM cterm GROUP BY doc_id) t USING (doc_id)
),
ent AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(e4) AS BIGINT) AS entropy_e4_sum
  FROM edoc GROUP BY source
),
eq AS (
  SELECT source, e4,
         row_number() OVER (PARTITION BY source
                            ORDER BY e4, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM edoc
),
dec AS (
  SELECT source,
         MAX(CASE WHEN rn = CAST(FLOOR(0.1::DOUBLE * (n - 1)) AS BIGINT)
                       + 1 THEN e4 END) AS entropy_e4_p10,
         MAX(CASE WHEN rn = CAST(FLOOR(0.5::DOUBLE * (n - 1)) AS BIGINT)
                       + 1 THEN e4 END) AS entropy_e4_p50,
         MAX(CASE WHEN rn = CAST(FLOOR(0.9::DOUBLE * (n - 1)) AS BIGINT)
                       + 1 THEN e4 END) AS entropy_e4_p90
  FROM eq GROUP BY source
)
SELECT e.source, e.n_docs,
       COALESCE(u.total_unigrams, 0) AS total_unigrams,
       COALESCE(u.distinct_unigrams, 0) AS distinct_unigrams,
       CASE WHEN COALESCE(u.total_unigrams, 0) > 0
            THEN CAST(u.distinct_unigrams * 1000000 // u.total_unigrams
                      AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS unigram_ttr_ppm,
       COALESCE(b.total_bigrams, 0) AS total_bigrams,
       COALESCE(b.distinct_bigrams, 0) AS distinct_bigrams,
       CASE WHEN COALESCE(b.total_bigrams, 0) > 0
            THEN CAST(b.distinct_bigrams * 1000000 // b.total_bigrams
                      AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS bigram_ttr_ppm,
       e.entropy_e4_sum,
       CAST(e.entropy_e4_sum // e.n_docs AS BIGINT) AS mean_entropy_e4,
       dc.entropy_e4_p10, dc.entropy_e4_p50, dc.entropy_e4_p90
FROM ent e LEFT JOIN uni u USING (source) LEFT JOIN bi b USING (source)
     LEFT JOIN dec dc USING (source)
"""
