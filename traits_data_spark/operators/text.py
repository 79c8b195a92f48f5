"""Text analysis operators for training-data pipelines: quality
scoring, language identification, token counting, fingerprinting.

All pure column expressions — the whole module is a projection, so it
runs inside whole-stage codegen at scan speed and never shuffles.
Heuristics are deliberately simple, deterministic, and SQL-expressible
so correctness oracles can recompute them exactly.
"""

from __future__ import annotations

import functools
import math
import os
from typing import Callable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traits_data_spark.functions.scalars import portable_hash64
from traits_data_spark.operators.dedup import normalized_text
from traits_data_spark.functions.barrier import barrier

# Common function words per language, used as count-based markers.
# Spaces around each marker make them word-anchored.
LANG_MARKERS: Mapping[str, Sequence[str]] = {
    "en": (" the ", " and ", " of ", " to ", " is "),
    "fr": (" le ", " la ", " les ", " et ", " est "),
    "de": (" der ", " die ", " und ", " ist ", " das "),
    "es": (" el ", " los ", " las ", " es ", " una "),
}

_STOPWORDS_EN = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
)

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of a literal substring —
    ``(len(t) - len(replace(t, s, ''))) / len(s)``, portable to any SQL
    engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def word_array(text_col: Column | str) -> Column:
    c = normalized_text(text_col, lowercase=False)
    return F.filter(F.split(c, " "), lambda w: F.length(w) > 0)


# Character classes shared with SQL oracles (RE2/Java-compatible).
PUNCT_CLASS = "[!-/:-@\\[-`{-~]"
DIGIT_CLASS = "[0-9]"
NONSPACE = "\\S+"


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def quality_features(
    df: DataFrame, text_col: str = "text", round_to: int = 4
) -> DataFrame:
    """Append length/word/punctuation/stopword quality signals.

    Every signal is a regexp-count or list-filter expression so a SQL
    oracle (DuckDB/Trino) can recompute it verbatim.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = _count_matches(t, NONSPACE)
    n_nonspace_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS_EN])
    norm_words = F.split(normalized_text(t), " ")
    n_stop = F.size(F.filter(norm_words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = _count_matches(t, PUNCT_CLASS)
    n_digit = _count_matches(t, DIGIT_CLASS)
    safe_words = F.when(n_words > 0, n_words.cast("double"))
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    return df.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "avg_word_len": F.round(n_nonspace_chars / safe_words, round_to),
            "punct_ratio": F.round(n_punct / safe_chars, round_to),
            "digit_ratio": F.round(n_digit / safe_chars, round_to),
            "stopword_ratio": F.round(n_stop / safe_words, round_to),
        }
    )


# Gopher's stop-word requirement set (Rae et al. 2021, Table A1 rules)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stops: Sequence[str] = GOPHER_STOPS,
    emit_tokens: str | None = None,
) -> DataFrame:
    """The published Gopher document-quality rule set (Rae et al.
    2021) as per-rule boolean flags plus the combined ``keep``:
    word-count bounds, mean word length in [3, 10], symbol-to-word
    ratio (# / ellipsis) <= 0.1, <= 90% bullet-started and <= 30%
    ellipsis-ended lines, >= 80% of words containing an alphabetic
    character, and >= 2 of the 8 Gopher stop words present.

    Every threshold is evaluated as an INTEGER cross-multiplication
    (``3*n_words <= n_nonspace`` instead of a float mean), so the
    flags are exact and bit-identical on any SQL engine — no float
    ratio ever materializes. Flags come back as 0/1 ints (hash-stable
    across engines), one per rule, so downstream can both filter on
    ``keep`` and report per-rule rejection rates in the same pass.

    Scale shape: a pure codegen projection — no shuffle, no UDF, no
    join; the stop-word membership is 8 ``array_contains`` probes of
    the already-split word array. Pass ``emit_tokens`` to ALSO emit
    the whitespace token count under that name — callers that need
    ``ws_tokens`` downstream (curation, datasheets) then skip a second
    normalize+split pass over the corpus.
    """
    t = F.col(text_col)
    words = word_array(t)
    lower_words = F.transform(words, lambda w: F.lower(w))
    n_words = F.size(words)
    n_nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    n_sym = _count_matches(t, "#") + _count_matches(t, r"\.\.\.")
    lines = F.filter(
        F.split(t, "\n"), lambda line: F.length(F.trim(line)) > 0
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: F.ltrim(line).startswith(F.lit("- "))
            | F.ltrim(line).startswith(F.lit("* ")),
        )
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda line: F.rtrim(line).endswith(F.lit("...")))
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stops = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in stops]),
            lambda s: F.array_contains(lower_words, s),
        )
    )
    if emit_tokens in (
        "keep", "pass_word_count", "pass_mean_word_len",
        "pass_symbol_ratio", "pass_bullet_lines", "pass_ellipsis_lines",
        "pass_alpha_words", "pass_stopwords",
    ):
        raise ValueError(
            f"emit_tokens={emit_tokens!r} collides with a rule flag"
        )
    extra = {emit_tokens: n_words.cast("long")} if emit_tokens else {}
    flags = {
        "pass_word_count": (n_words >= min_words) & (n_words <= max_words),
        "pass_mean_word_len": (F.lit(3) * n_words <= n_nonspace)
        & (n_nonspace <= F.lit(10) * n_words),
        "pass_symbol_ratio": F.lit(10) * n_sym <= n_words,
        "pass_bullet_lines": F.lit(10) * n_bullet <= F.lit(9) * n_lines,
        "pass_ellipsis_lines": F.lit(10) * n_ellipsis <= F.lit(3) * n_lines,
        "pass_alpha_words": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "pass_stopwords": n_stops >= 2,
    }
    out = df.withColumns(
        {**extra, **{name: cond.cast("int") for name, cond in flags.items()}}
    )
    keep = None
    for name in flags:
        c = F.col(name) == 1
        keep = c if keep is None else keep & c
    return out.withColumn("keep", keep.cast("int"))


def language_scores(
    text_col: Column | str, markers: Mapping[str, Sequence[str]] = LANG_MARKERS
) -> dict[str, Column]:
    """Marker-count score per language over the lowercased, padded text."""
    t = F.concat(F.lit(" "), normalized_text(text_col), F.lit(" "))
    return {
        lang: sum_cols([occurrences(t, m) for m in ms])
        for lang, ms in markers.items()
    }


def sum_cols(cols: Sequence[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def identify_language(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    markers: Mapping[str, Sequence[str]] = LANG_MARKERS,
) -> DataFrame:
    """Argmax over language marker scores; 'und' when all scores are 0.
    Ties break alphabetically (deterministic, oracle-friendly).

    The argmax is ONE ``greatest()`` over (score, priority, lang)
    structs — struct comparison is lexicographic, and priority is the
    reversed alphabetical rank, so equal scores resolve to the
    alphabetically smallest language. A WHEN-ladder formulation
    references every score column ~N² times; after projection
    collapse that inlined the replace-chain score expressions enough
    to overflow whole-stage codegen's 64 KB method limit (observed in
    the clean_corpus composition).
    """
    scores = language_scores(text_col, markers)
    out = df.withColumns({f"score_{k}": v for k, v in scores.items()})
    langs = sorted(scores)
    structs = [
        F.struct(
            F.col(f"score_{k}").alias("s"),
            F.lit(len(langs) - 1 - i).alias("p"),
            F.lit(k).alias("l"),
        )
        for i, k in enumerate(langs)
    ]
    best = F.greatest(*structs)
    pred = F.when(best.getField("s") > 0, best.getField("l")).otherwise(
        F.lit("und")
    )
    return out.withColumn(out_col, pred)


def token_counts(
    df: DataFrame, text_col: str = "text", token_regex: str = TOKEN_REGEX
) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return df.withColumns(
        {
            "ws_tokens": F.size(word_array(text_col)).cast("long"),
            "re_tokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(token_regex), F.lit(0))
            ).cast("long"),
        }
    )


# Demo subword vocabulary for bpe_token_counts: frequent English words,
# prefixes, suffixes, and bigrams — the shape of a BPE/WordPiece merge
# table (a static model artifact in a real pipeline; swap in the target
# tokenizer's vocab). Single characters are implicit (the fallback
# consumes one char as one token), so only multi-char pieces appear.
BPE_VOCAB: Sequence[str] = (
    # common whole words
    "the", "and", "of", "to", "in", "is", "it", "that", "for", "on",
    "with", "as", "was", "at", "by", "an", "be", "this", "are", "from",
    "or", "have", "not", "but", "what", "all", "were", "when", "there",
    # prefixes
    "con", "com", "pro", "pre", "per", "sub", "dis", "un", "re", "de",
    "ex", "inter", "over", "under", "trans",
    # suffixes
    "ing", "tion", "ation", "ment", "ness", "able", "ible", "ally",
    "ous", "ive", "ful", "less", "est", "ers", "ed", "ly", "es", "al",
    "ic", "ty", "ity", "ate", "ize", "ise", "ent", "ance", "ence",
    # frequent bigrams/trigrams
    "th", "he", "er", "on", "en", "ar", "or", "st", "ch", "sh", "wh",
    "qu", "ou", "le", "ck", "ght", "ther", "ion", "ter", "ver", "her",
    "ight", "ough", "ound",
)

# Greedy-match iteration cap: words needing more than this many pieces
# fall back to one-token-per-char for the remainder (both engines apply
# the same cap, so counts stay bit-identical).
BPE_CAP = 24


def bpe_effective_vocab(vocab: Sequence[str]) -> list[str]:
    """The pieces that actually participate in matching: deduped,
    multi-char only (single chars are the implicit fallback). SQL
    oracles should build their vocab relation from THIS list so both
    engines tokenize against the identical piece set."""
    return [p for p in dict.fromkeys(vocab) if len(p) >= 2]


def _vocab_by_len(vocab: Sequence[str]) -> dict[int, list[str]]:
    by_len: dict[int, list[str]] = {}
    for p in bpe_effective_vocab(vocab):
        by_len.setdefault(len(p), []).append(p)
    return by_len


def bpe_piece_count(
    word: Column, vocab: Sequence[str], cap: int = BPE_CAP
) -> Column:
    """Subword piece count of one (lowercase) word under greedy
    longest-match tokenization (WordPiece/BPE-style inference): at each
    position consume the longest vocabulary piece that matches, else
    one character. Pure column expression — runs inside whole-stage
    codegen, and a SQL oracle reproduces it with a recursive CTE
    (longest match = ``max(length(piece))`` over matching pieces).

    Iteration is ``aggregate`` over ``sequence(1, min(len, cap))`` with
    a ``(pos, cnt)`` accumulator; every step past the word end is a
    no-op, and chars left after ``cap`` greedy steps count one token
    each. Per-position cost is O(|vocab|) literal-array probes — fine
    for demo-scale vocabs; ``bpe_token_counts`` switches a larger
    vocab to ``bpe_piece_count_py`` over each DISTINCT word instead.
    """
    by_len = _vocab_by_len(vocab)
    L = F.length(word)

    def step(acc: Column, _i: Column) -> Column:
        pos = acc.getField("pos")
        # longest piece matching at pos, else 1 (single-char fallback);
        # descending-length CASE ladder = longest match wins
        m = None
        for ln in sorted(by_len, reverse=True):
            arr = F.array(*[F.lit(p) for p in by_len[ln]])
            cond = F.array_contains(arr, F.substring(word, pos, ln))
            m = F.when(cond, F.lit(ln)) if m is None else m.when(cond, F.lit(ln))
        m = m.otherwise(F.lit(1)) if m is not None else F.lit(1)
        stepped = F.struct(
            (pos + m).alias("pos"), (acc.getField("cnt") + 1).alias("cnt")
        )
        return F.when(pos > L, acc).otherwise(stepped)

    return F.aggregate(
        F.sequence(F.lit(1), F.least(L, F.lit(cap))),
        F.struct(F.lit(1).alias("pos"), F.lit(0).alias("cnt")),
        step,
        lambda acc: acc.getField("cnt")
        + F.greatest(L - acc.getField("pos") + 1, F.lit(0)),
    )


def _collect_artifact(
    model: DataFrame | Mapping | Sequence,
    keys: Sequence[str],
    value: str | None = None,
) -> list | dict:
    """A tokenizer model artifact (piece table, merge ranks, piece
    log-probs) as a driver-side object: the ``keys`` column as a list
    when ``value`` is None, else a ``key -> int(value)`` dict (tuple
    keys for several ``keys``). An in-memory vocab passes through as a
    list / dict copy. The artifact is bounded — it does not grow with
    the corpus — so one collect is the broadcast-dim-join contract."""
    if not isinstance(model, DataFrame):
        return list(model) if value is None else dict(model)
    n = len(keys)
    rows = model.select(*keys, *([value] if value else [])).collect()
    key = (lambda r: r[0]) if n == 1 else (lambda r: tuple(r[:n]))
    if value is None:
        return [key(r) for r in rows]
    return {key(r): int(r[n]) for r in rows}


def _distinct_word_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table: object,
    kernel: Callable[[str, object], tuple[int, ...]],
    outs: Sequence[str],
    grain: DataFrame | None = None,
) -> DataFrame:
    """The one execution shape of the artifact tokenizers: text is
    whitespace-normalized, lowercased and split into words, exploded
    with ``id_col``; each DISTINCT word runs ``kernel(word, table)``
    exactly once in an Arrow-batched pandas UDF (``table`` is broadcast
    once), giving one integer per ``outs`` column; the per-word results
    join back word-keyed and one per-doc sum per column restores the
    doc grain. Zipf does the heavy lifting: "the" is tokenized once,
    not 10^9 times. The word join is skew-prone by the same argument;
    it carries no hint — AQE picks the strategy and splits hot words
    (the distinct-word side can reach tens of millions of rows).

    The sums are left-joined onto ``grain`` (default ``df``), so
    documents with no words keep their row with 0s."""
    bc = df.sparkSession.sparkContext.broadcast(table)

    @F.pandas_udf(", ".join(f"{o} long" for o in outs))
    def _tok(words: pd.Series) -> pd.DataFrame:
        t = bc.value
        return pd.DataFrame(
            [kernel(w, t) for w in words], columns=list(outs), dtype="int64"
        )

    warr = F.filter(
        F.split(normalized_text(text_col), " "), lambda w: F.length(w) > 0
    )
    words = df.select(F.col(id_col), F.explode(warr).alias("__w"))
    per_word = (
        words.select("__w")
        .distinct()
        .withColumn("__t", _tok(F.col("__w")))
        .select("__w", *[F.col("__t").getField(o).alias(o) for o in outs])
    )
    sums = (
        words.join(per_word, "__w")
        .groupBy(id_col)
        .agg(*[F.sum(o).cast("long").alias(o) for o in outs])
    )
    base = df if grain is None else grain
    return base.join(sums, id_col, "left").withColumns(
        {o: F.coalesce(F.col(o), F.lit(0)).cast("long") for o in outs}
    )


# Shape threshold for bpe_token_counts: above this many effective
# pieces the O(|vocab|) per-char literal probe of the inline shape
# costs more than the distinct-word shape's three exchanges (measured
# crossover is corpus-dependent; the demo ~100-piece vocab stays
# inline, any production vocab flips).
BPE_AUTO_DISTINCT_MIN_VOCAB = 256


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    vocab: DataFrame | Sequence[str] = BPE_VOCAB,
    cap: int = BPE_CAP,
    out_col: str = "bpe_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append a subword token count per document — the model-tokenizer
    unit every token-budgeted stage (packing, mixture planning,
    curation) should budget in, rather than the whitespace-token proxy
    ``token_counts`` reports.

    Text is whitespace-split after lowercasing (vocab is lowercase);
    each word's pieces come from greedy longest-match (WordPiece-style
    inference) against ``vocab`` — a piece list, or a piece table
    (``load_bpe_vocab``) collected once as a bounded model artifact;
    null/empty text counts 0.

    The shape follows the effective vocab size (plan-time-known):

    - at most ``BPE_AUTO_DISTINCT_MIN_VOCAB`` pieces: one pure
      projection (``bpe_piece_count``) — the nested aggregate runs at
      scan speed with ZERO shuffles;
    - above it: ``_distinct_word_apply`` with ``bpe_piece_count_py``
      over length-bucketed hash sets — O(#lengths) set probes per char
      (~7 vs 12,000 literal comparisons for the CASE ladder, which
      would also blow the codegen method-size limit at that size).

    Both shapes count identically; the DuckDB oracles reproduce them
    with a recursive CTE.
    """
    pieces = _collect_artifact(vocab, ["piece"])
    if len(bpe_effective_vocab(pieces)) > BPE_AUTO_DISTINCT_MIN_VOCAB:
        return _distinct_word_apply(
            df,
            text_col,
            id_col,
            _piece_tables(pieces),
            lambda w, t: (bpe_piece_count_py(w, t, cap),),
            [out_col],
        )
    warr = F.filter(
        F.split(normalized_text(text_col), " "), lambda w: F.length(w) > 0
    )
    total = F.aggregate(
        warr,
        F.lit(0).cast("long"),
        lambda acc, w: acc + bpe_piece_count(w, pieces, cap).cast("long"),
    )
    return df.withColumn(out_col, F.coalesce(total, F.lit(0)).cast("long"))


# Committed production-scale piece table (parquet, one ``piece``
# column, 12k pieces) — see tools/build_bpe_vocab.py for provenance.
BPE_VOCAB_LARGE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "bpe_vocab_large.parquet",
)


def load_bpe_vocab(spark, path: str = BPE_VOCAB_LARGE_PATH) -> DataFrame:
    """Load a tokenizer piece table (parquet with a ``piece`` VARCHAR
    column). The vocab is a model artifact of bounded size (tens of
    thousands of pieces, a few MB) — it does NOT grow with the corpus,
    so collecting and broadcasting it is the same contract as a
    broadcast-dim join."""
    return spark.read.parquet(path)


def _piece_tables(
    pieces: Sequence[str],
) -> list[tuple[int, frozenset[str]]]:
    """Length-bucketed piece sets, longest first — greedy longest-match
    probes O(#distinct-lengths) hash lookups per position instead of
    O(|vocab|) comparisons."""
    by_len: dict[int, set[str]] = {}
    for p in dict.fromkeys(pieces):
        if len(p) >= 2:  # single chars are the implicit fallback
            by_len.setdefault(len(p), set()).add(p)
    return [
        (ln, frozenset(by_len[ln])) for ln in sorted(by_len, reverse=True)
    ]


def bpe_piece_count_py(
    word: str, tables: list[tuple[int, frozenset[str]]], cap: int = BPE_CAP
) -> int:
    """Python mirror of ``bpe_piece_count``'s exact semantics (greedy
    longest-match, at most ``cap`` greedy steps, one token per
    remaining char past the cap) over length-bucketed piece sets."""
    L = len(word)
    pos = 0
    cnt = 0
    steps = 0
    while pos < L and steps < cap:
        m = 1
        for ln, pieces in tables:
            if ln <= L - pos and word[pos : pos + ln] in pieces:
                m = ln
                break
        cnt += 1
        pos += m
        steps += 1
    return cnt + (L - pos)


# Committed ranked-merge BPE artifacts — see tools/build_bpe_merges.py
# for provenance (learned from the corpus, padded to production size
# with well-founded a-z merges) and for the naive reference tokenizer
# the oracle counts come from.
BPE_MERGES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "bpe_merges.parquet",
)
BPE_MERGE_COUNTS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "bpe_merge_counts.parquet",
)
BPE_MERGE_MAX_WORD_LEN = 64


def load_bpe_merges(spark, path: str = BPE_MERGES_PATH) -> DataFrame:
    """Load a ranked-merge table (parquet with ``rank`` BIGINT,
    ``left``/``right`` VARCHAR). Same bounded-model-artifact contract
    as ``load_bpe_vocab``."""
    return spark.read.parquet(path)


def bpe_merge_tokens_py(
    word: str,
    ranks: Mapping[tuple[str, str], int],
    max_word_len: int = BPE_MERGE_MAX_WORD_LEN,
) -> int:
    """Merge-rank BPE token count for one word — TRUE BPE inference
    (merges applied in training-rank order), unlike the greedy
    longest-match of ``bpe_piece_count_py`` (which is WordPiece-style
    inference and can diverge from a shipped model tokenizer's counts
    on the same text).

    GPT-2-shaped implementation: find the lowest-rank adjacent pair
    present, merge ALL its occurrences in one left-to-right pass,
    repeat until no mergeable pair remains. For WELL-FOUNDED merge
    tables (each merge's operand tokens are single characters or
    outputs of strictly earlier merges — true of any table produced by
    BPE training, and of the committed artifact's padding order) this
    is provably equivalent to the one-occurrence-at-a-time reference
    in tools/build_bpe_merges.py: merging an occurrence of the minimal
    pair P can only create pairs ranked after P, so the reference
    keeps re-selecting P's occurrences left-to-right — exactly this
    pass. Parity is hypothesis-tested over the committed artifact.

    Words longer than ``max_word_len`` count as one token per char
    (no merging) — the byte-fallback a real tokenizer applies to
    pathological unsplit blobs, and an O(L^2) guard.
    """
    L = len(word)
    if L > max_word_len:
        return L
    seq = list(word)
    while len(seq) >= 2:
        best = None
        for pair in zip(seq, seq[1:]):
            r = ranks.get(pair)
            if r is not None and (best is None or r < best[0]):
                best = (r, pair)
        if best is None:
            break
        a, b = best[1]
        out = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return len(seq)


def bpe_merge_token_counts(
    df: DataFrame,
    merges: DataFrame | Mapping[tuple[str, str], int],
    text_col: str = "text",
    out_col: str = "bpe_merge_tokens",
    id_col: str = "doc_id",
    max_word_len: int = BPE_MERGE_MAX_WORD_LEN,
) -> DataFrame:
    """Per-document merge-rank BPE token counts — the TRUE-BPE
    counterpart of ``bpe_token_counts`` (which stays as the
    WordPiece-style greedy variant). The ranked-merge table is a
    bounded model artifact, collected once into a ``(left, right) ->
    rank`` dict, and ``bpe_merge_tokens_py`` runs once per DISTINCT
    word (``_distinct_word_apply``). Counts are parity-locked to the
    naive reference implementation in tools/build_bpe_merges.py, whose
    precomputed per-word outputs are the DuckDB oracle artifact."""
    return _distinct_word_apply(
        df,
        text_col,
        id_col,
        _collect_artifact(merges, ["left", "right"], "rank"),
        lambda w, t: (bpe_merge_tokens_py(w, t, max_word_len),),
        [out_col],
    )


def classifier_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    weight_col: str = "weight",
    bias: int = 0,
    threshold: int = 0,
    round_to: int = 6,
) -> DataFrame:
    """Linear bag-of-words classifier scoring — the fasttext-style
    model-based quality-filter stage of an LLM data pipeline, applied
    at corpus scale without leaving the JVM.

    ``weights`` is the model artifact: one row per vocabulary term with
    an integer weight in micro-units (1e-6), quantized so per-document
    sums are exact LONG arithmetic — float summation is
    order-dependent and a distributed sum would not reproduce
    bit-identically across engines or runs. Output per document:
    ``n_words``, ``matched`` (tokens found in the vocabulary),
    ``logit_micro = bias + Σ weight[token]`` (every token occurrence
    counts, as in a bag-of-words linear model), ``score`` (the
    length-normalized logit in natural units, rounded), and ``keep``
    (``logit_micro >= threshold``).

    Scale shape (the plan that survives 100 TB): tokenize as a
    projection, ``explode`` to one row per token, broadcast-hash-join
    the vocabulary (map-side, no corpus shuffle), then ONE group-by on
    the document id — partial aggregation collapses each document's
    tokens to a single row before the exchange, so shuffle volume is
    ~1 row per document, not per token. Empty/null-text documents are
    dropped (same contract as chunk_documents).
    """
    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: F.length(w) > 0,
    )
    tokens = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.size(words).alias("n_words"), words.alias("__w"))
        .filter(F.col("n_words") > 0)
        .select(id_col, "n_words", F.explode("__w").alias(term_col))
    )
    scored = tokens.join(
        F.broadcast(weights.select(term_col, weight_col)), on=term_col, how="left"
    )
    wsum = F.sum(F.coalesce(F.col(weight_col), F.lit(0))).cast("long")
    logit = (F.lit(bias) + F.col("__wsum")).cast("long")
    return (
        scored.groupBy(id_col)
        .agg(
            F.any_value("n_words").cast("long").alias("n_words"),
            F.count(weight_col).alias("matched"),
            wsum.alias("__wsum"),
        )
        .select(
            id_col,
            "n_words",
            "matched",
            logit.alias("logit_micro"),
            F.round(logit / (F.lit(1e6) * F.col("n_words")), round_to).alias(
                "score"
            ),
            (logit >= F.lit(threshold)).alias("keep"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    ``score = tf * round(ln((N+1)/(df+1)), round_to)``, rounded again
    to ``round_to`` — each float step is a single IEEE operation with
    a round after it, so a SQL oracle recomputes it exactly. Ties
    break on term ascending (deterministic).

    Scale shape: one explode→groupBy for term frequencies (shuffle on
    (doc, term)), one groupBy for document frequencies (shuffle on
    term — partial aggregation collapses each partition to its
    vocabulary first), a broadcast of the 1-row corpus size, and one
    window for the top-k. No driver-side vocabulary, no collect.
    """
    words = df.select(
        F.col(id_col), F.explode(word_array(text_col)).alias("term")
    ).withColumn("term", F.lower(F.col("term")))
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf is unique per (doc, term), so document frequency is a row
    # count over tf — no second explode over the corpus, and Catalyst
    # reuses tf's shuffle for both consumers (ReusedExchange).
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.select(
        F.countDistinct(id_col).alias("__n_docs")
    )
    scored = (
        tf.join(docfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "idf",
            F.round(
                F.log(
                    (F.col("__n_docs") + F.lit(1.0))
                    / (F.col("df_docs") + F.lit(1.0))
                ),
                round_to,
            ),
        )
        .withColumn("score", F.round(F.col("tf") * F.col("idf"), round_to))
        .drop("__n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# PII patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround. Applied
# email → ip → phone so the broad phone pattern can't eat IP octets.
PII_PATTERNS: Sequence[tuple[str, str, str]] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9()\s.-]{6,}[0-9]", "[PHONE]"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
) -> DataFrame:
    """Regex PII redaction (emails, IPv4, phone-ish digit runs) with
    per-class match counts — the standard pre-training scrub step.

    Pure projection: every replacement and count is a regexp
    expression inside whole-stage codegen, so the scrub runs at scan
    speed with zero shuffles at any corpus size. Counts are measured
    on the ORIGINAL text (before any replacement) so classes don't
    mask each other's tallies; replacements chain in ``patterns``
    order.
    """
    t = F.col(text_col)
    counts = {
        f"n_{name}": _count_matches(t, pat).cast("long")
        for name, pat, _ in patterns
    }
    cleaned = t
    for _, pat, token in patterns:
        cleaned = F.regexp_replace(cleaned, pat, token)
    return df.withColumns({**counts, out_col: cleaned})


def repetition_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: Sequence[int] = (1, 2, 3),
    round_to: int = 4,
) -> DataFrame:
    """Within-document repetition signals (the Gopher/FineWeb-style
    quality gate): per document, for each n in ``ns``, the fraction of
    duplicated word n-grams and the share of the single most frequent
    n-gram.

    Columns (n=1 is named ``word``): ``total_words``,
    ``dup_{word,2gram,3gram}_frac`` = (total - distinct) / total,
    ``top_{word,2gram,3gram}_frac`` = max single-gram count / total.

    Scale shape: ONE explode carrying (n, gram) structs for all ns
    (narrow), a two-level aggregation — groupBy(doc, n, gram) then a
    conditional-aggregate groupBy(doc) — so partial aggregation
    collapses each partition's gram counts before the single shuffle
    on (doc, n, gram). No per-document quadratic array scans: a pure
    array-expression formulation (count each distinct gram with
    ``filter``) is O(words²) per document and dies on long documents.

    Documents whose text is NULL are filtered out explicitly (engines
    disagree on NULL propagation through lambda chains); empty text
    yields one empty-string gram per n — both match the SQL oracle's
    semantics exactly.
    """
    from traits_data_spark.operators.dedup import widen_if_narrow, word_ngrams

    df = df.filter(F.col(text_col).isNotNull())

    # NB: the lambda must be unary — PySpark treats a 2-arg lambda as
    # an (element, index) function, which would bind n to the index.
    def _tagged(n: int) -> Column:
        return F.transform(
            word_ngrams(text_col, n=n, distinct=False),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    gram_arrays = [_tagged(n) for n in ns]
    ex = (
        widen_if_narrow(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(F.concat(*gram_arrays)).alias("g"))
        .select("id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = ex.groupBy("id", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))

    def _name(n: int) -> str:
        return "word" if n == 1 else f"{n}gram"

    aggs = []
    for n in ns:
        is_n = F.col("n") == n
        aggs += [
            F.sum(F.when(is_n, F.col("cnt"))).alias(f"__total_{n}"),
            F.count(F.when(is_n, F.lit(1))).alias(f"__distinct_{n}"),
            F.max(F.when(is_n, F.col("cnt"))).alias(f"__top_{n}"),
        ]
    per_doc = counts.groupBy("id").agg(*aggs)
    out_cols: dict[str, Column] = {}
    for n in ns:
        total = F.col(f"__total_{n}")
        out_cols[f"dup_{_name(n)}_frac"] = F.round(
            (total - F.col(f"__distinct_{n}")) / total.cast("double"), round_to
        )
        out_cols[f"top_{_name(n)}_frac"] = F.round(
            F.col(f"__top_{n}") / total.cast("double"), round_to
        )
    return per_doc.select(
        F.col("id").alias(id_col),
        F.col(f"__total_{ns[0]}").alias(f"total_{_name(ns[0])}s"),
        *[c.alias(name) for name, c in out_cols.items()],
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "char_entropy",
    round_to: int = 4,
) -> DataFrame:
    """Shannon entropy (bits) of the per-document character
    distribution over the lowercased ``[a-z0-9 ]`` skeleton — the
    cheap perplexity proxy (low entropy = repetitive/degenerate text,
    near-uniform = random noise; both are quality-gate signals).

    Scale shape: explode chars → count per (doc, char) → one integer
    window for the doc total → sum. Each entropy term is rounded to
    1e-9 and summed as a scaled BIGINT, so the cross-row sum is
    order-independent — bit-identical on any engine/partitioning
    (cross-row double sums are not). Docs whose skeleton is empty get
    entropy 0.
    """
    skel = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
    chars = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(skel, "")).alias("ch")
    ).filter(F.length("ch") > 0)
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy("id"))
    p = F.col("cnt").cast("double") / F.col("__total").cast("double")
    term = F.round(-p * F.log(p) / F.lit(math.log(2)) * 1e9).cast("long")
    per_doc = (
        counts.withColumn("__total", total)
        .withColumn("__term", term)
        .groupBy("id")
        .agg(F.sum("__term").alias("__tsum"))
        .select(
            F.col("id").alias(id_col),
            F.round(F.col("__tsum").cast("double") / 1e9, round_to).alias(
                out_col
            ),
        )
    )
    base = df.select(F.col(id_col)).distinct()
    return base.join(per_doc, id_col, "left").withColumn(
        out_col, F.coalesce(out_col, F.lit(0.0))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS algorithm): from every window of ``w`` consecutive
    word-``k``-gram hashes, select the minimum (rightmost on ties),
    dedup the selections. The guarantee that makes this the standard
    copy-detection sketch: any shared passage of at least ``w + k - 1``
    words between two documents shares at least one fingerprint, while
    only ~2/(w+1) of the grams are kept.

    One row per selected fingerprint: ``(id, pos, fp)`` with ``pos``
    the 1-based gram position and ``fp`` the portable 60-bit gram
    hash — cross-doc matches are then a plain groupBy/join on ``fp``.

    Scale shape: pure per-document expressions (split → gram hashes →
    per-window fold) at scan speed, zero shuffles; the downstream
    match join keys on ``fp`` (high-cardinality, unskewed by
    construction). Null texts produce no rows.
    """
    words = F.filter(
        F.split(normalized_text(text_col), " "), lambda t: F.length(t) > 0
    )

    def fps(wl: Column) -> Column:
        n_grams = F.greatest(F.size(wl) - (k - 1), F.lit(1))
        grams_expr = F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.struct(
                portable_hash64(F.array_join(F.slice(wl, i, k), " ")).alias(
                    "h"
                ),
                i.cast("long").alias("p"),
            ),
        )

        # _let-bind the gram array: a lambda body re-evaluates any
        # OUTER expression per element (HOFs are interpreted, no CSE),
        # so an unbound `grams` re-hashed every gram once per window —
        # O(n_grams · n_wins) hash evaluations per document (167
        # task-seconds of the copy_pagerank profile, round 16). Bound,
        # the grams array is computed once per row.
        def over_grams(grams: Column) -> Column:
            def win_min(s: Column) -> Column:
                window = F.slice(grams, s, w)
                zero = F.struct(
                    F.lit((1 << 62) - 1 + (1 << 62)).alias("h"),  # 2^63-1
                    F.lit(0).cast("long").alias("p"),
                )
                return F.aggregate(
                    window,
                    zero,
                    lambda acc, x: F.when(
                        (x.getField("h") < acc.getField("h"))
                        | (
                            (x.getField("h") == acc.getField("h"))
                            & (x.getField("p") > acc.getField("p"))
                        ),
                        x,
                    ).otherwise(acc),
                )

            n_wins = F.greatest(F.size(grams) - (w - 1), F.lit(1))
            return F.array_distinct(
                F.transform(F.sequence(F.lit(1), n_wins), win_min)
            )

        return _let(grams_expr, over_grams)

    from traits_data_spark.operators.dedup import _let

    out = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(_let(words, fps)).alias("__fp")
    )
    return out.select(
        id_col,
        F.col("__fp.p").alias("pos"),
        F.col("__fp.h").alias("fp"),
    )


def winnow_matches(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    min_shared: int = 2,
    max_fp_docs: int = 1000,
) -> DataFrame:
    """Cross-document copy-detection report over a
    ``winnow_fingerprints`` table: document pairs ranked by how many
    winnowed fingerprints they share — MOSS's output, as one
    fingerprint-keyed join.

    ``max_fp_docs`` caps degenerate fingerprints (boilerplate shared
    by thousands of documents would otherwise go quadratic — the same
    guard as ``minhash_lsh_candidates``' bucket cap; capped
    fingerprints carry no copy signal anyway, exactly like LSH
    stop-buckets). ``min_shared`` floors the report (one shared
    fingerprint of a ``w+k-1`` window is a weak signal; real copies
    share many).

    Returns ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``. Scale
    shape: distinct → one groupBy(fp) with map-side combine → pairs
    expanded only inside surviving fingerprint groups → one pair-keyed
    count. Never all-pairs.
    """
    # persist the distinct fingerprint table: it feeds the bucket-size
    # aggregate AND both pair-expansion join legs, and each reference
    # otherwise re-computes the full upstream fingerprint pass after
    # the distinct's exchange (stage-profiled round 16: two ~135 s
    # task-time stages for ONE winnow pass — the exchange is reused,
    # the post-exchange work is not). At scale this is the standard
    # shuffle-once-reuse-thrice materialization.
    f = fps.select(
        F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")
    ).distinct().transform(barrier)
    sized = f.join(
        f.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_fp_docs)
        .select("__fp"),
        "__fp",
    )
    a = sized.select(F.col("__fp"), F.col("__id").alias("id_a"))
    b = sized.select(F.col("__fp"), F.col("__id").alias("id_b"))
    return (
        a.join(b, "__fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def document_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Content fingerprint: portable 60-bit hash of the alphanumeric
    skeleton (robust to whitespace/punctuation-only edits)."""
    skeleton = F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]+", ""))
    return df.withColumn(out_col, portable_hash64(skeleton))


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    champion_n: int | None = None,
    champion_salt: int = 32,
) -> DataFrame:
    """BM25 full-text retrieval: top-k corpus documents per query
    (Robertson & Spärck Jones probabilistic ranking, the Lucene /
    Elasticsearch default — reference analogue: the FULLTEXT index DDL
    the reference emits in db_writer, whose query side SURVEY scopes
    to the engine as a ranking operator).

    Scoring: ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``idf = round(ln(1 + (N-df+0.5)/(df+0.5)), round_to)`` — the
    round(ln, 6) idf follows the ``tfidf_top_terms`` precedent; every
    other float step is IEEE-deterministic in a fixed written order.
    Each per-term contribution is then converted to INTEGER micro-units
    (``round(x·10⁶)`` as BIGINT) before the per-document sum, so the
    sum is shuffle-order-free and a SQL oracle hash-matches it exactly
    (same pattern as ``pq_topk``'s ADC sums and ``lm_perplexity``).

    Scale shape (the inverted-index story at 100 TB): the corpus is
    tokenized in ONE scan-speed pass (explode + per-doc length as a
    projection); the query vocabulary — bounded by the query set, not
    the corpus — is broadcast, and postings are pruned by that
    broadcast join BEFORE any shuffle, so the (doc,term) tf aggregate
    and the df aggregate only ever shuffle matched postings. avgdl and
    N are one-row broadcast aggregates. The final top-k is a window
    partitioned by query over |Q|·matched rows. No driver collect, no
    corpus-wide shuffle on a natural key.

    ``champion_n=N`` enables champion lists (Manning IIR §7.1.3, the
    static index-pruning mode production engines pair with exhaustive
    scoring): only each term's top-N postings by ``(tf desc, doc asc)``
    are scored, bounding per-term work to N REGARDLESS of corpus size
    — the answer to the degenerate every-term-matches-everything case,
    where exhaustive scoring is |Q|·|D| (round-11 20× stress: 400×
    scored pairs). Approximate by design: a document outside all of a
    query's champion lists cannot be retrieved; ``idf``/``df`` stay
    exact (computed on the UNCUT postings — the standard contract,
    since champion lists prune scoring, not the dictionary). The cut
    is a salted two-phase top-N (top-N per (term, hash-salt bucket),
    then top-N of the ≤ N·``champion_salt`` survivors), so a hot term
    whose postings list is the whole corpus never sorts in one task —
    the same analytic-window hot-key hazard the substring profile
    avoids via groupBy.
    """
    corp = corpus.filter(F.col(text_col).isNotNull())
    # One tokenize per row WITHIN each subtree: the named __wa column
    # stops CollapseProject from inlining word_array into both size()
    # and explode() (which ran the normalize+split+filter chain twice
    # per corpus row), and dl rides along in the token projection
    # (any_value'd after the tf aggregate) so no corpus-wide doc-length
    # frame ever joins back in. NOTE the avgdl/N stats branch below is
    # a SEPARATE subtree over the same projection: toks is not
    # materialized, so the corpus is tokenized twice per query — once
    # for postings, once for the stats aggregate. Measured round 17
    # (ab_query min, sf0.1): status quo 1.87 s, toks.persist() 2.26 s,
    # eager barrier 1.88 s — materializing corpus-sized token arrays
    # costs at least what the second scan-speed pass costs, and the
    # stats subtree executes as a concurrent broadcast-future job, so
    # the second pass overlaps the main chain. Deliberately left as
    # two passes; deriving N/avgdl from the postings side is NOT
    # possible (docs with zero matched terms still count).
    toks = corp.select(F.col(id_col), word_array(text_col).alias("__wa"))
    words = toks.select(
        F.col(id_col),
        F.size("__wa").cast("long").alias("dl"),
        F.explode("__wa").alias("term"),
    ).withColumn("term", F.lower(F.col("term")))
    qterms = (
        queries.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias(query_id_col),
            F.explode(word_array(text_col)).alias("term"),
        )
        .withColumn("term", F.lower(F.col("term")))
        .distinct()
    )
    # prune postings on the broadcast query vocabulary FIRST: the tf /
    # df shuffles below only see matched postings
    qvocab = qterms.select("term").distinct()
    matched = words.join(F.broadcast(qvocab), "term")
    tf = matched.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.any_value("dl").alias("dl"),
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs")
    )
    if champion_n is not None:
        # salted two-phase per-term top-N: phase 1 ranks inside
        # (term, hash(doc) % salt) buckets — a bucket row ranked past
        # champion_n can never reach the term's global top-N — phase 2
        # ranks the <= N*salt survivors. Deterministic regardless of
        # salting; df/idf above intentionally derive from the UNCUT tf.
        order = [F.col("tf").desc(), F.col(id_col).asc()]
        w1 = Window.partitionBy(
            "term",
            F.pmod(
                portable_hash64(F.col(id_col).cast("string")),
                F.lit(int(champion_salt)),
            ),
        ).orderBy(*order)
        w2 = Window.partitionBy("term").orderBy(*order)
        tf = (
            tf.withColumn("__crk", F.row_number().over(w1))
            .filter(F.col("__crk") <= int(champion_n))
            .withColumn("__crk", F.row_number().over(w2))
            .filter(F.col("__crk") <= int(champion_n))
            .drop("__crk")
        )
    # avgdl / N over ALL docs — a scan-speed projection folded into a
    # one-row broadcast aggregate (derived from the shared token
    # projection: one tokenize, not a second per-doc word_array pass)
    doclen = toks.select(
        F.col(id_col), F.size("__wa").cast("long").alias("dl")
    )
    stats = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("__avgdl"),
    )
    idf = F.round(
        F.log(
            F.lit(1.0)
            + ((F.col("__n") - F.col("df_docs")).cast("double") + F.lit(0.5))
            / (F.col("df_docs").cast("double") + F.lit(0.5))
        ),
        round_to,
    )
    tf_norm = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("dl").cast("double") / F.col("__avgdl"))
        )
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .join(
            F.broadcast(qterms), "term"
        )  # fan out each posting to the queries containing the term
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(idf * tf_norm * F.lit(1_000_000.0))
            .cast("long")
            .alias("__c_micro"),
        )
    )
    scored = contrib.groupBy(query_id_col, "neighbor_id").agg(
        F.sum("__c_micro").cast("long").alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("matched_terms"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            query_id_col,
            "neighbor_id",
            "matched_terms",
            "score_micro",
            (F.round(F.col("score_micro") / F.lit(1_000_000.0), round_to)
             + F.lit(0.0)).alias("score"),
            "rk",
        )
    )


# Committed unigram-LM (SentencePiece-style) tokenizer artifacts — see
# tools/build_unigram_vocab.py for provenance (substring-seeded,
# EM-refined, pruned + padded to production size) and for the recursive
# reference tokenizer the oracle counts come from.
UNIGRAM_VOCAB_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "unigram_vocab.parquet",
)
UNIGRAM_COUNTS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "unigram_counts.parquet",
)
UNIGRAM_MAX_PIECE_LEN = 4
UNIGRAM_UNK_LOGP_MICRO = -20_000_000
UNIGRAM_MAX_WORD_LEN = 64


def load_unigram_vocab(spark, path: str = UNIGRAM_VOCAB_PATH) -> DataFrame:
    """Load a unigram-LM piece table (parquet with ``piece`` VARCHAR,
    ``logp_micro`` BIGINT — integer micro-nat log-probs, so no ``ln``
    ever runs in a query plan). Same bounded-model-artifact contract
    as ``load_bpe_vocab`` / ``load_bpe_merges``."""
    return spark.read.parquet(path)


def unigram_tokens_py(
    word: str,
    logp: Mapping[str, int],
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    max_word_len: int = UNIGRAM_MAX_WORD_LEN,
    unk: int = UNIGRAM_UNK_LOGP_MICRO,
) -> tuple[int, int]:
    """Unigram-LM Viterbi token count for one word (Kudo 2018, the
    SentencePiece ``unigram`` model): the segmentation maximizing
    ``(Σ logp(piece), -n_pieces)`` lexicographically — integer scores
    (micro-nats for the committed artifact, Q20 log2 for a trained
    vocab), so the optimum is exact and engine-portable. Returns
    ``(n_tokens, nll)``.

    The DP is ``unigram_train_viterbi_py`` (iterative, left to right)
    — deliberately a different implementation from the recursive
    best-suffix reference in tools/build_unigram_vocab.py it is
    parity-tested against. Unknown single chars segment with the
    fixed ``unk`` penalty (byte-fallback stand-in); words longer than
    ``max_word_len`` tokenize as chars (O(L²) guard, same rule as
    ``bpe_merge_tokens_py``)."""
    if len(word) > max_word_len:
        return len(word), -sum(logp.get(c, unk) for c in word)
    n, score, _ = unigram_train_viterbi_py(word, logp, max_piece_len, unk)
    return n, -score


def unigram_token_counts(
    df: DataFrame,
    vocab: DataFrame | Mapping[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
) -> DataFrame:
    """Per-document unigram-LM token counts and total negative
    log-prob — the third tokenizer family next to greedy
    longest-match (WordPiece inference, ``bpe_token_counts``) and
    merge-rank BPE (``bpe_merge_token_counts``).

    The piece table is a bounded model artifact collected once into a
    ``piece -> logp_micro`` dict, and Viterbi runs once per DISTINCT
    word (``_distinct_word_apply``). ``nll_micro`` is an integer
    micro-nat sum, so it is shuffle-order-free and SQL-oracle exact."""
    return _distinct_word_apply(
        df,
        text_col,
        id_col,
        _collect_artifact(vocab, ["piece"], "logp_micro"),
        lambda w, t: unigram_tokens_py(w, t, max_piece_len),
        ["unigram_tokens", "nll_micro"],
    )


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_n: int | None = None,
) -> DataFrame:
    """Vocabulary drift between two corpus slices (snapshot T vs T+1,
    source A vs source B): per-word occurrence counts on each side,
    ranked by the EXACT cross-product drift statistic

        ``drift_cross = |count_a * total_b - count_b * total_a|``

    — the integer numerator of ``|p_a(w) - p_b(w)|`` cleared of both
    denominators, so ranking needs no division at all (BIGINT-exact on
    both engines; the float rate difference would tie-break
    non-portably). ``tv_contrib`` = the word's contribution to total
    variation distance, ``drift_cross / (2 * total_a * total_b)`` — a
    single IEEE-exact division of exact integers, emitted for humans
    and still hash-stable. Σ tv_contrib over ALL words = TV(p_a, p_b).

    This is the standard drift monitor a corpus pipeline runs between
    ingestion snapshots (and the Monroe et al. "Fightin' Words" shape
    for what distinguishes corpus A from B, with raw-count evidence
    attached).

    Scale shape: two word-keyed partial-agg counts (map-side combined),
    one vocab-sized full-outer join on the word key, totals broadcast
    as one-row frames. Nothing corpus-sized survives the first
    aggregate; the optional ``top_n`` window ranks the VOCAB frame.
    At 100 TB note ``drift_cross`` spans ~2*log2(count*total) bits —
    beyond ~3e18 pre-scale counts to per-million rates first.
    """

    def _counts(df: DataFrame, out: str) -> DataFrame:
        wl = F.filter(
            F.split(normalized_text(text_col), " "),
            lambda w: F.length(w) > 0,
        )
        return (
            df.select(F.explode(wl).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    a = _counts(df_a, "count_a")
    b = _counts(df_b, "count_b")
    j = (
        a.join(b, "word", "full_outer")
        .withColumn("count_a", F.coalesce("count_a", F.lit(0)).cast("long"))
        .withColumn("count_b", F.coalesce("count_b", F.lit(0)).cast("long"))
    )
    totals = j.agg(
        F.sum("count_a").cast("long").alias("__ta"),
        F.sum("count_b").cast("long").alias("__tb"),
    )
    out = (
        j.crossJoin(F.broadcast(totals))
        .withColumn(
            "drift_cross",
            F.abs(
                F.col("count_a") * F.col("__tb")
                - F.col("count_b") * F.col("__ta")
            ).cast("long"),
        )
        .withColumn(
            "tv_contrib",
            # NULL (not NaN) when either side is empty — 0/0 must not
            # poison the hash gate
            F.when(
                (F.col("__ta") > 0) & (F.col("__tb") > 0),
                F.round(
                    F.col("drift_cross").cast("double")
                    / (
                        F.lit(2) * F.col("__ta") * F.col("__tb")
                    ).cast("double"),
                    9,
                )
                + F.lit(0.0),
            ),
        )
        .select("word", "count_a", "count_b", "drift_cross", "tv_contrib")
    )
    if top_n is not None:
        w = Window.orderBy(F.col("drift_cross").desc(), F.col("word").asc())
        out = (
            out.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= int(top_n))
        )
    return out


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    max_word_len: int = 32,
) -> DataFrame:
    """Learn the top-``n_merges`` BPE merges from the corpus (Sennrich
    et al., ACL'16 — the algorithm behind GPT-2/LLaMA tokenizers),
    ON-CLUSTER: the distributed counterpart of the offline artifact
    builder (``tools/build_bpe_merges.py``), for the 100-TB regime
    where the tokenizer must be trained on the corpus being curated
    rather than on a laptop sample. Returns ``(rank, left, right,
    pair_count)`` — most-frequent adjacent symbol pair first,
    occurrence-weighted, lexicographic (left, right) tie-break.

    Scale shape: the corpus is touched ONCE (the distinct-word count
    shuffle — the same Zipf collapse every tokenizer op here rides);
    each merge iteration then runs on the bounded vocabulary table:
    one pair-count shuffle over ~|vocab| rows, a global top-1
    (TakeOrderedAndProject — no full sort), and a broadcast one-row
    cross join applying the merge as a LITERAL (non-regex) string
    replace over the spaced-symbol form. Per-iteration eager
    ``localCheckpoint`` keeps the vocab table's plan flat (the frames
    are vocab-sized, so the job barrier costs microseconds — the
    opposite trade from ``kmeans_fit``'s corpus-scale loop, which
    checkpoints only once at the end).

    Exactness: the merge pass is a string FOLD over the symbol array
    (Spark ``aggregate`` / DuckDB ``list_reduce``, '' sentinel
    accumulator): append ``x`` to the tail symbol when the tail
    equals ``left`` and ``x`` equals ``right``, else start a new
    symbol — exactly canonical greedy left-to-right non-overlapping
    merging ('a a a a a' under (a,a) → [aa, aa, a]; a freshly merged
    tail never re-matches because ``ends_with(acc, ' '||left)`` sees
    the merged symbol, not its suffix). A literal
    ``replace(' l l ', ' ll ')`` is NOT equivalent: each match
    consumes the shared separator space, skipping adjacent disjoint
    occurrences ('a b a b' would merge only the first pair). Pair
    counts are integer sums — no floating point anywhere.
    """
    merges, _ = _bpe_train_loop(
        df, text_col=text_col, n_merges=n_merges, max_word_len=max_word_len
    )
    if not merges:  # nothing learnable (empty corpus / single-char words)
        return df.sparkSession.createDataFrame(
            [], "rank long, left string, right string, pair_count long"
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _bpe_train_words(
    df: DataFrame, text_col: str, max_word_len: int
) -> DataFrame:
    """Distinct-word counts for BPE training: normalized lowercase
    words, empty and over-length words excluded."""
    nt = normalized_text(F.col(text_col), lowercase=True)
    wlist = F.filter(
        F.split(nt, " "),
        lambda x: (F.length(x) > 0) & (F.length(x) <= max_word_len),
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(wlist).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _bpe_train_loop(
    df: DataFrame, text_col: str, n_merges: int, max_word_len: int
) -> tuple[list[DataFrame], DataFrame]:
    """Shared merge-learning loop: returns the per-rank one-row merge
    frames AND the final word-state table ``(w, sym, c)`` — the word
    survives the loop so ``bpe_train_token_counts`` can tokenize the
    corpus by joining back on it (in rank-8 BPE the final training
    states ARE the tokenization under the learned merges)."""
    wc = _bpe_train_words(df, text_col, max_word_len)
    cur = wc.select(
        "w",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
        ).alias("sym"),
        "c",
    ).transform(barrier)

    def fold_merge(acc: Column, x: Column) -> Column:
        hit = acc.endswith(F.concat(F.lit(" "), F.col("__l"))) & (
            x == F.col("__r")
        )
        return F.when(hit, F.concat(acc, x)).otherwise(
            F.concat(acc, F.lit(" "), x)
        )

    merges: list[DataFrame] = []
    for i in range(n_merges):
        arr = F.split(F.trim(F.col("sym")), " ")
        sz = F.size(arr)
        pairs = cur.select(
            "c",
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, sz - 1),
                    F.slice(arr, 2, sz - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("pr"),
        )
        best = (
            pairs.groupBy(
                F.col("pr.l").alias("left"), F.col("pr.r").alias("right")
            )
            .agg(F.sum("c").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "left", "right")
            .limit(1)
            .transform(barrier)
        )
        if best.isEmpty():  # vocabulary fully merged — nothing left
            break
        merges.append(
            best.select(
                F.lit(i + 1).cast("long").alias("rank"),
                "left",
                "right",
                "pair_count",
            )
        )
        cur = (
            cur.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("left").alias("__l"),
                        F.col("right").alias("__r"),
                    )
                )
            )
            .select(
                "w",
                F.concat(
                    F.aggregate(
                        F.split(F.trim(F.col("sym")), " "),
                        F.lit(""),
                        fold_merge,
                    ),
                    F.lit(" "),
                ).alias("sym"),
                "c",
            )
            .transform(barrier)
        )
    return merges, cur


def bpe_train_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_trained_tokens",
    n_merges: int = 8,
    max_word_len: int = 32,
) -> DataFrame:
    """Train BPE on the corpus, then tokenize the SAME corpus with the
    merges just learned — the end-to-end on-cluster tokenizer story
    (every other tokenizer entry applies a PRE-committed artifact).
    With merges applied in rank order, the training loop's final
    word-state table IS the tokenization, so application costs one
    vocab-sized broadcast join back to the exploded corpus — no
    second tokenization pass exists to disagree with training. Words
    longer than ``max_word_len`` (excluded from training) fall back
    to one-token-per-char, the same total-function convention as
    ``bpe_merge_token_counts``; documents with no words keep their
    row with 0 tokens. Output: ``(id_col, out_col)``."""
    _, states = _bpe_train_loop(
        df, text_col=text_col, n_merges=n_merges, max_word_len=max_word_len
    )
    ntok = states.select(
        "w",
        F.size(F.split(F.trim(F.col("sym")), " ")).cast("long").alias(
            "__nt"
        ),
    )
    nt = normalized_text(F.col(text_col), lowercase=True)
    wlist = F.filter(F.split(nt, " "), lambda x: F.length(x) > 0)
    words = df.select(
        F.col(id_col),
        F.explode_outer(
            F.when(F.col(text_col).isNotNull(), wlist)
        ).alias("w"),
    )
    return (
        words.join(F.broadcast(ntok), "w", "left")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("w").isNull(), F.lit(0))
                .when(F.col("__nt").isNotNull(), F.col("__nt"))
                .otherwise(F.length(F.col("w")).cast("long"))
            )
            .cast("long")
            .alias(out_col)
        )
    )


# --- word n-gram language models: Laplace bigram + the Kneser-Ney family --

#: Key columns of each order's n-gram table: the last key is the
#: predicted word, the others its context.
_NGRAM_KEYS = {2: ("u", "w"), 3: ("u", "v", "w"), 4: ("t", "u", "v", "w")}
#: What the scorers' per-document columns call one n-gram of the order.
_NGRAM_NAMES = {2: "bigram", 3: "trigram", 4: "fourgram"}
#: Top-level modified-KN context bucket columns; these names follow no
#: rule (continuation levels use ``m<first context key>1/2/3p``).
_MKN_TOP_BUCKETS = {
    2: ("nu1", "nu2", "nu3p"),
    3: ("nu1uv", "nu2uv", "nu3puv"),
    4: ("nu1", "nu2", "nu3p"),
}
_MKN_DEC = "decimal(38,0)"
#: Q40 fixed-point scale for the order-4 cross-level composition
#: (2^40 — chosen so the smallest representable probability step,
#: 2^-40 ~ 9.1e-13, sits three decades below the ``prob_dp=9``
#: output rounding).
MKN4_Q = 1 << 40
MKN4_Q_BITS = 40
#: From this order on the levels compose in Q40: the exact full-product
#: ratio would pass DECIMAL(38,0).
_Q40_ORDER = 4


def _ngram_keys(order: int) -> tuple[str, ...]:
    if order not in _NGRAM_KEYS:
        raise ValueError(
            f"n-gram order must be one of {sorted(_NGRAM_KEYS)}, got {order}"
        )
    return _NGRAM_KEYS[order]


def _ngram_rows(
    df: DataFrame, order: int, text_col: str, max_word_len: int, *carry: str
) -> DataFrame:
    """One row per word n-gram of every non-null ``text_col``: the
    ``carry`` columns, then the order's key columns. Each document is
    prefixed with ``order - 1`` sentence-start ``<s>`` tokens, so its
    first word gets a well-defined context; the n-grams are ``order``
    shifted slices of the token array zipped in-plan (no self-join, no
    Python)."""
    keys = _ngram_keys(order)
    nt = normalized_text(F.col(text_col), lowercase=True)
    wlist = F.filter(
        F.split(nt, " "),
        lambda x: (F.length(x) > 0) & (F.length(x) <= max_word_len),
    )
    toks = df.filter(F.col(text_col).isNotNull()).select(
        *carry,
        F.concat(F.array(*[F.lit("<s>")] * (order - 1)), wlist).alias("ws"),
    )
    # every slice holds n - order + 1 >= 0 tokens (the prepend makes
    # n >= order - 1; an empty word list yields no n-gram)
    m = F.size("ws") - (order - 1)
    grams = F.arrays_zip(*[F.slice("ws", i + 1, m) for i in range(order)])
    return toks.select(*carry, F.explode(grams).alias("g")).select(
        *carry, *[F.col("g")[str(i)].alias(k) for i, k in enumerate(keys)]
    )


def word_ngram_counts(
    df: DataFrame,
    order: int,
    text_col: str = "text",
    max_word_len: int = 32,
) -> DataFrame:
    """Word n-gram type counts with the ``order - 1`` sentence-start
    prepend: ``(u, w, n_uw)`` at order 2, ``(u, v, w, n_uvw)`` at 3,
    ``(t, u, v, w, n_tuvw)`` at 4 — the count stage of the LM trainers
    and a persistable LM-count index. Counts are ADD-MERGEABLE
    (``merge_ngram_counts`` of per-slice counts == counts over the
    union), so a nightly ingest extends the persisted table from the
    new batch alone and the model re-derives from the type-bounded
    counts — history text is never re-tokenized (the
    ``content_hash_index`` maintenance contract applied to LM
    training). Scale: one corpus-scale shuffle (the n-gram groupBy,
    map-side combine)."""
    keys = _ngram_keys(order)
    return (
        _ngram_rows(df, order, text_col, max_word_len)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_" + "".join(keys)))
    )


def merge_ngram_counts(*parts: DataFrame) -> DataFrame:
    """Merge per-slice ``word_ngram_counts`` tables of one order (union
    + keyed sum) — one shuffle over count rows, never over text."""
    if not parts:
        raise ValueError("merge_ngram_counts needs at least one part")
    *keys, cnt = parts[0].columns
    return (
        functools.reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy(*keys)
        .agg(F.sum(cnt).cast("long").alias(cnt))
    )


def _lm_counts(
    fn: str,
    df: DataFrame | None,
    counts: DataFrame | None,
    order: int,
    text_col: str,
    max_word_len: int,
) -> DataFrame:
    """A trainer's count table: ``counts`` as passed, or counted from
    ``df`` and barriered — every consumer (context totals, lower
    levels, discount frames, the model join) would otherwise re-run
    the corpus tokenize + shuffle. Exactly one of ``df``/``counts`` is
    required: passing both would make the no-text-touched contract of
    ``counts=`` ambiguous at call sites."""
    if counts is None:
        if df is None:
            raise ValueError(f"{fn} needs df or counts")
        return word_ngram_counts(df, order, text_col, max_word_len).transform(
            barrier
        )
    if df is not None:
        raise ValueError(
            f"{fn}: pass df OR counts, not both — with "
            "counts= the corpus text is never touched"
        )
    return counts


def train_bigram_lm(
    df: DataFrame | None = None,
    text_col: str = "text",
    max_word_len: int = 32,
    prob_dp: int = 9,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Train the Laplace-smoothed word-bigram LM ON-CLUSTER — the
    distributed counterpart of the offline artifact builder
    (``tools/build_word_lm.py``) whose output the CCNet-style
    perplexity filter (``operators/perplexity.py``) consumes. One row
    per SEEN bigram: ``(u, w, n_uw, n_u, p)`` with
    ``p = round((n_uw + 1) / (n_u + V), prob_dp)`` where ``V`` =
    |vocab| + 1 ('<unk>') — exactly the builder's model, minus the
    ``ln``: log-probs are transcendental and belong in the artifact
    step (JVM/glibc ``ln`` is not correctly rounded), while the single
    IEEE division here IS correctly rounded on both engines, so the
    smoothed probability itself is hash-matchable.

    Scale shape: sentence-start bigrams via one array prepend (no
    self-join); ONE corpus-scale shuffle (the bigram groupBy, partial
    map-side combine); context totals derive from the bigram table
    (vocab²-bounded), never from a second corpus pass; V is a one-row
    broadcast cross join. Pass ``counts=`` (a ``word_ngram_counts(df,
    2)`` table — e.g. a persisted index extended via
    ``merge_ngram_counts``) to re-derive the model without touching
    corpus text; exactly one of ``df``/``counts`` is required."""
    counts = _lm_counts("train_bigram_lm", df, counts, 2, text_col, max_word_len)
    ctx = counts.groupBy("u").agg(F.sum("n_uw").cast("long").alias("n_u"))
    # V = distinct target words + '<unk>' (targets only: '<s>' is a
    # context, never a prediction — mirrors build_word_lm.py's vocab)
    vocab = counts.select("w").distinct().agg(
        (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("__V")
    )
    return (
        counts.join(ctx, "u")
        .crossJoin(F.broadcast(vocab))
        .select(
            "u",
            "w",
            "n_uw",
            "n_u",
            F.round(
                (F.col("n_uw") + F.lit(1)).cast("double")
                / (F.col("n_u") + F.col("__V")).cast("double"),
                prob_dp,
            ).alias("p"),
        )
    )


def _mkn_bucket(cnt: str, k: int):
    """Aggregate: count of rows whose ``cnt`` equals ``k`` (or >= 3
    for k=3) — the per-context type buckets the modified-KN gamma
    weighs by its three discounts."""
    cond = F.col(cnt) == k if k < 3 else F.col(cnt) >= 3
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def mkn_discount_glob(
    frame: DataFrame,
    cnt: str,
    p: str,
    modified: bool = True,
    total: bool = False,
) -> DataFrame:
    """One-row discount frame of one LM level from the count-of-counts
    c1..c4 of ``frame``'s ``cnt`` column: the discounts D1, D2, D3+
    (applied to counts 1, 2, 3+) as DECIMAL(38,0) numerators
    ``__{p}1..__{p}3`` over the common denominator ``__{p}D``. With
    ``Y = c1/(c1 + 2 c2)`` (Chen & Goodman 1998 §3)::

        D1 = 1 - 2 Y c2/c1,  D2 = 2 - 3 Y c3/c2,  D3+ = 3 - 4 Y c4/c3

    over the reduced denominator ``c2*c3*(c1 + 2 c2)`` (c1 cancels out
    of D1), each clamped into its textbook range ``[0, level]`` as
    KenLM asserts — the clamp also keeps every count term
    ``c*DD - d(c)`` non-negative, since ``c >= level`` on each branch.
    A degenerate chain (any of c1..c3 = 0) falls back to the single
    Ney discount ``D = c1/(c1 + 2 c2)`` for all three (textbook 3/4
    when even that is undefined); ``modified=False`` forces that
    fallback, which is interpolated KN. ``total=True`` adds the
    frame's row count ``__nbb`` to the same aggregate. The prefix
    ``p`` lets every level's frame share one broadcast row."""
    DEC = _MKN_DEC
    raw = frame.agg(
        *[
            F.sum(F.when(F.col(cnt) == k, 1).otherwise(0))
            .cast("long")
            .alias(f"__c{k}")
            for k in (1, 2, 3, 4)
        ],
        *([F.count(F.lit(1)).cast("long").alias("__nbb")] if total else []),
    )
    healthy = (
        (F.col("__c1") > 0) & (F.col("__c2") > 0) & (F.col("__c3") > 0)
        if modified
        else F.lit(False)
    )
    c1, c2, c3, c4 = (F.col(f"__c{k}").cast(DEC) for k in (1, 2, 3, 4))
    yd = c1 + F.lit(2).cast(DEC) * c2
    big = c2 * c3 * yd
    raws = (
        c1 * c2 * c3,
        (F.lit(2).cast(DEC) * c2 * yd - F.lit(3).cast(DEC) * c1 * c3) * c3,
        (F.lit(3).cast(DEC) * c3 * yd - F.lit(4).cast(DEC) * c1 * c4) * c2,
    )
    fb_dn = F.when(yd > 0, c1).otherwise(F.lit(3).cast(DEC))
    fb_dd = F.when(yd > 0, yd).otherwise(F.lit(4).cast(DEC))
    return raw.select(
        *[
            F.when(
                healthy,
                F.least(
                    F.greatest(r, F.lit(0).cast(DEC)), F.lit(k).cast(DEC) * big
                ),
            )
            .otherwise(fb_dn)
            .cast(DEC)
            .alias(f"__{p}{k}")
            for k, r in enumerate(raws, 1)
        ],
        F.when(healthy, big).otherwise(fb_dd).cast(DEC).alias(f"__{p}D"),
        *([F.col("__nbb").cast(DEC).alias("__nbb")] if total else []),
    )


def train_kn_lm(
    df: DataFrame | None = None,
    *,
    order: int = 2,
    modified: bool = False,
    text_col: str = "text",
    max_word_len: int = 32,
    prob_dp: int = 9,
    keep_ratio: bool = False,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Train a Kneser-Ney word n-gram LM of ``order`` 2–4 ON-CLUSTER —
    interpolated KN, or with ``modified=True`` the modified KN that
    KenLM (the published CCNet scorer, order 5) ships (Kneser & Ney
    1995; Chen & Goodman 1998 §3). One recursion over levels: the top
    level uses raw counts ``c``; each lower level k uses CONTINUATION
    counts ``N1+(. ks)`` — the level above's types grouped on its last
    k keys, never a second corpus pass — and level 1 is
    ``P1(w) = ncw/Nbb`` over the level-2 types::

        Pk(w|ctx) = max(c - d(c), 0)/n_ctx + gamma_k(ctx) * Pk-1(w|ctx')

    Each level estimates its own discounts from its own count-of-counts
    (``mkn_discount_glob``). Modified KN charges D1/D2/D3+ by count and
    ``gamma_k = (D1*b1 + D2*b2 + D3*b3)/n_ctx`` over the context's
    types bucketed by count 1/2/3+; interpolated KN charges the single
    Ney discount ``D = n1/(n1 + 2 n2)`` and ``gamma_k = D*N1+(ctx .)/
    n_ctx``. Discounts are integer fractions ``d/DD``, so with
    ``g_k = d1*b1 + d2*b2 + d3*b3`` (``d*N1+(ctx .)`` for KN) and from
    ``num_1 = ncw``, ``den_1 = Nbb`` the levels compose as::

        num_k = max(c*DD - d(c), 0)*den_k-1 + g_k*num_k-1
        den_k = n_ctx*DD*den_k-1

    Exactness: orders 2–3 keep ``p_num/p_den`` as ONE exact
    DECIMAL(38,0) ratio (HUGEINT on the DuckDB oracle; shuffle-order
    free, NULL/error past 1e38 — never a silent wrap) ending in one
    IEEE division rounded to ``prob_dp``; each context distributes
    exactly 1 over the full vocabulary (tested with
    ``fractions.Fraction``). The order-2 numerator carries
    ``n_uw*DD*Nbb``, past 2^63 already at 1e8-count contexts (tested);
    at order 3 the denominator multiplies five statistics, so at
    extreme web scale (every factor ~1e8) shard the model by context
    hash and train per shard. At order 4 that product has seven factors
    and passes 1e38 even at modest corpus sizes, so the order selects
    the fixed-point form instead: each seam floors in Q40 —

        p_1q = ncw*2^40 div Nbb
        p_kq = (max(c*DD - d(c), 0)*2^40 + g_k*p_k-1q) div (n_ctx*DD)

    ``div`` is integral division on BOTH engines (Spark ``DIV`` on
    DECIMAL, DuckDB ``//`` on HUGEINT; all terms non-negative, so trunc
    == floor), making ``p_q40`` bit-identical cross-engine. The floor
    injects < 2^-40 absolute error per seam (three decades under the
    ``prob_dp=9`` rounding); the per-level width bound is
    ``count*DD*2^40 < 1e38``, past which Spark NULLs/ANSI-throws. The
    final ``p = round(p_q40/2^40, prob_dp)`` divides a <=41-bit integer
    by a power of two: deterministic IEEE on both engines.

    Scale shape: ONE corpus-scale shuffle (the n-gram groupBy, map-side
    combine). The count table built from text and each continuation
    table are barriered once (each has several consumers); the context
    aggregates, discount frames (one broadcast row) and the model join
    over the keyed level tables are type-table-sized, not corpus.

    Output: the keys; then per level, top-down, its count, context
    total and context stats (order 2: ``n_uw, n_u, n1u`` or ``n_uw,
    n_u, nu1, nu2, nu3p``; a continuation level of order 3: ``c2_vw,
    c2_v, n1v`` or ``c2_vw, c2_v, mv1, mv2, mv3p``); then ``ncw`` and
    ``p``. ``keep_ratio=True`` adds the exact DECIMAL(38,0)
    ``p_num``/``p_den`` at orders 2–3 (``p_num >= 1`` always: the
    continuation term is a product of positive counts) or the BIGINT
    ``p_q40`` at order 4. Pass ``counts=`` (a persisted
    ``word_ngram_counts(df, order)`` index extended via
    ``merge_ngram_counts``) to re-derive the model without touching
    corpus text — exactly one of ``df``/``counts`` is required."""
    DEC = _MKN_DEC
    keys = _ngram_keys(order)
    counts = _lm_counts("train_kn_lm", df, counts, order, text_col, max_word_len)
    # level tables top-down (the count table, then each continuation
    # table); the model frame ``d`` joins each level's table and
    # context aggregate as the loop builds them
    table, d, frames, levels, cols = counts, counts, [], [], list(keys)
    for k in range(order, 1, -1):
        ks = keys[-k:]
        ctx = ks[:-1]
        prefix = "n_" if k == order else f"c{k}_"
        cnt, tot = prefix + "".join(ks), prefix + "".join(ctx)
        if k < order:
            # continuation table: its context totals, the next level
            # down, its discount frame and the model join all read it
            table = (
                table.groupBy(*ks)
                .agg(F.count(F.lit(1)).cast("long").alias(cnt))
                .transform(barrier)
            )
            d = d.join(table, list(ks))
        if not modified:
            stats = ("n1" + "".join(ctx),)
            aggs = [F.count(F.lit(1)).cast("long").alias(stats[0])]
        else:
            stats = (
                _MKN_TOP_BUCKETS[order]
                if k == order
                else tuple(f"m{ctx[0]}{b}" for b in ("1", "2", "3p"))
            )
            aggs = [_mkn_bucket(cnt, b).alias(s) for b, s in enumerate(stats, 1)]
        d = d.join(
            table.groupBy(*ctx).agg(F.sum(cnt).cast("long").alias(tot), *aggs),
            list(ctx),
        )
        # the type total Nbb (DECIMAL(38,0)) rides in level 2's
        # discount aggregate at every order
        frames.append(
            mkn_discount_glob(table, cnt, f"l{k}", modified, total=k == 2)
        )
        levels.append((k, cnt, tot, stats))
        cols += [cnt, tot, *stats]
    pred = table.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("ncw"))
    d = d.join(pred, "w").crossJoin(
        F.broadcast(functools.reduce(lambda a, b: a.crossJoin(b), frames))
    )

    q40 = order >= _Q40_ORDER
    if q40:
        d = d.withColumn(
            "__p1q",
            F.expr(
                f"(CAST(ncw AS {DEC}) * CAST({MKN4_Q} AS {DEC})) DIV __nbb"
            ).cast(DEC),
        )
    else:
        num, den = F.col("ncw").cast(DEC), F.col("__nbb")
    for k, cnt, tot, stats in reversed(levels):
        c = F.col(cnt)
        disc = F.col(f"__l{k}1")
        if modified:
            disc = (
                F.when(c == 1, disc)
                .when(c == 2, F.col(f"__l{k}2"))
                .otherwise(F.col(f"__l{k}3"))
            )
        term = F.greatest(
            c.cast(DEC) * F.col(f"__l{k}D") - disc, F.lit(0).cast(DEC)
        )
        gamma = functools.reduce(
            lambda a, b: a + b,
            [
                F.col(f"__l{k}{i}") * F.col(s).cast(DEC)
                for i, s in enumerate(stats, 1)
            ],
        )
        if q40:
            d = (
                d.withColumn(f"__num{k}", term)
                .withColumn(f"__gam{k}", gamma)
                .withColumn(
                    f"__p{k}q",
                    F.expr(
                        f"(__num{k} * CAST({MKN4_Q} AS {DEC})"
                        f" + __gam{k} * __p{k - 1}q)"
                        f" DIV (CAST({tot} AS {DEC}) * __l{k}D)"
                    ).cast(DEC),
                )
            )
        else:
            scale = F.col(tot).cast(DEC) * F.col(f"__l{k}D")
            num, den = term * den + gamma * num, scale * den
    cols.append("ncw")
    if q40:
        pq = F.col(f"__p{order}q")
        ratio = [pq.cast("long").alias("p_q40")]
        p = pq.cast("double") / F.lit(float(MKN4_Q))
    else:
        num, den = num.cast(DEC), den.cast(DEC)
        ratio = [num.alias("p_num"), den.alias("p_den")]
        p = num.cast("double") / den.cast("double")
    return d.select(
        *cols, *(ratio if keep_ratio else []), F.round(p, prob_dp).alias("p")
    )


def kn_doc_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = 32,
    *,
    order: int = 2,
    modified: bool = False,
) -> DataFrame:
    """Train-then-score under the order-``order`` Kneser-Ney LM — the
    ``bpe_train_tokens`` / ``dsir_train_select`` discipline applied to
    the CCNet-style perplexity gate: fit ``train_kn_lm`` (same
    ``order``/``modified``) on the corpus, then score every document's
    n-gram stream under the model the plan just learned, with NO
    committed artifact and NO transcendentals. Each n-gram's cost is an
    exact Q20 negative log2-probability (``intmath.with_ilog2_q20``
    JVM-side), so the per-document sum is a BIGINT: shuffle-order-free
    and hash-exact cross-engine.

    - Orders 2–3 cost ``ilog2_q20(p_den) - ilog2_q20(p_num)`` over the
      exact ratio. The 64-bit log2 stage takes both through
      ``try_cast`` to BIGINT: exact while the model denominator stays
      below 2^63 (shard the model by context hash at web-corpus type
      counts, as with training), NULL past it — never a wrapped value,
      REGARDLESS of ``spark.sql.ansi.enabled`` — so a breach is loud
      in any gate.
    - Order 4 costs one log, ``40*2^20 - ilog2_q20(max(p_q40, 1))``,
      over the trainer's bit-identical Q40 probability; an n-gram
      whose probability floors to 0 in Q40 (< 2^-40) is charged
      exactly the grid's 40-bit ceiling on both engines.

    Scoring the training corpus itself means every n-gram is in-model
    (no OOV branch); a deployment scoring NEW text backs off unseen
    n-grams through the same integer shapes. Scale: the trainer's
    shuffles, the ilog2 chain as pure codegen over the type-bounded
    model, one corpus-scale shuffle joining the per-doc n-gram stream
    to the model on its keys (broadcastable when the model is small),
    one doc-keyed agg.

    Output: ``(id_col, n_<g>s, nll_q20, bits_per_<g>_q20)`` with
    ``<g>`` = bigram / trigram / fourgram — total and truncated-mean
    negative log2-likelihood in Q20 micro-bits.
    """
    from traits_data_spark.functions.intmath import with_ilog2_q20

    keys = _ngram_keys(order)
    model = train_kn_lm(
        df, order=order, modified=modified, text_col=text_col,
        max_word_len=max_word_len, keep_ratio=True,
    )
    if order >= _Q40_ORDER:
        model = model.select(
            *keys, F.greatest("p_q40", F.lit(1)).cast("long").alias("p_q40")
        )
        model = with_ilog2_q20(model, "p_q40", "__il")
        bits = F.lit(MKN4_Q_BITS * (1 << 20)).cast("long") - F.col("__il")
    else:
        model = model.select(
            *keys,
            F.col("p_num").try_cast("long").alias("p_num"),
            F.col("p_den").try_cast("long").alias("p_den"),
        )
        model = with_ilog2_q20(model, "p_num", "__iln")
        model = with_ilog2_q20(model, "p_den", "__ild")
        bits = F.col("__ild") - F.col("__iln")
    g = _NGRAM_NAMES[order]
    return (
        _ngram_rows(df, order, text_col, max_word_len, id_col)
        .join(model.select(*keys, bits.alias("__bits_q20")), list(keys))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{g}s"),
            F.sum("__bits_q20").cast("long").alias("nll_q20"),
        )
        .withColumn(
            f"bits_per_{g}_q20",
            # integer division (values are non-negative, so trunc ==
            # floor on both engines; no double round-trip)
            F.expr(f"nll_q20 DIV n_{g}s").cast("long"),
        )
    )


def kn4_doc_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = 32,
) -> DataFrame:
    """``kn_doc_scores`` at order 4 under modified KN — its own
    module-level name so callers and tracers can address it."""
    return kn_doc_scores(df, id_col, text_col, max_word_len, order=4, modified=True)


# --- on-cluster unigram-LM (SentencePiece) training --------------------

UNIGRAM_TRAIN_MAX_PIECE_LEN = 4
UNIGRAM_TRAIN_MAX_WORD_LEN = 16
UNIGRAM_TRAIN_EM_ITERS = 2
UNIGRAM_TRAIN_VOCAB_SIZE = 150
UNIGRAM_TRAIN_SEED_CAP = 4096
# 2^-40 in Q20 micro-bits. In TRAINING this never fires (every corpus
# char is a seeded single); it exists for the apply path's totality on
# unseen text.
UNIGRAM_TRAIN_UNK_Q20 = -(40 << 20)


def unigram_train_viterbi_py(
    word: str,
    scores: Mapping[str, int],
    max_piece_len: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    unk: int = UNIGRAM_TRAIN_UNK_Q20,
) -> tuple[int, int, list[str]]:
    """Viterbi segmentation WITH backtrace for the unigram trainer's
    E-step: maximize ``(Σ score_q20, -n_pieces, last_piece_len)``
    lexicographically. The third key makes the CHOSEN PIECES (not just
    the optimum value) deterministic when two segmentations tie on
    score and count — the trainer counts pieces, so both engines must
    pick the same ones (the DuckDB oracle's ``list_sort(...)[-1]``
    realizes the identical order). Returns
    ``(n_tokens, total_score, pieces)``. Unknown single chars take the
    ``unk`` penalty."""
    L = len(word)
    # dp[i] = best (score, -count, piece_len) for word[:i]
    dp: list[tuple[int, int, int]] = [(0, 0, 0)] + [None] * L  # type: ignore[list-item]
    for i in range(1, L + 1):
        best = None
        for l in range(1, min(max_piece_len, i) + 1):
            s = scores.get(word[i - l : i])
            if s is None:
                if l != 1:
                    continue
                s = unk
            prev = dp[i - l]
            cand = (prev[0] + s, prev[1] - 1, l)
            if best is None or cand > best:
                best = cand
        dp[i] = best  # type: ignore[assignment]
    pieces: list[str] = []
    pos = L
    while pos > 0:
        l = dp[pos][2]
        pieces.append(word[pos - l : pos])
        pos -= l
    pieces.reverse()
    return -dp[L][1], dp[L][0], pieces


def _unigram_seed_counts(
    wc: DataFrame, max_piece_len: int, seed_cap: int
) -> DataFrame:
    """Substring-seeded piece counts from the distinct-word table:
    every substring of length ``1..max_piece_len`` of every word,
    occurrence-weighted — the standard unigram-LM candidate inventory
    (Kudo 2018 seeds from frequent substrings the same way). Single
    chars are ALWAYS kept (coverage); multi-char pieces are capped at
    the top ``seed_cap`` by ``(count DESC, piece ASC)`` so the driver
    collect that follows is bounded by the CAP, not by the corpus'
    substring diversity (the 100-TB guard: a CJK-heavy corpus has
    billions of distinct 4-grams; its top few thousand is a model
    artifact). The global rank window runs on the already-aggregated
    piece table — vocab-scale, one task, microseconds."""
    pieces = (
        wc.select(
            "c", "w", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
        )
        .select(
            "c",
            "w",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_piece_len), F.col("i"))
                )
            ).alias("l"),
        )
        .select(
            F.col("w").substr(
                F.col("i") - F.col("l") + 1, F.col("l")
            ).alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    singles = pieces.filter(F.length("piece") == 1)
    rk = Window.orderBy(F.col("c").desc(), F.col("piece").asc())
    multis = (
        pieces.filter(F.length("piece") > 1)
        .withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") <= int(seed_cap))
        .drop("__rk")
    )
    return singles.unionByName(multis)


def _unigram_train_loop(
    df: DataFrame,
    text_col: str,
    max_word_len: int,
    max_piece_len: int,
    em_iters: int,
    vocab_size: int,
    seed_cap: int,
) -> tuple[dict[str, int], list[tuple[str, int, int]]]:
    """Shared unigram-LM EM loop. Returns ``(scores, rows)`` where
    ``scores`` maps each kept piece to its final Q20 log2-prob and
    ``rows`` is the pruned ``(piece, em_count, logp2_q20)`` table.

    Execution shape (the one that scales): the corpus is touched ONCE
    (the distinct-word count shuffle — the same Zipf collapse every
    tokenizer op here rides, persisted across iterations); the seed
    pass and every E-step then run on vocab-scale frames. Per
    iteration: one driver collect of the ≤(seed_cap + alphabet)-row
    count table (a bounded model artifact, the same contract as
    ``_bpe_train_loop``'s per-merge collect), a driver-side
    count→score conversion via the transcendental-free
    ``ilog2_q20`` (``functions.intmath`` — NO libm anywhere, so the
    scores are engine-exact integers), one broadcast, one Arrow-batched
    Viterbi over the distinct words, and one vocab-scale re-count
    shuffle."""
    from traits_data_spark.functions.intmath import logp2_q20

    wc = _bpe_train_words(df, text_col, max_word_len).transform(barrier)
    seed = _unigram_seed_counts(wc, max_piece_len, seed_cap)
    counts = {r["piece"]: int(r["c"]) for r in seed.collect()}
    if not counts:
        return {}, []
    singles = sorted(p for p in counts if len(p) == 1)
    spark = df.sparkSession

    for _ in range(em_iters):
        total = sum(counts.values())
        scores = {p: logp2_q20(c, total) for p, c in counts.items()}
        bc = spark.sparkContext.broadcast(scores)

        @F.pandas_udf("array<string>")
        def _pieces(words: pd.Series) -> pd.Series:
            t = bc.value
            return words.map(
                lambda w: unigram_train_viterbi_py(w, t, max_piece_len)[2]
            )

        new = (
            wc.select(F.explode(_pieces(F.col("w"))).alias("piece"), "c")
            .groupBy("piece")
            .agg(F.sum("c").cast("long").alias("c"))
        )
        counts = {r["piece"]: int(r["c"]) for r in new.collect()}
        for p in singles:
            counts.setdefault(p, 1)  # coverage floor

    # prune: singles always kept; multis by (count DESC, piece ASC)
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )
    kept = {p: counts[p] for p in singles}
    for p, c in multis[: max(0, vocab_size - len(kept))]:
        kept[p] = c
    total = sum(kept.values())
    rows = [
        (p, c, logp2_q20(c, total)) for p, c in sorted(kept.items())
    ]
    return {p: lp for p, _, lp in rows}, rows


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    max_word_len: int = UNIGRAM_TRAIN_MAX_WORD_LEN,
    max_piece_len: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    em_iters: int = UNIGRAM_TRAIN_EM_ITERS,
    vocab_size: int = UNIGRAM_TRAIN_VOCAB_SIZE,
    seed_cap: int = UNIGRAM_TRAIN_SEED_CAP,
) -> DataFrame:
    """Train a SentencePiece-style unigram LM tokenizer ON-CLUSTER
    (Kudo, ACL'18) — the third and last member of the tokenizer-trainer
    triad next to ``bpe_train`` (merge learning) and
    ``train_bigram_lm`` (LM sufficient statistics), replacing the
    offline artifact builder ``tools/build_unigram_vocab.py`` for the
    100-TB regime where the tokenizer must be trained on the corpus
    being curated: substring-seeded candidate counts, ``em_iters``
    hard-EM refinements (Viterbi E-step over the distinct-word table;
    M-step count→log-prob via the engine-exact integer ``ilog2_q20``,
    never libm), then pruning to ``vocab_size`` with single-char
    coverage guaranteed.

    Returns the learned piece inventory ``(piece, em_count,
    logp2_q20)``: final E-step occurrence count and Q20 fixed-point
    ``log2(count/total)`` — all BIGINT, hash-exact against the oracle's
    recursive-CTE replay of the same seeding, the same square-and-shift
    log2, and the same ``(score, -n, len)`` tie-broken Viterbi."""
    _, rows = _unigram_train_loop(
        df, text_col, max_word_len, max_piece_len, em_iters, vocab_size,
        seed_cap,
    )
    from traits_data_spark.functions.literals import literal_frame

    return literal_frame(
        df.sparkSession,
        rows,
        "piece string, em_count long, logp2_q20 long",
    )


def unigram_train_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "unigram_trained_tokens",
    max_word_len: int = UNIGRAM_TRAIN_MAX_WORD_LEN,
    max_piece_len: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    em_iters: int = UNIGRAM_TRAIN_EM_ITERS,
    vocab_size: int = UNIGRAM_TRAIN_VOCAB_SIZE,
    seed_cap: int = UNIGRAM_TRAIN_SEED_CAP,
    apply_max_word_len: int = UNIGRAM_MAX_WORD_LEN,
) -> DataFrame:
    """Train the unigram LM on the corpus, then tokenize the SAME
    corpus with the pieces just learned — the end-to-end on-cluster
    chain (mirrors ``bpe_train_token_counts`` for the BPE family).
    Application is TOTAL: every word segments via Viterbi under the
    learned scores with single-char UNK fallback, and words longer
    than ``apply_max_word_len`` (excluded from training and from the
    O(L²) DP) tokenize as chars. Output: ``(id_col, out_col,
    nll_q20)`` — token count and total negative Q20 log2-prob;
    documents with no words keep their row with 0s."""
    scores, _ = _unigram_train_loop(
        df, text_col, max_word_len, max_piece_len, em_iters, vocab_size,
        seed_cap,
    )
    return unigram_apply_token_counts(
        df,
        scores,
        text_col=text_col,
        id_col=id_col,
        out_col=out_col,
        max_piece_len=max_piece_len,
        apply_max_word_len=apply_max_word_len,
    )


def unigram_apply_token_counts(
    df: DataFrame,
    vocab: DataFrame | Mapping[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "unigram_trained_tokens",
    max_piece_len: int = UNIGRAM_TRAIN_MAX_PIECE_LEN,
    apply_max_word_len: int = UNIGRAM_MAX_WORD_LEN,
) -> DataFrame:
    """Tokenize a corpus under a FROZEN trained unigram vocabulary —
    the steady-state deployment path (train once with
    ``unigram_train``, persist ``(piece, logp2_q20)``, tokenize deltas
    forever — batch or inside a streaming ``foreachBatch``, exactly
    the ``pq_encode``-against-frozen-codebooks contract for the
    tokenizer family). ``vocab`` is the trained piece table (DataFrame
    with ``piece``/``logp2_q20``, or an equivalent mapping); the
    tokenization itself is ``unigram_train_token_counts``'s total
    apply (Viterbi + UNK single-char fallback + char segmentation
    beyond the DP length guard). Output: one row per distinct
    ``id_col`` — ``(id_col, out_col, nll_q20)``."""
    return _distinct_word_apply(
        df,
        text_col,
        id_col,
        _collect_artifact(vocab, ["piece"], "logp2_q20"),
        lambda w, t: unigram_tokens_py(
            w, t, max_piece_len, apply_max_word_len, UNIGRAM_TRAIN_UNK_Q20
        ),
        [out_col, "nll_q20"],
        grain=df.select(id_col).distinct(),
    )


def name_search(
    df: DataFrame,
    query: str,
    name_col: str = "name",
    id_col: str = "id",
    char_map: Mapping[str, str] | None = None,
) -> DataFrame:
    """Serving-layer name search — the QUERY-side twin of the
    normalized-generated-column + FULLTEXT DDL the RDBMS sink emits
    (``sinks.jdbc.normalized_column_sql`` / ``index_sql``; reference
    ``LOADERS/GOLD-data-loader.py:593-632``, which materializes
    ``fullNameNormalised`` via nested ø→o REPLACEs and a FULLTEXT
    index the API then searches in boolean ``term*`` mode).

    Semantics (MySQL boolean-mode prefix search, made deterministic):
    the name is normalized with the SAME char_map the DDL bakes into
    the generated column, lowercased, and tokenized on
    non-alphanumerics; each whitespace-separated query term (likewise
    normalized) scores

    - an **exact hit** if some token equals it,
    - a **prefix hit** if some token starts with it (``term*``);

    rows with at least one prefix hit are returned with BIGINT
    ``exact_hits`` / ``prefix_hits`` counts and a ``matched_all``
    flag (boolean-mode implicit AND). Ranking is left to the caller —
    the counts ARE the relevance signal and integer counts keep the
    result engine-exact, unlike MySQL's float relevance.

    Scale shape: one scan, pure codegen string ops, the query terms
    are plan literals — Catalyst folds them; no shuffle, no UDF. At
    serving scale the FULLTEXT index (which the sink's DDL creates)
    answers interactively; THIS operator is the batch/offline form —
    validating search behavior against the lake copy, backfilling
    search QA sets — where a full scan is the right plan.
    """
    import re as _re

    # the query passes through the SAME normalize+tokenize pipeline as
    # the name column (char_map → lower → split on non-alphanumerics):
    # MySQL boolean-mode FULLTEXT tokenizes the query with the column's
    # tokenizer, so "o'brien" must become the two terms [o, brien] or
    # a search for a name's own text would return nothing
    terms = []
    for raw in query.split():
        t = raw
        for s, d in (char_map or {"ø": "o", "Ø": "O"}).items():
            t = t.replace(s, d)
        for tok in _re.split(r"[^a-z0-9]+", t.lower()):
            if tok:
                terms.append(tok)
    if not terms:
        raise ValueError("query must contain at least one term")
    norm = F.col(name_col)
    for s, d in (char_map or {"ø": "o", "Ø": "O"}).items():
        norm = F.replace(norm, F.lit(s), F.lit(d))
    toks = F.filter(
        F.split(F.lower(norm), "[^a-z0-9]+"), lambda x: F.length(x) > 0
    )
    d = df.withColumn("__toks", toks)
    exact = None
    prefix = None
    for t in terms:
        e = F.when(F.array_contains("__toks", F.lit(t)), 1).otherwise(0)
        p = F.when(
            F.exists("__toks", lambda x: x.startswith(t)), 1
        ).otherwise(0)
        exact = e if exact is None else exact + e
        prefix = p if prefix is None else prefix + p
    return (
        d.withColumn("exact_hits", exact.cast("long"))
        .withColumn("prefix_hits", prefix.cast("long"))
        .withColumn("matched_all", F.col("prefix_hits") == len(terms))
        .filter(F.col("prefix_hits") > 0)
        .drop("__toks")
    )
