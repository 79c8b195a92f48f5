"""Text analysis: hand-computed quality features, langid tie-breaks,
token counts, fingerprint robustness."""

import pytest
from pyspark.sql import functions as F

from traits_data_spark.operators.text import (
    document_fingerprint,
    identify_language,
    quality_features,
    token_counts,
)


def test_quality_features_hand_computed(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42")], ["doc_id", "text"])
    r = quality_features(df).collect()[0]
    assert r["n_chars_q"] == 16
    assert r["n_words"] == 3
    assert r["punct_ratio"] == pytest.approx(round(2 / 16, 4))  # ',' '!'
    assert r["digit_ratio"] == pytest.approx(round(2 / 16, 4))  # '4' '2'
    # nonspace chars = 14, words = 3
    assert r["avg_word_len"] == pytest.approx(round(14 / 3, 4))


def test_quality_empty_text_null_ratios(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    r = quality_features(df).collect()[0]
    assert r["n_chars_q"] == 0
    assert r["avg_word_len"] is None
    assert r["punct_ratio"] is None


def test_stopword_ratio(spark):
    df = spark.createDataFrame([(1, "the cat and the dog")], ["doc_id", "text"])
    r = quality_features(df).collect()[0]
    assert r["stopword_ratio"] == pytest.approx(round(3 / 5, 4))


def test_langid_basics_and_und(spark):
    rows = [
        (1, "the cat is on the mat and the dog"),
        (2, "le chat est sur la table et les chiens"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in identify_language(df).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_langid_tie_breaks_alphabetically(spark):
    # 'es' and 'en' both score via ' es ' marker? construct a genuine tie:
    # ' is ' (en) once and ' es ' (es) once
    df = spark.createDataFrame([(1, "it is all es aqui")], ["doc_id", "text"])
    r = identify_language(df).collect()[0]
    assert r["score_en"] == r["score_es"] == 1
    assert r["lang_pred"] == "en"  # alphabetically first wins


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "don't count 123 twice!")], ["doc_id", "text"])
    r = token_counts(df).collect()[0]
    assert r["ws_tokens"] == 4
    # regex tokens: don / ' / t / count / 123 / twice / !
    assert r["re_tokens"] == 7


def test_fingerprint_ignores_whitespace_and_punct(spark):
    rows = [(1, "Hello, World!"), (2, "hello world"), (3, "hello  world?!"), (4, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = {r["doc_id"]: r["fingerprint"] for r in document_fingerprint(df).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert fp[4] != fp[1]


def test_repetition_features_hand_computed(spark):
    from traits_data_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, None)],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in repetition_features(docs, "doc_id", "text").collect()
    }
    r1 = rows[1]
    # words: a,a,a,b -> total 4, distinct 2, top 3
    assert r1["total_words"] == 4
    assert r1["dup_word_frac"] == 0.5
    assert r1["top_word_frac"] == 0.75
    # 2-grams: "a a","a a","a b" -> total 3, distinct 2, top 2
    assert r1["dup_2gram_frac"] == 0.3333
    assert r1["top_2gram_frac"] == 0.6667
    # 3-grams: "a a a","a a b" -> all distinct
    assert r1["dup_3gram_frac"] == 0.0
    assert r1["top_3gram_frac"] == 0.5
    # fully distinct doc: every dup fraction 0
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["dup_2gram_frac"] == 0.0
    # NULL text yields no row (oracle-consistent)
    assert 3 not in rows


def test_redact_pii_classes_and_counts(spark):
    from traits_data_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.0.1 and 10.0.0.255 up"),
            (3, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r.asDict() for r in redact_pii(docs, "text").collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "[EMAIL]" in rows[1]["clean_text"] and "[PHONE]" in rows[1]["clean_text"]
    assert "example" not in rows[1]["clean_text"]
    assert rows[2]["n_ip"] == 2
    assert rows[2]["clean_text"] == "server at [IP] and [IP] up"
    assert rows[3]["clean_text"] == "no pii here"
    assert rows[3]["n_email"] == rows[3]["n_ip"] == rows[3]["n_phone"] == 0


def test_char_entropy_hand_computed(spark):
    import math

    from traits_data_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),       # single symbol → 0 bits
            (2, "abab"),       # two equiprobable → 1 bit
            (3, "!!!"),        # skeleton empty → 0.0
            (4, "abcd"),       # four equiprobable → 2 bits
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    assert got[3] == 0.0
    assert got[4] == 2.0
    # a non-uniform case vs the closed form
    df2 = spark.createDataFrame([(9, "aab")], ["doc_id", "text"])
    want = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    got2 = char_entropy(df2).collect()[0]["char_entropy"]
    assert abs(got2 - round(want, 4)) < 1e-9


def _weights(spark, pairs):
    return spark.createDataFrame(pairs, "term string, weight long")


def test_classifier_score_hand_computed(spark):
    from traits_data_spark.operators.text import classifier_score

    docs = spark.createDataFrame(
        [(1, "fast slow fast x"), (2, "zzz yyy"), (3, None), (4, "   ")],
        ["doc_id", "text"],
    )
    w = _weights(spark, [("fast", 100), ("slow", -50)])
    rows = {
        r["doc_id"]: r
        for r in classifier_score(docs, w, bias=10, threshold=0).collect()
    }
    # null-text and whitespace-only docs drop (chunk_documents contract)
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1["n_words"] == 4
    assert r1["matched"] == 3          # every occurrence counts
    assert r1["logit_micro"] == 10 + 100 - 50 + 100
    assert r1["score"] == round(160 / (1e6 * 4), 6)
    assert r1["keep"] is True
    r2 = rows[2]
    assert r2["matched"] == 0
    assert r2["logit_micro"] == 10     # bias only
    assert r2["keep"] is True


def test_classifier_score_threshold_and_negative(spark):
    from traits_data_spark.operators.text import classifier_score

    docs = spark.createDataFrame([(1, "bad bad good")], ["doc_id", "text"])
    w = _weights(spark, [("bad", -300), ("good", 100)])
    r = classifier_score(docs, w, bias=0, threshold=-400).collect()[0]
    assert r["logit_micro"] == -500
    assert r["keep"] is False


def test_classifier_plan_broadcasts_and_single_shuffle(spark, documents):
    """The 100 TB shape: vocabulary joins map-side (broadcast), and the
    only shuffle is the per-document partial-aggregated group-by."""
    from traits_data_spark.operators.text import classifier_score

    w = _weights(spark, [("fast", 1), ("slow", -1)])
    plan = (
        classifier_score(documents, w)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_gopher_rules_each_rule_discriminates(spark):
    from traits_data_spark.operators.text import gopher_rules

    good = (
        "the data and the table have rows to scan with good words "
        "that be of normal length and the corpus is fine here okay "
    ) * 3  # > 20 words, mean len in range, no symbols/bullets
    docs = [
        ("ok", good),
        ("short", "the of tiny"),  # fails word count
        ("longwords", " ".join(["pneumonoultramicroscopic"] * 40) + " the of"),
        ("symbols", "the of " + "# " * 30 + "word " * 10),
        ("bullets", "\n".join(["- item %d the of" % i for i in range(20)])),
        ("ellipsis", "\n".join(["line %d the of..." % i for i in range(20)])),
        ("numeric", "the of " + "12345 " * 40),  # words w/o alpha chars
        ("nostops", "word " * 40),
    ]
    out = {
        r.name: r
        for r in gopher_rules(
            spark.createDataFrame(docs, "name string, text string"),
            min_words=20,
        ).collect()
    }
    assert out["ok"].keep == 1
    assert out["short"].pass_word_count == 0
    assert out["longwords"].pass_mean_word_len == 0
    assert out["symbols"].pass_symbol_ratio == 0
    assert out["bullets"].pass_bullet_lines == 0
    assert out["ellipsis"].pass_ellipsis_lines == 0
    assert out["numeric"].pass_alpha_words == 0
    assert out["nostops"].pass_stopwords == 0
    for name in ("short", "longwords", "symbols", "bullets",
                 "ellipsis", "numeric", "nostops"):
        assert out[name].keep == 0, name


# ---------------------------------------------------------------------------
# BPE-lite subword tokenization
# ---------------------------------------------------------------------------

def _py_greedy_count(word, vocab, cap=24):
    """Reference greedy longest-match tokenizer (pure Python)."""
    pieces = sorted({p for p in vocab if len(p) >= 2}, key=len, reverse=True)
    pos, cnt, i = 0, 0, 0
    while pos < len(word) and i < cap:
        step = 1
        for p in pieces:
            if word.startswith(p, pos):
                step = len(p)
                break
        pos += step
        cnt += 1
        i += 1
    return cnt + (len(word) - pos)


def test_bpe_piece_count_matches_python_reference(spark):
    from traits_data_spark.operators.text import (
        BPE_VOCAB,
        bpe_piece_count,
    )

    words = [
        "the", "ordering", "internationalization", "a", "xyz42",
        "pretraining", "conversation", "overthinking", "qzqzqz",
        "thisisaverylongwordthatkeepsongoingwellpastthecap",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        r["w"]: r["t"]
        for r in df.select(
            "w", bpe_piece_count(F.col("w"), BPE_VOCAB).alias("t")
        ).collect()
    }
    for w in words:
        assert got[w] == _py_greedy_count(w, BPE_VOCAB), w


def test_bpe_token_counts_doc_sum_and_nulls(spark):
    from traits_data_spark.operators.text import BPE_VOCAB, bpe_token_counts

    df = spark.createDataFrame(
        [
            (1, "The ordering   of THE tokens"),
            (2, ""),
            (3, None),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bpe_tokens"] for r in bpe_token_counts(df).collect()}
    words = ["the", "ordering", "of", "the", "tokens"]  # lowercased split
    assert out[1] == sum(_py_greedy_count(w, BPE_VOCAB) for w in words)
    assert out[2] == 0 and out[3] == 0 and out[4] == 0


def _bpe_parity_docs(spark, documents):
    """The first 120 fixture docs plus a null, an empty and an
    all-space doc (ids -1, -2, -3)."""
    return documents.select("doc_id", "text").limit(120).unionByName(
        spark.createDataFrame(
            [(-1, None), (-2, ""), (-3, "   ")], "doc_id long, text string"
        )
    )


def _bpe_padded_vocab():
    """The demo vocab padded past the threshold with pieces no
    lowercased word can match: same counts, distinct-word UDF path."""
    from traits_data_spark.operators.text import (
        BPE_AUTO_DISTINCT_MIN_VOCAB,
        BPE_VOCAB,
        bpe_effective_vocab,
    )

    padded = list(BPE_VOCAB) + [
        f"ZZ{i:04d}" for i in range(BPE_AUTO_DISTINCT_MIN_VOCAB)
    ]
    assert len(bpe_effective_vocab(BPE_VOCAB)) <= BPE_AUTO_DISTINCT_MIN_VOCAB
    assert len(bpe_effective_vocab(padded)) > BPE_AUTO_DISTINCT_MIN_VOCAB
    return padded


def test_bpe_distinct_words_path_parity(spark, documents):
    """The scale shape (tokenize each DISTINCT word once, join back)
    must count identically to the inline projection: the demo vocab
    (inline CASE ladder) and the padded vocab (distinct-word UDF path)
    give the same per-doc counts, and null, empty and all-space docs
    count 0 on both paths."""
    from traits_data_spark.operators.text import bpe_token_counts

    docs = _bpe_parity_docs(spark, documents)
    inline = {
        r["doc_id"]: r["bpe_tokens"] for r in bpe_token_counts(docs).collect()
    }
    via_distinct = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_token_counts(docs, vocab=_bpe_padded_vocab()).collect()
    }
    assert inline == via_distinct and len(inline) == 123
    assert inline[-1] == inline[-2] == inline[-3] == 0


def test_bpe_table_vocab_matches_column_tokenizer(spark, documents):
    """The Python kernel the table-vocab path runs must count
    bit-identically to the pure-column CASE-ladder kernel given the
    same piece set: per word on every distinct word of the fixture and
    on the cap-boundary words, and per doc when the vocab arrives as a
    piece table rather than a piece list."""
    from traits_data_spark.operators.dedup import normalized_text
    from traits_data_spark.operators.text import (
        BPE_CAP,
        BPE_VOCAB,
        _piece_tables,
        bpe_piece_count,
        bpe_piece_count_py,
        bpe_token_counts,
    )

    docs = _bpe_parity_docs(spark, documents)
    words = [
        r[0]
        for r in docs.select(
            F.explode(F.split(normalized_text("text"), " ")).alias("w")
        )
        .filter(F.length("w") > 0)
        .distinct()
        .collect()
    ]
    # "th" is a piece: 24 greedy steps consume 48 chars, the rest
    # count one token per char
    words += ["th" * n for n in (BPE_CAP - 1, BPE_CAP, BPE_CAP + 1)]
    words += ["q" * n for n in (BPE_CAP - 1, BPE_CAP, BPE_CAP + 1)]
    col = {
        r["w"]: r["t"]
        for r in spark.createDataFrame([(w,) for w in words], ["w"])
        .select("w", bpe_piece_count(F.col("w"), BPE_VOCAB).alias("t"))
        .collect()
    }
    tables = _piece_tables(BPE_VOCAB)
    assert len(words) > 20
    for w in words:
        assert col[w] == bpe_piece_count_py(w, tables), w

    table = spark.createDataFrame(
        [(p,) for p in _bpe_padded_vocab()], "piece string"
    )
    inline = {
        r["doc_id"]: r["bpe_tokens"] for r in bpe_token_counts(docs).collect()
    }
    via_table = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_token_counts(docs, vocab=table).collect()
    }
    assert inline == via_table and len(inline) == 123


def test_bpe_table_vocab_loads_artifact_and_handles_nulls(spark):
    """The committed 12k-piece parquet artifact loads, tokenizes, and
    null/empty docs count 0; the Python greedy mirror agrees with the
    end-to-end pipeline on a known word."""
    from traits_data_spark.operators.text import (
        bpe_piece_count_py,
        bpe_token_counts,
        load_bpe_vocab,
        _piece_tables,
    )

    vocab = load_bpe_vocab(spark)
    assert vocab.count() >= 10_000
    df = spark.createDataFrame(
        [(1, "customer order line"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_token_counts(df, vocab=vocab).collect()
    }
    pieces = [r[0] for r in vocab.collect()]
    tables = _piece_tables(pieces)
    want = sum(
        bpe_piece_count_py(w, tables) for w in ["customer", "order", "line"]
    )
    assert out[1] == want and out[2] == 0 and out[3] == 0


def test_bpe_auto_distinct_threshold():
    """bpe_token_counts picks its shape by effective vocab size."""
    from traits_data_spark.operators.text import (
        BPE_AUTO_DISTINCT_MIN_VOCAB,
        BPE_VOCAB,
        bpe_effective_vocab,
    )

    # the demo vocab stays under the threshold (inline shape keeps its
    # zero-shuffle plan in existing callers)
    assert len(bpe_effective_vocab(BPE_VOCAB)) <= BPE_AUTO_DISTINCT_MIN_VOCAB


def _load_merge_ranks():
    import pyarrow.parquet as pq

    from traits_data_spark.operators.text import BPE_MERGES_PATH

    t = pq.read_table(BPE_MERGES_PATH)
    return {
        (l, r): int(k)
        for l, r, k in zip(
            t.column("left").to_pylist(),
            t.column("right").to_pylist(),
            t.column("rank").to_pylist(),
        )
    }


def test_bpe_merge_rank_differs_from_greedy_where_it_should():
    """The motivating case for merge-rank inference: greedy
    longest-match grabs the longest piece even when the merge table
    could never have built it in rank order."""
    from traits_data_spark.operators.text import (
        bpe_merge_tokens_py,
        bpe_piece_count_py,
        _piece_tables,
    )

    # merges: (b,c) first, then (a,b). "abc" -> a|bc under merge-rank
    # ((b,c) fires first; (a,'bc') is not a merge), but a greedy vocab
    # holding the piece "abc" would emit 1 token.
    ranks = {("b", "c"): 0, ("a", "b"): 1}
    assert bpe_merge_tokens_py("abc", ranks) == 2
    assert bpe_piece_count_py("abc", _piece_tables(["abc"])) == 1


def test_bpe_merge_tokens_engine_matches_naive_reference_on_artifact():
    """Parity lock: the engine's all-occurrences-per-pass tokenizer and
    the oracle builder's one-occurrence-at-a-time reference agree on
    every corpus word and on adversarial words over the same alphabet,
    using the COMMITTED ranked-merge artifact (well-founded ranks)."""
    import pyarrow.parquet as pq

    from tools.build_bpe_merges import naive_merge_tokenize
    from traits_data_spark.operators.text import (
        BPE_MERGE_COUNTS_PATH,
        bpe_merge_tokens_py,
    )

    ranks = _load_merge_ranks()
    t = pq.read_table(BPE_MERGE_COUNTS_PATH)
    words = t.column("word").to_pylist()
    expected = t.column("n_tokens").to_pylist()
    for w, n in zip(words, expected):
        assert bpe_merge_tokens_py(w, ranks) == n == naive_merge_tokenize(w, ranks)
    # adversarial shapes: overlaps ("aaa"), repeats, concatenations
    extra = ["aaa", "aaaa", "ababab", "thethe", "customerorder",
             "zzzzzzzz", "abcabcabc", "qqq", "thea", "athe"]
    for w in extra:
        assert bpe_merge_tokens_py(w, ranks) == naive_merge_tokenize(w, ranks)


def test_bpe_merge_tokens_hypothesis_parity():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tools.build_bpe_merges import naive_merge_tokenize
    from traits_data_spark.operators.text import bpe_merge_tokens_py

    ranks = _load_merge_ranks()

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", max_size=24))
    def check(w):
        assert bpe_merge_tokens_py(w, ranks) == naive_merge_tokenize(w, ranks)

    check()


def test_bpe_merge_token_counts_operator(spark):
    """End-to-end distinct-word pipeline: doc sums, null/empty docs,
    and the long-word char-fallback guard."""
    from traits_data_spark.operators.text import (
        bpe_merge_token_counts,
        bpe_merge_tokens_py,
        load_bpe_merges,
    )

    merges = load_bpe_merges(spark)
    assert merges.count() >= 10_000
    long_word = "q" * 100  # > BPE_MERGE_MAX_WORD_LEN -> counts as chars
    df = spark.createDataFrame(
        [(1, "Customer  ORDER line"), (2, None), (3, "   "), (4, long_word)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["bpe_merge_tokens"]
        for r in bpe_merge_token_counts(df, merges).collect()
    }
    ranks = _load_merge_ranks()
    want = sum(
        bpe_merge_tokens_py(w, ranks) for w in ["customer", "order", "line"]
    )
    assert out[1] == want
    assert out[2] == 0 and out[3] == 0
    assert out[4] == 100


def test_winnow_fingerprints_guarantee_and_density(spark):
    """The winnowing guarantee (SIGMOD'03): two documents sharing a
    passage of >= w+k-1 words share at least one fingerprint VALUE;
    selection density is far below 1 gram per position; disjoint texts
    share nothing."""
    from traits_data_spark.operators.text import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 = w+k-1
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, "red green blue " + shared + " cyan magenta"),
        (3, "totally different words without any overlap here at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, k=4, w=4)
    fps = {}
    for r in out.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared >= w+k-1 passage must share a fp"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps  # null text -> no rows
    # density: doc 1 has 13 words -> 10 grams; selections << grams
    assert len(fps[1]) < 10


def test_winnow_fingerprints_rightmost_min_and_short_docs(spark):
    """Tie-break is the RIGHTMOST minimum (the paper's rule — maximizes
    overlap between neighboring windows), pinned via a repeated gram;
    docs shorter than k words still emit their single whole-doc gram."""
    from traits_data_spark.functions.scalars import portable_hash64
    from traits_data_spark.operators.text import winnow_fingerprints

    # "a b a b a b": 4-grams are "a b a b" / "b a b a" / "a b a b" —
    # positions 1 and 3 carry the SAME hash; in the window covering
    # both, the selected pos must be the rightmost (3)
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "tiny doc")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, k=4, w=3).collect()
    d1 = {(r["pos"], r["fp"]) for r in rows if r["doc_id"] == 1}
    h_abab = spark.range(1).select(
        portable_hash64(F.lit("a b a b")).alias("h")
    ).collect()[0]["h"]
    assert any(p == 3 and f == h_abab for p, f in d1)
    assert not any(p == 1 and f == h_abab for p, f in d1)
    # short doc: one gram ("tiny doc"), one window, one fingerprint
    d2 = [(r["pos"], r["fp"]) for r in rows if r["doc_id"] == 2]
    h_tiny = spark.range(1).select(
        portable_hash64(F.lit("tiny doc")).alias("h")
    ).collect()[0]["h"]
    assert d2 == [(1, h_tiny)]


def test_winnow_matches_finds_copies_and_caps_boilerplate(spark):
    """Pairs sharing a long passage surface with shared_fps >=
    min_shared; unrelated docs don't; a fingerprint present in more
    than max_fp_docs documents (boilerplate) is excluded from pairing."""
    from traits_data_spark.operators.text import (
        winnow_fingerprints,
        winnow_matches,
    )

    passage = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliett kilo lima"
    )
    boiler = "standard footer text appears everywhere in this corpus"
    rows = [
        (1, passage + " unique one " + boiler),
        (2, passage + " unique two " + boiler),
        (3, "completely different content " + boiler),
        (4, "another unrelated document " + boiler),
        (5, "fifth unrelated set of words " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=4, w=4)
    # with the boilerplate cap at 2, footer fingerprints (in all 5
    # docs) cannot pair anything; the shared passage (docs 1,2) can
    out = winnow_matches(fps, min_shared=2, max_fp_docs=2).collect()
    pairs = {(r.id_a, r.id_b): r.shared_fps for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(p == (1, 2) for p in pairs)
    # without the cap, boilerplate links every doc pair
    uncapped = winnow_matches(fps, min_shared=1, max_fp_docs=1000)
    assert uncapped.count() >= 6


def test_bm25_ranks_matching_doc_first(spark):
    from traits_data_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry apple"),
            (2, "apple only here"),
            (3, "dog cat mouse"),
            (4, "banana cherry banana cherry"),
        ],
        ["doc_id", "text"],
    )
    queries = docs.filter(F.col("doc_id") == 1)
    out = bm25_topk(docs, queries, k=3).collect()
    assert all(r["query_id"] == 1 for r in out)
    ranked = sorted(out, key=lambda r: r["rk"])
    # the query doc itself shares every term and must rank first
    assert ranked[0]["neighbor_id"] == 1
    # doc 3 shares no term and must be absent entirely
    assert all(r["neighbor_id"] != 3 for r in out)
    # doc 4 (two matching terms) outranks doc 2 (one rarer-weighted
    # term 'apple' appears in 2 docs; banana+cherry each in 2 docs but
    # doc 4 matches twice each) — just assert scores strictly ordered
    scores = [r["score_micro"] for r in ranked]
    assert scores == sorted(scores, reverse=True)
    assert all(r["rk"] <= 3 for r in out)


def test_bm25_score_hand_computed_single_term(spark):
    """One query term, uniform doc lengths → contribution reduces to
    idf·(k1+1)·tf/(tf+k1) with dl/avgdl = 1."""
    import math

    from traits_data_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(1, "w x"), (2, "w y"), (3, "a b")], ["doc_id", "text"]
    )
    q = spark.createDataFrame([(9, "w")], ["doc_id", "text"]).withColumn(
        "text", F.col("text")
    )
    out = {r["neighbor_id"]: r for r in bm25_topk(docs, q, k=10).collect()}
    assert set(out) == {1, 2}
    n, df_docs, tf, k1, b = 3, 2, 1, 1.2, 0.75
    idf = round(math.log(1.0 + (n - df_docs + 0.5) / (df_docs + 0.5)), 6)
    expected = round(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * 1.0)) * 1e6)
    assert out[1]["score_micro"] == expected
    assert out[1]["matched_terms"] == 1


def _load_unigram_logp():
    import pandas as pd

    from traits_data_spark.operators.text import UNIGRAM_VOCAB_PATH

    t = pd.read_parquet(UNIGRAM_VOCAB_PATH)
    return dict(zip(t["piece"], t["logp_micro"].astype(int)))


def test_unigram_tokens_engine_matches_recursive_reference_on_artifact():
    import pandas as pd

    from tools.build_unigram_vocab import viterbi_reference
    from traits_data_spark.operators.text import (
        UNIGRAM_COUNTS_PATH,
        unigram_tokens_py,
    )

    logp = _load_unigram_logp()
    exp = pd.read_parquet(UNIGRAM_COUNTS_PATH)
    assert len(exp) > 0
    multi = 0
    for w, n, nll in exp.itertuples(index=False):
        rn, rnll, _ = viterbi_reference(w, logp)
        assert unigram_tokens_py(w, logp) == (n, nll) == (rn, rnll)
        multi += n > 1
    # the committed eval is non-degenerate: some words multi-piece
    assert multi > 0


def test_unigram_tokens_hypothesis_parity():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tools.build_unigram_vocab import viterbi_reference
    from traits_data_spark.operators.text import unigram_tokens_py

    logp = _load_unigram_logp()

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", max_size=24))
    def check(w):
        if not w:
            return
        rn, rnll, _ = viterbi_reference(w, logp)
        assert unigram_tokens_py(w, logp) == (rn, rnll)

    check()


def test_unigram_unknown_char_and_long_word_fallback():
    from traits_data_spark.operators.text import (
        UNIGRAM_UNK_LOGP_MICRO,
        unigram_tokens_py,
    )

    logp = {"a": -1_000_000, "ab": -1_500_000}
    # 'ab' piece beats a+b (-1.5 vs -2.0 nats)
    assert unigram_tokens_py("ab", logp) == (1, 1_500_000)
    # unknown char falls back to the UNK penalty as a single piece
    n, nll = unigram_tokens_py("a!", logp)
    assert (n, nll) == (2, 1_000_000 - UNIGRAM_UNK_LOGP_MICRO)
    # >max_word_len chars: per-char fallback, no DP
    w = "a" * 100
    assert unigram_tokens_py(w, logp) == (100, 100 * 1_000_000)


def test_unigram_token_counts_operator(spark):
    from traits_data_spark.operators.text import (
        unigram_token_counts,
        unigram_tokens_py,
    )

    logp = _load_unigram_logp()
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, None), (3, "  ")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in unigram_token_counts(df, logp).collect()}
    na, nlla = unigram_tokens_py("alpha", logp)
    nb, nllb = unigram_tokens_py("beta", logp)
    assert out[1]["unigram_tokens"] == 2 * na + nb
    assert out[1]["nll_micro"] == 2 * nlla + nllb
    assert out[2]["unigram_tokens"] == 0 and out[3]["unigram_tokens"] == 0


def test_vocab_drift_hand_computed(spark):
    from traits_data_spark.operators.text import vocab_drift

    a = spark.createDataFrame(
        [(1, "x x y"), (2, "y z")], "doc_id long, text string"
    )
    b = spark.createDataFrame([(3, "x y Y")], "doc_id long, text string")
    out = {r["word"]: r for r in vocab_drift(a, b).collect()}
    # totals: A = 5 tokens, B = 3 tokens
    # x: |2*3 - 1*5| = 1 ; y: |2*3 - 2*5| = 4 ; z: |1*3 - 0*5| = 3
    assert (out["x"]["count_a"], out["x"]["count_b"]) == (2, 1)
    assert out["x"]["drift_cross"] == 1
    assert out["y"]["drift_cross"] == 4
    assert out["z"]["drift_cross"] == 3
    assert out["y"]["tv_contrib"] == round(4 / (2 * 5 * 3), 9)
    # Σ tv_contrib = TV distance, here (1+4+3)/30 (each term rounds
    # to 9 dp, so the sum carries up to n·5e-10 of rounding)
    assert sum(r["tv_contrib"] for r in out.values()) == pytest.approx(
        8 / 30, abs=2e-9
    )


def test_vocab_drift_top_n_and_empty_side(spark):
    from traits_data_spark.operators.text import vocab_drift

    a = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([(9, None)], "doc_id long, text string")
    out = vocab_drift(a, empty).collect()
    assert len(out) == 5
    # empty side: NULL tv (0/0 guarded), drift = count_a * 0 = 0
    assert all(r["tv_contrib"] is None and r["drift_cross"] == 0 for r in out)
    top = vocab_drift(
        a, spark.createDataFrame([(2, "a a a b")], "doc_id long, text string"),
        top_n=2,
    ).collect()
    assert len(top) == 2
    assert [r["rk"] for r in sorted(top, key=lambda r: r["rk"])] == [1, 2]


def test_bpe_train_hand_computed(spark):
    """Hand-checkable corpus: 'abab' x3 + 'ab' x2 -> first merge must
    be (a,b) count 8 (3 docs x 2 pairs + 2 docs x 1); after merging,
    'ab ab' yields pair (ab,ab) count 3 for rank 2. Also pins the
    greedy non-overlap contract: 'aaa' with merge (a,a) becomes
    [aa, a], so (a,a) counts 2 per 'aaa' occurrence pre-merge."""
    from traits_data_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [("abab",)] * 3 + [("ab",)] * 2, ["text"]
    )
    out = {r["rank"]: (r["left"], r["right"], r["pair_count"])
           for r in bpe_train(docs, n_merges=2).collect()}
    assert out[1] == ("a", "b", 8)
    assert out[2] == ("ab", "ab", 3)


def test_bpe_train_overlap_is_left_to_right(spark):
    """'aaaa' under merge (a,a): greedy left-to-right non-overlapping
    gives [aa, aa] (not [a, aa, a] or a triple-merge) — the replace-
    with-sentinel-spaces contract both engines share."""
    from traits_data_spark.operators.text import bpe_train

    docs = spark.createDataFrame([("aaaa",), ("aaaa",)], ["text"])
    out = sorted(
        bpe_train(docs, n_merges=2).collect(), key=lambda r: r["rank"]
    )
    # pairs in ' a a a a ': (a,a) x3 per doc -> count 6
    assert (out[0]["left"], out[0]["right"], out[0]["pair_count"]) == (
        "a", "a", 6,
    )
    # after merge: ' aa aa ' -> pair (aa,aa) count 1 per doc -> 2
    assert (out[1]["left"], out[1]["right"], out[1]["pair_count"]) == (
        "aa", "aa", 2,
    )


def test_train_bigram_lm_hand_computed(spark):
    """Two docs 'x y' / 'x z': bigrams (<s>,x) x2, (x,y), (x,z).
    Targets {x,y,z} -> V=4. p(x|<s>) = (2+1)/(2+4) = 0.5;
    p(y|x) = (1+1)/(2+4) = round(1/3, 9)."""
    from traits_data_spark.operators.text import train_bigram_lm

    docs = spark.createDataFrame([("x y",), ("x z",)], ["text"])
    rows = {(r["u"], r["w"]): r for r in train_bigram_lm(docs).collect()}
    assert rows[("<s>", "x")]["n_uw"] == 2
    assert rows[("<s>", "x")]["n_u"] == 2
    assert rows[("<s>", "x")]["p"] == 0.5
    assert rows[("x", "y")]["p"] == round(2 / 6, 9)
    assert len(rows) == 3


def test_train_kn_lm_hand_computed(spark):
    """Corpus 'a b' / 'a b' / 'a c': bigrams (<s>,a) x3, (a,b) x2,
    (a,c) x1. Types: n1=1 ((a,c)), n2=1 ((a,b)) -> D = 1/3 (dn=1,
    dd=3). Nbb=3; N1+(<s>,.)=1, N1+(a,.)=2; Ncw(a)=1 (only <s>),
    Ncw(b)=1, Ncw(c)=1. Exact fractions:
      p(a|<s>) = (3*3-1)/(3*3) + (1*1)/(3*3) * 1/3 = 8/9 + 1/27
      p(b|a)   = (2*3-1)/(3*3) + (1*2)/(3*3) * 1/3
      p(c|a)   = (1*3-1)/(3*3) + (1*2)/(3*3) * 1/3
    and every context's mass over the FULL vocab sums to exactly 1."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    docs = spark.createDataFrame([("a b",), ("a b",), ("a c",)], ["text"])
    rows = {(r["u"], r["w"]): r for r in train_kn_lm(docs).collect()}
    assert len(rows) == 3
    r = rows[("<s>", "a")]
    assert (r["n_uw"], r["n_u"], r["n1u"], r["ncw"]) == (3, 3, 1, 1)
    dn, dd, nbb = 1, 3, 3

    def kn(n_uw, n_u, n1u, ncw):
        return Fraction(
            max(n_uw * dd - dn, 0) * nbb + dn * n1u * ncw,
            n_u * dd * nbb,
        )

    assert r["p"] == round(float(kn(3, 3, 1, 1)), 9)
    assert rows[("a", "b")]["p"] == round(float(kn(2, 3, 2, 1)), 9)
    assert rows[("a", "c")]["p"] == round(float(kn(1, 3, 2, 1)), 9)
    # full-vocab mass per context == 1 exactly: seen targets take the
    # discounted part; EVERY vocab target (a,b,c) takes its
    # continuation share of the reserved mass
    for u, pairs in (("<s>", [("a", 3)]), ("a", [("b", 2), ("c", 1)])):
        n_u = sum(c for _, c in pairs)
        n1u = len(pairs)
        seen = sum(
            Fraction(max(c * dd - dn, 0), n_u * dd) for _, c in pairs
        )
        # sum over the WHOLE vocab of the continuation term
        cont = Fraction(dn * n1u, n_u * dd) * Fraction(3, nbb)
        assert seen + cont == 1


def test_kn_doc_scores_hand_computed(spark):
    """Same 3-doc corpus as the trainer test: every bigram's Q20 cost
    must equal ilog2_q20(p_den) - ilog2_q20(p_num) from the pure-Python
    fixed-point reference, and the per-doc sums/means follow."""
    from traits_data_spark.functions.intmath import ilog2_q20
    from traits_data_spark.operators.text import kn_doc_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in kn_doc_scores(docs).collect()}
    dn, dd, nbb = 1, 3, 3

    def bits(n_uw, n_u, n1u, ncw):
        num = max(n_uw * dd - dn, 0) * nbb + dn * n1u * ncw
        den = n_u * dd * nbb
        return ilog2_q20(den) - ilog2_q20(num)

    b_sa = bits(3, 3, 1, 1)   # (<s>, a)
    b_ab = bits(2, 3, 2, 1)   # (a, b)
    b_ac = bits(1, 3, 2, 1)   # (a, c)
    for doc, expect in ((1, b_sa + b_ab), (2, b_sa + b_ab), (3, b_sa + b_ac)):
        assert out[doc]["n_bigrams"] == 2
        assert out[doc]["nll_q20"] == expect
        assert out[doc]["bits_per_bigram_q20"] == expect // 2
    # the rarer continuation (a,c) must cost more bits than (a,b)
    assert out[3]["nll_q20"] > out[1]["nll_q20"]


@pytest.mark.parametrize(
    "order,modified",
    [(2, False), (2, True), (3, False), (3, True), (4, True)],
    ids=["kn2", "mkn2", "kn3", "mkn3", "mkn4"],
)
def test_ngram_counts_merge_parity_and_counts_path(
    spark, documents, order, modified
):
    """The LM-count index-maintenance contract at every order: counting
    a new slice alone and merging it into the history counts equals
    recounting the full corpus, and the trainer re-derives the exact
    full-corpus model from the merged counts without touching text (at
    order 2 so does the Laplace trainer). Passing both df and counts
    (or neither), or merging no part, is a ValueError."""
    from traits_data_spark.operators.text import (
        merge_ngram_counts,
        train_bigram_lm,
        train_kn_lm,
        word_ngram_counts,
    )

    docs = documents.select("doc_id", "text").limit(80).cache()
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    merged = merge_ngram_counts(
        word_ngram_counts(hist, order), word_ngram_counts(batch, order)
    )
    full = word_ngram_counts(docs, order)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    assert key(merged.collect()) == key(full.collect())
    lm = dict(order=order, modified=modified, keep_ratio=True)
    assert key(train_kn_lm(counts=merged, **lm).collect()) == key(
        train_kn_lm(docs, **lm).collect()
    )
    if (order, modified) == (2, False):
        assert key(train_bigram_lm(counts=merged).collect()) == key(
            train_bigram_lm(docs).collect()
        )
        with pytest.raises(ValueError, match="needs df or counts"):
            train_bigram_lm()
    with pytest.raises(ValueError, match="not both"):
        train_kn_lm(docs, counts=merged, order=order, modified=modified)
    with pytest.raises(ValueError, match="needs df or counts"):
        train_kn_lm(order=order, modified=modified)
    with pytest.raises(ValueError, match="at least one part"):
        merge_ngram_counts()


def test_train_kn_lm_discount_fallback_and_scale_shape(spark):
    """A corpus with no singleton/doubleton bigram types falls back to
    the textbook D=3/4; the trainer shuffles bigrams once (exactly one
    corpus-side exchange below the bigram aggregate)."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    docs = spark.createDataFrame([("a b",)] * 3, ["text"])
    rows = {(r["u"], r["w"]): r for r in train_kn_lm(docs).collect()}
    # bigrams (<s>,a) x3, (a,b) x3 -> n1=n2=0 -> dn/dd = 3/4
    dn, dd, nbb = 3, 4, 2
    got = rows[("a", "b")]["p"]
    expect = Fraction(max(3 * dd - dn, 0) * nbb + dn * 1 * 1, 3 * dd * nbb)
    assert got == round(float(expect), 9)


def test_train_mkn_lm_hand_computed_healthy(spark):
    """Engineered corpus with every count-of-count bucket populated
    (n1=n2=n3=n4=2, nbb=8): Y=1/3 and the three discounts are the
    DISTINCT textbook values D1=1/3, D2=1, D3+=5/3 — as integer
    numerators 8/24/40 over the reduced common denominator
    DD = n2*n3*(n1+2*n2) = 24 — so the healthy (non-fallback) branch
    is pinned by hand-computed Fractions, not just the randomized
    reference."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    docs = spark.createDataFrame(
        [("a b",)] * 1 + [("c d",)] * 2 + [("e f",)] * 3 + [("g h",)] * 4,
        ["text"],
    )
    rows = {
        (r["u"], r["w"]): r
        for r in train_kn_lm(docs, modified=True, keep_ratio=True).collect()
    }
    assert len(rows) == 8
    # (a,b): count 1 -> D1 numerator 8: p = ((24-8)*8 + 8*1)/192
    r = rows[("a", "b")]
    assert (r["p_num"], r["p_den"]) == (136, 192)
    assert r["p"] == round(float(Fraction(136, 192)), 9)
    # (e,f): count 3 -> D3+ numerator 40: p = ((72-40)*8 + 40*1)/576
    r = rows[("e", "f")]
    assert (r["p_num"], r["p_den"]) == (296, 576)
    assert r["p"] == round(float(Fraction(296, 576)), 9)
    # unit mass over the full vocab for a singleton context
    total_cont = Fraction(sum({w: rows[k]["ncw"] for k in rows
                               for w in [k[1]]}.values()), 8)
    assert total_cont == 1
    seen = Fraction(72 - 40, 72)
    gamma = Fraction(40, 72)
    assert seen + gamma * total_cont == 1


def test_train_kn3_lm_hand_computed(spark):
    """Engineered corpus ('a b a b c' / 'a b c' / 'b c'): 7 trigram
    types with count-of-counts t1=4, t2=3 (D3 = 4/10) and
    continuation-bigram counts with m1=3, m2=2 (D2 = 3/7), Nbb=5 —
    every stage of the backoff chain hand-verified as exact
    Fractions, plus the full-vocabulary unit-mass identity for the
    (<s>, <s>) context including the UNSEEN-word continuation mass."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    docs = spark.createDataFrame(
        [("a b a b c",), ("a b c",), ("b c",), ("",), (None,)], ["text"]
    )
    rows = {
        (r["u"], r["v"], r["w"]): r
        for r in train_kn_lm(docs, order=3, keep_ratio=True).collect()
    }
    assert len(rows) == 7
    # P(a | <s>, <s>): count term (2*10-4)/30, gamma3 = 4*2/30,
    # P2(a|<s>) = (max(1*7-3,0)*5 + 3*2*2)/(2*7*5) = 32/70
    r = rows[("<s>", "<s>", "a")]
    assert (r["n_uvw"], r["n_uv"], r["n1uv"]) == (2, 3, 2)
    assert (r["c2_vw"], r["c2_v"], r["n1v"], r["ncw"]) == (1, 2, 2, 2)
    assert (int(r["p_num"]), int(r["p_den"])) == (1376, 2100)
    assert r["p"] == round(float(Fraction(1376, 2100)), 9)
    # P(b | <s>, a): singleton context, P2(b|a) = (2*7-3)*5+3*1*2)/(2*7*5)
    r = rows[("<s>", "a", "b")]
    assert (int(r["p_num"]), int(r["p_den"])) == (1364, 1400)
    # unit mass over the FULL vocab for context (<s>, <s>): the seen
    # mass plus gamma3 times [P2 of seen w's... all P2(w|<s>) for w in
    # vocab] — P2(c|<s>) is the pure-continuation branch (bigram
    # (<s>, c) unseen): D2 * n1v/c2_v * P1(c) = (3/7)*(2/2)*(1/5)
    seen = Fraction(1376, 2100) + Fraction(676, 2100)
    gamma3 = Fraction(4 * 2, 3 * 10)
    p2_unseen_c = Fraction(3, 7) * Fraction(2, 2) * Fraction(1, 5)
    assert seen + gamma3 * p2_unseen_c == 1


def test_kn3_doc_scores_hand_computed(spark):
    """Same engineered corpus as the kn3 trainer test: every trigram's
    Q20 cost must equal ilog2_q20(p_den) - ilog2_q20(p_num) over the
    hand-derived exact ratios (the trainer test above pins 1376/2100
    and 1364/1400; the rest follow from the same backoff chain), and
    the per-doc sums/means follow."""
    from traits_data_spark.functions.intmath import ilog2_q20
    from traits_data_spark.operators.text import kn_doc_scores

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c"), (3, "b c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in kn_doc_scores(docs, order=3).collect()}
    ratios = {
        ("<s>", "<s>", "a"): (1376, 2100),
        ("<s>", "<s>", "b"): (676, 2100),
        ("<s>", "a", "b"): (1364, 1400),
        ("<s>", "b", "c"): (874, 1050),
        ("a", "b", "a"): (886, 3150),
        ("a", "b", "c"): (2168, 3150),
        ("b", "a", "b"): (664, 700),
    }
    bits = {
        k: ilog2_q20(den) - ilog2_q20(num)
        for k, (num, den) in ratios.items()
    }
    streams = {
        1: [("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "a"),
            ("b", "a", "b"), ("a", "b", "c")],
        2: [("<s>", "<s>", "a"), ("<s>", "a", "b"), ("a", "b", "c")],
        3: [("<s>", "<s>", "b"), ("<s>", "b", "c")],
    }
    for doc, tris in streams.items():
        expect = sum(bits[t] for t in tris)
        assert out[doc]["n_trigrams"] == len(tris)
        assert out[doc]["nll_q20"] == expect
        assert out[doc]["bits_per_trigram_q20"] == expect // len(tris)
    # the doc containing the rare continuation (a, b, a) must cost
    # more mean bits than the fluent doc 2
    assert (
        out[1]["bits_per_trigram_q20"] > out[2]["bits_per_trigram_q20"]
    )


def test_train_mkn_lm_bigint_boundary_exact(spark):
    """Round-15 overflow-boundary attestation: synthetic counts with
    n1..n4 = 100_000 type-count buckets. The round-14 form's common
    denominator n1*n2*n3*(n1+2*n2) = 3e20 wraps BIGINT silently
    (2^63-1 ~ 9.2e18) and the numerator n_uw*DD*Nbb ~ 4.8e21 wraps
    even with the reduced denominator — the DECIMAL(38,0) pipeline
    must still be EXACT, matching fractions.Fraction ground truth
    computed from the same count-of-count stats."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from traits_data_spark.operators.text import train_kn_lm

    n_bucket = 100_000
    counts = spark.range(4 * n_bucket).select(
        F.concat(F.lit("u"), F.col("id")).alias("u"),
        F.concat(F.lit("w"), F.col("id")).alias("w"),
        (F.lit(1) + F.pmod("id", F.lit(4))).cast("long").alias("n_uw"),
    )
    rows = {
        r["u"]: r
        for r in train_kn_lm(counts=counts, modified=True, keep_ratio=True)
        .filter(F.col("u").isin("u0", "u3"))
        .collect()
    }
    n1 = n2 = n3 = n4 = n_bucket
    nbb = 4 * n_bucket
    yd = n1 + 2 * n2
    DD = n2 * n3 * yd
    assert n1 * n2 * n3 * yd > 2**63 - 1  # the round-14 form wraps here
    d1 = n1 * n2 * n3
    d2 = (2 * n2 * yd - 3 * n1 * n3) * n3
    d3 = (3 * n3 * yd - 4 * n1 * n4) * n2
    # every synthetic context holds ONE type: n_u = n_uw, one nu bucket
    for uid, n_uw, d in (("u0", 1, d1), ("u3", 4, d3)):
        r = rows[uid]
        truth = Fraction(
            max(n_uw * DD - d, 0) * nbb
            + (d1 * (n_uw == 1) + d2 * (n_uw == 2) + d3 * (n_uw >= 3)),
            n_uw * DD * nbb,
        )
        assert int(r["p_num"]) > 2**63 - 1  # long arithmetic would wrap
        assert Fraction(int(r["p_num"]), int(r["p_den"])) == truth
        assert r["p"] == round(
            float(int(r["p_num"])) / float(int(r["p_den"])), 9
        )


def test_train_kn_lm_decimal_boundary_exact(spark):
    """Order-2 interpolated KN past the BIGINT boundary: synthetic
    counts with 4e5 one-type contexts, n_uw = 1 + id % 4, except
    context u0 with n_uw = 1e8, so the model denominator
    n_u*dd*Nbb ~ 1.2e19 exceeds 2^63 (a BIGINT ratio overflows there).
    The DECIMAL(38,0) ratio must still be EXACT, matching the
    fractions.Fraction ground truth from the same count-of-counts."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    n_ctx, big = 400_000, 10**8
    counts = spark.range(n_ctx).select(
        F.concat(F.lit("u"), F.col("id")).alias("u"),
        F.concat(F.lit("w"), F.col("id")).alias("w"),
        F.when(F.col("id") == 0, F.lit(big))
        .otherwise(F.lit(1) + F.pmod("id", F.lit(4)))
        .cast("long")
        .alias("n_uw"),
    )
    rows = {
        r["u"]: r
        for r in train_kn_lm(counts=counts, keep_ratio=True)
        .filter(F.col("u").isin("u0", "u1", "u3"))
        .collect()
    }
    # singletons: ids = 0 mod 4 except u0; doubletons: ids = 1 mod 4
    n1, n2 = n_ctx // 4 - 1, n_ctx // 4
    dn, dd, nbb = n1, n1 + 2 * n2, n_ctx
    assert big * dd * nbb > 2**63 - 1
    # every context holds ONE type (n_u = n_uw, N1+(u .) = 1) and every
    # word one predecessor (ncw = 1)
    for uid, n_uw in (("u0", big), ("u1", 2), ("u3", 4)):
        r = rows[uid]
        truth = Fraction(
            max(n_uw * dd - dn, 0) * nbb + dn, n_uw * dd * nbb
        )
        assert Fraction(int(r["p_num"]), int(r["p_den"])) == truth
        assert r["p"] == round(
            float(int(r["p_num"])) / float(int(r["p_den"])), 9
        )
    assert int(rows["u0"]["p_den"]) > 2**63 - 1


def test_bpe_train_tokens_hand_computed(spark):
    """'abab abab' / 'ab' corpus: merges learned are (a,b) then
    (ab,ab); 'abab' -> 1 token, 'ab' -> 1 token. Doc 1 has two words
    -> 2 tokens; doc 2 -> 1. A doc with only an over-length word falls
    back to chars; an empty doc keeps a 0 row."""
    from traits_data_spark.operators.text import bpe_train_token_counts

    long_word = "q" * 40
    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "ab"), (3, long_word), (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["bpe_trained_tokens"]
           for r in bpe_train_token_counts(docs, n_merges=2).collect()}
    assert out[1] == 2
    assert out[2] == 1
    assert out[3] == 40  # char fallback for untrained over-length word
    assert out[4] == 0


def test_bm25_champion_lists_bound_and_match_exhaustive_topk(spark):
    """Champion cut semantics: (1) with champion_n >= |D| the result
    equals exhaustive BM25 (the salted two-phase top-N selects exactly
    the single-window cut); (2) with champion_n=1 only each term's
    highest-tf document is scorable, so a query can never retrieve
    more than its term count in docs — the bounded-cost contract."""
    from traits_data_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana"),
            (3, "apple banana cherry"),
            (4, "cherry cherry"),
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([(100, "apple banana")], ["doc_id", "text"])
    exhaustive = sorted(
        map(tuple, bm25_topk(docs, q, k=10).collect())
    )
    wide = sorted(
        map(tuple, bm25_topk(docs, q, k=10, champion_n=10).collect())
    )
    assert exhaustive == wide
    narrow = bm25_topk(docs, q, k=10, champion_n=1).collect()
    # apple's champion is doc 1 (tf 3), banana's is doc 2 (tf 2):
    # docs 3 (tf-1 everywhere) and 4 are unreachable
    assert sorted(r["neighbor_id"] for r in narrow) == [1, 2]
    # a doc scores ONLY the terms it champions (doc 1 keeps apple but
    # loses banana to doc 2), so champion scores are <= exhaustive and
    # each survivor matches exactly its championed terms
    exh = {(r[0], r[1]): r for r in exhaustive}
    for r in narrow:
        assert r["matched_terms"] == 1
        assert 0 < r["score_micro"] < exh[(100, r["neighbor_id"])][3]


def _naive_bpe_train(texts, n_merges, max_word_len=32):
    """Deliberately-different reference BPE trainer (dict/Counter,
    per-word python lists) for randomized parity with the engine's
    fold-based implementation."""
    import re
    from collections import Counter

    wc = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.sub(r"\s+", " ", t).strip().lower().split(" "):
            if 0 < len(w) <= max_word_len:
                wc[w] += 1
    states = {w: list(w) for w in wc}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in states.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l, r), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, cnt))
        for w, syms in states.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            states[w] = out
    return merges


def test_bpe_train_randomized_parity_with_naive_reference(spark):
    """Five seeded random corpora over a tiny alphabet (forcing heavy
    pair overlap and count ties) must train identical merge tables in
    the engine and the naive reference — rank, pair AND count."""
    import random

    from traits_data_spark.operators.text import bpe_train

    for seed in range(5):
        rng = random.Random(seed)
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(30)
        ]
        want = _naive_bpe_train(texts, n_merges=5)
        docs = spark.createDataFrame([(t,) for t in texts], ["text"])
        got = sorted(
            (r["rank"], r["left"], r["right"], r["pair_count"])
            for r in bpe_train(docs, n_merges=5).collect()
        )
        assert got == [(r, l, rt, c) for r, l, rt, c in want], (
            f"seed {seed}: {got} != {want}"
        )


def test_bpe_train_empty_and_unmergeable_corpus(spark):
    """No learnable merge (all words single-char): bpe_train returns
    an EMPTY typed frame (round-11 review: it crashed with IndexError),
    matching the oracle's zero rows."""
    from traits_data_spark.operators.text import bpe_train

    docs = spark.createDataFrame([("a b c",), (None,)], ["text"])
    out = bpe_train(docs, n_merges=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "rank", "left", "right", "pair_count",
    ]


def test_bpe_train_oracles_survive_vocab_collapse(spark, tmp_path):
    """Round-11 review finding (confirmed by execution): when the
    vocabulary fully merges BEFORE n_merges, the old oracle's
    unconditional CROSS JOIN against an empty b{step} emptied the
    word-state chain — Spark said 'ab cd' = 2 tokens, the oracle said
    4 (char fallback for every word). Both bpe oracles now keep the
    state through empty steps via LEFT JOIN ON TRUE; this test runs
    Spark AND DuckDB on the collapsing corpus and requires equality."""
    import duckdb

    from traits_data_spark.catalog.text import (
        _bpe_train_sql,
        _bpe_train_tokens_sql,
        q_bpe_train,
        q_bpe_train_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "ab cd"), (2, None), (3, "")], ["doc_id", "text"]
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )

    got_tok = sorted(
        (r["doc_id"], r["bpe_trained_tokens"])
        for r in q_bpe_train_tokens(spark, str(tmp_path)).collect()
    )
    want_tok = sorted(con.execute(_bpe_train_tokens_sql()).fetchall())
    assert got_tok == [(1, 2), (2, 0), (3, 0)]
    assert got_tok == want_tok

    got_m = sorted(map(tuple, q_bpe_train(spark, str(tmp_path)).collect()))
    want_m = sorted(con.execute(_bpe_train_sql()).fetchall())
    assert got_m == [(1, "a", "b", 1), (2, "c", "d", 1)]
    assert got_m == want_m


# ---------------------------------------------------------------------------
# Serving-layer name search
# ---------------------------------------------------------------------------


def test_name_search_normalization_and_prefix(spark):
    """ø-normalization matches the sink DDL's generated column; terms
    score exact vs prefix hits; matched_all is the boolean-mode AND."""
    from traits_data_spark.operators.text import name_search

    df = spark.createDataFrame(
        [
            (1, "Bøb Marley"),
            (2, "bob dylan"),
            (3, "Alice Cooper"),
            (4, "Bobby Brown"),
        ],
        "id long, name string",
    )
    out = {r.id: r for r in name_search(df, "bøb", id_col="id").collect()}
    # 'bøb' normalizes to 'bob': exact on 1 and 2, prefix-only on 4
    assert set(out) == {1, 2, 4}
    assert out[1].exact_hits == 1 and out[1].prefix_hits == 1
    assert out[2].exact_hits == 1
    assert out[4].exact_hits == 0 and out[4].prefix_hits == 1
    assert all(r.matched_all for r in out.values())

    two = {r.id: r for r in name_search(df, "bo dy", id_col="id").collect()}
    # every row with a bo* token returns; only 'bob dylan' has dy* too
    assert set(two) == {1, 2, 4}
    assert two[2].matched_all and two[2].prefix_hits == 2
    assert not two[1].matched_all and not two[4].matched_all

    # the QUERY passes through the same tokenizer as the name column
    # (MySQL FULLTEXT tokenizes both sides): "o'brien" = terms
    # [o, brien], so a name's own text always matches itself
    ob = spark.createDataFrame(
        [(10, "O'Brien"), (11, "Mary O Brienne")], "id long, name string"
    )
    hits = {r.id: r for r in name_search(ob, "o'brien", id_col="id").collect()}
    assert set(hits) == {10, 11}
    assert hits[10].matched_all and hits[10].exact_hits == 2
    assert hits[11].matched_all and hits[11].exact_hits == 1  # brienne prefix

    import pytest

    with pytest.raises(ValueError):
        name_search(df, "   ", id_col="id")


def test_name_search_catalog_shape(spark, sf_dir):
    """Catalog entry: 'red bo' over part names — every match has a
    bo* or red token; matched_all rows have both."""
    from traits_data_spark.catalog.selection import q_name_search

    rows = q_name_search(spark, sf_dir).collect()
    assert rows
    for r in rows:
        toks = r.p_name.lower().split()
        has_red = "red" in toks
        has_bo = any(t.startswith("bo") for t in toks)
        assert has_red or has_bo
        assert r.matched_all == (has_red and has_bo)
        assert r.exact_hits == int(has_red) + int("bo" in toks)
