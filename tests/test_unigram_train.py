"""On-cluster unigram-LM trainer: fixed-point log2 portability, the
tie-broken Viterbi, and a HAND-COMPUTED 2-iteration EM — the class of
semantics bug the oracle gate cannot catch (both engines agreeing on
the wrong algorithm, the round-11 BPE fold-merge lesson) is only
caught by expectations derived by hand.
"""

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from traits_data_spark.functions.intmath import ilog2_q20, logp2_q20
from traits_data_spark.operators.text import (
    UNIGRAM_TRAIN_UNK_Q20,
    unigram_train,
    unigram_train_token_counts,
    unigram_train_viterbi_py,
)

# ---------------------------------------------------------------- ilog2


def test_ilog2_exact_on_powers_of_two():
    for b in range(0, 63):
        assert ilog2_q20(1 << b) == b << 20


@given(st.integers(min_value=1, max_value=(1 << 62) - 1))
@settings(max_examples=300, deadline=None)
def test_ilog2_error_bound_and_monotonicity(x):
    # truncation-only error: il/2^20 in (log2(x) - eps, log2(x)], where
    # eps covers the 2^-20 digit truncation plus the Q30 mantissa floor
    approx = ilog2_q20(x) / (1 << 20)
    true = math.log2(x)
    assert approx <= true + 1e-12
    assert approx > true - 4e-6
    if x > 1:
        assert ilog2_q20(x) >= ilog2_q20(x - 1)


def test_ilog2_rejects_nonpositive():
    with pytest.raises(ValueError):
        ilog2_q20(0)


def test_ilog2_python_matches_duckdb_recursive_cte():
    # the SQL twin the oracles embed must agree bit-for-bit
    from traits_data_spark.catalog.text import _ilog2_ctes

    vals = (
        [1, 2, 3, 5, 9, 10, 31, 1023, 1024, 1025, (1 << 29) - 1,
         1 << 30, (1 << 30) + 1, 999999999999, (1 << 45) + 12345,
         (1 << 62) - 1]
    )
    sql = (
        "WITH RECURSIVE vv AS (SELECT unnest(["
        + ",".join(map(str, vals))
        + "]::BIGINT[]) AS v),"
        + _ilog2_ctes("il", "(SELECT v, v AS x FROM vv)", "v")
        + "\nSELECT v, il FROM il"
    )
    got = dict(duckdb.sql(sql).fetchall())
    for v in vals:
        assert got[v] == ilog2_q20(v), v


# -------------------------------------------------------------- viterbi


def test_viterbi_prefers_fewer_pieces_on_score_tie():
    # [xy] and [x, y] tie on score; -n breaks toward the single piece
    s = {"x": -10, "y": -10, "xy": -20}
    assert unigram_train_viterbi_py("xy", s) == (1, -20, ["xy"])


def test_viterbi_len_key_pins_chosen_pieces_on_full_tie():
    # two segmentations tie on (score, n): [ab, c] vs [a, bc].  The
    # third DP key (piece length at each boundary) must pick ONE of
    # them deterministically on both engines: at position 3 the l=2
    # candidate (piece 'bc') beats l=1 ('c'), so [a, bc] wins.
    s = {"a": -5, "c": -5, "ab": -7, "bc": -7}
    assert unigram_train_viterbi_py("abc", s) == (2, -12, ["a", "bc"])


def test_viterbi_unknown_single_char_fallback():
    n, sc, pieces = unigram_train_viterbi_py("qz", {"q": -3})
    assert (n, pieces) == (2, ["q", "z"])
    assert sc == -3 + UNIGRAM_TRAIN_UNK_Q20


# ------------------------------------------------- hand-computed hard-EM
#
# Corpus: one document "ab ab ba" → distinct words ab (c=2), ba (c=1).
#
# Seed substrings (occurrence-weighted):
#   from ab×2: a+2, b+2, ab+2;  from ba×1: b+1, a+1, ba+1
#   → a:3 b:3 ab:2 ba:1, total 9.
# M-step 1 (Q20 log2-probs; il(3)=1661953, il(9)=3323907, il(2)=2^20):
#   s(a)=s(b)=il(3)-il(9)=-1661954,  s(ab)=il(2)-il(9)=-2275331,
#   s(ba)=il(1)-il(9)=-3323907.
# E-step 1:
#   "ab": [ab]=-2275331 beats [a,b]=-3323908 → pieces [ab].
#   "ba": [ba]=-3323907 vs [b,a]=-3323908 — in REAL arithmetic these
#         tie exactly (1/9 = 3/9 · 3/9); in Q20 the single piece wins
#         by ONE ulp of truncation (2·il(3)=3323906 < il(9)=3323907).
#         A one-micro-bit decision both engines must make identically —
#         the whole point of the engine-exact integer log2.
#   counts: ab:2, ba:1; singles floor re-adds a:1, b:1 → total 5.
# M-step 2: s(ab)=il(2)-il(5)=-1386142, s(ba)=s(a)=s(b)=-il(5)=-2434718.
# E-step 2: same segmentations ([ab] -1386142 vs [a,b] -4869436;
#   [ba] -2434718 vs [b,a] -4869436) → EM has converged:
#   ab:2, ba:1, a:1, b:1, total 5.
# Prune (vocab 150 ≫ 4): everything kept; final Q20 log-probs as in
# M-step 2.
EXPECTED_TINY = [
    ("a", 1, -2434718),
    ("ab", 2, -1386142),
    ("b", 1, -2434718),
    ("ba", 1, -2434718),
]


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, "ab ab ba")], "doc_id int, text string"
    )


def test_unigram_train_hand_computed_em(spark, tiny):
    got = sorted(
        (r["piece"], r["em_count"], r["logp2_q20"])
        for r in unigram_train(tiny).collect()
    )
    assert got == EXPECTED_TINY


def test_unigram_train_partition_invariant(spark, tiny):
    eight = spark.createDataFrame(
        [(i, "ab ab ba") for i in range(8)], "doc_id int, text string"
    ).repartition(7)
    got = sorted(
        (r["piece"], r["em_count"], r["logp2_q20"])
        for r in unigram_train(eight).collect()
    )
    # counts scale ×8 except the singles floor (still 1); the floored
    # singles' log-probs shift with the new total 16+8+1+1 = 26
    assert got == [
        ("a", 1, logp2_q20(1, 26)),
        ("ab", 16, logp2_q20(16, 26)),
        ("b", 1, logp2_q20(1, 26)),
        ("ba", 8, logp2_q20(8, 26)),
    ]


def test_unigram_train_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id int, text string")
    assert unigram_train(empty).collect() == []


def test_unigram_train_tokens_hand_computed(spark, tiny):
    rows = unigram_train_token_counts(tiny).collect()
    assert len(rows) == 1
    r = rows[0]
    # doc "ab ab ba" under the converged model: ab→[ab]×2, ba→[ba],
    # nll = 2·1386142 + 2434718
    assert r["unigram_trained_tokens"] == 3
    assert r["nll_q20"] == 2 * 1386142 + 2434718


def test_unigram_train_tokens_keeps_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "ab ab ba"), (2, None), (3, "   ")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["unigram_trained_tokens"], r["nll_q20"])
        for r in unigram_train_token_counts(df).collect()
    }
    assert got[2] == (0, 0) and got[3] == (0, 0)
    assert got[1][0] == 3


def test_unigram_train_vocab_prune_keeps_singles(spark):
    # vocab_size below the number of singles: singles must survive
    df = spark.createDataFrame(
        [(1, "abc abc xyz")], "doc_id int, text string"
    )
    pieces = {
        r["piece"] for r in unigram_train(df, vocab_size=2).collect()
    }
    assert {"a", "b", "c", "x", "y", "z"} <= pieces
    assert all(len(p) == 1 for p in pieces)
