"""Build the committed unigram-LM (SentencePiece-style) tokenizer
artifacts:

- ``traits_data_spark/data/unigram_vocab.parquet`` (piece VARCHAR,
  logp_micro BIGINT): a unigram language-model piece inventory learned
  from the corpus (substring-seeded, EM-refined Viterbi counts,
  pruned), padded to production size with deterministic low-probability
  a-z pieces — the same stand-in-for-a-model-artifact contract as
  ``build_bpe_vocab.py`` / ``build_bpe_merges.py``. All ``ln`` calls
  happen HERE (integer micro-nat log-probs), never in a query plan.
- ``traits_data_spark/data/unigram_counts.parquet`` (word VARCHAR,
  n_tokens BIGINT, nll_micro BIGINT): expected Viterbi token count and
  total negative log-prob for every distinct corpus word, computed by
  the RECURSIVE reference tokenizer below — deliberately a different
  implementation from the engine's iterative DP
  (``operators.text.unigram_train_viterbi_py``, called through
  ``unigram_tokens_py``), so the catalog oracle is an
  independent check, parity-tested in tests/test_text.py.

Rerun only to regenerate after changing the rules here; the committed
files are the source of truth for the catalog query and its oracle.
"""

from __future__ import annotations

import math
import os
from functools import lru_cache

import duckdb
import pandas as pd

SRC = "/root/testdata/sf0.1/documents.parquet"
DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "traits_data_spark", "data",
)
VOCAB_OUT = os.path.join(DATA_DIR, "unigram_vocab.parquet")
COUNTS_OUT = os.path.join(DATA_DIR, "unigram_counts.parquet")

MAX_PIECE_LEN = 4      # keeps 5+-char words genuinely multi-piece
VOCAB_SIZE = 2000      # production-shaped broadcast, like bpe_vocab_large
N_EM_ITERS = 2
UNK_LOGP_MICRO = -20_000_000  # per unknown char, micro-nats
MAX_WORD_LEN = 64      # longer words tokenize as chars (O(L^2) guard)


def word_counts() -> dict[str, int]:
    q = f"""
    WITH d AS (
      SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
      FROM read_parquet('{SRC}') WHERE text IS NOT NULL
    ),
    w AS (SELECT unnest(list_filter(string_split(nt, ' '),
                                    x -> length(x) > 0)) AS w FROM d)
    SELECT w, count(*) AS c FROM w GROUP BY w ORDER BY w
    """
    return dict(duckdb.sql(q).fetchall())


def viterbi_reference(
    word: str, logp: dict[str, int], max_piece_len: int = MAX_PIECE_LEN
) -> tuple[int, int, tuple[str, ...]]:
    """RECURSIVE best-suffix-segmentation reference (memoized):
    maximizes ``(total_logp_micro, -n_pieces)`` lexicographically —
    the same objective as the engine's iterative left-to-right DP,
    implemented the other way around on purpose. Returns
    ``(n_tokens, nll_micro, pieces)``."""
    if len(word) > MAX_WORD_LEN:
        nll = -sum(logp.get(c, UNK_LOGP_MICRO) for c in word)
        return len(word), nll, tuple(word)

    @lru_cache(maxsize=None)
    def best(i: int) -> tuple[int, int, tuple[str, ...]]:
        # best (score, -count, pieces) for suffix word[i:]
        if i == len(word):
            return (0, 0, ())
        cands = []
        for ln in range(1, min(max_piece_len, len(word) - i) + 1):
            piece = word[i : i + ln]
            lp = logp.get(piece)
            if lp is None:
                if ln != 1:
                    continue
                lp = UNK_LOGP_MICRO
            s, negc, rest = best(i + ln)
            cands.append((s + lp, negc - 1, (piece,) + rest))
        return max(cands, key=lambda t: (t[0], t[1]))

    score, negc, pieces = best(0)
    return -negc, -score, pieces


def train(wc: dict[str, int]) -> dict[str, int]:
    """Substring-seeded, EM-refined unigram LM. Deterministic: counts
    are integers, ties in pruning break lexicographically."""
    # seed: every substring of length 1..MAX_PIECE_LEN, occurrence-weighted
    seed: dict[str, int] = {}
    for w, c in sorted(wc.items()):
        for i in range(len(w)):
            for ln in range(1, min(MAX_PIECE_LEN, len(w) - i) + 1):
                p = w[i : i + ln]
                seed[p] = seed.get(p, 0) + c
    singles = {p for p in seed if len(p) == 1}

    def to_logp(counts: dict[str, int]) -> dict[str, int]:
        total = sum(counts.values())
        return {
            p: round(math.log(c / total) * 1_000_000)
            for p, c in counts.items()
        }

    counts = dict(seed)
    for _ in range(N_EM_ITERS):
        logp = to_logp(counts)
        new: dict[str, int] = {}
        for w, c in sorted(wc.items()):
            _, _, pieces = viterbi_reference(w, logp)
            for p in pieces:
                new[p] = new.get(p, 0) + c
        # Laplace-style floor keeps every single char alive (coverage)
        for p in singles:
            new.setdefault(p, 1)
        counts = new

    # prune to VOCAB_SIZE: singles always kept; others by (count desc,
    # piece asc); pad with deterministic a-z bigrams/trigrams at a low
    # fixed probability so the broadcast is production-shaped
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )
    kept = {p: counts[p] for p in singles}
    for p, c in multi[: max(0, VOCAB_SIZE - len(kept))]:
        kept[p] = c
    logp = to_logp(kept)
    if len(logp) < VOCAB_SIZE:
        pad_lp = round(math.log(1e-9) * 1_000_000)
        alpha = "abcdefghijklmnopqrstuvwxyz"
        pads = [a + b for a in alpha for b in alpha]
        pads += [a + b + c for a in alpha for b in alpha for c in "aeiou"]
        for p in pads:
            if len(logp) >= VOCAB_SIZE:
                break
            logp.setdefault(p, pad_lp)
    return logp


def main() -> None:
    wc = word_counts()
    logp = train(wc)
    vocab = pd.DataFrame(
        sorted(logp.items()), columns=["piece", "logp_micro"]
    ).astype({"logp_micro": "int64"})
    vocab.to_parquet(VOCAB_OUT, index=False)

    rows = []
    for w in sorted(wc):
        n, nll, _ = viterbi_reference(w, logp)
        rows.append((w, n, nll))
    counts = pd.DataFrame(
        rows, columns=["word", "n_tokens", "nll_micro"]
    ).astype({"n_tokens": "int64", "nll_micro": "int64"})
    counts.to_parquet(COUNTS_OUT, index=False)
    print(
        f"vocab: {len(vocab)} pieces -> {VOCAB_OUT}\n"
        f"counts: {len(counts)} words -> {COUNTS_OUT}\n"
        f"token histogram: {counts.n_tokens.value_counts().to_dict()}"
    )


if __name__ == "__main__":
    main()
