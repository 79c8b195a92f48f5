"""Seeded input generator for the benchmark workloads.

Everything is generated from scratch in this process with NumPy's PCG64
generator; nothing is read from outside the working directory. The same
``(workload, seed, size)`` always gives byte-identical files, and
``input_digest`` fingerprints them.

Properties kept regardless of seed (the ones the engine's behaviour
depends on):

- fact tables are TPC-H lineitem-shaped (the catalog's E1/E2 specs and
  oracles apply unchanged) and the supplier ("player") key space grows
  with the row count, so profile cardinality grows with rows;
- ``(l_orderkey, l_linenumber)`` is unique (the stock TPC-H key has
  duplicates), so it can serve as the upsert key;
- documents use a fixed 31-word vocabulary, 10-100 words per document,
  20 sources and 5 languages; exactly 5% (rounded) are near-duplicates
  (an earlier document with one word appended) and 0.5% exact
  duplicates, at seeded positions;
- embeddings are 64-d unit vectors drawn around 10 cluster centres with
  a fixed concentration, plus about 2% near-duplicate vectors; the
  seed rotates one fixed geometry per size, so pairwise cosines, the
  near-dup graph and the work over it are the same for every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter stream big group vector dup"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.005
EMB_DIM = 64
EMB_CLUSTERS = 10
EMB_NEAR_DUP_RATE = 0.02
ROWS_PER_SUPPLIER = 600  # TPC-H: 6M lineitem rows per 10k suppliers
SEASONS = (2020, 2021, 2022, 2023, 2024)

_WORKLOAD_SALT = {"corpus_curation": 2, "incremental_upsert": 3}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_WORKLOAD_SALT[workload], int(seed)])


def input_digest(paths: list[str]) -> str:
    """sha256 over the files' names and bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


# ---------------------------------------------------------------------------
# lineitem-shaped facts
# ---------------------------------------------------------------------------

_EPOCH_1992_US = 694224000 * 1_000_000


def facts_columns(rng: np.random.Generator, n_rows: int, first_order: int = 1) -> dict:
    """``n_rows`` lineitem rows: orders of 1-7 lines, unique
    ``(l_orderkey, l_linenumber)``, ``l_suppkey`` over ``n_rows / 600``
    suppliers, TPC-H price/discount/flag domains."""
    n_supp = max(10, n_rows // ROWS_PER_SUPPLIER)
    lines = rng.integers(1, 8, size=n_rows)  # upper bound on order count
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(ends[n_orders - 1] - n_rows)
    order_idx = np.repeat(np.arange(n_orders), lines)
    # sparse order keys (TPC-H style gaps) keep rank ties realistic
    orderkey = (first_order + order_idx * 4).astype(np.int64)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)
    return _line_values(rng, n_supp, orderkey, linenumber)


def _line_values(rng, n_supp, orderkey, linenumber) -> dict:
    n = len(orderkey)
    partkey = rng.integers(1, n_supp * 20 + 1, size=n).astype(np.int64)
    suppkey = rng.integers(0, n_supp, size=n).astype(np.int64)
    qty = rng.integers(1, 51, size=n)
    # TPC-H retail price in cents; extended price = qty * price (cents)
    price_c = 90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)
    ext = (qty * price_c) / 100.0
    disc = rng.integers(0, 11, size=n) / 100.0
    tax = rng.integers(0, 9, size=n) / 100.0
    ship_us = _EPOCH_1992_US + rng.integers(0, 2526, size=n) * 86_400_000_000
    shipped = rng.random(n) < 0.5
    flag = np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    status = np.where(shipped, "F", "O")
    return {
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": suppkey,
        "l_linenumber": linenumber,
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": ship_us,
    }


_FACT_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us", tz="UTC")),
    ]
)


def facts_table(cols: dict, season: np.ndarray | None = None) -> pa.Table:
    arrays = [pa.array(cols[f.name], type=f.type) for f in _FACT_SCHEMA]
    schema = _FACT_SCHEMA
    if season is not None:
        arrays.append(pa.array(season, type=pa.int32()))
        schema = schema.append(pa.field("season", pa.int32()))
    return pa.Table.from_arrays(arrays, schema=schema)


# ---------------------------------------------------------------------------
# documents + embeddings
# ---------------------------------------------------------------------------


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB[:-1])  # "dup" only enters through near-dups
    # fixed duplicate counts at seeded positions: the seed moves which
    # documents repeat, not how many
    n_exact, n_near = round(n * EXACT_DUP_RATE), round(n * NEAR_DUP_RATE)
    picked = 1 + rng.permutation(max(n - 1, 0))[: n_exact + n_near]
    kind = dict.fromkeys(picked[:n_exact].tolist(), "exact")
    kind.update(dict.fromkeys(picked[n_exact:].tolist(), "near"))
    texts: list[str] = []
    for i in range(n):
        if i in kind:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if kind[i] == "exact" else src + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=k)]))
    source = rng.integers(0, N_SOURCES, size=n)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in lang]),
            "source": pa.array([f"src{j}" for j in source]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit vectors around ``EMB_CLUSTERS`` centres. Their geometry
    comes from a generator fixed by ``n`` alone; the seed only rotates
    it. Cosines are rotation-invariant, so every seed gives the same
    near-dup graph (and the same number of connected-components rounds
    over it) with different vector values."""
    shape = np.random.default_rng([_WORKLOAD_SALT["corpus_curation"], 0, n])
    centres = shape.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = shape.integers(0, EMB_CLUSTERS, size=n)
    # concentration 0.35: same-cluster mean cosine ~0.1, so the 0.3
    # near-dup threshold keeps a sparse (not complete) shard graph
    vec = 0.35 * centres[label] + shape.normal(scale=1 / np.sqrt(EMB_DIM), size=(n, EMB_DIM))
    dup = np.flatnonzero(shape.random(n) < EMB_NEAR_DUP_RATE)
    dup = dup[dup > 0]
    src = (shape.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + shape.normal(scale=0.02 / np.sqrt(EMB_DIM), size=(len(dup), EMB_DIM))
    label[dup] = label[src]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    # a seeded orthogonal matrix (QR of a Gaussian, signs fixed by R)
    q, r = np.linalg.qr(rng.normal(size=(EMB_DIM, EMB_DIM)))
    vec = vec @ (q * np.sign(np.diag(r)))
    emb = pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        }
    )


def gen_corpus(out_dir: str, seed: int, docs: int, vectors: int) -> list[str]:
    rng = rng_for("corpus_curation", seed)
    return [
        _write(documents_table(rng, docs), f"{out_dir}/documents.parquet"),
        _write(embeddings_table(rng, vectors), f"{out_dir}/embeddings.parquet"),
    ]


# ---------------------------------------------------------------------------
# incremental upsert: seeded base table + batch sequence
# ---------------------------------------------------------------------------

KEYS = ("l_orderkey", "l_linenumber")


@dataclass
class Batch:
    season: int
    upserts: pa.Table  # the season's re-fetched rows, with the season column
    retract: list[tuple[int, int]] = field(default_factory=list)


def gen_incremental(
    out_dir: str, seed: int, rows: int, n_batches: int, correct: float,
    insert: float, retract: float,
) -> tuple[str, list[Batch]]:
    """Base fact table (``rows`` rows over ``SEASONS``) plus a batch
    sequence. Every batch is the next season in turn (a season loop),
    re-fetched in full: all its live keys are re-sent, a ``correct``
    share of them with new values, an ``insert`` share (of the live
    count) of new keys is added, and a ``retract`` share of live keys
    is missing from the re-fetch and retracted by key. Retracted keys
    never come back."""
    rng = rng_for("incremental_upsert", seed)
    cols = facts_columns(rng, rows)
    season = np.array(SEASONS, dtype=np.int32)[rng.integers(0, len(SEASONS), size=rows)]
    base = facts_table(cols, season)
    path = _write(base, f"{out_dir}/facts_base.parquet")

    n_supp = max(10, rows // ROWS_PER_SUPPLIER)
    live = {s: {k: v[season == s] for k, v in cols.items()} for s in SEASONS}
    next_order = int(cols["l_orderkey"].max()) + 4
    batches = []
    for i in range(n_batches):
        s = SEASONS[i % len(SEASONS)]
        cur = {k: v.copy() for k, v in live[s].items()}
        n = len(cur["l_orderkey"])
        pick = rng.permutation(n)
        n_corr, n_gone, n_new = round(correct * n), round(retract * n), round(insert * n)
        corr, gone = pick[:n_corr], np.sort(pick[n_corr:n_corr + n_gone])
        for k, v in _line_values(rng, n_supp, cur["l_orderkey"][corr],
                                 cur["l_linenumber"][corr]).items():
            cur[k][corr] = v
        new = _line_values(
            rng, n_supp,
            np.array([next_order + 4 * (j // 4) for j in range(n_new)], dtype=np.int64),
            np.array([1 + j % 4 for j in range(n_new)], dtype=np.int32))
        next_order += 4 * ((n_new + 3) // 4) + 4
        keep = np.setdiff1d(np.arange(n), gone)
        live[s] = {k: np.concatenate([cur[k][keep], new[k]]) for k in cur}
        up = facts_table(live[s], np.full(len(keep) + n_new, s, dtype=np.int32))
        retracted = [(int(cur["l_orderkey"][j]), int(cur["l_linenumber"][j])) for j in gone]
        batches.append(Batch(s, up, retracted))
    return path, batches


def batches_digest(batches: list[Batch]) -> str:
    """sha256 over every batch's season, retracted keys and rows."""
    h = hashlib.sha256()
    for b in batches:
        h.update(f"{b.season}:{b.retract}".encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.upserts.schema) as w:
            w.write_table(b.upserts)
        h.update(sink.getvalue())
    return h.hexdigest()


def bronze_json_lines(table: pa.Table) -> str:
    """The batch as newline-delimited JSON, as an upstream fetcher would
    land it. Floats print with ``repr`` (shortest round-trip form), so
    the parsed values equal the generated ones bit for bit."""
    out = []
    for row in table.to_pylist():
        row["l_shipdate"] = row["l_shipdate"].isoformat()
        out.append(json.dumps(row))
    return "\n".join(out) + "\n"
