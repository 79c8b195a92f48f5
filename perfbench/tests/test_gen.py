"""The seeded input generator: determinism and the properties it keeps."""

import numpy as np
import pyarrow.parquet as pq

import gen


def _files(tmp_path, name, seed):
    d = tmp_path / f"{name}-{seed}"
    d.mkdir()
    base, batches = gen.gen_incremental(str(d), seed, 3000, 4, 0.05, 0.05, 0.02)
    return gen.gen_corpus(str(d), seed, 120, 80) + [base], gen.batches_digest(batches)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    (a, da), (b, db) = _files(tmp_path, "a", 7), _files(tmp_path, "b", 7)
    for pa_, pb_ in zip(a, b):
        assert open(pa_, "rb").read() == open(pb_, "rb").read()
    assert gen.input_digest(a) == gen.input_digest(b)
    assert da == db


def test_different_seeds_give_different_inputs(tmp_path):
    (a, da), (b, db) = _files(tmp_path, "a", 7), _files(tmp_path, "b", 8)
    assert gen.input_digest(a) != gen.input_digest(b)
    assert da != db


def test_fact_keys_unique_and_suppliers_scale_with_rows():
    for rows in (6_000, 60_000):
        cols = gen.facts_columns(gen.rng_for("incremental_upsert", 1), rows)
        keys = set(zip(cols["l_orderkey"].tolist(), cols["l_linenumber"].tolist()))
        assert len(keys) == rows == len(cols["l_orderkey"])
        assert len(set(cols["l_suppkey"].tolist())) == rows // gen.ROWS_PER_SUPPLIER


def test_documents_keep_vocabulary_and_near_dup_rate():
    t = gen.documents_table(gen.rng_for("corpus_curation", 3), 4000)
    texts = t.column("text").to_pylist()
    assert {w for x in texts for w in x.split()} <= set(gen.VOCAB)
    near = sum(x.endswith(" dup") for x in texts) / len(texts)
    assert abs(near - gen.NEAR_DUP_RATE) < 0.015
    assert all(10 <= len(x.split()) <= 101 for x in texts)


def test_embeddings_are_unit_vectors_with_cluster_structure():
    t = gen.embeddings_table(gen.rng_for("corpus_curation", 3), 600)
    x = np.array(t.column("embedding").to_pylist())
    label = np.array(t.column("label"))
    assert x.shape[1] == gen.EMB_DIM
    assert np.allclose(np.linalg.norm(x, axis=1), 1, atol=1e-5)
    cos = x @ x.T
    same = (label[:, None] == label[None, :]) & ~np.eye(len(label), dtype=bool)
    assert cos[same].mean() > 0.05 > abs(cos[~same].mean())


def test_embedding_geometry_is_the_same_for_every_seed():
    a, b = (gen.embeddings_table(gen.rng_for("corpus_curation", s), 200) for s in (1, 2))
    xa, xb = (np.array(t.column("embedding").to_pylist()) for t in (a, b))
    assert not np.allclose(xa, xb)
    assert np.allclose(xa @ xa.T, xb @ xb.T, atol=1e-5)
    assert a.column("label") == b.column("label")


def test_document_duplicate_counts_do_not_depend_on_the_seed():
    for seed in (1, 2, 3):
        texts = gen.documents_table(gen.rng_for("corpus_curation", seed), 400).column("text")
        texts = texts.to_pylist()
        assert sum(x.endswith(" dup") for x in texts) == round(400 * gen.NEAR_DUP_RATE)
        assert len(texts) - len(set(texts)) >= round(400 * gen.EXACT_DUP_RATE)


def test_batches_are_season_refetches_of_live_keys(tmp_path):
    path, batches = gen.gen_incremental(str(tmp_path), 5, 4000, 12, 0.05, 0.04, 0.02)
    base = pq.read_table(path)
    live = {}  # key -> (season, row values)
    for row in base.to_pylist():
        live[(row["l_orderkey"], row["l_linenumber"])] = (row["season"], row)
    for b in batches:
        season = {k: v for k, v in live.items() if v[0] == b.season}
        rows = b.upserts.to_pylist()
        up = {(r["l_orderkey"], r["l_linenumber"]): r for r in rows}
        assert len(up) == len(rows)  # keys unique within a batch
        assert all(r["season"] == b.season for r in rows)
        assert set(b.retract) <= set(season) and not set(b.retract) & set(up)
        # every live key of the season is re-sent or retracted
        assert set(season) - set(b.retract) <= set(up)
        new = set(up) - set(season)
        assert not new & set(live)  # inserts are new keys
        corrected = sum(up[k] != season[k][1] for k in set(up) & set(season))
        n = len(season)
        assert (corrected, len(b.retract), len(new)) == (
            round(0.05 * n), round(0.02 * n), round(0.04 * n))
        for k in b.retract:
            del live[k]
        for k, r in up.items():
            live[k] = (b.season, r)
