"""Property-based tests (hypothesis): operators vs pure-Python
reference implementations on randomized inputs — the SURVEY §5 plan's
complement to the golden/oracle tests."""

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_sessionize(events, gap):
    """Pure-Python sessionization reference: events = [(id, user, ts)]."""
    out = {}
    by_user = {}
    for eid, user, ts in sorted(events, key=lambda e: (e[1], e[2], e[0])):
        by_user.setdefault(user, []).append((ts, eid))
    for user, seq in by_user.items():
        session = -1
        last = None
        for ts, eid in seq:
            if last is None or ts - last > gap:
                session += 1
            out[eid] = session
            last = ts
    return out


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 4),  # user
            st.integers(0, 5000),  # ts
        ),
        min_size=1,
        max_size=40,
    ),
    gap=st.integers(1, 1000),
)
@_settings
def test_sessionize_matches_python_reference(spark, events, gap):
    from traits_data_spark.operators.sessions import sessionize

    rows = [(i, u, t) for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, gap=gap, order_tiebreak=["event_id"]).collect()
    }
    assert got == _ref_sessionize(rows, gap)


@given(
    existing=st.dictionaries(st.integers(0, 20), st.text(max_size=5), max_size=15),
    updates=st.dictionaries(st.integers(0, 20), st.text(max_size=5), max_size=15),
)
@_settings
def test_merge_upsert_is_dict_update(spark, existing, updates):
    from traits_data_spark.sinks.upsert import merge_upsert

    e = spark.createDataFrame(
        list(existing.items()) or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    u = spark.createDataFrame(
        list(updates.items()) or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    got = {r["k"]: r["v"] for r in merge_upsert(e, u, ["k"]).collect()}
    assert got == {**existing, **updates}


@given(texts=st.lists(st.text(max_size=30), min_size=1, max_size=10))
@_settings
def test_portable_hash_matches_python_md5(spark, texts):
    from traits_data_spark.functions.scalars import portable_hash64

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["h"]
        for r in df.select("i", portable_hash64("t").alias("h")).collect()
    }
    for i, t in enumerate(texts):
        expected = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        assert got[i] == expected


@given(
    values=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=20,
    )
)
@_settings
def test_zscore_matches_numpy(spark, values):
    import numpy as np

    from traits_data_spark.operators.zscore import group_zscores

    df = spark.createDataFrame([("g", float(v)) for v in values], ["grp", "x"])
    got = sorted(
        r["zs_x"] for r in group_zscores(df, ["grp"], ["x"]).collect()
    )
    arr = np.array(values, dtype=np.float64)
    sd = arr.std(ddof=1)
    if sd == 0 or np.isnan(sd):
        expected = [0.0] * len(values)
    else:
        expected = sorted((arr - arr.mean()) / sd)
    assert np.allclose(got, expected, atol=1e-6)


@given(
    weights=st.lists(st.integers(1, 500), min_size=1, max_size=30),
    budget=st.integers(10, 1000),
)
@_settings
def test_pack_contiguous_matches_python_reference(spark, weights, budget):
    from traits_data_spark.operators.packing import pack_contiguous

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_contiguous(df, "w", ["doc_id"], budget=budget).collect()
    }
    cum = 0
    for i, w in rows:
        assert got[i] == cum // budget
        cum += w


@given(
    values=st.lists(st.integers(0, 50), min_size=1, max_size=60),
    k=st.integers(2, 8),
)
@_settings
def test_kmv_exact_below_k_and_bounded_above(spark, values, k):
    from traits_data_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([("g", v) for v in values], ["grp", "v"])
    row = kmv_distinct(df, ["grp"], "v", k=k).collect()[0]
    n = len(set(values))
    assert row["n_distinct"] == n
    if n < k:
        assert row["distinct_est"] == n
    else:
        assert row["distinct_est"] >= 1


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-100, 100, allow_nan=False, allow_infinity=False),
            min_size=4,
            max_size=16,
        ),
        min_size=1,
        max_size=8,
    ),
)
@_settings
def test_quantize_roundtrip_error_bound_property(spark, vecs):
    """Every int8 code is in range and reconstruction lands within half
    a quantization step of the original component."""
    from traits_data_spark.operators.similarity import (
        dequantize_int8,
        quantize_int8,
    )

    # pad ragged vectors to a fixed dim (quantization is per-row, the
    # dim just has to be consistent within a row — it already is)
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qd = quantize_int8(df)
    err = F.array_max(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            dequantize_int8("qvec", "q_scale", "q_min"),
            lambda a, b: F.abs(a - b),
        )
    )
    got = qd.select(
        "q_scale",
        err.alias("max_err"),
        F.array_min("qvec").alias("cmin"),
        F.array_max("qvec").alias("cmax"),
    ).collect()
    for r in got:
        assert -128 <= r["cmin"] and r["cmax"] <= 127
        assert r["max_err"] <= r["q_scale"] / 2 + 1e-9


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    return {n: find(n) for n in parent}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation + pointer doubling == union-find on random
    graphs (self-loops and duplicate edges included)."""
    from traits_data_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _uf_components(edges)
    assert got == want


@given(
    width=st.integers(1, 64),
    height=st.integers(1, 48),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=25, deadline=None)
def test_png_roundtrip_decodes_exact_dims(width, height, seed):
    """Any generated PNG decodes (via whichever tier is available) to
    exactly the dimensions it was built with."""
    from traits_data_spark.operators.multimodal import decode_image, png_bytes

    meta = decode_image(png_bytes(width, height, seed=seed))
    assert (meta["format"], meta["width"], meta["height"]) == (
        "png", width, height,
    )
    assert meta["decoder"] in ("pil", "native")


@given(
    rate=st.sampled_from([8_000, 16_000, 22_050, 44_100]),
    n_frames=st.integers(1, 400),
    amplitude=st.integers(0, 32_000),
)
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_decodes_exact_meta(rate, n_frames, amplitude):
    """Any generated square-wave WAV decodes to its exact sample rate,
    frame count, duration, and RMS (== amplitude for a square wave)."""
    from traits_data_spark.operators.multimodal import decode_audio, wav_bytes

    meta = decode_audio(
        wav_bytes(sample_rate=rate, n_frames=n_frames, amplitude=amplitude)
    )
    assert meta["sample_rate"] == rate
    assert meta["n_channels"] == 1
    assert meta["n_frames"] == n_frames
    assert meta["duration_s"] == n_frames / rate
    assert meta["decoder"] in ("soundfile", "native")
    if meta["decoder"] == "native":
        # integer PCM path: RMS of a ±A square wave is exactly A
        assert meta["rms"] == float(amplitude)
    else:  # soundfile normalizes int16 to [-1, 1]
        assert abs(meta["rms"] - amplitude / 32768.0) < 1e-9


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcxyz ", min_size=0, max_size=8),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_dedup_lines_matches_python_reference(spark, docs):
    """keep_first against a sequential reference: one pass in
    (doc_id, line_idx) order keeping the first occurrence of each
    exact line corpus-wide."""
    from traits_data_spark.operators.dedup import dedup_lines

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r for r in dedup_lines(df, mode="keep_first").collect()
    }

    seen: set[str] = set()
    expect: dict[int, list[str]] = {}
    for i, text in rows:
        kept = []
        for line in text.split("\n"):
            if line not in seen:
                seen.add(line)
                kept.append(line)
        if kept:
            expect[i] = kept
    assert set(got) == set(expect)
    for i, kept in expect.items():
        assert got[i]["clean_text"] == "\n".join(kept)
        assert got[i]["kept_lines"] == len(kept)
        assert got[i]["n_lines"] == len(docs[i])


@given(
    ffd_weights=st.lists(st.integers(1, 120), min_size=1, max_size=25),
    ffd_budget=st.integers(50, 300),
)
@_settings
def test_pack_best_fit_matches_python_ffd_reference(spark, ffd_weights, ffd_budget):
    from traits_data_spark.operators.packing import pack_best_fit

    rows = [(i, w) for i, w in enumerate(ffd_weights)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_best_fit(
            df, "w", budget=ffd_budget, id_order=("doc_id",)
        ).collect()
    }

    order = sorted(rows, key=lambda t: (-t[1], t[0]))
    caps: list[int] = []
    expect: dict[int, int] = {}
    for i, w in order:
        placed = -1
        for b, cap in enumerate(caps):
            if cap >= w:
                placed, caps[b] = b, cap - w
                break
        if placed < 0:
            caps.append(ffd_budget - w)
            placed = len(caps) - 1
        expect[i] = placed
    assert got == expect


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(
    values=st.lists(st.integers(0, 1000), min_size=1, max_size=60),
)
@_settings
def test_hll_registers_match_python_reference(spark, values):
    from traits_data_spark.operators.sketches import hll_registers

    df = spark.createDataFrame([(v,) for v in values], "v long").select(
        F.lit("g").alias("g"), F.col("v")
    )
    got = {
        r["bucket"]: r["register"]
        for r in hll_registers(df, ["g"], "v").collect()
    }
    expected: dict[int, int] = {b: 0 for b in range(64)}
    for v in set(values):
        h = _md5_60(str(v))
        bucket, rem = h >> 54, h & ((1 << 54) - 1)
        rho = 55 if rem == 0 else 54 - (rem.bit_length() - 1)
        expected[bucket] = max(expected[bucket], rho)
    assert got == expected


@given(
    values=st.lists(st.integers(-50, 50), min_size=1, max_size=60),
    depth=st.integers(1, 3),
)
@_settings
def test_cms_matches_python_reference(spark, values, depth):
    from traits_data_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    width = 32
    df = spark.createDataFrame([(v,) for v in values], "v long")
    sketch = count_min_sketch(df, "v", depth=depth, width=width)
    probes = df.distinct()
    got = {
        r["v"]: r["est_count"]
        for r in cms_estimate(sketch, probes, "v", depth=depth, width=width).collect()
    }
    # python reference: build the grid, then min over rows per value
    grid: dict[tuple[int, int], int] = {}
    for v in values:
        for i in range(depth):
            b = _md5_60(f"{i}:{v}") % width
            grid[(i, b)] = grid.get((i, b), 0) + 1
    from collections import Counter

    exact = Counter(values)
    for v in set(values):
        est = min(grid[(i, _md5_60(f"{i}:{v}") % width)] for i in range(depth))
        assert got[v] == est
        assert got[v] >= exact[v]


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-100, 100)),
        min_size=2,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
)
@_settings
def test_sampled_quantiles_full_rate_matches_numpy_rank(spark, rows):
    from traits_data_spark.operators.sketches import sampled_quantiles

    df = spark.createDataFrame(
        [(k, "g", float(v)) for k, v in rows], "k long, g string, v double"
    )
    out = sampled_quantiles(
        df, ["g"], "v", "k", quantiles=(0.5, 0.9), rate_bp=10_000
    ).collect()[0]
    ordered = sorted((v, k) for k, v in rows)
    n = len(ordered)
    for q, col in [(0.5, "p50"), (0.9, "p90")]:
        rank = int(q * (n - 1))  # floor, 0-based
        assert out[col] == ordered[rank][0]


def _md5_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@given(
    keys=st.sets(st.integers(0, 10_000), min_size=1, max_size=60),
    n_shards=st.integers(1, 16),
    salt=st.sampled_from(["", "ep0", "ep1"]),
)
@_settings
def test_shuffle_shards_matches_python_reference(spark, keys, n_shards, salt):
    from traits_data_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(k,) for k in keys], ["doc_id"])
    got = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in shuffle_shards(df, "doc_id", n_shards=n_shards, salt=salt).collect()
    }
    # reference: hash, deal, rank within shard by (hash, key)
    hashed = sorted(
        (( _md5_h60(f"{salt}{k}") % n_shards, _md5_h60(f"{salt}{k}"), k))
        for k in keys
    )
    want = {}
    counters = {}
    for shard, h, k in hashed:
        counters[shard] = counters.get(shard, 0) + 1
        want[k] = (shard, counters[shard])
    assert got == want


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)),  # (source, tokens)
        min_size=1,
        max_size=40,
    ),
    budget=st.integers(0, 10_000),
)
@_settings
def test_mixture_plan_matches_python_reference(spark, docs, budget):
    from traits_data_spark.operators.sampling import mixture_plan

    weights = {"s0": 500_000, "s1": 300_000, "s2": 200_000}  # s3 unplanned
    df = spark.createDataFrame(
        [(f"s{s}", t) for s, t in docs], "src string, toks long"
    )
    got = {
        r.source: (
            r.n_docs, r.n_tokens, r.weight_ppm, r.target_tokens,
            r.epochs_ppm, r.repeat_epochs,
        )
        for r in mixture_plan(df, "src", "toks", weights, budget).collect()
    }
    want = {}
    agg = {}
    for s, t in docs:
        src = f"s{s}"
        n, tot = agg.get(src, (0, 0))
        agg[src] = (n + 1, tot + t)
    for src, (n, tot) in agg.items():
        w = weights.get(src, 0)
        target = budget * w // 1_000_000
        epochs = target * 1_000_000 // tot if tot > 0 else 0
        want[src] = (n, tot, w, target, epochs, -(-epochs // 1_000_000))
    assert got == want


@given(
    corpus=st.lists(
        st.lists(st.integers(0, 12), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    ),
    bench=st.lists(
        st.lists(st.integers(0, 12), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    n=st.integers(2, 4),
    m_bits=st.sampled_from([1 << 8, 1 << 10, 1 << 14]),
    k_hashes=st.integers(1, 5),
)
@_settings
def test_bloom_decontaminate_always_matches_exact(
    spark, corpus, bench, n, m_bits, k_hashes
):
    from traits_data_spark.operators.dedup import (
        bloom_decontaminate,
        ngram_decontaminate,
    )

    def mk(rows, start):
        return spark.createDataFrame(
            [(start + i, " ".join(f"w{t}" for t in toks))
             for i, toks in enumerate(rows)],
            "doc_id long, text string",
        )

    c, b = mk(corpus, 0), mk(bench, 1000)
    want = {
        tuple(r)
        for r in ngram_decontaminate(
            c, b, "text", "doc_id", "doc_id", n=n
        ).collect()
    }
    got = {
        tuple(r)
        for r in bloom_decontaminate(
            c, b, "text", "doc_id", "doc_id",
            n=n, m_bits=m_bits, k_hashes=k_hashes,
        ).collect()
    }
    assert got == want


def _ref_kn(docs, max_word_len=32):
    """Pure-Python interpolated-KN reference with exact Fractions.
    Returns {(u, w): Fraction} plus the (dn, dd, nbb) globals."""
    import re
    from collections import Counter
    from fractions import Fraction

    counts = Counter()
    for text in docs:
        words = [
            w
            for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if 0 < len(w) <= max_word_len
        ]
        seq = ["<s>"] + words
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    if not counts:
        return {}, (3, 4, 0)
    n1 = sum(1 for c in counts.values() if c == 1)
    n2 = sum(1 for c in counts.values() if c == 2)
    dn, dd = (n1, n1 + 2 * n2) if n1 + 2 * n2 > 0 else (3, 4)
    nbb = len(counts)
    n_u = Counter()
    n1u = Counter()
    ncw = Counter()
    for (u, w), c in counts.items():
        n_u[u] += c
        n1u[u] += 1
        ncw[w] += 1
    model = {
        (u, w): Fraction(
            max(c * dd - dn, 0) * nbb + dn * n1u[u] * ncw[w],
            n_u[u] * dd * nbb,
        )
        for (u, w), c in counts.items()
    }
    return model, (dn, dd, nbb)


_word = st.text(alphabet="abcd", min_size=1, max_size=3)
_doc = st.lists(_word, min_size=0, max_size=6).map(" ".join)


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_train_kn_lm_matches_fraction_reference(spark, docs):
    """Randomized corpora: every trained probability equals the exact
    Fraction reference rounded to 9 dp, and each seen context's full
    vocabulary mass (discounted seen terms + continuation share of
    EVERY vocab word) is exactly 1."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    rows = train_kn_lm(df).collect()
    ref, (dn, dd, nbb) = _ref_kn(docs)
    got = {(r["u"], r["w"]): r for r in rows}
    assert set(got) == set(ref)
    for k, frac in ref.items():
        assert got[k]["p"] == round(float(frac), 9), (k, docs)
    if not ref:
        return
    # exact unit mass per context over the full vocab
    vocab_ncw = {}
    for (u, w), r in got.items():
        vocab_ncw[w] = r["ncw"]
    total_cont = Fraction(sum(vocab_ncw.values()), nbb)
    assert total_cont == 1
    by_u = {}
    for (u, w), r in got.items():
        by_u.setdefault(u, []).append(r)
    for u, rs in by_u.items():
        n_u, n1u = rs[0]["n_u"], rs[0]["n1u"]
        seen = sum(
            Fraction(max(r["n_uw"] * dd - dn, 0), n_u * dd) for r in rs
        )
        cont_all = Fraction(dn * n1u, n_u * dd) * total_cont
        assert seen + cont_all == 1, (u, docs)


def _ref_mkn(docs, max_word_len=32):
    """Pure-Python MODIFIED-KN reference with exact Fractions:
    three clamped integer-fraction discounts over the common
    denominator n1*n2*n3*(n1+2*n2), interpolated-KN fallback when the
    count-of-count chain breaks. Returns {(u, w): Fraction} plus the
    ((d1, d2, d3, DD), nbb) globals."""
    import re
    from collections import Counter
    from fractions import Fraction

    counts = Counter()
    for text in docs:
        words = [
            w
            for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if 0 < len(w) <= max_word_len
        ]
        seq = ["<s>"] + words
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    if not counts:
        return {}, ((3, 3, 3, 4), 0)
    n = [0] * 5
    for c in counts.values():
        if c <= 4:
            n[c] += 1
    n1, n2, n3, n4 = n[1], n[2], n[3], n[4]
    yd = n1 + 2 * n2
    if n1 > 0 and n2 > 0 and n3 > 0:
        DD = n1 * n2 * n3 * yd
        clamp = lambda v, lvl: max(0, min(v, lvl * DD))  # noqa: E731
        d1 = clamp((n1 * yd - 2 * n2 * n1) * n2 * n3, 1)
        d2 = clamp((2 * n2 * yd - 3 * n3 * n1) * n1 * n3, 2)
        d3 = clamp((3 * n3 * yd - 4 * n4 * n1) * n1 * n2, 3)
    else:
        d1 = d2 = d3 = n1 if yd > 0 else 3
        DD = yd if yd > 0 else 4
    nbb = len(counts)
    n_u, nu, ncw = Counter(), {}, Counter()
    for (u, w), c in counts.items():
        n_u[u] += c
        b = nu.setdefault(u, [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
        ncw[w] += 1
    model = {}
    for (u, w), c in counts.items():
        d = d1 if c == 1 else d2 if c == 2 else d3
        nu1, nu2, nu3p = nu[u]
        model[(u, w)] = Fraction(
            max(c * DD - d, 0) * nbb
            + (d1 * nu1 + d2 * nu2 + d3 * nu3p) * ncw[w],
            n_u[u] * DD * nbb,
        )
    return model, ((d1, d2, d3, DD), nbb)


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_train_mkn_lm_matches_fraction_reference(spark, docs):
    """Randomized corpora (mostly exercising the degenerate-fallback
    path): every trained modified-KN probability equals the exact
    Fraction reference rounded to 9 dp, and each seen context's full
    vocabulary mass is exactly 1 — the clamped discounts make the
    count term non-negative without breaking the unit-mass identity."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    rows = train_kn_lm(df, modified=True).collect()
    ref, ((d1, d2, d3, DD), nbb) = _ref_mkn(docs)
    got = {(r["u"], r["w"]): r for r in rows}
    assert set(got) == set(ref)
    for k, frac in ref.items():
        assert got[k]["p"] == round(float(frac), 9), (k, docs)
    if not ref:
        return
    vocab_ncw = {}
    for (u, w), r in got.items():
        vocab_ncw[w] = r["ncw"]
    total_cont = Fraction(sum(vocab_ncw.values()), nbb)
    assert total_cont == 1
    by_u = {}
    for (u, w), r in got.items():
        by_u.setdefault(u, []).append(r)
    for u, rs in by_u.items():
        n_u = rs[0]["n_u"]
        nu1, nu2, nu3p = rs[0]["nu1"], rs[0]["nu2"], rs[0]["nu3p"]
        dmap = {1: d1, 2: d2}
        seen = sum(
            Fraction(
                r["n_uw"] * DD - dmap.get(r["n_uw"], d3), n_u * DD
            )
            for r in rs
        )
        cont_all = (
            Fraction(d1 * nu1 + d2 * nu2 + d3 * nu3p, n_u * DD)
            * total_cont
        )
        assert seen + cont_all == 1, (u, docs)


def _ref_kn3(docs, max_word_len=32):
    """Pure-Python order-3 interpolated-KN reference with exact
    Fractions and the full continuation-count backoff chain (highest
    order raw counts, lower orders continuation type counts, per-order
    Ney discounts). Returns {(u, v, w): Fraction} plus the P2
    distribution {(v, w): Fraction} and the vocab (for the unit-mass
    identity over unseen words)."""
    import re
    from collections import Counter
    from fractions import Fraction

    c3 = Counter()
    for text in docs:
        words = [
            w
            for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if 0 < len(w) <= max_word_len
        ]
        seq = ["<s>", "<s>"] + words
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            c3[(a, b, c)] += 1
    if not c3:
        return {}, {}, set()
    t1 = sum(1 for c in c3.values() if c == 1)
    t2 = sum(1 for c in c3.values() if c == 2)
    e3n, e3d = (t1, t1 + 2 * t2) if t1 + 2 * t2 > 0 else (3, 4)
    c2 = Counter()  # continuation-bigram type counts N1+(.vw)
    n_uv, n1uv = Counter(), Counter()
    for (u, v, w), c in c3.items():
        c2[(v, w)] += 1
        n_uv[(u, v)] += c
        n1uv[(u, v)] += 1
    m1 = sum(1 for c in c2.values() if c == 1)
    m2 = sum(1 for c in c2.values() if c == 2)
    e2n, e2d = (m1, m1 + 2 * m2) if m1 + 2 * m2 > 0 else (3, 4)
    nbb = len(c2)
    c2_v, n1v, ncw = Counter(), Counter(), Counter()
    for (v, w), c in c2.items():
        c2_v[v] += c
        n1v[v] += 1
        ncw[w] += 1
    vocab = set(ncw)

    def p1(w):
        return Fraction(ncw[w], nbb)

    def p2(v, w):
        return (
            Fraction(max(c2[(v, w)] * e2d - e2n, 0), c2_v[v] * e2d)
            + Fraction(e2n * n1v[v], c2_v[v] * e2d) * p1(w)
        )

    model = {
        (u, v, w): Fraction(max(c * e3d - e3n, 0), n_uv[(u, v)] * e3d)
        + Fraction(e3n * n1uv[(u, v)], n_uv[(u, v)] * e3d) * p2(v, w)
        for (u, v, w), c in c3.items()
    }
    return model, {"p2": p2, "vocab": vocab}, c3


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_train_kn3_lm_matches_fraction_reference(spark, docs):
    """Randomized corpora: every trained order-3 KN probability equals
    the exact backoff-chain Fraction reference rounded to 9 dp, and
    each seen (u, v) context's mass over the FULL vocabulary (seen
    continuations + gamma3 times the unseen words' P2 backoff) is
    exactly 1."""
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    rows = train_kn_lm(df, order=3).collect()
    ref, aux, c3 = _ref_kn3(docs)
    got = {(r["u"], r["v"], r["w"]): r for r in rows}
    assert set(got) == set(ref)
    for k, frac in ref.items():
        assert got[k]["p"] == round(float(frac), 9), (k, docs)
    if not ref:
        return
    p2, vocab = aux["p2"], aux["vocab"]
    by_ctx = {}
    for (u, v, w), frac in ref.items():
        by_ctx.setdefault((u, v), []).append((w, frac))
    t1 = sum(1 for c in c3.values() if c == 1)
    t2 = sum(1 for c in c3.values() if c == 2)
    e3n, e3d = (t1, t1 + 2 * t2) if t1 + 2 * t2 > 0 else (3, 4)
    for (u, v), pairs in by_ctx.items():
        # total = seen P3 mass + gamma3 * sum of unseen words' P2
        seen_ws = {w for w, _ in pairs}
        r0 = got[(u, v, pairs[0][0])]
        gamma = Fraction(e3n * r0["n1uv"], r0["n_uv"] * e3d)
        total = sum(frac for _, frac in pairs) + gamma * sum(
            p2(v, w) for w in vocab - seen_ws
        )
        assert total == 1, ((u, v), docs)


def _ref_mkn3(docs, max_word_len=32):
    """Pure-Python order-3 MODIFIED-KN reference with exact Fractions:
    per-order three-discount estimates (clamped integer fractions over
    the reduced common denominators, per-order single-discount
    fallback) on the continuation-count backoff chain. Returns
    {(u, v, w): Fraction} plus the P2 closure and vocab for the
    unit-mass identity, and the two (d1, d2, d3, DD) discount tuples
    so tests can assert which branch fired."""
    import re
    from collections import Counter
    from fractions import Fraction

    c3 = Counter()
    for text in docs:
        words = [
            w
            for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if 0 < len(w) <= max_word_len
        ]
        seq = ["<s>", "<s>"] + words
        for a, b, c in zip(seq, seq[1:], seq[2:]):
            c3[(a, b, c)] += 1
    if not c3:
        return {}, None, None, None

    def mkn_disc(vals):
        n = [0] * 5
        for c in vals:
            if c <= 4:
                n[c] += 1
        c1, c2_, c3_, c4 = n[1], n[2], n[3], n[4]
        yd = c1 + 2 * c2_
        if c1 > 0 and c2_ > 0 and c3_ > 0:
            DD = c2_ * c3_ * yd
            cl = lambda v, lvl: max(0, min(v, lvl * DD))  # noqa: E731
            return (
                cl(c1 * c2_ * c3_, 1),
                cl((2 * c2_ * yd - 3 * c1 * c3_) * c3_, 2),
                cl((3 * c3_ * yd - 4 * c1 * c4) * c2_, 3),
                DD,
            )
        dn, dd = (c1, yd) if yd > 0 else (3, 4)
        return dn, dn, dn, dd

    t = mkn_disc(c3.values())
    c2t, n_uv, nu = Counter(), Counter(), {}
    for (u, v, w), c in c3.items():
        c2t[(v, w)] += 1
        n_uv[(u, v)] += c
        b = nu.setdefault((u, v), [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
    e = mkn_disc(c2t.values())
    c2v, mv, ncw = Counter(), {}, Counter()
    for (v, w), c in c2t.items():
        c2v[v] += c
        ncw[w] += 1
        b = mv.setdefault(v, [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
    nbb = len(c2t)

    def p2(v, w):
        c = c2t.get((v, w), 0)
        disc = e[0] if c == 1 else e[1] if c == 2 else e[2]
        g = e[0] * mv[v][0] + e[1] * mv[v][1] + e[2] * mv[v][2]
        return Fraction(
            max(c * e[3] - (disc if c else 0), 0), c2v[v] * e[3]
        ) + Fraction(g, c2v[v] * e[3]) * Fraction(ncw[w], nbb)

    model = {}
    for (u, v, w), c in c3.items():
        disc = t[0] if c == 1 else t[1] if c == 2 else t[2]
        g = (
            t[0] * nu[(u, v)][0]
            + t[1] * nu[(u, v)][1]
            + t[2] * nu[(u, v)][2]
        )
        model[(u, v, w)] = Fraction(
            max(c * t[3] - disc, 0), n_uv[(u, v)] * t[3]
        ) + Fraction(g, n_uv[(u, v)] * t[3]) * p2(v, w)
    aux = {"p2": p2, "vocab": set(ncw), "nu": nu, "n_uv": n_uv, "t": t}
    return model, aux, t, e


def _assert_mkn3_matches(spark, docs):
    from fractions import Fraction

    from traits_data_spark.operators.text import train_kn_lm

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    rows = train_kn_lm(df, order=3, modified=True, keep_ratio=True).collect()
    ref, aux, t, e = _ref_mkn3(docs)
    got = {(r["u"], r["v"], r["w"]): r for r in rows}
    assert set(got) == set(ref)
    for k, frac in ref.items():
        r = got[k]
        assert Fraction(int(r["p_num"]), int(r["p_den"])) == frac, (
            k, docs,
        )
        assert r["p"] == round(float(frac), 9), (k, docs)
    if not ref:
        return t, e
    # full-vocabulary unit mass per (u, v) context
    p2, vocab = aux["p2"], aux["vocab"]
    nu, n_uv, td = aux["nu"], aux["n_uv"], aux["t"]
    by_ctx = {}
    for (u, v, w), frac in ref.items():
        by_ctx.setdefault((u, v), []).append((w, frac))
    for ctx, pairs in by_ctx.items():
        seen_ws = {w for w, _ in pairs}
        g = (
            td[0] * nu[ctx][0]
            + td[1] * nu[ctx][1]
            + td[2] * nu[ctx][2]
        )
        gamma = Fraction(g, n_uv[ctx] * td[3])
        total = sum(frac for _, frac in pairs) + gamma * sum(
            p2(ctx[1], w) for w in vocab - seen_ws
        )
        assert total == 1, (ctx, docs)
    return t, e


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_train_mkn3_lm_matches_fraction_reference(spark, docs):
    """Randomized corpora (mostly exercising the per-order fallback
    paths): every trained order-3 modified-KN probability equals the
    exact backoff-chain Fraction reference, and each context's
    full-vocabulary mass is exactly 1."""
    _assert_mkn3_matches(spark, docs)


def test_train_mkn3_lm_healthy_branches_fire(spark):
    """Engineered corpus where BOTH orders' count-of-count chains are
    healthy (t1..t3 > 0 via 1x/2x/3x/4x replicated docs; m1..m3 > 0
    via shared-suffix trigrams with 1/2/3 distinct left-extensions) —
    pins the three-discount branch at both levels against the exact
    reference, not just the fallback."""
    docs = (
        ["a b"] * 1
        + ["c d"] * 2
        + ["e f"] * 3
        + ["g h"] * 4
        + ["p x y"] * 1
        + ["q x y"] * 2
        + ["r z w2"] * 3
        + ["s z w2"] * 1
        + ["t z w2"] * 2
    )
    t, e = _assert_mkn3_matches(spark, docs)
    # trigram level: t1=8, t2=8, t3=5, t4=2 -> healthy, three DISTINCT
    # clamped numerators (320 / 1320 / 2368 over DD=960)
    assert (t[0], t[1], t[2], t[3]) == (320, 1320, 2368, 960)
    # continuation level: m1=18, m2=1, m3=1, m4=0 -> healthy with E2's
    # raw estimate clamped at its floor (18 / 0 / 60 over DD=20)
    assert (e[0], e[1], e[2], e[3]) == (18, 0, 60, 20)


@given(
    pools=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),   # query
                st.integers(min_value=10, max_value=19),  # neighbor
            ),
            min_size=1,
            max_size=8,
            unique=True,
        ),
        min_size=1,
        max_size=3,
    )
)
@_settings
def test_rrf_fuse_matches_python_reference(spark, pools):
    """Randomized ranked pools: fused micro scores and the final
    per-query ranking match a pure-Python RRF reference; run-name
    order never changes the result."""
    from traits_data_spark.operators.fusion import rrf_fuse

    runs = {}
    ref_contrib = {}
    for i, pool in enumerate(pools):
        # derive 1-based ranks per query from list order
        seen = {}
        rows = []
        for q, nb in pool:
            rk = seen.get(q, 0) + 1
            seen[q] = rk
            rows.append((q, nb, rk))
            ref_contrib.setdefault((q, nb), 0)
            ref_contrib[(q, nb)] += round(1_000_000.0 / (60 + rk))
        runs[f"run{i}"] = spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rk long"
        )
    out = rrf_fuse(runs, k=100).collect()
    got = {(r["query_id"], r["neighbor_id"]): r["rrf_micro"] for r in out}
    assert got == ref_contrib
    # rank order: rrf desc, neighbor asc per query
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        expect = sorted(rs, key=lambda r: (-r["rrf_micro"], r["neighbor_id"]))
        assert [r["neighbor_id"] for r in sorted(rs, key=lambda r: r["rk"])] \
            == [r["neighbor_id"] for r in expect]
    # permutation invariance of run order (names differ, scores equal)
    rev = {f"x{i}": df for i, (n, df) in enumerate(reversed(runs.items()))}
    out2 = rrf_fuse(rev, k=100).collect()
    got2 = {(r["query_id"], r["neighbor_id"]): r["rrf_micro"] for r in out2}
    assert got2 == ref_contrib


def _ref_mkn4(docs, max_word_len=32):
    """Pure-Python order-4 MODIFIED-KN reference: exact per-level
    integer (num, den) pairs composed across levels in Q40 fixed
    point with floor division — the trainer's documented
    reduce-vs-round contract, reproduced bit-for-bit. Returns
    {(t,u,v,w): (p_q40, exact_Fraction)} plus the three discount
    tuples."""
    import re
    from collections import Counter
    from fractions import Fraction

    Q = 1 << 40
    c4 = Counter()
    for text in docs:
        words = [
            w
            for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if 0 < len(w) <= max_word_len
        ]
        seq = ["<s>", "<s>", "<s>"] + words
        for a, b, c, d in zip(seq, seq[1:], seq[2:], seq[3:]):
            c4[(a, b, c, d)] += 1
    if not c4:
        return {}, None, None, None

    def mkn_disc(vals):
        n = [0] * 5
        for c in vals:
            if c <= 4:
                n[c] += 1
        c1, c2_, c3_, c4_ = n[1], n[2], n[3], n[4]
        yd = c1 + 2 * c2_
        if c1 > 0 and c2_ > 0 and c3_ > 0:
            DD = c2_ * c3_ * yd
            cl = lambda v, lvl: max(0, min(v, lvl * DD))  # noqa: E731
            return (
                cl(c1 * c2_ * c3_, 1),
                cl((2 * c2_ * yd - 3 * c1 * c3_) * c3_, 2),
                cl((3 * c3_ * yd - 4 * c1 * c4_) * c2_, 3),
                DD,
            )
        dn, dd = (c1, yd) if yd > 0 else (3, 4)
        return dn, dn, dn, dd

    c3t, n_tuv, nu = Counter(), Counter(), {}
    for (t, u, v, w), c in c4.items():
        c3t[(u, v, w)] += 1
        n_tuv[(t, u, v)] += c
        b = nu.setdefault((t, u, v), [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
    c2t, c3uv, mu = Counter(), Counter(), {}
    for (u, v, w), c in c3t.items():
        c2t[(v, w)] += 1
        c3uv[(u, v)] += c
        b = mu.setdefault((u, v), [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
    c2v, mv, ncw = Counter(), {}, Counter()
    for (v, w), c in c2t.items():
        c2v[v] += c
        ncw[w] += 1
        b = mv.setdefault(v, [0, 0, 0])
        b[0 if c == 1 else 1 if c == 2 else 2] += 1
    nbb = len(c2t)
    A = mkn_disc(c4.values())
    B = mkn_disc(c3t.values())
    E = mkn_disc(c2t.values())

    def level(c, disc_tuple, buckets, total, lower_q, lower_frac):
        d1, d2, d3, DD = disc_tuple
        disc = d1 if c == 1 else d2 if c == 2 else d3
        num = max(c * DD - (disc if c else 0), 0)
        g = d1 * buckets[0] + d2 * buckets[1] + d3 * buckets[2]
        pq = (num * Q + g * lower_q) // (total * DD)
        pf = Fraction(num, total * DD) + Fraction(g, total * DD) * lower_frac
        return pq, pf

    model = {}
    for (t, u, v, w), c in c4.items():
        p1q = (ncw[w] * Q) // nbb
        p1f = Fraction(ncw[w], nbb)
        p2q, p2f = level(c2t[(v, w)], E, mv[v], c2v[v], p1q, p1f)
        p3q, p3f = level(c3t[(u, v, w)], B, mu[(u, v)], c3uv[(u, v)], p2q, p2f)
        p4q, p4f = level(c, A, nu[(t, u, v)], n_tuv[(t, u, v)], p3q, p3f)
        model[(t, u, v, w)] = (p4q, p4f)
    return model, A, B, E


def _assert_mkn4_matches(spark, docs):
    from traits_data_spark.operators.text import train_kn_lm

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    rows = train_kn_lm(df, order=4, modified=True, keep_ratio=True).collect()
    ref, A, B, E = _ref_mkn4(docs)
    got = {(r["t"], r["u"], r["v"], r["w"]): r for r in rows}
    assert set(got) == set(ref)
    Q = 1 << 40
    for k, (pq, pf) in ref.items():
        r = got[k]
        # bit-identical Q40 fixed point — THE cross-engine contract
        assert int(r["p_q40"]) == pq, (k, docs)
        assert r["p"] == round(pq / Q, 9), (k, docs)
        # the floor seams inject < 3*2^-40 against the exact chain
        assert 0 <= float(pf) - pq / Q < 3 / Q, (k, docs)
    return A, B, E


@given(docs=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_train_mkn4_lm_matches_fixed_point_reference(spark, docs):
    """Randomized corpora (mostly exercising the per-order fallback
    paths): every trained order-4 modified-KN Q40 probability equals
    the bit-exact pure-Python fixed-point reference, p is its rounded
    power-of-two division, and each probability sits within 3*2^-40
    BELOW the exact Fraction backoff chain (floor seams only lower)."""
    _assert_mkn4_matches(spark, docs)


def test_train_mkn4_lm_healthy_branches_fire(spark):
    """Engineered corpus where the fourgram level's count-of-count
    chain is healthy (1x/2x/3x/4x replicated two-word docs -> raw
    fourgram counts 1..4 via the <s> prepads) — pins the
    three-discount branch at the top order against the fixed-point
    reference, not just the fallback."""
    docs = (
        ["a b"] * 1
        + ["c d"] * 2
        + ["e f"] * 3
        + ["g h"] * 4
        + ["p x y"] * 1
        + ["q x y"] * 2
        + ["r z w2"] * 3
    )
    A, B, E = _assert_mkn4_matches(spark, docs)
    assert A[3] > 4 and A[0] > 0  # healthy top order, not the 3/4 fallback


def test_kn4_doc_scores_matches_manual_chain(spark):
    """kn4_doc_scores == join(doc fourgram stream, 40*2^20 -
    ilog2_q20(max(p_q40, 1))) summed per doc — pinned against the
    fixed-point reference and intmath's scalar ilog2."""
    from traits_data_spark.functions.intmath import ilog2_q20
    from traits_data_spark.operators.text import kn4_doc_scores

    docs = ["a b c d", "a b c e", "a b c d", "x y z"]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    ref, _, _, _ = _ref_mkn4(docs)
    import re

    expect = {}
    for i, text in enumerate(docs):
        words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        seq = ["<s>", "<s>", "<s>"] + words
        costs = [
            40 * (1 << 20) - ilog2_q20(max(ref[k][0], 1))
            for k in zip(seq, seq[1:], seq[2:], seq[3:])
        ]
        expect[i] = (len(costs), sum(costs), sum(costs) // len(costs))
    got = {
        r["doc_id"]: (
            r["n_fourgrams"], r["nll_q20"], r["bits_per_fourgram_q20"]
        )
        for r in kn4_doc_scores(df).collect()
    }
    assert got == expect
