"""Deduplication operators for large-scale document corpora.

Beyond the reference's keyed dedup (W3), a 100 TB training-data
pipeline needs content dedup. All operators here are pure Spark
expressions (no Python UDFs): shingling via ``transform(sequence(...))``,
MinHash via arithmetic over a portable 60-bit md5-derived hash, LSH
banding via ``groupBy(band_key)``. Everything shuffles on
bucket/band keys — never on document content — so candidate generation
scales linearly and the quadratic verify step only touches
same-bucket candidates.

Hashes are cross-engine reproducible (see
``functions.scalars.portable_hash64``) so DuckDB oracles can recompute
exact signatures.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traits_data_spark.functions.scalars import portable_hash64
from traits_data_spark.functions.barrier import barrier

# Mersenne prime 2^31 - 1: universal-hash modulus. The shingle hash is
# reduced to 28 bits (7 hex chars of md5) so a*h+b with 31-bit
# coefficients stays < 2^60 — inside signed-64 arithmetic on every
# engine (Spark 4 runs ANSI mode: a silent-overflow formulation would
# hard-fail the job). h < p is also required for the (a*h+b) mod p
# family to actually permute.
MINHASH_PRIME = (1 << 31) - 1
MINHASH_HEX_CHARS = 7  # 28-bit shingle hash


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism
    when the input scan would yield fewer splits than cores.

    CPU-bound expansion work (shingling, hashing) inherits the scan's
    partitioning; a small input file reads as ONE partition and
    serializes the whole job onto one core. At real scale inputs
    already split into >= cores partitions and this is a no-op — the
    check keeps it from injecting a pointless full-data shuffle there.

    The probe is pure driver-side metadata: ``df.inputFiles()`` (plan
    resolution only — no job, no RDD conversion, unlike the previous
    ``df.rdd.getNumPartitions()`` which forced partial plan
    evaluation per call) and, only when the file count alone is below
    parallelism, a Hadoop-FS ``getFileStatus`` per file to estimate
    splits as ``ceil(size / spark.sql.files.maxPartitionBytes)`` —
    the same arithmetic FilePartition packing uses, bounded to
    ``defaultParallelism`` stat calls. Non-file inputs (in-memory
    frames) report no files and are left untouched: local-relation
    parallelize already slices to ``defaultParallelism``.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= cores:
        return df
    # Few files: they may still split. Estimate split count from file
    # sizes vs maxPartitionBytes (driver metadata; <= cores stats).
    try:
        mpb_conf = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        mpb = int("".join(c for c in mpb_conf if c.isdigit()) or "134217728")
        if mpb_conf.lower().endswith(("k", "kb")):
            mpb *= 1024
        elif mpb_conf.lower().endswith(("m", "mb")):
            mpb *= 1024 * 1024
        elif mpb_conf.lower().endswith(("g", "gb")):
            mpb *= 1024 * 1024 * 1024
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(hconf)
            size = fs.getFileStatus(path).getLen()
            splits += max(1, -(-size // mpb))
            if splits >= cores:
                return df
    except Exception:
        # Un-stat-able source (exotic FS): fall back to file count,
        # which is < cores on this branch — widen.
        pass
    return df.repartition(cores)


def normalized_text(col: Column | str, lowercase: bool = True) -> Column:
    """Canonical text for hashing: collapse whitespace, optional lower."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    return F.lower(c) if lowercase else c


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Exact-content dedup: group by content hash, keep one canonical id
    and the duplicate count. One shuffle on the 60-bit content hash.
    """
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.withColumn("content_hash", portable_hash64(normalized_text(text_col)))
        .groupBy("content_hash")
        .agg(
            agg_id.alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _let(bound: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``bound`` ONCE per
    row and pass it to ``body`` as a lambda variable.

    Lambda variables in higher-order functions are references to an
    already-computed value, but any *outer* expression a lambda body
    closes over is re-evaluated per element (HOFs run interpreted —
    no codegen, no subexpression elimination). Shingling a document
    with the normalization chain inlined in the lambda therefore costs
    O(len) regex passes per row; binding it first costs one.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def char_shingles(col: Column | str, k: int = 5, distinct: bool = True) -> Column:
    """Array of k-character shingles of the normalized text — built with
    ``transform(sequence(...))``, no UDF, no explode until needed."""

    def shingle(c: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
        arr = F.transform(idx, lambda i: c.substr(i, F.lit(k)))
        return F.array_distinct(arr) if distinct else arr

    return _let(normalized_text(col), shingle)


def word_ngrams(col: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Array of word n-grams of the normalized text (space-joined) —
    the token-level alternative to ``char_shingles`` for n-gram
    Jaccard dedup. Pure expressions: split → slice → concat_ws."""

    def grams(words: Column) -> Column:
        count = F.greatest(F.size(words) - (n - 1), F.lit(1))
        idx = F.sequence(F.lit(1), count)
        arr = F.transform(
            idx, lambda i: F.array_join(F.slice(words, i, n), " ")
        )
        return F.array_distinct(arr) if distinct else arr

    return _let(
        F.filter(F.split(normalized_text(col), " "), lambda w: F.length(w) > 0),
        grams,
    )


def _candidate_pair_frame(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_expr: Column,
    widen: bool = True,
) -> DataFrame:
    """The shared verify scaffold: persist the candidate pairs (consumed
    3x — two id sides + the join), build the shingle table ONCE for
    semi-joined candidate members, and return the joined frame with
    ``sh_a``/``sh_b`` columns for a verifier to score.

    PRECONDITION: ``shingle_expr`` must produce DISTINCT-element
    arrays (``char_shingles``/``word_ngrams`` with their default
    ``distinct=True``). The verifiers downstream compute ``|A∪B|`` as
    ``|A|+|B|−|A∩B|``, which is only the set union when neither array
    carries duplicates — a non-distinct caller would get silently
    wrong Jaccard values, not an error."""
    candidates = candidates.persist()
    sh = _candidate_shingles(
        candidates, df, text_col, id_col, shingle_expr, widen=widen
    )
    a = sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__jsh", "sh_a")
    b = sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__jsh", "sh_b")
    # SHUFFLE_HASH on the shingle side: the planner's default
    # sort-merge sorts BOTH sides (candidate pairs outnumber members,
    # and the verify predicate rides the join condition, so the sorts
    # are pure overhead); a per-partition hash build of the unique-id
    # member side streams the pairs unsorted — measured faster on
    # every verify chain, with no global conf change that would touch
    # the relational flagships (guide §3.1). Build-side memory bound:
    # the hash relation holds ONE shuffle partition of the (unique-id)
    # shingle table — rows/shuffle.partitions by id hash, not a per-key
    # population — so it only outgrows memory if the candidate-member
    # set itself approaches cluster memory; size shuffle.partitions to
    # the member count at scale.
    return candidates.join(a.hint("shuffle_hash"), "id_a").join(
        b.hint("shuffle_hash"), "id_b"
    )


def ngram_jaccard_pairs(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    widen: bool = True,
) -> DataFrame:
    """Word-n-gram Jaccard on candidate pairs (the token-level verify
    companion to ``jaccard_verify``'s character shingles; same
    semi-join + shared-shingle-table shape)."""
    joined = _candidate_pair_frame(
        candidates, df, text_col, id_col, word_ngrams(text_col, n=n),
        widen=widen,
    )
    # distinct n-gram sets: |A∪B| = |A|+|B|−|A∩B| — one per-pair set
    # build instead of two; exact integers, bit-identical quotient
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    union = (F.size("sh_a") + F.size("sh_b") - inter_n).cast("double")
    return (
        joined.withColumn(
            "ngram_jaccard", F.round(inter_n.cast("double") / union, 6)
        )
        .filter(F.col("ngram_jaccard") >= threshold)
        .select("id_a", "id_b", "ngram_jaccard")
    )


def minhash_signatures_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    seed: int = 42,
    shingle_k: int = 5,
    widen: bool = True,
) -> DataFrame:
    """``(id, mh_0..mh_{n-1})`` signatures via explode + aggregate.

    Each shingle is md5-hashed exactly ONCE; the ``num_hashes``
    signature mins are plain arithmetic aggregates over the hashed
    rows. Map-side partial aggregation collapses each partition to
    |docs|×num_hashes longs before the exchange, so the shuffle moves
    signatures, not shingles — the formulation that survives 100 TB
    (and is ~10× faster than inlined per-row array expressions even
    locally; the md5 work dominates).

    Signature ``i`` is the min over the document's shingle hashes ``h``
    of ``(a_i*h + b_i) mod MINHASH_PRIME``, with the coefficients drawn
    by ``_hash_coeffs(num_hashes, seed)`` — the same values the SQL
    oracles recompute.
    """
    coeffs = _hash_coeffs(num_hashes, seed)
    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col))
    if widen:
        narrow = widen_if_narrow(narrow)
    exploded = narrow.select(
        "id",
        F.explode(char_shingles(text_col, k=shingle_k)).alias("__s"),
    ).select("id", _portable_hash_expr(F.col("__s"), MINHASH_HEX_CHARS).alias("__h"))
    aggs = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh_{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    return exploded.groupBy("id").agg(*aggs)


def _portable_hash_expr(s: Column, nhex: int = 15) -> Column:
    return F.conv(F.substring(F.md5(s), 1, nhex), 16, 10).cast("long")


def _hash_coeffs(n: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a 32-bit LCG (documented so the
    oracle can regenerate them). a in [1, p-1], b in [0, p-1]."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = (state % (MINHASH_PRIME - 1)) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MINHASH_PRIME
        out.append((a, b))
    return out


def banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_k: int = 5,
    widen: bool = True,
) -> DataFrame:
    """``(id, band_idx, band_key)`` LSH band table — the persistable
    dedup index. Signature → melt to one row per band (narrow explode,
    no shuffle). Write this table once per corpus snapshot and new
    ingest batches can be deduped against it incrementally
    (``incremental_lsh_candidates``) without re-hashing history.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_df(
        df, text_col, id_col, num_hashes=num_hashes, seed=seed,
        shingle_k=shingle_k, widen=widen,
    )
    # Downstream self-joins consume the band table twice; it is tiny
    # (|docs| × num_hashes longs) relative to the text it was derived
    # from, so persisting it avoids re-hashing every shingle per side.
    sig = sig.persist()
    band_structs = []
    for b in range(bands):
        slice_cols = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        key = F.md5(F.concat_ws(",", *[c.cast("string") for c in slice_cols]))
        band_structs.append(
            F.struct(F.lit(b).alias("band_idx"), key.alias("band_key"))
        )
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("__b")
    ).select(
        "id",
        F.col("__b.band_idx").alias("band_idx"),
        F.col("__b.band_key").alias("band_key"),
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    existing_bands: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    shingle_k: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup candidates for an ingest batch against an existing
    corpus WITHOUT re-mining history: only the new batch is shingled
    and hashed; the existing corpus participates via its persisted
    ``banded_signatures`` table (read back from parquet).

    Returns ``(id_a, id_b)`` pairs covering new×existing and new×new
    — exactly the pairs a full re-run would add. Hash params must
    match the ones the existing band table was built with.

    Scale shape: the join is new-bands × all-bands on the band key —
    at steady state the new side is small, so AQE broadcasts it and
    history streams through map-side; history is never re-hashed.
    """
    new_bands = banded_signatures(
        new_docs, text_col, id_col,
        num_hashes=num_hashes, bands=bands, seed=seed, shingle_k=shingle_k,
    ).persist()
    all_bands = existing_bands.select("id", "band_idx", "band_key").unionByName(
        new_bands
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_key")
        all_bands = (
            all_bands.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )
    left = new_bands.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    right = all_bands.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


def content_hash_index(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``(content_hash, min_id)`` — the persistable exact-dedup index,
    the content-hash counterpart of ``banded_signatures``. Write it
    once per corpus snapshot (ideally bucketed by ``content_hash``)
    and ingest batches dedup against it via
    ``incremental_exact_dedup`` without ever re-hashing history —
    the same incremental-ingest contract as the reference's
    keep-newest batch merge (UPDATERS/wyscout-bronze-batch.py:218-226)
    applied at corpus scale.

    One map-side-combined aggregation: duplicate contents collapse
    before the exchange, so the shuffle moves one row per DISTINCT
    content.
    """
    return (
        df.withColumn(
            "content_hash", portable_hash64(normalized_text(text_col))
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("min_id"))
    )


def extend_content_index(
    index: DataFrame, kept_batch: DataFrame, id_col: str,
    reaggregate: bool = False,
) -> DataFrame:
    """The updated index after an ingest batch: history entries plus
    one ``(content_hash, min_id)`` row per kept batch doc.

    **Precondition**: ``kept_batch`` must already be one row per
    ``content_hash`` with no hash present in ``index`` — exactly what
    ``incremental_exact_dedup`` returns. Feeding a raw (un-deduped or
    un-anti-joined) batch silently breaks the index's
    one-row-per-distinct-content invariant and corrupts ``min_id``
    for later audits. If the batch's provenance is uncertain, pass
    ``reaggregate=True`` to pay one extra map-side-combined
    aggregation that restores the invariant (min id wins per hash,
    matching ``content_hash_index`` semantics)."""
    out = index.select("content_hash", "min_id").unionByName(
        kept_batch.select(
            "content_hash", F.col(id_col).alias("min_id")
        )
    )
    if reaggregate:
        out = out.groupBy("content_hash").agg(
            F.min("min_id").alias("min_id")
        )
    return out


def incremental_exact_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Exact-dedup an ingest batch against a persisted
    ``content_hash_index`` WITHOUT re-hashing history: returns the
    batch rows whose content is unseen (all original columns plus
    ``content_hash``), deduped within the batch keeping the smallest
    id. Semantics are FIRST-SEEN-WINS in ingest order (content
    already in the corpus keeps its original row even if the batch
    re-sends it under a smaller id) — the same keep-existing contract
    as the reference's incremental batch merge.

    Scale shape (``broadcast_batch=True``, the steady-state default):
    the batch's distinct hashes broadcast into a semi-join that
    STREAMS the index map-side (history is scanned, never shuffled),
    and the resulting seen-hash set (≤ |batch| rows) broadcasts back
    into the anti-join — zero history shuffles per batch. For a
    bulk backfill whose batch outgrows the broadcast ceiling, pass
    ``broadcast_batch=False``: both joins become hash-partitioned on
    ``content_hash`` (bucket the index parquet by ``content_hash`` to
    make them co-located). Results are identical either way.

    **Reserved column name**: ``content_hash`` on ``new_docs`` is
    always dropped and recomputed from ``text_col`` — a replayed batch
    (e.g. this function's own kept output) may carry a stale hash, and
    keeping it would duplicate the column in the struct expansion
    below. A caller whose batch carries an UNRELATED column of that
    name loses it; rename it before calling.
    """
    if "content_hash" in new_docs.columns:
        warnings.warn(
            "incremental_exact_dedup: dropping and recomputing the "
            "batch's existing 'content_hash' column (reserved name)",
            stacklevel=2,
        )
        new_docs = new_docs.drop("content_hash")
    row = F.struct(*[F.col(c) for c in new_docs.columns])
    batch_unique = (
        new_docs.withColumn(
            "content_hash", portable_hash64(normalized_text(text_col))
        )
        .groupBy("content_hash")
        .agg(F.min_by(row, F.col(id_col)).alias("__r"))
        .select("content_hash", "__r.*")
    )
    probe = batch_unique.select("content_hash")
    if broadcast_batch:
        probe = F.broadcast(probe)
    seen = index.join(probe, "content_hash", "left_semi").select(
        "content_hash"
    )
    if broadcast_batch:
        seen = F.broadcast(seen)
    return batch_unique.join(seen, "content_hash", "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    widen: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    signature → melt to one ``(id, band_idx, band_key)`` row per band
    (narrow explode, no shuffle) → ONE self-join on the composite band
    key → distinct (id_a < id_b) pairs. Exactly two shuffles regardless
    of the band count: the join exchange and the final distinct —
    versus one join per band in the naive formulation.

    ``max_bucket_size`` drops degenerate buckets (empty/boilerplate
    docs all hash to one band key and would go quadratic — a bucket of
    1M identical docs is 10^12 pairs). Dropped buckets are near-certain
    exact duplicates anyway; catch them with ``exact_dedup``, which is
    linear. Pass None to disable (small/trusted corpora only).
    """
    melted = banded_signatures(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        seed=seed, shingle_k=shingle_k, widen=widen,
    )

    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_key")
        melted = (
            melted.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("__bucket_n") <= max_bucket_size)
            .drop("__bucket_n")
        )

    left = melted.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    right = melted.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.7,
    widen: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (the cheap,
    bounded verify step after LSH).

    Shingles are built once, only for documents that appear in a
    candidate pair (semi-join first — at scale candidates are a tiny
    fraction of the corpus), and persisted so the a/b join sides share
    one computation instead of re-shingling per side.
    """
    joined = _candidate_pair_frame(
        candidates, df, text_col, id_col,
        char_shingles(text_col, k=shingle_k), widen=widen,
    )
    # size-ratio prefilter (set-similarity-join standard): J(A,B) ≤
    # min(|A|,|B|) / max(|A|,|B|), so pairs whose shingle-set sizes are
    # too lopsided cannot reach the threshold — drop them BEFORE the
    # O(|A|+|B|) intersect/union. Output-neutral by construction.
    na, nb = F.size("sh_a"), F.size("sh_b")
    joined = joined.filter(
        F.least(na, nb).cast("double")
        >= F.lit(threshold) * F.greatest(na, nb).cast("double")
    )
    # shingle arrays are DISTINCT sets (char_shingles default), so
    # |A∪B| = |A|+|B|−|A∩B| — the arithmetic union drops the second
    # per-pair hash-set build (array_union re-hashed both arrays).
    # All terms are exact integers, so the rounded quotient is
    # bit-identical to the array_union form.
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    union = (na + nb - inter_n).cast("double")
    return (
        joined.withColumn(
            "jaccard", F.round(inter_n.cast("double") / union, 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.8,
    widen: bool = True,
) -> DataFrame:
    """Near-superset detection on candidate pairs: shingle containment
    ``C(A,B) = |A ∩ B| / |A|`` in both orientations, alongside
    Jaccard. A partial re-crawl, a quoted article inside a longer
    page, or a template wrapping real content scores LOW on Jaccard
    (the union is dominated by the longer side) but ~1.0 on the
    shorter side's containment — which is why there is deliberately NO
    size-ratio prefilter here: the lopsided pairs ``jaccard_verify``
    prunes as hopeless are exactly the ones containment exists to
    catch. Keeps pairs where either orientation reaches ``threshold``;
    returns ``(id_a, id_b, jaccard, containment_a, containment_b)``.

    Same bounded-verify scale shape as ``jaccard_verify``: shingles are
    built once, only for semi-joined candidate members, persisted so
    both join sides share one computation.
    """
    joined = _candidate_pair_frame(
        candidates, df, text_col, id_col,
        char_shingles(text_col, k=shingle_k), widen=widen,
    )
    na = F.size("sh_a").cast("double")
    nb = F.size("sh_b").cast("double")
    inter_n = F.size(F.array_intersect("sh_a", "sh_b"))
    inter = inter_n.cast("double")
    # distinct shingle sets: |A∪B| = |A|+|B|−|A∩B| (see jaccard_verify)
    union = (F.size("sh_a") + F.size("sh_b") - inter_n).cast("double")
    out = (
        joined.withColumn(
            "jaccard", F.round(inter / F.when(union > 0, union), 6)
        )
        .withColumn(
            "containment_a", F.round(inter / F.when(na > 0, na), 6)
        )
        .withColumn(
            "containment_b", F.round(inter / F.when(nb > 0, nb), 6)
        )
    )
    return out.filter(
        F.greatest("containment_a", "containment_b") >= threshold
    ).select("id_a", "id_b", "jaccard", "containment_a", "containment_b")


def _candidate_shingles(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_expr: Column,
    widen: bool = True,
) -> DataFrame:
    """``(__jid, __jsh)`` shingle table for candidate-pair members only."""
    # one scan of the candidate pairs instead of a 2-scan union
    ids = (
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__jid")
        ).distinct()
    )
    narrow = df.select(F.col(id_col).alias("__jid"), F.col(text_col))
    if widen:
        narrow = widen_if_narrow(narrow)
    narrow = narrow.join(ids, "__jid", "left_semi")
    # eager barrier, not persist (round 17): the verify join's two
    # legs start concurrently and RACED the cold cache — stage profile
    # showed the shingle build executing twice (2 x 32.5 MB shuffle
    # writes at sf0.1); the barrier runs it once and the two
    # differently-keyed exchanges read the materialized table
    return narrow.select("__jid", shingle_expr.alias("__jsh")).transform(
        barrier
    )


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_id_col: str,
    n: int = 8,
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least
    ``min_overlap`` distinct word-``n``-grams with any benchmark
    document, with the overlap size and the number of distinct
    benchmark documents hit.

    The standard training-data hygiene step (e.g. GPT-3's 13-gram
    eval-set filtering): n-grams are hashed to 60-bit longs so the
    join key is a fixed-width integer, and the benchmark side — a few
    thousand eval documents against a 100 TB corpus — is broadcast by
    default, making the contamination join map-side with NO shuffle of
    the corpus gram table. Only matched grams (a vanishing fraction)
    reach the final groupBy shuffle. Set
    ``broadcast_benchmark=False`` when the benchmark side is itself
    large (falls back to a sort-merge join on the gram hash).

    Returns ``(id, overlap_ngrams, matched_bench_docs)`` — anti-join
    the corpus against it to drop contaminated documents.
    """
    c_grams = (
        widen_if_narrow(corpus.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(word_ngrams(text_col, n=n)).alias("__g"))
        .select("id", _portable_hash_expr(F.col("__g")).alias("__gh"))
    )
    b_grams = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"), F.col(text_col)
        )
        .select("bench_id", F.explode(word_ngrams(text_col, n=n)).alias("__g"))
        .select("bench_id", _portable_hash_expr(F.col("__g")).alias("__gh"))
        .distinct()
    )
    if broadcast_benchmark:
        b_grams = F.broadcast(b_grams)
    return (
        c_grams.join(b_grams, "__gh")
        .groupBy("id")
        .agg(
            F.countDistinct("__gh").alias("overlap_ngrams"),
            F.countDistinct("bench_id").alias("matched_bench_docs"),
        )
        .filter(F.col("overlap_ngrams") >= min_overlap)
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    bench_id_col: str,
    n: int = 8,
    min_overlap: int = 1,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> DataFrame:
    """``ngram_decontaminate`` for benchmark sets too large to
    broadcast as a hash set: the benchmark's distinct gram hashes are
    folded into a fixed-size Bloom bitset (``m_bits`` bits as
    ``m_bits/64`` longs, ``k_hashes`` double-hashed probes — Bloom
    1970), the corpus gram stream is prefiltered against the broadcast
    bitset map-side, and only the surviving grams (true hits plus the
    ~``(1-e^{-kn/m})^k`` false-positive sliver) reach an EXACT verify
    join against the real benchmark grams. The Bloom filter only
    prunes, so the output is bit-identical to ``ngram_decontaminate``:
    ``(id, overlap_ngrams, matched_bench_docs)`` for corpus docs
    sharing >= ``min_overlap`` distinct word-``n``-grams with any
    benchmark doc.

    Scale shape: a 10^8-gram eval suite needs ~GBs as a broadcast hash
    set but only ``m_bits`` TOTAL as a bitset (2^30 bits = 128 MiB
    covers 10^8 grams at ~10 bits/gram, FP < 1%) — size ``m_bits`` to
    ~10x the distinct benchmark gram count. The bitset is built with
    ONE map-side-combinable ``bit_or`` aggregate and densified once
    into an array (O(1) ``element_at`` probes; Spark map lookup is a
    linear scan, so the map stays build-side only). The corpus never
    shuffles to be probed; the verify join's corpus side is the
    surviving sliver, so AQE picks a broadcast there in practice.
    """
    h = F.col("__gh")
    h1 = F.pmod(h, F.lit(m_bits))
    # double hashing: pos_i = (h1 + i*h2) mod m, h2 in [1, m-1]. h1
    # consumes the LOW ~log2(m) bits, so h2 must come from bits above
    # them — a fixed shift would overlap h1 for large m (e.g. the
    # 2^30-bit sizing the docstring recommends), correlating the k
    # probes and inflating the FP rate. Shifting by m's bit length
    # keeps the two draws disjoint for any m_bits <= 2^30 (60-bit
    # hash).
    h2 = F.lit(1) + F.pmod(
        F.shiftright(h, (m_bits - 1).bit_length()), F.lit(m_bits - 1)
    )
    positions = [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k_hashes)]
    n_words = (m_bits + 63) // 64

    c_grams = (
        widen_if_narrow(corpus.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", F.explode(word_ngrams(text_col, n=n)).alias("__g"))
        .select("id", _portable_hash_expr(F.col("__g")).alias("__gh"))
    )
    b_grams = (
        benchmark.select(F.col(bench_id_col).alias("bench_id"), F.col(text_col))
        .select("bench_id", F.explode(word_ngrams(text_col, n=n)).alias("__g"))
        .select("bench_id", _portable_hash_expr(F.col("__g")).alias("__gh"))
        .distinct()
    )

    word_rows = (
        b_grams.select("__gh")
        .distinct()
        .select(F.explode(F.array(*positions)).alias("__pos"))
        .select(
            F.expr("__pos DIV 64").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))"
            ).alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__word"))
    )
    bloom = (
        word_rows.agg(
            F.map_from_entries(
                F.collect_list(F.struct("__w", "__word"))
            ).alias("__bfm")
        )
        # densify ONCE (single row): array element_at is O(1) per probe
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda w: F.coalesce(
                    F.try_element_at("__bfm", w.cast("long")),
                    F.lit(0).cast("long"),
                ),
            ).alias("__bf")
        )
    )

    # probe condition as ONE expression string: shiftleft with a
    # column shift amount is SQL-only (the Python API takes a literal)
    probe_cond = " AND ".join(
        "((coalesce(try_element_at(__bf, CAST(__p{i} DIV 64 AS INT) + 1), "
        "CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), "
        "CAST(__p{i} % 64 AS INT))) != 0)".format(i=i)
        for i in range(k_hashes)
    )
    probed = c_grams.join(F.broadcast(bloom))
    for i, p in enumerate(positions):
        probed = probed.withColumn(f"__p{i}", p)
    surviving = probed.filter(F.expr(probe_cond)).select("id", "__gh")

    return (
        surviving.join(b_grams, "__gh")
        .groupBy("id")
        .agg(
            F.countDistinct("__gh").alias("overlap_ngrams"),
            F.countDistinct("bench_id").alias("matched_bench_docs"),
        )
        .filter(F.col("overlap_ngrams") >= min_overlap)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """``(id, component)`` connected components of an undirected pair
    graph via iterative min-label propagation.

    Each iteration is one join + one aggregation over the *edge
    subgraph only* — at corpus scale the near-dup graph is a tiny
    fraction of the corpus, so the loop never touches full-corpus
    data. Labels converge to the minimum id reachable in the
    component; iteration count is bounded by the graph diameter
    (near-dup graphs are clique-ish, typically 2-3 rounds).
    ``localCheckpoint`` truncates the lineage each round so the plan
    does not grow with the iteration count, and the convergence check
    rides the same aggregation (a ``max(changed)`` flag, no second
    pass over the labels).

    This is the transitive closure step pairwise candidate generators
    (``minhash_lsh_candidates``, ``simhash_near_dups``) cannot express:
    A~B and B~C must collapse A,B,C into ONE cluster even when A~C was
    never sampled as a candidate.

    Oracle: a recursive CTE (min reachable id) — see the catalog's
    ``dup_clusters`` SQL.
    """
    sym = pairs.select(
        F.col(src).cast("long").alias("e_src"), F.col(dst).cast("long").alias("e_dst")
    )
    edges = sym.union(
        sym.select(F.col("e_dst").alias("e_src"), F.col("e_src").alias("e_dst"))
    ).distinct()
    # Iterating on a persisted edge table: it is consumed once per
    # round, and recomputing the upstream candidate generation (LSH
    # join + distinct) per iteration would dominate the loop cost.
    edges = edges.transform(barrier)

    # seed labels with min(id, neighbors) — same shuffle cost as a
    # plain distinct-ids init, but cliques (the common near-dup shape)
    # converge immediately, saving a whole propagation round
    labels = (
        edges.groupBy(F.col("e_src").alias("id"))
        .agg(F.min(F.least("e_src", "e_dst")).alias("label"))
        .transform(barrier)
    )
    for _ in range(max_iterations):
        # min over own label and every neighbour's label, one shuffle:
        # union(own, neighbour-labels) -> groupBy(id).min
        nbr = edges.join(
            labels.withColumnRenamed("id", "e_dst"), "e_dst"
        ).select(F.col("e_src").alias("id"), "label")
        new_labels = (
            labels.select("id", "label", F.col("label").alias("old"))
            .unionByName(nbr.withColumn("old", F.lit(None).cast("long")))
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("old").alias("old"),
            )
        )
        new_labels = new_labels.withColumn(
            "changed", F.col("label") != F.col("old")
        )
        # Path compression (pointer doubling): label <- label(label).
        # Neighbour propagation alone advances one hop per round, so a
        # chain of diameter d needs d rounds; jumping through the label
        # node's own label halves remaining path lengths each round,
        # giving O(log d) convergence. A label always points at a
        # smaller id that is itself labelled, so the self-join is total
        # (left join only for safety at the component minimum). At
        # convergence the hop is the identity, so doubling BEFORE the
        # convergence check is safe — and folding it into the same
        # round means ONE checkpoint + ONE driver action per round
        # instead of two of each (the self-join's two reads of the
        # aggregate resolve to a ReusedExchange, not a recompute).
        # Round count is genuinely O(log n) — and each round carries
        # TWO compression hops (round 17): in local mode and on a busy
        # cluster driver the per-round fixed cost (plan analysis, one
        # barrier job, one convergence action) dominates the tiny
        # label-table joins, so compressing twice per round (quartering
        # remaining path lengths) buys fewer rounds for one extra
        # cheap self-join: 11 rounds → 7 on the sf0.1 near-dup graph.
        # Convergence is unchanged: labels decrease monotonically to
        # the unique fixpoint (min reachable id), the exit flag is
        # computed from the PROPAGATE step alone, and at a propagate
        # fixpoint every hop is the identity.
        hop = new_labels.select(
            F.col("id").alias("__lid"), F.col("label").alias("__llabel")
        )
        once = new_labels.join(
            hop, new_labels["label"] == hop["__lid"], "left"
        ).select(
            "id",
            F.coalesce("__llabel", "label").alias("label"),
            "changed",
        )
        hop2 = once.select(
            F.col("id").alias("__lid"), F.col("label").alias("__llabel")
        )
        doubled = (
            once.join(hop2, once["label"] == hop2["__lid"], "left")
            .select(
                "id",
                F.coalesce("__llabel", "label").alias("label"),
                "changed",
            )
            .transform(barrier)
        )
        any_changed = doubled.agg(F.max("changed")).first()[0]
        labels = doubled.select("id", "label")
        if not any_changed:
            break
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    best_by: str | None = None,
    descending: bool = True,
    max_iterations: int = 50,
) -> DataFrame:
    """Per-document duplicate-cluster assignment: every row of ``df``
    gets a ``component`` (cluster id = min doc id in its near-dup
    cluster; docs in no pair are their own singleton component) and an
    ``is_canonical`` flag marking the kept representative.

    By default the canonical doc is the min id (free — it IS the
    component label). Pass ``best_by`` to keep the highest-quality doc
    per cluster instead (e.g. a quality score column); that adds one
    window shuffle on the component key, with id as the deterministic
    tiebreak.

    One left join of the corpus against the (small) component table;
    all iteration happens inside ``connected_components`` on the edge
    subgraph only.
    """
    comp = connected_components(pairs, max_iterations=max_iterations)
    extra = [F.col(best_by)] if best_by else []
    out = (
        df.select(F.col(id_col).cast("long").alias("id"), *extra)
        .join(comp, "id", "left")
        .withColumn("component", F.coalesce("component", "id"))
    )
    if best_by is None:
        out = out.withColumn("is_canonical", F.col("component") == F.col("id"))
    else:
        order = F.col(best_by).desc() if descending else F.col(best_by).asc()
        w = Window.partitionBy("component").orderBy(order, F.col("id"))
        out = out.withColumn("is_canonical", F.row_number().over(w) == 1)
    return out.select(
        F.col("id").alias(id_col), "component", "is_canonical"
    )


def simhash64(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, computed with bit-vote
    aggregation: explode tokens → per-bit ±1 votes → sign → recombine.
    One shuffle (groupBy id). Token hash is the portable md5 hash.
    """
    toks = widen_if_narrow(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select(
        "id",
        F.explode(F.split(normalized_text(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = _portable_hash_expr(F.col("tok"))
    toks = toks.withColumn("__h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)  # portable hash is 60 bits
    ]
    agg = toks.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(60):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return agg.select("id", sim.alias(out_col))


def hamming_dist(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-duplicate pairs via hamming-LSH banding.

    The 60-bit simhash splits into ``bands`` bit-slices; by the
    pigeonhole principle two hashes within ``bands - 1`` hamming
    distance share at least one identical slice, so slice-equality
    buckets (one melt + one self-join, same shape as the MinHash path)
    generate candidates and an exact ``bit_count(xor)`` filter keeps
    pairs with distance ≤ ``max_hamming``. Recall is exact for
    distance < bands and probabilistic above.
    """
    bits_per_band = 60 // bands
    # both self-join sides melt from sig; persist so the 60-column
    # vote aggregate runs once (same barrier as the MinHash path)
    sig = simhash64(df, text_col, id_col).persist()  # (id, simhash)
    mask = (1 << bits_per_band) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftright(F.col("simhash"), b * bits_per_band)
            .bitwiseAND(F.lit(mask))
            .alias("band_key"),
        )
        for b in range(bands)
    ]
    melted = sig.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("__b")
    ).select(
        "id",
        "simhash",
        F.col("__b.band_idx").alias("band_idx"),
        F.col("__b.band_key").alias("band_key"),
    )
    left = melted.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "band_idx", "band_key",
    )
    right = melted.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "band_idx", "band_key",
    )
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming_dist(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_pattern: str = "\n",
    join_delim: str = "\n",
    mode: str = "keep_first",
    max_occurrences: int = 1,
) -> DataFrame:
    """Line-level dedup across the whole corpus — the C4/Gopher
    boilerplate-removal step that document-level dedup can't see
    (navigation chrome, license headers, quoted passages repeated
    across otherwise-distinct pages).

    ``mode="keep_first"`` (C4): every duplicated line keeps only its
    first occurrence in corpus order (``(id, line_idx)``).
    ``mode="drop_frequent"`` (Gopher): ALL occurrences of lines
    appearing more than ``max_occurrences`` times are removed.
    Surviving lines are reassembled in original order; documents whose
    lines are all removed drop from the output, and null-text
    documents are dropped up front (chunk_documents contract).
    ``split_pattern`` is a regex (Java/RE2-common subset keeps SQL
    oracles portable); ``join_delim`` is the literal reassembly glue.

    Scale shape: explode is a projection; the occurrence count /
    first-occurrence winner is one aggregate on the 60-bit line hash
    whose partial (map-side) combine collapses heavy-hitter boilerplate
    lines before the shuffle — in keep_first mode the winner is a
    ``min(struct(id, line_idx))`` aggregate (NOT a per-hash analytic
    window, which would buffer-and-sort every occurrence of a hot
    "Terms of Service" line in a single task) and survivors are
    recovered with a semi-join on the unique ``(id, line_idx)`` winner
    key, so no stage ever partitions the full line set by line hash;
    reassembly is one more shuffle on the document id with ~1 row per
    surviving line. Returns ``(id, n_lines, kept_lines, clean_text)``.
    """
    parts = F.split(F.col(text_col), split_pattern)
    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.size(parts).alias("n_lines"),
            F.posexplode(parts).alias("line_idx", "line"),
        )
        .withColumn("__h", portable_hash64(F.col("line")))
    )
    if mode == "keep_first":
        # min(struct) collapses hot line hashes map-side; the winner key
        # (id, line_idx) is unique, so the recovery semi-join is skew-free.
        first = (
            lines.groupBy("__h")
            .agg(
                F.min(
                    F.struct(F.col(id_col), F.col("line_idx"))
                ).alias("__f")
            )
            .select(
                F.col("__f")[id_col].alias(id_col),
                F.col("__f")["line_idx"].alias("line_idx"),
            )
        )
        surviving = lines.join(first, [id_col, "line_idx"], "semi")
    elif mode == "drop_frequent":
        occ = lines.groupBy("__h").agg(F.count(F.lit(1)).alias("__occ"))
        surviving = lines.join(occ, "__h").filter(
            F.col("__occ") <= max_occurrences
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("line_idx"), F.col("line")))
    )
    return surviving.groupBy(id_col).agg(
        F.any_value("n_lines").cast("long").alias("n_lines"),
        F.count(F.lit(1)).alias("kept_lines"),
        F.array_join(
            F.transform(ordered, lambda s: s["line"]), join_delim
        ).alias("clean_text"),
    )


def substring_dup_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """Substring-duplication profile by collision-negligible 60-bit
    hash equality: for every document, how many of its stride-1
    ``window``-word token windows occur more than once in the corpus
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — there built on a single-node suffix array;
    hashing every token window is the shuffle-friendly distributed
    equivalent, catching verbatim reuse that document- and chunk-level
    dedup miss: quotations, templated passages, partial crawls of the
    same page). "Collision-negligible", not exact: with 60-bit hashes
    the birthday bound puts the expected number of spurious window
    collisions at ~n²/2^61 — ~0 at test scale, but a 100 TB corpus
    (~10^12 windows) should expect on the order of 10^5 false
    dup_windows among 10^12, inflating dup_bp by ≪1 bp.

    Output (docs with ≥ ``window`` tokens): ``n_windows``,
    ``dup_windows`` (windows whose hash occurs ≥2 times corpus-wide,
    same-doc repeats included), and ``dup_bp`` (basis points,
    integer-exact).

    Scale: ~one hashed row per corpus token — the same footprint the
    published algorithm's suffix array pays, but partitionable. The
    occurrence count is a ``groupBy(hash)`` (map-side combine collapses
    hot boilerplate windows per partition — a plain analytic window
    would buffer every occurrence of a hot hash in one task) joined
    back to the gram rows on the same hash partitioning, then one
    per-document aggregate. No driver state, no suffix array.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    toks = F.filter(
        F.split(normalized_text(F.col(text_col), lowercase=False), " "),
        lambda t: F.length(t) > 0,
    )
    base = (
        df.select(F.col(id_col), toks.alias("__ts"))
        .withColumn("__n", F.size("__ts"))
        .filter(F.col("__n") >= window)
    )
    gram_hash = lambda i: portable_hash64(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("__ts"), i, window))
    )
    grams = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - F.lit(window - 1)),
                gram_hash,
            )
        ).alias("__wh"),
    )
    occ = grams.groupBy("__wh").agg(F.count(F.lit(1)).alias("__occ"))
    counted = grams.join(occ, "__wh")
    out = counted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("__occ") > 1, 1).otherwise(0)).alias("dup_windows"),
    )
    return out.withColumn(
        "dup_bp",
        F.expr("CAST(dup_windows * 10000 DIV n_windows AS BIGINT)"),
    )


def remove_dup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    join_delim: str = " ",
) -> DataFrame:
    """Substring-duplication *removal* — the step Lee et al. 2022
    actually ship (``substring_dup_profile`` only measures): every
    stride-1 ``window``-word token window whose 60-bit hash occurs ≥2
    times corpus-wide keeps only its first occurrence in corpus order
    (``(id, window_start)``); tokens covered by any removed (non-first
    duplicated) window are dropped and the surviving tokens are
    reassembled in original order. A duplicated span is therefore
    never removed on account of *itself* at its first corpus position,
    but its tokens may still be dropped there when a *different*
    overlapping duplicated window is removed at the same spot — the
    same span-cutting caveat as Lee et al.'s pipeline. Quotations,
    templated passages, and partial re-crawls collapse to at most one
    (possibly clipped) copy.

    Whitespace-normalized (case-preserving) tokenization, matching
    ``substring_dup_profile``. Documents shorter than ``window``
    tokens carry no windows and pass through untouched (normalized
    whitespace aside); null-text and zero-token documents are dropped,
    as are documents whose every token was covered by removed windows
    (the ``dedup_lines`` contract). Returns
    ``(id, n_tokens, kept_tokens, clean_text)``.

    Scale shape: one hashed row per corpus token (the suffix-array
    footprint, but partitionable). Occurrence count and
    first-occurrence winner come from ONE ``groupBy(hash)`` aggregate
    whose partial combine collapses hot boilerplate windows map-side;
    the join back to gram rows streams the probe side (no sort, no
    per-hash buffering, AQE skew-split eligible). Covered-position
    explode emits ``window`` rows per *removed* gram only; the final
    anti-join and reassembly shuffle on high-cardinality
    ``(id, pos)`` / ``id`` keys. No stage buffers all occurrences of
    a hot window in one task.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    toks = F.filter(
        F.split(normalized_text(F.col(text_col), lowercase=False), " "),
        lambda t: F.length(t) > 0,
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("__ts"))
        .withColumn("__n", F.size("__ts"))
        .filter(F.col("__n") > 0)
    )
    tokens = base.select(
        id_col,
        "__n",
        F.posexplode("__ts").alias("__p0", "__tok"),
    ).withColumn("__pos", F.col("__p0") + 1)
    gram_hash = lambda i: portable_hash64(  # noqa: E731
        F.concat_ws(" ", F.slice(F.col("__ts"), i, window))
    )
    grams = base.filter(F.col("__n") >= window).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - F.lit(window - 1)),
                lambda i: F.struct(i.alias("__s"), gram_hash(i).alias("__wh")),
            )
        ).alias("__g"),
    ).select(id_col, F.col("__g.__s").alias("__s"), F.col("__g.__wh").alias("__wh"))
    # ONE aggregate yields both the corpus-wide occurrence count and the
    # first-occurrence winner; both are map-side combinable.
    occ_first = grams.groupBy("__wh").agg(
        F.count(F.lit(1)).alias("__occ"),
        F.min(F.struct(F.col(id_col), F.col("__s"))).alias("__f"),
    )
    removed = (
        grams.join(occ_first, "__wh")
        .filter(
            (F.col("__occ") >= 2)
            & ~(
                (F.col(id_col) == F.col("__f")[id_col])
                & (F.col("__s") == F.col("__f")["__s"])
            )
        )
    )
    covered = removed.select(
        id_col,
        F.explode(
            F.sequence(F.col("__s"), F.col("__s") + F.lit(window - 1))
        ).alias("__pos"),
    ).distinct()
    kept = tokens.join(covered, [id_col, "__pos"], "anti")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))
    )
    return kept.groupBy(id_col).agg(
        F.any_value("__n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(ordered, lambda s: s["__tok"]), join_delim
        ).alias("clean_text"),
    )
