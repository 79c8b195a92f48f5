"""The benchmark workloads. Each has ``setup`` (input generation and
untimed full-size warm-up, counted in ``setup_s``), ``run_pass`` (one
timed unit of work; returns the pass's output digests, computed after
the timer stops) and ``check`` (compares outputs with DuckDB oracles and
returns the failed pass indices)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen
from oracle import parquet
from stats import frame_digest

FACT_JSON_SCHEMA = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP, season INT"
)
GOLD_OUT = ("volume", "discounting", "variety", "value", "Rating")
TOTALS = {"qty_for_season": "sum_qty", "lines_for_season": "n_lines"}

# (module, public function, layer) wrapped in spans when tracing
TRACE_TARGETS = [
    ("traits_data_spark.plans.silver", "build_profiles", "plans.silver"),
    ("traits_data_spark.plans.silver", "attach_any_season_totals", "plans.silver"),
    ("traits_data_spark.plans.gold", "build_ratings", "plans.gold"),
    ("traits_data_spark.sinks.parquet", "write_partitioned_parquet", "sinks.parquet"),
    ("traits_data_spark.sinks.upsert", "upsert_parquet_partition", "sinks.upsert"),
    ("traits_data_spark.streaming.bronze", "stream_json_landing", "streaming.bronze"),
    ("traits_data_spark.streaming.bronze", "upsert_each_batch", "streaming.bronze"),
    ("traits_data_spark.plans.curation", "curate_corpus", "plans.curation"),
    ("traits_data_spark.operators.similarity", "kmeans_clusters_topm", "operators.similarity"),
    ("traits_data_spark.operators.layout", "balanced_shards", "operators.similarity"),
    ("traits_data_spark.operators.similarity", "keyed_near_dups", "operators.similarity"),
    ("traits_data_spark.operators.dedup", "connected_components", "operators.dedup"),
    ("traits_data_spark.operators.dedup", "dedup_clusters", "operators.dedup"),
    ("traits_data_spark.operators.text", "kn4_doc_scores", "operators.text"),
]


def data_files(path: str) -> dict[str, int]:
    """Size of every data file under ``path`` by relative path, Spark's
    marker files excluded."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                full = os.path.join(dirpath, n)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int, int]:
    """(bytes, files, partitions) a write left in a table, from listings
    taken before and after it: the files that are new, and the partition
    directories whose file set changed (a removed partition counts)."""
    new = [p for p in after if p not in before]
    changed = {os.path.dirname(p) for p in set(before) ^ set(after)}
    return sum(after[p] for p in new), len(new), len(changed)


class Ctx:
    """What a workload needs from the run: session, tracer, paths."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)
        self.input_digest = ""
        self.counters: dict[str, float] = {}

    def count(self, key: str, v: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + v

    def listing(self, table: str) -> dict[str, int]:
        return data_files(table) if self.tracer.enabled else {}

    def count_written(self, layer: str, before: dict, after: dict) -> None:
        if self.tracer.enabled:
            size, files, parts = written(before, after)
            self.count(f"{layer}.bytes_written", size)
            self.count(f"{layer}.files_written", files)
            self.count(f"{layer}.partitions_rewritten", parts)


# ---------------------------------------------------------------------------
# season refresh: silver then gold over one season of facts
# ---------------------------------------------------------------------------


def refresh(ctx: Ctx, facts, profiles: str, gold: str, season: int) -> None:
    """E1 silver then E2 gold over one season of ``facts``, through the
    catalog's specs: build_profiles -> attach_any_season_totals -> cast
    contract -> season partition (dynamic overwrite) -> read back ->
    build_ratings -> season partition."""
    from traits_data_spark import catalog
    from traits_data_spark.operators.flatten import enforce_cast_contract
    from traits_data_spark.plans.gold import build_ratings
    from traits_data_spark.plans.silver import attach_any_season_totals, build_profiles
    from traits_data_spark.sinks.parquet import write_partitioned_parquet

    spark, tr = ctx.spark, ctx.tracer
    prof = build_profiles(facts, catalog.FEATURE_STORE, catalog.PROFILE_SPEC,
                          strategy="explode", carry_cols=["l_suppkey", "l_returnflag"])
    silver = enforce_cast_contract(
        attach_any_season_totals(prof, catalog.PROFILE_SPEC, TOTALS),
        int_cols=["l_suppkey"],
        string_cols=["profileId", "aggregationPeriod", "l_returnflag"],
    ).withColumn("season", F.lit(season))
    # the writes plan their own QueryExecution, so spark.plan_s is not
    # taken here: forcing this frame's plan would be work the write never uses
    before = ctx.listing(profiles)
    with tr.span("write_silver", "sinks.parquet", kind="exec", consumes="plans.silver"):
        write_partitioned_parquet(silver, profiles, ["season"])
    ctx.count_written("sinks.parquet", before, ctx.listing(profiles))

    back = spark.read.parquet(profiles).filter(F.col("season") == season).drop("season")
    rated = build_ratings(back.withColumnRenamed("l_returnflag", "positionGroup"),
                          catalog.WEIGHTS, catalog.GOLD_SPEC)
    out = rated.select("profileId", "positionGroup", "aggregationPeriod",
                       *[(F.col(c) + F.lit(0.0)).alias(c) for c in GOLD_OUT],
                       F.lit(season).alias("season"))
    before = ctx.listing(gold)
    with tr.span("write_gold", "sinks.parquet", kind="exec", consumes="plans.gold"):
        write_partitioned_parquet(out, gold, ["season"])
    ctx.count_written("sinks.parquet", before, ctx.listing(gold))


def _season_digest(spark, table: str, season: int) -> str:
    df = spark.read.parquet(table).filter(F.col("season") == season).drop("season")
    return frame_digest(df.columns, df.collect())


class Workload:
    SAME_OUTPUT = True  # every timed pass must reproduce the first one's output
    # untimed full-size passes after set-up, counted in setup_s: the
    # first pass in a fresh JVM costs two to three times a later one
    WARMUP = 1

    def warm_pass(self, ctx: Ctx, i: int):
        """Warm-up pass ``i``; by default the same as a timed pass."""
        return self.run_pass(ctx)

    def final_digests(self, ctx: Ctx) -> dict:
        """Digests of the state the run leaves, taken before Spark stops."""
        return {}

    def traced_counts(self, ctx: Ctx) -> None:
        """Counters that cost a Spark job, taken after the timed passes."""


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    """The three heaviest driver-orchestrated LLM-corpus chains."""

    DOCS = 50
    VECTORS = 50
    # the JIT is still compiling through the second pass: on a 4-core
    # host the second pass read 1.03-1.46x the third, and the third and
    # later ones stay within a few percent of each other
    WARMUP = 2
    QUERIES = (
        ("curate_corpus", "plans.curation"),
        ("semantic_dedup_sharded", "operators.dedup"),
        ("kn4_doc_scores", "operators.text"),
    )

    def setup(self, ctx: Ctx) -> None:
        paths = gen.gen_corpus(ctx.data, ctx.seed, self.DOCS, self.VECTORS)
        ctx.input_digest = gen.input_digest(paths)

    def warm_pass(self, ctx: Ctx, i: int):
        """The first untraced warm-up runs the three chains on three
        threads at once: the same calls compiled and cached, in about 30
        instead of 36 s on a 4-core host, so the run fits its budget with
        a second, sequential warm-up pass."""
        if i > 0 or ctx.tracer.enabled:
            return self.run_pass(ctx)
        from concurrent.futures import ThreadPoolExecutor

        from traits_data_spark import catalog

        def one(name: str):
            return catalog.QUERIES[name](ctx.spark, ctx.data).collect()

        with ThreadPoolExecutor(len(self.QUERIES)) as ex:
            list(ex.map(one, [name for name, _ in self.QUERIES]))
        return lambda: {}

    def run_pass(self, ctx: Ctx):
        from traits_data_spark import catalog

        out = {}
        for name, layer in self.QUERIES:
            with ctx.tracer.span(name, "catalog"):
                df = catalog.QUERIES[name](ctx.spark, ctx.data)
            ctx.tracer.force_plan(df)
            with ctx.tracer.span("collect", layer, kind="exec", consumes=layer):
                out[name] = (df.columns, df.collect())
        return lambda: {k: frame_digest(*v) for k, v in out.items()}

    def traced_counts(self, ctx: Ctx) -> None:
        """Near-dup pairs of the last pass (a job of its own, run after
        the pass so the pass's job counts stay the program's)."""
        pairs = ctx.tracer.results.get("keyed_near_dups")
        if pairs is not None:
            ctx.counters["operators.similarity.pairs"] = pairs.count()

    def check(self, ctx: Ctx, oracle, digests: list[dict], final: dict) -> list[int]:
        from traits_data_spark import catalog

        sqls = catalog.oracle_sqls()
        oracle.views({t: parquet(f"{ctx.data}/{t}.parquet") for t in ("documents", "embeddings")})
        want = {k: oracle.digest(sqls[k], ctx.input_digest) for k, _ in self.QUERIES}
        return [i for i, d in enumerate(digests) if d != want]


# ---------------------------------------------------------------------------
# incremental_upsert
# ---------------------------------------------------------------------------


class IncrementalUpsert(Workload):
    """Seeded per-season re-fetches landed as bronze JSON, streamed into
    a season-partitioned fact table, then the touched season re-profiled
    and re-rated. Closed loop: a batch lands after the previous one's
    gold rows are written.

    Shape from the reference's recorded units (BASELINE.md): 5 seasons,
    the silver batch size of one job run; one batch is one season
    re-fetched in full, the unit of the bronze updaters' season loop.
    The correction, insert and retraction shares and the table size are
    not recorded there: they are unverified choices, the size set by
    the run-time budget."""

    SAME_OUTPUT = False  # each batch is checked against the replay instead

    ROWS = 20_000
    BATCHES = 8  # generated; a run applies at most this many
    CORRECT, INSERT, RETRACT = 0.02, 0.02, 0.01
    KEYS = list(gen.KEYS)

    def setup(self, ctx: Ctx) -> None:
        from traits_data_spark.sinks.parquet import write_partitioned_parquet

        self.base, self.batches = gen.gen_incremental(
            ctx.data, ctx.seed, self.ROWS, self.BATCHES,
            self.CORRECT, self.INSERT, self.RETRACT)
        ctx.input_digest = gen.input_digest([self.base]) + gen.batches_digest(self.batches)
        w = ctx.work
        self.facts, self.profiles, self.gold = (f"{w}/facts", f"{w}/profiles", f"{w}/gold")
        self.landing, self.ckpt = f"{w}/bronze", f"{w}/bronze-ckpt"
        os.makedirs(self.landing)
        self.landed_bytes = os.path.getsize(self.base)
        self.landed = 0  # batches landed so far
        self.spark = spark = ctx.spark
        write_partitioned_parquet(spark.read.parquet(self.base), self.facts, ["season"])

    def _season_facts(self, s: int):
        return (self.spark.read.parquet(self.facts)
                .filter(F.col("season") == s).drop("season"))

    def run_pass(self, ctx: Ctx):
        from traits_data_spark.sinks.upsert import upsert_parquet_partition
        from traits_data_spark.streaming.bronze import stream_json_landing, upsert_each_batch

        spark, tr = ctx.spark, ctx.tracer
        i = self.landed
        if i == len(self.batches):
            raise RuntimeError(f"all {i} generated batches are applied")
        b = self.batches[i]
        self.landed += 1
        body = gen.bronze_json_lines(b.upserts).encode()
        tmp = f"{ctx.work}/tmp/batch-{i:04d}.json"
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, f"{self.landing}/batch-{i:04d}.json")  # lands atomically
        self.landed_bytes += len(body)
        before = ctx.listing(self.facts)
        with tr.span("ingest", "streaming.bronze", kind="build"):
            q = upsert_each_batch(
                stream_json_landing(spark, self.landing, FACT_JSON_SCHEMA),
                self.facts, self.KEYS, ["season"], self.ckpt)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"bronze stream failed: {q.exception()}")
        if b.retract:
            dels = spark.createDataFrame(b.retract, "l_orderkey BIGINT, l_linenumber INT")
            empty = spark.createDataFrame([], FACT_JSON_SCHEMA)
            upsert_parquet_partition(empty, self.facts, self.KEYS, ["season"], deletes=dels)
        if tr.enabled:
            # rows the stream source read: above the landed rows when the
            # micro-batch is re-scanned once per consumer inside the MERGE
            ctx.count("streaming.bronze.rows_read",
                      sum(p["numInputRows"] for p in q.recentProgress))
            ctx.count("streaming.bronze.batches", 1)
            ctx.count("sinks.upsert.landed_bytes", len(body))
            ctx.count_written("sinks.upsert", before, ctx.listing(self.facts))
        refresh(ctx, self._season_facts(b.season), self.profiles, self.gold, b.season)

        return lambda: {"batch": i, "gold": _season_digest(spark, self.gold, b.season)}

    def table_bytes_per_input_byte(self) -> float:
        out = sum(sum(data_files(t).values()) for t in (self.facts, self.profiles, self.gold))
        return out / self.landed_bytes

    def final_digests(self, ctx: Ctx) -> dict:
        """Silver and gold of every season a batch touched, as the run
        left them (untouched seasons have no profiles yet)."""
        return {
            (q, s): _season_digest(ctx.spark, table, s)
            for s in sorted({b.season for b in self.batches[:self.landed]})
            for table, q in ((self.profiles, "silver_e1"), (self.gold, "gold_ratings"))
        }

    def traced_counts(self, ctx: Ctx) -> None:
        ctx.counters["workload.table_bytes_per_input_byte"] = self.table_bytes_per_input_byte()

    def check(self, ctx: Ctx, oracle, digests: list[dict], final: dict) -> list[int]:
        """DuckDB replay: base table, then each applied batch as the
        catalog's MERGE-with-retraction (updates win, retractions win
        over updates), then the catalog's gold oracle over the touched
        season. Timed passes whose gold differs are failed; a final
        mismatch of any season's silver or gold fails the last pass."""
        import pyarrow as pa
        from traits_data_spark import catalog

        sqls = catalog.oracle_sqls()
        con = oracle.con
        con.execute(f"CREATE OR REPLACE TABLE facts AS SELECT * FROM read_parquet('{self.base}')")
        lineitem = "SELECT * EXCLUDE (season) FROM facts WHERE season = {s}"
        want = []
        for b in self.batches[:self.landed]:
            con.register("up", b.upserts)
            con.register("del", pa.table({
                "l_orderkey": pa.array([k[0] for k in b.retract], pa.int64()),
                "l_linenumber": pa.array([k[1] for k in b.retract], pa.int32())}))
            con.execute(_REPLAY_SQL)
            oracle.views({"lineitem": lineitem.format(s=b.season)})
            want.append(oracle.digest(sqls["gold_ratings"]))
        failed = [n for n, d in enumerate(digests)
                  if d["gold"] != want[d["batch"]]]
        for (q, s), got in final.items():
            oracle.views({"lineitem": lineitem.format(s=s)})
            if got != oracle.digest(sqls[q]):
                failed.append(len(digests) - 1)
        return sorted(set(failed))


_REPLAY_SQL = """
CREATE OR REPLACE TABLE facts AS
WITH m AS (
  SELECT * FROM up
  UNION ALL
  SELECT * FROM facts e WHERE NOT EXISTS (
    SELECT 1 FROM up u
    WHERE u.l_orderkey = e.l_orderkey AND u.l_linenumber = e.l_linenumber)
)
SELECT * FROM m WHERE NOT EXISTS (
  SELECT 1 FROM del d
  WHERE d.l_orderkey = m.l_orderkey AND d.l_linenumber = m.l_linenumber)
"""

WORKLOADS = {
    "corpus_curation": CorpusCuration,
    "incremental_upsert": IncrementalUpsert,
}
