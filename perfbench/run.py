"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_curation --seed 7 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(names and units in BENCHMARK.json). The lines before it print every
metric by name with its unit, the load average at start and end, and
the run's correctness checks. Scratch files go under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# per-layer metric names that differ from the generic rollup key
RENAMES = {
    "sinks.parquet.write_s": "sinks.parquet.build_s",
    "sinks.upsert.merge_s": "sinks.upsert.build_s",
    "streaming.bronze.ingest_s": "streaming.bronze.build_s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _json_store(name: str):
    """A small JSON dict kept in the working area across runs."""
    path = os.path.join(WORK, name)

    def load() -> dict:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def save(d: dict) -> None:
        with open(path, "w") as f:
            json.dump(d, f)

    return load, save


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "traits_data_spark")):
        print(f"perfbench: no traits_data_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness
    from oracle import Oracle
    from spans import Tracer, attribute_jobs, fetch_jobs, instrument, pass_report
    from stats import median, percentile, tail_percentile
    from workloads import TRACE_TARGETS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_units()
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.pin_env(work)
    load_start, steal_start = harness.load_avg(), harness.steal_s()

    # --- set-up: session, catalog import, inputs, warm-up passes ---
    t0, c0 = time.perf_counter(), harness.tree_cpu_s()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    import traits_data_spark.catalog  # noqa: F401  (timed: a set-up step)
    import_s = time.perf_counter() - t1
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(spark, run_id, enabled=bool(args.trace))
    if tracer.enabled:
        instrument(tracer, TRACE_TARGETS)
    ctx = Ctx(spark, tracer, work, args.seed)
    wl = WORKLOADS[args.workload]()
    run_start = time.time()
    wl.setup(ctx)
    pass_spans, warm = [], []
    for i in range(wl.WARMUP):
        w0 = time.perf_counter()
        with tracer.span(f"warmup{i}", "bench", kind="pass") as sp:
            finish = wl.warm_pass(ctx, i)
        warm.append(time.perf_counter() - w0)
        finish()
        harness.clear(spark)
        pass_spans.append(sp)
    settled = [harness.settle()]
    setup_s = time.perf_counter() - t0
    setup_cpu_s = harness.tree_cpu_s() - c0
    ctx.counters.clear()

    # --- timed passes, closed loop, for --seconds ---
    times, cpu, digests, errors = [], [], [], []
    while not times or sum(times) < args.seconds:
        if times:
            settled.append(harness.settle())
        p0, c0 = time.perf_counter(), harness.tree_cpu_s()
        try:
            with tracer.span(f"pass{len(times)}", "bench", kind="pass") as sp:
                finish = wl.run_pass(ctx)
            times.append(time.perf_counter() - p0)
            cpu.append(harness.tree_cpu_s() - c0)
            pass_spans.append(sp)
            digests.append(finish())
        except Exception as exc:  # a failed operation counts; the run goes on
            errors.append(repr(exc))
            if len(times) == len(digests):  # the pass itself raised
                times.append(time.perf_counter() - p0)
                cpu.append(harness.tree_cpu_s() - c0)
            digests.append(None)
        harness.clear(spark)

    failed = {i for i, d in enumerate(digests) if d is None}
    if wl.SAME_OUTPUT:
        first = next((d for d in digests if d is not None), None)
        failed |= {i for i, d in enumerate(digests) if d is not None and d != first}
    if tracer.enabled:
        wl.traced_counts(ctx)
        jobs, stages = fetch_jobs(spark.sparkContext, run_start)
        costs = attribute_jobs(tracer, jobs, stages)
        reports = [pass_report(tracer, sp.id, costs) for sp in pass_spans if sp]
    final = wl.final_digests(ctx)
    rss = harness.peak_rss_mb()
    harness.stop_session(spark)

    # --- correctness against the DuckDB oracles ---
    t_oracle = time.perf_counter()
    oracle = Oracle(WORK, threads=len(os.sched_getaffinity(0)))
    try:
        ok_idx = [i for i, d in enumerate(digests) if d is not None]
        bad = wl.check(ctx, oracle, [digests[i] for i in ok_idx], final)
        failed |= {ok_idx[j] for j in bad if j < len(ok_idx)}
    finally:
        oracle.close()
    oracle_s = time.perf_counter() - t_oracle
    load_end = harness.load_avg()
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(times)
    print(f"workload {args.workload} seed {args.seed} input {ctx.input_digest[:16]}; "
          f"task slots {harness.task_slots()}")
    print(f"load avg 1m/5m: start {load_start[0]:.2f}/{load_start[1]:.2f}, "
          f"end {load_end[0]:.2f}/{load_end[1]:.2f}; "
          f"cpu steal during the run {harness.steal_s() - steal_start:.1f} s")
    print(f"phases: session {session_s:.1f} s, rest of set-up {setup_s - session_s:.1f} s "
          f"({wl.WARMUP} warm-up pass{'es' if wl.WARMUP > 1 else ''}), timed passes {sum(times):.1f} s, "
          f"oracle check {oracle_s:.1f} s ({oracle.hits} cached)")
    print(f"waits for an idle JVM before each timed pass (s): "
          f"{', '.join(f'{t:.1f}' for t in settled)}")
    print(f"warm-up pass times (s): {', '.join(f'{t:.3f}' for t in warm)}; "
          f"pass times (s): {', '.join(f'{t:.3f}' for t in times)}; "
          f"process-tree CPU (s): {', '.join(f'{t:.2f}' for t in cpu)}; "
          f"set-up CPU {setup_cpu_s:.2f} s")
    for e in errors:
        print(f"error: {e}")
    print(f"error_rate: {len(failed) / attempted} ratio (failed {len(failed)} of {attempted})")
    print(f"peak_rss_mb: {rss} MB")
    pct = tail_percentile(attempted)
    print(f"pass_s p50: {median(times)} s (n={attempted}); tail: "
          + (f"p{pct} {percentile(times, pct)} s" if pct else "n/a, fewer than 11 passes"))

    if tracer.enabled:
        layer = summarize(reports[wl.WARMUP:], ctx, times, session_s, import_s)
        layer["bench.peak_rss_mb"] = rss
        layer["bench.pass_cpu_s"] = median(cpu)
        layer["bench.setup_cpu_s"] = setup_cpu_s
        layer["bench.layers_with_varying_jobs"] = job_count_report(args, reports)
        for sp, r in zip([s for s in pass_spans if s], reports):
            selfs = {k: v for k, v in r.items()
                     if k.endswith(".self_s") or k == "bench.unattributed_s"}
            print(f"{sp.name}: traced {r['bench.pass_s']:.3f} s = sum of self "
                  f"times {sum(selfs.values()):.3f} s ("
                  + ", ".join(f"{k} {v:.3f}" for k, v in sorted(selfs.items())) + ")")
        tracer.dump(os.path.join(WORK, f"trace-{run_id}.json"), {
            "load_start": load_start, "load_end": load_end, "reports": reports})
        metrics = {k: {"value": float(layer.get(RENAMES.get(k, k), 0.0)), "unit": u}
                   for k, u in layer_units.items()}
    else:
        load, save = _json_store("untraced_pass_s.json")
        seen = load()
        seen[f"{args.workload}:{args.seed}"] = median(times)
        save(seen)
        e2e = {"pass_s": median(times), "setup_s": setup_s}
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    for k, m in metrics.items():
        print(f"{k}: {m['value']} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    return 0


def job_count_report(args, reports: list[dict]) -> int:
    """Record every pass's ``*.jobs`` counts (warm-up passes too) with
    those of earlier traced runs of the same workload and seed in this
    checkout, print each count that varies, and return how many do."""
    load, save = _json_store("job_counts.json")
    history = load()
    key = f"{args.workload}:{args.seed}"
    runs = history.get(key, []) + [
        {k: v for k, v in r.items() if k.endswith(".jobs")} for r in reports]
    history[key] = runs
    save(history)
    names = sorted({k for r in runs for k in r})
    varying = [k for k in names if len({r.get(k, 0) for r in runs}) > 1]
    for k in varying:
        print(f"job count varies over {len(runs)} passes: {k} {[r.get(k, 0) for r in runs]}")
    return len(varying)


def summarize(reports: list[dict], ctx, times, session_s, import_s) -> dict:
    """Per-layer metrics: the median over the timed passes of each
    per-pass value, plus the run-level counters."""
    from stats import median

    out = {k: median([r.get(k, 0.0) for r in reports]) for k in set().union(*reports)}
    out["session.start_s"] = session_s
    out["catalog.import_s"] = import_s
    c = ctx.counters
    n = len(times)
    for k in ("sinks.parquet.bytes_written", "sinks.parquet.files_written"):
        out[k] = c.get(k, 0) / n
    for k in ("operators.similarity.pairs", "workload.table_bytes_per_input_byte"):
        if k in c:
            out[k] = c[k]
    if c.get("streaming.bronze.batches"):
        b = c["streaming.bronze.batches"]
        out["streaming.bronze.rows_read_per_batch"] = c["streaming.bronze.rows_read"] / b
        out["sinks.upsert.bytes_written"] = c["sinks.upsert.bytes_written"] / b
        out["sinks.upsert.partitions_rewritten"] = c["sinks.upsert.partitions_rewritten"] / b
        out["sinks.upsert.write_amp"] = c["sinks.upsert.bytes_written"] / c["sinks.upsert.landed_bytes"]
        out["workload.batch_p50_s"] = median(times)
    load, _ = _json_store("untraced_pass_s.json")
    untraced = load().get(f"{os.path.basename(ctx.work).rsplit('-s', 1)[0]}:{ctx.seed}", 0.0)
    out["workload.untraced_pass_s"] = untraced
    if untraced:
        out["bench.tracing_overhead_s"] = median(times) - untraced
    return out


if __name__ == "__main__":
    sys.exit(main())
