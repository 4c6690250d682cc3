#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_alerts|sync_serve|corpus_dedup \
        --seed N --seconds S --trace 0|1

Runs one workload against the package on local[<cores>] and prints the
metrics by name and unit; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Exits non-zero without a result line if the package cannot be run.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(1, str(Path(__file__).resolve().parent.parent))

import harness  # noqa: E402
from harness import Outcome, Tracer, median, tail  # noqa: E402

WORKLOADS = ("stream_alerts", "sync_serve", "corpus_dedup")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "items/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

_API = ("get_articles", "search", "stats", "count_by_category", "daily_stats",
        "recent_alerts", "trending", "timeline", "wordcloud")

# Every workload prints every per-layer metric; a layer the workload
# never calls reads 0.
PER_LAYER = {
    "session.start_ms": "ms", "session.warm_ms": "ms",
    "sources.cdc.parse_ms": "ms", "sources.cdc.events_in": "count",
    "sources.cdc.events_out": "count", "sources.cdc.kept_frac": "ratio",
    "functions.text.extract_ms": "ms", "functions.text.keywords_per_article": "ratio",
    "functions.text.regex_path_frac": "ratio",
    "streaming.pipeline.batches": "count", "streaming.pipeline.batch_ms_p50": "ms",
    "streaming.pipeline.add_batch_ms": "ms", "streaming.pipeline.planning_ms": "ms",
    "streaming.pipeline.wal_commit_ms": "ms", "streaming.pipeline.queue_wait_ms": "ms",
    "streaming.pipeline.rows_per_batch": "count", "streaming.pipeline.shuffle_bytes": "bytes",
    "streaming.pipeline.backlog_files_max": "count", "streaming.pipeline.generator_late_ms": "ms",
    "streaming.state.rows_total": "count", "streaming.state.memory_bytes": "bytes",
    "streaming.state.update_ms": "ms", "streaming.state.commit_ms": "ms",
    "streaming.state.rows_removed": "count", "streaming.state.dropped_late": "count",
    "operators.windows.trending_ms": "ms", "operators.windows.trending_rows_out": "count",
    "operators.windows.breaking_ms": "ms", "operators.alerts.alerts_out": "count",
    "streaming.sinks.merge_ms": "ms", "streaming.sinks.latest_image_ms": "ms",
    "streaming.sinks.write_ms": "ms", "streaming.sinks.rows_changed": "count",
    "streaming.sinks.rows_rewritten": "count", "streaming.sinks.rewrite_amplification": "ratio",
    "streaming.sinks.target_rows": "count", "streaming.sinks.bytes_written": "bytes",
    **{f"api.{fn}.{part}_ms": "ms" for fn in _API for part in ("build", "exec")},
    "api.table_read_ms": "ms", "api.jobs_per_request": "ratio",
    "operators.dedup.minhash_lsh_ms": "ms", "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio", "operators.dedup.components_ms": "ms",
    "operators.dedup.component_iterations": "count", "operators.dedup.survivors_ms": "ms",
    "operators.dedup.shuffle_bytes": "bytes", "operators.dedup.task_skew": "ratio",
    "operators.similarity.ivf_topk_ms": "ms", "operators.similarity.candidates_scored": "count",
    "operators.similarity.recall_at_k": "ratio",
    "single_thread.stream_drain_per_s": "items/s", "single_thread.dedup_job_s": "s",
    "trace.overhead_pct": "%", "trace.accounted_frac": "ratio",
}


def _module(workload: str):
    import importlib

    return importlib.import_module({"stream_alerts": "w_stream", "sync_serve": "w_sync",
                                    "corpus_dedup": "w_dedup"}[workload])


def end_to_end(setup_s: list[float], out: Outcome, rss_mb: float) -> dict[str, tuple[float, str]]:
    lat_tail, pct, n = tail(out.latency_ms)
    out.extra["latency_tail_percentile"] = (pct, "%")
    out.extra["latency_samples"] = (n, "count")
    out.extra["failed_frac"] = (out.failed / out.attempted, "ratio")
    return {
        "setup_s": (median(setup_s), "s"),
        "throughput_per_s": (out.throughput_per_s, "items/s"),
        "latency_p50_ms": (median(out.latency_ms), "ms"),
        "latency_tail_ms": (lat_tail, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def run(args, work: Path) -> tuple[Outcome, dict[str, float], dict[str, tuple[float, str]]]:
    mod = _module(args.workload)
    setup_trace = Tracer(True)
    setups, spark, state = [], None, None
    for _ in range(harness.SETUP_REPEATS):
        t0 = time.perf_counter()
        with setup_trace.span("session.start"):
            if spark is not None:
                spark.stop()
            spark = harness.start_session(work, harness.cpus())
        state = mod.setup(spark, work / "run", args.seed, args.seconds)
        setups.append(time.perf_counter() - t0)
    with setup_trace.span("session.warm"):
        mod.warm(spark, state)
    print(f"[setup] {[round(x, 2) for x in setups]} "
          f"warm={setup_trace.durations_ms('session.warm')[0] / 1000:.2f}", file=sys.stderr)
    out = mod.measure(spark, state, Tracer(False))
    rss = harness.peak_rss_mb(spark)
    metrics = end_to_end(setups, out, rss)
    out.extra["warm_s"] = (setup_trace.durations_ms("session.warm")[0] / 1000, "s")
    if not args.trace:
        return out, {k: v for k, (v, _) in metrics.items()}, metrics

    layers = {k: 0.0 for k in PER_LAYER}
    layers["session.start_ms"] = median(setup_trace.durations_ms("session.start"))
    layers["session.warm_ms"] = median(setup_trace.durations_ms("session.warm"))
    tracer = Tracer(True)
    state = mod.setup(spark, work / "run", args.seed, args.seconds)
    t0 = time.perf_counter()
    traced = mod.measure(spark, state, tracer)
    traced_wall = time.perf_counter() - t0
    layers.update(traced.layers)
    layers.update(mod.probe_layers(spark, state, tracer))
    # the overhead compares the traced pass with an untraced pass made
    # after it, so both run on equally warm code
    state = mod.setup(spark, work / "run", args.seed, args.seconds)
    base = mod.measure(spark, state, Tracer(False)).throughput_per_s
    now = traced.throughput_per_s
    layers["trace.overhead_pct"] = 100.0 * (base - now) / base
    out.extra["traced_throughput_per_s"] = (now, "items/s")
    out.extra["untraced_again_throughput_per_s"] = (base, "items/s")
    out.extra["traced_wall_s"] = (traced_wall, "s")
    self_ms = tracer.self_ms()
    for name, ms in sorted(self_ms.items()):
        out.extra[f"self_ms.{name}"] = (ms, "ms")
    tracer.dump(harness.WORK_ROOT / f"trace-{args.workload}-{args.seed}.json")
    spark.stop()
    spark = harness.start_session(work, 1)
    layers.update(mod.single_thread(spark, work / "run1", args.seed, args.seconds))
    return out, layers, metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = harness.WORK_ROOT / f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
    harness.prepare_env(work)
    try:
        out, values, e2e = run(args, work)
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    for name, (value, unit) in {**e2e, **out.extra}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        for name in PER_LAYER:
            print(f"{args.workload} {name} = {values[name]:.6g} {PER_LAYER[name]}")
    print(json.dumps({
        "correct": bool(out.correct),
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
