"""stream_alerts: the paper's alert topology on the file CDC source.

Phase 1 drains a fixed backlog (throughput).  Phase 2 feeds live files
from a separate process on a fixed schedule below the drain rate
(latency).  Both alert queries run side by side the whole time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime
from pathlib import Path

import gen
import reference
from harness import Outcome, StageCounters, Tracer, fresh_dir, median

EVENTS_PER_FILE = 50
BACKLOG_FILES = 40
LIVE_INTERVAL_S = 0.25         # offered rate: EVENTS_PER_FILE / LIVE_INTERVAL_S events/s
FINISH_TIMEOUT_S = 60


class Ledger:
    """What the two sinks saw, batch by batch (sinks run on callback threads)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def add(self, **rec) -> None:
        with self.lock:
            self.batches.append(rec)

    def of(self, query: str) -> list[dict]:
        with self.lock:
            return sorted((b for b in self.batches if b["query"] == query), key=lambda b: b["batch"])


def _log_offset(ckpt: Path, batch_id: int) -> int:
    """The file source's own log offset at the end of query batch
    `batch_id` (no-data batches do not advance it)."""
    path = ckpt / "offsets" / str(batch_id)
    if batch_id < 0 or not path.exists():
        return -1
    return json.loads(path.read_text().splitlines()[2])["logOffset"]


def batch_files(ckpt: Path, batch_id: int) -> list[str]:
    """Names of the files query batch `batch_id` read, from the file
    source's log (every tenth entry is written as a compacted file)."""
    log = ckpt / "sources" / "0"
    names = []
    for sid in range(_log_offset(ckpt, batch_id - 1) + 1, _log_offset(ckpt, batch_id) + 1):
        for path in (log / str(sid), log / f"{sid}.compact"):
            if path.exists():
                for line in path.read_text().splitlines()[1:]:
                    entry = json.loads(line)
                    if entry.get("batchId", sid) == sid:
                        names.append(entry["path"].rsplit("/", 1)[-1])
                break
    return names


def _due_ms(name: str) -> int | None:
    return int(name.rsplit("-", 1)[1].split(".")[0]) if name.startswith("live-") else None


def start_queries(spark, src: Path, ckpt_root: Path, ledger: Ledger, tracer: Tracer):
    from cdc_pipeline_with_kafka_spark.sources import cdc
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    def sink(query: str, ckpt: Path):
        def run(df, batch_id):
            t0 = time.time()
            with tracer.span("streaming.sink", f"{query}:{batch_id}"):
                rows = [r.asDict() for r in df.collect()]
            ledger.add(query=query, batch=batch_id, start=t0, done=time.time(),
                       files=batch_files(ckpt, batch_id), rows=rows)
        return run

    queries = {}
    trending = pipeline.alert_events(pipeline.trending_query(
        pipeline.keyword_stream(pipeline.article_stream(cdc.read_cdc_files(spark, str(src))))
    ))
    breaking = pipeline.breaking_query(pipeline.article_stream(cdc.read_cdc_files(spark, str(src))))
    for name, df, mode in (("trending", trending, "update"), ("breaking", breaking, "append")):
        ckpt = ckpt_root / name
        queries[name] = (
            df.writeStream.queryName(f"{name}_{ckpt_root.name}")
            .outputMode(mode)
            .foreachBatch(sink(name, ckpt))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
    return queries


def _wait(cond, timeout: float, queries) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        if cond():
            return True
        time.sleep(0.01)
    return False


def _idle(queries) -> bool:
    return not any(q.status["isTriggerActive"] or q.status["isDataAvailable"]
                   for q in queries.values())


def _settled(queries) -> bool:
    """Idle now and still idle a moment later (a batch that Spark chains
    right after another starts within that moment)."""
    return _idle(queries) and (time.sleep(0.2) or _idle(queries))


def _files_seen(ledger: Ledger, query: str) -> set[str]:
    return {f for b in ledger.of(query) for f in b["files"]}


class State:
    def __init__(self, work: Path, seed: int, seconds: float):
        self.work, self.seed = work, seed
        live_files = max(10, int(seconds / LIVE_INTERVAL_S))
        self.plan = gen.StreamPlan(BACKLOG_FILES, live_files, EVENTS_PER_FILE, LIVE_INTERVAL_S)


def setup(spark, work: Path, seed: int, seconds: float) -> State:
    """The backlog files, on disk before the queries start."""
    st = State(fresh_dir(work), seed, seconds)
    backlog, _, _ = st.plan.all_lines(seed)
    st.src = fresh_dir(work / "src")
    base = time.time() - 3600
    for i, lines in enumerate(backlog):
        path = st.src / f"backlog-{i:05d}.json"
        gen.write_lines(path, lines)
        # strictly increasing modification times keep the listing order
        os.utime(path, (base + i * 0.01, base + i * 0.01))
    return st


def warm(spark, st: State) -> None:
    """Run both queries once over an input of their own as large as the
    backlog, so the measured queries run on compiled code."""
    src = fresh_dir(st.work / "warm")
    for i, lines in enumerate(gen.warmup_lines(st.plan.backlog_files, st.plan.events_per_file)):
        gen.write_lines(src / f"warm-{i}.json", lines)
    qs = start_queries(spark, src, fresh_dir(st.work / "warm_ckpt"), Ledger(), Tracer(False))
    try:
        for q in qs.values():
            q.processAllAvailable()
    finally:
        for q in qs.values():
            q.stop()


def _drain(spark, st: State, ledger: Ledger, tracer: Tracer):
    """Start both queries on the backlog; returns (queries, seconds until
    both had emitted every backlog file)."""
    t0 = time.time()
    queries = start_queries(spark, st.src, fresh_dir(st.work / "ckpt"), ledger, tracer)
    backlog = {f"backlog-{i:05d}.json" for i in range(st.plan.backlog_files)}
    if not _wait(lambda: all(backlog <= _files_seen(ledger, q) for q in queries), 120, queries):
        raise RuntimeError("the backlog was not drained within 120 s")
    done = []
    for q in queries:
        seen: set[str] = set()
        for b in ledger.of(q):
            seen.update(b["files"])
            if backlog <= seen:
                done.append(b["done"])
                break
    return queries, max(done) - t0


def measure(spark, st: State, tracer: Tracer) -> Outcome:
    plan, work = st.plan, st.work
    control = fresh_dir(work / "control")
    feeder = subprocess.Popen(
        [sys.executable, str(Path(__file__).with_name("feeder.py")),
         "--dir", str(st.src), "--control", str(control), "--seed", str(st.seed),
         "--backlog-files", str(plan.backlog_files), "--live-files", str(plan.live_files),
         "--events-per-file", str(plan.events_per_file), "--interval", str(plan.live_interval_s)],
    )
    ledger = Ledger()
    counters = StageCounters(spark) if tracer.enabled else None
    if counters:
        counters.mark()
    queries = {}
    try:
        # the feeder generates its events before the drain starts, so the
        # two do not compete for the processor
        if not _wait(lambda: (control / "ready").exists() or feeder.poll() is not None, 60, {}):
            raise RuntimeError("the feeder did not start")
        t_start = time.time()
        queries, drain_s = _drain(spark, st, ledger, tracer)
        (control / "go.tmp").write_text(repr(time.time() + 0.05))
        os.replace(control / "go.tmp", control / "go")
        if feeder.wait(timeout=plan.live_files * plan.live_interval_s + 60) != 0:
            raise RuntimeError(f"feeder exited with {feeder.returncode}")
        total_files = plan.backlog_files + plan.live_files
        _wait(lambda: all(len(_files_seen(ledger, q)) >= total_files for q in queries),
              FINISH_TIMEOUT_S, queries)
        # the sentinel moved the watermark past every real window; append
        # mode emits them in the no-data batch that follows, after which
        # both queries go idle
        _wait(lambda: _settled(queries), FINISH_TIMEOUT_S, queries)
        progress = {q: list(qq.recentProgress) for q, qq in queries.items()}
    finally:
        for q in queries.values():
            q.stop()
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait()
    out = _outcome(st, ledger, progress, drain_s, control)
    if tracer.enabled:
        out.layers["streaming.pipeline.shuffle_bytes"] = (
            counters.totals()["shuffle_bytes"] / max(1, out.layers["streaming.pipeline.batches"]))
        out.layers["trace.accounted_frac"] = _busy_share(progress, t_start, time.time())
    return out


def _busy_share(progress, t0: float, t1: float) -> float:
    """Share of [t0, t1] during which at least one query ran a batch."""
    spans = sorted(
        (_ts(p["timestamp"]), _ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000)
        for ps in progress.values() for p in ps
    )
    covered, cursor = 0.0, t0
    for lo, hi in spans:
        lo, hi = max(lo, cursor), min(hi, t1)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return covered / (t1 - t0)


def count_failures(expected: set[str], seen: dict[str, set[str]], events_per_file: int,
                   want_trending: dict, got_trending: dict,
                   want_breaking: dict, got_breaking: dict) -> tuple[int, list, list]:
    """(events not emitted, wrong trending keys, wrong breaking keys).

    An event counts as not emitted when a query never read the file it
    was written in; a file missed by both queries counts once.  A
    breaking alert is right when its count and source count match and
    its top word is one of the words tied for the maximum."""
    missing = set().union(*(expected - s for s in seen.values()))
    wrong_trending = sorted(
        k for k in set(want_trending) | set(got_trending) if want_trending.get(k) != got_trending.get(k))
    wrong_breaking = sorted(
        k for k in set(want_breaking) | set(got_breaking)
        if k not in want_breaking or k not in got_breaking
        or got_breaking[k][:2] != want_breaking[k][:2] or got_breaking[k][2] not in want_breaking[k][2])
    return len(missing) * events_per_file, wrong_trending, wrong_breaking


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _outcome(st: State, ledger: Ledger, progress, drain_s, control: Path) -> Outcome:
    plan = st.plan
    backlog, live, sentinels = plan.all_lines(st.seed)
    all_lines = [ln for f in backlog + live for ln in f] + sentinels
    want_trending, want_breaking = reference.stream_reference(all_lines)

    got_trending: dict = {}
    got_breaking: dict = {}
    latency, newest, queue_wait, backlog_max = [], [], [], 0
    go = float((control / "go").read_text())  # due time of live file 0
    for q in ("trending", "breaking"):
        starts = {p["batchId"]: _ts(p["timestamp"]) for p in progress[q]}
        seen: set[str] = set()
        for b in ledger.of(q):
            due = [d for d in map(_due_ms, b["files"]) if d is not None]
            if due:
                latency.extend(b["done"] * 1000 - d for d in due)
                newest.append(b["done"] * 1000 - max(due))
                if b["batch"] in starts:
                    begin = starts[b["batch"]] * 1000
                    queue_wait.append(begin - min(due))
                    written = min(plan.live_files, max(0, int((begin / 1000 - go) / plan.live_interval_s) + 1))
                    live_done = sum(1 for f in seen if f.startswith("live-"))
                    backlog_max = max(backlog_max, written - live_done)
            seen.update(b["files"])
            for r in b["rows"]:
                if q == "trending":
                    _, kw, ws = r["key"].rsplit("_", 2)  # trending_<keyword>_<window s>
                    got_trending[(int(ws) * 1000, kw)] = json.loads(r["value"])["mentions"]
                else:
                    ws = int(r["window_start"].timestamp() * 1000)
                    got_breaking[(ws, r["category"])] = (
                        r["max_word_cnt"], r["distinct_sources"], r["top_word"])
    seen = {q: {_stem(f) for f in _files_seen(ledger, q)} for q in ("trending", "breaking")}
    unemitted, wrong_trending, wrong_breaking = count_failures(
        _stems(plan), seen, plan.events_per_file,
        want_trending, got_trending, want_breaking, got_breaking)
    failed = unemitted + len(wrong_trending) + len(wrong_breaking)
    for name, keys, want, got in (("trending", wrong_trending, want_trending, got_trending),
                                  ("breaking", wrong_breaking, want_breaking, got_breaking)):
        for k in keys[:5]:
            print(f"[stream] wrong {name} {k}: got {got.get(k)} want {want.get(k)}", file=sys.stderr)

    late = json.loads((control / "feeder.json").read_text())["late_ms"]
    batches = [p for q in progress for p in progress[q] if p["numInputRows"] > 0]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in batches])

    def state_sum(p, key):
        return sum(op.get(key, 0) for op in p["stateOperators"])

    layers = {
        "streaming.pipeline.batches": len(batches),
        "streaming.pipeline.batch_ms_p50": dur("triggerExecution"),
        "streaming.pipeline.add_batch_ms": dur("addBatch"),
        "streaming.pipeline.planning_ms": dur("queryPlanning"),
        "streaming.pipeline.wal_commit_ms": median(
            [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in batches]),
        "streaming.pipeline.queue_wait_ms": median(queue_wait),
        "streaming.pipeline.rows_per_batch": median([p["numInputRows"] for p in batches]),
        "streaming.pipeline.backlog_files_max": backlog_max,
        "streaming.pipeline.generator_late_ms": max(late),
        "streaming.state.rows_total": max((state_sum(p, "numRowsTotal") for p in batches), default=0),
        "streaming.state.memory_bytes": max(
            (state_sum(p, "memoryUsedBytes") for p in batches), default=0),
        "streaming.state.update_ms": median([state_sum(p, "allUpdatesTimeMs") for p in batches]),
        "streaming.state.commit_ms": median([state_sum(p, "commitTimeMs") for p in batches]),
        "streaming.state.rows_removed": sum(state_sum(p, "numRowsRemoved") for p in batches),
        "streaming.state.dropped_late": sum(state_sum(p, "numRowsDroppedByWatermark") for p in batches),
        "operators.windows.trending_ms": median(
            [p["durationMs"].get("addBatch", 0) for p in progress["trending"] if p["numInputRows"] > 0]),
        "operators.windows.trending_rows_out": sum(len(b["rows"]) for b in ledger.of("trending")),
        "operators.windows.breaking_ms": median(
            [p["durationMs"].get("addBatch", 0) for p in progress["breaking"] if p["numInputRows"] > 0]),
        "operators.alerts.alerts_out": len(got_trending) + len(got_breaking),
    }
    return Outcome(
        attempted=len(all_lines),
        failed=failed,
        throughput_per_s=plan.backlog_events / drain_s,
        latency_ms=latency,
        extra={
            "drain_s": (drain_s, "s"),
            "offered_rate_per_s": (plan.events_per_file / plan.live_interval_s, "events/s"),
            "newest_event_latency_p50_ms": (median(newest), "ms"),
            "trending_windows": (len(want_trending), "count"),
            "breaking_alerts": (len(want_breaking), "count"),
            "wrong_outputs": (len(wrong_trending) + len(wrong_breaking), "count"),
            "unemitted_events": (unemitted, "count"),
        },
        layers=layers,
    )


def _stem(name: str) -> str:
    """File name without the due-time suffix and extension."""
    stem = name.rsplit(".", 1)[0]
    return stem.rsplit("-", 1)[0] if stem.startswith("live-") else stem


def _stems(plan) -> set[str]:
    return ({f"backlog-{i:05d}" for i in range(plan.backlog_files)}
            | {f"live-{i:05d}" for i in range(plan.live_files)})


def probe_layers(spark, st: State, tracer: Tracer) -> dict[str, float]:
    """Per-layer costs the fused stream plan hides: the source and text
    layers materialised one at a time (each over the cached output of
    the one before) in batch mode over the run's event files."""
    from cdc_pipeline_with_kafka_spark.sources import cdc
    from cdc_pipeline_with_kafka_spark.streaming import pipeline
    from pyspark.sql import functions as F

    raw = spark.read.schema("key STRING, value STRING").json(str(st.src))
    events_in = raw.count()
    with tracer.span("sources.cdc.parse"):
        parsed = cdc.parse_envelope(raw.select("value"))
        arts = cdc.quality_filter(cdc.after_image(cdc.for_table(cdc.upsert_ops(parsed), "articles")))
        arts = arts.cache()
        events_out = arts.count()
    with tracer.span("functions.text.extract"):
        kw = pipeline.keyword_stream(arts).cache()
        n_kw = kw.count()
    regex = arts.filter(F.col("keywords").isNull() | (F.col("keywords") == "")).count()
    arts.unpersist()
    kw.unpersist()
    return {
        "sources.cdc.parse_ms": tracer.durations_ms("sources.cdc.parse")[-1],
        "sources.cdc.events_in": events_in,
        "sources.cdc.events_out": events_out,
        "sources.cdc.kept_frac": events_out / max(1, events_in),
        "functions.text.extract_ms": tracer.durations_ms("functions.text.extract")[-1],
        "functions.text.keywords_per_article": n_kw / max(1, events_out),
        "functions.text.regex_path_frac": regex / max(1, events_out),
    }


def single_thread(spark, work: Path, seed: int, seconds: float) -> dict[str, float]:
    """The backlog drain alone, on the session this is given (local[1])."""
    st = setup(spark, work, seed, seconds)
    queries, drain_s = _drain(spark, st, Ledger(), Tracer(False))
    # stopping a query inside its state-eviction batch kills the stream
    # thread noisily; let that batch finish
    _wait(lambda: _settled(queries), FINISH_TIMEOUT_S, queries)
    for q in queries.values():
        q.stop()
    return {"single_thread.stream_drain_per_s": st.plan.backlog_events / drain_s}
