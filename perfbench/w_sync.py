"""sync_serve: SyncService replication with REST reads beside it.

One closed-loop client makes a number of steps fixed from ``--seconds``:
apply the next CDC micro-batch with ``streaming.sinks.merge_upsert``,
then issue a fixed mix of ``api.*`` reads against the freshly merged
table.
"""

from __future__ import annotations

import random
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference
from harness import Outcome, StageCounters, Tracer, fresh_dir, median

STEP_S = 4               # nominal time of one step: a run makes max(2, seconds / STEP_S)
RAW = "key STRING, value STRING"


class State:
    pass


def _utc(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _write_tables(work: Path, t: gen.ServeTables) -> dict[str, str]:
    ts = pa.timestamp("ms")
    specs = {
        "hourly_counts": (t.hourly, {"bucket": ts}),
        "minute_counts": (t.minute, {"bucket": ts}),
        "keyword_counts": (t.keyword_counts, {}),
        "alert_log": (t.alert_log, {"timestamp": ts}),
    }
    paths = {}
    for name, (cols, types) in specs.items():
        table = pa.table({c: pa.array(v, types.get(c)) for c, v in cols.items()})
        paths[name] = str(work / f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def _read_batch(spark, path: str):
    from cdc_pipeline_with_kafka_spark.sources import cdc

    return cdc.parse_envelope(spark.read.schema(RAW).json(path))


def setup(spark, work: Path, seed: int, seconds: float) -> State:
    """CDC log files, aggregate tables, and the target table as the
    snapshot left it (written directly, as a restored replica would be)."""
    st = State()
    st.work, st.seed, st.seconds = fresh_dir(work), seed, seconds
    log = gen.SyncLog(seed)
    st.snapshot = str(work / "snapshot.json")
    gen.write_lines(st.snapshot, log.snapshot())
    st.target = str(work / "articles")
    fresh_dir(Path(st.target))
    pq.write_table(_articles_table(log.rows.values()), f"{st.target}/part-00000.parquet")
    st.steps = max(2, round(seconds / STEP_S))
    st.batches = []
    for i in range(st.steps + 1):
        path = str(work / f"batch-{i:03d}.json")
        gen.write_lines(path, log.batch())
        st.batches.append(path)
    st.serve = gen.serve_tables(seed)
    st.table_paths = _write_tables(work, st.serve)
    st.tables = {k: spark.read.parquet(v) for k, v in st.table_paths.items()}
    st.vocab = gen.vocabulary()
    return st


def _articles_table(rows) -> pa.Table:
    """Rows in the replica's schema (schemas.ARTICLES_SCHEMA)."""
    rows = list(rows)
    types = {"id": pa.int64(), "category_id": pa.int32(), "views_count": pa.int32(),
             "sentiment_score": pa.float64(), "article_text_length": pa.int32(),
             "version": pa.int32(), "is_deleted": pa.bool_()}
    cols = {}
    for f in reference.ARTICLE_FIELDS:
        values = [r.get(f) for r in rows]
        if f in reference.TIME_FIELDS:
            cols[f] = pa.array([reference.iso_to_ms(v) for v in values], pa.int64()).cast(
                pa.timestamp("ms", tz="UTC"))
        else:
            cols[f] = pa.array(values, types.get(f, pa.string()))
    return pa.table(cols)


def warm(spark, st: State) -> None:
    """Merge batch 0 (it belongs to the log, so the checks replay it)
    and two passes of every endpoint."""
    from cdc_pipeline_with_kafka_spark.streaming import sinks

    sinks.merge_upsert(spark, _read_batch(spark, st.batches[0]), st.target)
    articles = spark.read.parquet(st.target)
    for rnd in range(2):
        for _, build in _requests(st, random.Random(rnd))[1]:
            build(articles).collect()


def _requests(st: State, rng: random.Random) -> tuple[dict, list]:
    """The fixed request mix of one step: (its parameters, [(endpoint, builder)])."""
    from cdc_pipeline_with_kafka_spark import api

    t = st.tables
    v = st.vocab
    as_of = st.serve.as_of_ms
    kw = v[min(int(rng.expovariate(0.3)), 40)]
    start = gen.EPOCH_MS - rng.randrange(20, 40) * 86_400_000
    q = {
        "category": rng.choice(gen.CATEGORIES),
        "page": rng.randrange(5, 40),
        "search": kw,
        "start_ts": _utc(start),
        "end_ts": _utc(start + 10 * 86_400_000),
        "tl_keyword": v[rng.randrange(30)],
        "tl_start": _utc(as_of - 240 * 60_000),
        "tl_end": _utc(as_of - 60 * 60_000),
    }
    return q, [
        ("get_articles", lambda a: api.get_articles(
            a, category=q["category"], page=q["page"], size=20, with_total=True)),
        ("get_articles", lambda a: api.get_articles(
            a, keyword=q["search"], start_ts=q["start_ts"], end_ts=q["end_ts"], with_total=True)),
        ("search", lambda a: api.search(a, q["search"])),
        ("stats", lambda a: api.stats(a)),
        ("count_by_category", lambda a: api.count_by_category(a)),
        ("daily_stats", lambda a: api.daily_stats(a)),
        ("recent_alerts", lambda a: api.recent_alerts(t["alert_log"])),
        ("trending", lambda a: api.trending(t["hourly_counts"], _utc(as_of))),
        ("timeline", lambda a: api.timeline(
            t["minute_counts"], q["tl_keyword"], q["tl_start"], q["tl_end"])),
        ("wordcloud", lambda a: api.wordcloud(t["keyword_counts"])),
    ]


_CHECKED = ("get_articles_category", "get_articles_keyword", "search", "stats",
            "count_by_category", "daily_stats", "recent_alerts", "timeline", "wordcloud")


def _shape(i: int, name: str, rows: list) -> tuple[str, object]:
    """The program's answer reduced to what the DuckDB check compares."""
    if name == "get_articles":
        key = "get_articles_category" if i == 0 else "get_articles_keyword"
        total = rows[0]["total_count"] if rows else None
        return key, [total, [r["id"] for r in rows]]
    if name == "search":
        return name, [r["id"] for r in rows]
    if name == "count_by_category":
        return name, sorted((r["category"], r["cnt"]) for r in rows)
    if name == "stats":
        return name, [tuple(rows[0])] if rows else []
    if name == "daily_stats":
        return name, [(r["stored_date"], r["cnt"]) for r in rows]
    if name == "recent_alerts":
        return name, [r["timestamp"] for r in rows]
    if name == "timeline":
        return name, [(r["bucket"], r["cnt"]) for r in rows]
    if name == "wordcloud":
        return name, sorted((tuple(r) for r in rows), key=lambda r: (-r[1], r[0]))
    return name, None


def measure(spark, st: State, tracer: Tracer) -> Outcome:
    from cdc_pipeline_with_kafka_spark.streaming import sinks

    sc = spark.sparkContext
    counters = StageCounters(spark) if tracer.enabled else None
    rng = random.Random(st.seed)
    latency, lags, per_merge, jobs = [], [], [], []
    merges = failed = attempted = 0
    answers: dict[str, object] = {}
    t_start = time.perf_counter()
    for i in range(1, len(st.batches)):  # batch 0 was merged by the warm-up
        with tracer.span("op", f"step{i}"):
            if counters:
                counters.mark()
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("streaming.sinks.merge"):
                    sinks.merge_upsert(spark, _read_batch(spark, st.batches[i]), st.target)
                merges += 1
            except Exception as exc:  # a failed merge is a failed operation
                failed += 1
                print(f"[sync] merge {i} failed: {exc!r}", file=sys.stderr)
            lags.append((time.perf_counter() - t0) * 1000)
            if counters:
                per_merge.append(counters.totals())
            with tracer.span("api.table_read"):
                articles = spark.read.parquet(st.target)
            last_query, requests = _requests(st, rng)
            answers = {}
            for k, (name, build) in enumerate(requests):
                attempted += 1
                group = f"req-{i}-{k}"
                if tracer.enabled:
                    sc.setJobGroup(group, name)
                t1 = time.perf_counter()
                try:
                    with tracer.span(f"api.{name}.build"):
                        df = build(articles)
                    with tracer.span(f"api.{name}.exec"):
                        rows = df.collect()
                    latency.append((time.perf_counter() - t1) * 1000)
                    key, shaped = _shape(k, name, rows)
                    answers[key] = shaped
                except Exception as exc:
                    failed += 1
                    print(f"[sync] request {name} failed: {exc!r}", file=sys.stderr)
                if tracer.enabled:
                    jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    if tracer.enabled:
        sc.setJobGroup("", "")
    wall = time.perf_counter() - t_start

    # replication check: final table against a plain-Python replay
    want = reference.replay([_lines(st.snapshot)] + [_lines(p) for p in st.batches])
    got = reference.parquet_rows(st.target)
    bad_rows = sum(got.get(k) != v for k, v in want.items()) + sum(k not in want for k in got)
    # API check: the last step's answers against DuckDB, same snapshot
    ref = reference.api_answers(st.target, st.table_paths, last_query)
    wrong = [k for k in _CHECKED if answers.get(k) != ref[k]]
    for k in wrong:
        print(f"[sync] wrong answer {k}: got {str(answers.get(k))[:300]} want {str(ref[k])[:300]}",
              file=sys.stderr)
    failed += len(wrong) + (merges if bad_rows else 0)

    events = sum(len(_lines(p)) for p in st.batches[1:])
    changed = [len(_keys(p)) for p in st.batches[1:]]
    rewritten = [m["output_records"] for m in per_merge]
    layers = {
        "streaming.sinks.merge_ms": median(lags),
        "streaming.sinks.rows_changed": median(changed),
        "streaming.sinks.rows_rewritten": median(rewritten),
        "streaming.sinks.rewrite_amplification": median(rewritten) / max(1.0, median(changed)),
        "streaming.sinks.target_rows": len(got),
        "streaming.sinks.bytes_written": median([m["output_bytes"] for m in per_merge]),
        "api.table_read_ms": median(tracer.durations_ms("api.table_read")),
        "api.jobs_per_request": sum(jobs) / max(1, len(jobs)),
        "trace.accounted_frac": tracer.accounted(wall) if tracer.enabled else 0.0,
    }
    for name in {n for n, _ in _requests(st, random.Random(0))[1]}:
        for part in ("build", "exec"):
            layers[f"api.{name}.{part}_ms"] = median(tracer.durations_ms(f"api.{name}.{part}"))
    return Outcome(
        attempted=attempted,
        failed=failed,
        throughput_per_s=events / wall,
        latency_ms=latency,
        extra={
            "lag_p50_ms": (median(lags), "ms"),
            "batches_applied": (len(st.batches) - 1, "count"),
            "target_rows": (len(got), "count"),
            "wrong_rows": (bad_rows, "count"),
            "wrong_answers": (len(wrong), "count"),
        },
        layers=layers,
    )


def _lines(path: str) -> list[str]:
    with open(path, encoding="utf-8") as fh:
        return fh.read().splitlines()


def _keys(path: str) -> set:
    """Distinct keys a batch file changes."""
    keys = set()
    for line in _lines(path):
        parsed = reference.parse_line(line)
        if parsed is not None:
            _op, before, after, _table, _ts = parsed
            keys.add((after or before or {}).get("id"))
    return keys - {None}


def probe_layers(spark, st: State, tracer: Tracer) -> dict[str, float]:
    """Costs merge_upsert does not expose: parsing a batch, collapsing
    it to the last image per key, and one rewrite of the whole target
    (the merge writes the table twice per batch)."""
    from cdc_pipeline_with_kafka_spark.streaming import sinks

    events_in = events_out = 0
    for path in st.batches[1:]:
        with tracer.span("sources.cdc.parse"):
            events_out += _read_batch(spark, path).count()
        events_in += len(_lines(path))
        with tracer.span("streaming.sinks.latest_image"):
            sinks.latest_image_per_key(_read_batch(spark, path)).count()
    for _ in range(2):
        with tracer.span("streaming.sinks.write"):
            spark.read.parquet(st.target).write.mode("overwrite").parquet(str(st.work / "rewrite"))
    return {
        "sources.cdc.parse_ms": median(tracer.durations_ms("sources.cdc.parse")),
        "sources.cdc.events_in": events_in,
        "sources.cdc.events_out": events_out,
        "sources.cdc.kept_frac": events_out / max(1, events_in),
        "streaming.sinks.latest_image_ms": median(tracer.durations_ms("streaming.sinks.latest_image")),
        "streaming.sinks.write_ms": median(tracer.durations_ms("streaming.sinks.write")),
    }


def single_thread(spark, work: Path, seed: int, seconds: float) -> dict[str, float]:
    return {}
