"""Self-tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from harness import Tracer, tail  # noqa: E402
from w_stream import count_failures  # noqa: E402


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    backlog, live, sentinels = gen.StreamPlan(3, 2, 50, 0.1).all_lines(seed)
    for lines in backlog + live + [sentinels]:
        h.update("\n".join(lines).encode())
    log = gen.SyncLog(seed, gen.SyncMix(initial_rows=300, batch_events=100))
    h.update("\n".join(log.snapshot() + log.batch() + log.batch()).encode())
    h.update(json.dumps(gen.serve_tables(seed).__dict__, sort_keys=True).encode())
    c = gen.corpus(seed, gen.CorpusMix(docs=300, dup_clusters=20, vectors=200, queries=10))
    h.update(json.dumps([c.doc_ids, c.texts, c.planted_pairs, c.query_ids]).encode())
    h.update(c.vectors.tobytes())
    return h.hexdigest()


def test_same_seed_gives_identical_inputs():
    assert _digest(5) == _digest(5)
    assert _digest(5) != _digest(6)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90.0, 100)
    value, pct, n = tail(list(range(1000, 0, -1)))
    assert (value, pct, n) == (990, 99.0, 1000)
    assert sum(x > value for x in range(1, 1001)) == 10
    assert tail(list(range(11))) == (0, 100 * 1 / 11, 11)
    # too few samples for any percentile with ten beyond: the maximum
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_unemitted_event_counts_as_failure():
    expected = {"backlog-00000", "live-00000", "live-00001"}
    want_t = {(0, "가나"): 12}
    want_b = {(0, "경제"): (60, 4, {"가나"})}
    got_b = {(0, "경제"): (60, 4, "가나")}
    all_seen = {"trending": set(expected), "breaking": set(expected)}
    assert count_failures(expected, all_seen, 100, want_t, dict(want_t), want_b, got_b) == (0, [], [])
    one_missed = {"trending": expected - {"live-00000"}, "breaking": set(expected)}
    assert count_failures(expected, one_missed, 100, want_t, dict(want_t), want_b, got_b)[0] == 100
    # a file missed by both queries still counts its events once
    both_missed = {q: expected - {"live-00000"} for q in all_seen}
    assert count_failures(expected, both_missed, 100, want_t, dict(want_t), want_b, got_b)[0] == 100
    # a window that was never emitted is a wrong answer
    assert count_failures(expected, all_seen, 100, want_t, {}, want_b, got_b)[1] == [(0, "가나")]
    assert count_failures(expected, all_seen, 100, want_t, dict(want_t), want_b, {})[2] == [(0, "경제")]


def test_reference_text_rules():
    assert reference.strip_josa("학교까지도") == "학교까지"
    assert reference.strip_josa("사람들밖에") == "사람들밖"
    kws, regex = reference.article_keywords({"keywords": " 경제 , ,정치", "title": "무시"})
    assert (kws, regex) == (["경제", "정치"], False)
    kws, regex = reference.article_keywords({"keywords": None, "title": "경제가", "content": "오늘 정치"})
    assert regex and kws == ["경제", "경제", "경제", "정치"]


def test_replay_soft_deletes_with_before_image():
    def line(op, before, after, ts):
        env = {"payload": {"op": op, "before": before, "after": after,
                           "source": {"table": "articles"}, "ts_ms": ts}}
        return json.dumps({"key": "1", "value": json.dumps(env)})

    row = {"id": 1, "title": "a", "is_deleted": False}
    newer = dict(row, title="b")
    table = reference.replay([[line("c", None, row, 1)],
                              [line("u", row, newer, 2), line("d", newer, None, 3)]])
    assert table[1]["title"] == "b" and table[1]["is_deleted"] is True


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("op", "r1"):
        with t.span("child"):
            pass
    spans = {s.name: s for s in t.spans}
    assert spans["child"].parent == 0 and spans["child"].op_id == "r1"
    self_ms = t.self_ms()
    total_ms = (spans["op"].end - spans["op"].start) * 1000
    child_ms = (spans["child"].end - spans["child"].start) * 1000
    assert self_ms["op"] == pytest.approx(total_ms - child_ms)


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
