"""Seeded input generators for the three benchmark workloads.

Everything here is pure Python (plus NumPy for embeddings): the same
seed gives byte-identical files, and the program under test only ever
sees the files.  The generators also return the facts the checks need
(planted pairs, due times), which never reach the program.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

CATEGORIES = ["정치", "경제", "사회", "생활문화", "세계", "IT과학"]
SOURCES = [f"언론{i:02d}" for i in range(12)]
JOSA = ["이", "가", "은", "는", "을", "를", "에서", "의", "도", "까지", "에게", "으로"]
# T0 for generated event time; fixed so runs differ only by seed
EPOCH = datetime(2026, 3, 2, 0, 0, tzinfo=timezone.utc)
EPOCH_MS = int(EPOCH.timestamp() * 1000)


def iso_ms(ms: int) -> str:
    """Epoch milliseconds → the ISO-8601 form Spark's JSON reader takes."""
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def _hangul(rng: random.Random, syllables: int) -> str:
    return "".join(
        chr(0xAC00 + rng.randrange(19) * 588 + rng.randrange(21) * 28 + rng.choice((0, 0, 4, 8, 16, 21)))
        for _ in range(syllables)
    )


def vocabulary(n: int = 600) -> list[str]:
    """Fixed Hangul noun vocabulary (seed-independent, so keyword
    cardinality is the same on every run).  Words that the josa chain
    or the validity rule would alter are skipped, so a noun extracted
    from text equals the word that was written."""
    from reference import is_valid_keyword, strip_josa

    rng = random.Random(7)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = _hangul(rng, rng.choice((2, 2, 3, 3, 4)))
        if w in seen or strip_josa(w) != w or not is_valid_keyword(w):
            continue
        seen.add(w)
        words.append(w)
    return words


class Zipf:
    """Zipf(s) sampler over ranks 0..n-1."""

    def __init__(self, n: int, s: float):
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


# --------------------------------------------------------------------------
# CDC article events (stream_alerts)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class StreamMix:
    """Varied input properties of the alert stream."""

    keyword_zipf_s: float = 1.1
    stored_keywords_frac: float = 0.5   # the rest takes the regex noun path
    op_mix: tuple = (("c", 0.60), ("r", 0.05), ("u", 0.25), ("d", 0.10))
    malformed_frac: float = 0.03
    bare_payload_frac: float = 0.20
    other_table_frac: float = 0.02
    short_content_frac: float = 0.03    # dropped by the quality filter
    out_of_order_frac: float = 0.20
    max_lateness_ms: int = 180_000      # well inside the 10-minute watermark
    event_step_ms: int = 300            # event time between consecutive events


class ArticleFeed:
    """Deterministic sequence of Debezium-style article events.

    ``lines(n)`` returns the next n raw source lines
    (``{"key", "value"}`` with the envelope JSON as a string).  The
    sequence depends only on the seed, so the feeder process and the
    checker regenerate the same events independently."""

    def __init__(self, seed: int, mix: StreamMix = StreamMix(), epoch_ms: int = EPOCH_MS):
        self.rng = random.Random(seed * 1_000_003 + 11)
        self.mix = mix
        self.epoch_ms = epoch_ms
        self.vocab = vocabulary()
        self.kw_rank = Zipf(len(self.vocab), mix.keyword_zipf_s)
        self.title_rank = Zipf(len(self.vocab), 1.3)
        self.ops, weights = zip(*mix.op_mix)
        self.op_cum = list(itertools.accumulate(weights))
        self.index = 0
        self.next_id = 1
        self.live: list[dict] = []  # rows that exist in the source DB

    def _words(self, k: int, sampler: Zipf, josa_frac: float) -> list[str]:
        out = []
        for _ in range(k):
            w = self.vocab[sampler(self.rng)]
            if self.rng.random() < josa_frac:
                w += self.rng.choice(JOSA)
            out.append(w)
        return out

    def _article(self, ts_ms: int) -> dict:
        r, m = self.rng, self.mix
        aid = self.next_id
        self.next_id += 1
        title = " ".join(self._words(r.randint(4, 8), self.title_rank, 0.3))
        if r.random() < m.short_content_frac:
            content = "짧은 본문"
        else:
            content = " ".join(self._words(r.randint(40, 90), self.kw_rank, 0.35)) + "."
        keywords = None
        if r.random() < m.stored_keywords_frac:
            kws = {self.vocab[self.kw_rank(r)] for _ in range(r.randint(3, 7))}
            keywords = " , ".join(sorted(kws))
        return {
            "id": aid,
            "title": title,
            "content": content,
            "link": f"https://news.example/{aid}",
            "category": CATEGORIES[r.randrange(len(CATEGORIES))],
            "source": SOURCES[min(int(r.expovariate(0.35)), len(SOURCES) - 1)],
            "keywords": keywords,
            "views_count": r.randrange(1000),
            "created_at": iso_ms(ts_ms),
            "stored_date": datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc).strftime("%Y%m%d"),
            "is_deleted": False,
        }

    def _event(self) -> str:
        r, m = self.rng, self.mix
        i = self.index
        self.index += 1
        ts = self.epoch_ms + i * m.event_step_ms
        if r.random() < m.out_of_order_frac:
            ts -= r.randrange(m.max_lateness_ms)
        op = self.ops[bisect.bisect_left(self.op_cum, r.random() * self.op_cum[-1])]
        if op in ("u", "d") and not self.live:
            op = "c"
        if op in ("c", "r"):
            before, after = None, self._article(ts)
            self.live.append(after)
        elif op == "u":
            j = r.randrange(len(self.live))
            before = self.live[j]
            after = dict(before, views_count=before["views_count"] + 1 + r.randrange(50))
            self.live[j] = after
        else:
            j = r.randrange(len(self.live))
            before, after = self.live[j], None
            self.live[j] = self.live[-1]
            self.live.pop()
        table = "media" if r.random() < m.other_table_frac else "articles"
        payload = {"op": op, "before": before, "after": after,
                   "source": {"table": table, "db": "news"}, "ts_ms": ts}
        env = payload if r.random() < m.bare_payload_frac else {"payload": payload}
        value = json.dumps(env, ensure_ascii=False)
        if r.random() < m.malformed_frac:
            value = value[: r.randrange(5, max(6, len(value) // 2))]
        key = str((after or before)["id"])
        return json.dumps({"key": key, "value": value}, ensure_ascii=False)

    def lines(self, n: int) -> list[str]:
        return [self._event() for _ in range(n)]

    def sentinel(self, ahead_ms: int) -> str:
        """One well-formed insert far ahead in event time: it moves the
        watermark past every real window so append-mode windows close."""
        ts = self.epoch_ms + self.index * self.mix.event_step_ms + ahead_ms
        # fixed text, so the quality filter always keeps it
        art = dict(self._article(ts), title="종료표시", content="종료표시 " * 20, keywords="종료표시")
        self.index += 1
        env = {"payload": {"op": "c", "before": None, "after": art,
                           "source": {"table": "articles", "db": "news"}, "ts_ms": ts}}
        return json.dumps({"key": str(art["id"]), "value": json.dumps(env, ensure_ascii=False)},
                          ensure_ascii=False)


@dataclass(frozen=True)
class StreamPlan:
    """File layout of one stream_alerts run: a backlog present before
    the queries start, then live files written on a fixed schedule."""

    backlog_files: int
    live_files: int
    events_per_file: int
    live_interval_s: float

    @property
    def backlog_events(self) -> int:
        return self.backlog_files * self.events_per_file

    def all_lines(self, seed: int) -> tuple[list[list[str]], list[list[str]], list[str]]:
        """(backlog file contents, live file contents, sentinel line)."""
        feed = ArticleFeed(seed)
        backlog = [feed.lines(self.events_per_file) for _ in range(self.backlog_files)]
        live = [feed.lines(self.events_per_file) for _ in range(self.live_files)]
        sentinels = [feed.sentinel(2 * 3600_000)]
        return backlog, live, sentinels


def warmup_lines(n_files: int, events_per_file: int) -> list[list[str]]:
    """Inputs for warming the stream plan (a fixed seed unrelated to the
    run's).  Event time starts at 0 and spans less than the watermark
    delay, so the watermark never advances and no state-eviction batch
    follows the first one."""
    feed = ArticleFeed(-1, StreamMix(event_step_ms=100), epoch_ms=0)
    return [feed.lines(events_per_file) for _ in range(n_files)]


# --------------------------------------------------------------------------
# Replication log (sync_serve)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class SyncMix:
    initial_rows: int = 6_000
    batch_events: int = 600
    op_mix: tuple = (("c", 0.25), ("u", 0.50), ("d", 0.25))
    hot_keys: int = 1_500
    hot_frac: float = 0.7
    hot_zipf_s: float = 1.1
    bare_payload_frac: float = 0.20
    malformed_frac: float = 0.01


class SyncLog:
    """Source-database model producing the CDC log SyncService replays:
    one snapshot batch (op ``r``) followed by update/delete-heavy
    batches with Zipf hot keys.  Event times strictly increase, so the
    last image per key is unambiguous."""

    def __init__(self, seed: int, mix: SyncMix = SyncMix()):
        self.rng = random.Random(seed * 7_919 + 3)
        self.mix = mix
        self.vocab = vocabulary()
        self.words = Zipf(len(self.vocab), 1.1)
        self.hot = Zipf(mix.hot_keys, mix.hot_zipf_s)
        self.rows: dict[int, dict] = {}
        self.order: list[int] = []  # ids in creation order (hot keys first)
        self.next_id = 1
        self.ts = EPOCH_MS
        self.ops, w = zip(*mix.op_mix)
        self.op_cum = list(itertools.accumulate(w))

    def _text(self, k: int) -> str:
        return " ".join(self.rng.choices(self.vocab, cum_weights=self.words.cum, k=k))

    def _new_row(self) -> dict:
        r = self.rng
        aid = self.next_id
        self.next_id += 1
        day = r.randrange(45)
        created = EPOCH_MS - day * 86_400_000 + r.randrange(86_400_000)
        return {
            "id": aid,
            "title": self._text(r.randint(4, 8)),
            "content": self._text(r.randint(30, 60)),
            "link": f"https://news.example/{aid}",
            "category_id": r.randrange(1, len(CATEGORIES) + 1),
            "category": CATEGORIES[r.randrange(len(CATEGORIES))],
            "source": SOURCES[r.randrange(len(SOURCES))],
            "author": f"기자{r.randrange(300)}",
            "published_at": iso_ms(created - 3_600_000),
            "stored_date": datetime.fromtimestamp(created / 1000, tz=timezone.utc).strftime("%Y%m%d"),
            "views_count": r.randrange(5000),
            "sentiment_score": round(r.uniform(-1, 1), 4),
            "article_text_length": r.randrange(200, 4000),
            "keywords": ",".join(self.vocab[self.words(r)] for _ in range(r.randint(2, 5))),
            "created_at": iso_ms(created),
            "updated_at": iso_ms(created),
            "version": 1,
            "is_deleted": False,
        }

    def _pick_existing(self) -> int:
        r = self.rng
        while True:
            if r.random() < self.mix.hot_frac:
                rank = self.hot(r)
                if rank >= len(self.order):
                    continue
                aid = self.order[rank]
            else:
                aid = self.order[r.randrange(len(self.order))]
            if aid in self.rows:
                return aid

    def _line(self, op: str, before: dict | None, after: dict | None) -> str:
        r, m = self.rng, self.mix
        self.ts += 1 + r.randrange(20)
        payload = {"op": op, "before": before, "after": after,
                   "source": {"table": "articles", "db": "news"}, "ts_ms": self.ts}
        env = payload if r.random() < m.bare_payload_frac else {"payload": payload}
        value = json.dumps(env, ensure_ascii=False)
        # the snapshot is taken intact: the replica starts equal to it
        if op != "r" and r.random() < m.malformed_frac:
            value = value[: len(value) // 3]
        return json.dumps({"key": str((after or before)["id"]), "value": value}, ensure_ascii=False)

    def snapshot(self) -> list[str]:
        out = []
        for _ in range(self.mix.initial_rows):
            row = self._new_row()
            self.rows[row["id"]] = row
            self.order.append(row["id"])
            out.append(self._line("r", None, row))
        self.rng.shuffle(self.order)  # hot keys spread over the table
        return out

    def batch(self) -> list[str]:
        r, m = self.rng, self.mix
        out = []
        for _ in range(m.batch_events):
            op = self.ops[bisect.bisect_left(self.op_cum, r.random() * self.op_cum[-1])]
            if op == "c" or len(self.rows) < 100:
                row = self._new_row()
                self.rows[row["id"]] = row
                self.order.append(row["id"])
                out.append(self._line("c", None, row))
                continue
            aid = self._pick_existing()
            before = self.rows[aid]
            if op == "u":
                after = dict(before, title=self._text(r.randint(4, 8)),
                             views_count=before["views_count"] + 1 + r.randrange(100),
                             updated_at=iso_ms(self.ts), version=before["version"] + 1)
                self.rows[aid] = after
                out.append(self._line("u", before, after))
            else:
                del self.rows[aid]
                out.append(self._line("d", before, None))
        return out


@dataclass
class ServeTables:
    """Aggregate tables the trend/alert endpoints read (seeded in setup)."""

    hourly: dict = field(default_factory=dict)     # columns → lists
    minute: dict = field(default_factory=dict)
    keyword_counts: dict = field(default_factory=dict)
    alert_log: dict = field(default_factory=dict)
    as_of_ms: int = 0


def serve_tables(seed: int) -> ServeTables:
    rng = random.Random(seed * 104_729 + 5)
    vocab = vocabulary()
    z = Zipf(len(vocab), 1.1)
    as_of = EPOCH_MS - EPOCH_MS % 3_600_000
    t = ServeTables(as_of_ms=as_of)
    hours = 168
    keys = vocab[:60]
    hk, hb, hc = [], [], []
    for rank, kw in enumerate(keys):
        base = 200.0 / (rank + 1)
        for h in range(hours):
            c = int(rng.gauss(base, base * 0.3 + 1))
            if c > 0:
                hk.append(kw)
                hb.append(as_of - (hours - 1 - h) * 3_600_000)
                hc.append(c)
    t.hourly = {"keyword": hk, "bucket": hb, "cnt": hc}
    mk, mb, mc = [], [], []
    for kw in vocab[:30]:
        for m in range(720):
            if rng.random() < 0.6:
                mk.append(kw)
                mb.append(as_of - (719 - m) * 60_000)
                mc.append(1 + rng.randrange(20))
    t.minute = {"keyword": mk, "bucket": mb, "cnt": mc}
    counts: dict[str, int] = {}
    for _ in range(60_000):
        w = vocab[z(rng)]
        counts[w] = counts.get(w, 0) + 1
    t.keyword_counts = {"keyword": list(counts), "cnt": list(counts.values())}
    n = 3_000
    t.alert_log = {
        "id": [f"alert_{i}" for i in range(n)],
        "type": [rng.choice(("breaking", "trending")) for _ in range(n)],
        "title": [vocab[z(rng)] for _ in range(n)],
        "timestamp": [as_of - rng.randrange(30 * 86_400_000) for _ in range(n)],
        "severity": [round(rng.random(), 3) for _ in range(n)],
        "category": [rng.choice(CATEGORIES) for _ in range(n)],
    }
    return t


# --------------------------------------------------------------------------
# Corpus and embeddings (corpus_dedup)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class CorpusMix:
    docs: int = 6_000
    dup_clusters: int = 300        # each adds 1-3 near copies of a base doc
    edit_frac: float = 0.03        # token substitutions per near copy
    vectors: int = 3_000
    dim: int = 48
    queries: int = 300             # each query has one planted neighbour
    neighbour_noise: float = 0.05


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    planted_pairs: list[tuple[int, int]]
    vec_ids: list[int]
    vectors: np.ndarray
    query_ids: list[int]
    planted_neighbours: dict[int, int]  # query vec id → planted neighbour id


def corpus(seed: int, mix: CorpusMix = CorpusMix()) -> Corpus:
    rng = random.Random(seed * 15_485_863 + 17)
    words = [f"w{i}" for i in range(8_000)]
    z = Zipf(len(words), 1.0)
    texts = [[words[z(rng)] for _ in range(rng.randint(50, 90))] for _ in range(mix.docs)]
    # a near copy overwrites another document's slot, so the corpus
    # size stays fixed
    clusters: list[list[int]] = []
    slots = list(range(mix.docs))
    rng.shuffle(slots)
    bases, copies = slots[: mix.dup_clusters], slots[mix.dup_clusters:]
    ci = 0
    for b in bases:
        members = [b]
        for _ in range(rng.randint(1, 3)):
            c = copies[ci]
            ci += 1
            toks = list(texts[b])
            for _ in range(max(1, int(len(toks) * mix.edit_frac))):
                toks[rng.randrange(len(toks))] = words[rng.randrange(len(words))]
            texts[c] = toks
            members.append(c)
        clusters.append(members)
    doc_ids = [1000 + i for i in range(mix.docs)]
    planted = sorted(
        (doc_ids[a], doc_ids[b]) if a < b else (doc_ids[b], doc_ids[a])
        for m in clusters for a, b in itertools.combinations(m, 2)
    )
    nrng = np.random.default_rng(seed + 99)
    vecs = nrng.standard_normal((mix.vectors, mix.dim))
    vec_ids = list(range(mix.vectors))
    qslots = nrng.choice(mix.vectors // 2, size=mix.queries, replace=False)
    nslots = mix.vectors // 2 + nrng.choice(mix.vectors // 2, size=mix.queries, replace=False)
    for q, nb in zip(qslots, nslots):
        vecs[nb] = vecs[q] + mix.neighbour_noise * nrng.standard_normal(mix.dim)
    vecs = np.round(vecs, 6)
    return Corpus(
        doc_ids=doc_ids,
        texts=[" ".join(t) for t in texts],
        planted_pairs=planted,
        vec_ids=vec_ids,
        vectors=vecs,
        query_ids=[int(q) for q in qslots],
        planted_neighbours={int(q): int(nb) for q, nb in zip(qslots, nslots)},
    )


def write_lines(path, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
