"""Independent reference answers for the output checks.

Nothing here imports the package under test.  Text rules are written
again from their documented semantics in plain Python, and the
aggregations run in DuckDB over the same generated inputs.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from datetime import datetime

import duckdb
import pyarrow as pa

# documented rules of functions.text (josa chain, validity, stopwords)
_JOSA = [
    re.compile(r"(을|를|이|가|은|는|에|에서|에게|한테|께|으로|로|와|과|랑|이랑)$"),
    re.compile(r"(의|도|만|까지|부터|마저|조차|밖에|뿐|라도|라서)$"),
    re.compile(r"(에서|에게|한테서|로부터|으로부터)$"),
    re.compile(r"(다가|면서|지만|거나|든지)$"),
]
_STOPWORDS = set(
    "그리고 하지만 그러나 따라서 그래서 또한 이를 통해 위해 대해 관련 이번 지난 오늘 내일 어제 "
    "올해 작년 내년 현재 최근 이후 이전 당시 동안 통한 대한 위한 있는 없는 같은 다른 새로운 기자 "
    "뉴스 기사 사진 영상 제공 무단 전재 재배포 금지 저작권 연합뉴스".split()
)
_NOUN = re.compile(r"([가-힣]{2,8})")
_VERB_END = re.compile(r"(하다|되다|있다|없다)$")
_DIGITS = re.compile(r"^\d+$")

TRENDING_WINDOW_MS = 30 * 60_000
TRENDING_MIN = 10
BREAKING_WINDOW_MS = 5 * 60_000
BREAKING_MIN_WORDS = 50
BREAKING_MIN_SOURCES = 3


def strip_josa(word: str) -> str:
    for pat in _JOSA:
        word = pat.sub("", word)
    return word.strip(" ")


def is_valid_keyword(word: str) -> bool:
    return (
        2 <= len(word) <= 8
        and not _DIGITS.search(word)
        and word not in _STOPWORDS
        and not _VERB_END.search(word)
    )


def article_keywords(art: dict) -> tuple[list[str], bool]:
    """(keyword occurrences, took the regex path)."""
    stored = art.get("keywords")
    if stored:
        return [p.strip(" ") for p in stored.split(",") if p.strip(" ")], False
    title = art.get("title") or ""
    text = " ".join([title, title, title, (art.get("content") or "")[:1000]])
    nouns = (strip_josa(n) for n in _NOUN.findall(text))
    return [n for n in nouns if len(n) >= 2 and is_valid_keyword(n)], True


def parse_line(line: str) -> tuple[str, dict | None, dict | None, str | None, int | None] | None:
    """Debezium envelope → (op, before, after, table, ts_ms); None when
    the value is not a JSON object or carries no op."""
    try:
        env = json.loads(json.loads(line)["value"])
    except (ValueError, TypeError, KeyError):
        return None
    if not isinstance(env, dict):
        return None
    payload = env.get("payload") or {}

    def pick(name):
        v = payload.get(name)
        return v if v is not None else env.get(name)

    op = pick("op")
    if op is None:
        return None
    source = pick("source") or {}
    return op, pick("before"), pick("after"), source.get("table"), pick("ts_ms")


def kept_articles(lines: list[str]) -> list[tuple[dict, int]]:
    """The article_stream filter chain: upserts of `articles` with an id,
    non-empty title and content of at least 50 characters."""
    out = []
    for line in lines:
        p = parse_line(line)
        if p is None:
            continue
        op, _before, after, table, ts = p
        if op not in ("c", "r", "u") or table != "articles" or not after:
            continue
        if after.get("id") is None or not after.get("title"):
            continue
        if after.get("content") is None or len(after["content"]) < 50:
            continue
        out.append((after, ts))
    return out


def stream_reference(lines: list[str]):
    """Final trending counts {(window_start_ms, keyword): cnt} and
    breaking alerts {(window_start_ms, category): (max_cnt, n_sources,
    top_words)} over every generated event."""
    arts = kept_articles(lines)
    con = duckdb.connect()
    kw_rows, word_rows = [], []
    for art, ts in arts:
        kws, _ = article_keywords(art)
        kw_rows.extend((ts, k) for k in kws)
        for w in re.split(r"\s+", art["title"].lower()):
            if w:
                word_rows.append((ts, art["category"], art["source"], art["id"], w))
    con.register("kw", pa.table({
        "ts": pa.array([r[0] for r in kw_rows], pa.int64()),
        "keyword": pa.array([r[1] for r in kw_rows], pa.string()),
    }))
    trending = {
        (ws, k): c
        for ws, k, c in con.execute(
            f"SELECT (ts // {TRENDING_WINDOW_MS}) * {TRENDING_WINDOW_MS}, keyword, count(*) "
            f"FROM kw GROUP BY ALL HAVING count(*) >= {TRENDING_MIN}"
        ).fetchall()
    }
    cols = ("ts", "category", "source", "id", "word")
    types = (pa.int64(), pa.string(), pa.string(), pa.int64(), pa.string())
    con.register("tw", pa.table(
        {c: pa.array([r[i] for r in word_rows], t) for i, (c, t) in enumerate(zip(cols, types))}
    ))
    rows = con.execute(
        f"""
        WITH t AS (SELECT (ts // {BREAKING_WINDOW_MS}) * {BREAKING_WINDOW_MS} AS ws, * FROM tw),
        words AS (SELECT ws, category, word, count(*) AS c FROM t GROUP BY ALL),
        best AS (SELECT ws, category, max(c) AS mx FROM words GROUP BY ALL),
        srcs AS (SELECT ws, category, count(DISTINCT source) AS ns FROM t GROUP BY ALL)
        SELECT b.ws, b.category, b.mx, s.ns, list(w.word ORDER BY w.word)
        FROM best b JOIN srcs s USING (ws, category)
        JOIN words w ON w.ws = b.ws AND w.category = b.category AND w.c = b.mx
        WHERE b.mx >= {BREAKING_MIN_WORDS} AND s.ns >= {BREAKING_MIN_SOURCES}
        GROUP BY ALL
        """
    ).fetchall()
    breaking = {(ws, cat): (mx, ns, set(tops)) for ws, cat, mx, ns, tops in rows}
    con.close()
    return trending, breaking


# --------------------------------------------------------------------------
# replication (sync_serve)
# --------------------------------------------------------------------------

ARTICLE_FIELDS = [
    "id", "title", "content", "link", "category_id", "category", "source", "author",
    "published_at", "stored_date", "views_count", "sentiment_score",
    "article_text_length", "keywords", "created_at", "updated_at", "version", "is_deleted",
]
TIME_FIELDS = ("published_at", "created_at", "updated_at")
_OP_RANK = {"d": 3, "u": 2}


def iso_to_ms(v: str | None) -> int | None:
    if v is None:
        return None
    return int(datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp() * 1000)


def _image(img: dict) -> dict:
    row = {f: img.get(f) for f in ARTICLE_FIELDS}
    for f in TIME_FIELDS:
        row[f] = iso_to_ms(row[f])
    return row


def replay(batches: list[list[str]]) -> dict[int, dict]:
    """SyncService semantics on plain dicts: per batch keep the last
    image per key (event time, then d > u > c/r), upsert after-images,
    soft-delete with the before-image (or the prior row)."""
    table: dict[int, dict] = {}
    for lines in batches:
        latest: dict[int, tuple] = {}
        for line in lines:
            p = parse_line(line)
            if p is None:
                continue
            op, before, after, _table, ts = p
            key = (after or {}).get("id")
            if key is None:
                key = (before or {}).get("id")
            if key is None:
                continue
            rank = (ts, _OP_RANK.get(op, 1))
            if key not in latest or rank > latest[key][0]:
                latest[key] = (rank, op, before, after)
        for key, (_, op, before, after) in latest.items():
            if op in ("c", "r", "u"):
                if after is not None and after.get("id") is not None:
                    table[key] = _image(after)
            elif op == "d":
                if before is not None and before.get("id") is not None:
                    table[key] = dict(_image(before), is_deleted=True)
                elif key in table:
                    table[key] = dict(table[key], is_deleted=True)
    return table


def parquet_rows(path: str) -> dict[int, dict]:
    """Rows of a parquet directory keyed by id, timestamps as epoch ms."""
    con = duckdb.connect()
    cols = ", ".join(
        f"epoch_ms({f}::TIMESTAMP) AS {f}" if f in TIME_FIELDS else f for f in ARTICLE_FIELDS
    )
    rows = con.execute(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()
    con.close()
    return {r[0]: dict(zip(ARTICLE_FIELDS, r)) for r in rows}


def api_answers(target: str, tables: dict[str, str], q: dict) -> dict[str, list]:
    """DuckDB answers for the checked API requests, in the same shape
    the benchmark reduces the program's answers to."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW a AS SELECT * FROM read_parquet('{target}/*.parquet')")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    live = "NOT coalesce(is_deleted, false)"
    kw = q["search"].lower()
    like = f"(contains(lower(title), '{kw}') OR contains(lower(content), '{kw}'))"
    out = {
        "count_by_category": sorted(con.execute(
            f"SELECT category, count(*) FROM a WHERE {live} GROUP BY 1").fetchall()),
        "stats": [tuple(con.execute(
            f"SELECT count(*), count(DISTINCT category), count(DISTINCT stored_date), "
            f"max(created_at) FROM a WHERE {live}").fetchone())],
        "daily_stats": con.execute(
            "SELECT stored_date, count(*) FROM a GROUP BY 1 ORDER BY 1 DESC LIMIT 30").fetchall(),
        "search": [r[0] for r in con.execute(
            f"SELECT id FROM a WHERE {live} AND {like} "
            "ORDER BY created_at DESC, id LIMIT 20").fetchall()],
        "get_articles_category": _page(con, f"{live} AND category = '{q['category']}'", q["page"]),
        "get_articles_keyword": _page(
            con,
            f"{live} AND {like} AND created_at >= TIMESTAMP '{q['start_ts']}' "
            f"AND created_at <= TIMESTAMP '{q['end_ts']}'",
            0,
        ),
        "recent_alerts": [r[0] for r in con.execute(
            "SELECT timestamp FROM alert_log ORDER BY timestamp DESC LIMIT 100").fetchall()],
        "wordcloud": [tuple(r) for r in con.execute(
            "SELECT keyword, cnt, sum(cnt) OVER (), count(*) OVER () FROM keyword_counts "
            "QUALIFY row_number() OVER (ORDER BY cnt DESC, keyword) <= 50 "
            "ORDER BY cnt DESC, keyword").fetchall()],
        "timeline": [tuple(r) for r in con.execute(
            f"""SELECT g.b, coalesce(m.cnt, 0) FROM
                (SELECT unnest(generate_series(TIMESTAMP '{q['tl_start']}',
                 TIMESTAMP '{q['tl_end']}', INTERVAL 1 MINUTE)) AS b) g
                LEFT JOIN minute_counts m ON m.bucket = g.b AND m.keyword = '{q['tl_keyword']}'
                ORDER BY g.b""").fetchall()],
    }
    con.close()
    return out


def _page(con, where: str, page: int) -> list:
    """[total, ids] of one page; the total rides on the page's rows, so
    an empty page carries none."""
    total = con.execute(f"SELECT count(*) FROM a WHERE {where}").fetchone()[0]
    ids = [r[0] for r in con.execute(
        f"SELECT id FROM a WHERE {where} ORDER BY created_at DESC, id "
        f"LIMIT 20 OFFSET {page * 20}").fetchall()]
    return [total if ids else None, ids]


# --------------------------------------------------------------------------
# corpus dedup
# --------------------------------------------------------------------------

def pair_recall(cluster_of: dict[int, int], planted: list[tuple[int, int]]) -> float:
    """Share of planted pairs whose two documents share a cluster."""
    hit = sum(cluster_of.get(a, a) == cluster_of.get(b, b) for a, b in planted)
    return hit / len(planted)


def survivor_violations(rows: list[tuple[int, int, bool]]) -> int:
    """Invariant breaches in a survivor table (doc_id, cluster_id,
    is_canonical): each doc once, each cluster exactly one canonical
    member, and the canonical member's id is the cluster id."""
    bad = 0
    seen: set[int] = set()
    canon: dict[int, int] = defaultdict(int)
    members: dict[int, list[int]] = defaultdict(list)
    for doc, cluster, is_canon in rows:
        bad += doc in seen
        seen.add(doc)
        members[cluster].append(doc)
        if is_canon:
            canon[cluster] += 1
            bad += doc != cluster
    for cluster, docs in members.items():
        bad += canon[cluster] != 1 or min(docs) != cluster
    return bad

