"""corpus_dedup: the LLM-data batch job.

One job: MinHash-LSH candidate pairs → connected components →
survivor table, then IVF top-k search for embedding near duplicates.
A run makes a number of jobs fixed from ``--seconds`` on the same
inputs; each job's time is one latency sample.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference
from harness import Outcome, StageCounters, Tracer, fresh_dir, median

NLIST, NPROBE, TOP_K = 24, 3, 10
RECALL_FLOOR = 0.9      # a job below this recall counts as a wrong answer
JOB_S = 6               # nominal job time: a run makes max(1, seconds / JOB_S) jobs


class State:
    pass


def setup(spark, work: Path, seed: int, seconds: float) -> State:
    """Corpus and embedding files, and the tables loaded from them."""
    st = State()
    st.work, st.seed, st.seconds = fresh_dir(work), seed, seconds
    st.corpus = c = gen.corpus(seed)
    paths = {
        "docs": pa.table({"doc_id": pa.array(c.doc_ids, pa.int64()), "text": c.texts}),
        "vectors": pa.table({"vec_id": pa.array(c.vec_ids, pa.int64()),
                             "embedding": [list(v) for v in c.vectors]}),
        "queries": pa.table({"query_id": pa.array(c.query_ids, pa.int64()),
                             "embedding": [list(c.vectors[q]) for q in c.query_ids]}),
    }
    for name, table in paths.items():
        pq.write_table(table, work / f"{name}.parquet")
    st.docs = spark.read.parquet(str(work / "docs.parquet"))
    st.vectors = spark.read.parquet(str(work / "vectors.parquet"))
    st.queries = spark.read.parquet(str(work / "queries.parquet"))
    st.out = str(work / "survivors")
    return st


def warm(spark, st: State) -> None:
    """Two jobs on the run's inputs: job time still falls steeply after
    the first, so one warm job left the measured one bimodal."""
    for _ in range(2):
        _job(spark, st.docs, st.vectors, st.queries, st.out, Tracer(False))


def _job(spark, docs, vectors, queries, out: str, tracer: Tracer):
    """Returns (candidate pairs, top-k rows, Spark jobs the component step ran)."""
    from cdc_pipeline_with_kafka_spark.operators import dedup, similarity

    sc = spark.sparkContext
    with tracer.span("operators.dedup.minhash_lsh"):
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).localCheckpoint(eager=True)
    group = f"components-{time.perf_counter_ns()}"
    if tracer.enabled:
        sc.setJobGroup(group, "components")
    with tracer.span("operators.dedup.components"):
        # the label-propagation rounds run inside this call; only the
        # final join back to the corpus stays lazy
        survivors = dedup.dedup_survivors(docs, pairs, algorithm="auto")
    comp_jobs = 0
    if tracer.enabled:
        comp_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
    with tracer.span("operators.dedup.survivors"):
        survivors.write.mode("overwrite").parquet(out)
    with tracer.span("operators.similarity.ivf_topk"):
        topk = similarity.ivf_ann_topk(vectors, queries, nlist=NLIST, nprobe=NPROBE, k=TOP_K).collect()
    return pairs, topk, comp_jobs


def _check(st: State, topk) -> tuple[int, float, float, float]:
    """(invariant breaches, dedup recall, text recall, ANN recall@k)."""
    table = pq.read_table(st.out, columns=["doc_id", "cluster_id", "is_canonical"]).to_pydict()
    rows = list(zip(table["doc_id"], table["cluster_id"], table["is_canonical"]))
    bad = reference.survivor_violations(rows) + (len(rows) != len(st.corpus.doc_ids))
    cluster_of = {d: c for d, c, _ in rows}
    text_hits = reference.pair_recall(cluster_of, st.corpus.planted_pairs) * len(st.corpus.planted_pairs)
    found = {(r["query_id"], r["vec_id"]) for r in topk}
    ann_hits = sum((q, nb) in found for q, nb in st.corpus.planted_neighbours.items())
    n_text, n_ann = len(st.corpus.planted_pairs), len(st.corpus.planted_neighbours)
    return bad, (text_hits + ann_hits) / (n_text + n_ann), text_hits / n_text, ann_hits / n_ann


def measure(spark, st: State, tracer: Tracer) -> Outcome:
    counters = StageCounters(spark) if tracer.enabled else None
    job_ms, recalls, stage_stats, comp_jobs = [], [], [], []
    failed = 0
    attempted = max(1, round(st.seconds / JOB_S))
    pairs = None
    t_start = time.perf_counter()
    for n in range(attempted):
        if counters:
            counters.mark()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", f"job{n}"):
                pairs, topk, n_jobs = _job(spark, st.docs, st.vectors, st.queries, st.out, tracer)
        except Exception as exc:  # a failed job is a failed operation
            failed += 1
            print(f"[dedup] job failed: {exc!r}", file=sys.stderr)
            continue
        job_ms.append((time.perf_counter() - t0) * 1000)
        if counters:
            stage_stats.append(counters.totals())
            comp_jobs.append(n_jobs)
        bad, recall, text_recall, ann_recall = _check(st, topk)
        recalls.append((recall, text_recall, ann_recall))
        failed += bool(bad) or recall < RECALL_FLOOR
    wall = time.perf_counter() - t_start
    n_docs = len(st.corpus.doc_ids)
    recall, text_recall, ann_recall = recalls[-1] if recalls else (0.0, 0.0, 0.0)
    layers = {}
    if tracer.enabled and pairs is not None:
        got = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
        layers = {
            "operators.dedup.candidate_pairs": len(got),
            "operators.dedup.pair_precision": len(got & set(st.corpus.planted_pairs)) / max(1, len(got)),
            "operators.dedup.shuffle_bytes": median([s["shuffle_bytes"] for s in stage_stats]),
            "operators.dedup.task_skew": median([s["task_skew"] for s in stage_stats]),
            "operators.similarity.recall_at_k": ann_recall,
            "operators.similarity.candidates_scored": _candidates_scored(st),
        }
        for name in ("minhash_lsh", "components", "survivors"):
            layers[f"operators.dedup.{name}_ms"] = median(tracer.durations_ms(f"operators.dedup.{name}"))
        layers["operators.similarity.ivf_topk_ms"] = median(
            tracer.durations_ms("operators.similarity.ivf_topk"))
        layers["operators.dedup.component_iterations"] = median(comp_jobs)
        layers["trace.accounted_frac"] = tracer.accounted(wall)
    return Outcome(
        attempted=attempted,
        failed=failed,
        throughput_per_s=n_docs * len(job_ms) / (sum(job_ms) / 1000) if job_ms else 0.0,
        latency_ms=job_ms,
        extra={
            "job_s": (median(job_ms) / 1000, "s"),
            "dedup_recall": (recall, "ratio"),
            "text_pair_recall": (text_recall, "ratio"),
            "ann_recall_at_k": (ann_recall, "ratio"),
            "jobs": (len(job_ms), "count"),
        },
        layers=layers,
    )


def _candidates_scored(st: State) -> int:
    """(query, vector) pairs the IVF probe re-ranks: the size of the
    probed cells, using the search's own quantizer (first NLIST ids)."""
    m = st.corpus.vectors / np.linalg.norm(st.corpus.vectors, axis=1, keepdims=True)
    cent = m[:NLIST]
    cell_size = np.bincount(np.argmax(m @ cent.T, axis=1), minlength=NLIST)
    probes = np.argsort(-(m[st.corpus.query_ids] @ cent.T), axis=1)[:, :NPROBE]
    return int(cell_size[probes].sum())


def probe_layers(spark, st: State, tracer: Tracer) -> dict[str, float]:
    return {}


def single_thread(spark, work: Path, seed: int, seconds: float) -> dict[str, float]:
    st = setup(spark, work, seed, seconds)
    t0 = time.perf_counter()
    _job(spark, st.docs, st.vectors, st.queries, st.out, Tracer(False))
    return {"single_thread.dedup_job_s": time.perf_counter() - t0}
