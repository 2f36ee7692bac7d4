"""Turn one run's samples (and, in a traced run, its spans and job
statistics) into the end-to-end and per-layer metrics."""

from __future__ import annotations

import statistics

# (name, unit). Every workload reports every one of these.
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "1/s"),
    ("ok_share", "ratio"),
    ("storage_amplification", "ratio"),
    ("cached_mb", "MB"),
]

FACADE_VERBS = (
    "hybrid_search", "keyword_search", "vector_search", "rerank_search", "rag_answer",
)

PER_LAYER = [
    ("client.build_s", "s"),
    *[(f"client.{v}.build_s", "s") for v in FACADE_VERBS],
    ("client.py4j_calls", "count"),
    ("client.embed_cache_hit_share", "ratio"),
    ("spark.session_start_s", "s"),
    ("spark.plan_s", "s"),
    ("spark.exec_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.empty_task_share", "ratio"),
    ("spark.shuffle_bytes_per_op", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.peak_exec_memory_bytes", "bytes"),
    ("spark.python_worker_s", "s"),
    ("spark.gc_s", "s"),
    ("bm25.indexed_probe_share", "ratio"),
    ("bm25.stats_cache_hits", "count"),
    ("bm25.stats_cache_misses", "count"),
    ("bm25.build_index_s", "s"),
    ("knn.build_s", "s"),
    ("hybrid.build_s", "s"),
    ("rerank.build_s", "s"),
    ("evaluation.build_s", "s"),
    ("ann.build_index_s", "s"),
    ("host.cpu_canary_s", "s"),
    ("host.sched_canary_s", "s"),
    ("trace.overhead_share", "ratio"),
]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def end_to_end(w, session_s: float) -> tuple[dict, dict]:
    """The end-to-end values and the sample count behind each."""
    s = w.samples
    per_op = w.items_per_op
    failed = sum(not x.ok for x in s)
    values = {
        "setup_s": session_s + w.setup_s,
        "op_p50_s": _median(x.latency for x in s),
        "items_per_s": per_op * len(s) / sum(x.latency for x in s),
        "ok_share": 1.0 - _share(failed, len(s)),
        "storage_amplification": w.storage_amplification(),
        "cached_mb": w.cached_mb(),
    }
    counts = {
        "setup_s": 1,
        "op_p50_s": len(s),
        "items_per_s": per_op * len(s),
        "ok_share": len(s),
        "storage_amplification": 1,
        "cached_mb": 1,
    }
    return values, counts


def per_layer(w, session_s: float, tracer, canary) -> dict:
    timed = [x for x in w.samples if x.traced]
    untraced = [x for x in w.samples if not x.traced]
    ops = {o["id"]: o for o in tracer.ops}
    stats = {x.op_id: tracer.job_stats(ops[x.op_id]) for x in timed}
    spans_by_op: dict = {}
    for sp in tracer.spans:
        spans_by_op.setdefault(sp["op"], []).append(sp)

    def spans(op_ids, name):
        return [
            sp for o in op_ids for sp in spans_by_op.get(o, []) if sp["name"] == name
        ]

    def dur(sp):
        return sp["end"] - sp["start"]

    ids = [x.op_id for x in timed]
    facade = [x for x in timed if x.verb in FACADE_VERBS]
    out = {
        "client.build_s": _mean(x.build_s for x in facade),
        "client.py4j_calls": _mean(ops[i]["py4j_calls"] for i in ids),
    }
    for v in FACADE_VERBS:
        out[f"client.{v}.build_s"] = _mean(x.build_s for x in timed if x.verb == v)
    dense = [
        i for i in ids
        if spans([i], "client.hybrid_search") or spans([i], "client.vector_search")
    ]
    out["client.embed_cache_hit_share"] = _share(
        sum(not spans([i], "embed.hash_embed_ids") for i in dense), len(dense)
    )
    st = [stats[i] for i in ids]
    tasks = sum(s["tasks"] for s in st)
    out |= {
        "spark.session_start_s": session_s,
        "spark.plan_s": _mean(x.plan_s for x in timed),
        "spark.exec_s": _mean(x.exec_s for x in timed),
        "spark.jobs_per_op": _mean(s["jobs"] for s in st),
        "spark.stages_per_op": _mean(s["stages"] for s in st),
        "spark.tasks_per_op": _mean(s["tasks"] for s in st),
        "spark.empty_task_share": _share(sum(s["empty_tasks"] for s in st), tasks),
        "spark.shuffle_bytes_per_op": _mean(s["shuffle_bytes"] for s in st),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in st)),
        "spark.peak_exec_memory_bytes": float(
            max((s["peak_exec_memory_bytes"] for s in st), default=0)
        ),
        "spark.python_worker_s": _mean(s["python_worker_s"] for s in st),
        "spark.gc_s": _mean(s["gc_s"] for s in st),
    }
    indexed = len(spans(ids, "bm25.search_indexed"))
    in_plan = len(spans(ids, "bm25.search_multifield")) + len(spans(ids, "bm25.search"))
    cached = spans(ids, "bm25.cached_stats")
    builds = {sp["parent"] for sp in spans(ids, "bm25.build_stats")}
    misses = sum(sp["id"] in builds for sp in cached)
    out |= {
        "bm25.indexed_probe_share": _share(indexed, indexed + in_plan),
        "bm25.stats_cache_hits": float(len(cached) - misses),
        "bm25.stats_cache_misses": float(misses),
        "bm25.build_index_s": float(sum(map(dur, spans(["setup"], "bm25.build_index")))),
        "knn.build_s": _mean(map(dur, spans(ids, "knn.search"))),
        "hybrid.build_s": _mean(map(dur, spans(ids, "hybrid.fuse"))),
        "rerank.build_s": _mean(map(dur, spans(ids, "rerank.overlap"))),
        "evaluation.build_s": _mean(map(dur, spans(ids, "evaluation.retrieval_metrics"))),
        "ann.build_index_s": float(sum(map(dur, spans(["setup"], "ann.build_index")))),
        "host.cpu_canary_s": _mean(c[0] for c in canary),
        "host.sched_canary_s": _mean(c[1] for c in canary),
    }
    # the main verb, traced vs untraced calls interleaved in one JVM
    main = w.main_verb
    a = _median(x.latency for x in timed if x.verb == main)
    b = _median(x.latency for x in untraced if x.verb == main)
    out["trace.overhead_share"] = a / b - 1.0 if a and b else 0.0
    return out


def collect(w, session_s: float, window_s: float, tracer, canary) -> dict:
    values, counts = end_to_end(w, session_s)
    failed = sum(not x.ok for x in w.samples)
    by_verb: dict = {}
    for x in w.samples:
        by_verb.setdefault(x.verb, []).append(x.latency)
    report = {
        "end_to_end": {
            n: {"value": values[n], "unit": u, "samples": counts[n]} for n, u in END_TO_END
        },
        "failed_share": _share(failed, len(w.samples)),
        "window_s": window_s,
        "session_start_s": session_s,
        "workload_setup_s": w.setup_s,
        "warmup_s": w.warmup_s,
        "warmup_op_latency_s": [round(x, 4) for x in w.warmup_ops_s],
        "check_s": w.check_s,
        "steal_share": [round(x.steal, 4) for x in w.samples],
        "op_latency_s": [round(x.latency, 4) for x in w.samples],
        "verbs": {
            v: {"calls": len(ls), "p50_s": _median(ls)} for v, ls in sorted(by_verb.items())
        },
    }
    if w.quality:
        report["quality"] = {
            m: {"hit_rate": h, "mrr": r} for m, (h, r) in sorted(w.quality.items())
        }
    if tracer is None:
        chosen = {n: (values[n], u) for n, u in END_TO_END}
    else:
        layers = per_layer(w, session_s, tracer, canary)
        report["canaries"] = [{"cpu_s": c, "sched_s": s} for c, s in canary]
        report["per_layer"] = layers
        chosen = {n: (layers[n], u) for n, u in PER_LAYER}
    contract = {
        "correct": failed == 0,
        "attempted": len(w.samples),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()},
    }
    return {"report": report, "contract": contract}
