"""The traced run: spans, py4j round trips and Spark job statistics.

Nothing here edits the library. ``Tracer.install`` replaces public
functions of the package with pass-through wrappers in this process only,
so every call into a layer opens a span (name, start, end, parent,
operation id). Spans stay in memory and are written out once, when the run
ends. py4j round trips are counted by wrapping the client's
``send_command`` (the same hook as ``plans/r12/probe_py4j_count.py``).
Each operation runs under its own Spark job group, and its job, stage and
task statistics are read back through ``statusTracker`` and the app status
stores after the timed window, so reading them costs the window nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import sys
import time

PKG = "vectorsearch_applications_spark"

# (module, attribute, span name). Class methods are given as "Class.method".
TRACED = [
    ("client", "SparkSearchClient.create_collection", "client.create_collection"),
    ("client", "SparkSearchClient.build_text_index", "client.build_text_index"),
    ("client", "SparkSearchClient.build_ann_index", "client.build_ann_index"),
    ("client", "SparkSearchClient.keyword_search", "client.keyword_search"),
    ("client", "SparkSearchClient.vector_search", "client.vector_search"),
    ("client", "SparkSearchClient.hybrid_search", "client.hybrid_search"),
    ("client", "SparkSearchClient.rerank_search", "client.rerank_search"),
    ("client", "SparkSearchClient.rag_answer", "client.rag_answer"),
    ("operators.bm25", "bm25_search", "bm25.search"),
    ("operators.bm25", "bm25_search_multifield", "bm25.search_multifield"),
    ("operators.bm25", "bm25_search_indexed", "bm25.search_indexed"),
    ("operators.bm25", "bm25_cached_stats", "bm25.cached_stats"),
    ("operators.bm25", "bm25_build_stats", "bm25.build_stats"),
    ("operators.bm25", "bm25_save_index", "bm25.build_index"),
    ("operators.knn", "knn_search", "knn.search"),
    ("operators.ann", "ivf_save_index", "ann.build_index"),
    ("operators.ann", "ivf_search_indexed", "ann.search_indexed"),
    ("operators.hybrid", "hybrid_search", "hybrid.fuse"),
    ("operators.rerank", "rerank_overlap", "rerank.overlap"),
    ("operators.evaluation", "retrieval_metrics", "evaluation.retrieval_metrics"),
    ("operators.prompts", "assemble_prompts", "prompts.assemble"),
    ("operators.llm", "llm_complete", "llm.complete"),
    ("functions.embed", "hash_embed_ids", "embed.hash_embed_ids"),
    ("sources.collections", "create_collection", "collections.create"),
]

_UNITS_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _timing_total_s(text: str) -> float:
    """Total of a formatted SQL timing metric ('total (...)\\n1.2 s (...)'
    or a bare '12 ms')."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*(ms|s|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _UNITS_S[m.group(2)] if m else 0.0


class Tracer:
    """Collects spans and counters for one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._restore: list = []
        self._t0 = time.perf_counter()

    # -- installation -------------------------------------------------------

    def install(self) -> "Tracer":
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            self._patch(cls, "send_command", self._counting(cls.send_command))
        for mod_name, attr, span in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                self._patch(owner, meth, self._wrap(span, getattr(owner, meth)))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(span, orig)
            # rebind every module-level alias too ('from .x import f')
            for name, m in list(sys.modules.items()):
                if name.startswith(PKG) and m is not None:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._patch(m, k, wrapped)
        return self

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def _patch(self, owner, name: str, new) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _counting(self, send):
        tracer = self

        @functools.wraps(send)
        def counted(conn, *a, **k):
            if tracer._op is not None and tracer._op["counting"]:
                tracer._op["py4j_calls"] += 1
            return send(conn, *a, **k)

        return counted

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if tracer._op is None:  # an untraced operation: pass through
                return fn(*a, **k)
            with tracer.span(name):
                return fn(*a, **k)

        return traced

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["id"] if self._op is not None else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextlib.contextmanager
    def operation(self, op_id: int, verb: str, phase: str):
        """One benchmark operation: its own job group, py4j count and root
        span. ``phase`` is 'setup', 'warmup', 'timed' or 'check'."""
        sc = self.spark.sparkContext
        group = f"perfbench-{op_id}"
        sc.setJobGroup(group, f"{phase}:{verb}")
        self._op = {
            "id": op_id,
            "verb": verb,
            "phase": phase,
            "group": group,
            "py4j_calls": 0,
            "counting": True,
        }
        try:
            with self.span(f"op.{verb}"):
                yield self._op
        finally:
            self._op["counting"] = False
            self.ops.append(self._op)
            self._op = None
            sc.setJobGroup("perfbench-idle", "idle")

    @contextlib.contextmanager
    def paused(self):
        """Py4j calls the tracer makes itself are not counted against the
        operation."""
        op = self._op
        if op is not None:
            op["counting"] = False
        try:
            yield
        finally:
            if op is not None:
                op["counting"] = True

    def force_plan(self, df) -> None:
        with self.paused():
            df._jdf.queryExecution().executedPlan()

    # -- Spark statistics, read after the timed window ------------------------

    def job_stats(self, op: dict) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        jobs = list(tracker.getJobIdsForGroup(op["group"]))
        stages = sorted(
            {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])}
        )
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "empty_tasks": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "peak_exec_memory_bytes": 0,
            "gc_s": 0.0,
            "executor_run_s": 0.0,
        }
        for sid in stages:
            seq = store.stageData(
                sid, True, gw.jvm.java.util.ArrayList(), False, no_quantiles
            )
            if seq.isEmpty():
                continue  # skipped stage (shuffle reuse): never ran
            sd = seq.apply(0)
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["peak_exec_memory_bytes"] = max(
                out["peak_exec_memory_bytes"], sd.peakExecutionMemory()
            )
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            tasks = sd.tasks()
            if tasks.isDefined():
                it = tasks.get().values().iterator()
                while it.hasNext():
                    m = it.next().taskMetrics()
                    if not m.isDefined():
                        continue
                    m = m.get()
                    moved = (
                        m.inputMetrics().recordsRead()
                        + m.shuffleReadMetrics().recordsRead()
                        + m.shuffleWriteMetrics().recordsWritten()
                        + m.outputMetrics().recordsWritten()
                    )
                    out["empty_tasks"] += moved == 0
        out["python_worker_s"] = self._python_worker_s(set(jobs))
        return out

    def _python_worker_s(self, jobs: set[int]) -> float:
        """'time to run Python workers' summed over the SQL executions whose
        jobs belong to the operation (one value per metric accumulator)."""
        if not jobs:
            return 0.0
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        total = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in json.loads(
                "[" + e.jobs().keys().mkString(",") + "]"
            )}
            if not ids & jobs:
                continue
            values = sq.executionMetrics(e.executionId())
            seen = set()
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                acc = m.accumulatorId()
                if m.name() != "time to run Python workers" or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    total += _timing_total_s(v.get())
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
