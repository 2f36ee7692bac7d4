"""Smoke test of the benchmark: every workload runs a handful of operations
on a 500-document corpus (the sf0.001 size) in one shared Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402
from corpus import Corpus  # noqa: E402
from workloads import PATTERN, WORKLOADS  # noqa: E402

SMOKE_DOCS = 500
# interactive runs its whole verb pattern once, batch_eval two passes
MAX_OPS = {"interactive": len(PATTERN), "batch_eval": 2}


def test_seed_changes_inputs_not_shape():
    a, b = Corpus(1, SMOKE_DOCS), Corpus(2, SMOKE_DOCS)
    assert a.free_text_queries(1, 5) != b.free_text_queries(2, 5)
    assert a.golden_set(1, 5) != b.golden_set(2, 5)
    assert a.free_text_queries(1, 5) == Corpus(1, SMOKE_DOCS).free_text_queries(1, 5)
    assert len(a.docs) == len(b.docs) == SMOKE_DOCS


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    host = run.host_settings()
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(host, work)
    spark, session_s = run.start_session(host)
    yield spark, session_s, work
    run.stop_session(spark)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(session, workload, trace):
    spark, session_s, work = session
    names = {}
    for seed in (1, 2):
        args = run.parse_args(
            ["--workload", workload, "--seed", str(seed), "--seconds", "1000",
             "--trace", str(trace)]
        )
        work_dir = os.path.join(work, f"{workload}-{seed}-{trace}")
        out = run.measure(
            spark, args, work_dir, session_s, docs=SMOKE_DOCS,
            max_ops=MAX_OPS[workload],
        )
        contract, report = out["contract"], out["report"]
        assert contract["failed"] == 0 and contract["correct"]
        assert report["failed_share"] == 0
        assert contract["attempted"] == MAX_OPS[workload]
        expected = metrics.PER_LAYER if trace else metrics.END_TO_END
        got = {n: m["unit"] for n, m in contract["metrics"].items()}
        assert got == dict(expected)
        for n, e in report["end_to_end"].items():
            assert e["samples"] >= 1, n
        names[seed] = set(got)
    assert names[1] == names[2]
