"""Fleet-wide physical-plan audit over EVERY registered query.

Each registered query is built once, at sf0.001; the audit reads its
physical plan and never collects its result. The plan must keep four
invariants:

1. No CartesianProduct anywhere — an unbounded cross join of two big
   relations is never the right plan; every intentional cross join in
   this engine broadcasts a bounded side (1-row corpus stats, the canned
   query set, a codebook collapsed to one array row) and therefore
   compiles to BroadcastNestedLoopJoin instead.

2. BroadcastNestedLoopJoin appears ONLY in the queries designed around a
   bounded-broadcast cross join (allowlisted below). A new query showing
   up here means someone cross-joined without bounding a side — the
   audit fails with the diff instead of the cluster failing with an OOM.

3. Only scalar output columns (see the test's docstring).

4. Its plan shape equals its row in ``tests/plan_shapes.tsv``. The shape
   is the operator names of the physical plan and nothing else, so an
   unintended plan change (a lost broadcast, a new shuffle, a Python
   worker where there was none) fails here; expression-level identity is
   the oracle parity suite's job. After an intended plan change,
   regenerate the file and commit it:

       python -m tests.test_plan_audit
"""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pytest

import __spark_entry__ as entry

from .conftest import SF_SMOKE, make_spark

QUERIES = entry.queries()
GOLDEN = Path(__file__).with_name("plan_shapes.tsv")
COLUMNS = ("query", "shape", "nodes", "exchange", "bhj", "smj", "bnlj",
           "python", "scans")

# Queries whose DESIGNED plan contains a bounded-broadcast cross join:
# 1-row aggregates (corpus stats, token budgets), the canned query set,
# codebook/centroid arrays, or a threshold scalar.
BOUNDED_BNLJ = {
    "ann_ivf_append",  # same ≤8-row centroid-array broadcast as ann_ivf_exhaustive
    "ann_ivf_exhaustive",
    "ann_ivf_kmeans_exhaustive",
    "ann_ivfpq_search",
    "ann_pq_adc",
    "ann_pq_index_append",  # same bounded codebook-array broadcast as ann_pq_adc

    "ann_quantized_search",
    "bm25_multifield",
    "bm25_incremental_append",  # same 1-row corpus-stats broadcast (merged)
    "bm25_prf_search",  # same 1-row corpus-stats broadcast as bm25_search, twice
    "bm25_search",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "eval_multi_method",
    "ann_ivfpq_refined",  # 5-row query-vector broadcast in the refine pass
    "ann_ivf_recall_exact",  # ≤8-row centroid-array + 5-query broadcasts
    "scd2_incremental_equivalence",  # 1-row midpoint-cut broadcast
    "bloom_filter_dim_prune",  # 1-row broadcast bloom word-map
    "join_size_cms_estimate",  # 1-row estimate × 1-row exact audit
    "temporal_split_embargo",  # 1-row midpoint-cut broadcast
    "eval_rank_agreement",  # 3-query + 3-row k-ladder broadcasts
    "incremental_agg_equivalence",  # 1-row midpoint-cut broadcast
    "embedding_truncation_recall",  # two ≤8-row query-vector broadcasts
    "eval_decontamination",  # 1-row benchmark-gram-array broadcast
    "eval_retrieval_metrics",
    "events_decayed_trending",  # 1-row corpus-max-timestamp broadcast
    "token_budget_allocation",  # 1-row grand-total broadcast
    "sample_weighted_orders",  # 1-row max-weight broadcast
    "histogram_quantiles_binned",  # 1-row total + 4-row quantile ladder
    "join_key_skew_profile",  # 1-row total-rows broadcast
    "filtered_hybrid_search",
    "generation_eval_polling",
    "heaps_vocab_growth",  # 6-row threshold-ladder broadcast
    "hybrid_rrf_search",
    "hybrid_search",
    "knn_prf_search",  # 5-row q' broadcast in the re-rank crossjoin
    "late_interaction_search",  # ~20-row query-token-embedding broadcast
    "late_interaction_two_stage",  # BM25 prune's 1-row corpus-stats broadcast
    "routed_query_pipeline",  # hybrid arm: BM25 stats + ≤|batch|-row query broadcasts
    "client_routed_query",  # same plan through the client facade
    "client_late_interaction",  # same bounded broadcasts as late_interaction_two_stage
    "client_hybrid_search",  # hybrid_search's 1-row BM25 corpus-stats broadcast
    "ngram_collocations",  # 1-row corpus token count broadcast
    "prompt_assembly",
    "quality_length_filter",
    "rag_pipeline_eval",
    "rerank_overlap",
    "route_classify",
    "router_fit",
    "search_snippets",
    "search_with_properties",
    "temperature_resample_sources",
    "token_budget_prune",
    "topic_cluster_terms",
    "tpch_q11_important_parts",
    "tpch_q22_balance_opportunity",
}


_CODEGEN_ID = re.compile(r" \(\d+\)$")  # "WholeStageCodegen (3)"


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_shape(df) -> list[str]:
    """``depth:nodeName`` for every operator of ``df``'s physical plan,
    taken before execution.

    An AdaptiveSparkPlan is followed into its ``initialPlan`` (the
    ``inputPlan`` has no Exchange or Sort yet); a cached relation counts
    as its scan node only, so the shape does not depend on whether an
    earlier query materialised the cache. Names only: no expression ids,
    paths or column lists, whose order is not stable between runs.
    """
    lines: list[str] = []

    def walk(node, depth):
        name = node.nodeName()
        lines.append(f"{depth}:{_CODEGEN_ID.sub('', name).rstrip()}")
        if name == "AdaptiveSparkPlan":
            walk(node.initialPlan(), depth + 1)
        for sub in _seq(node.subqueries()) + _seq(node.children()):
            walk(sub, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return lines


def shape_row(name: str, df) -> str:
    """One ``plan_shapes.tsv`` row: the shape's hash plus readable counts."""
    shape = plan_shape(df)
    names = [line.split(":", 1)[1] for line in shape]
    digest = hashlib.sha256("\n".join(shape).encode()).hexdigest()[:12]
    counts = (
        len(names),
        names.count("Exchange"),
        names.count("BroadcastHashJoin"),
        names.count("SortMergeJoin"),
        names.count("BroadcastNestedLoopJoin"),
        sum(bool(re.search("Python|InPandas|InArrow", n)) for n in names),
        sum("Scan" in n for n in names),
    )
    return "\t".join([name, digest, *map(str, counts)])


def _golden() -> dict[str, str]:
    lines = GOLDEN.read_text().splitlines()
    assert lines[0] == "\t".join(COLUMNS), GOLDEN
    return {line.split("\t", 1)[0]: line for line in lines[1:]}


@pytest.fixture(scope="module", params=sorted(QUERIES))
def built(request, spark):
    """(name, DataFrame) — each query is built once for all the checks."""
    return request.param, QUERIES[request.param](spark, SF_SMOKE)


def test_no_unbounded_join_strategies(built):
    name, df = built
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    if name not in BOUNDED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — bound the broadcast "
            "side or add a join key (allowlist only designed plans)"
        )


def test_registry_output_schema_is_scalar(built):
    """The driver's pandas canonicalizer sorts rows by value before
    hashing; array/map/struct cells are unhashable and crash the grading
    harness (r5: embedding_pca_project). Every registered query must
    emit only scalar columns — flatten via posexplode / concat_ws."""
    name, df = built
    complex_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, (
        f"{name}: non-scalar output columns {complex_cols} break the "
        "driver canonicalizer — flatten before registering"
    )


def test_plan_shape_matches_golden(built):
    name, df = built
    old, new = _golden().get(name), shape_row(name, df)
    assert new == old, (
        f"plan shape of {name} changed:\n  old: {old}\n  new: {new}\n"
        "if intended, run `python -m tests.test_plan_audit` and name the "
        "query in CHANGES.md"
    )


def test_golden_file_covers_exactly_the_registry():
    names = [row.split("\t", 1)[0] for row in GOLDEN.read_text().splitlines()]
    assert names[1:] == sorted(QUERIES)


def test_shape_check_fails_on_a_forced_plan_change(spark):
    """With automatic broadcast joins off, one of TPC-H Q3's broadcast
    joins plans as a sort-merge join, and the shape check must see it.
    (bm25_search would not do: each of its joins carries an explicit
    broadcast hint, so its shape does not move.)"""
    name = "tpch_q3_shipping_priority"
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = shape_row(name, QUERIES[name](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert forced != _golden()[name], forced


if __name__ == "__main__":
    spark = make_spark()
    rows = [shape_row(n, QUERIES[n](spark, SF_SMOKE)) for n in sorted(QUERIES)]
    GOLDEN.write_text("\n".join(["\t".join(COLUMNS), *rows]) + "\n")
    print(f"wrote {len(rows)} rows to {GOLDEN}")
