"""Output checks against DuckDB, run outside the timed window.

The oracle SQL comes from the builders ``queries.py`` already carries for
its registered parity rows (``_BM25_PREFIX``, ``_BM25_SCORING``, the
hybrid fusion oracle and its hash-embedded dense arm), pointed at the
benchmark's own collection instead of the fixture tables.
"""

from __future__ import annotations

import os

SCORE_TOL = 1e-6
# The BM25 ranking window of _BM25_SCORING, and the ordering a persisted
# text index serves (operators/bm25.py bm25_search_indexed ranks on
# round(score, 4) with a doc_id tie-break). The facade probes the index
# whenever one covers the searched view, so its keyword arm follows the
# rounded order; BM25 scores that agree to 4 decimals may swap across an
# arm's cut, which changes the fused scores of a hybrid search.
_RAW_ORDER = "ORDER BY score DESC, doc_id ASC) AS rnk\n  FROM kw_scored"
_INDEXED_ORDER = "ORDER BY round(score, 4) DESC, doc_id ASC) AS rnk\n  FROM kw_scored"
# retrieval_metrics rounds hit_rate and MRR to 2 decimals
METRIC_TOL = 0.005 + 1e-9


def _values(rows: list[tuple[int, str]]) -> str:
    return ", ".join(
        "({}::BIGINT, '{}')".format(int(q), s.replace("'", "''")) for q, s in rows
    )


class Oracle:
    """A DuckDB connection with the collection registered as `documents`."""

    def __init__(self, collection_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        glob = os.path.join(collection_dir, "*.parquet").replace("'", "''")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
        )

    def close(self) -> None:
        self.con.close()

    def _run(self, sql: str, indexed: bool) -> dict[int, list[tuple[int, float]]]:
        if indexed:
            if sql.count(_RAW_ORDER) != 1:
                raise RuntimeError("the BM25 oracle's ranking window changed")
            sql = sql.replace(_RAW_ORDER, _INDEXED_ORDER)
        return _by_query(self.con.execute(sql).fetchall())

    def hybrid(
        self, rows: list[tuple[int, str]], alpha: float, n_arm: int, k: int,
        indexed: bool = False,
    ) -> dict[int, list[tuple[int, float]]]:
        """Fused (doc_id, score) lists per query_id: BM25 arm plus the
        hash-embedded exact-kNN arm, each cut to ``n_arm``, fused and cut
        to ``k``. ``indexed``: the BM25 arm is served by a persisted text
        index (rounded ranking)."""
        from vectorsearch_applications_spark import queries as q

        sql = q._hybrid_fusion_oracle(
            _values(rows),
            q._HYBRID_DENSE_HASHED,
            "query_id, doc_id, rnk, score",
            n_arm=n_arm,
            k_final=k,
            alpha=alpha,
        )
        return self._run(sql, indexed)

    def ranked(
        self, rows: list[tuple[int, str]], arm: str, depth: int, indexed: bool = False
    ) -> dict[int, list[tuple[int, float]]]:
        """Per-query (doc_id, score) top ``depth`` of one arm: 'bm25'
        (kw_ranked) or 'knn' (vec_ranked over hash embeddings)."""
        from vectorsearch_applications_spark import queries as q

        vals = _values(rows)
        if arm == "bm25":
            body = f"""{q._BM25_PREFIX},
queries AS (SELECT * FROM (VALUES {vals}) v(query_id, query)),
{q._BM25_SCORING}
SELECT query_id, doc_id, rnk, score FROM kw_ranked WHERE rnk <= {depth}"""
        else:
            body = f"""queries AS (SELECT * FROM (VALUES {vals}) v(query_id, query)),
{q._HYBRID_DENSE_HASHED}
SELECT query_id, doc_id, rnk, sim FROM vec_ranked WHERE rnk <= {depth}"""
        return self._run("WITH " + body, indexed)


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for qid, doc, rnk, score in sorted(rows, key=lambda r: (r[0], r[2])):
        out.setdefault(int(qid), []).append((int(doc), float(score)))
    return out


def same_ranking(
    got: list[tuple[int, float]], want: list[tuple[int, float]]
) -> bool:
    """Rank-by-rank equal scores; doc ids must match wherever the score
    is not tied with another entry (a tie may order either way at a
    rounding boundary)."""
    if len(got) != len(want):
        return False
    scores = [s for _, s in want] + [s for _, s in got]
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return False
        tied = sum(abs(s - ws) <= SCORE_TOL for s in scores) > 2
        if gd != wd and not tied:
            return False
    return True


def hit_rate_mrr(
    ranked: dict[int, list[tuple[int, float]]], golden: list[tuple[int, str]], k: int
) -> tuple[float, float]:
    """Unrounded hit rate and MRR at ``k``; the relevant doc of a golden
    query is its query_id."""
    hits = rr = 0.0
    for qid, _ in golden:
        docs = [d for d, _ in ranked.get(qid, [])[:k]]
        if qid in docs:
            hits += 1
            rr += 1.0 / (docs.index(qid) + 1)
    return hits / len(golden), rr / len(golden)
