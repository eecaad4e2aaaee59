"""Rank-identity check of engine top-k results against ``BM25Oracle``."""

from __future__ import annotations

from semcode_spark.config import DEFAULT

RANK_DECIMALS = DEFAULT.bm25.rank_decimals


def rank_identical(got: list[tuple[int, float]], want: list[tuple[int, float]],
                   decimals: int = RANK_DECIMALS) -> bool:
    """Same doc_id order, and every score equal at the engine's rank
    rounding (within one unit of the last ranked decimal, since two
    summation orders can straddle a rounding edge)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    tol = 10.0 ** -decimals
    return all(abs(g - w) <= tol for (_, g), (_, w) in zip(got, want))


def batch_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """bm25_topk_batch rows -> query_id -> [(doc_id, score)] in rank order."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}
