"""Self-test of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/test_selftest.py -q

Checks that the input generator is a function of its seed and that the
oracle comparison rejects a corrupted top-k.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import querygen  # noqa: E402
from oracle_check import batch_by_query, rank_identical  # noqa: E402
from tracing import covered_ms  # noqa: E402

from semcode_spark.functions.extract import extract_text_py  # noqa: E402
from semcode_spark.oracle import BM25Oracle  # noqa: E402


def _zipf_texts(n_docs: int = 400) -> dict[int, str]:
    import random

    rng = random.Random(0)
    return {i: " ".join(f"w{int(rng.paretovariate(0.8)) % 3000}"
                        for _ in range(rng.randint(5, 60)))
            for i in range(n_docs)}


TEXTS = _zipf_texts()
HOT_DF_RATIO = 0.04


def _stream(seed: int, n: int = 50):
    oracle = BM25Oracle(TEXTS)
    g = querygen.QueryGen(seed, oracle.df, oracle.n, HOT_DF_RATIO)
    return [g.query() for _ in range(n)], g.mix()


def test_generator_deterministic_in_seed():
    a, mix_a = _stream(7)
    b, mix_b = _stream(7)
    c, _ = _stream(8)
    assert a == b and mix_a == mix_b
    assert a != c
    ids = sorted(TEXTS)
    assert querygen.pick_recrawl(ids, 7, 0.05) == querygen.pick_recrawl(ids, 7, 0.05)
    assert querygen.pick_recrawl(ids, 7, 0.05) != querygen.pick_recrawl(ids, 8, 0.05)
    assert querygen.edit_text(TEXTS[3], 7, 3) == querygen.edit_text(TEXTS[3], 7, 3)


def test_generator_mix_covers_every_class():
    _, mix = _stream(1, 400)
    shares = mix["term_class_share"]
    # 400 queries = 50 whole blocks: the realized mix is the block's mix
    assert shares == {"hot": 0.25, "mid": 0.3, "rare": 0.3, "oov": 0.15, "edited": 0.0}
    assert set(mix["terms_per_query_share"].values()) == {0.25}
    assert 0.0 < mix["repeated_term_share"] < 1.0


def test_hot_terms_are_the_salted_terms():
    oracle = BM25Oracle(TEXTS)
    classes = querygen.term_classes(oracle.df, oracle.n, HOT_DF_RATIO)
    salted = {t for t, df in oracle.df.items()
              if querygen.salted(df, oracle.n, HOT_DF_RATIO)}
    assert classes["hot"] and set(classes["hot"]) == salted
    # every query has at least one corpus term
    queries, _ = _stream(3, 80)
    assert all(any(t in oracle.df for t in text.split()) for _, text, _ in queries)


def test_oracle_check_rejects_swapped_doc_ids():
    oracle = BM25Oracle(TEXTS)
    want = oracle.topk("w1 w4 w9", 10)
    assert len(want) == 10
    assert rank_identical(list(want), want)
    swapped = list(want)
    (d0, s0), (d1, s1) = swapped[2], swapped[5]
    swapped[2], swapped[5] = (d1, s0), (d0, s1)
    assert not rank_identical(swapped, want)
    assert not rank_identical(want[:-1], want)
    off = [(d, s + 1e-6) for d, s in want]
    assert not rank_identical(off, want)


def test_batch_rows_regrouped_in_rank_order():
    rows = [{"query_id": 1, "rank": 2, "doc_id": 5, "score": 1.0},
            {"query_id": 1, "rank": 1, "doc_id": 9, "score": 2.0},
            {"query_id": 0, "rank": 1, "doc_id": 3, "score": 0.5}]
    assert batch_by_query(rows) == {1: [(9, 2.0), (5, 1.0)], 0: [(3, 0.5)]}


def test_edited_page_extracts_to_edited_text():
    old, new = "w1 w2 w3", querygen.edit_text("w1 w2 w3", 3, 1)
    html = (b"\xff<html><head><style>.c{}</style></head><body><nav>x</nav>"
            b"<article><p>" + old.encode() + b"</p></article>"
            b"<script>var a=1;</script><footer>f</footer></body></html>")
    assert extract_text_py(querygen.edit_html(html, old, new)) == new


def test_covered_ms_merges_overlapping_jobs():
    assert covered_ms([(0, 10), (5, 20), (30, 40)]) == 30.0
    assert covered_ms([]) == 0.0
