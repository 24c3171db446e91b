"""Generator-driven end-to-end fuzz: random queries sampled from the
index's own vocabulary must produce identical results on the kernel and
DataFrame executors (the reference's verify-log audit, run over a
synthesized workload instead of a fixed list)."""

from __future__ import annotations

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.plans.generator import generate_query_log, generate_queries


@pytest.fixture(scope="module")
def fuzz_index(spark, corpus):
    return FullTextIndex.build_fused(
        spark, corpus.filter("doc_id < 150"), BuildConfig(n_slices=2, positions=True)
    )


def _rows(df):
    return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]


def _batch_rows(index, log):
    """search_many over the whole log, as per-query ranked row lists."""
    by_q: dict = {}
    for r in index.search_many(log, k=10).collect():
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 4)))
    return [sorted(by_q.get(i, []), key=lambda t: (-t[1], t[0])) for i in range(len(log))]


def test_generated_and_queries_mode_parity(fuzz_index):
    log = generate_query_log(fuzz_index.term_stats, 15, seed=11)
    batch = _batch_rows(fuzz_index, log)
    for q, c in zip(log, batch):
        a = _rows(fuzz_index.search(q, k=10, mode="kernel"))
        b = _rows(fuzz_index.search(q, k=10, mode="dataframe"))
        assert a == b, q
        assert c == a, q


def test_generated_or_and_not_parity(fuzz_index):
    """Synthesize OR / NOT shapes from sampled terms too."""
    pairs = generate_queries(fuzz_index.term_stats, 6, 2, seed=23)
    shaped = [t.replace(" ", " | ", 1) for t in pairs[:3]] + [
        t.replace(" ", " -", 1) for t in pairs[3:]
    ]
    batch = _batch_rows(fuzz_index, shaped)
    for q, c in zip(shaped, batch):
        a = _rows(fuzz_index.search(q, k=10, mode="kernel"))
        b = _rows(fuzz_index.search(q, k=10, mode="dataframe"))
        assert a == b, q
        assert c == a, q
