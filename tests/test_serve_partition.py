"""prepare_serve: segment cache partitioned on the kernel group key must
elide the per-query exchange while leaving results rank-identical."""

from __future__ import annotations

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex


@pytest.fixture(scope="module")
def served(spark, corpus):
    small = corpus.filter("doc_id < 300").cache()
    base = FullTextIndex.build_fused(spark, small, BuildConfig(n_slices=4))
    want = {
        q: [(r["doc_id"], r["score"]) for r in base.search(q, k=5, mode="kernel").collect()]
        for q in ["data the", "data -slow", '"the data"', "a | data"]
    }
    base.prepare_serve()
    return {"idx": base, "want": want}


def _query_side_plan(df) -> str:
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("InMemoryRelation")[0]  # above the cached store only


@pytest.fixture()
def distributed(monkeypatch):
    """Every query over budget: small queries take the distributed route,
    whose plan shape these tests pin."""
    from bitfunnel_spark.plans import kernel

    monkeypatch.setattr(kernel, "LOCAL_BLOCK_BUDGET", -1)


def test_no_exchange_on_query_side(served, distributed):
    plan = _query_side_plan(served["idx"].search("data the", k=5, mode="kernel"))
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_results_identical_after_prepare_serve(served):
    for q, want in served["want"].items():
        got = [
            (r["doc_id"], r["score"])
            for r in served["idx"].search(q, k=5, mode="kernel").collect()
        ]
        assert got == want, q


def test_batch_path_also_exchange_free(served, distributed):
    df = served["idx"].search_many(["data the", "data -slow"], k=5)
    # batch groups by the same key; its query side may keep the final
    # per-query ranking exchange (windowed top-k) but must not re-shuffle
    # the segment store: no hashpartitioning on (shard, slice)
    plan = _query_side_plan(df)
    assert "hashpartitioning(shard" not in plan
