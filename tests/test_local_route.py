"""Footprint routing (plans/kernel._query_groups): a small top-k log runs the
group kernel in-process over its collected segment rows; match sets,
fallback phrases and over-budget or unknown footprints keep the
distributed applyInPandas job. Both routes return identical rows."""

from __future__ import annotations

import dataclasses

import pytest

from bitfunnel_spark import BuildConfig, FullTextIndex
from bitfunnel_spark.plans import kernel


@pytest.fixture(scope="module")
def small(corpus):
    return corpus.filter("doc_id < 300").cache()


@pytest.fixture(scope="module")
def fused(spark, small):
    idx = FullTextIndex.build_fused(spark, small, BuildConfig(n_slices=4, positions=True))
    idx.prepare_serve()
    return idx


def _distributed(df) -> bool:
    return "FlatMapGroupsInPandas" in df._jdf.queryExecution().executedPlan().toString()


def _footprint(index, queries, k=10):
    from bitfunnel_spark.plans.batch import _plan_log

    plans, _ = _plan_log(index, queries)
    desc = kernel._descriptor(index, plans, k=k)
    return index.block_footprint([key for p in plans for key in kernel._plan_keys(p, desc)])


def test_small_topk_runs_local(fused):
    assert not _distributed(fused.search("data fast", k=5, mode="kernel"))
    assert not _distributed(fused.search('"the data" | dup', k=5, mode="kernel"))
    assert not _distributed(fused.search_many(["data", "dup | vector"], k=5))


def test_footprint_is_blocks_total_and_sets_the_route(fused, monkeypatch):
    from bitfunnel_spark.plans.profile import profile_many, summarize

    log = ["data fast", "dup | vector", '"the data"']
    metrics, _ = profile_many(fused, log, k=10)
    assert _footprint(fused, log) == sum(r["blocks_total"] for r in summarize(metrics).collect())
    fp = _footprint(fused, log)
    monkeypatch.setattr(kernel, "LOCAL_BLOCK_BUDGET", fp)
    assert not _distributed(fused.search_many(log, k=10))
    monkeypatch.setattr(kernel, "LOCAL_BLOCK_BUDGET", fp - 1)
    assert _distributed(fused.search_many(log, k=10))


def test_match_sets_and_percolate_stay_distributed(spark, fused, small):
    from bitfunnel_spark.plans.batch import match_many, percolate

    assert _distributed(kernel.match_kernel(fused, "data"))
    assert _distributed(match_many(fused, ["data", "dup"]))
    assert _distributed(percolate(spark, small.filter("doc_id < 40"), ["data", "dup | vector"]))


def test_fallback_phrase_stays_distributed(spark, small):
    idx = FullTextIndex.build_fused(spark, small, BuildConfig(n_slices=2))
    assert not _distributed(idx.search("data fast", k=5, mode="kernel"))
    assert _distributed(idx.search('"the data"', k=5, mode="kernel"))


def test_unknown_footprint_stays_distributed(index, fused):
    from pyspark.sql import functions as F

    # row-form build: the dictionary comes from term_stats, without blocks
    assert index.block_footprint([("body", "data")]) is None
    assert _distributed(index.search("data", k=5, mode="kernel"))
    # an indexed fact's segment rows are not in the dictionary
    copy = dataclasses.replace(fused, facts={}, indexed_facts={})
    copy.define_fact_indexed("even", F.col("doc_id") % 2 == 0)
    assert copy.block_footprint([("body", "data"), ("fact", "even")]) is None
    assert _distributed(copy.search("data", k=5, mode="kernel", facts=["even"]))


def test_restricted_copy_refused_before_routing(fused):
    copy = dataclasses.replace(fused)
    copy._restrict_docs = fused.doc_stats.select("doc_id").limit(5)
    with pytest.raises(ValueError, match="declarative executor"):
        kernel.search_kernel(copy, "data", k=5)
    with pytest.raises(ValueError, match="declarative executor"):
        copy.search_many(["data"], k=5)
