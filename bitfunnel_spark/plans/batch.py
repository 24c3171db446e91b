"""Batched multi-query execution — one Spark job for a whole query log.

The reference's benchmark driver round-robins a query log over N threads in
one process (/root/reference/src/Plan/src/QueryRunner.cpp:282-402). The
Spark-native analogue (SURVEY §2.5 "Multi-query benchmark driver"): ship ALL
query plans in one broadcast descriptor, scan the union of their terms'
segments once, evaluate every query inside each (shard, slice) group with a
shared decode cache, and take per-query top-k with a single window — one
job, amortizing scheduling + Python-worker startup across the whole log.
This is how high-QPS serving should run on a cluster: queries become data.

The group kernel and its descriptor are the single-query ones
(plans/kernel._make_kernel / _descriptor — a single query is a log of
length 1), so every query here takes exactly the route it takes alone, and
plans/profile reports counters from this same execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bitfunnel_spark.plans.kernel import _descriptor, _query_groups
from bitfunnel_spark.plans.planner import plan_query


def _plan_log(index, queries: list, facts: list[str] | None = None):
    """(plans, residual_facts): each query prepared (synonyms, expansions),
    its indexed facts ANDed in as filter conjuncts, and planned; the
    driver-array facts left over restrict the whole log."""
    plans = []
    residual = facts
    for q in queries:
        node, residual = index._apply_indexed_facts(index.prepare_query(q), facts)
        plans.append(plan_query(node))
    return plans, residual


def search_many(index, queries: list[str], k=10, facts: list[str] | None = None) -> DataFrame:
    """Evaluate a list of query strings in ONE job.

    Returns DataFrame[(query_id int, doc_id long, score double)] — per query
    the BM25 top-k under the same determinism contract as single-query
    search (score rounded 4 dp; order score desc, doc_id asc).

    ``k`` is one int for every query, or a per-query list (the _msearch
    shape): the batch fetches max(k) per (shard, slice) group and the ONE
    global rank window trims each query to its own limit — per-query
    limits ride the window the batch path already pays.
    """
    ks = [int(x) for x in k] if isinstance(k, (list, tuple)) else [int(k)] * len(queries)
    if len(ks) != len(queries):
        raise ValueError("per-query k list must match the query count")
    if not ks or min(ks) < 1:
        raise ValueError("k must be >= 1")
    plans, facts = _plan_log(index, queries, facts)
    groups = _query_groups(index, plans, _descriptor(index, plans, facts, k=max(ks)))
    res = groups.select("query_id", "doc_id", F.round(F.col("score"), 4).alias("score"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    k_expr = (
        F.lit(ks[0]) if len(set(ks)) == 1
        else F.element_at(F.array(*[F.lit(x) for x in ks]), F.col("query_id") + 1)
    )
    return (
        res.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k_expr).drop("_rn")
    )


def match_many(index, queries: list[str], facts: list[str] | None = None) -> DataFrame:
    """Full (unscored) match sets for a whole query log in ONE job:
    DataFrame[(query_id int, doc_id long)]. Each document lives in exactly
    one (shard, slice) group, so group outputs are disjoint — no window,
    no dedup, no truncation."""
    plans, facts = _plan_log(index, queries, facts)
    groups = _query_groups(index, plans, _descriptor(index, plans, facts))
    return groups.select("query_id", "doc_id")


def percolate(spark, docs: DataFrame, queries: list[str], config=None) -> DataFrame:
    """Reverse search (the Elasticsearch percolator shape): which of the
    ``queries`` (the registered query log) match each document of an
    incoming batch. Returns DataFrame[(query_id int, doc_id long)].

    Scale shape: the batch is a micro-batch (small); the query log can be
    large. A throwaway index is built over the batch (the fused
    single-shuffle build — cheap at micro-batch size) and the WHOLE log
    evaluates in ONE batched kernel job (queries become data). Alerting /
    saved-search fan-out at ingest time runs this per streaming batch.
    """
    from bitfunnel_spark import BuildConfig, FullTextIndex

    idx = FullTextIndex.build_fused(spark, docs, config or BuildConfig(n_slices=1))
    return match_many(idx, queries)
