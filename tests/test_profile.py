"""Per-query instrumentation (plans/profile.py) + CLI verify helper."""

import pytest


@pytest.fixture(scope="module")
def prof_index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build_fused(spark, corpus, BuildConfig(n_slices=4, block_size=8))


def test_profile_many_counts_blocks(prof_index):
    from bitfunnel_spark.plans.profile import profile_many, summarize

    queries = ["data", "data & the", "dup | vector", '"batch batch" data']
    metrics, timings = profile_many(prof_index, queries, k=3)
    rows = {r["query_id"]: r for r in summarize(metrics).collect()}
    assert set(rows) <= set(range(len(queries)))
    for qid, r in rows.items():
        assert r["blocks_total"] >= r["blocks_decoded"] >= 0, qid
        assert 0.0 <= r["skip_ratio"] <= 1.0
    # the pruned paths must actually skip on the common-term queries
    assert rows[1]["blocks_decoded"] < rows[1]["blocks_total"]
    assert timings["parse_ms"] >= 0 and timings["n_queries"] == 4


def test_profile_rows_match_search(prof_index):
    """The instrumented run must report the same per-group result volume the
    real batch path produces (metrics are observation, not perturbation)."""
    from pyspark.sql import functions as F

    from bitfunnel_spark.plans.profile import profile_many

    queries = ["data fast", "dup | vector"]
    metrics, _ = profile_many(prof_index, queries, k=10)
    got = {
        r["query_id"]: r["rows"]
        for r in metrics.groupBy("query_id").agg(F.sum("rows").alias("rows")).collect()
    }
    res = prof_index.search_many(queries, k=10)
    want_present = {r["query_id"] for r in res.collect()}
    # every query with results must report >= k candidate rows across groups
    for qid in want_present:
        assert got.get(qid, 0) >= len(
            [r for r in res.collect() if r["query_id"] == qid]
        )


def test_cli_verify_one(prof_index):
    from bitfunnel_spark.cli import _verify_one

    res = _verify_one(prof_index, "data -slow", 10)
    assert res["ok"] and not res["false_positives"] and not res["false_negatives"]


def test_profile_many_dot_tf_prunes(prof_index):
    """Sparse (dot_tf) queries report real decode counters: a skewed-weight
    sparse query must skip blocks of the low-weight term, and the profiled
    rows must agree with the result kernel's hit count."""
    from bitfunnel_spark.plans.ast import Boost, Or, Term
    from bitfunnel_spark.plans.profile import profile_many, summarize

    # heavy weight on a rare-ish term, tiny weight on a very common one —
    # the MaxScore shape where the common term's blocks can't reach the
    # top-k threshold
    # the light term's blocks decode only where a candidate lives (exact
    # scoring needs them); a mid-frequency heavy term keeps candidate
    # density low enough that whole light-term blocks are skipped
    node = Or((Boost(Term("dup", "body"), 50.0),
               Boost(Term("the", "body"), 0.01)))
    metrics, _ = profile_many(prof_index, [node], k=2, similarity="dot_tf")
    row = summarize(metrics).collect()[0]
    assert row["blocks_total"] > 0
    assert 0 < row["blocks_decoded"] < row["blocks_total"], dict(row.asDict())
    hits = prof_index.search(node, k=2, mode="kernel", similarity="dot_tf")
    assert row["rows"] >= hits.count() > 0


def test_profile_many_rejects_non_prunable_similarity(prof_index):
    from bitfunnel_spark.plans.profile import profile_many

    with pytest.raises(ValueError):
        profile_many(prof_index, ["data"], k=3, similarity="classic")


# Per-query (blocks_total, blocks_decoded) at k=5 on prof_index for the
# shapes of bench.py's PRUNE_BATTERY. Block-max decode counts are
# deterministic: they move only when pruning or the block layout changes.
PRUNE_COUNTERS = {
    "dup the": (65, 27),
    "dup a data": (121, 40),
    "dup data the": (120, 45),
    "vector dup": (63, 28),
    "dup | the": (65, 61),
    "dup | the | a": (122, 114),
    "dup | vector | the": (119, 111),
}


def _counters(metrics, queries):
    from bitfunnel_spark.plans.profile import summarize

    return {
        queries[r["query_id"]]: (r["blocks_total"], r["blocks_decoded"])
        for r in summarize(metrics).collect()
    }


def test_profile_counters_pinned(prof_index):
    from bitfunnel_spark.plans.profile import profile_many

    queries = list(PRUNE_COUNTERS)
    metrics, _ = profile_many(prof_index, queries, k=5)
    assert _counters(metrics, queries) == PRUNE_COUNTERS
    # third search_after page of "dup the": the min_partial head-skip drops
    # the blocks whose every doc sits before the cursor
    cursor = None
    for _page in range(2):
        hits = (
            prof_index.search("dup the", k=5, mode="kernel") if cursor is None
            else prof_index.search_after("dup the", cursor, k=5)
        ).collect()
        cursor = (float(hits[-1]["score"]), int(hits[-1]["doc_id"]))
    metrics, _ = profile_many(prof_index, ["dup the"], k=5, after=cursor)
    assert _counters(metrics, ["dup the"]) == {"dup the": (65, 19)}


def test_profile_gram_phrase_counts_gram_blocks(spark, corpus):
    """With grams indexed and positions off, a two-token phrase matches
    through its gram term's posting list — in production and therefore in
    the profile, whose counters include the gram term's blocks."""
    from pyspark.sql import functions as F

    from bitfunnel_spark import BuildConfig, FullTextIndex
    from bitfunnel_spark.operators.segments import _term_key_py
    from bitfunnel_spark.plans.profile import profile_many

    idx = FullTextIndex.build_fused(
        spark, corpus,
        BuildConfig(n_slices=4, block_size=8, max_gram_size=2, positions=False),
    )

    def blocks(term):
        return idx.segments.filter(F.col("term_key") == _term_key_py("body", term)).count()

    gram = blocks("batch batch")
    assert gram > 0
    metrics, _ = profile_many(idx, ['"batch batch"'], k=10)
    total, decoded = _counters(metrics, ["q"])["q"]
    assert total == blocks("batch") + gram
    assert decoded >= gram  # the gram list drives the phrase's candidates
