"""Pluggable query-time similarities (plans/scoring.py): classic (Lucene
pre-7 TF-IDF) and boolean, verified three ways — DataFrame executor vs
Arrow kernel (rank- and score-identical) vs an independent DuckDB oracle
(exact formula recomputation from the raw corpus). Also checks the exact
integer inversions (df from BM25 idf, doclen from stored partials) that
make the flavors storage-free."""

import math

import pytest

from bitfunnel_spark.plans.oracle import oracle_search_sql
from bitfunnel_spark.plans.planner import QueryPlanError
from bitfunnel_spark.plans.scoring import (
    base_weight_map,
    classic_idf,
    df_from_bm25_idf,
)

QUERIES = [
    "data",
    "spark & join",
    "data -slow",
    "dup | vector",
    "(dup | vector) join",
    "lang:en data",
    "key^2.5 data",
    '"fast key order" data',
]


@pytest.mark.parametrize("sim", ["classic", "boolean", "lm_dirichlet"])
@pytest.mark.parametrize("q", QUERIES)
def test_similarity_vs_oracle_and_kernel(index, duck, q, sim):
    got_df = [
        (r["doc_id"], r["score"])
        for r in index.search(q, k=10, similarity=sim).collect()
    ]
    got_k = [
        (r["doc_id"], r["score"])
        for r in index.search(q, k=10, mode="kernel", similarity=sim).collect()
    ]
    assert got_df == got_k, f"executor mismatch for {q!r} under {sim}"
    exp = duck.execute(oracle_search_sql(q, k=10, similarity=sim)).fetchall()
    assert [(d, pytest.approx(s, abs=2e-4)) for d, s in exp] == got_df, (
        f"oracle mismatch for {q!r} under {sim}"
    )


@pytest.mark.parametrize("sim", ["classic", "boolean"])
def test_match_set_invariant_under_similarity(index, sim):
    # similarity changes scores only — the matched doc set is identical
    q = "data -slow"
    base = {r["doc_id"] for r in index.search(q, k=10_000).collect()}
    got = {r["doc_id"] for r in index.search(q, k=10_000, similarity=sim).collect()}
    assert got == base


def test_boolean_score_counts_matched_terms(index):
    # unboosted boolean score == number of matched scoring terms
    rows = index.search("dup | vector | join", k=10_000, similarity="boolean").collect()
    assert rows and {r["score"] for r in rows} <= {1.0, 2.0, 3.0}
    top = index.search("dup | vector | join", k=1, similarity="boolean").collect()[0]
    assert top["score"] == max(r["score"] for r in rows)


def test_df_inversion_exact(index):
    # the df recovered from every stored idf equals the dictionary's df
    rows = index.term_stats.select("df", "idf").collect()
    assert rows
    for r in rows:
        assert df_from_bm25_idf(float(r["idf"]), index.n_docs) == int(r["df"])


def test_classic_weight_map(index):
    idf = index.idf_for_keys({("body", "data")})
    w = base_weight_map(idf, "classic", index.n_docs)[("body", "data")]
    df = df_from_bm25_idf(idf[("body", "data")], index.n_docs)
    c = 1.0 + math.log((index.n_docs + 1.0) / (df + 1.0))
    assert w == pytest.approx(c * c, rel=1e-12)
    assert classic_idf(df, index.n_docs) == pytest.approx(c, rel=1e-15)


def test_lmd_collection_stats_exact(index, duck):
    # Lucene totalTermFreq / sumTotalTermFreq, recomputed independently
    ctf = index.ctf_for_keys({("body", "data"), ("body", "join")})
    exp = dict(
        duck.execute(
            "SELECT term, sum(cnt) FROM (SELECT doc_id, term, count(*) AS cnt "
            "FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
            "'[a-z_][a-z0-9_]*|[0-9]+')) AS term FROM documents) "
            "GROUP BY doc_id, term) WHERE term IN ('data', 'join') GROUP BY term"
        ).fetchall()
    )
    assert ctf == {("body", k): int(v) for k, v in exp.items()}
    total = duck.execute(
        "SELECT count(*) FROM (SELECT unnest(regexp_extract_all(lower(text), "
        "'[a-z_][a-z0-9_]*|[0-9]+')) FROM documents)"
    ).fetchone()[0]
    assert index.body_total_tokens() == int(total)


def test_ctf_lookup_pushes_key_predicate(spark, index, tmp_path):
    """The lm_dirichlet ctf lookup filters postings with plain-column
    (stream, term) equalities, so a parquet postings table prunes the scan
    with them (PushedFilters) instead of computing a key per row."""
    import dataclasses

    path = str(tmp_path / "postings")
    index.postings.write.parquet(path)
    idx2 = dataclasses.replace(index, postings=spark.read.parquet(path))
    keys = {("body", "data"), ("body", "join")}
    plan = idx2._ctf_frame(keys)._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)[1].split("\n", 1)[0]
    assert "EqualTo(term,data)" in pushed and "EqualTo(stream,body)" in pushed, plan
    assert idx2.ctf_for_keys(keys) == index.ctf_for_keys(keys)


def test_lmd_rejects_nonbody_scoring(index):
    # field-boosted non-body keys become scoring keys — LMD is body-only
    with pytest.raises(QueryPlanError):
        index.search("lang:en^2 data", similarity="lm_dirichlet").collect()


def test_similarity_rejects_groups_and_unknown(index):
    index.set_synonyms({"join": ["merge"]}, mode="blend")
    try:
        with pytest.raises(QueryPlanError):
            index.search("join & data", similarity="classic").collect()
        with pytest.raises(QueryPlanError):
            index.search("join & data", mode="kernel", similarity="boolean").collect()
    finally:
        index.set_synonyms(None)
    with pytest.raises(ValueError):
        index.search("data", similarity="dfr")
