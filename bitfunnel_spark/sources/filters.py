"""Corpus sampling / filtering — the reference's `BitFunnel filter` tool.

Mirrors the composable document filters
(/root/reference/inc/BitFunnel/Chunks/DocumentFilters.h:33-95,
tools/BitFunnel/src/FilterChunks.cpp:77-115): random fraction (seeded),
posting-count range, document-count cap, composable in sequence. Each is a
declarative DataFrame op (sample / filter / limit) — Catalyst composes and
pushes them into the scan where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.functions.tokenizer import tokenize


def fraction_threshold_hex(fraction: float) -> str:
    """8-hex-digit threshold such that P(md5_prefix < threshold) = fraction."""
    return format(int(fraction * 16**8), "08x")


def band_threshold(fraction: float) -> str:
    """`fraction_threshold_hex` that also handles fraction == 1.0 for use in
    per-row CASE thresholds: 'g' sorts above every 8-hex-digit string, so
    `md5_prefix < 'g'` keeps everything (the 9-digit '100000000' would
    string-compare BELOW 8-hex values and keep nothing)."""
    return "g" if fraction >= 1.0 else fraction_threshold_hex(fraction)


def deterministic_filter(corpus: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Partitioning-independent seeded sample: keep doc iff the first 8 hex
    chars of md5(seed:doc_id) compare below the fraction threshold — a pure
    string comparison, identical in any engine."""
    if fraction >= 1.0:
        return corpus
    h = F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))), 1, 8)
    return corpus.filter(h < fraction_threshold_hex(fraction))


def hash_split(
    corpus: DataFrame,
    weights: tuple = (("train", 0.9), ("val", 0.05), ("test", 0.05)),
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test split: adds a `split` column assigned by
    md5(seed:id) hex-prefix ranges — partitioning-independent, reproducible
    across engines and reruns (a training-data pipeline's split must never
    depend on task scheduling), and a pure narrow map: no shuffle at any
    scale. Weights are (name, fraction) in order summing to 1; the last
    band absorbs hash-space rounding."""
    fracs = [f for _, f in weights]
    if not fracs or any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-6:
        raise ValueError("weights must be non-negative fractions summing to 1")
    h = F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 8
    )
    expr = None
    cum = 0.0
    for name, frac in weights[:-1]:
        cum += frac
        cond = h < fraction_threshold_hex(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(weights[-1][0])
    return corpus.withColumn("split", last if expr is None else expr.otherwise(last))


def stratified_sample(
    corpus: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 1.0,
) -> DataFrame:
    """Domain-mixing sampler: keep each row with a per-stratum fraction
    (e.g. downsample the dominant language, keep all of a rare one) decided
    by the same md5-band rule as `deterministic_filter` — partitioning-
    independent, reproducible across engines, and a pure narrow filter: no
    shuffle, no per-stratum pass. At 100 TB this is ONE scan with a
    pushdown-friendly predicate, not one job per domain; changing the mix
    re-runs only the scan."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    h = F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 8
    )
    thresh = F.lit(band_threshold(default_fraction))
    for name, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == name, F.lit(band_threshold(frac))
        ).otherwise(thresh)
    return corpus.filter(h < thresh)


def posting_count_filter(corpus: DataFrame, min_postings: int = 0, max_postings: int | None = None) -> DataFrame:
    """PostingCountFilter analogue: keep docs whose distinct-term count
    (the reference's posting count — Document.cpp:59-62) is in range."""
    n = F.size(F.array_distinct(tokenize("content")))
    cond = n >= min_postings
    if max_postings is not None:
        cond = cond & (n <= max_postings)
    return corpus.filter(cond)


def cap_filter(corpus: DataFrame, max_docs: int) -> DataFrame:
    """Document-count cap. Deterministic: lowest doc_ids win (the reference
    caps by arrival order; arrival order is doc_id in our corpus).

    orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    partial top-k then a driver merge of k rows — not a global sort and not
    a single-partition window."""
    return corpus.orderBy("doc_id").limit(max_docs)


def composite_filter(
    corpus: DataFrame,
    fraction: float | None = None,
    min_postings: int = 0,
    max_postings: int | None = None,
    max_docs: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """CompositeFilter analogue: sample → posting range → cap, in the same
    order the reference applies them (FilterChunks.cpp:77-115)."""
    out = corpus
    if fraction is not None:
        out = deterministic_filter(out, fraction, seed)
    if min_postings or max_postings is not None:
        out = posting_count_filter(out, min_postings, max_postings)
    if max_docs is not None:
        out = cap_filter(out, max_docs)
    return out


def quality_weighted_sample(
    corpus: DataFrame, seed: int = 17, floor: float = 0.05,
    text_col: str = "content", id_col: str = "doc_id",
) -> DataFrame:
    """Quality-weighted importance subsample (the DSIR/DCLM-style
    resampling a training-data pipeline uses to keep high-quality docs
    with higher probability): keep doc iff u(doc) < w(doc), where

    - u = deterministic LCG uniform on doc_id — the SAME int64-safe hash
      as serving.random_score ((((doc_id+seed) mod 2^31)·1103515245 +
      12345) mod 2^31 / 2^31), so the draw is partitioning-independent
      and reproducible across engines/reruns (a resample that depends on
      task scheduling is not a dataset definition);
    - w = max(floor, quality_score(content, rounded=False)) — the raw
      heuristic text quality in [0,1] (operators/text.quality_score;
      UNROUNDED: the fixed-op-order float64 is bit-identical across
      engines, while engine round() tie rules differ at .xxxx5
      boundaries); ``floor`` keeps a minimum exploration mass for
      low-quality docs (importance-resampling convention).

    Returns the kept rows with a ``weight`` column appended. Pure narrow
    map + filter: no shuffle at any scale; the expected kept fraction is
    E[w] by construction.
    """
    from bitfunnel_spark.operators.text import quality_score

    if not 0.0 <= floor <= 1.0:
        raise ValueError(f"floor must be in [0,1], got {floor}")
    m = F.lit(2147483648)
    u = (
        (((F.col(id_col) + F.lit(int(seed))) % m) * F.lit(1103515245) + F.lit(12345))
        % m
    ).cast("double") / m.cast("double")
    w = F.greatest(quality_score(F.col(text_col), rounded=False), F.lit(float(floor)))
    return corpus.withColumn("weight", w).filter(u < F.col("weight"))
