"""Kernel-path query executor — block-decoded NumPy matching over segments.

The scale path (SURVEY §3.1 "Our Spark lifecycle"): the query is parsed and
planned driver-side, a tiny descriptor (AST + per-term idf + top-k) is
broadcast by capture, and ONE job over the query's posting segments runs a
vectorized NumPy kernel per (shard, slice) group: decode → candidate
generation (rarest-first intersection for ANDs, union otherwise) → boolean
mask evaluation → BM25 from stored float64 partials (score = idf·partial —
no doc-table join; the segment store is self-sufficient) → per-group top-k.
A final global TakeOrdered merges k rows per group.

This mirrors the reference's execution shape exactly: compiled plan +
per-slice interpreter loop (ByteCodeInterpreter::Run per slice buffer —
/root/reference/src/Plan/src/ByteCodeQueryEngine.cpp:86-112) with
(shard, slice) as the parallel unit, except our "interpreter" is NumPy over
compressed blocks instead of quadword bit-ANDs, and we add scoring.

Parallelism = n_shards × n_slices groups — thousands at cluster scale
(config.n_slices). On a persisted index, the `term IN (...)` filter prunes
(shard, term_bucket) partitions before any shuffle. Block skipping inside
the kernel: first_doc/last_doc prunes decodes to the shrinking candidate
range (AND queries, rarest-first), and max_partial drives block-max top-k
pruning — single terms via _single_term_topk, flat multi-term AND/OR via
plans/wand.py (block-max WAND driver traversal for conjunctions, MaxScore
term/block skipping for disjunctions); phrases/NOTs/nested shapes use the
exhaustive candidate+mask path below.

One kernel serves every caller: a single query (search_kernel /
match_kernel) is a query log of length 1 (plans/batch search_many /
match_many / percolate), built by one descriptor (_descriptor). The kernel
counts blocks and time per query as it runs; plans/profile ships those
counter rows instead of the hits. _query_groups chooses where the per-group
loop runs: small top-k footprints in-process on the driver, everything
else in the distributed job described above.

Phrases: from stored positions when the segments carry them, else from an
indexed n-gram term, else from synthetic posting rows derived exactly from
the corpus (phrase_fallback_segments) — all evaluated in-kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.config import POS_BITS, POS_SAFE_DOCLEN
from bitfunnel_spark.operators.segments import decode_group_positions
from bitfunnel_spark.plans.ast import And, FieldGroup, Node, Not, Or, Phrase, SynGroup, Term
from bitfunnel_spark.plans.executor import _as_plan, _phrase_doc_ids
from bitfunnel_spark.plans.planner import QueryPlan

_EMPTY = np.empty(0, dtype=np.int64)
_EMPTYF = np.empty(0, dtype=np.float64)


def _member(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Vectorized membership of `values` in sorted `sorted_arr` (galloping
    via searchsorted — the AndRowJz analogue)."""
    if sorted_arr.size == 0 or values.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == sorted_arr.size] = sorted_arr.size - 1
    return sorted_arr[idx] == values


def _positive_term_keys(node: Node, neg: bool = False) -> set[tuple[str, str]]:
    if isinstance(node, Term):
        return set() if neg else {(node.stream, node.text)}
    if isinstance(node, Phrase):
        return set() if neg else {(node.stream, t) for t in node.tokens}
    if isinstance(node, Not):
        return _positive_term_keys(node.child, not neg)
    out: set[tuple[str, str]] = set()
    for c in node.children:
        out |= _positive_term_keys(c, neg)
    return out


def _candidates(ast: Node, cache, gram_phrases=frozenset(), fallback=frozenset()) -> np.ndarray:
    """Candidate doc set with progressive block pruning.

    AND fast path: decode the rarest positive term fully (fewest postings —
    the MatchTreeRewriter 'cheapest first' intent), then intersect the other
    conjuncts decoding only blocks overlapping the shrinking candidate range.
    Otherwise: union of all positive terms' postings. Gram-matched phrases
    contribute their gram term as a conjunct (usually the rarest driver).
    """
    and_keys: list[tuple[str, str]] = []
    if isinstance(ast, Term):
        return cache.span((ast.stream, ast.text))[0]
    if isinstance(ast, And):
        for c in ast.children:
            if isinstance(c, Term):
                and_keys.append((c.stream, c.text))
            elif isinstance(c, Phrase):
                and_keys.extend((c.stream, t) for t in c.tokens)
                if c in gram_phrases:
                    and_keys.append((c.stream, c.text))
                elif c in fallback:
                    and_keys.append((c.stream, _phrase_term(c)))
    elif isinstance(ast, Phrase):
        and_keys = [(ast.stream, t) for t in ast.tokens]
        if ast in gram_phrases:
            and_keys.append((ast.stream, ast.text))
        elif ast in fallback:
            and_keys.append((ast.stream, _phrase_term(ast)))
    if and_keys:
        # dense-treatment lists never drive the intersection (demotion)
        and_keys.sort(key=lambda kk: (cache.is_dense(kk), cache.total_n(kk)))
        cand = cache.span(and_keys[0])[0]
        for key in and_keys[1:]:
            if cand.size == 0:
                return cand
            other = cache.span(key, int(cand[0]), int(cand[-1]))[0]
            cand = cand[_member(other, cand)]
        return cand
    pos = sorted(_positive_term_keys(ast))
    if not pos:
        return _EMPTY
    return np.unique(np.concatenate([cache.span(k)[0] for k in pos]))


MAX_SLOP_PATTERNS = 512


def _slop_offset_vectors(n: int, slop: int) -> list[tuple[int, ...]]:
    """Every position pattern a sloppy phrase allows: strictly increasing
    offsets (0, o2, .., on) with on <= (n-1)+slop. C((n-1)+slop, n-1)
    vectors; bounded by MAX_SLOP_PATTERNS (a 2-term phrase allows slop up
    to 511, a 4-term phrase up to ~13 — beyond that the query is a
    different operator, not a phrase)."""
    from itertools import combinations
    from math import comb

    if comb(n - 1 + slop, n - 1) > MAX_SLOP_PATTERNS:
        raise ValueError(
            f"phrase slop {slop} over {n} tokens needs "
            f"{comb(n - 1 + slop, n - 1)} patterns (max {MAX_SLOP_PATTERNS})"
        )
    return [(0, *c) for c in combinations(range(1, n + slop), n - 1)]


def phrase_docs_from_positions(ph: Phrase, raw: dict) -> np.ndarray:
    """Docs (within one (shard, slice) group) containing the phrase,
    from positional postings — no corpus access.

    Exact phrase (slop 0): each occurrence of constituent k at position p
    supports a phrase start s = p - k; pack (doc, s) into one int64 key
    (doc << POS_BITS | s+off) and intersect the start-sets across
    constituents. Fully vectorized (np.repeat + np.isin). off =
    max(16, phrase_len + slop) keeps s+off >= 1 for every k (so long
    phrases never borrow from the doc-id field), and packed values >=
    2^POS_BITS are filtered out (indexes whose documents could reach that
    bound route phrases to the corpus path instead — see _descriptor /
    POS_SAFE_DOCLEN).

    Sloppy phrase (``"a b"~s``, ast.Phrase.slop): the same intersect run
    once per allowed offset vector (_slop_offset_vectors), union of the
    resulting doc sets. Constituent positions are decoded ONCE and reused
    across patterns."""
    n = len(ph.tokens)
    slop = int(getattr(ph, "slop", 0))
    off = max(16, n + slop)
    lim = np.int64(1) << np.int64(POS_BITS)
    occ: list[tuple[np.ndarray, np.ndarray]] = []
    for tok in ph.tokens:
        rows = raw.get((ph.stream, tok))
        if rows is None:
            return _EMPTY
        d, t, p = decode_group_positions(rows)
        if d.size == 0:
            return _EMPTY
        occ.append((np.repeat(d, t).astype(np.int64), p.astype(np.int64)))
    patterns = (
        [tuple(range(n))] if slop == 0 else _slop_offset_vectors(n, slop)
    )
    packed = []
    for offsets in patterns:
        keys = None
        for k in range(n):
            docs_k, p_k = occ[k]
            shifted = p_k - offsets[k] + off
            ok = shifted < lim  # keep the packed key inside the position field
            kk = (docs_k[ok] << np.int64(POS_BITS)) + shifted[ok]
            keys = kk if keys is None else keys[np.isin(keys, kk)]
            if keys.size == 0:
                keys = None
                break
        if keys is not None:
            packed.append(keys >> np.int64(POS_BITS))
    if not packed:
        return _EMPTY
    return np.unique(np.concatenate(packed))


def _group_phrase_docs(plan_phrases, cache, descriptor: dict) -> dict:
    """Per-group phrase doc sets, by physical design precedence:
    positional-kernel evaluation (stored positions) > indexed-gram posting
    list > corpus-derived synthetic postings (the exact fallback)."""
    out: dict = {}
    for ph, _neg in plan_phrases:
        if ph in out:
            continue
        if descriptor["use_positions"]:
            for tok in ph.tokens:
                cache.touch((ph.stream, tok))
            out[ph] = phrase_docs_from_positions(ph, cache.raw)
        elif ph in descriptor["gram_phrases"]:
            out[ph] = cache.span((ph.stream, ph.text))[0]
        else:
            # synthetic posting rows from phrase_fallback_segments
            out[ph] = cache.span((ph.stream, _phrase_term(ph)))[0]
    return out


def _mask(node: Node, cand: np.ndarray, postings, phrase_docs) -> np.ndarray:
    if isinstance(node, Term):
        return _member(postings.get((node.stream, node.text), (_EMPTY, _EMPTY, _EMPTYF))[0], cand)
    if isinstance(node, (SynGroup, FieldGroup)):  # matches like an OR of members
        out = np.zeros(cand.shape, dtype=bool)
        for key in node.keys:
            out |= _member(postings.get(key, (_EMPTY, _EMPTY, _EMPTYF))[0], cand)
        return out
    if isinstance(node, Phrase):
        return _member(phrase_docs.get(node, _EMPTY), cand)
    if isinstance(node, Not):
        return ~_mask(node.child, cand, postings, phrase_docs)
    if isinstance(node, And):
        out = np.ones(cand.shape, dtype=bool)
        for c in node.children:
            out &= _mask(c, cand, postings, phrase_docs)
        return out
    if isinstance(node, Or):
        mm = getattr(node, "min_match", 1)
        if mm <= 1:
            out = np.zeros(cand.shape, dtype=bool)
            for c in node.children:
                out |= _mask(c, cand, postings, phrase_docs)
            return out
        # minimum-should-match: count matching children per candidate
        n = np.zeros(cand.shape, dtype=np.int32)
        for c in node.children:
            n += _mask(c, cand, postings, phrase_docs)
        return n >= mm
    raise TypeError(type(node))


def _score(
    cand: np.ndarray, postings, scoring_keys: list, idf: dict,
    syn_groups=(), k1: float = 1.2, field_groups=(),
    similarity: str = "bm25", b: float = 0.75, avgdl: float = 1.0,
    mu_p: dict | None = None,
) -> np.ndarray:
    """BM25 from stored partials: score = Σ over scoring (stream, term)
    keys of idf_key · partial_key(doc). Keys and idf are (stream, term)-
    keyed — body terms always, non-body keys when field-boosted.

    Blended synonym groups (Lucene SynonymQuery; plan.syn_groups) score as
    ONE pseudo-term: per doc, tf = Σ member tfs, saturated ONCE with the
    doc's norm, weighted by the blended idf = min over present members
    (idf is monotone-decreasing in df, so min idf ≡ idf of the max df —
    Lucene's blended docFreq). The norm denominator D = k1(1-b+b·dl/avgdl)
    is recovered from the max-tf member's stored (tf, partial) pair:
    D = tf(k1+1)/partial − tf — exactly inverting the build-time partial,
    so no doclen access is needed and the arithmetic is reproducible
    bit-for-bit by the DataFrame path and the SQL oracle (same op order)."""
    from bitfunnel_spark.plans.scoring import LMD_MU

    mu_p = mu_p or {}
    score = np.zeros(cand.shape, dtype=np.float64)
    for key in scoring_keys:
        docs, tfs_all, parts = postings.get(key, (_EMPTY, _EMPTY, _EMPTYF))
        if docs.size == 0:
            continue
        m = _member(docs, cand)
        if not m.any():
            continue
        idxs = np.searchsorted(docs, cand[m])
        if similarity == "bm25":
            score[m] += idf.get(key, 0.0) * parts[idxs]
        elif similarity in ("classic", "lm_dirichlet"):
            # plans/scoring.py: the per-key weight in `idf` is the boosted
            # base weight (idf_c² for classic, 1.0 for lm_dirichlet); the
            # per-posting factor needs the integer doclen, recovered
            # EXACTLY by inverting the stored BM25 partial — the same
            # inversion the blended-synonym scorer uses for D
            tf = tfs_all[idxs].astype(np.float64)
            part = parts[idxs]
            d_norm = tf * (k1 + 1.0) / part - tf
            dl = np.rint(((d_norm / k1) - 1.0 + b) * avgdl / b)
            if similarity == "classic":
                score[m] += idf.get(key, 0.0) * (np.sqrt(tf) / np.sqrt(dl))
            else:
                # Lucene LMDirichletSimilarity, per-term clamp at 0
                mp = mu_p.get(key)
                if mp is None:
                    continue
                contrib = idf.get(key, 0.0) * (
                    np.log(1.0 + tf / mp) + np.log(LMD_MU / (dl + LMD_MU))
                )
                score[m] += np.maximum(contrib, 0.0)
        elif similarity == "dot_tf":
            # sparse dot product: (weight·boost)·tf — tf is an exact small
            # integer in float64, so the product is bit-reproducible by
            # the DataFrame executor and the SQL oracle
            score[m] += idf.get(key, 0.0) * tfs_all[idxs].astype(np.float64)
        else:  # boolean: constant (boost) per matched scoring key
            score[m] += idf.get(key, 0.0)
    for group in syn_groups:
        # blended idf from GLOBAL stats (min idf ≡ idf of the max df): a
        # per-group constant, like Lucene's blended docFreq — never from
        # group-local or per-doc presence
        in_dict = [k for k in group if k in idf]
        if not in_dict:
            continue
        idf_blend = min(idf[k] for k in in_dict)
        present = [k for k in in_dict if postings.get(k, (_EMPTY,))[0].size]
        if not present:
            continue
        tfsum = np.zeros(cand.shape, dtype=np.float64)
        best_tf = np.zeros(cand.shape, dtype=np.float64)
        best_part = np.ones(cand.shape, dtype=np.float64)  # placeholder; unused where best_tf=0
        for key in present:
            docs, tfs, parts = postings[key]
            m = _member(docs, cand)
            if not m.any():
                continue
            idxs = np.searchsorted(docs, cand[m])
            tf = tfs[idxs].astype(np.float64)
            tfsum[m] += tf
            # deterministic D source: the member with maximal tf (ties are
            # harmless — equal tf ⇒ equal stored partial ⇒ equal D)
            better = np.zeros(cand.shape, dtype=bool)
            better[m] = tf > best_tf[m]
            sel = better[m]
            bm = m & better
            best_tf[bm] = tf[sel]
            best_part[bm] = parts[idxs][sel]
        matched = tfsum > 0
        if not matched.any():
            continue
        d_norm = best_tf[matched] * (k1 + 1.0) / best_part[matched] - best_tf[matched]
        score[matched] += idf_blend * (
            tfsum[matched] * (k1 + 1.0) / (tfsum[matched] + d_norm)
        )
    for group in field_groups:
        # combined-fields group (BM25F — ast.FieldGroup): tf̃ = Σ w·tf
        # accumulated in the group's fixed sorted-member order (exactly the
        # order the DataFrame executor and the SQL oracle fold in, so
        # float64 stays bit-identical), ONE saturation with the document's
        # shared body-length norm D (recovered from the max-raw-tf member's
        # stored partial — doclen is the body count on EVERY posting, so D
        # is a doc-level constant and any present member inverts to it),
        # weighted by the blended idf (min member idf ≡ max per-field df).
        in_dict = [(kk, w) for kk, w in group if kk in idf]
        if not in_dict:
            continue
        idf_blend = min(idf[kk] for kk, _w in in_dict)
        present = [
            (kk, w) for kk, w in in_dict if postings.get(kk, (_EMPTY,))[0].size
        ]
        if not present:
            continue
        tfsum = np.zeros(cand.shape, dtype=np.float64)
        best_tf = np.zeros(cand.shape, dtype=np.float64)
        best_part = np.ones(cand.shape, dtype=np.float64)  # unused where best_tf=0
        for kk, w in present:
            docs, tfs, parts = postings[kk]
            m = _member(docs, cand)
            if not m.any():
                continue
            idxs = np.searchsorted(docs, cand[m])
            tf = tfs[idxs].astype(np.float64)
            tfsum[m] += w * tf
            better = np.zeros(cand.shape, dtype=bool)
            better[m] = tf > best_tf[m]
            sel = better[m]
            bm = m & better
            best_tf[bm] = tf[sel]
            best_part[bm] = parts[idxs][sel]
        matched = tfsum > 0
        if not matched.any():
            continue
        d_norm = best_tf[matched] * (k1 + 1.0) / best_part[matched] - best_tf[matched]
        score[matched] += idf_blend * (
            tfsum[matched] * (k1 + 1.0) / (tfsum[matched] + d_norm)
        )
    return score


def _single_term_topk(cache, key, idf: float, k: int):
    """Block-max top-k for a single-term query — the max_partial metadata
    actually skips decodes: blocks are visited in descending bound order
    (idf·max_partial) and decoding stops once k postings are held whose
    k-th best score beats the next block's bound (no remaining block can
    contribute a better posting). wand.and_topk's traversal for one
    conjunct, minus the intersection and candidate rescoring. The rank-down
    coarse-row analogue (the reference's src/Plan/src/RankDownCompiler.cpp)
    put to work for scoring."""
    from bitfunnel_spark.plans.wand import EPS, _kth

    ub = idf * cache.meta(key)[2]
    docs_l: list[np.ndarray] = []
    scores_l: list[np.ndarray] = []
    count = 0
    kth = -np.inf
    # EPS margin: final scores round to 4 dp, so a block within the rounding
    # epsilon of the k-th could still tie (and win on doc_id)
    for bi in np.argsort(-ub, kind="stable"):
        if count >= k and ub[bi] < kth - EPS:
            break  # every remaining block's best score is worse than our k-th
        docs, parts = cache.decode_block(key, int(bi))
        docs_l.append(docs)
        scores_l.append(idf * parts)
        count += docs.size
        if count >= k:
            kth = _kth(scores_l, k)
    if not docs_l:
        return _EMPTY, _EMPTYF
    return _top(np.concatenate(docs_l), np.concatenate(scores_l), k)


def _top(docs: np.ndarray, score: np.ndarray, k: int | None):
    """Per-group partial top-k (heap analogue): order by (round desc, doc asc)."""
    if k is not None and docs.size > k:
        idx = np.lexsort((docs, -np.round(score, 4)))[:k]
        docs, score = docs[idx], score[idx]
    return docs, score


def _run_query(plan: QueryPlan, idf: dict, cache, desc: dict):
    """One query over one (shard, slice) group → (doc ids, scores).

    Routes: the BM25 single-term fast path; flat AND/OR shapes through the
    block-max WAND/MaxScore traversals (plans/wand.py) when the similarity
    has a sound per-block bound; everything else (phrases, NOTs, nested
    shapes, unscored match sets) through candidates + boolean mask + _score.
    ``idf`` is the query's (weight·boost) map."""
    from bitfunnel_spark.plans.wand import restrict, route_units, units_topk

    ast = plan.ast
    k = desc["k"]
    allow = desc.get("allow")
    deny = desc.get("deleted")
    after = desc["after"]  # (score4, doc_id) pagination cursor
    sim = desc["similarity"]
    restricted = allow is not None or (deny is not None and deny.size > 0)
    scoring = sorted(plan.scoring_keys)
    if (
        k is not None
        and sim == "bm25"  # the sorted-by-partial fast path is BM25-only
        and not restricted
        and after is None
        and isinstance(ast, Term)
        and (ast.stream, ast.text) in plan.scoring_keys
        and idf.get((ast.stream, ast.text), 0.0) > 0
    ):
        key = (ast.stream, ast.text)
        return _single_term_topk(cache, key, idf[key], k)
    # block-max bounds: max_partial is BM25-shaped; dot_tf prunes via the
    # per-block max_tf metadata (BlockCache bound mode) — but only under
    # non-negative weights (w·max_tf is NOT an upper bound of w·tf when
    # w < 0; a negative boost must fall back to the exhaustive scorer).
    # Other similarities route to the exhaustive scorer (plans/scoring.py).
    prunable = sim == "bm25" or (
        sim == "dot_tf" and all(w >= 0.0 for w in idf.values())
    )
    flat = route_units(ast) if (k is not None and prunable) else None
    if flat is not None and (
        flat[0] in ("and", "or")
        or (flat[0] == "term" and (restricted or after is not None))
    ):
        # blended syn/field groups ride the same traversal via the
        # subadditive saturation bound; fact sets AND in as `allow`,
        # tombstones mask via `deny` (the reference's fact rows +
        # "document active" row, Row.h:34-35)
        kind, units = flat
        res = units_topk(
            kind, units, scoring, idf, k, cache,
            allow=allow, deny=deny,
            syn_groups=plan.syn_groups,
            field_groups=getattr(plan, "field_groups", ()),
            k1=desc["k1"],
            after=after,
        )
        return res["doc_id"].to_numpy(), res["score"].to_numpy()
    cand = restrict(
        _candidates(ast, cache, desc["gram_phrases"], desc["fallback_phrases"]),
        allow, deny,
    )
    if cand.size == 0:
        return _EMPTY, _EMPTYF
    # decode every query term pruned to the candidate doc range — blocks
    # outside [cand_min, cand_max] are skipped via first/last_doc metadata
    # (the rank-down coarse-row analogue)
    lo, hi = int(cand[0]), int(cand[-1])
    postings = {key: cache.span(key, lo, hi) for key in plan.terms}
    cand = cand[_mask(ast, cand, postings, _group_phrase_docs(plan.phrases, cache, desc))]
    if k is None or cand.size == 0:
        return cand, np.zeros(cand.shape)  # match sets are unscored
    score = _score(
        cand, postings, scoring, idf,
        plan.syn_groups, desc["k1"],
        getattr(plan, "field_groups", ()),
        similarity=sim, b=desc["b"], avgdl=desc["avgdl"], mu_p=desc["mu_p"],
    )
    if after is not None:
        # deep pagination (search_after): keep docs strictly after the
        # (score desc, doc_id asc) cursor — compared on the rounded
        # score, the same key the ordering contract uses
        r4 = np.round(score, 4)
        keep = (r4 < after[0]) | ((r4 == after[0]) & (cand > after[1]))
        cand, score = cand[keep], score[keep]
    return _top(cand, score, k)


HITS_SCHEMA = "query_id int, doc_id long, score double"
METRIC_SCHEMA = (
    "query_id int, shard int, slice int, blocks_total long, blocks_decoded long, "
    "rows long, kernel_ms double"
)
_METRIC_COLS = [c.split()[0] for c in METRIC_SCHEMA.split(", ")]


def _plan_keys(plan: QueryPlan, desc: dict) -> set:
    """Every (stream, term) whose posting rows the query reads: its terms,
    the gram term of each gram-matched phrase and the synthetic term of
    each fallback phrase."""
    keys = set(plan.terms)
    for ph, _neg in plan.phrases:
        if ph in desc["gram_phrases"]:
            keys.add((ph.stream, ph.text))
        elif ph in desc["fallback_phrases"]:
            keys.add((ph.stream, _phrase_term(ph)))
    return keys


def _make_kernel(plans: list[QueryPlan], desc: dict):
    """The per-(shard, slice) group kernel for a query log — a single query
    is a log of length 1. Returns a closure pdf → (hits, metrics): hits
    are (query_id, doc_id, score) rows; metrics are one METRIC_SCHEMA row
    per query (blocks of the query's keys in the group, distinct blocks it
    decoded, rows it emitted, its kernel time). One BlockCache serves the
    whole log, so block decodes are shared across queries; the per-query
    counters read its ``touched`` set, which counts a block whether the
    cache hit or missed. `desc` is tiny (idf maps + phrase sets + k) and
    ships inside the serialized closure."""
    import time

    from bitfunnel_spark.plans.wand import BlockCache

    plan_keys = [_plan_keys(p, desc) for p in plans]
    keymap = _keymap(set().union(*plan_keys))

    def kernel(pdf: pd.DataFrame):
        hits = {"query_id": [], "doc_id": [], "score": []}
        metrics = []
        if not pdf.empty:
            shard, slc = int(pdf["shard"].iloc[0]), int(pdf["slice"].iloc[0])
            raw = {
                keymap[int(key)]: rows
                for key, rows in pdf.groupby("term_key", sort=False)
                if int(key) in keymap
            }
            cache = BlockCache(raw, bound=desc["similarity"])
            for qid, plan in enumerate(plans):
                cache.touched.clear()
                t0 = time.perf_counter()
                docs, score = _run_query(plan, desc["idf"][qid], cache, desc)
                ms = (time.perf_counter() - t0) * 1000.0
                hits["query_id"].append(np.full(docs.size, qid, dtype=np.int32))
                hits["doc_id"].append(docs)
                hits["score"].append(score)
                total = sum(cache.n_blocks(key) for key in plan_keys[qid])
                metrics.append((qid, shard, slc, total, len(cache.touched), docs.size, ms))
        dtypes = {"query_id": np.int32, "doc_id": np.int64, "score": np.float64}
        hits_df = pd.DataFrame(
            {c: np.concatenate(v) if v else np.empty(0, dtypes[c]) for c, v in hits.items()}
        )
        return hits_df, pd.DataFrame(metrics, columns=_METRIC_COLS)

    return kernel


def _segment_filter(index, terms: set[tuple[str, str]]):
    """Pushdown-friendly segment predicate for a query's terms.

    The store is keyed by int64 term keys (computed identically driver-side,
    segments._term_key_py), so the filter is two plain-column IN-lists:
    `term_bucket IN` prunes (shard, term_bucket) partitions of a persisted
    store, `term_key IN` prunes parquet row groups via min/max stats (rows
    are written key-clustered). No computed-column predicate anywhere."""
    from bitfunnel_spark.operators.segments import _term_bucket_py, _term_key_py

    keys = sorted(_term_key_py(s, t) for s, t in terms)
    buckets = sorted({_term_bucket_py(k, index.config.term_buckets) for k in keys})
    return F.col("term_bucket").isin(buckets) & F.col("term_key").isin(keys)


def _keymap(terms: set[tuple[str, str]]) -> dict:
    """{term_key: (stream, term)} for a query's terms — the kernels stay
    string-keyed internally; only the pdf boundary translates."""
    from bitfunnel_spark.operators.segments import _term_key_py

    return {_term_key_py(s, t): (s, t) for s, t in terms}


# Summed block footprint (block rows) up to which a top-k log runs on the
# local route. Measured on a 4-core box over sf0.1-shaped indexes of 5k-200k
# docs, the local route wins up to ~4,900 block rows and the distributed
# route from ~9,300 on, so the budget sits below that crossover.
LOCAL_BLOCK_BUDGET = 4096


def _query_groups(index, plans: list[QueryPlan], desc: dict, metrics: bool = False) -> DataFrame:
    """ONE segment scan feeding the log kernel per (shard, slice) group:
    hit rows (HITS_SCHEMA), or with ``metrics`` the same execution's
    counter rows (METRIC_SCHEMA). The one place the route is chosen:

    - local: a top-k log (k set) without fallback phrases whose footprint
      — Σ over its queries of the block rows of each query's keys, the
      kernel's ``blocks_total``, read from the resident dictionary
      (index.block_footprint) — is known and within LOCAL_BLOCK_BUDGET.
      The filtered rows are collected (a JVM-only scan, no Python workers)
      and the kernel runs once per group in this process, the reference's
      in-memory serve shape (QueryRunner.cpp:282-402); the hits come back
      as a driver-built DataFrame.
    - distributed, everything else: match sets (k=None), fallback phrases
      (their synthetic rows come from a corpus scan), unknown or
      over-budget footprints — ``groupBy(shard, slice).applyInPandas``.

    Both routes run the same kernel closure over the same rows."""
    if index.segments is None:
        index.build_segments()
    terms = set().union(*(p.terms for p in plans))
    terms |= {(ph.stream, ph.text) for ph in desc["gram_phrases"]}
    seg = index.segments.filter(_segment_filter(index, terms))
    kernel = _make_kernel(plans, desc)
    pick, schema = (1, METRIC_SCHEMA) if metrics else (0, HITS_SCHEMA)
    fb = desc["fallback_phrases"]
    if desc["k"] is not None and not fb:
        footprint = index.block_footprint([k for p in plans for k in _plan_keys(p, desc)])
        if footprint is not None and footprint <= LOCAL_BLOCK_BUDGET:
            pdf = seg.toArrow().to_pandas()
            out = [kernel(g)[pick] for _, g in pdf.groupby(["shard", "slice"], sort=False)]
            return index.spark.createDataFrame(
                pd.concat(out, ignore_index=True) if out else kernel(pdf)[pick], schema
            )
    if fb:
        seg = seg.unionByName(
            phrase_fallback_segments(
                index, sorted(fb, key=lambda p: (p.stream, p.text, p.slop))
            )
        )
    return seg.groupBy("shard", "slice").applyInPandas(
        lambda pdf: kernel(pdf)[pick], schema
    )


def _phrase_term(ph: Phrase) -> str:
    """Synthetic dictionary term for a fallback phrase's posting rows. The
    NUL marker guarantees no collision with real or gram terms (tokenizer
    output never contains NUL); slop is part of the key because "a b" and
    "a b"~2 have different doc sets."""
    return f"{ph.text}\x00~{int(getattr(ph, 'slop', 0) or 0)}"


def phrase_fallback_segments(index, phrases) -> "DataFrame":
    """Distributed exact-phrase fallback — replaces the old driver-side
    collect of phrase doc-ids. Each phrase's corpus-derived doc set becomes
    synthetic posting blocks keyed by ``_phrase_term(ph)``, unioned into the
    query's segment scan, so the phrase evaluates in-kernel exactly like an
    indexed gram term. No match-set-sized data ever reaches the driver; the
    phrase scan's output flows executor-to-executor through the same
    one-shuffle encode the build uses. (Reference analogue: once planned, a
    phrase is an ordinary row — RowSet semantics.)"""
    from functools import reduce as _reduce

    from bitfunnel_spark.operators.segments import build_segments

    parts = []
    for ph in phrases:
        docs = _phrase_doc_ids(index, ph, None)
        parts.append(
            docs.join(index.doc_stats, "doc_id").select(
                F.lit(_phrase_term(ph)).alias("term"),
                F.lit(ph.stream).alias("stream"),
                "doc_id",
                F.lit(1).alias("tf"),
                "doclen",
                "shard",
                "slice",
            )
        )
    postings = _reduce(lambda a, b: a.unionByName(b), parts)
    return build_segments(postings, index.avgdl, index.config)


def use_gram_phrase(index, ph: Phrase) -> bool:
    """True when the phrase matches via an indexed n-gram term (reference
    parity: grams up to maxGramSize are ordinary terms — Document.cpp:
    152-165): body-stream phrase, length within config.max_gram_size, and
    the positional path (which subsumes grams) not active."""
    return (
        1 < len(ph.tokens) <= int(getattr(index.config, "max_gram_size", 1))
        and ph.stream == "body"
        and getattr(ph, "slop", 0) == 0  # gram postings encode exact adjacency only
        and not use_positional_phrases(index)
    )


def use_positional_phrases(index) -> bool:
    """Phrases run in-kernel from stored positions iff the segments
    physically carry positions (fused build with positions=True) AND every
    document's positions fit the packed 20-bit field — otherwise the exact
    corpus-derived path runs, distributed, via phrase_fallback_segments."""
    return (
        bool(getattr(index.config, "positions", False))
        and bool(getattr(index, "segments_positional", True))
        and index.max_doclen < POS_SAFE_DOCLEN
    )


def _restriction_arrays(index, facts: list[str] | None) -> dict:
    """Descriptor entries for tombstones + fact sets: sorted int64 doc-id
    arrays shipped in the broadcast closure (the reference holds fact rows
    and the soft-delete row in memory the same way)."""
    out: dict = {}
    if index.tombstones:
        out["deleted"] = np.array(sorted(index.tombstones), dtype=np.int64)
    if facts:
        allow = index.fact_doc_ids(facts)
        out["allow"] = allow
    return out


def _descriptor(
    index, plans: list[QueryPlan], facts: list[str] | None = None,
    similarity: str = "bm25", k: int | None = None,
    after: tuple[float, int] | None = None,
) -> dict:
    """The kernel descriptor for a query log: per-query (weight·boost) maps,
    phrase routes, scoring constants, restriction arrays, k and cursor."""
    if getattr(index, "_restrict_docs", None) is not None:
        # a doc-metadata restriction (ES range filter) is a column
        # predicate only where postings are columnar rows — the
        # declarative executor serves it; silently ignoring it here would
        # return unfiltered results
        raise ValueError(
            "_restrict_docs is served by the declarative executor "
            "(plans/executor); route range-filtered queries there"
        )
    # driver-resident hash dictionary (TermTable analogue) when it fits,
    # else one filtered collect — index.idf_for_keys; query-time boosts
    # fold into each query's map here so every downstream scorer/bound sees
    # (idf·boost). Non-BM25 similarities (plans/scoring.py) swap the per-key
    # base weight driver-side, so the kernel scorer sees (weight·boost) the
    # same way.
    from bitfunnel_spark.plans.planner import effective_idf
    from bitfunnel_spark.plans.scoring import base_weight_map, check_similarity, mu_p_map

    if similarity != "bm25":
        for plan in plans:
            check_similarity(similarity, plan, index.config.bm25.b)
    terms = set().union(*(p.terms for p in plans))
    base = base_weight_map(index.idf_for_keys(terms), similarity, index.n_docs)
    mu_p: dict = {}
    if similarity == "lm_dirichlet":
        mu_p = mu_p_map(index.ctf_for_keys(terms), index.body_total_tokens())
    gram_phrases: set = set()
    fallback: set = set()
    use_positions = use_positional_phrases(index)
    if not use_positions:
        for plan in plans:
            for ph, _neg in plan.phrases:
                # matched from the gram posting list, else exact adjacency
                # via corpus — evaluated distributed as synthetic posting
                # rows (phrase_fallback_segments), never collected
                (gram_phrases if use_gram_phrase(index, ph) else fallback).add(ph)
    return {
        "idf": [effective_idf(p, base) for p in plans],
        "gram_phrases": frozenset(gram_phrases),
        "fallback_phrases": frozenset(fallback),
        "use_positions": use_positions,
        "k": k,
        "after": None if after is None else (round(float(after[0]), 4), int(after[1])),
        "k1": index.config.bm25.k1,  # blended-synonym norm recovery (_score)
        "similarity": similarity,
        # classic/LM-similarity doclen recovery from stored partials (_score)
        "b": index.config.bm25.b,
        "avgdl": index.avgdl,
        "mu_p": mu_p,  # lm_dirichlet per-key μ·p(t) (plans/scoring.mu_p_map)
        **_restriction_arrays(index, facts),
    }


def match_kernel(index, query, facts: list[str] | None = None) -> DataFrame:
    """Unscored boolean match set via the kernel path."""
    plans = [_as_plan(query)]
    return _query_groups(index, plans, _descriptor(index, plans, facts)).select("doc_id")


def search_kernel(
    index, query, k: int = 10, facts: list[str] | None = None,
    after: tuple[float, int] | None = None, similarity: str = "bm25",
) -> DataFrame:
    """BM25 top-k via the kernel path — rank-identical to search_dataframe.

    ``after=(score, doc_id)``: deep pagination (Elasticsearch search_after):
    return the k results strictly after the cursor in (score desc, doc_id
    asc) order. Pages stay k-row jobs at any depth — no window over the
    full result, no growing LIMIT. Cursored queries use the exhaustive
    kernel (cursor filter after scoring); page-1 fast paths are untouched."""
    plans = [_as_plan(query)]
    desc = _descriptor(index, plans, facts, similarity, k=k, after=after)
    groups = _query_groups(index, plans, desc)
    res = groups.select("doc_id", F.round(F.col("score"), 4).alias("score"))
    return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
