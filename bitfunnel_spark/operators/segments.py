"""Posting-segment construction — the persisted index structure.

Design (SURVEY §7 stage D / north_star): postings are shuffled ONCE by
(shard, slice, term_bucket) and reduced into per-term sorted,
delta+varbyte-compressed blocks with per-block metadata (first/last doc for
range skipping, block-max BM25 partial for WAND pruning). This one shuffle
is the "tiered repartition-and-reduce merge": Spark's shuffle machinery IS
the tiered merge (map-side sort/spill → reduce-side merge), so we don't
hand-roll merge tiers.

Group-key choice (scale-critical): grouping by the full (term, stream,
shard, slice) would create one Arrow batch per term — millions of tiny
Python groups (measured 5× slower at sf0.1). Grouping by
(shard, slice, term_bucket) gives O(shards·slices·buckets) right-sized
groups; the per-term block encoding is a vectorized NumPy loop inside the
group. Raise n_slices/term_buckets with cluster size so the largest group
fits an executor.

Skew: slice is a hash of doc_id, so an ultra-common term ("def" in every
Python file) splits into n_slices independent groups — built-in salting.

Each posting also stores its BM25 partial
    partial = tf·(k1+1)/(tf + k1·(1−b+b·doclen/avgdl))
as float64 (score = idf · partial at query time). This denormalization
removes the per-query doc-table join entirely — the segment store is
self-sufficient for scoring, the way the reference's slice buffer is
self-sufficient for matching (/root/reference/src/Index/src/Slice.h:43-70).
The per-block max of partial is the block-max WAND bound (the analogue of
the reference's coarse rank-down rows, RankDownCompiler.cpp).

The segment table is partition-friendly for Iceberg/parquet: partition by
(shard, term_bucket) → a query's `term_key IN (...)` prunes partitions, and
parquet min/max stats on `term_key` prune row groups (rows are written
key-clustered). Segments are keyed by hashed term keys, not strings — see
the TERM KEY note below.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.config import BuildConfig
from bitfunnel_spark.operators.codec import varbyte_encode_arr

# Segments are keyed by a 64-bit TERM KEY (XXH64 chained over
# (stream, term)), not by the strings themselves — exactly the reference's
# TermTable design (Term text is hashed at ingestion and never retained:
# /root/reference/inc/BitFunnel/Term.h:44-47, TermTable keys are
# Term::Hash). The build shuffle then carries one int64 instead of two
# strings (measured as the dominant shuffle payload), the query-time
# segment filter is a pushdown-friendly integer IN-list, and the
# human-readable dictionary (term_key → term, stream) is a separate,
# vocabulary-sized statistics artifact (statistics.term_dictionary) that
# the serve path never touches.
SEGMENT_SCHEMA = (
    "term_key long, shard int, slice int, term_bucket int, "
    "block_id int, n int, first_doc long, last_doc long, max_partial double, "
    "min_partial double, max_tf int, "
    "enc string, docs_vb binary, tfs_vb binary, partials binary, pos_vb binary"
)
_SEGMENT_COLS = [
    "term_key", "shard", "slice", "term_bucket", "block_id",
    "n", "first_doc", "last_doc", "max_partial", "min_partial", "max_tf", "enc",
    "docs_vb", "tfs_vb", "partials", "pos_vb",
]

# doc-id encodings routed by term treatment (operators/treatments.py ≈ the
# reference's ITermTreatment row configurations):
#   vb    — delta + varbyte blocks (MID terms; the default)
#   raw   — raw little-endian int64 doc ids (RARE terms: short lists, zero
#           decode cost, no compression benefit at this size)
#   gap32 — fixed-width uint32 gaps relative to the block's first_doc
#           (DENSE terms: tiny gaps, branch-free frombuffer+cumsum decode;
#           these lists are also demoted from driving intersections)
ENC_VB, ENC_RAW, ENC_GAP32 = "vb", "raw", "gap32"
_ENC_NAMES = (ENC_VB, ENC_RAW, ENC_GAP32)

# Packed build-shuffle layout (the measured scaling bottleneck is bytes
# moved through the exchange — BENCH.md audit trail): the group key
# (shard, slice, term_bucket) packs into ONE int32 `gkey` and
# (doc_id, position) into ONE int64 `docpos`, so a shuffled occurrence is
# 4 fixed-width columns (gkey, term_key, docpos, doclen) instead of 7 —
# ~40% fewer UnsafeRow bytes through the exchange + sort, and ~40% less
# Arrow IPC into the kernel. Positions clamp to 2^POS_BITS - 1: indexes
# whose documents can exceed that route phrases to the exact corpus-scan
# path anyway (plans/kernel.use_positional_phrases), so a clamped position
# is never consulted. Capacity: 256 shards × 2048 slices × 2048 buckets,
# doc_id < 2^43 — raise the field widths alongside a cluster that exceeds
# them (asserted in build_segments_fused).
GK_SHARD_SHIFT = 22
GK_SLICE_SHIFT = 11
GK_MASK = (1 << 11) - 1


def _term_key_py(stream: str, term: str) -> int:
    """64-bit term key: XXH64 chained over (stream, term) — EXACTLY what the
    executor-side `F.xxhash64(stream, term)` computes (native, codegen'd,
    vectorized; computing the key per token occurrence must be cheap — an
    md5-based key was measured to dominate the build's encode stage). The
    driver-side planner mirrors it in pure Python (functions/xxh64.py,
    verified bit-exact) for filter pushdown. A 64-bit collision merges two
    posting lists with probability ~2.7e-2 at 10^9 distinct terms across the
    whole vocabulary (birthday bound) — the same accepted-risk model as the
    reference's hashed TermTable (Term.h:42-61, MurmurHash of the text)."""
    from bitfunnel_spark.functions.xxh64 import spark_xxhash64_strings

    return spark_xxhash64_strings(stream, term)


def term_key_col(stream_col, term_col):
    """Spark-side mirror of :func:`_term_key_py` (the native hash)."""
    return F.xxhash64(stream_col, term_col)


def _term_bucket_py(term_key: int, term_buckets: int) -> int:
    """Segment-store partition bucket — a pure function of the term key."""
    return term_key % term_buckets


def term_bucket_col(term_key_col_, term_buckets: int):
    """Spark-side mirror of :func:`_term_bucket_py`."""
    return F.pmod(term_key_col_, F.lit(term_buckets)).cast("int")


def _encode_group(
    pdf: pd.DataFrame, block_size: int, k1: float, b: float, avgdl: float,
    rare_frac: float = 0.0, dense_frac: float = float("inf"),
) -> pd.DataFrame:
    """Encode all terms of one (shard, slice, term_bucket) group of POSTINGS
    (tf already computed — the wordcount path)."""
    return _encode_frame(
        pdf, has_tf=True, block_size=block_size, k1=k1, b=b, avgdl=avgdl,
        rare_frac=rare_frac, dense_frac=dense_frac,
    )


def _encode_frame(
    pdf: pd.DataFrame, has_tf: bool, block_size: int, k1: float, b: float, avgdl: float,
    rare_frac: float = 0.0, dense_frac: float = float("inf"),
) -> pd.DataFrame:
    """Vectorized group encoder — no per-block Python work beyond buffer
    slicing, and no pandas string sorting: terms/streams are factorized to
    int codes (C-speed) and ordered with one integer np.lexsort; run
    boundaries are integer comparisons; one varbyte pass encodes ALL doc
    gaps (reset to absolute at each block start, so each block is
    independently decodable) and blocks are byte-ranges of the shared
    buffer. (Both the per-block encode-call loop and the string
    sort_values/str.cat formulations were measured build bottlenecks.)
    """
    n_in = len(pdf)
    if n_in == 0:
        return pd.DataFrame({c: [] for c in _SEGMENT_COLS})
    shard = int(pdf["shard"].iloc[0])
    slc = int(pdf["slice"].iloc[0])
    bucket = int(pdf["term_bucket"].iloc[0])
    docs = pdf["doc_id"].to_numpy().astype(np.int64)
    dls = pdf["doclen"].to_numpy().astype(np.float64)
    rk = pdf["term_key"].to_numpy().astype(np.int64)  # run key = term key
    order = np.lexsort((docs, rk))
    docs, rk, dls = docs[order], rk[order], dls[order]
    if has_tf:
        tfs = pdf["tf"].to_numpy().astype(np.int64)[order]
    else:
        # collapse duplicate (run key, doc) occurrences into tf counts
        change = np.concatenate(([True], (rk[1:] != rk[:-1]) | (docs[1:] != docs[:-1])))
        pstarts = np.flatnonzero(change)
        tfs = np.diff(np.concatenate((pstarts, [len(docs)]))).astype(np.int64)
        docs, rk, dls = docs[pstarts], rk[pstarts], dls[pstarts]
    enc = _encode_posting_arrays(
        docs, tfs, dls, rk, block_size, k1, b, avgdl,
        rare_df_frac=rare_frac, dense_df_frac=dense_frac,
        n_docs_group=int(np.unique(docs).size),
    )
    out = pd.DataFrame(
        {
            "term_key": enc["run_keys"],
            "shard": shard,
            "slice": slc,
            "term_bucket": bucket,
            "block_id": enc["block_id"].astype(np.int32),
            "n": enc["n"].astype(np.int32),
            "first_doc": enc["first_doc"],
            "last_doc": enc["last_doc"],
            "max_partial": enc["max_partial"],
            "min_partial": enc["min_partial"],
            "max_tf": enc["max_tf"],
            "enc": enc["enc"],
            "docs_vb": enc["docs_vb"],
            "tfs_vb": enc["tfs_vb"],
            "partials": enc["partials"],
            "pos_vb": enc["pos_vb"],
        }
    )
    return out[_SEGMENT_COLS]


def build_segments(postings: DataFrame, avgdl: float, config: BuildConfig) -> DataFrame:
    """postings (term, stream, doc_id, tf, doclen, shard, slice) → segment blocks.

    One shuffle (the applyInPandas groupBy); encoding is Arrow-batched NumPy.
    """
    bm = config.bm25
    bs = config.block_size
    k1, b = bm.k1, bm.b
    rare, dense = config.rare_df_frac, config.dense_df_frac

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_group(pdf, bs, k1, b, avgdl, rare, dense)

    key = term_key_col(F.col("stream"), F.col("term"))
    withb = postings.select(
        key.alias("term_key"),
        "doc_id", "tf", "doclen", "shard", "slice",
        term_bucket_col(key, config.term_buckets).alias("term_bucket"),
    )
    return withb.groupBy("shard", "slice", "term_bucket").applyInPandas(fn, SEGMENT_SCHEMA)


def _encode_token_table(
    tbl, block_size: int, k1: float, b: float, avgdl: float, positions: bool = False,
    rare_frac: float = 0.0, dense_frac: float = float("inf"),
):
    """Arrow-native fused-path group encode (applyInArrow): token
    occurrences arrive as a pyarrow Table and are factorized with
    pc.dictionary_encode (C++), ordered with one integer np.lexsort, tf'd by
    run-length, and block-encoded by the shared NumPy pipeline — NO pandas
    conversion, so the 10^7-row JVM→Python boundary never materializes
    per-row Python string objects (measured as the dominant, worst-scaling
    cost of the pandas kernel)."""
    import pyarrow as pa

    if tbl.num_rows == 0:
        return pa.table({c: [] for c in _SEGMENT_COLS}, schema=_segment_pa_schema())
    from bitfunnel_spark.config import POS_BITS

    rk = tbl["term_key"].combine_chunks().to_numpy().astype(np.int64)
    dls = tbl["doclen"].combine_chunks().to_numpy().astype(np.float64)
    if "gkey" in tbl.column_names:
        # packed layout (see GK_* note): one int32 group key, one int64
        # (doc, pos). Sorting by docpos IS sorting by (doc, pos) — doc is
        # the high field — so the packed path needs one fewer sort key.
        g = int(tbl["gkey"][0].as_py())
        shard = g >> GK_SHARD_SHIFT
        slc = (g >> GK_SLICE_SHIFT) & GK_MASK
        bucket = g & GK_MASK
        dp = tbl["docpos"].combine_chunks().to_numpy().astype(np.int64)
        order = np.lexsort((dp, rk))
        dp, rk, dls = dp[order], rk[order], dls[order]
        if positions:
            docs = dp >> np.int64(POS_BITS)
            pos = dp & np.int64((1 << POS_BITS) - 1)
        else:
            docs, pos = dp, None
    else:
        shard = tbl["shard"][0].as_py()
        slc = tbl["slice"][0].as_py()
        bucket = tbl["term_bucket"][0].as_py()
        docs = tbl["doc_id"].combine_chunks().to_numpy().astype(np.int64)
        if positions:
            pos = tbl["pos"].combine_chunks().to_numpy().astype(np.int64)
            order = np.lexsort((pos, docs, rk))
            pos = pos[order]
        else:
            pos = None
            order = np.lexsort((docs, rk))
        docs, rk, dls = docs[order], rk[order], dls[order]
    change = np.concatenate(([True], (rk[1:] != rk[:-1]) | (docs[1:] != docs[:-1])))
    pstarts = np.flatnonzero(change)
    tfs = np.diff(np.concatenate((pstarts, [len(docs)]))).astype(np.int64)
    docs, rk, dls = docs[pstarts], rk[pstarts], dls[pstarts]
    enc = _encode_posting_arrays(
        docs, tfs, dls, rk, block_size, k1, b, avgdl,
        occ_pos=pos,
        posting_occ_starts=pstarts if positions else None,
        rare_df_frac=rare_frac, dense_df_frac=dense_frac,
        n_docs_group=int(np.unique(docs).size),
    )
    return pa.table(
        {
            "term_key": pa.array(enc["run_keys"].astype(np.int64)),
            "shard": pa.array(np.full(len(enc["block_id"]), shard, dtype=np.int32)),
            "slice": pa.array(np.full(len(enc["block_id"]), slc, dtype=np.int32)),
            "term_bucket": pa.array(np.full(len(enc["block_id"]), bucket, dtype=np.int32)),
            "block_id": pa.array(enc["block_id"].astype(np.int32)),
            "n": pa.array(enc["n"].astype(np.int32)),
            "first_doc": pa.array(enc["first_doc"]),
            "last_doc": pa.array(enc["last_doc"]),
            "max_partial": pa.array(enc["max_partial"]),
            "min_partial": pa.array(enc["min_partial"]),
            "max_tf": pa.array(enc["max_tf"].astype(np.int32)),
            "enc": pa.array(enc["enc"], type=pa.string()),
            "docs_vb": pa.array(enc["docs_vb"], type=pa.binary()),
            "tfs_vb": pa.array(enc["tfs_vb"], type=pa.binary()),
            "partials": pa.array(enc["partials"], type=pa.binary()),
            "pos_vb": pa.array(enc["pos_vb"], type=pa.binary()),
        },
        schema=_segment_pa_schema(),
    )


def _segment_pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_key", pa.int64()),
            ("shard", pa.int32()),
            ("slice", pa.int32()),
            ("term_bucket", pa.int32()),
            ("block_id", pa.int32()),
            ("n", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("max_partial", pa.float64()),
            ("min_partial", pa.float64()),
            ("max_tf", pa.int32()),
            ("enc", pa.string()),
            ("docs_vb", pa.binary()),
            ("tfs_vb", pa.binary()),
            ("partials", pa.binary()),
            ("pos_vb", pa.binary()),
        ]
    )


def _encode_posting_arrays(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    rk: np.ndarray,
    block_size: int,
    k1: float,
    b: float,
    avgdl: float,
    occ_pos: np.ndarray | None = None,
    posting_occ_starts: np.ndarray | None = None,
    rare_df_frac: float = 0.0,
    dense_df_frac: float = float("inf"),
    n_docs_group=0,
    run_break: np.ndarray | None = None,
    partial_in: np.ndarray | None = None,
) -> dict:
    """Core block encoder over postings sorted by (run key, doc_id):
    returns per-block metadata arrays + buffer slices. Shared by the pandas
    and Arrow kernels.

    Treatment routing (ITermTreatment analogue): each run's doc encoding is
    chosen by its GROUP-LOCAL df fraction run_len / n_docs_group — slice is
    a uniform hash of doc_id, so the local fraction is an unbiased estimate
    of the global df/N without needing the global dictionary at encode time
    (the fused build has no term stats yet). rare → raw int64, dense →
    fixed-width uint32 gaps (demoted to vb if any gap overflows 32 bits),
    mid → delta+varbyte. With the default thresholds (no n_docs_group)
    everything is vb.

    Positional postings: when `occ_pos` (per-occurrence positions, sorted
    within each posting) and `posting_occ_starts` (occurrence index where
    each posting's positions begin) are given, each block also carries its
    postings' positions delta+varbyte encoded (first position absolute per
    posting; per-posting counts are the tfs, so no extra length table)."""
    n_rows = len(docs)
    if partial_in is not None:
        # segment-level merge path: partials were computed at the original
        # encode (same epoch avgdl) — reusing them bit-exactly beats any
        # doclen round-trip reconstruction
        partial = partial_in
    else:
        partial = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    if run_break is not None:
        # caller-supplied run boundaries (multi-group partition encode: a
        # run breaks on (shard, slice, bucket, term_key), not term_key alone)
        run_starts = np.flatnonzero(run_break)
    else:
        run_starts = np.flatnonzero(np.concatenate(([True], rk[1:] != rk[:-1])))
    run_ends = np.concatenate((run_starts[1:], [n_rows]))
    run_lens = run_ends - run_starts
    nblk = (run_lens + block_size - 1) // block_size
    run_of_block = np.repeat(np.arange(run_starts.size), nblk)
    block_id = np.arange(int(nblk.sum())) - np.repeat(np.cumsum(nblk) - nblk, nblk)
    blk_start = run_starts[run_of_block] + block_id * block_size
    blk_end = np.minimum(blk_start + block_size, run_ends[run_of_block])
    gaps = np.empty(n_rows, dtype=np.uint64)
    gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[blk_start] = docs[blk_start].astype(np.uint64)

    # --- treatment → per-run doc encoding class (0=vb, 1=raw, 2=gap32) ----
    # n_docs_group: scalar (single-group encode) or per-run array (multi-
    # group partition encode) — the treatment denominator
    enc_run = np.zeros(run_starts.size, dtype=np.int8)
    denom = np.asarray(n_docs_group, dtype=np.float64)
    if run_starts.size and (denom.ndim > 0 or float(denom) > 0):
        if denom.ndim == 0:
            frac = run_lens / float(denom)
        else:
            frac = run_lens / np.maximum(denom, 1.0)
        enc_run[frac < rare_df_frac] = 1
        dense = frac > dense_df_frac
        if dense.any():
            # gap32 stores gaps relative to the block's first_doc; a run
            # with any intra-block gap >= 2^32 stays varbyte
            rel = gaps.copy()
            rel[blk_start] = 0
            run_gap_max = np.maximum.reduceat(rel, run_starts)
            enc_run[dense & (run_gap_max < (1 << 32))] = 2
    enc_blk = enc_run[run_of_block]
    rid_row = np.repeat(np.arange(run_starts.size), run_lens)
    enc_row = enc_run[rid_row]

    # vb buffer: one varbyte pass over ONLY the vb-class rows; cumsum of a
    # full-length byte-count array (0 for other classes) keeps block slicing
    # by [blk_start, blk_end) valid because a block is single-class
    vb_rows = enc_row == 0
    dbuf, dnb = varbyte_encode_arr(gaps[vb_rows])
    nb_full = np.zeros(n_rows, dtype=np.int64)
    nb_full[vb_rows] = dnb
    doff = np.concatenate(([0], np.cumsum(nb_full)))
    dbytes = dbuf.tobytes()
    # raw buffer (rare runs): absolute little-endian int64 doc ids
    raw_rows = enc_row == 1
    rawbytes = docs[raw_rows].astype("<i8").tobytes() if raw_rows.any() else b""
    nb_raw = np.zeros(n_rows, dtype=np.int64)
    nb_raw[raw_rows] = 8
    roff = np.concatenate(([0], np.cumsum(nb_raw)))
    # gap32 buffer (dense runs): uint32 gaps, block-start gap = 0 (decode
    # adds the block's first_doc metadata back)
    gap_rows = enc_row == 2
    if gap_rows.any():
        rel = gaps.copy()
        rel[blk_start] = 0
        gapbytes = rel[gap_rows].astype("<u4").tobytes()
    else:
        gapbytes = b""
    nb_gap = np.zeros(n_rows, dtype=np.int64)
    nb_gap[gap_rows] = 4
    goff = np.concatenate(([0], np.cumsum(nb_gap)))

    def _doc_slice(i: int) -> bytes:
        s, e = blk_start[i], blk_end[i]
        c = enc_blk[i]
        if c == 0:
            return dbytes[doff[s] : doff[e]]
        if c == 1:
            return rawbytes[roff[s] : roff[e]]
        return gapbytes[goff[s] : goff[e]]

    tbuf, tnb = varbyte_encode_arr(tfs.astype(np.uint64))
    toff = np.concatenate(([0], np.cumsum(tnb)))
    tbytes = tbuf.tobytes()
    pbytes = partial.tobytes()
    if occ_pos is not None:
        occ_bounds = np.concatenate((posting_occ_starts, [len(occ_pos)]))
        pgaps = np.empty(len(occ_pos), dtype=np.uint64)
        pgaps[1:] = (occ_pos[1:] - occ_pos[:-1]).astype(np.uint64)
        pgaps[posting_occ_starts] = occ_pos[posting_occ_starts].astype(np.uint64)
        gbuf, gnb = varbyte_encode_arr(pgaps)
        poff = np.concatenate(([0], np.cumsum(gnb)))  # NOT goff — _doc_slice reads goff lazily
        gbytes = gbuf.tobytes()
        # block's positions = occurrence span of its postings
        blo = poff[occ_bounds[blk_start]]
        bhi = poff[occ_bounds[blk_end]]
        pos_vb = [gbytes[a:c] for a, c in zip(blo, bhi)]
    else:
        pos_vb = [b""] * len(block_id)
    return {
        "run_keys": rk[run_starts][run_of_block],
        "blk_start": blk_start,  # per-block row index — callers slice aux arrays
        "block_id": block_id,
        "n": blk_end - blk_start,
        "first_doc": docs[blk_start],
        "last_doc": docs[blk_end - 1],
        "max_partial": np.maximum.reduceat(partial, blk_start),
        "min_partial": np.minimum.reduceat(partial, blk_start),
        # per-block integer tf max: the dot_tf (sparse dot-product) block
        # upper bound is w·max_tf — BM25 partials cannot bound w·tf
        "max_tf": np.maximum.reduceat(tfs, blk_start).astype(np.int32),
        "enc": [_ENC_NAMES[c] for c in enc_blk],
        "docs_vb": [_doc_slice(i) for i in range(len(block_id))],
        "tfs_vb": [tbytes[a:c] for a, c in zip(toff[blk_start], toff[blk_end])],
        "partials": [pbytes[8 * a : 8 * c] for a, c in zip(blk_start, blk_end)],
        "pos_vb": pos_vb,
    }


def build_segments_fused(corpus: DataFrame, avgdl: float, config: BuildConfig) -> DataFrame:
    """corpus → segment blocks in ONE shuffle — the scale build path.

    The wordcount path shuffles twice (token→posting agg exchange, then the
    applyInPandas exchange) and tempts callers into materializing row-form
    postings — which nobody can afford at 100 TB. Here exploded token
    occurrences shuffle straight to their (shard, slice, term_bucket)
    reducer and tf is computed inside the encode kernel
    (:func:`_encode_token_partition`); row-form postings never exist.
    Shuffle volume is token-granularity (~1.5× posting rows) but there is
    only one exchange and no 4-column agg hash table, and each shuffled row
    is 4 fixed-width ints — (gkey int32, term_key int64, docpos int64,
    doclen int32); no strings (TERM KEY note above), group key and
    (doc, pos) bit-packed (GK_* note above). The serve dictionary then
    derives from block metadata (statistics.key_stats_from_segments) at
    ~#blocks cost.

    The kernel runs via ``groupBy + applyInArrow`` (Spark 4): the group
    crosses the JVM→Python boundary as a pyarrow Table, never pandas.
    (A repartition + mapInArrow variant that skips Spark's sort-based
    grouping in favor of a whole-partition NumPy lexsort was measured
    SLOWER at high core counts — Tungsten's binary-row sort beats a 5-key
    numpy lexsort over 3M-row partitions under memory-bandwidth pressure;
    see BENCH.md audit trail — so the JVM sort stays.)
    """
    from bitfunnel_spark.operators.statistics import exploded_tokens

    bm = config.bm25
    bs = config.block_size
    k1, b = bm.k1, bm.b
    positions = config.positions
    rare, dense = config.rare_df_frac, config.dense_df_frac

    n_shards = len(config.shard_boundaries) + 1
    if n_shards > 256 or config.n_slices > GK_MASK + 1 or config.term_buckets > GK_MASK + 1:
        raise ValueError(
            "packed gkey capacity exceeded (256 shards / 2048 slices / 2048 "
            "buckets) — widen GK_* field widths for this cluster size"
        )

    def fn(tbl):
        return _encode_token_table(
            tbl, bs, k1, b, avgdl, positions=positions,
            rare_frac=rare, dense_frac=dense,
        )

    tok = exploded_tokens(corpus, config, keyed=True, packed=True)
    return tok.groupBy("gkey").applyInArrow(fn, SEGMENT_SCHEMA)


def merge_segment_blocks(
    segments: DataFrame, config: BuildConfig, tombstones=None
) -> DataFrame:
    """Segment-LEVEL tiered merge — fold interleaved blocks (main ∪
    streaming increments) into clean monotone blocks per key WITHOUT
    rescanning the corpus: one shuffle of ENCODED blocks (~2% of the token
    exchange's volume), decode + merge + re-encode per (shard, slice,
    term_bucket) group. Tombstoned doc ids are dropped physically.

    This is the Lucene-style merge the immutable-generation layout was
    designed for (the reference's slice recycling analogue): increments are
    built against the epoch's frozen avgdl, so their stored BM25 partials
    are reused BIT-EXACTLY — the merged store is byte-identical to a fused
    rebuild of the union corpus at that avgdl (tested), while the merge
    cost scales with index size, not corpus size. Epoch stats are NOT
    refreshed here; run the full `ingest.compact` at epoch boundaries."""
    bs = config.block_size
    rare, dense = config.rare_df_frac, config.dense_df_frac
    tomb = (
        np.array(sorted({int(d) for d in tombstones}), dtype=np.int64)
        if tombstones
        else None
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({c: [] for c in _SEGMENT_COLS})
        shard = int(pdf["shard"].iloc[0])
        slc = int(pdf["slice"].iloc[0])
        bucket = int(pdf["term_bucket"].iloc[0])
        has_pos = any(
            x is not None and len(bytes(x)) > 0 for x in pdf["pos_vb"]
        )
        docs_l, tfs_l, parts_l, rk_l, brk_l, pos_l = [], [], [], [], [], []
        for tk, rows in sorted(pdf.groupby("term_key", sort=False), key=lambda kv: kv[0]):
            if has_pos:
                # decode_group_positions keeps block_id order (it cannot
                # re-sort through the position spans); partials decode in
                # the SAME order, then one argsort permutes all of it —
                # spans move via a vectorized repeat-gather
                d, t, pos = decode_group_positions(rows)
                srows = rows.sort_values("block_id")
                p = (
                    np.concatenate(
                        [np.frombuffer(bytes(x), dtype=np.float64) for x in srows["partials"]]
                    )
                    if len(srows)
                    else np.empty(0, np.float64)
                )
                if d.size > 1 and np.any(np.diff(d) < 0):
                    order = np.argsort(d, kind="stable")
                    bounds = np.concatenate(([0], np.cumsum(t)))
                    starts = bounds[:-1][order]
                    lens = t[order]
                    flat = np.repeat(starts, lens) + (
                        np.arange(int(lens.sum()))
                        - np.repeat(np.cumsum(lens) - lens, lens)
                    )
                    pos = pos[flat]
                    d, t, p = d[order], t[order], p[order]
            else:
                d, t, p = decode_group(rows)
                pos = None
            if tomb is not None and d.size:
                keep = ~np.isin(d, tomb)
                if pos is not None:
                    pos = pos[np.repeat(keep, t)]
                d, t, p = d[keep], t[keep], p[keep]
            if d.size == 0:
                continue
            docs_l.append(d)
            tfs_l.append(t)
            parts_l.append(p)
            rk_l.append(np.full(d.size, int(tk), dtype=np.int64))
            b0 = np.zeros(d.size, dtype=bool)
            b0[0] = True
            brk_l.append(b0)
            if pos is not None:
                pos_l.append(pos)
        if not docs_l:
            return pd.DataFrame({c: [] for c in _SEGMENT_COLS})
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tfs_l)
        parts = np.concatenate(parts_l)
        rk = np.concatenate(rk_l)
        run_break = np.concatenate(brk_l)
        if has_pos:
            occ_pos = np.concatenate(pos_l)
            posting_occ_starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
        else:
            occ_pos = posting_occ_starts = None
        enc = _encode_posting_arrays(
            docs, tfs, np.zeros(docs.size), rk, bs, 1.0, 0.0, 1.0,
            occ_pos=occ_pos,
            posting_occ_starts=posting_occ_starts,
            rare_df_frac=rare, dense_df_frac=dense,
            n_docs_group=int(np.unique(docs).size),
            run_break=run_break,
            partial_in=parts,
        )
        return pd.DataFrame(
            {
                "term_key": enc["run_keys"],
                "shard": shard,
                "slice": slc,
                "term_bucket": bucket,
                "block_id": enc["block_id"].astype(np.int32),
                "n": enc["n"].astype(np.int32),
                "first_doc": enc["first_doc"],
                "last_doc": enc["last_doc"],
                "max_partial": enc["max_partial"],
                "min_partial": enc["min_partial"],
                "max_tf": enc["max_tf"],
                "enc": enc["enc"],
                "docs_vb": enc["docs_vb"],
                "tfs_vb": enc["tfs_vb"],
                "partials": enc["partials"],
                "pos_vb": enc["pos_vb"],
            }
        )[_SEGMENT_COLS]

    return segments.groupBy("shard", "slice", "term_bucket").applyInPandas(
        fn, SEGMENT_SCHEMA
    )


def _row_encs(rows: pd.DataFrame) -> list[str]:
    """Per-row doc encoding; tolerates stores persisted before the enc
    column existed (treated as varbyte)."""
    if "enc" in rows.columns:
        return [x if x is not None else ENC_VB for x in rows["enc"]]
    return [ENC_VB] * len(rows)


def _cumsum_with_resets(vals: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per-span cumulative sum of non-negative `vals`, restarting at each
    index in `starts` (spans' first entries are ABSOLUTE values, the rest
    deltas). One global cumsum + a carry subtraction — no per-span loop.
    Correct because vals >= 0 makes the global cumsum non-decreasing, so
    maximum.accumulate propagates exactly the latest span's carry."""
    d = np.cumsum(vals)
    if starts.size > 1:
        carry = np.zeros(vals.size, dtype=d.dtype)
        s = starts[1:]
        carry[s] = d[s - 1]
        d = d - np.maximum.accumulate(carry)
    return d


def decode_group(
    rows: pd.DataFrame, resort: bool = True
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate a term's blocks (block_id-ordered) → (docs, tfs, partials).

    ``resort=False`` keeps block order even when increment blocks
    interleave doc ranges — required by the positions path, whose flat
    occurrence stream is aligned to block order (phrase evaluation is
    order-independent; it packs (doc, pos) keys).

    BATCHED decode: all of a group's blocks decode in a constant number of
    NumPy calls (one varbyte pass over the joined tf buffers, one over the
    joined doc buffers per encoding class, one frombuffer for partials) —
    not 3 call-sets per block. Per-call NumPy overhead (~1 µs) dominates
    128-posting blocks, so per-block decoding paid ~80 ns/posting of pure
    call overhead; at 800k docs a group holds hundreds of blocks and this
    is the difference between kernel time and API time. Mixed-encoding
    groups (possible after merges across df-band boundaries) keep the
    exact per-block path."""
    from bitfunnel_spark.operators.codec import decode_doc_block, varbyte_decode

    rows = rows.sort_values("block_id")
    if not len(rows):
        e = np.empty(0, np.int64)
        return e, e, np.empty(0, np.float64)
    encs = _row_encs(rows)
    t = varbyte_decode(b"".join(bytes(x) for x in rows["tfs_vb"])).astype(np.int64)
    p = np.frombuffer(b"".join(bytes(x) for x in rows["partials"]), dtype=np.float64)
    n = rows["n"].to_numpy().astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    enc0 = encs[0]
    if all(e == enc0 for e in encs):
        joined = b"".join(bytes(x) for x in rows["docs_vb"])
        if enc0 == ENC_RAW:
            d = np.frombuffer(joined, dtype="<i8").astype(np.int64)
        elif enc0 == ENC_GAP32:
            g = np.frombuffer(joined, dtype="<u4").astype(np.int64)
            firsts = rows["first_doc"].to_numpy().astype(np.int64)
            d = _cumsum_with_resets(g, starts) + np.repeat(firsts, n)
        else:  # vb: block-start value is the absolute first doc
            gaps = varbyte_decode(joined).astype(np.int64)
            d = _cumsum_with_resets(gaps, starts)
    else:  # mixed encodings — exact per-block fallback
        d = np.concatenate(
            [
                decode_doc_block(bytes(x), e, int(f))
                for x, e, f in zip(rows["docs_vb"], encs, rows["first_doc"].tolist())
            ]
        ).astype(np.int64)
    if resort and d.size > 1 and np.any(np.diff(d) < 0):
        # blocks from streaming increments interleave doc ranges — re-sort
        # (compaction restores monotone blocks; see streaming/ingest.py)
        order = np.argsort(d, kind="stable")
        d, t, p = d[order], t[order], p[order]
    return d, t, p


def decode_group_positions(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate a term's blocks → (docs, tfs, positions).

    `positions` is the flat per-occurrence position array; posting i's
    positions are the tfs[i] entries starting at cumsum(tfs)[i-1] (each
    posting's first position is stored ABSOLUTE, the rest as deltas).
    Raises ValueError if the segment was built without positions.

    BATCHED like :func:`decode_group`: docs and tfs reuse its constant-call
    decode; position gaps decode in ONE varbyte pass over the joined pos
    buffers (per-posting resets are a property of the gap stream itself —
    the encoder stores each posting's first position absolutely — so block
    concatenation needs no per-block handling at all)."""
    from bitfunnel_spark.operators.codec import varbyte_decode

    rows = rows.sort_values("block_id")
    if not len(rows):
        e = np.empty(0, np.int64)
        return e, e, e
    d, t, _p = decode_group(rows, resort=False)
    buf = b"".join(bytes(x) for x in rows["pos_vb"] if x is not None)
    if len(buf) == 0 and t.sum() > 0:
        raise ValueError("segment has no positional postings (BuildConfig.positions=False)")
    gaps = varbyte_decode(buf).astype(np.int64)
    bounds = np.cumsum(t)
    pos = _cumsum_with_resets(gaps, np.concatenate(([0], bounds[:-1])))
    return d, t, pos
