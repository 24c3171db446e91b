"""Build pass 1 — corpus statistics (≈ `BitFunnel statistics`, SURVEY §3.2).

The reference's first pass ingests every chunk to produce a
DocumentHistogram, per-shard CumulativeTermCounts and a
DocumentFrequencyTable (/root/reference/src/Index/src/Ingestor.cpp:133-156,
DocumentFrequencyTableBuilder.cpp:40-73). Ours is a handful of declarative
DataFrame jobs over the tokenized corpus; partial (map-side) aggregation is
automatic for every groupBy here.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bitfunnel_spark.config import BuildConfig
from bitfunnel_spark.functions.tokenizer import doc_term_freqs, tokenize
from bitfunnel_spark.operators.sharding import shard_of

# Streams ≈ the reference's document zones (body 00 / title 01 / url 02 —
# /root/reference/src/Data/src/Sonnets.cpp:36-56). For source code:
#   body <- content tokens (the scoring stream), path <- path tokens,
#   lang/repo <- single-token metadata streams (filter-only, like facts —
#   /root/reference/inc/BitFunnel/Index/IFactSet.h).
BODY, PATH, LANG, REPO = "body", "path", "lang", "repo"
FILTER_STREAMS = (PATH, LANG, REPO)


def doc_stats(corpus: DataFrame, config: BuildConfig) -> DataFrame:
    """(doc_id, doclen, shard, slice, content_sha256) — doclen counts BODY tokens.

    `slice` is the intra-shard hash partition of document space (the
    parallel matching unit; config.n_slices). shard/slice are pure functions
    of (doclen, doc_id): no shuffle, survives any repartitioning.
    """
    doclen = F.size(tokenize("content", config.analyzer))
    return corpus.select(
        "doc_id",
        doclen.alias("doclen"),
        shard_of(doclen, config.shard_boundaries).alias("shard"),
        F.pmod(F.xxhash64("doc_id"), F.lit(config.n_slices)).cast("int").alias("slice"),
        "content_sha256",
    )


def postings(corpus: DataFrame, config: BuildConfig) -> DataFrame:
    """(term, stream, doc_id, tf, doclen, shard, slice) — one row per posting.

    The classic distributed wordcount: tokenize (JVM regex, codegen'd) →
    one explode to (doc, stream, token) granularity → groupBy(doc, term)
    count. Map-side partial aggregation collapses duplicate tokens before
    the exchange, so the shuffle carries ~one row per *posting*, not per
    token occurrence. (A shuffle-free per-doc higher-order-function
    formulation was tried and is O(n²)/doc — Catalyst re-evaluates derived
    arrays referenced inside lambdas; see functions/tokenizer.doc_term_freqs.)
    The reference's analogue is Document::Ingest → Shard::AddPosting
    (/root/reference/src/Index/src/Shard.cpp:396-418), which drops tf; we
    keep tf for BM25. doclen (BODY token count) is denormalized onto every
    posting so BM25 needs no join at query time.
    """
    tok = exploded_tokens(corpus, config)
    # doclen/shard/slice are functions of doc_id — adding them to the key
    # changes nothing semantically and keeps them without a join
    return tok.groupBy(
        "term", "stream", "doc_id", "doclen", "shard", "slice"
    ).agg(F.count("*").cast("int").alias("tf"))


def exploded_tokens(
    corpus: DataFrame,
    config: BuildConfig,
    with_positions: bool | None = None,
    keyed: bool = False,
    packed: bool = False,
) -> DataFrame:
    """(term, stream, doc_id, doclen, shard, slice[, pos]) — one row per
    token OCCURRENCE (duplicates not yet combined); `pos` (emitted only when
    positions are on — it rides the build shuffle) is the 0-based token
    offset within its stream (the positional-postings input — the reference
    has no positions, its phrases are n-gram rows; SURVEY §2.2). The shared
    front end of both the wordcount `postings` path and the fused
    single-shuffle segment build (operators/segments.build_segments_fused).

    ``keyed=True`` replaces the (term, stream) string pair with the int64
    ``term_key`` (segments.term_key_col) BEFORE the exchange — the fused
    build's shuffle then carries ~8 bytes instead of two variable-length
    strings per occurrence (the measured dominant shuffle payload; the
    reference likewise hashes terms at ingestion and never ships the text,
    /root/reference/inc/BitFunnel/Term.h:44-47).

    ``packed=True`` (implies keyed) additionally packs the row down to 4
    fixed-width columns for the fused build's exchange: ``gkey`` int32 =
    (shard, slice, term_bucket), ``docpos`` int64 = (doc_id, position) —
    see segments.GK_* for the bit layout and the position-clamp rationale."""
    if with_positions is None:
        with_positions = config.positions
    body_tokens = tokenize("content", config.analyzer)
    doclen = F.size(body_tokens)
    base = corpus.select(
        "doc_id",
        doclen.alias("doclen"),
        shard_of(doclen, config.shard_boundaries).alias("shard"),
        F.pmod(F.xxhash64("doc_id"), F.lit(config.n_slices)).cast("int").alias("slice"),
        body_tokens.alias("_body"),
        tokenize("path", config.analyzer).alias("_path"),
        F.lower(F.col("lang")).alias("_lang"),
        F.lower(F.col("repo")).alias("_repo"),
    )
    parts = [
        F.transform(
            "_body",
            lambda t, i: F.struct(
                t.alias("term"), F.lit(BODY).alias("stream"), i.cast("int").alias("pos")
            ),
        ),
        F.transform(
            "_path",
            lambda t, i: F.struct(
                t.alias("term"), F.lit(PATH).alias("stream"), i.cast("int").alias("pos")
            ),
        ),
        F.array(
            F.struct(
                F.col("_lang").alias("term"), F.lit(LANG).alias("stream"), F.lit(0).alias("pos")
            ),
            F.struct(
                F.col("_repo").alias("term"), F.lit(REPO).alias("stream"), F.lit(0).alias("pos")
            ),
        ),
    ]
    # indexed n-grams (reference parity: Document.cpp:152-165 posts every
    # gram up to maxGramSize as its own term): body grams "t_i .. t_{i+n-1}"
    # (space-joined — exactly the parser's Phrase.text) become ordinary
    # body-stream terms, so a fitting phrase matches via one posting list
    # NB: PySpark higher-order-function lambdas dispatch on ARITY — a
    # second (even defaulted) parameter turns them into (element, index)
    # lambdas — so n/gmax are bound via closure factories, never defaults
    def _gram_pred(gmax):
        return lambda i: i <= gmax

    def _gram_struct(n):
        return lambda i: F.struct(
            F.array_join(F.slice(F.col("_body"), i + 1, n), " ").alias("term"),
            F.lit(BODY).alias("stream"),
            i.cast("int").alias("pos"),
        )

    for n in range(2, int(getattr(config, "max_gram_size", 1)) + 1):
        gmax = F.col("doclen") - n  # last gram start (negative → none)
        starts = F.filter(
            F.sequence(F.lit(0), F.greatest(gmax, F.lit(0))), _gram_pred(gmax)
        )
        parts.append(F.transform(starts, _gram_struct(n)))
    out = base.select(
        "doc_id",
        "doclen",
        "shard",
        "slice",
        F.explode(F.concat(*parts)).alias("p"),
    )
    if packed:
        from bitfunnel_spark.config import POS_BITS
        from bitfunnel_spark.operators.segments import (
            GK_SHARD_SHIFT,
            GK_SLICE_SHIFT,
            term_bucket_col,
            term_key_col,
        )

        key = term_key_col(F.col("p.stream"), F.col("p.term"))
        gkey = (
            F.shiftleft(F.col("shard"), GK_SHARD_SHIFT)
            + F.shiftleft(F.col("slice"), GK_SLICE_SHIFT)
            + term_bucket_col(key, config.term_buckets)
        ).cast("int")
        if with_positions:
            docpos = F.shiftleft(F.col("doc_id"), POS_BITS) + F.least(
                F.col("p.pos").cast("long"), F.lit((1 << POS_BITS) - 1)
            )
        else:
            docpos = F.col("doc_id")
        return out.select(
            gkey.alias("gkey"),
            key.alias("term_key"),
            docpos.alias("docpos"),
            F.col("doclen").cast("int").alias("doclen"),
        )
    if keyed:
        from bitfunnel_spark.operators.segments import term_key_col

        cols = [
            term_key_col(F.col("p.stream"), F.col("p.term")).alias("term_key"),
            F.col("doc_id"),
            F.col("doclen"),
            F.col("shard"),
            F.col("slice"),
        ]
    else:
        cols = [
            F.col("p.term").alias("term"),
            F.col("p.stream").alias("stream"),
            F.col("doc_id"),
            F.col("doclen"),
            F.col("shard"),
            F.col("slice"),
        ]
    if with_positions:
        cols.append(F.col("p.pos").alias("pos"))
    return out.select(*cols)


def term_stats(postings_df: DataFrame, n_docs: int, config: BuildConfig) -> DataFrame:
    """(term, stream, df, idf, idf_x10, treatment) — the term dictionary.

    df counts documents (postings are already unique per (doc, term,
    stream)); idf is the BM25 idf; idf_x10 mirrors the reference's IdfX10
    (round(10*log10(N/df)) capped at 60 — /root/reference/inc/BitFunnel/Term.h:63-81);
    treatment is the df-band encoding route (operators/treatments.py ≈
    ITermTreatment).
    """
    out = postings_df.groupBy("term", "stream").agg(F.count("*").alias("df"))
    return _term_stats_select(out, n_docs, config)


def key_stats_from_segments(segments_df: DataFrame, n_docs: int, config: BuildConfig) -> DataFrame:
    """(term_key, df, idf, idf_x10, treatment) — the SERVE-path dictionary,
    derived purely from segment block metadata (df = Σ block n per key; an
    agg over ~#blocks rows). No term strings anywhere — the reference's
    TermTable is likewise hash-keyed (Term.h:44-47). The string-keyed
    analytics dictionary is :func:`term_stats_from_segments`."""
    out = segments_df.groupBy("term_key").agg(F.sum("n").cast("long").alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    idf_x10 = F.least(
        F.round(10.0 * F.log10(F.lit(float(n_docs)) / F.col("df"))), F.lit(60.0)
    ).cast("int")
    from bitfunnel_spark.operators.treatments import treatment_of

    return out.select(
        "term_key", "df", idf.alias("idf"), idf_x10.alias("idf_x10"),
        treatment_of(F.col("df"), n_docs, config).alias("treatment"),
    )


def write_dictionary(key_stats_df: DataFrame, path: str, config: BuildConfig) -> None:
    """Persist the serve dictionary bucket-partitioned for point lookups.

    Past `FullTextIndex.IDF_MAP_MAX_TERMS` the dictionary cannot live on the
    driver (at 10^9 distinct keys it is tens of GB), so per-query idf comes
    from a filtered read of THIS layout: partitioned by ``term_bucket``
    (directory pruning: a q-term query opens ≤ q of ``term_buckets``
    partition dirs) and sorted by ``term_key`` within files (parquet min/max
    row-group pruning on the IN-list). A lookup therefore reads O(q) row
    groups out of a dictionary of any size — the disk-resident analogue of
    the reference's in-memory hash TermTable (TermTable.cpp lookup by term
    hash), and the same two-predicate shape the segment store itself uses
    (plans/kernel._segment_filter)."""
    from bitfunnel_spark.operators.segments import term_bucket_col

    out = key_stats_df.withColumn(
        "term_bucket", term_bucket_col(F.col("term_key"), config.term_buckets)
    )
    (
        out.repartition("term_bucket")
        .sortWithinPartitions("term_key")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )


def read_dictionary(spark, path: str) -> DataFrame:
    """The persisted serve dictionary (see :func:`write_dictionary`).
    Assign to ``index.key_stats``; `index.idf_for_terms` adds the
    (term_bucket, term_key) predicates that make lookups prune."""
    return spark.read.parquet(path)


def term_dictionary(corpus: DataFrame, config: BuildConfig) -> DataFrame:
    """(term_key, term, stream) — the human-readable vocabulary, a separate
    statistics artifact (one distinct-agg over exploded tokens; map-side
    partial dedup shrinks the exchange to vocabulary size). The serve path
    never needs it; analytics surfaces (df/idf tables by term text) join it
    on demand."""
    from bitfunnel_spark.operators.segments import term_key_col

    tok = exploded_tokens(corpus, config, with_positions=False).select("term", "stream").distinct()
    return tok.select(
        term_key_col(F.col("stream"), F.col("term")).alias("term_key"), "term", "stream"
    )


def term_stats_from_segments(
    segments_df: DataFrame, corpus: DataFrame, n_docs: int, config: BuildConfig
) -> DataFrame:
    """String-keyed dictionary (term, stream, df, idf, idf_x10, treatment)
    for the fused build: segment-derived per-key df joined to the
    vocabulary (:func:`term_dictionary`). Lazy — the dictionary pass only
    runs when an analytics surface actually needs term text."""
    key_df = segments_df.groupBy("term_key").agg(F.sum("n").cast("long").alias("df"))
    joined = term_dictionary(corpus, config).join(key_df, "term_key").drop("term_key")
    return _term_stats_select(joined, n_docs, config)


def _term_stats_select(df_table: DataFrame, n_docs: int, config: BuildConfig) -> DataFrame:
    from bitfunnel_spark.operators.treatments import treatment_of

    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    idf_x10 = F.least(
        F.round(10.0 * F.log10(F.lit(float(n_docs)) / F.col("df"))), F.lit(60.0)
    ).cast("int")
    return df_table.select(
        "term",
        "stream",
        "df",
        idf.alias("idf"),
        idf_x10.alias("idf_x10"),
        treatment_of(F.col("df"), n_docs, config).alias("treatment"),
    )


def corpus_meta(doc_stats_df: DataFrame) -> dict:
    """Global scalars: N, avgdl, max doclen (exact). Single tiny agg.
    max_doclen gates the positional phrase path (config.POS_SAFE_DOCLEN)."""
    row = doc_stats_df.agg(
        F.count("*").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
        F.max("doclen").alias("max_doclen"),
    ).collect()[0]
    avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
    max_doclen = int(row["max_doclen"]) if row["max_doclen"] is not None else 0
    return {"n_docs": int(row["n_docs"]), "avgdl": avgdl, "max_doclen": max_doclen}
