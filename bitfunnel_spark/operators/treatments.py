"""Document-frequency-driven term treatment.

The reference maps IdfX10 → RowConfiguration — rare terms get more rows at
higher rank, ultra-common terms a private rank-0 row; pluggable policies
(TreatmentClassicBitsliced / TreatmentPrivateRank0 / ... / TreatmentOptimal
— /root/reference/inc/BitFunnel/Index/ITermTreatment.h:39-123,
src/Index/src/TreatmentPrivateSharedRank0And3.cpp:32-90,
TreatmentOptimal.cpp:37-318).

Our exact-index analogue routes df bands to posting *encodings*, CONSUMED
by the segment encoder (operators/segments._encode_posting_arrays routes
each term run to raw/vb/gap32 doc encodings from its group-local df
fraction — slice is a uniform doc hash, so the local fraction estimates the
global df/N without a dictionary pass) and by the query kernels
(plans/wand.driver_order demotes dense lists from driving intersections):

- RARE  (df/N < rare_df_frac): short plain int64 doc-id arrays — a single
  block, no compression benefit at this size, minimal decode cost. The
  analogue of the reference's "adhoc" terms whose stats aren't individually
  tracked (TermTable.cpp:395-427).
- MID   (otherwise): delta + varbyte blocks with per-block max metadata
  (block-max WAND skipping — the rank-down analogue).
- DENSE (df/N > dense_df_frac): long lists where the block structure matters
  most; candidates for bitmap encoding and for intersection-driver demotion
  (never chosen as the galloping driver). The analogue of the reference's
  private rank-0 rows for very common terms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bitfunnel_spark.config import BuildConfig

RARE, MID, DENSE = "rare", "mid", "dense"


def treatment_of(df_col: Column, n_docs: int, config: BuildConfig) -> Column:
    frac = df_col.cast("double") / float(max(n_docs, 1))
    return (
        F.when(frac < config.rare_df_frac, F.lit(RARE))
        .when(frac > config.dense_df_frac, F.lit(DENSE))
        .otherwise(F.lit(MID))
    )


# ---------------------------------------------------------------------------
# TreatmentOptimal analogue: cost-model search over treatment thresholds.
#
# The reference's TreatmentOptimal (src/Index/src/TreatmentOptimal.cpp:37-318)
# searches row configurations per IdfX10 bucket maximizing DQ (a density ×
# quality utility). Our exact-index analogue searches (rare_df_frac,
# dense_df_frac) threshold pairs minimizing the expected per-query cost of
# the encodings they induce, under a measured cost model of THIS engine's
# decode kernels (BENCH.md round-3 micro-bench, 128-posting blocks,
# operators/codec.decode_doc_block):
#
#     decode ns/posting:  vb 220   gap32 50   raw 12
#     bytes  /posting:    vb 1 + ⌈gapbits/7⌉  gap32 4  raw 8
#
# (NumPy varbyte decode is reduceat-based and branchy — 4.4× gap32 — which
# is exactly why the cost search exists: the right thresholds are a property
# of the engine's kernels, not of folklore.) A query term's expected cost =
# decode of its full posting list (worst case, no pruning credit) + IO at
# `io_ns_per_byte` (NVMe ~0.5 ns/B; pass 0 for a RAM-resident store). Terms
# are weighted uniformly — the reference's per-bucket granularity — unless a
# workload df of (term, weight) is supplied.
# ---------------------------------------------------------------------------

DECODE_NS = {"vb": 220.0, "gap32": 50.0, "raw": 12.0}

# candidate grids (df/N in basis points is exact integer arithmetic, so the
# Spark plan and the DuckDB oracle agree bit-for-bit)
RARE_BP_CANDIDATES = (5, 10, 20, 50, 100)  # 0.05% .. 1%
DENSE_BP_CANDIDATES = (200, 500, 1000, 2500, 5000)  # 2% .. 50%


def _vb_bytes_per_posting(avg_gap_col: Column) -> Column:
    """Varbyte width of the average doc-gap, in integer thresholds (no
    float log — keeps Spark and the SQL oracle exactly equal)."""
    return (
        F.when(avg_gap_col < 128, F.lit(1))
        .when(avg_gap_col < 16384, F.lit(2))
        .when(avg_gap_col < 1 << 21, F.lit(3))
        .when(avg_gap_col < 1 << 28, F.lit(4))
        .otherwise(F.lit(5))
    )


def treatment_grid(df_table, n_docs: int, io_ns_per_byte: float = 0.5):
    """Expected-cost table over the threshold-candidate grid — the
    TreatmentOptimal search as ONE declarative plan.

    `df_table`: DataFrame[(term string, df long)] (ft_df_table shape).
    Returns DataFrame[(rare_bp int, dense_bp int, decode_ns, io_ns,
    total_ns, pct_vs_best)] ordered by total cost: for each candidate
    (rare, dense) threshold pair, the expected per-query decode + IO
    nanoseconds if the dictionary's terms were encoded under it. The
    argmin row is the cost-derived treatment config. Scale shape: grid ×
    dictionary is a broadcast-joined map-side agg — |grid| rows out, no
    term-keyed shuffle.
    """
    from pyspark.sql import DataFrame  # noqa: F401 (typing only)

    spark = df_table.sparkSession
    grid = spark.createDataFrame(
        [(r, d) for r in RARE_BP_CANDIDATES for d in DENSE_BP_CANDIDATES],
        "rare_bp int, dense_bp int",
    )
    n = float(max(n_docs, 1))
    joined = df_table.crossJoin(F.broadcast(grid))
    # df/N < rare_bp/10000  ⇔  df * 10000 < rare_bp * N (exact in int64)
    df10k = F.col("df") * 10000
    enc = (
        F.when(df10k < F.col("rare_bp") * F.lit(n), F.lit("raw"))
        .when(df10k > F.col("dense_bp") * F.lit(n), F.lit("gap32"))
        .otherwise(F.lit("vb"))
    )
    # floor() in BOTH engines: Spark's cast-to-long truncates but DuckDB's
    # CAST rounds — floor is the one spelling with identical semantics
    avg_gap = F.floor(F.lit(n) / F.col("df")).cast("long")
    bytes_pp = (
        F.when(enc == "raw", F.lit(8))
        .when(enc == "gap32", F.lit(4))
        .otherwise(_vb_bytes_per_posting(avg_gap))
    )
    decode_pp = (
        F.when(enc == "raw", F.lit(DECODE_NS["raw"]))
        .when(enc == "gap32", F.lit(DECODE_NS["gap32"]))
        .otherwise(F.lit(DECODE_NS["vb"]))
    )
    per_term = joined.select(
        "rare_bp",
        "dense_bp",
        (F.col("df") * decode_pp).alias("t_decode"),
        (F.col("df") * bytes_pp * F.lit(io_ns_per_byte)).alias("t_io"),
    )
    agg = per_term.groupBy("rare_bp", "dense_bp").agg(
        F.round(F.sum("t_decode"), 2).alias("decode_ns"),
        F.round(F.sum("t_io"), 2).alias("io_ns"),
        F.round(F.sum(F.col("t_decode") + F.col("t_io")), 2).alias("total_ns"),
    )
    from pyspark.sql import Window

    best = F.min("total_ns").over(Window.partitionBy())
    return (
        agg.withColumn(
            "pct_vs_best", F.round(100.0 * (F.col("total_ns") / best - 1.0), 2)
        )
        .orderBy("total_ns", "rare_bp", "dense_bp")
    )


def treatment_grid_sql(n_docs_expr: str = "(SELECT count(*) FROM corpus)") -> str:
    """DuckDB mirror of :func:`treatment_grid` over a `dfs(term, df)` CTE —
    same integer threshold arithmetic, same rounding."""
    rare = ", ".join(f"({r})" for r in RARE_BP_CANDIDATES)
    dense = ", ".join(f"({d})" for d in DENSE_BP_CANDIDATES)
    return f"""
grid(rare_bp, dense_bp) AS (
  SELECT r.rare_bp, d.dense_bp
  FROM (VALUES {rare}) r(rare_bp) CROSS JOIN (VALUES {dense}) d(dense_bp)
),
nn(n) AS (SELECT CAST({n_docs_expr} AS DOUBLE)),
per_term AS (
  SELECT g.rare_bp, g.dense_bp,
    CASE WHEN dfs.df * 10000 < g.rare_bp * nn.n THEN 'raw'
         WHEN dfs.df * 10000 > g.dense_bp * nn.n THEN 'gap32'
         ELSE 'vb' END AS enc,
    dfs.df,
    CAST(FLOOR(nn.n / dfs.df) AS BIGINT) AS avg_gap
  FROM dfs CROSS JOIN grid g CROSS JOIN nn
),
costed AS (
  SELECT rare_bp, dense_bp,
    df * (CASE enc WHEN 'raw' THEN {DECODE_NS['raw']}
                   WHEN 'gap32' THEN {DECODE_NS['gap32']}
                   ELSE {DECODE_NS['vb']} END) AS t_decode,
    df * (CASE enc WHEN 'raw' THEN 8 WHEN 'gap32' THEN 4
          ELSE (CASE WHEN avg_gap < 128 THEN 1 WHEN avg_gap < 16384 THEN 2
                     WHEN avg_gap < 2097152 THEN 3 WHEN avg_gap < 268435456 THEN 4
                     ELSE 5 END) END) * 0.5 AS t_io
  FROM per_term
),
agg AS (
  SELECT rare_bp, dense_bp,
    ROUND(SUM(t_decode), 2) AS decode_ns,
    ROUND(SUM(t_io), 2) AS io_ns,
    ROUND(SUM(t_decode + t_io), 2) AS total_ns
  FROM costed GROUP BY rare_bp, dense_bp
)
SELECT rare_bp, dense_bp, decode_ns, io_ns, total_ns,
  ROUND(100.0 * (total_ns / MIN(total_ns) OVER () - 1.0), 2) AS pct_vs_best
FROM agg
ORDER BY total_ns, rare_bp, dense_bp"""
