"""Sketch-based operators — Misra-Gries heavy hitters over document tokens.

The reference has no sketch operators; this extends the north-star
LLM-pipeline surface (SURVEY.md §2.7) with the classic frequent-items
pipeline a training-data build needs (stopword discovery, domain
heavy-hitter capping).

Scale design (100 TB): the naive exact approach (`GROUP BY token`) shuffles
every distinct token; at web scale the vocabulary is billions of keys. The
Misra-Gries pass here bounds what crosses the network to MG_CAPACITY
candidate tokens PER PARTITION — constant, independent of data size — and
only those candidates get an exact second-pass count (filter + partial agg,
so the verify shuffle also carries just candidate keys). The two-pass
shape (sketch-prune, then exact-verify over the pruned set) mirrors the
LSH→Jaccard pattern in operators/dedup.py: the sketch decides WHAT to
count, never the reported numbers, so the output is deterministic and
exactly oracle-checkable even though MG eviction order is not.

Guarantee: a merged Misra-Gries summary with k counters undercounts any
token by at most N/(k+1) total occurrences (mergeable-summaries bound), so
every token with true count > N/k is guaranteed to survive in at least one
partition summary. With MG_CAPACITY == HH_FRACTION the candidate set is a
superset of the true heavy hitters; the exact pass then drops false
positives.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_job_spark.operators._portable import md5_int, md5_int_sql, pround
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import load_table

# Heavy hitter: token with count > N / HH_FRACTION. The MG summary needs
# capacity >= HH_FRACTION for the superset guarantee (see module docstring).
HH_FRACTION = 100
MG_CAPACITY = 100


def mg_merge(counters: dict[str, int], batch: dict[str, int], capacity: int) -> dict[str, int]:
    """Merge a batch of exact counts into a Misra-Gries summary, keeping at
    most ``capacity`` counters (Agarwal et al., mergeable summaries: add,
    then subtract the (n-k)-th smallest count and drop non-positives)."""
    for key, cnt in batch.items():
        counters[key] = counters.get(key, 0) + int(cnt)
    if len(counters) > capacity:
        ordered = sorted(counters.values())
        cut = ordered[len(counters) - capacity - 1]
        counters = {k: c - cut for k, c in counters.items() if c > cut}
    return counters


def _mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Misra-Gries over the ``token`` column; emits the
    surviving candidate tokens (counts are NOT emitted — they are sketch
    estimates; the exact pass recounts)."""
    counters: dict[str, int] = {}
    for pdf in batches:
        batch = pdf["token"].value_counts().to_dict()
        counters = mg_merge(counters, batch, MG_CAPACITY)
    yield pd.DataFrame({"token": list(counters.keys())})


@register(
    "heavy_hitter_tokens",
    oracle=rf"""
        WITH toks AS (
            SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS token
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS total FROM toks)
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM toks
        GROUP BY token
        HAVING COUNT(*) * {HH_FRACTION} > (SELECT total FROM n)
    """,
    tags=("sketch", "text", "documents"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens occurring more than N/HH_FRACTION times, with exact counts.

    Pass 1 sketches candidates per partition (mapInPandas, Arrow-batched);
    pass 2 recounts ONLY the candidates (broadcast of a bounded candidate
    set — <= MG_CAPACITY x partitions keys, independent of N).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    candidates = toks.mapInPandas(_mg_candidates, schema="token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * HH_FRACTION > F.col("total"))
        .select("token", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# HyperLogLog from first principles — portable and exactly oracle-checkable
# because the "randomness" is an md5-derived hash, not a RNG, and the
# estimator avoids pow(): register j's contribution 2^-M_j is computed as
# 1.0/(1 << M_j) (exact integer shift, exact double division), the
# harmonic sum folds in register order (pinned), and the small-range
# correction 256·ln(256/V) uses the ln both engines agree on bit-for-bit.
# The driver data exercises BOTH branches: sf0.01 (150 users) takes the
# linear-counting correction, sf0.1 (1500 users) the raw estimate.
#
# Scale shape (100 TB): per-row work is a narrow hash expression; the only
# shuffle is groupBy(register) over 256 keys after map-side partial max —
# the sketch state crossing the network is <= 256 rows per partition,
# independent of N. This is the streaming-mergeable twin of the exact
# countDistinct the same query emits for comparison.
# ---------------------------------------------------------------------------
HLL_M = 256  # registers (2^8); 28-bit hash = 8 register bits + 20 rank bits


def hll_register_ranks(df: DataFrame, key_col: str) -> DataFrame:
    """(register, m_rank) HLL state for the values of ``key_col`` — the
    shared construction behind hll_distinct_users / hll_merge_event_types
    and the streaming merge in streaming/hll.py. Map-side partial max
    means at most HLL_M rows per partition reach the exchange."""
    hv = md5_int(key_col, "hll:")
    staged = df.select(F.explode(F.array(hv)).alias("hv")).select(
        (F.col("hv") % HLL_M).alias("register"),
        (F.col("hv") / F.lit(HLL_M)).cast("long").alias("w"),
    )
    m_rank = F.when(F.col("w") == 0, F.lit(21)).otherwise(
        F.lit(21) - F.length(F.bin(F.col("w")))
    )
    return (
        staged.select("register", m_rank.alias("m_rank"))
        .groupBy("register")
        .agg(F.max("m_rank").alias("m_rank"))
    )


def hll_estimate_from_registers(ranks: dict[int, int], m: int = HLL_M) -> float:
    """Driver-side estimator — the same IEEE arithmetic as the SQL/Spark
    expression (raw harmonic estimate + linear-counting correction)."""
    n_present = len(ranks)
    present_sum = sum(1.0 / (1 << r) for _, r in sorted(ranks.items()))
    raw_e = (0.7213 / (1.0 + 1.079 / float(m))) * m * m / (
        present_sum + (m - n_present) * 1.0
    )
    import math

    if raw_e <= 2.5 * m and n_present < m:
        return m * math.log(float(m) / (m - n_present))
    return raw_e


@register(
    "hll_distinct_users",
    oracle=f"""
        WITH h AS (
            SELECT {md5_int_sql("user_id", "hll:")}
                       AS hv
            FROM events
        ),
        regs AS (
            SELECT hv % {HLL_M} AS register,
                   MAX(CASE WHEN hv // {HLL_M} = 0 THEN 21
                            ELSE 21 - LENGTH(bin(hv // {HLL_M})) END) AS m_rank
            FROM h
            GROUP BY hv % {HLL_M}
        ),
        folded AS (
            SELECT COUNT(*) AS n_present,
                   list_reduce(
                       list_prepend(0.0,
                           list(1.0 / (1 << m_rank) ORDER BY register)),
                       (acc, x) -> acc + x) AS present_sum
            FROM regs
        ),
        est AS (
            SELECT n_present,
                   (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0
                       / (present_sum + ({HLL_M} - n_present) * 1.0) AS raw_e
            FROM folded
        )
        SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
                   AS n_exact,
               CAST(n_present AS BIGINT) AS n_registers_hit,
               ROUND((CASE WHEN raw_e <= 2.5 * {HLL_M}.0 AND n_present < {HLL_M}
                           THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_present))
                           ELSE raw_e END) * 1000000.0) / 1000000.0
                   AS hll_estimate
        FROM est
    """,
    tags=("sketch", "hll", "events"),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # the register construction IS hll_register_ranks — call it instead of
    # re-implementing (one copy to keep the hash/rank formula in sync with
    # the streaming twin)
    regs = hll_register_ranks(events, "user_id").select(
        "register", F.expr("1.0D / shiftleft(1, m_rank)").alias("contrib")
    )
    folded = regs.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("register", "contrib"))),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("present_sum"),
    )
    m = float(HLL_M)
    raw_e = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m)))
        * F.lit(m)
        * F.lit(m)
        / (F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1.0))
    )
    corrected = F.when(
        (raw_e <= 2.5 * m) & (F.col("n_present") < HLL_M),
        F.lit(m) * F.log(F.lit(m) / (F.lit(HLL_M) - F.col("n_present"))),
    ).otherwise(raw_e)
    exact = events.agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        exact.crossJoin(F.broadcast(folded))
        .select(
            "n_exact",
            F.col("n_present").alias("n_registers_hit"),
            pround(corrected, 6).alias("hll_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# HLL mergeability — the property that makes the sketch a 100 TB tool:
# per-event-type register vectors are built independently (one partial-agg
# groupBy), and the ALL-types estimate is derived by MERGING those
# register maxima — never rescanning the events. That is exactly how
# per-partition / per-day HLL states combine on a cluster or in a
# streaming foreachBatch. Output: one row per event_type plus the merged
# '__union__' row, each with the exact distinct count beside the estimate.
# Same portable construction as hll_distinct_users.
# ---------------------------------------------------------------------------
_HLL_EST_SQL = f"""
    ROUND((CASE WHEN (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0
                     / (present_sum + ({HLL_M} - n_present) * 1.0)
                     <= 2.5 * {HLL_M}.0 AND n_present < {HLL_M}
                THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_present))
                ELSE (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0
                     / (present_sum + ({HLL_M} - n_present) * 1.0) END)
          * 1000000.0) / 1000000.0
"""


@register(
    "hll_merge_event_types",
    oracle=f"""
        WITH h AS (
            SELECT event_type, user_id,
                   {md5_int_sql("user_id", "hll:")}
                       AS hv
            FROM events
        ),
        regs AS (
            SELECT event_type, hv % {HLL_M} AS register,
                   MAX(CASE WHEN hv // {HLL_M} = 0 THEN 21
                            ELSE 21 - LENGTH(bin(hv // {HLL_M})) END) AS m_rank
            FROM h
            GROUP BY event_type, hv % {HLL_M}
        ),
        merged AS (
            SELECT '__union__' AS event_type, register, MAX(m_rank) AS m_rank
            FROM regs GROUP BY register
        ),
        allregs AS (
            SELECT event_type, register, 1.0 / (1 << m_rank) AS contrib
            FROM (SELECT * FROM regs UNION ALL SELECT * FROM merged)
        ),
        folded AS (
            SELECT event_type, COUNT(*) AS n_present,
                   list_reduce(
                       list_prepend(0.0, list(contrib ORDER BY register)),
                       (acc, x) -> acc + x) AS present_sum
            FROM allregs GROUP BY event_type
        ),
        exact AS (
            SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM h GROUP BY event_type
            UNION ALL
            SELECT '__union__', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM h
        )
        SELECT f.event_type, e.n_exact,
               CAST(f.n_present AS BIGINT) AS n_registers_hit,
               {_HLL_EST_SQL} AS hll_estimate
        FROM folded f JOIN exact e ON e.event_type = f.event_type
    """,
    tags=("sketch", "hll", "events"),
)
def hll_merge_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hv = md5_int("user_id", "hll:")
    staged = events.select(
        "event_type", "user_id", F.explode(F.array(hv)).alias("hv")
    ).select(
        "event_type",
        "user_id",
        (F.col("hv") % HLL_M).alias("register"),
        (F.col("hv") / F.lit(HLL_M)).cast("long").alias("w"),
    )
    m_rank = F.when(F.col("w") == 0, F.lit(21)).otherwise(
        F.lit(21) - F.length(F.bin(F.col("w")))
    )
    regs = (
        staged.select("event_type", "register", m_rank.alias("m_rank"))
        .groupBy("event_type", "register")
        .agg(F.max("m_rank").alias("m_rank"))
    )
    merged = (
        regs.groupBy("register")
        .agg(F.max("m_rank").alias("m_rank"))
        .select(F.lit("__union__").alias("event_type"), "register", "m_rank")
    )
    allregs = regs.unionByName(merged).select(
        "event_type",
        "register",
        F.expr("1.0D / shiftleft(1, m_rank)").alias("contrib"),
    )
    folded = allregs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("register", "contrib"))),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("present_sum"),
    )
    m = float(HLL_M)
    raw_e = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m)))
        * F.lit(m)
        * F.lit(m)
        / (F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1.0))
    )
    corrected = F.when(
        (raw_e <= 2.5 * m) & (F.col("n_present") < HLL_M),
        F.lit(m) * F.log(F.lit(m) / (F.lit(HLL_M) - F.col("n_present"))),
    ).otherwise(raw_e)
    exact = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .unionByName(
            events.agg(F.countDistinct("user_id").alias("n_exact")).select(
                F.lit("__union__").alias("event_type"), "n_exact"
            )
        )
    )
    return exact.join(folded, "event_type").select(
        "event_type",
        "n_exact",
        F.col("n_present").alias("n_registers_hit"),
        pround(corrected, 6).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch — the third canonical stream summary beside HLL
# (distinct counts) and Misra-Gries (heavy hitters): CMS_DEPTH hash rows
# × CMS_WIDTH counters answer point frequency queries with a one-sided
# error (estimate >= true count, always). Cells are plain integer
# aggregates, the md5-derived row hashes are engine-portable, so the
# whole sketch — build AND query — is exactly oracle-checkable. The
# report joins the sketch's estimates against the exact counts of the
# CMS_REPORT_K most frequent tokens, overestimate column included (its
# non-negativity is the CMS guarantee; asserted in tests).
#
# Scale shape (100 TB): the sketch build is ONE partial-agg groupBy into
# DEPTH×WIDTH = 1024 cells — constant reduce width like the HLL
# registers and the covariance Gram groups; cells broadcast back onto
# the (tiny) report set. Mergeability across partitions/days is cell-wise
# addition — the same property the streaming HLL/MG tests exercise.
# ---------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_REPORT_K = 10


@register(
    "cms_token_counts",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS tok
            FROM documents
        ),
        cells AS (
            SELECT d, col, CAST(COUNT(*) AS BIGINT) AS c
            FROM (
                SELECT tok,
                       UNNEST(range(0, {CMS_DEPTH})) AS d
                FROM tok
            ) t
            CROSS JOIN LATERAL (SELECT CASE
                {" ".join(f"WHEN d = {d} THEN {md5_int_sql('tok', f'cms{d}:')} % {CMS_WIDTH}" for d in range(CMS_DEPTH))}
                END AS col) cc
            GROUP BY d, col
        ),
        exact AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM tok GROUP BY tok
            ORDER BY exact_cnt DESC, tok ASC
            LIMIT {CMS_REPORT_K}
        ),
        est AS (
            SELECT e.tok, e.exact_cnt, MIN(c.c) AS cms_estimate
            FROM exact e
            JOIN (SELECT e2.tok, UNNEST(range(0, {CMS_DEPTH})) AS d FROM exact e2) x
              ON x.tok = e.tok
            JOIN cells c
              ON c.d = x.d
             AND c.col = (CASE
                {" ".join(f"WHEN x.d = {d} THEN {md5_int_sql('e.tok', f'cms{d}:')} % {CMS_WIDTH}" for d in range(CMS_DEPTH))}
                END)
            GROUP BY e.tok, e.exact_cnt
        )
        SELECT tok, exact_cnt, cms_estimate,
               cms_estimate - exact_cnt AS overestimate
        FROM est
    """,
    tags=("sketch", "cms", "documents"),
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point-query estimates vs exact counts for the top tokens.

    Reference parity: none (SURVEY.md §2.7); north-star sketch-family
    extension (HLL + MG + CMS).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).localCheckpoint(eager=False)
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (md5_int("tok", f"cms{d}:") % CMS_WIDTH).alias("col"),
            )
            for d in range(CMS_DEPTH)
        ]
    )
    cells = (
        toks.select(F.explode(cell_structs).alias("s"))
        .select("s.d", "s.col")
        .groupBy("d", "col")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(CMS_REPORT_K)
    )
    probes = exact.select(
        "tok", "exact_cnt", F.explode(cell_structs).alias("s")
    ).select("tok", "exact_cnt", "s.d", "s.col")
    return (
        probes.join(F.broadcast(cells), ["d", "col"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "tok",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch — equi-width binned quantile estimation over
# l_extendedprice, completing the sketch family (HLL distinct, MG/CMS
# frequency, now rank/quantile). The summary is a 256-counter histogram:
# per-partition bin counts merge by plain addition (the mergeable-summaries
# property), so at 100 TB the shuffle carries at most QD_BINS rows per
# partition regardless of data size — exact quantiles by contrast shuffle
# and sort every row. Error bound: the estimate sits inside the target
# bin, so |est - true| <= bin width = (max-min)/QD_BINS; the property test
# (tests/test_properties.py) asserts this bound against the exact quantile.
#
# Everything is integer until the final cents/100 division: prices quantize
# to cents, the bin index is integer (cents-min)*QD_BINS div span, the
# rank target is ceil(n*pct/100) in integer arithmetic — both engines run
# the identical dag, so the driver's value hash matches bit-for-bit.
#
# Scale shape: pass 1 is a min/max/count all-reduce (one broadcast row);
# pass 2 is a narrow map + partial-agg groupBy over <=QD_BINS keys; the
# cumulative-sum window runs on <=QD_BINS rows (single partition by
# design — constant size, never data-scaled).
# ---------------------------------------------------------------------------
QD_BINS = 256
QD_PCTS = (50, 90, 99)


@register(
    "sketch_quantile_bins",
    oracle=f"""
        WITH cents AS (
            SELECT CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS c
            FROM lineitem
        ),
        stats AS (
            SELECT MIN(c) AS mn, MAX(c) - MIN(c) + 1 AS span,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM cents
        ),
        bins AS (
            SELECT ((c - s.mn) * {QD_BINS}) // s.span AS bin,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cents CROSS JOIN stats s
            GROUP BY 1
        ),
        cum AS (
            SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum_cnt FROM bins
        ),
        targets AS (
            SELECT pct, (s.n_rows * pct + 99) // 100 AS target_rank
            FROM (SELECT UNNEST(ARRAY{list(QD_PCTS)}) AS pct) p
            CROSS JOIN stats s
        ),
        hits AS (
            SELECT t.pct, MIN(c.bin) AS est_bin,
                   MIN(t.target_rank) AS target_rank
            FROM targets t JOIN cum c ON c.cum_cnt >= t.target_rank
            GROUP BY t.pct
        )
        SELECT CAST(h.pct AS INTEGER) AS pct,
               (s.mn + (h.est_bin * s.span) // {QD_BINS}
                     + s.span // {2 * QD_BINS}) / 100.0 AS est_price,
               h.target_rank, s.n_rows
        FROM hits h CROSS JOIN stats s
    """,
    tags=("sketch", "quantile", "histogram", "lineitem"),
)
def sketch_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimates (P50/P90/P99 of l_extendedprice).

    Reference parity: none (SURVEY.md §2.7); north-star sketch-family
    extension (HLL + MG + CMS + quantile).
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.round(F.col("l_extendedprice") * 100.0).cast("long").alias("c")
    )
    stats = cents.agg(
        F.min("c").alias("mn"),
        (F.max("c") - F.min("c") + F.lit(1)).alias("span"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    bins = (
        cents.crossJoin(F.broadcast(stats))
        .select(F.expr(f"((c - mn) * {QD_BINS}) div span").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # <=QD_BINS rows: the single-partition window is constant-size by design.
    cum = bins.select(
        "bin", F.sum("cnt").over(Window.orderBy("bin")).alias("cum_cnt")
    )
    targets = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(p) for p in QD_PCTS])).alias("pct"))
        .crossJoin(F.broadcast(stats))
        .select("pct", F.expr("(n_rows * pct + 99) div 100").alias("target_rank"))
    )
    hits = (
        cum.join(F.broadcast(targets), F.col("cum_cnt") >= F.col("target_rank"))
        .groupBy("pct")
        .agg(
            F.min("bin").alias("est_bin"),
            F.min("target_rank").alias("target_rank"),
        )
    )
    return hits.crossJoin(F.broadcast(stats)).select(
        F.col("pct").cast("int").alias("pct"),
        (
            F.expr(f"mn + (est_bin * span) div {QD_BINS} + span div {2 * QD_BINS}")
            / F.lit(100.0)
        ).alias("est_price"),
        "target_rank",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# HLL SET ALGEBRA — intersection by inclusion–exclusion:
# |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where est(A ∪ B) comes from the
# register-wise MAX merge (the only set operation HLL supports natively).
# This is how sketch stores answer "users who did BOTH X and Y" without
# touching raw data twice; the error compounds (three estimates), which
# is exactly why the query reports the exact intersection beside it.
# All register folds use the ordered-sum trick so the float sums are
# bit-identical across engines; the final expression is one fixed dag.
# ---------------------------------------------------------------------------
HLL_IX_PAIRS = (("view", "click"), ("view", "purchase"), ("click", "error"))


def _hll_ix_oracle() -> str:
    def fold(src: str) -> str:
        return f"""(
            SELECT COUNT(*) AS n_present,
                   list_reduce(
                       list_prepend(0.0, list(1.0 / (1 << m_rank) ORDER BY register)),
                       (acc, x) -> acc + x) AS present_sum
            FROM {src}
        )"""

    def est(alias: str) -> str:
        return _HLL_EST_SQL.replace("present_sum", f"{alias}.present_sum").replace(
            "n_present", f"{alias}.n_present"
        )

    sql = f"""
        WITH h AS (
            SELECT event_type, user_id,
                   {md5_int_sql("user_id", "hll:")}
                       AS hv
            FROM events
        ),
        regs AS (
            SELECT event_type, hv % {HLL_M} AS register,
                   MAX(CASE WHEN hv // {HLL_M} = 0 THEN 21
                            ELSE 21 - LENGTH(bin(hv // {HLL_M})) END) AS m_rank
            FROM h
            GROUP BY event_type, hv % {HLL_M}
        )"""
    legs = []
    for i, (ta, tb) in enumerate(HLL_IX_PAIRS):
        sql += f""",
        u{i} AS (
            SELECT register, MAX(m_rank) AS m_rank FROM regs
            WHERE event_type IN ('{ta}', '{tb}') GROUP BY register
        ),
        fa{i} AS {fold(f"(SELECT register, m_rank FROM regs WHERE event_type = '{ta}')")},
        fb{i} AS {fold(f"(SELECT register, m_rank FROM regs WHERE event_type = '{tb}')")},
        fu{i} AS {fold(f"u{i}")},
        x{i} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM (
                SELECT user_id FROM h WHERE event_type = '{ta}'
                INTERSECT
                SELECT user_id FROM h WHERE event_type = '{tb}'
            )
        )"""
        legs.append(f"""
        SELECT '{ta}&{tb}' AS pair,
               (SELECT n_exact FROM x{i}) AS n_exact,
               ROUND((({est(f"fa{i}")}) + ({est(f"fb{i}")}) - ({est(f"fu{i}")}))
                     * 1000000.0) / 1000000.0 + 0.0 AS hll_intersection_estimate
        FROM fa{i}, fb{i}, fu{i}""")
    return sql + "\n        " + "\n        UNION ALL ".join(legs)


@register(
    "hll_intersection_estimate",
    oracle=_hll_ix_oracle(),
    tags=("sketch", "hll", "set-algebra", "events"),
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hv = md5_int("user_id", "hll:")
    staged = events.select("event_type", hv.alias("hv")).select(
        "event_type",
        (F.col("hv") % HLL_M).alias("register"),
        (F.col("hv") / F.lit(HLL_M)).cast("long").alias("w"),
    )
    m_rank = F.when(F.col("w") == 0, F.lit(21)).otherwise(
        F.lit(21) - F.length(F.bin(F.col("w")))
    )
    regs = (
        staged.select("event_type", "register", m_rank.alias("m_rank"))
        .groupBy("event_type", "register")
        .agg(F.max("m_rank").alias("m_rank"))
        .localCheckpoint(eager=False)  # six folds read this once
    )
    m = float(HLL_M)
    raw_e = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m)))
        * F.lit(m)
        * F.lit(m)
        / (F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1.0))
    )
    est_expr = F.when(
        (raw_e <= 2.5 * m) & (F.col("n_present") < HLL_M),
        F.lit(m) * F.log(F.lit(m) / (F.lit(HLL_M) - F.col("n_present"))),
    ).otherwise(raw_e)

    def folded(df):
        contribs = df.select(
            F.expr("1.0D / shiftleft(1, m_rank)").alias("contrib"), "register"
        )
        return contribs.agg(
            F.count(F.lit(1)).alias("n_present"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("register", "contrib"))),
                    lambda s: s["contrib"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("present_sum"),
            # Round each leg to 6dp BEFORE the inclusion-exclusion sum so the
            # arithmetic dag is identical to the oracle's per-leg
            # ROUND(..*1e6)/1e6 inside _HLL_EST_SQL — one fixed IEEE dag on
            # both engines regardless of dataset/scale factor.
        ).select(pround(est_expr, 6).alias("est"))

    out = None
    for ta, tb in HLL_IX_PAIRS:
        fa = folded(regs.filter(F.col("event_type") == ta))
        fb = folded(regs.filter(F.col("event_type") == tb))
        fu = folded(
            regs.filter(F.col("event_type").isin(ta, tb))
            .groupBy("register")
            .agg(F.max("m_rank").alias("m_rank"))
        )
        ex = (
            events.filter(F.col("event_type") == ta)
            .select("user_id")
            .intersect(
                events.filter(F.col("event_type") == tb).select("user_id")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        )
        row = (
            ex.crossJoin(F.broadcast(fa.select(F.col("est").alias("est_a"))))
            .crossJoin(F.broadcast(fb.select(F.col("est").alias("est_b"))))
            .crossJoin(F.broadcast(fu.select(F.col("est").alias("est_u"))))
            .select(
                F.lit(f"{ta}&{tb}").alias("pair"),
                "n_exact",
                pround(
                    F.col("est_a") + F.col("est_b") - F.col("est_u"), 6
                ).alias("hll_intersection_estimate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the third mergeable
# distinct-count summary beside HLL, and the one whose SET ALGEBRA is
# exact on the sketch itself: keep the K smallest hash values; the
# estimator is (K-1)/u_K with u_K the K-th smallest hash mapped to
# (0,1). Everything is md5-derived (no RNG), so both engines build the
# IDENTICAL sketch and the estimate is hash-checkable to the last bit.
#
# Scale shape (100 TB): the K smallest of a distributed set is
# TakeOrderedAndProject — each partition surrenders at most K rows, the
# driver merges K·P candidates; nothing else crosses the network. The
# sketch is mergeable (union = K smallest of the concatenation), which
# is what makes the per-event-type set operations below a constant-size
# problem after the one hashing scan.
# ---------------------------------------------------------------------------
KMV_K = 64
# (K-1) · 2^52 — the estimator numerator. hv is a 52-bit integer
# (13 md5 hex digits), so hv/2^52 ∈ (0,1) and (K-1)/u_K = KMV_NUM/hv_K;
# both factors are exactly representable doubles.
KMV_NUM = 283726776524341248.0
KMV_HEX = 13


@register(
    "kmv_distinct_users",
    oracle=f"""
        WITH hv AS (
            SELECT DISTINCT {md5_int_sql("user_id", "kmv:", KMV_HEX)} AS hv FROM events
        ),
        sk AS (SELECT hv FROM hv ORDER BY hv LIMIT {KMV_K}),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch,
                   MAX(hv) AS kth_hash
            FROM sk
        )
        SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
                   AS n_exact,
               n_sketch,
               kth_hash,
               ROUND((CASE WHEN n_sketch < {KMV_K} THEN CAST(n_sketch AS DOUBLE)
                           ELSE {KMV_NUM!r} / CAST(kth_hash AS DOUBLE) END)
                     * 1000000.0) / 1000000.0 + 0.0 AS kmv_estimate
        FROM agg
    """,
    tags=("sketch", "kmv", "events"),
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct estimate of events.user_id beside the
    exact count. n < K degenerates to the exact count (the sketch IS the
    value set) — sf0.001 exercises that branch, sf0.01+ the estimator."""
    events = load_table(spark, sf_dir, "events")
    hvs = events.select(md5_int("user_id", "kmv:", KMV_HEX).alias("hv")).distinct()
    sk = (
        hvs.orderBy("hv")
        .limit(KMV_K)  # TakeOrderedAndProject: ≤K rows leave each partition
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sketch"),
            F.max("hv").alias("kth_hash"),
        )
    )
    exact = events.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    est = F.when(
        F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(KMV_NUM) / F.col("kth_hash").cast("double"))
    return exact.crossJoin(F.broadcast(sk)).select(
        "n_exact", "n_sketch", "kth_hash", pround(est, 6).alias("kmv_estimate")
    )


def kmv_type_sketches(events: DataFrame) -> DataFrame:
    """Per-event-type KMV sketch rows (event_type, hv): the K smallest
    distinct user hashes per type. The rank-K filter plans as a
    WindowGroupLimit (asserted in test_plans.py): each partition
    pre-prunes to K rows per type BEFORE the exchange, so the shuffle
    carries ≤K·P rows no matter how many users the 100 TB scan holds."""
    from pyspark.sql import Window

    hv_rows = events.select(
        "event_type", md5_int("user_id", "kmv:", KMV_HEX).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    return (
        hv_rows.select("event_type", "hv", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hv")
    )


def _kmv_setops_oracle() -> str:
    parts = [
        f"""
        WITH hv AS (
            SELECT DISTINCT event_type,
                   {md5_int_sql("user_id", "kmv:", KMV_HEX)} AS hv
            FROM events
        ),
        sk AS (
            SELECT event_type, hv FROM (
                SELECT event_type, hv,
                       row_number() OVER (PARTITION BY event_type ORDER BY hv)
                           AS rn
                FROM hv
            ) WHERE rn <= {KMV_K}
        )"""
    ]
    selects = []
    for i, (ta, tb) in enumerate(HLL_IX_PAIRS):
        parts.append(f"""
        u{i} AS (
            SELECT DISTINCT hv FROM sk
            WHERE event_type IN ('{ta}', '{tb}')
            ORDER BY hv LIMIT {KMV_K}
        ),
        st{i} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_u, MAX(hv) AS kth FROM u{i}
        ),
        m{i} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_match FROM u{i}
            WHERE hv IN (SELECT hv FROM sk WHERE event_type = '{ta}')
              AND hv IN (SELECT hv FROM sk WHERE event_type = '{tb}')
        ),
        x{i} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM (
                SELECT user_id FROM events WHERE event_type = '{ta}'
                INTERSECT
                SELECT user_id FROM events WHERE event_type = '{tb}'
            )
        )""")
        selects.append(f"""
        SELECT '{ta}&{tb}' AS pair, n_exact, n_match,
               ROUND(((CAST(n_match AS DOUBLE) / CAST(n_u AS DOUBLE))
                      * (CASE WHEN n_u = {KMV_K}
                              THEN {KMV_NUM!r} / CAST(kth AS DOUBLE)
                              ELSE CAST(n_u AS DOUBLE) END))
                     * 1000000.0) / 1000000.0 + 0.0
                   AS kmv_intersection_estimate
        FROM st{i}, m{i}, x{i}""")
    return ",".join(parts) + " ".join(
        s if j == 0 else " UNION ALL " + s for j, s in enumerate(selects)
    )


@register(
    "kmv_set_ops_event_types",
    oracle=_kmv_setops_oracle(),
    tags=("sketch", "kmv", "set-algebra", "events"),
)
def kmv_set_ops_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra per event-type pair: the union sketch is the K
    smallest of the two sketches' union; Jaccard is estimated as the
    fraction of union-sketch values present in BOTH input sketches
    (exact on the sketch — no inclusion-exclusion error stacking like
    HLL's), and |A∩B| ≈ Ĵ · |A∪B|̂. Same pairs as
    hll_intersection_estimate so the two sketches' accuracy is directly
    comparable row-for-row.

    Scale: the per-type sketch build is a rank-K window — Spark's
    WindowGroupLimit prunes to K rows per partition BEFORE the exchange,
    so the shuffle carries ≤K·P rows; every pair op after that touches
    ≤2K-row inputs (broadcast)."""
    events = load_table(spark, sf_dir, "events")
    # every pair below reads the sketch once → pin it (lazy checkpoint)
    sk = kmv_type_sketches(events).localCheckpoint(eager=False)
    out = None
    for ta, tb in HLL_IX_PAIRS:
        ska = sk.filter(F.col("event_type") == ta).select("hv")
        skb = sk.filter(F.col("event_type") == tb).select("hv")
        u = ska.union(skb).distinct().orderBy("hv").limit(KMV_K)
        st = u.agg(
            F.count(F.lit(1)).cast("long").alias("n_u"), F.max("hv").alias("kth")
        )
        m = (
            u.join(ska.withColumnRenamed("hv", "ha"), u.hv == F.col("ha"), "semi")
            .join(skb.withColumnRenamed("hv", "hb"), u.hv == F.col("hb"), "semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
        )
        ex = (
            events.filter(F.col("event_type") == ta)
            .select("user_id")
            .intersect(events.filter(F.col("event_type") == tb).select("user_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        )
        est_u = F.when(
            F.col("n_u") == KMV_K, F.lit(KMV_NUM) / F.col("kth").cast("double")
        ).otherwise(F.col("n_u").cast("double"))
        row = (
            ex.crossJoin(F.broadcast(m))
            .crossJoin(F.broadcast(st))
            .select(
                F.lit(f"{ta}&{tb}").alias("pair"),
                "n_exact",
                "n_match",
                pround(
                    (F.col("n_match").cast("double") / F.col("n_u").cast("double"))
                    * est_u,
                    6,
                ).alias("kmv_intersection_estimate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Bloom-filter membership — the semi-join pre-filter a 100 TB join wants:
# build an m-bit / k-hash filter over the small key set ONCE (here: the
# ~18% of customers holding a >490k order), broadcast the ≤BF_M set bits,
# and probe the big side without shuffling it. The report measures the
# filter against ground truth per market segment: zero false negatives
# (structural Bloom guarantee, asserted by a property test) and the
# false-positive count the m/n/k sizing predicts ((1−e^{−kn/m})^k ≈ 3.5%
# at sf0.01's n≈270).
#
# Determinism: bit positions are md5-derived (no RNG, no partitioning
# dependence), so both engines materialize the identical bit set and
# every output count is hash-exact.
#
# Scale shape: the build side reduces to ≤BF_M distinct positions
# (groupBy over a 2048-key space, map-side partial); the probe side is
# scanned once, evaluates k array_contains against the broadcast bit
# array entirely JVM-side, and aggregates by segment — the 100 TB fact
# table never shuffles. Production sizing: m = −n·ln(p)/ln²2 bits for
# target fpr p; BF_M here is deliberately small so the sf0.01 report
# shows a measurable fpr instead of a wall of zeros.
# ---------------------------------------------------------------------------
BF_M = 2048
BF_K = 3
BF_PRICE = 490000.0


@register(
    "bloom_filter_membership",
    oracle=f"""
        WITH members AS (
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE o_totalprice > {BF_PRICE}
        ),
        bits AS (
            SELECT DISTINCT
                   CASE i WHEN 0 THEN ({md5_int_sql("custkey", "bf0:")} % {BF_M})
                          WHEN 1 THEN ({md5_int_sql("custkey", "bf1:")} % {BF_M})
                          ELSE ({md5_int_sql("custkey", "bf2:")} % {BF_M}) END AS pos
            FROM members, (SELECT unnest([0, 1, 2]) AS i)
        ),
        probe AS (
            SELECT c_mktsegment,
                   (c_custkey IN (SELECT custkey FROM members)) AS is_member,
                   (({md5_int_sql("c_custkey", "bf0:")} % {BF_M}) IN (SELECT pos FROM bits)
                    AND ({md5_int_sql("c_custkey", "bf1:")} % {BF_M}) IN (SELECT pos FROM bits)
                    AND ({md5_int_sql("c_custkey", "bf2:")} % {BF_M}) IN (SELECT pos FROM bits))
                       AS bloom_pos
            FROM customer
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_members,
               CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_pos,
               CAST(SUM(CASE WHEN bloom_pos AND NOT is_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos
        FROM probe
        GROUP BY c_mktsegment
    """,
    tags=("sketch", "bloom", "semi-join", "orders", "customer"),
)
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    members = (
        orders.filter(F.col("o_totalprice") > BF_PRICE)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    bits = (
        members.select(
            F.explode(
                F.array(*[md5_int("custkey", f"bf{i}:") % BF_M for i in range(BF_K)])
            ).alias("pos")
        )
        # collect_set dedups; a pre-distinct would just add a shuffle
        .agg(F.array_sort(F.collect_set("pos")).alias("bits"))
    )
    probe = (
        cust.select("c_custkey", "c_mktsegment")
        .crossJoin(F.broadcast(bits))
        # ground-truth join: members is DATA-scaled (~18% of customers),
        # so it must NOT carry a broadcast hint — only the <=BF_M-bit
        # array above earns one; AQE picks the join strategy here.
        .join(
            members.withColumn("is_member", F.lit(True)),
            F.col("c_custkey") == F.col("custkey"),
            "left",
        )
        .select(
            "c_mktsegment",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
            F.forall(
                F.array(*[md5_int("c_custkey", f"bf{i}:") % BF_M for i in range(BF_K)]),
                lambda p: F.array_contains(F.col("bits"), p),
            ).alias("bloom_pos"),
        )
    )
    as_int = lambda c: F.when(F.col(c), 1).otherwise(0)  # noqa: E731
    return probe.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(as_int("is_member")).cast("long").alias("n_members"),
        F.sum(as_int("bloom_pos")).cast("long").alias("n_bloom_pos"),
        F.sum(
            F.when(F.col("bloom_pos") & ~F.col("is_member"), 1).otherwise(0)
        ).cast("long").alias("n_false_pos"),
    )
