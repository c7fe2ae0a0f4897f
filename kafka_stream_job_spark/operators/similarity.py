"""Similarity search over the ``embeddings`` table (``array<float>``, 64-d)
— brute-force cosine top-k as the exact baseline, plus a sign-LSH bucketed
near-duplicate pass as the scale path (north star; SURVEY.md §7.3 step 5).

Scale design:

- **Brute force** is the correctness baseline and is deliberately written
  as broadcast(query-set) ⋈ corpus: at 100 TB the corpus side streams
  through executors once, no shuffle, and the top-k per query is a
  partial-aggregating Window over a tiny (n_queries × k) result. The dot
  product runs JVM-side via ``zip_with``/``aggregate`` — a sequential fold,
  bitwise-reproducible, which is what makes the DuckDB oracle exact.
- **Sign-LSH near-dup** buckets vectors by the sign pattern of projections
  onto deterministic md5-derived hyperplanes, then only compares within a
  bucket — the same no-cross-join discipline as MinHash-LSH in
  operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_job_spark.operators._portable import (
    idiv,
    jvm_values_df,
    md5_int,
    md5_int_sql,
    pround,
)
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import load_table

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
LSH_BITS = 12  # sign-LSH bucket width for the near-dup pass
PROBE_BITS = 6  # coarser bucket for the ANN top-k path (~corpus/64 candidates)
DIM = 64


def _dot(a, b):
    """Sequential-fold dot product in double precision (JVM-side).

    Kept as the aggregate(zip_with(...)) HOF: r13 measured an unrolled
    64-term codegen variant (same ops, same order, bit-identical) at
    3-5x SLOWER end to end (bucketed 0.67 -> 3.59 s with a quiet-host
    control) — the per-element interpreted eval is cheaper than the
    giant expression trees' compile/optimize cost at DIM=64. Refusal
    recorded in OPTIMIZATION_r13.md."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# DuckDB mirror: list_reduce fold in the same order over DOUBLE casts, so
# both engines produce bit-identical doubles pre-rounding.
_DOT_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, "
    "list_transform({a}::DOUBLE[], x -> x * x)), (acc, x) -> acc + x))"
)


# ---------------------------------------------------------------------------
# Brute-force cosine top-k: every query (vec_id < N_QUERIES) against the
# whole corpus (minus itself), rank by cosine, keep TOP_K.
# ---------------------------------------------------------------------------
_dot_qd = _DOT_SQL.format(a="q.embedding", b="d.embedding")
_norm_q = _NORM_SQL.format(a="q.embedding")
_norm_d = _NORM_SQL.format(a="d.embedding")

@register(
    "similarity_topk_cosine",
    oracle=f"""
        WITH scored AS (
            SELECT
                q.vec_id AS query_id,
                d.vec_id AS neighbor_id,
                {_dot_qd} / ({_norm_q} * {_norm_d}) AS cos_raw
            FROM embeddings q
            JOIN embeddings d ON d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT
                query_id,
                neighbor_id,
                ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
                ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "embeddings", "topk"),
    bench=True,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Corpus side rebalances (the per-pair dot product is the heavy map
    # work); the 8-row query side reads its own scan WITHOUT the
    # rebalance exchange — repartitioning 8 rows bought nothing and cost
    # a stage (guide §2.4: remove shuffles outright).
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    emb_q = load_table(spark, sf_dir, "embeddings")
    # Norms are per-ROW quantities: compute each side's norm ONCE before
    # the join instead of re-deriving both inside every joined pair (the
    # corpus row's norm was folded |queries| times, the query row's norm
    # |corpus| times — guide §1.2 "don't compute things you throw away").
    # Same sequential fold over the same doubles, so cos_raw is
    # bit-identical to the fused form (verified against the oracle).
    q = emb_q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("d_emb"),
        _norm(F.col("embedding")).alias("d_norm"),
    )
    cos_raw = _dot(F.col("q_emb"), F.col("d_emb")) / (
        F.col("q_norm") * F.col("d_norm")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("neighbor_id").asc())
    return (
        d.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_raw.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            pround(F.col("cos_raw"), 4).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Sign-LSH bucketing: hyperplane j has components ±1 derived from
# md5("<j>:<i>") parity (uniform, deterministic, engine-portable). Bucket =
# the LSH_BITS-char sign string; near-dup candidates share a bucket.
#
# The hyperplanes are FIXED, so their components are computed once at
# import time (hashlib) and embedded as literal arrays in both engines'
# plans — the earlier formulation re-derived every component with an md5
# call per element per row per hyperplane (dim × bits × rows hashes); as
# literals, bucketing is pure fused float arithmetic.
# ---------------------------------------------------------------------------
def _hyperplane(j: int) -> list[float]:
    """±1 components of hyperplane j; parity of the first hex char's
    ascii code of md5("<j>:<i>") — byte-identical to the former in-plan
    derivation, now evaluated once."""
    import hashlib

    return [
        1.0 if ord(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0]) % 2 == 1 else -1.0
        for i in range(DIM)
    ]


HYPERPLANES = [_hyperplane(j) for j in range(LSH_BITS)]


def _lsh_sign_sql(j: int) -> str:
    """Sign of the projection of `embedding` onto hyperplane j, as a Spark
    SQL fragment. One F.expr parse replaces ~70 py4j Column constructions
    per bit (64 F.lit plane components + lambda plumbing) — measured
    ~0.9 s of driver-side build time per bucketed query at 12 bits, for a
    bit-identical expression (repr-exact D-suffixed double literals, same
    zip_with/aggregate fold, same >= 0 sign test; equality verified
    row-for-row at both SFs before the swap)."""
    # repr() round-trips doubles exactly — a fixed %.1f would silently
    # round any future non-unit plane component into a DIFFERENT double
    # than F.lit(v) produced, desynchronizing the two engines at the
    # sign boundary with no error. Today's components are exactly ±1.0.
    # (r13: an unrolled 64-term codegen variant measured SLOWER — see
    # _dot's refusal note.)
    plane = ", ".join(f"{v!r}D" for v in HYPERPLANES[j])
    return (
        "CASE WHEN aggregate(zip_with(embedding, array(" + plane + "), "
        "(x, s) -> CAST(x AS DOUBLE) * s), 0.0D, (acc, x) -> acc + x) >= 0D "
        "THEN '1' ELSE '0' END"
    )


def lsh_buckets(
    spark: SparkSession, sf_dir: str, bits: int = LSH_BITS, rebalance: bool = True
) -> DataFrame:
    """(vec_id, bucket) — sign-LSH bucket assignment, all JVM-side.

    Kept as the JVM HOF expression: r13 measured an Arrow-batched
    Python twin (bit-identical sequential fold, ~50× less per-row CPU)
    at 0.667 → 1.14 s END TO END at sf0.1 — the two added Python
    pipelines (corpus + query side) cost more fixed stage overhead
    than the ~0.14 s of interpreted-fold wall they save at this data
    size. At real scan widths the per-row CPU would dominate and the
    tradeoff inverts; the refusal and the measured numbers are in
    OPTIMIZATION_r13.md.

    ``rebalance=False`` is for tiny filtered slices (e.g. the 8-row query
    set): bucketing a handful of rows does not need the under-split-scan
    repartition, and skipping it removes a whole exchange stage."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=rebalance)
    bucket = F.expr(
        "concat(" + ", ".join(_lsh_sign_sql(j) for j in range(bits)) + ")"
    )
    return emb.select("vec_id", "embedding", bucket.alias("bucket"))


def _plane_sql_literal(j: int) -> str:
    return "[" + ", ".join(str(v) for v in HYPERPLANES[j]) + "]"


_PROJ_SQL = (
    "list_reduce(list_prepend(0.0, list_transform("
    "list_zip({emb}::DOUBLE[], {plane}), "
    "p -> p[1] * p[2])), (acc, x) -> acc + x)"
)


def _bucket_sql(emb: str, n_bits: int = LSH_BITS) -> str:
    bits = ", ".join(
        "CASE WHEN "
        + _PROJ_SQL.format(emb=emb, plane=_plane_sql_literal(j))
        + " >= 0 THEN '1' ELSE '0' END"
        for j in range(n_bits)
    )
    return f"concat({bits})"


@register(
    "similarity_lsh_neardup",
    oracle=f"""
        WITH buckets AS (
            SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / ({_NORM_SQL.format(a='a.embedding')} * {_NORM_SQL.format(a='b.embedding')})
                   AS cos_raw
            FROM buckets a
            JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine
        FROM pairs
        WHERE cos_raw > 0.25
    """,
    tags=("similarity", "lsh", "embeddings"),
)
def similarity_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = lsh_buckets(spark, sf_dir)
    # r13: norms hoisted to per-ROW projections (the interpreted _norm
    # fold otherwise ran twice per candidate PAIR — guide §1.2); same
    # sequential fold over the same doubles, cos_raw bit-identical.
    a = buckets.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        _norm(F.col("embedding")).alias("norm_a"), "bucket",
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        _norm(F.col("embedding")).alias("norm_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cos_raw = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos_raw.alias("cos_raw"))
        .filter(F.col("cos_raw") > 0.25)
        .select("vec_a", "vec_b", pround("cos_raw", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# ANN top-k, bucketed (the scale path): candidates are restricted to the
# query's sign-LSH bucket (PROBE_BITS hyperplanes → ~corpus/2^bits
# candidates per query), then exact cosine + rank within the bucket. This
# is the approximate counterpart of similarity_topk_cosine: at 100 TB the
# bucket equi-join shuffles corpus rows once on a uniform key instead of
# broadcasting every query against every row; accuracy is tunable by
# PROBE_BITS (fewer bits → more candidates → higher recall).
# ---------------------------------------------------------------------------
_dot_bb = _DOT_SQL.format(a="q.embedding", b="d.embedding")
_norm_bq = _NORM_SQL.format(a="q.embedding")
_norm_bd = _NORM_SQL.format(a="d.embedding")


@register(
    "similarity_topk_bucketed",
    oracle=f"""
        WITH buckets AS (
            SELECT vec_id, embedding, {_bucket_sql('embedding', PROBE_BITS)} AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT
                q.vec_id AS query_id,
                d.vec_id AS neighbor_id,
                {_dot_bb} / ({_norm_bq} * {_norm_bd}) AS cos_raw
            FROM buckets q
            JOIN buckets d ON d.bucket = q.bucket AND d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT
                query_id,
                neighbor_id,
                ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
                ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "embeddings", "topk", "lsh"),
    bench=True,
)
def similarity_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    buckets = lsh_buckets(spark, sf_dir, bits=PROBE_BITS)
    # the 8-row query side skips the rebalance exchange (its vec_id < 8
    # filter pushes into the scan; repartitioning 8 rows was pure cost)
    # r13: norms hoisted to per-ROW projections before the join — the
    # same fix similarity_topk_cosine got in r12 but this op missed:
    # the interpreted _norm fold ran twice per candidate PAIR (stage
    # metrics showed ~4.3 s executor CPU in the join stage at sf0.1).
    # Same sequential fold over the same doubles → cos_raw bit-identical.
    q = lsh_buckets(spark, sf_dir, bits=PROBE_BITS, rebalance=False).filter(
        F.col("vec_id") < N_QUERIES
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    d = buckets.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("d_emb"),
        _norm(F.col("embedding")).alias("d_norm"),
        "bucket",
    )
    cos_raw = _dot(F.col("q_emb"), F.col("d_emb")) / (
        F.col("q_norm") * F.col("d_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        d.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", cos_raw.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            pround(F.col("cos_raw"), 4).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Array/aggregate coverage: per-label embedding norm statistics.
# ---------------------------------------------------------------------------
@register(
    "embedding_norm_stats",
    oracle=f"""
        SELECT
            label,
            COUNT(*) AS n_vecs,
            ROUND((AVG({_NORM_SQL.format(a='embedding')})) * 10000.0) / 10000.0 AS avg_norm,
            ROUND((MIN({_NORM_SQL.format(a='embedding')})) * 10000.0) / 10000.0 AS min_norm,
            ROUND((MAX({_NORM_SQL.format(a='embedding')})) * 10000.0) / 10000.0 AS max_norm
        FROM embeddings
        GROUP BY label
    """,
    tags=("similarity", "embeddings", "agg"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = _norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        pround(F.avg(norm), 4).alias("avg_norm"),
        pround(F.min(norm), 4).alias("min_norm"),
        pround(F.max(norm), 4).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# ANN top-k, IVF-style (inverted-file index): the second scale path next
# to sign-LSH bucketing. Three stages, exactly as a Faiss-style IVF:
#
#   1. COARSE QUANTIZER — centroids are a deterministic hash-sample of the
#      corpus (~1/IVF_SAMPLE_MOD of the vectors; cell count grows with the
#      corpus the way sqrt(N)-sized IVF lists should). A k-means refit
#      would move the centroids but not the plan shape; the hash-sample
#      keeps the operator fully oracle-checkable.
#   2. CELL ASSIGNMENT — every vector joins the broadcast centroid set and
#      keeps its nearest centroid (L2): one broadcast join + one shuffle
#      on vec_id for the per-vector argmin window. At 100 TB this is the
#      index-build pass, run once and persisted.
#   3. PROBE + RERANK — each query probes its IVF_NPROBE nearest cells and
#      exact-cosine-ranks only the vectors assigned there (~nprobe/cells
#      of the corpus), never the full corpus.
# ---------------------------------------------------------------------------
IVF_SAMPLE_MOD = 64  # 1-in-64 vectors become centroids
IVF_NPROBE = 2

_DIST_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
    "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
)


def _l2sq(a, b):
    """Sequential-fold squared L2 distance (JVM-side), the Spark mirror
    of _DIST_SQL. (HOF kept: see _dot's unrolling refusal.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "similarity_topk_ivf",
    oracle=f"""
        WITH centroids AS (
            SELECT vec_id AS cent_id, embedding AS c_emb
            FROM embeddings
            WHERE {md5_int_sql("vec_id", "ivf:")} % {IVF_SAMPLE_MOD} = 0
        ),
        assign AS (
            SELECT vec_id, embedding, cent_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
                WHERE e.vec_id < {N_QUERIES}
            ) WHERE rn <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a='p.q_emb', b='a.embedding')}
                   / ({_NORM_SQL.format(a='p.q_emb')}
                      * {_NORM_SQL.format(a='a.embedding')}) AS cos_raw
            FROM probes p
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id,
               ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine, rank
        FROM (
            SELECT query_id, neighbor_id, cos_raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ivf", "embeddings", "topk"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    ivf_hash = md5_int("vec_id", "ivf:")
    centroids = (
        emb.filter(ivf_hash % IVF_SAMPLE_MOD == 0)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb"))
    )

    def nearest_cells(vectors: DataFrame, n: int) -> DataFrame:
        dist = _l2sq(F.col("embedding"), F.col("c_emb"))
        w = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
        return (
            vectors.crossJoin(F.broadcast(centroids))
            .select("vec_id", "embedding", "cent_id", dist.alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
        )

    # r13: per-row norm hoist (see similarity_lsh_neardup) — the fold
    # otherwise re-ran per (probe x member) candidate pair
    assign = nearest_cells(emb, 1).select(
        "vec_id", "embedding",
        _norm(F.col("embedding")).alias("d_norm"),
        F.col("cent_id").alias("cell"),
    )
    probes = nearest_cells(emb.filter(F.col("vec_id") < N_QUERIES), IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
        F.col("cent_id").alias("p_cell"),
    )
    cos_raw = _dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_norm") * F.col("d_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        assign.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("p_cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_raw.alias("cos_raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", pround("cos_raw", 4).alias("cosine"), "rank"
        )
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd) clustering over the embedding corpus — the iterative-
# refinement pattern (like dedup_connected_components for graphs): a
# driver-side loop over a declarative per-iteration plan. Each iteration:
#   assign  — crossJoin(broadcast(centroids)) + argmin window (same shape
#             as IVF cell assignment; centroids are K rows, always tiny);
#   update  — per-dimension mean via posexplode + (cent_id, pos) partial
#             agg, reassembled with an order-pinned collect_list.
# At 100 TB: embeddings cached once, per-iteration cost is one broadcast
# join + one (K x DIM)-row aggregate; no driver-side data movement at all
# (centroids stay a DataFrame).
#
# QUANTIZED variant, which is what makes a DuckDB oracle possible: dims are
# scaled to integers up front (ROUND(x * KMEANS_SCALE)) and centroid means
# are re-rounded to integers every iteration. Every distance term is then
# an exact integer in double precision (|diff|² ≤ (2·0.6·1e4)² = 1.44e8,
# DIM·1.44e8 ≈ 9e9 « 2^53), so sums are order-free and both engines agree
# bit-for-bit — no float-summation-order caveat, unlike naive Lloyd.
# ---------------------------------------------------------------------------
KMEANS_ITERS = 3
KMEANS_SAMPLE_MOD = 100  # ~1/100 of vectors seed the initial centroids
KMEANS_SCALE = 10_000  # dim quantization: ±0.6 floats → ±6000 exact ints


def _kmeans_oracle() -> str:
    """Full 3-iteration quantized Lloyd in DuckDB CTEs, mirroring the
    Spark loop step for step (same seed filter, same argmin tiebreak,
    same per-iteration integer re-rounding)."""
    dims = f"(SELECT unnest(range(1, {DIM} + 1)) AS pos) dims"
    sql = f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> ROUND(x::DOUBLE * {KMEANS_SCALE}.0)) AS emb
            FROM embeddings
        ),
        c0 AS (
            SELECT vec_id AS cent_id, emb AS c_emb FROM e
            WHERE {md5_int_sql("vec_id", "kmeans:")}
                  % {KMEANS_SAMPLE_MOD} = 0
        )"""
    for i in range(KMEANS_ITERS + 1):  # +1: final assignment after last update
        sql += f""",
        a{i} AS (
            SELECT vec_id, emb, cent_id, dist FROM (
                SELECT vec_id, emb, cent_id, dist,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
                FROM (
                    SELECT e.vec_id, e.emb, c.cent_id,
                           list_sum(list_transform(range(1, {DIM} + 1),
                               i -> (e.emb[i] - c.c_emb[i]) * (e.emb[i] - c.c_emb[i]))) AS dist
                    FROM e CROSS JOIN c{i} c
                )
            ) WHERE rn = 1
        )"""
        if i < KMEANS_ITERS:
            sql += f""",
        c{i + 1} AS (
            SELECT cent_id, list(m ORDER BY pos) AS c_emb FROM (
                SELECT cent_id, pos, ROUND(SUM(emb[pos]) / COUNT(*)) AS m
                FROM a{i} CROSS JOIN {dims}
                GROUP BY cent_id, pos
            ) GROUP BY cent_id
        )"""
    sql += f"""
        SELECT cent_id,
               COUNT(*) AS n_members,
               CAST(SUM(CAST(dist AS BIGINT)) AS BIGINT) AS total_sq_dist
        FROM a{KMEANS_ITERS}
        GROUP BY cent_id
    """
    return sql


@register(
    "cluster_kmeans_embeddings",
    oracle=_kmeans_oracle(),
    tags=("similarity", "clustering", "iterative", "embeddings"),
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0)
        ).alias("emb"),
    )
    seed_hash = md5_int("vec_id", "kmeans:")
    cent = emb.filter(seed_hash % KMEANS_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("c_emb")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        dist = _l2sq(F.col("emb"), F.col("c_emb"))
        w = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
        return (
            emb.crossJoin(F.broadcast(centroids))
            .select("vec_id", "emb", "cent_id", dist.alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    for _ in range(KMEANS_ITERS):
        assigned = assign(cent)
        cent = (
            assigned.select("cent_id", F.posexplode("emb").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg("x"), 0).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_emb")
            )
        )

    final = assign(cent)
    return final.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("dist").cast("long")).alias("total_sq_dist"),
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (the storage/bandwidth path every 100 TB
# vector corpus takes before ANN): symmetric per-vector scaling,
# q_i = floor(v_i / (max|v| / 127) + 0.5). Outputs are exact-integer
# checksums (q_sum, q_norm2) plus the scale and the reconstruction error,
# so the whole transform is bit-portable vs the DuckDB oracle: float->double
# casts are exact, the division and floor are identical IEEE ops, and the
# error fold runs in pinned list order on both engines.
#
# Plan note: `scale` goes through an explode(array(...)) Generate barrier —
# without it CollapseProject inlines the array_max into the per-element
# lambda and the O(D) max is recomputed D times per row (the round-1
# MinHash lesson, see memory/spark-graft-gotchas).
# ---------------------------------------------------------------------------
@register(
    "embedding_int8_quantize",
    oracle="""
        WITH base AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS vec,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                       / 127.0 AS scale
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, label, vec, scale,
                   list_transform(vec,
                       x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
            FROM base WHERE scale > 0
        )
        SELECT vec_id, label, scale,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                    (a, b) -> a + b) AS BIGINT) AS q_sum,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(qv, x -> x * x)),
                    (a, b) -> a + b) AS BIGINT) AS q_norm2,
               ROUND((list_reduce(list_prepend(0.0,
                        list_transform(list_zip(vec, qv),
                            p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))),
                    (a, b) -> a + b)) * 100000000.0) / 100000000.0 AS q_err
        FROM q
    """,
    tags=("similarity", "embeddings", "quantization"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")
    staged = (
        emb.select(
            "vec_id",
            "label",
            dbl.alias("vec"),
            F.array_max(F.transform(dbl, F.abs)).alias("max_abs"),
        )
        .select(
            "vec_id",
            "label",
            "vec",
            F.explode(F.array(F.col("max_abs") / F.lit(127.0))).alias("scale"),
        )
        .filter(F.col("scale") > 0)
    )
    qv = F.transform(
        F.col("vec"),
        lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long"),
    )
    zero_l = F.lit(0).cast("long")
    return staged.select(
        "vec_id",
        "label",
        "scale",
        F.aggregate(qv, zero_l, lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform(qv, lambda x: x * x), zero_l, lambda a, x: a + x
        ).alias("q_norm2"),
        pround(
            F.aggregate(
                F.zip_with(
                    F.col("vec"),
                    qv,
                    lambda v, q: (v - q * F.col("scale"))
                    * (v - q * F.col("scale")),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            8,
        ).alias("q_err"),
    )


# ---------------------------------------------------------------------------
# Embedding covariance / Gram matrix — the single-pass statistic under
# PCA-whitening, dimensionality-reduction, and feature-correlation audits
# of an embedding corpus. Dims are quantized to integers up front
# (ROUND(x * COV_SCALE), same trick as the quantized k-means), so every
# per-pair product and sum is exact integer arithmetic — order-free,
# bit-identical across engines — and only the final normalized covariance
# divides back into doubles.
#
# Scale shape (100 TB): the upper-triangle outer product is built
# JVM-side per row (one nested `transform`, one explode — no self-join),
# then ONE partial-agg groupBy on (dim_i, dim_j): DIM*(DIM+1)/2 = 2080
# groups regardless of corpus size, so the reduce side is constant-width
# and the map side combines row outer-products locally — the same
# dataflow as a distributed BLAS syrk. Per-dim sums ride the same scan;
# the 64-row means table broadcasts back onto the 2080-row aggregate.
# ---------------------------------------------------------------------------
COV_SCALE = 1_000  # dim quantization: floats → exact integer millis


@register(
    "embedding_covariance",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(ROUND(x * {COV_SCALE}.0) AS BIGINT)) AS qa
            FROM embeddings
        ),
        el AS (
            SELECT vec_id, CAST(i AS BIGINT) AS i, qa[i] AS x
            FROM (SELECT vec_id, qa, UNNEST(range(1, 1 + len(qa))) AS i FROM q)
        ),
        pair AS (
            SELECT a.i AS dim_i, b.i AS dim_j,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a.x * b.x) AS BIGINT) AS sxy_q
            FROM el a
            JOIN el b ON a.vec_id = b.vec_id AND b.i >= a.i
            GROUP BY 1, 2
        ),
        sums AS (
            SELECT i, CAST(SUM(x) AS BIGINT) AS sx FROM el GROUP BY i
        )
        SELECT p.dim_i, p.dim_j, p.n, p.sxy_q,
               ROUND((((p.sxy_q - sa.sx * sb.sx * 1.0 / p.n) * 1.0 / p.n)
                      / {COV_SCALE * COV_SCALE}.0) * 1000000.0) / 1000000.0
                   + 0.0 AS cov
        FROM pair p
        JOIN sums sa ON sa.i = p.dim_i
        JOIN sums sb ON sb.i = p.dim_j
    """,
    tags=("embeddings", "stats", "covariance"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle quantized covariance of the embedding corpus.

    Reference parity: none (SURVEY.md §2.7); north-star embedding-
    analytics extension.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    qa = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * COV_SCALE, 0).cast("long"),
    )
    q = emb.select("vec_id", qa.alias("qa"))
    idx = F.sequence(F.lit(1), F.lit(DIM))
    prods = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.lit(DIM)),
                lambda j: F.struct(
                    i.cast("long").alias("dim_i"),
                    j.cast("long").alias("dim_j"),
                    (F.element_at(F.col("qa"), i) * F.element_at(F.col("qa"), j)).alias(
                        "xy"
                    ),
                ),
            ),
        )
    )
    pair = (
        q.select(F.explode(prods).alias("p"))
        .select("p.dim_i", "p.dim_j", "p.xy")
        .groupBy("dim_i", "dim_j")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("xy").alias("sxy_q"))
    )
    sums = (
        q.select(F.posexplode("qa").alias("i0", "x"))
        .select((F.col("i0") + 1).cast("long").alias("i"), "x")
        .groupBy("i")
        .agg(F.sum("x").alias("sx"))
    )
    sa = sums.select(F.col("i").alias("_ia"), F.col("sx").alias("sx_a"))
    sb = sums.select(F.col("i").alias("_ib"), F.col("sx").alias("sx_b"))
    cov = (
        (
            F.col("sxy_q")
            - F.col("sx_a") * F.col("sx_b") * F.lit(1.0) / F.col("n")
        )
        * F.lit(1.0)
        / F.col("n")
    ) / F.lit(float(COV_SCALE * COV_SCALE))
    return (
        pair.join(F.broadcast(sa), F.col("dim_i") == F.col("_ia"))
        .join(F.broadcast(sb), F.col("dim_j") == F.col("_ib"))
        .select("dim_i", "dim_j", "n", "sxy_q", pround(cov, 6).alias("cov"))
    )


# ---------------------------------------------------------------------------
# IVF recall calibration — joins the IVF top-k against the brute-force
# exact top-k and reports recall@k per query: the self-validation step a
# production ANN deployment runs whenever the index (nlist/nprobe) or the
# corpus distribution changes. Both inputs are this module's own
# deterministic operators, so the report is itself exactly
# oracle-checkable (rare for ANN tooling).
#
# Scale shape: both sides are (n_queries × k) rows — trivially broadcast;
# all heavy lifting happened inside the two upstream operators.
# ---------------------------------------------------------------------------
def _ivf_recall_oracle() -> str:
    from kafka_stream_job_spark.registry import REGISTRY

    exact_sql = REGISTRY["similarity_topk_cosine"].oracle
    approx_sql = REGISTRY["similarity_topk_ivf"].oracle
    return f"""
        WITH exact AS (SELECT * FROM ({exact_sql})),
        approx AS (SELECT * FROM ({approx_sql}))
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               COUNT(a.neighbor_id) * 1.0 / {TOP_K} AS recall
        FROM exact e
        LEFT JOIN approx a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """


@register(
    "ivf_recall_report",
    oracle=_ivf_recall_oracle(),
    tags=("similarity", "embeddings", "ivf", "recall"),
)
def ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    approx = similarity_topk_ivf(spark, sf_dir).select(
        F.col("query_id").alias("a_query"), F.col("neighbor_id").alias("a_neighbor")
    )
    return (
        exact.join(
            F.broadcast(approx),
            (F.col("query_id") == F.col("a_query"))
            & (F.col("neighbor_id") == F.col("a_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor").alias("n_hits"),
            (F.count("a_neighbor") * F.lit(1.0) / TOP_K).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# INCREMENTAL IVF index maintenance — the ANN lifecycle piece between
# "build the index" (similarity_topk_ivf) and "rebuild it": a delta of
# new embeddings arrives, and the maintainer must (a) assign the delta
# to the EXISTING cells without touching the base corpus, (b) measure
# how far each centroid would drift if re-averaged over old + new
# members, and (c) estimate how stale the old partition boundaries have
# become (what fraction of the delta would land in a different cell
# under the drifted centroids) — the number that decides "absorb the
# delta" vs "schedule a rebuild". Mirrors dedup_incremental_delta's
# O(Δ) discipline for the LSH index.
#
# Scale shape (100 TB): the incremental path — delta × broadcast
# centroids argmin — is O(Δ·K) with NO shuffle of any corpus-sized
# relation and NO scan of the base corpus (plan-tested on the standalone
# delta stage, test_plans.py). Yesterday's per-cell state (n_base and
# the per-dimension member sums behind the re-averaged centroids) is
# K·DIM rows in production, read from the stored index; the sandbox has
# no stored state, so the base_assign/upd CTEs BOOTSTRAP it from the
# deterministic base split — that bootstrap is the stand-in for a
# K·DIM-row state read, not part of the incremental cost.
#
# Determinism: same quantized-integer space as cluster_kmeans_embeddings
# (dims → ROUND(x·1e4): every distance/sum is an exact integer in
# double, order-free; means re-rounded to integers), same md5 split
# discipline as dedup_incremental_delta ('ivfincr:' % 4 → ~25% delta),
# same 'ivf:' seed rule for centroids restricted to the base side —
# yesterday's index knew nothing of the delta.
# ---------------------------------------------------------------------------
IVF_INCR_MOD = 4  # md5('ivfincr:'||vec_id) % 4 == 0 → incoming delta (~25%)

_IVF_INCR_DIST_SQL = (
    f"list_sum(list_transform(range(1, {DIM} + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _ivf_incr_argmin_sql(vectors: str, cents: str) -> str:
    """Argmin-cell CTE body: `vectors`(vec_id, emb) × `cents`(cent_id,
    c_emb), lowest integer L2² then lowest cent_id — the kmeans tiebreak."""
    dist = _IVF_INCR_DIST_SQL.format(a="v.emb", b="c.c_emb")
    return f"""
            SELECT vec_id, emb, cent_id FROM (
                SELECT vec_id, emb, cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY dist, cent_id
                       ) AS rn
                FROM (
                    SELECT v.vec_id, v.emb, c.cent_id, {dist} AS dist
                    FROM {vectors} v CROSS JOIN {cents} c
                )
            ) WHERE rn = 1
    """


def _ivf_incr_sides(spark: SparkSession, sf_dir: str):
    """(base, delta, centroids) in quantized space — shared by the op and
    the standalone plan test."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0)
        ).alias("emb"),
    )
    incr_hash = md5_int("vec_id", "ivfincr:")
    base = emb.filter(incr_hash % IVF_INCR_MOD != 0)
    delta = emb.filter(incr_hash % IVF_INCR_MOD == 0)
    ivf_hash = md5_int("vec_id", "ivf:")
    cents = base.filter(ivf_hash % IVF_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("c_emb")
    )
    return base, delta, cents


def _ivf_incr_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """The incremental path: vectors × broadcast(centroids) argmin —
    O(|vectors|·K), no shuffle of either input."""
    from pyspark.sql import Window

    dist = _l2sq(F.col("emb"), F.col("c_emb"))
    w = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select("vec_id", "emb", "cent_id", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "cent_id")
    )


#: Shared by the batch op and its streaming twin (streaming_ivf_assign):
#: the streaming state (per-cell counts + exact integer dim sums) drains
#: to the same per-cell report, so both gates run one oracle definition.
_IVF_INCR_ORACLE_SQL = f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> ROUND(x::DOUBLE * {KMEANS_SCALE}.0)) AS emb
            FROM embeddings
        ),
        b AS (SELECT e.* FROM e
              WHERE {md5_int_sql("vec_id", "ivfincr:")} % {IVF_INCR_MOD} <> 0),
        d AS (SELECT e.* FROM e
              WHERE {md5_int_sql("vec_id", "ivfincr:")} % {IVF_INCR_MOD} = 0),
        cents AS (
            SELECT vec_id AS cent_id, emb AS c_emb FROM b
            WHERE {md5_int_sql("vec_id", "ivf:")}
                  % {IVF_SAMPLE_MOD} = 0
        ),
        a_base AS ({_ivf_incr_argmin_sql("b", "cents")}),
        a_delta AS ({_ivf_incr_argmin_sql("d", "cents")}),
        members AS (
            SELECT cent_id, emb FROM a_base
            UNION ALL SELECT cent_id, emb FROM a_delta
        ),
        upd AS (
            SELECT cent_id, list(m ORDER BY pos) AS c_emb FROM (
                SELECT cent_id, pos, ROUND(SUM(emb[pos]) / COUNT(*)) AS m
                FROM members
                CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS pos) dims
                GROUP BY cent_id, pos
            ) GROUP BY cent_id
        ),
        renew AS ({_ivf_incr_argmin_sql("(SELECT vec_id, emb FROM a_delta)", "upd")}),
        nb AS (
            SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_base
            FROM a_base GROUP BY 1
        ),
        stale AS (
            SELECT ad.cent_id,
                   CAST(COUNT(*) AS BIGINT) AS n_delta,
                   CAST(SUM(CASE WHEN r.cent_id <> ad.cent_id
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_stale
            FROM a_delta ad JOIN renew r ON r.vec_id = ad.vec_id
            GROUP BY 1
        ),
        drift AS (
            SELECT c.cent_id,
                   CAST({_IVF_INCR_DIST_SQL.format(a="c.c_emb", b="u.c_emb")}
                        AS BIGINT) AS drift_sq
            FROM cents c JOIN upd u ON u.cent_id = c.cent_id
        )
        SELECT dr.cent_id AS cell,
               CAST(COALESCE(nb.n_base, 0) AS BIGINT) AS n_base,
               CAST(COALESCE(st.n_delta, 0) AS BIGINT) AS n_delta,
               dr.drift_sq,
               CAST(COALESCE(st.n_stale, 0) AS BIGINT) AS n_stale,
               CAST(CASE WHEN COALESCE(st.n_delta, 0) > 0
                         THEN COALESCE(st.n_stale, 0) * 10000 // st.n_delta
                         ELSE 0 END AS BIGINT) AS stale_bp
        FROM drift dr
        LEFT JOIN nb ON nb.cent_id = dr.cent_id
        LEFT JOIN stale st ON st.cent_id = dr.cent_id
"""


@register(
    "ivf_incremental_assign",
    oracle=_IVF_INCR_ORACLE_SQL,
    tags=("similarity", "ivf", "incremental", "embeddings"),
)
def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell incremental-maintenance report for the IVF index.

    Reference parity: none (SURVEY.md §2.7); north-star ANN-lifecycle
    extension (r6 judge item 5).
    """
    base, delta, cents = _ivf_incr_sides(spark, sf_dir)
    # each assignment feeds two+ downstream subtrees (member union, counts,
    # stale probe) — pin them so the crossJoin+argmin runs once per side,
    # not once per consumer (the SemDeDup localCheckpoint discipline)
    a_base = _ivf_incr_assign(base, cents).localCheckpoint(eager=False)
    a_delta = _ivf_incr_assign(delta, cents).localCheckpoint(eager=False)
    members = a_base.select("cent_id", "emb").unionByName(
        a_delta.select("cent_id", "emb")
    )
    upd = (
        members.select("cent_id", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg("x"), 0).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c_emb")
        )
        .localCheckpoint(eager=False)  # read by renew AND drift
    )
    renew = _ivf_incr_assign(a_delta.select("vec_id", "emb"), upd)
    nb = a_base.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    stale = (
        a_delta.select("vec_id", F.col("cent_id").alias("old_cell"))
        .join(renew.select("vec_id", F.col("cent_id").alias("new_cell")), "vec_id")
        .groupBy(F.col("old_cell").alias("cent_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_delta"),
            F.sum((F.col("new_cell") != F.col("old_cell")).cast("long"))
            .cast("long")
            .alias("n_stale"),
        )
    )
    drift = (
        cents.join(
            upd.select(F.col("cent_id").alias("u_cid"), F.col("c_emb").alias("u_emb")),
            F.col("cent_id") == F.col("u_cid"),
        )
        .select(
            "cent_id",
            _l2sq(F.col("c_emb"), F.col("u_emb")).cast("long").alias("drift_sq"),
        )
    )
    return (
        drift.join(nb, "cent_id", "left")
        .join(stale, "cent_id", "left")
        .select(
            F.col("cent_id").alias("cell"),
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
            "drift_sq",
            F.coalesce("n_stale", F.lit(0)).cast("long").alias("n_stale"),
            F.when(
                F.coalesce(F.col("n_delta"), F.lit(0)) > 0,
                idiv(F.coalesce("n_stale", F.lit(0)) * 10000, F.col("n_delta")),
            )
            .otherwise(0)
            .cast("long")
            .alias("stale_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding outlier detection — per-vector z-score against the corpus'
# per-dimension moments: score = Σ_d ((x_d − μ_d)/σ_d)², the diagonal-
# covariance Mahalanobis distance. The curation use: corrupt embeddings
# (zeroed rows, scale blowups, NaN-ish artifacts cast to extremes) land
# in the far tail and get dropped before training.
#
# Determinism: dims quantize to integer millis; per-dim n/Σx/Σx² are
# exact integer aggregates, so μ_d and σ_d are identical doubles in both
# engines; the per-vector sum is a PINNED sequential fold over the
# (x, μ, σ) zip — no summation-order ambiguity. σ guarded to 1.0 on a
# degenerate constant dimension (identical branch both engines).
#
# Scale shape (100 TB): one partial-agg pass builds a DIM-row stats
# table (constant width), reassembled into ordered μ/σ arrays and
# broadcast as a single row; scoring is a map-side fold over the corpus
# (no shuffle), and the top-k is a TakeOrdered.
# ---------------------------------------------------------------------------
OUTLIER_TOP_K = 25


@register(
    "embedding_outlier_zscore",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(ROUND(x * {COV_SCALE}.0) AS BIGINT)) AS qa
            FROM embeddings
        ),
        el AS (
            SELECT vec_id, i, qa[i] AS x
            FROM (SELECT vec_id, qa, UNNEST(range(1, 1 + len(qa))) AS i FROM q)
        ),
        stats AS (
            SELECT i,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ss
            FROM el GROUP BY i
        ),
        ms AS (
            SELECT list(s * 1.0 / n ORDER BY i) AS mus,
                   list(CASE WHEN (ss - s * 1.0 / n * s) * 1.0 / n <= 0.0
                             THEN 1.0
                             ELSE sqrt((ss - s * 1.0 / n * s) * 1.0 / n)
                        END ORDER BY i) AS sigmas
            FROM stats
        )
        SELECT vec_id, score
        FROM (
            SELECT q.vec_id,
                   ROUND(list_reduce(
                       list_prepend(0.0,
                           list_transform(range(1, 1 + len(q.qa)),
                               i -> ((q.qa[i] - ms.mus[i]) / ms.sigmas[i])
                                    * ((q.qa[i] - ms.mus[i]) / ms.sigmas[i]))),
                       (acc, v) -> acc + v) * 10000.0) / 10000.0 + 0.0 AS score
            FROM q CROSS JOIN ms
        )
        ORDER BY score DESC, vec_id ASC
        LIMIT {OUTLIER_TOP_K}
    """,
    tags=("embeddings", "quality", "outlier"),
)
def embedding_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top OUTLIER_TOP_K vectors by diagonal-Mahalanobis z-score.

    Reference parity: none (SURVEY.md §2.7); north-star embedding-
    curation extension.
    """
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    qa = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * COV_SCALE, 0).cast("long"),
    )
    q = emb.select("vec_id", qa.alias("qa"))
    el = q.select("vec_id", F.posexplode("qa").alias("i0", "x")).select(
        (F.col("i0") + 1).alias("i"), "x"
    )
    stats = el.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    mu = F.col("s") * F.lit(1.0) / F.col("n")
    var = (F.col("ss") - F.col("s") * F.lit(1.0) / F.col("n") * F.col("s")) * F.lit(
        1.0
    ) / F.col("n")
    sigma = F.when(var <= 0.0, F.lit(1.0)).otherwise(F.sqrt(var))
    ms = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", mu.alias("mu")))),
            lambda s: s["mu"],
        ).alias("mus"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", sigma.alias("sigma")))),
            lambda s: s["sigma"],
        ).alias("sigmas"),
    )
    z2 = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("qa"),
                F.col("mus"),
                lambda x, m: x.cast("double") - m,
            ),
            F.col("sigmas"),
            lambda d, sg: (d / sg) * (d / sg),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        q.crossJoin(F.broadcast(ms))  # 1-row stats broadcast
        .select("vec_id", pround(z2, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(OUTLIER_TOP_K)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of the lexical (BM25) and the
# dense (embedding-cosine) rankings for one query. The two retrievers run
# independently: BM25 scores every document against the fixed term set
# (one broadcast corpus-stats row, then a stateless narrow map — see
# operators/text.py); the dense side ranks the corpus by cosine to the
# query vector (broadcast of ONE vector, corpus streams through once).
# Each keeps its top RRF_DEPTH by rank; fusion is a full outer join of
# two depth-bounded lists (constant size, broadcastable at any corpus
# scale) scored by sum(1/(RRF_K + rank)) — rank arithmetic on exact
# integers, so the fused score is a sum of exact IEEE rationals and both
# engines agree bit-for-bit before the final pround.
# documents.doc_id and embeddings.vec_id share the same id space
# (TESTDATA.md: row i's embedding is vector i), which is what makes the
# doc-level fusion well-defined.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_DEPTH = 50
RRF_TOP = 20
RRF_QUERY_ID = 0  # dense-side query: embedding of vec_id 0


def _rrf_oracle() -> str:
    from kafka_stream_job_spark.operators.text import bm25_scored_ctes

    dot = _DOT_SQL.format(a="q.embedding", b="d.embedding")
    nq = _NORM_SQL.format(a="q.embedding")
    nd = _NORM_SQL.format(a="d.embedding")
    return f"""
        WITH {bm25_scored_ctes()},
        bm_ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25_r DESC, doc_id ASC) AS bm_rank
            FROM bm_scored
        ),
        bm_top AS (SELECT * FROM bm_ranked WHERE bm_rank <= {RRF_DEPTH}),
        qv AS (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QUERY_ID}),
        cos_scored AS (
            SELECT d.vec_id AS doc_id,
                   ROUND(({dot} / ({nq} * {nd})) * 10000.0) / 10000.0 AS cos_r
            FROM embeddings d CROSS JOIN qv q
            WHERE d.vec_id <> {RRF_QUERY_ID}
        ),
        cos_ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos_r DESC, doc_id ASC) AS cos_rank
            FROM cos_scored
        ),
        cos_top AS (SELECT * FROM cos_ranked WHERE cos_rank <= {RRF_DEPTH}),
        fused AS (
            SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                   b.bm_rank, c.cos_rank,
                   ROUND((COALESCE(1.0 / ({RRF_K} + b.bm_rank), 0.0)
                        + COALESCE(1.0 / ({RRF_K} + c.cos_rank), 0.0))
                        * 1000000000.0) / 1000000000.0 AS rrf_score
            FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
        )
        SELECT doc_id, bm_rank, cos_rank, rrf_score
        FROM fused
        ORDER BY rrf_score DESC, doc_id ASC
        LIMIT {RRF_TOP}
    """


@register(
    "search_hybrid_rrf",
    oracle=_rrf_oracle(),
    tags=("similarity", "search", "hybrid", "rrf", "documents", "embeddings"),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and embedding-cosine retrieval.

    Reference parity: none (SURVEY.md §2.7); north-star hybrid-search
    extension composing the lexical and dense retrievers already in the
    registry.
    """
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators.text import bm25_scores

    # Depth-bounded top-k FIRST (TakeOrderedAndProject — distributed
    # partial top-k per partition, merged on the driver side of the
    # exchange), then rank the RRF_DEPTH survivors with a constant-size
    # window. Ranking the full corpus through an unpartitioned
    # row_number window would serialize the whole table into one
    # partition — the single-partition bottleneck this avoids.
    bm = bm25_scores(spark, sf_dir)
    bm_w = Window.orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
    bm_top = (
        bm.orderBy(F.col("bm25_r").desc(), F.col("doc_id").asc())
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(bm_w).alias("bm_rank"))
    )
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    # r13: the query norm folds once in the 1-row side instead of once
    # per corpus row (guide §1.2); bit-identical arithmetic
    qv = emb.filter(F.col("vec_id") == RRF_QUERY_ID).select(
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    cos = (
        emb.filter(F.col("vec_id") != RRF_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            pround(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * _norm(F.col("embedding"))),
                4,
            ).alias("cos_r"),
        )
    )
    cos_w = Window.orderBy(F.col("cos_r").desc(), F.col("doc_id").asc())
    cos_top = (
        cos.orderBy(F.col("cos_r").desc(), F.col("doc_id").asc())
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(cos_w).alias("cos_rank"))
    )
    fused = bm_top.withColumnRenamed("doc_id", "b_doc").join(
        cos_top.withColumnRenamed("doc_id", "c_doc"),
        F.col("b_doc") == F.col("c_doc"),
        "full_outer",
    )
    rrf = pround(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("bm_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("cos_rank")), F.lit(0.0)),
        9,
    )
    return (
        fused.select(
            F.coalesce(F.col("b_doc"), F.col("c_doc")).alias("doc_id"),
            "bm_rank",
            "cos_rank",
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP)
    )


# ---------------------------------------------------------------------------
# Embedding-space DECONTAMINATION — the semantic complement of
# pipeline.decontaminate_train_shingles (which catches verbatim n-gram
# leaks): flag training vectors whose nearest EVAL-set vector exceeds a
# cosine threshold, i.e. paraphrased/near-duplicate benchmark leakage
# that surface n-grams miss. Stand-in eval set: vec_id % 41 == 0.
#
# Scale design: eval sets are FIXED-SIZE (a benchmark, not a corpus), so
# the right 100 TB shape is broadcast(eval) ⋈ corpus — the corpus side
# streams through executors once with NO shuffle, each row scoring
# against the in-memory eval block; the per-row max is a map-side
# aggregate. (Contrast with dedup_embedding_cosine, where BOTH sides are
# corpus-sized and LSH bucketing is mandatory.) The argmax is made
# deterministic by maxing over a (cosine, eval_id) struct — ties break to
# the highest eval id in both engines; the fold arithmetic is the same
# fixed IEEE dag as the rest of this module, so the oracle is exact.
# ---------------------------------------------------------------------------
DECON_EVAL_MOD = 41
DECON_TAU = 0.35


@register(
    "decontaminate_by_embedding",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id AS eval_id, embedding FROM embeddings
            WHERE vec_id % {DECON_EVAL_MOD} = 0
        ),
        co AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % {DECON_EVAL_MOD} <> 0
        ),
        scored AS (
            SELECT a.vec_id, b.eval_id,
                   {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / ({_NORM_SQL.format(a='a.embedding')}
                      * {_NORM_SQL.format(a='b.embedding')}) AS cos
            FROM co a, ev b
        ),
        best AS (
            SELECT vec_id, cos, eval_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, eval_id DESC) AS rn
            FROM scored
        )
        SELECT vec_id, eval_id AS match_eval_id,
               ROUND((cos) * 10000.0) / 10000.0 + 0.0 AS cosine
        FROM best WHERE rn = 1 AND cos >= {DECON_TAU}
    """,
    tags=("llm-pipeline", "decontamination", "embeddings", "broadcast"),
)
def decontaminate_by_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    # r13: per-row norm hoist — each side's fold otherwise re-ran per
    # (corpus x eval) pair in the cross join (guide §1.2)
    ev = emb.filter(F.col("vec_id") % DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("e_emb"),
        _norm(F.col("embedding")).alias("e_norm"),
    )
    co = emb.filter(F.col("vec_id") % DECON_EVAL_MOD != 0).withColumn(
        "c_norm", _norm(F.col("embedding"))
    )
    cos = _dot(F.col("embedding"), F.col("e_emb")) / (
        F.col("c_norm") * F.col("e_norm")
    )
    best = (
        co.crossJoin(F.broadcast(ev))
        .select("vec_id", F.struct(cos.alias("cos"), F.col("eval_id")).alias("sc"))
        .groupBy("vec_id")
        .agg(F.max("sc").alias("sc"))
        .select("vec_id", F.col("sc.cos").alias("cos"), F.col("sc.eval_id").alias("match_eval_id"))
    )
    return best.filter(F.col("cos") >= DECON_TAU).select(
        "vec_id", "match_eval_id", pround("cos", 4).alias("cosine")
    )


# ---------------------------------------------------------------------------
# PRODUCT QUANTIZATION (PQ) — the other half of the IVF-PQ index every
# billion-vector ANN deployment runs: the 64-d vector splits into
# PQ_SUBSPACES contiguous 8-d slices, each slice snaps to its nearest
# per-subspace codebook centroid, and the vector is stored as the tuple
# of centroid ids (here: 8 ids ≈ 8 bytes vs 256 bytes of floats).
# Codebook = md5-seeded sample slices (the IVF/kmeans seeding pattern);
# same integer-quantization trick as cluster_kmeans_embeddings so every
# distance is an exact integer in double precision and the argmin +
# reconstruction error agree bit-for-bit with the DuckDB oracle.
#
# Scale shape: the codebook (subspaces × ~n/PQ_SEED_MOD slices) is
# BROADCAST; the corpus explodes into per-subspace slices map-side, joins
# the broadcast codebook on subspace id, and reduces per (vec, subspace)
# — corpus rows shuffle once, keyed by vec_id, for the argmin+assemble.
# ---------------------------------------------------------------------------
PQ_SUBSPACES = 8
PQ_WIDTH = DIM // PQ_SUBSPACES
PQ_SEED_MOD = 32  # ~1/32 of vectors seed each subspace codebook
PQ_SCALE = 10_000


def _pq_oracle() -> str:
    dist = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(v.sub, c.csub),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> ROUND(x::DOUBLE * {PQ_SCALE}.0))
                       AS emb
            FROM embeddings
        ),
        subs AS (
            SELECT vec_id, s,
                   list_slice(emb, {PQ_WIDTH} * s + 1, {PQ_WIDTH} * (s + 1)) AS sub
            FROM e, (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s)
        ),
        cents AS (
            SELECT vec_id AS cent_id, s, sub AS csub
            FROM subs
            WHERE {md5_int_sql("vec_id", "pq:")}
                  % {PQ_SEED_MOD} = 0
        ),
        scored AS (
            SELECT v.vec_id, v.s, c.cent_id, {dist} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                                      ORDER BY {dist}, c.cent_id) AS rn
            FROM subs v JOIN cents c ON v.s = c.s
        )
        SELECT vec_id,
               string_agg(CAST(cent_id AS VARCHAR), '-' ORDER BY s) AS pq_code,
               CAST(SUM(dist) AS BIGINT) AS err_q
        FROM scored WHERE rn = 1
        GROUP BY vec_id
    """


@register(
    "embedding_pq_codes",
    oracle=_pq_oracle(),
    tags=("similarity", "embeddings", "quantization", "ann", "pq"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * PQ_SCALE, 0)
        ).alias("emb"),
    )
    slices = F.array(
        *[F.slice("emb", PQ_WIDTH * s + 1, PQ_WIDTH) for s in range(PQ_SUBSPACES)]
    )
    subs = emb.select("vec_id", F.posexplode(slices).alias("s", "sub"))
    seed_hash = md5_int("vec_id", "pq:")
    cents = (
        emb.filter(seed_hash % PQ_SEED_MOD == 0)
        .select(F.col("vec_id").alias("cent_id"), F.posexplode(slices).alias("s", "csub"))
        # tiny (~n/PQ_SEED_MOD × SUBSPACES rows) but derived from a full
        # corpus scan — pin ONE materialization so the broadcast doesn't
        # rescan the corpus (the MinHash ReusedExchange lesson).
        .localCheckpoint(eager=False)
    )
    scored = subs.join(F.broadcast(cents), "s").select(
        "vec_id",
        "s",
        F.struct(_l2sq(F.col("sub"), F.col("csub")).alias("dist"), "cent_id").alias(
            "sc"
        ),
    )
    best = scored.groupBy("vec_id", "s").agg(F.min("sc").alias("sc"))
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", F.col("sc.cent_id").alias("cent_id")))),
                lambda x: x["cent_id"].cast("string"),
            ),
            "-",
        ).alias("pq_code"),
        F.sum("sc.dist").cast("long").alias("err_q"),
    )


# ---------------------------------------------------------------------------
# PQ ASYMMETRIC-DISTANCE top-k (ADC) — the search half of IVF-PQ: queries
# stay full-precision, the corpus is touched ONLY through its PQ codes.
# Per query, a distance TABLE d[q, s, cent] = l2²(q_slice_s, centroid) is
# precomputed (N_QUERIES × SUBSPACES × |codebook| rows — constant-size,
# broadcast); the approximate distance of any corpus vector is then just
# the sum of 8 table lookups keyed by its code. That lookup-join-sum is
# the whole corpus-sized computation — no float math per corpus element,
# which is why PQ search sustains billions of vectors. Exact-integer
# arithmetic end to end (PQ_SCALE quantization), deterministic top-k
# tiebreak (distance, vec_id).
# ---------------------------------------------------------------------------
def _pq_adc_oracle() -> str:
    dist = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> ROUND(x::DOUBLE * {PQ_SCALE}.0))
                       AS emb
            FROM embeddings
        ),
        subs AS (
            SELECT vec_id, s,
                   list_slice(emb, {PQ_WIDTH} * s + 1, {PQ_WIDTH} * (s + 1)) AS sub
            FROM e, (SELECT unnest(range(0, {PQ_SUBSPACES})) AS s)
        ),
        cents AS (
            SELECT vec_id AS cent_id, s, sub AS csub
            FROM subs
            WHERE {md5_int_sql("vec_id", "pq:")}
                  % {PQ_SEED_MOD} = 0
        ),
        codes AS (
            SELECT vec_id, s, cent_id FROM (
                SELECT v.vec_id, v.s, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                           ORDER BY {dist.format(a='v.sub', b='c.csub')}, c.cent_id)
                           AS rn
                FROM subs v JOIN cents c ON v.s = c.s
                WHERE v.vec_id >= {N_QUERIES}
            ) WHERE rn = 1
        ),
        dtab AS (
            SELECT q.vec_id AS q_id, c.s, c.cent_id,
                   {dist.format(a='q.sub', b='c.csub')} AS d
            FROM subs q JOIN cents c ON q.s = c.s
            WHERE q.vec_id < {N_QUERIES}
        ),
        adc AS (
            SELECT t.q_id, x.vec_id, CAST(SUM(t.d) AS BIGINT) AS d_adc
            FROM codes x JOIN dtab t ON t.s = x.s AND t.cent_id = x.cent_id
            GROUP BY 1, 2
        )
        SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, d_adc FROM (
            SELECT q_id, vec_id, d_adc,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY d_adc, vec_id) AS rnk
            FROM adc
        ) WHERE rnk <= {TOP_K}
    """


@register(
    "similarity_topk_pq_adc",
    oracle=_pq_adc_oracle(),
    tags=("similarity", "embeddings", "ann", "pq", "topk"),
)
def similarity_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * PQ_SCALE, 0)
        ).alias("emb"),
    )
    slices = F.array(
        *[F.slice("emb", PQ_WIDTH * s + 1, PQ_WIDTH) for s in range(PQ_SUBSPACES)]
    )
    subs = emb.select("vec_id", F.posexplode(slices).alias("s", "sub"))
    seed_hash = md5_int("vec_id", "pq:")
    cents = (
        emb.filter(seed_hash % PQ_SEED_MOD == 0)
        .select(
            F.col("vec_id").alias("cent_id"), F.posexplode(slices).alias("s", "csub")
        )
        # referenced THREE times (code assignment, distance table) and
        # derived from a full corpus scan — pin one materialization.
        .localCheckpoint(eager=False)
    )
    corpus_subs = subs.filter(F.col("vec_id") >= N_QUERIES)
    codes = (
        corpus_subs.join(F.broadcast(cents), "s")
        .select(
            "vec_id",
            "s",
            F.struct(
                _l2sq(F.col("sub"), F.col("csub")).alias("dist"), "cent_id"
            ).alias("sc"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("sc").alias("sc"))
        .select("vec_id", "s", F.col("sc.cent_id").alias("cent_id"))
    )
    dtab = (
        subs.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cents), "s")
        .select("q_id", "s", "cent_id", _l2sq(F.col("sub"), F.col("csub")).alias("d"))
    )
    adc = (
        codes.join(F.broadcast(dtab), ["s", "cent_id"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("d_adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d_adc").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "rnk", "vec_id", "d_adc")
    )


# ---------------------------------------------------------------------------
# MATRYOSHKA truncation evaluation — the question every embedding-serving
# stack asks before shipping truncated vectors (MRL-style nested
# representations): how much top-k recall survives keeping only the
# first MAT_DIM of DIM dimensions? Both rankings (full 64-d and
# truncated prefix) are computed deterministically (sequential-fold
# cosine, neighbor-id tiebreak), so recall@k per query is an exact
# integer — hash-checkable, no tolerance.
#
# Scale shape: one broadcast(query) ⋈ corpus pass computes BOTH scores
# (the truncated dot is a prefix slice of the same row — no second
# corpus scan); the two rank windows share the query_id partitioning
# (one shuffle, two sorts over n_queries·corpus rows — the top-k
# per-partition WindowGroupLimit prune applies to both).
# ---------------------------------------------------------------------------
MAT_DIM = 16  # truncation prefix (DIM // 4)

_dot_qd_t = _DOT_SQL.format(a="(q.embedding[1:16])", b="(d.embedding[1:16])")
_norm_q_t = _NORM_SQL.format(a="(q.embedding[1:16])")
_norm_d_t = _NORM_SQL.format(a="(d.embedding[1:16])")


@register(
    "matryoshka_truncation_recall",
    oracle=f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   {_dot_qd} / ({_norm_q} * {_norm_d}) AS cos_full,
                   {_dot_qd_t} / ({_norm_q_t} * {_norm_d_t}) AS cos_trunc
            FROM embeddings q
            JOIN embeddings d ON d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_full DESC, neighbor_id ASC)
                       AS rank_full,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_trunc DESC, neighbor_id ASC)
                       AS rank_trunc
            FROM scored
        ),
        overlap AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM ranked
            WHERE rank_full <= {TOP_K} AND rank_trunc <= {TOP_K}
            GROUP BY query_id
        )
        SELECT q.vec_id AS query_id,
               COALESCE(o.n_overlap, 0) AS n_overlap,
               (COALESCE(o.n_overlap, 0) * 10000) // {TOP_K} AS recall_bp
        FROM embeddings q
        LEFT JOIN overlap o ON o.query_id = q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    """,
    tags=("similarity", "embeddings", "matryoshka", "recall"),
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("d_emb")
    )
    qe, de = F.col("q_emb"), F.col("d_emb")
    qt, dt = F.slice(qe, 1, MAT_DIM), F.slice(de, 1, MAT_DIM)
    scored = (
        d.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(qe, de) / (_norm(qe) * _norm(de))).alias("cos_full"),
            (_dot(qt, dt) / (_norm(qt) * _norm(dt))).alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id").asc()
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_trunc").desc(), F.col("neighbor_id").asc()
    )
    overlap = (
        scored.select(
            "query_id",
            F.row_number().over(wf).alias("rank_full"),
            F.row_number().over(wt).alias("rank_trunc"),
        )
        .filter((F.col("rank_full") <= TOP_K) & (F.col("rank_trunc") <= TOP_K))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(F.broadcast(overlap), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("long")).alias("n_overlap"),
            idiv(F.coalesce("n_overlap", F.lit(0).cast("long")) * 10000, F.lit(TOP_K)).alias(
                "recall_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# POWER ITERATION — dominant eigenvector of the embedding second-moment
# (Gram) matrix, the PCA-direction primitive, expressed as three
# declarative matvec+normalize rounds. The Gram entries are EXACT
# integers (the same milli-unit quantization as embedding_covariance),
# every fold (matvec per row, norm) runs in pinned index order, and the
# start vector 1/8·𝟙 has an exactly-representable norm — so the whole
# iteration is one fixed IEEE dag and the loadings hash-match.
#
# Scale shape (100 TB): the one data-sized stage is the Gram build (a
# distributed syrk: component self-join per vector, partial-agg to
# DIM² = 4096 cells); the iteration then runs on 64-row metadata —
# broadcast matvecs, never a data scan. This is how iterative ML lands
# on an engine: heavy reduction once, tiny iterate.
# ---------------------------------------------------------------------------
POWER_ITERS = 3


def _power_oracle() -> str:
    sql = f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(ROUND(x * {COV_SCALE}.0) AS BIGINT)) AS qa
            FROM embeddings
        ),
        el AS (
            SELECT vec_id, CAST(i AS BIGINT) AS i, qa[i] AS x
            FROM (SELECT vec_id, qa, UNNEST(range(1, 1 + len(qa))) AS i FROM q)
        ),
        pairg AS (
            SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS g
            FROM el a JOIN el b ON a.vec_id = b.vec_id
            GROUP BY 1, 2
        ),
        grows AS (
            SELECT i, list({{'j': j, 'g': g}} ORDER BY j) AS gr
            FROM pairg GROUP BY i
        ),
        v0 AS (SELECT list_transform(range(1, {DIM + 1}),
                                     x -> CAST(0.125 AS DOUBLE)) AS varr)"""
    for k in range(1, POWER_ITERS + 1):
        sql += f""",
        wk{k} AS (
            SELECT g.i,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(g.gr, e -> e.g * v.varr[e.j])),
                       (a, x) -> a + x) AS w
            FROM grows g, v{k - 1} v
        ),
        wa{k} AS (SELECT list(w ORDER BY i) AS warr FROM wk{k}),
        n{k} AS (
            SELECT warr,
                   sqrt(list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(warr, x -> x * x)),
                       (a, x) -> a + x)) AS nm
            FROM wa{k}
        ),
        v{k} AS (SELECT list_transform(warr, x -> x / nm) AS varr, nm FROM n{k})"""
    sql += f"""
        SELECT CAST(p.i AS BIGINT) AS dim_i,
               ROUND((p.x) * 1000000.0) / 1000000.0 + 0.0 AS loading,
               ROUND((nm) * 1000000.0) / 1000000.0 + 0.0 AS gram_eigenvalue
        FROM (SELECT unnest(list_transform(varr, (x, i) -> {{'x': x, 'i': i}}))
                  AS p, nm
              FROM v{POWER_ITERS})
    """
    return sql


@register(
    "embedding_power_iteration",
    oracle=_power_oracle(),
    tags=("embeddings", "pca", "power-iteration", "iterative"),
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * COV_SCALE, 0).cast("long"),
        ).alias("qa"),
    )
    el = q.select(
        "vec_id", F.posexplode("qa").alias("p0", "x")
    ).select("vec_id", (F.col("p0") + 1).cast("long").alias("i"), "x")
    a = el.select("vec_id", F.col("i").alias("ai"), F.col("x").alias("ax"))
    b = el.select("vec_id", F.col("i").alias("bj"), F.col("x").alias("bx"))
    gram = (
        a.join(b, "vec_id")
        .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
        .agg(F.sum(F.col("ax") * F.col("bx")).cast("long").alias("g"))
    )
    grows = (
        gram.groupBy("i")
        .agg(F.array_sort(F.collect_list(F.struct("j", "g"))).alias("gr"))
        .localCheckpoint(eager=False)  # each matvec reads the pinned Gram
    )
    v = spark.range(1).select(
        F.array(*([F.lit(0.125)] * DIM)).alias("varr"), F.lit(0.0).alias("nm")
    )
    for _ in range(POWER_ITERS):
        wk = grows.crossJoin(F.broadcast(v.select("varr"))).select(
            "i",
            F.aggregate(
                "gr",
                F.lit(0.0),
                lambda acc, e: acc
                + e["g"] * F.element_at("varr", e["j"].cast("int")),
            ).alias("w"),
        )
        wa = wk.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s["w"],
            ).alias("warr")
        )
        nm = F.sqrt(
            F.aggregate(
                F.transform("warr", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        v = wa.select(
            F.transform("warr", lambda x: x / nm).alias("varr"), nm.alias("nm")
        )
    return v.select(
        F.posexplode("varr").alias("p0", "x"), "nm"
    ).select(
        (F.col("p0") + 1).cast("long").alias("dim_i"),
        pround(F.col("x"), 6).alias("loading"),
        pround(F.col("nm"), 6).alias("gram_eigenvalue"),
    )


# ---------------------------------------------------------------------------
# MULTI-VECTOR MAXSIM (late-interaction retrieval, ColBERT-style) —
# each vector is treated as 8 sub-vectors of 8 dims (the PQ subspace
# cut); the query-document score is Σ over query sub-vectors of the max
# cosine against any document sub-vector. This is the scoring shape of
# token-level multi-vector retrieval, expressed entirely as in-array
# algebra: the 8×8 cosine grid per pair is nested transforms, all
# folds sequential — one fixed IEEE dag, hash-checkable.
# Scale: identical dataflow to similarity_topk_cosine — broadcast query
# sub-vectors ⋈ one corpus pass, per-query top-3 via the rank window
# (WindowGroupLimit prunes per partition).
# ---------------------------------------------------------------------------
MAXSIM_SUBS = 8
MAXSIM_SUBDIM = DIM // MAXSIM_SUBS
MAXSIM_TOP = 3

_COS_LAMBDA_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip(qv, dv),"
    " p -> p[1] * p[2])), (a, x) -> a + x)"
    " / (sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)),"
    " (a, x) -> a + x))"
    " * sqrt(list_reduce(list_prepend(0.0, list_transform(dv, x -> x * x)),"
    " (a, x) -> a + x)))"
)


@register(
    "similarity_maxsim_multivector",
    oracle=f"""
        WITH sub AS (
            SELECT vec_id,
                   list_transform(range(0, {MAXSIM_SUBS}),
                       k -> (embedding::DOUBLE[])
                            [k * {MAXSIM_SUBDIM} + 1 : k * {MAXSIM_SUBDIM} + {MAXSIM_SUBDIM}])
                       AS subs
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(q.subs, qv ->
                               list_max(list_transform(d.subs, dv ->
                                   {_COS_LAMBDA_SQL})))),
                       (a, x) -> a + x) AS maxsim
            FROM sub q JOIN sub d ON d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, maxsim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY maxsim DESC, neighbor_id ASC)
                       AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id,
               ROUND((maxsim) * 1000000.0) / 1000000.0 + 0.0 AS maxsim,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {MAXSIM_TOP}
    """,
    tags=("similarity", "embeddings", "maxsim", "late-interaction"),
)
def similarity_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(MAXSIM_SUBS - 1)),
        lambda k: F.transform(
            F.slice(F.col("embedding"), k * MAXSIM_SUBDIM + 1, MAXSIM_SUBDIM),
            lambda x: x.cast("double"),
        ),
    )
    sub = emb.select("vec_id", subs.alias("subs"))
    q = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("subs").alias("qsubs")
    )
    d = sub.select(
        F.col("vec_id").alias("neighbor_id"), F.col("subs").alias("dsubs")
    )

    def cos(qv, dv):
        dot = F.aggregate(
            F.zip_with(qv, dv, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nq = F.sqrt(
            F.aggregate(
                F.transform(qv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        )
        nd = F.sqrt(
            F.aggregate(
                F.transform(dv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        )
        return dot / (nq * nd)

    maxsim = F.aggregate(
        F.col("qsubs"),
        F.lit(0.0).cast("double"),
        lambda acc, qv: acc
        + F.array_max(F.transform(F.col("dsubs"), lambda dv: cos(qv, dv))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        d.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", maxsim.alias("maxsim_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_TOP)
        .select(
            "query_id",
            "neighbor_id",
            pround(F.col("maxsim_raw"), 6).alias("maxsim"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# NDCG RANKING QUALITY of the truncated-embedding ranking — the graded
# complement of matryoshka_truncation_recall's set overlap: treat the
# full-precision top-K as graded relevance (gain K+1−rank_full, 0 for
# items outside it) and score the truncated ranking's top-K by
# NDCG@K with the standard 1/log2(pos+1) discount (computed as
# ln(2)/ln(pos+1) — the ln() portability already proven). Both DCG and
# the ideal DCG fold in pinned position order, so NDCG hash-matches.
# Scale: same single broadcast-query corpus pass + shared rank-window
# shuffle as the recall query.
# ---------------------------------------------------------------------------
@register(
    "ann_ndcg_truncation",
    oracle=f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   {_dot_qd} / ({_norm_q} * {_norm_d}) AS cos_full,
                   {_dot_qd_t} / ({_norm_q_t} * {_norm_d_t}) AS cos_trunc
            FROM embeddings q
            JOIN embeddings d ON d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_full DESC, neighbor_id ASC)
                       AS rank_full,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_trunc DESC, neighbor_id ASC)
                       AS rank_trunc
            FROM scored
        ),
        gains AS (
            SELECT query_id,
                   list(CASE WHEN rank_full <= {TOP_K}
                             THEN CAST({TOP_K} + 1 - rank_full AS DOUBLE)
                             ELSE CAST(0 AS DOUBLE) END
                        ORDER BY rank_trunc) AS gs
            FROM ranked WHERE rank_trunc <= {TOP_K}
            GROUP BY query_id
        ),
        dcg AS (
            SELECT query_id,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(gs, (g, i) ->
                               g * ln(2.0) / ln(i + 1.0))),
                       (a, x) -> a + x) AS dcg,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(range(1, {TOP_K} + 1), i ->
                               ({TOP_K} + 1 - i) * ln(2.0) / ln(i + 1.0))),
                       (a, x) -> a + x) AS idcg
            FROM gains
        )
        SELECT query_id,
               ROUND((dcg) * 1000000.0) / 1000000.0 + 0.0 AS dcg,
               ROUND((dcg / idcg) * 1000000.0) / 1000000.0 + 0.0 AS ndcg
        FROM dcg
    """,
    tags=("similarity", "embeddings", "ndcg", "ranking-eval"),
)
def ann_ndcg_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("d_emb")
    )
    qe, de = F.col("q_emb"), F.col("d_emb")
    qt, dt = F.slice(qe, 1, MAT_DIM), F.slice(de, 1, MAT_DIM)
    scored = d.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (_dot(qe, de) / (_norm(qe) * _norm(de))).alias("cos_full"),
        (_dot(qt, dt) / (_norm(qt) * _norm(dt))).alias("cos_trunc"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id").asc()
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_trunc").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("rank_full"),
        F.row_number().over(wt).alias("rank_trunc"),
    )
    gain = F.when(
        F.col("rank_full") <= TOP_K,
        (F.lit(TOP_K) + 1 - F.col("rank_full")).cast("double"),
    ).otherwise(F.lit(0.0).cast("double"))
    gains = (
        ranked.filter(F.col("rank_trunc") <= TOP_K)
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rank_trunc", gain.alias("g")))
                ),
                lambda s: s["g"],
            ).alias("gs")
        )
    )
    # position-discounted fold (i0 is 0-based → position i0+1)
    dcg = F.aggregate(
        F.transform(
            F.col("gs"),
            lambda g, i0: g * F.log(F.lit(2.0)) / F.log(i0 + F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    idcg = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(TOP_K)),
            lambda i: (F.lit(TOP_K) + 1 - i) * F.log(F.lit(2.0)) / F.log(i + F.lit(1.0)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return gains.select(
        "query_id",
        pround(dcg, 6).alias("dcg"),
        pround(dcg / idcg, 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# BINARY QUANTIZATION + EXACT RERANK — the vector-DB fast path: stage 1
# ranks by Hamming distance between 64-bit SIGN signatures (1 bit/dim,
# 64× smaller than float32; on real deployments the scan reads only the
# packed bits), stage 2 reranks the top BINQ_CAND survivors with exact
# cosine. Completes the quantization family: int8 (scalar), PQ
# (codebook), 1-bit (sign) — each with its retrieval twin.
# Determinism: sign bits, Hamming counts and the rerank ordering are
# exact integers/pinned folds; ties break on neighbor_id at both stages.
# Scale: broadcast query signatures ⋈ one corpus pass; both rank
# windows share the query_id partitioning (WindowGroupLimit prunes).
# ---------------------------------------------------------------------------
BINQ_CAND = 20


@register(
    "similarity_topk_binary_rerank",
    oracle=f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   list_transform(embedding::DOUBLE[],
                                  x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END)
                       AS bits
            FROM embeddings
        ),
        ham AS (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   CAST(list_reduce(
                       list_prepend(0,
                           list_transform(list_zip(q.bits, d.bits),
                               z -> CASE WHEN z[1] <> z[2] THEN 1 ELSE 0 END)),
                       (a, x) -> a + x) AS BIGINT) AS hamming,
                   {_dot_qd} / ({_norm_q} * {_norm_d}) AS cos_raw
            FROM sig q JOIN sig d ON d.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        cand AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY hamming ASC, neighbor_id ASC)
                          AS hrank
            FROM ham
        ),
        rerank AS (
            SELECT query_id, neighbor_id, hamming, cos_raw,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id ASC)
                       AS rank
            FROM cand WHERE hrank <= {BINQ_CAND}
        )
        SELECT query_id, neighbor_id, hamming,
               ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine,
               CAST(rank AS BIGINT) AS rank
        FROM rerank WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "embeddings", "binary-quantization", "rerank"),
)
def similarity_topk_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    bits = F.transform(
        "embedding",
        lambda x: F.when(x.cast("double") >= 0, 1).otherwise(0),
    )
    # r13: per-row norm hoist (see similarity_lsh_neardup)
    sig = emb.select("vec_id", "embedding", bits.alias("bits"))
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
        F.col("bits").alias("q_bits"),
    )
    d = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("d_emb"),
        _norm(F.col("embedding")).alias("d_norm"),
        F.col("bits").alias("d_bits"),
    )
    hamming = F.size(
        F.filter(
            F.zip_with("q_bits", "d_bits", lambda a, b: a != b), lambda z: z
        )
    ).cast("long")
    cos_raw = _dot(F.col("q_emb"), F.col("d_emb")) / (
        F.col("q_norm") * F.col("d_norm")
    )
    scored = d.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        hamming.alias("hamming"),
        cos_raw.alias("cos_raw"),
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("hrank", F.row_number().over(wh))
        .filter(F.col("hrank") <= BINQ_CAND)
        .withColumn("rank", F.row_number().over(wc).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            pround(F.col("cos_raw"), 4).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): cluster the embedding
# space, then within each cluster drop items semantically too close to
# a better-kept item. The pipeline here is the paper's, made
# deterministic and oracle-checkable:
#   1. codebook = the K lowest-vec_id embeddings, K = max(FLOOR,
#      ⌊√N⌋) derived from the corpus count as the paper does (a
#      deterministic stand-in for trained k-means centroids —
#      cluster_kmeans_embeddings owns the training story; assignment
#      plans are identical). K is computed declaratively (1-row
#      broadcast aggregate), no driver-side action.
#   2. assign every vector to its max-cosine centroid (broadcast
#      codebook, corpus never shuffled for assignment; ties → lower
#      centroid id),
#   3. within a cluster, rank members by (cos-to-centroid DESC, vec_id
#      ASC); drop vector a iff some cluster-mate b ranked AHEAD of a
#      (and within the top SEMDEDUP_MAX_CMP ranks) has
#      cos(a,b) > SEMDEDUP_TAU — exactly one survivor per near-dup
#      clique among the compared prototypes, no iterative peeling.
# Scale: the only data-sized shuffle is the intra-cluster pair join,
# keyed by cluster id. TWO real bounds keep its per-key work linear:
# K ~ √N keeps expected cluster size at ~√N, and the b-side of the
# pair join is pre-filtered to each cluster's top SEMDEDUP_MAX_CMP
# members (the cluster's "prototypes", mirroring how
# graph_link_prediction_suppliers caps hub degree), so a skewed
# cluster of size S costs O(S·MAX_CMP) comparisons, never O(S²).
# Members past the cap are only ever compared AGAINST the prototypes;
# that truncation is part of the operator's documented semantics and
# the oracle applies the identical cap. Cosines are sequential-fold
# doubles (bit-identical in both engines), so the > τ comparison can
# never disagree; the outranking test is an integer rank comparison.
# ---------------------------------------------------------------------------
SEMDEDUP_K_FLOOR = 8
SEMDEDUP_TAU = 0.38
SEMDEDUP_MAX_CMP = 256


def _semdedup_centroids(emb: DataFrame) -> DataFrame:
    """The deterministic codebook: the max(SEMDEDUP_K_FLOOR, ⌊√N⌋)
    lowest-vec_id embeddings, with K computed as a 1-row broadcast
    aggregate so the whole thing stays declarative (no collect)."""
    kdf = emb.agg(
        F.greatest(
            F.lit(SEMDEDUP_K_FLOOR).cast("long"),
            F.floor(F.sqrt(F.count(F.lit(1)))),
        ).alias("k")
    )
    return (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    )

_sd_dot_ec = _DOT_SQL.format(a="e.embedding", b="c.cemb")
_sd_norm_e = _NORM_SQL.format(a="e.embedding")
_sd_norm_c = _NORM_SQL.format(a="c.cemb")
_sd_dot_ab = _DOT_SQL.format(a="a.embedding", b="b.embedding")
_sd_norm_a = _NORM_SQL.format(a="a.embedding")
_sd_norm_b = _NORM_SQL.format(a="b.embedding")


# Shared with streaming_semdedup (streaming/pipeline.py) — the twin must
# reproduce the batch answer exactly, so both register the same oracle.
_SEMDEDUP_ORACLE_SQL = f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cemb
            FROM embeddings
            WHERE vec_id < (
                SELECT GREATEST({SEMDEDUP_K_FLOOR},
                                CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))
                FROM embeddings
            )
        ),
        scored AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   {_sd_dot_ec} / ({_sd_norm_e} * {_sd_norm_c}) AS cosc
            FROM embeddings e, cents c
        ),
        assign AS (
            SELECT vec_id, embedding, cid, cosc,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cosc DESC, cid ASC
                   ) AS rn
            FROM scored
        ),
        members AS (
            SELECT vec_id, embedding, cid, cosc,
                   ROW_NUMBER() OVER (
                       PARTITION BY cid ORDER BY cosc DESC, vec_id ASC
                   ) AS rnc
            FROM (SELECT vec_id, embedding, cid, cosc
                  FROM assign WHERE rn = 1)
        ),
        verdicts AS (
            SELECT a.vec_id, a.cid, a.cosc,
                   COUNT(*) FILTER (WHERE
                       {_sd_dot_ab} / ({_sd_norm_a} * {_sd_norm_b})
                           > {SEMDEDUP_TAU}
                   ) AS n_better_neardups
            FROM members a
            LEFT JOIN members b
              ON a.cid = b.cid AND b.rnc < a.rnc
                 AND b.rnc <= {SEMDEDUP_MAX_CMP}
            GROUP BY 1, 2, 3
        )
        SELECT vec_id,
               CAST(cid AS BIGINT) AS cluster_id,
               ROUND((cosc) * 10000.0) / 10000.0 AS cos_to_centroid,
               n_better_neardups = 0 AS kept
        FROM verdicts
    """


@register(
    "semantic_dedup_semdedup",
    oracle=_SEMDEDUP_ORACLE_SQL,
    tags=("dedup", "similarity", "embeddings", "semdedup"),
)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    cents = _semdedup_centroids(emb)
    # r13: per-row norm hoist — each vector's norm folds once (carried
    # through `members` into BOTH pair-join sides), each centroid's
    # once, instead of per (vector x centroid) and per member pair
    # (guide §1.2); bit-identical arithmetic.
    embn = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("enorm")
    )
    centsn = cents.select(
        "cid", "cemb", _norm(F.col("cemb")).alias("cnorm")
    )
    cosc = _dot(F.col("embedding"), F.col("cemb")) / (
        F.col("enorm") * F.col("cnorm")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosc").desc(), F.col("cid").asc()
    )
    # in-cluster prototype rank: "b outranks a" ⇔ rnc(b) < rnc(a), and
    # only the top SEMDEDUP_MAX_CMP ranks ever sit on the build side of
    # the pair join (the physical bound on per-cluster pair work)
    wc = Window.partitionBy("cid").orderBy(
        F.col("cosc").desc(), F.col("vec_id").asc()
    )
    members = (
        embn.crossJoin(F.broadcast(centsn))
        .select("vec_id", "embedding", "enorm", "cid", cosc.alias("cosc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("rnc", F.row_number().over(wc))
        # both sides of the pair join read this — compute assignment once
        .localCheckpoint(eager=False)
    )
    a = members.alias("a")
    b = members.filter(F.col("rnc") <= SEMDEDUP_MAX_CMP).select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("embedding").alias("b_embedding"),
        F.col("enorm").alias("b_enorm"),
        F.col("cid").alias("b_cid"),
        F.col("rnc").alias("b_rnc"),
    )
    sim_ab = _dot(F.col("a.embedding"), F.col("b_embedding")) / (
        F.col("a.enorm") * F.col("b_enorm")
    )
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b_cid"))
            & (F.col("b_rnc") < F.col("a.rnc")),
            "left",
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.cid").cast("long").alias("cluster_id"),
            F.col("a.cosc").alias("cosc"),
        )
        .agg(
            F.sum(F.coalesce((sim_ab > SEMDEDUP_TAU).cast("long"), F.lit(0)))
            .alias("n_better_neardups")
        )
        .select(
            "vec_id",
            "cluster_id",
            pround(F.col("cosc"), 4).alias("cos_to_centroid"),
            (F.col("n_better_neardups") == 0).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# MUTUAL NEAREST NEIGHBORS — the alignment primitive bitext/embedding
# mining pipelines use (e.g. LASER/CCMatrix margin mining starts from
# mutual-NN pairs): vectors a and b pair iff each is the other's
# top-1 neighbor. The top-1 search is bucket-restricted to the same
# PROBE_BITS sign-LSH buckets the ANN path probes (at 100 TB: one
# shuffle of the corpus on a uniform bucket key, per-vector candidate
# lists bounded by bucket size — never the N² all-pairs scan; vectors
# alone in their bucket simply have no neighbor). The mutuality check
# is one self-join of the (vector → top-1) table on the two id columns.
# Ties break by neighbor_id, so the top-1 is deterministic; cosines are
# sequential-fold doubles, bit-identical in both engines.
# ---------------------------------------------------------------------------
_mnn_dot = _DOT_SQL.format(a="q.embedding", b="d.embedding")
_mnn_nq = _NORM_SQL.format(a="q.embedding")
_mnn_nd = _NORM_SQL.format(a="d.embedding")


@register(
    "embedding_mutual_nn_pairs",
    oracle=f"""
        WITH buckets AS (
            SELECT vec_id, embedding,
                   {_bucket_sql('embedding', PROBE_BITS)} AS bucket
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS src, d.vec_id AS dst,
                   {_mnn_dot} / ({_mnn_nq} * {_mnn_nd}) AS cos_raw,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_mnn_dot} / ({_mnn_nq} * {_mnn_nd}) DESC,
                                d.vec_id ASC
                   ) AS rn
            FROM buckets q
            JOIN buckets d ON d.bucket = q.bucket AND d.vec_id <> q.vec_id
        ),
        nn AS (SELECT src, dst, cos_raw FROM scored WHERE rn = 1)
        SELECT a.src AS vec_a, a.dst AS vec_b,
               ROUND((a.cos_raw) * 10000.0) / 10000.0 AS cosine
        FROM nn a JOIN nn b ON a.dst = b.src AND b.dst = a.src
        WHERE a.src < a.dst
    """,
    tags=("similarity", "embeddings", "alignment", "mutual-nn"),
)
def embedding_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    buckets = lsh_buckets(spark, sf_dir, bits=PROBE_BITS)
    # r13: per-row norm hoist (see similarity_lsh_neardup)
    q = buckets.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("emb_q"),
        _norm(F.col("embedding")).alias("norm_q"), "bucket",
    )
    d = buckets.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb_d"),
        _norm(F.col("embedding")).alias("norm_d"),
        F.col("bucket").alias("bucket_d"),
    )
    cos_raw = _dot(F.col("emb_q"), F.col("emb_d")) / (
        F.col("norm_q") * F.col("norm_d")
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_raw").desc(), F.col("dst").asc()
    )
    nn = (
        q.join(
            d,
            (F.col("bucket") == F.col("bucket_d"))
            & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst", cos_raw.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "cos_raw")
        .localCheckpoint(eager=False)  # both sides of the mutuality join
    )
    b = nn.select(F.col("src").alias("b_src"), F.col("dst").alias("b_dst"))
    return (
        nn.join(
            b,
            (F.col("dst") == F.col("b_src")) & (F.col("b_dst") == F.col("src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            pround(F.col("cos_raw"), 4).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# CLUSTER LABEL PURITY — the standard external clustering evaluation
# (purity: fraction of each cluster owned by its majority ground-truth
# label), run over the same ~√N max-cosine codebook assignment SemDeDup
# uses. This is the "are my embedding clusters semantically coherent?"
# audit an ML engineer runs before trusting cluster-level curation
# decisions. Majority ties break to the LOWEST label id via
# min(struct(-count, label)) on both engines; purity is exact integer
# basis points. Scale shape: broadcast codebook assignment (corpus
# never shuffled to meet centroids), one (cluster, label) count, one
# bounded per-cluster rollup — |K| rows out.
# ---------------------------------------------------------------------------
@register(
    "embedding_cluster_label_purity",
    oracle=f"""
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cemb
            FROM embeddings
            WHERE vec_id < (
                SELECT GREATEST({SEMDEDUP_K_FLOOR},
                                CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))
                FROM embeddings
            )
        ),
        scored AS (
            SELECT e.vec_id, e.label, c.cid,
                   {_sd_dot_ec} / ({_sd_norm_e} * {_sd_norm_c}) AS cosc
            FROM embeddings e, cents c
        ),
        assign AS (
            SELECT vec_id, label, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY cosc DESC, cid ASC
                   ) AS rn
            FROM scored
        ),
        members AS (SELECT vec_id, label, cid FROM assign WHERE rn = 1),
        by_label AS (
            SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
            FROM members GROUP BY 1, 2
        )
        SELECT CAST(cid AS BIGINT) AS cluster_id,
               CAST(SUM(n) AS BIGINT) AS n_members,
               CAST((MIN(struct_pack(negn := -n, lab := label))).lab
                    AS BIGINT) AS majority_label,
               CAST((-(MIN(struct_pack(negn := -n, lab := label))).negn)
                    * 10000 // SUM(n) AS BIGINT) AS purity_bp
        FROM by_label
        GROUP BY cid
    """,
    tags=("similarity", "clustering", "evaluation", "embeddings"),
)
def embedding_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    cents = _semdedup_centroids(emb)
    # r13: per-row norm hoist (see semantic_dedup_semdedup)
    embn = emb.select(
        "vec_id", "label", "embedding",
        _norm(F.col("embedding")).alias("enorm"),
    )
    centsn = cents.select("cid", "cemb", _norm(F.col("cemb")).alias("cnorm"))
    cosc = _dot(F.col("embedding"), F.col("cemb")) / (
        F.col("enorm") * F.col("cnorm")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosc").desc(), F.col("cid").asc()
    )
    members = (
        embn.crossJoin(F.broadcast(centsn))
        .select("vec_id", "label", "cid", cosc.alias("cosc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cid")
    )
    by_label = members.groupBy("cid", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    top = F.min(F.struct((-F.col("n")).alias("negn"), F.col("label").alias("lab")))
    return by_label.groupBy("cid").agg(
        F.sum("n").cast("long").alias("n_members"),
        top.getField("lab").cast("long").alias("majority_label"),
        idiv((-top.getField("negn")) * 10000, F.sum("n"))
        .cast("long")
        .alias("purity_bp"),
    ).select(
        F.col("cid").cast("long").alias("cluster_id"),
        "n_members",
        "majority_label",
        "purity_bp",
    )


# ---------------------------------------------------------------------------
# IVF CELL-BALANCE REPORT — the index-health check every IVF deployment
# monitors: per-cell population share and deviation from the uniform
# ideal (a cell 10× the mean serves 10× the probe latency; a starved
# cell wastes its centroid). Assignment reuses the quantized-integer
# argmin of the incremental-maintenance path (exact cross-engine);
# shares and deviations are exact integer bp. One broadcast-codebook
# probe + one cell-key aggregate — never a corpus shuffle.
# ---------------------------------------------------------------------------
@register(
    "ivf_cell_balance_report",
    oracle=f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> ROUND(x::DOUBLE * {KMEANS_SCALE}.0)) AS emb
            FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS cent_id, emb AS c_emb FROM e
            WHERE {md5_int_sql("vec_id", "ivf:")} % {IVF_SAMPLE_MOD} = 0
        ),
        assigned AS ({_ivf_incr_argmin_sql("e", "cents")}),
        sizes AS (
            SELECT cent_id AS cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM assigned GROUP BY cent_id
        ),
        tot AS (
            SELECT CAST(SUM(n_vectors) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM sizes
        )
        SELECT s.cell, s.n_vectors,
               s.n_vectors * 10000 // t.total AS share_bp,
               s.n_vectors * t.n_cells * 10000 // t.total
                   AS vs_uniform_bp
        FROM sizes s, tot t
    """,
    tags=("similarity", "ivf", "balance", "embeddings"),
)
def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KMEANS_SCALE, 0)
        ).alias("emb"),
    )
    ivf_hash = md5_int("vec_id", "ivf:")
    cents = emb.filter(ivf_hash % IVF_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("c_emb")
    )
    sizes = (
        _ivf_incr_assign(emb, cents)
        .groupBy(F.col("cent_id").alias("cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    tot = sizes.agg(
        F.sum("n_vectors").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        idiv(F.col("n_vectors") * 10000, F.col("total")).alias("share_bp"),
        idiv(
            F.col("n_vectors") * F.col("n_cells") * 10000, F.col("total")
        ).alias("vs_uniform_bp"),
    )


# ---------------------------------------------------------------------------
# DIMENSION VARIANCE RANKING — the Matryoshka/pruning planner's input:
# per embedding dimension, the exact integer variance numerator
# n·Σx² − (Σx)² over milli-quantized values, ranked, with the cumulative
# variance share — "how many dimensions carry 90% of the energy" read
# straight off cum_share_bp. Moments are exact int64 (loud ANSI
# saturation past ~1e9 vectors at these magnitudes — the covariance-op
# posture); the ranking window runs over exactly DIM rows.
# ---------------------------------------------------------------------------
@register(
    "embedding_dim_variance_rank",
    oracle="""
        WITH vals AS (
            SELECT UNNEST(range(1, len(embedding) + 1)) AS dim,
                   UNNEST(list_transform(embedding,
                       x -> CAST(ROUND(x::DOUBLE * 1000.0) AS BIGINT))) AS v
            FROM embeddings
        ),
        moments AS (
            SELECT dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v) AS BIGINT) AS s,
                   CAST(SUM(v * v) AS BIGINT) AS sq
            FROM vals GROUP BY dim
        ),
        ranked AS (
            SELECT dim, n * sq - s * s AS var_num,
                   ROW_NUMBER() OVER (ORDER BY n * sq - s * s DESC, dim)
                       AS var_rank
            FROM moments
        ),
        tot AS (SELECT CAST(SUM(var_num) AS BIGINT) AS total FROM ranked)
        SELECT r.dim, CAST(r.var_num AS BIGINT) AS var_num,
               CAST(r.var_rank AS BIGINT) AS var_rank,
               CAST(SUM(r.var_num) OVER (
                    ORDER BY r.var_rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) * 10000 // t.total AS cum_share_bp
        FROM ranked r, tot t
    """,
    tags=("similarity", "variance", "matryoshka", "embeddings"),
)
def embedding_dim_variance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    vals = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000.0, 0).cast("long"),
            )
        ).alias("pos", "v")
    ).select((F.col("pos") + 1).cast("long").alias("dim"), "v")
    moments = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sq"),
    )
    var_num = (F.col("n") * F.col("sq") - F.col("s") * F.col("s")).alias(
        "var_num"
    )
    # DIM-row input: the global ordered window is bounded by construction
    ranked = moments.select("dim", var_num).withColumn(
        "var_rank",
        F.row_number()
        .over(Window.orderBy(F.col("var_num").desc(), F.col("dim")))
        .cast("long"),
    )
    tot = ranked.agg(F.sum("var_num").cast("long").alias("total"))
    cum = F.sum("var_num").over(
        Window.orderBy("var_rank").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("cum", cum.cast("long"))
        .select(
            "dim",
            "var_num",
            "var_rank",
            idiv(F.col("cum") * 10000, F.col("total")).alias("cum_share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# BLOCKING-KEY PROFILE — the pair-generation planner for embedding-space
# dedup/linkage: block vectors on a coarse prefix key (first
# EMB_BLOCK_DIMS dimensions quantized to deci-units) and profile the
# blocks — their sizes set the candidate-pair budget (Σ C(n,2)), their
# full-precision distinct count separates true near-dups from key
# collisions, and label spread flags suspicious blocks. One hash
# aggregate; the comparison space never materializes.
# ---------------------------------------------------------------------------
EMB_BLOCK_DIMS = 4


@register(
    "embedding_blocking_key_profile",
    oracle=f"""
        WITH keyed AS (
            SELECT vec_id, label,
                   md5(array_to_string(list_transform(
                       embedding[1:{EMB_BLOCK_DIMS}],
                       x -> CAST(CAST(ROUND(x::DOUBLE * 10.0) AS BIGINT)
                                 AS VARCHAR)), ',')) AS block_key,
                   md5(array_to_string(list_transform(embedding,
                       x -> CAST(CAST(ROUND(x::DOUBLE * 1000.0) AS BIGINT)
                                 AS VARCHAR)), ',')) AS full_fp
            FROM embeddings
        )
        SELECT block_key,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(DISTINCT full_fp) AS BIGINT) AS n_distinct_full,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
               CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT)
                   AS n_candidate_pairs,
               MIN(vec_id) AS min_vec_id
        FROM keyed
        GROUP BY block_key
        HAVING COUNT(*) > 1
    """,
    tags=("similarity", "blocking", "dedup", "embeddings"),
)
def embedding_blocking_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings")
    block_key = F.md5(
        F.array_join(
            F.transform(
                F.slice("embedding", 1, EMB_BLOCK_DIMS),
                lambda x: F.round(x.cast("double") * 10.0, 0)
                .cast("long")
                .cast("string"),
            ),
            ",",
        )
    )
    full_fp = F.md5(
        F.array_join(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000.0, 0)
                .cast("long")
                .cast("string"),
            ),
            ",",
        )
    )
    n = F.count(F.lit(1)).cast("long")
    return (
        emb.select(
            block_key.alias("block_key"),
            full_fp.alias("full_fp"),
            "vec_id",
            "label",
        )
        .groupBy("block_key")
        .agg(
            n.alias("n_vectors"),
            F.countDistinct("full_fp").cast("long").alias("n_distinct_full"),
            F.countDistinct("label").cast("long").alias("n_labels"),
            idiv(n * (n - 1), F.lit(2)).alias("n_candidate_pairs"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .filter(F.col("n_vectors") > 1)
    )


# ---------------------------------------------------------------------------
# kNN LABEL-VOTE CLASSIFIER EVAL — the standard "are these embeddings any
# good" probe: a FIXED, constant-size probe set (vec_id < KNN_EVAL — the
# N_QUERIES convention, so the broadcast side never scales with the
# corpus) is classified by majority vote of its KNN_K nearest train
# vectors under exact integer L2² (dims quantized at KNN_SCALE, the
# kmeans discipline — every distance is an exact int64, so ranking ties
# are engine-exact). Brute force IS the baseline here; the scale path for
# large probe sets is the LSH/IVF family above. Ties in the vote go to
# the smallest label (min over (-count, label) structs on both engines).
# ---------------------------------------------------------------------------
KNN_EVAL = 32  # constant probe-set size: vec_id < 32 are evaluated
KNN_K = 5
KNN_SCALE = 10_000

_KNN_QDIST_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
    f"p -> (CAST(ROUND(p[1] * {KNN_SCALE}.0) AS BIGINT)"
    f" - CAST(ROUND(p[2] * {KNN_SCALE}.0) AS BIGINT))"
    f" * (CAST(ROUND(p[1] * {KNN_SCALE}.0) AS BIGINT)"
    f" - CAST(ROUND(p[2] * {KNN_SCALE}.0) AS BIGINT)))), "
    "(acc, x) -> acc + x)"
)


def _l2sq_int(a, b, scale: int):
    """Exact-integer squared L2 on quantized dims (JVM-side; the Spark
    mirror of _KNN_QDIST_SQL — int64 throughout, order-free)."""
    qx = lambda v: F.round(v.cast("double") * scale, 0).cast("long")  # noqa: E731
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (qx(x) - qx(y)) * (qx(x) - qx(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@register(
    "knn_classifier_eval",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id AS eval_id, embedding AS e_emb, label AS true_label
            FROM embeddings WHERE vec_id < {KNN_EVAL}
        ),
        tr AS (
            SELECT vec_id AS train_id, embedding AS t_emb, label
            FROM embeddings WHERE vec_id >= {KNN_EVAL}
        ),
        scored AS (
            SELECT ev.eval_id, ev.true_label, tr.train_id, tr.label,
                   {_KNN_QDIST_SQL.format(a='ev.e_emb', b='tr.t_emb')} AS d,
                   ROW_NUMBER() OVER (
                       PARTITION BY ev.eval_id
                       ORDER BY {_KNN_QDIST_SQL.format(a='ev.e_emb', b='tr.t_emb')},
                                tr.train_id
                   ) AS rn
            FROM ev CROSS JOIN tr
        ),
        votes AS (
            SELECT eval_id, true_label, label,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM scored WHERE rn <= {KNN_K}
            GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT eval_id, true_label,
                   (MIN(struct_pack(nc := -cnt, lb := label))).lb AS pred_label
            FROM votes GROUP BY 1, 2
        )
        SELECT CAST(true_label AS BIGINT) AS true_label,
               CAST(COUNT(*) AS BIGINT) AS n_eval,
               CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST((2 * CAST(SUM(CASE WHEN pred_label = true_label
                                       THEN 1 ELSE 0 END) AS BIGINT) * 10000
                     + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS accuracy_bp
        FROM pred GROUP BY 1
    """,
    tags=("similarity", "embeddings", "ml", "classifier", "knn"),
)
def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    ev = emb.filter(F.col("vec_id") < KNN_EVAL).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("e_emb"),
        F.col("label").alias("true_label"),
    )
    tr = emb.filter(F.col("vec_id") >= KNN_EVAL).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("t_emb"),
        "label",
    )
    d = _l2sq_int(F.col("e_emb"), F.col("t_emb"), KNN_SCALE)
    w = Window.partitionBy("eval_id").orderBy("d", "train_id")
    votes = (
        tr.crossJoin(F.broadcast(ev))
        .select("eval_id", "true_label", "train_id", "label", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .groupBy("eval_id", "true_label", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    pred = votes.groupBy("eval_id", "true_label").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("lb"))
        )["lb"].alias("pred_label")
    )
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("true_label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n_eval",
            "n_correct",
            idiv(
                F.col("n_correct") * 2 * 10000 + F.col("n_eval"),
                F.col("n_eval") * 2,
            ).alias("accuracy_bp"),
        )
    )


# ---------------------------------------------------------------------------
# K-MEANS ELBOW (INERTIA SWEEP) — the model-selection companion to
# cluster_kmeans_embeddings: total within-cluster inertia for K in
# {2, 4, 8} under NESTED deterministic seeds (centroid k = the embedding
# of vec_id k, so K=2 ⊂ K=4 ⊂ K=8). Nesting is the scale trick: ONE pass
# computes distances to all 8 broadcast centroids and the three running
# minima per vector, so the sweep costs one scan, not |Ks| scans.
# Distances are exact int64 (ELBOW_SCALE quantization) — inertia sums are
# order-free and engine-exact.
# ---------------------------------------------------------------------------
ELBOW_KS = (2, 4, 8)
ELBOW_SCALE = 1_000

_ELBOW_QDIST_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), "
    f"p -> (CAST(ROUND(p[1] * {ELBOW_SCALE}.0) AS BIGINT)"
    f" - CAST(ROUND(p[2] * {ELBOW_SCALE}.0) AS BIGINT))"
    f" * (CAST(ROUND(p[1] * {ELBOW_SCALE}.0) AS BIGINT)"
    f" - CAST(ROUND(p[2] * {ELBOW_SCALE}.0) AS BIGINT)))), "
    "(acc, x) -> acc + x)"
)


@register(
    "kmeans_inertia_elbow",
    oracle=f"""
        WITH c AS (
            SELECT vec_id AS cent_id, embedding AS c_emb
            FROM embeddings WHERE vec_id < {max(ELBOW_KS)}
        ),
        d AS (
            SELECT e.vec_id, c.cent_id,
                   {_ELBOW_QDIST_SQL.format(a='e.embedding', b='c.c_emb')} AS d2
            FROM embeddings e CROSS JOIN c
        ),
        m AS (
            SELECT vec_id,
                   MIN(CASE WHEN cent_id < 2 THEN d2 END) AS m2,
                   MIN(CASE WHEN cent_id < 4 THEN d2 END) AS m4,
                   MIN(d2) AS m8
            FROM d GROUP BY 1
        ),
        u AS (
            SELECT 2 AS k, m2 AS md FROM m
            UNION ALL SELECT 4, m4 FROM m
            UNION ALL SELECT 8, m8 FROM m
        )
        SELECT CAST(k AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(md) AS BIGINT) AS inertia,
               CAST((2 * CAST(SUM(md) AS BIGINT) + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS avg_inertia
        FROM u GROUP BY 1
    """,
    tags=("similarity", "embeddings", "kmeans", "model-selection"),
)
def kmeans_inertia_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    c = emb.filter(F.col("vec_id") < max(ELBOW_KS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    d2 = _l2sq_int(F.col("embedding"), F.col("c_emb"), ELBOW_SCALE)
    m = (
        emb.crossJoin(F.broadcast(c))
        .select("vec_id", "cent_id", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min(F.when(F.col("cent_id") < 2, F.col("d2"))).alias("m2"),
            F.min(F.when(F.col("cent_id") < 4, F.col("d2"))).alias("m4"),
            F.min("d2").alias("m8"),
        )
    )
    u = m.select(
        F.explode(
            F.array(
                F.struct(F.lit(2).cast("long").alias("k"), F.col("m2").alias("md")),
                F.struct(F.lit(4).cast("long").alias("k"), F.col("m4").alias("md")),
                F.struct(F.lit(8).cast("long").alias("k"), F.col("m8").alias("md")),
            )
        ).alias("s")
    ).select("s.k", "s.md")
    return (
        u.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("md").cast("long").alias("inertia"),
        )
        .select(
            "k",
            "n_vecs",
            "inertia",
            idiv(
                F.col("inertia") * 2 + F.col("n_vecs"), F.col("n_vecs") * 2
            ).alias("avg_inertia"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D PCA, CLOSED FORM — principal axes of the (dim1, dim2) marginal via
# the 2×2 covariance eigendecomposition: scatter moments are exact int64
# (PCA2_SCALE quantization), the scaled covariance entries a, b, c are
# formed in DOUBLE with the identical expression tree on both engines
# (products of identical doubles are IEEE-identical even past 2^53
# exactness), and the eigenvalues come from the quadratic formula with
# one correctly-rounded sqrt. One constant-width aggregate over the
# corpus — the same moment-sum shape as revenue_trend_ols — then O(1)
# scalar math; nothing here grows with the data.
# ---------------------------------------------------------------------------
PCA2_SCALE = 1_000
PCA2_DIM_I = 1  # 1-indexed embedding dims the 2-D marginal projects on
PCA2_DIM_J = 2


@register(
    "embedding_pca2_closed_form",
    oracle=f"""
        WITH q AS (
            SELECT CAST(ROUND(embedding[{PCA2_DIM_I}]::DOUBLE * {PCA2_SCALE}.0)
                        AS BIGINT) AS x,
                   CAST(ROUND(embedding[{PCA2_DIM_J}]::DOUBLE * {PCA2_SCALE}.0)
                        AS BIGINT) AS y
            FROM embeddings
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM q
        ),
        ev AS (
            SELECT n,
                   CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS a,
                   CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS b,
                   CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS c
            FROM mo
        ),
        lam AS (
            SELECT n, a, b, c,
                   ((a + c) + sqrt((a - c) * (a - c) + 4.0 * b * b)) / 2.0
                       AS l1,
                   ((a + c) - sqrt((a - c) * (a - c) + 4.0 * b * b)) / 2.0
                       AS l2
            FROM ev
        )
        SELECT n,
               CAST(ROUND(l1) AS BIGINT) AS lambda1,
               CAST(ROUND(l2) AS BIGINT) AS lambda2,
               CAST(ROUND(l1 / (l1 + l2) * 1000000.0) AS BIGINT)
                   AS explained_micro,
               CASE WHEN b <> 0.0
                    THEN CAST(ROUND((l1 - a) / b * 1000000.0) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS slope_micro
        FROM lam
    """,
    tags=("embeddings", "pca", "stats", "closed-form"),
)
def embedding_pca2_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    qx = (
        F.round(
            F.element_at("embedding", PCA2_DIM_I).cast("double") * PCA2_SCALE, 0
        )
        .cast("long")
        .alias("x")
    )
    qy = (
        F.round(
            F.element_at("embedding", PCA2_DIM_J).cast("double") * PCA2_SCALE, 0
        )
        .cast("long")
        .alias("y")
    )
    mo = emb.select(qx, qy).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    a = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    b = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    c = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    ev = mo.select("n", a.alias("a"), b.alias("b"), c.alias("c"))
    disc = F.sqrt(
        (F.col("a") - F.col("c")) * (F.col("a") - F.col("c"))
        + 4.0 * F.col("b") * F.col("b")
    )
    lam = ev.select(
        "n",
        "a",
        "b",
        "c",
        ((F.col("a") + F.col("c")) + disc).alias("_l1x"),
        ((F.col("a") + F.col("c")) - disc).alias("_l2x"),
    ).select(
        "n",
        "a",
        "b",
        (F.col("_l1x") / 2.0).alias("l1"),
        (F.col("_l2x") / 2.0).alias("l2"),
    )
    return lam.select(
        "n",
        F.round(F.col("l1"), 0).cast("long").alias("lambda1"),
        F.round(F.col("l2"), 0).cast("long").alias("lambda2"),
        F.round(F.col("l1") / (F.col("l1") + F.col("l2")) * 1000000.0, 0)
        .cast("long")
        .alias("explained_micro"),
        F.when(
            F.col("b") != 0.0,
            F.round((F.col("l1") - F.col("a")) / F.col("b") * 1000000.0, 0)
            .cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# CENTROID SILHOUETTE — simplified (medoid-free) silhouette over the
# labeled embedding corpus: a(v) = squared distance to the OWN label
# centroid, b(v) = min squared distance to any OTHER label centroid,
# s = (b - a) / max(a, b). Centroids are per-dim integer-rounded means
# (exact int sums → one identical double division → round-to-int — the
# streaming_ivf_assign discipline), so every distance is an exact int64
# and s quantizes portably to micro-units. Scale shape: the per-dim
# centroid table is |labels|·DIM rows (broadcast); the long-format join
# fans each vector out ×|labels| — constant, never data-sized.
# ---------------------------------------------------------------------------
SIL_SCALE = 1_000


@register(
    "embedding_silhouette_centroid",
    oracle=f"""
        WITH el AS (
            SELECT vec_id, label, CAST(i AS BIGINT) AS i,
                   CAST(ROUND(embedding[i]::DOUBLE * {SIL_SCALE}.0) AS BIGINT)
                       AS x
            FROM (SELECT vec_id, label, embedding,
                         UNNEST(range(1, 1 + len(embedding))) AS i
                  FROM embeddings)
        ),
        cent AS (
            SELECT label AS c_label, i,
                   CAST(ROUND(CAST(SUM(x) AS BIGINT) * 1.0 / COUNT(*))
                        AS BIGINT) AS c
            FROM el GROUP BY 1, 2
        ),
        dsq AS (
            SELECT e.vec_id, e.label, c.c_label,
                   CAST(SUM((e.x - c.c) * (e.x - c.c)) AS BIGINT) AS d
            FROM el e JOIN cent c ON c.i = e.i
            GROUP BY 1, 2, 3
        ),
        ab AS (
            SELECT vec_id, label,
                   MIN(CASE WHEN c_label = label THEN d END) AS a,
                   MIN(CASE WHEN c_label <> label THEN d END) AS b
            FROM dsq GROUP BY 1, 2
        ),
        s AS (
            SELECT label,
                   CASE WHEN greatest(a, b) > 0
                        THEN CAST(ROUND((CAST(b AS DOUBLE) - CAST(a AS DOUBLE))
                                        / CAST(greatest(a, b) AS DOUBLE)
                                        * 1000000.0) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS s_micro
            FROM ab
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(s_micro) AS BIGINT) AS sum_s_micro,
               CAST(ROUND(CAST(SUM(s_micro) AS BIGINT) * 1.0 / COUNT(*))
                    AS BIGINT) AS avg_s_micro
        FROM s GROUP BY 1
    """,
    tags=("embeddings", "clustering", "silhouette", "stats"),
)
def embedding_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    el = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).cast("long").alias("i"),
        F.round(F.col("v").cast("double") * SIL_SCALE, 0).cast("long").alias("x"),
    )
    cent = el.groupBy(F.col("label").alias("c_label"), "i").agg(
        F.round(F.sum("x").cast("long") * 1.0 / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("c")
    )
    dsq = (
        el.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            .cast("long")
            .alias("d")
        )
    )
    ab = dsq.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d"))).alias("b"),
    )
    s_micro = F.when(
        F.greatest("a", "b") > 0,
        F.round(
            (F.col("b").cast("double") - F.col("a").cast("double"))
            / F.greatest("a", "b").cast("double")
            * 1000000.0,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        ab.select(F.col("label").cast("long").alias("label"), s_micro.alias("s_micro"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("s_micro").cast("long").alias("sum_s_micro"),
        )
        .select(
            "label",
            "n_vecs",
            "sum_s_micro",
            F.round(F.col("sum_s_micro") * 1.0 / F.col("n_vecs"), 0)
            .cast("long")
            .alias("avg_s_micro"),
        )
    )


# ---------------------------------------------------------------------------
# IVF NPROBE SWEEP — the tuning curve behind similarity_topk_ivf /
# ivf_recall_report: recall@TOP_K against the exact brute-force
# neighbors as nprobe grows through NPROBE_GRID. Probing is computed
# ONCE at the largest nprobe (the probe window is bounded by the
# centroid count) and the grid replays it by filtering p_rn <= np — one
# candidate-generation pass feeds every grid point, so the sweep costs
# the same scan count as a single IVF query. This is the report that
# picks the latency/recall operating point before a 100 TB rollout.
# ---------------------------------------------------------------------------
NPROBE_GRID = (1, 2, 4)


def _nprobe_sweep_oracle() -> str:
    grid_vals = ", ".join(f"({np})" for np in NPROBE_GRID)
    return f"""
        WITH centroids AS (
            SELECT vec_id AS cent_id, embedding AS c_emb
            FROM embeddings
            WHERE {md5_int_sql("vec_id", "ivf:")} % {IVF_SAMPLE_MOD} = 0
        ),
        assign AS (
            SELECT vec_id, embedding, cent_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell,
                   rn AS p_rn
            FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
                WHERE e.vec_id < {N_QUERIES}
            ) WHERE rn <= {max(NPROBE_GRID)}
        ),
        cand AS (
            SELECT p.query_id, p.p_rn, a.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a='p.q_emb', b='a.embedding')}
                   / ({_NORM_SQL.format(a='p.q_emb')}
                      * {_NORM_SQL.format(a='a.embedding')}) AS cos_raw
            FROM probes p
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
        ),
        grid(np) AS (VALUES {grid_vals}),
        approx AS (
            SELECT np, query_id, neighbor_id FROM (
                SELECT g.np, c.query_id, c.neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY g.np, c.query_id
                           ORDER BY c.cos_raw DESC, c.neighbor_id) AS rank
                FROM cand c JOIN grid g ON c.p_rn <= g.np
            ) WHERE rank <= {TOP_K}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_dot_qd} / ({_norm_q} * {_norm_d}) DESC,
                                    d.vec_id) AS rank
                FROM embeddings q
                JOIN embeddings d ON d.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rank <= {TOP_K}
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
        hits AS (
            SELECT a.np, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM approx a
            JOIN exact e ON e.query_id = a.query_id
                        AND e.neighbor_id = a.neighbor_id
            GROUP BY 1
        )
        SELECT CAST(g.np AS BIGINT) AS np, t.n_exact,
               COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
               CAST((2 * COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 10000
                     + t.n_exact) // (2 * t.n_exact) AS BIGINT) AS recall_bp
        FROM grid g CROSS JOIN tot t LEFT JOIN hits h ON h.np = g.np
    """


@register(
    "ivf_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    tags=("similarity", "ivf", "embeddings", "recall", "tuning"),
)
def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nprobe_sweep_parts(spark, sf_dir)["sweep"]


def _nprobe_sweep_parts(spark: SparkSession, sf_dir: str) -> dict:
    """Centroids, corpus assignment, and the recall/nprobe sweep built
    from ONE candidate-generation pass — returned together so
    ann_pipeline_composition reuses the same assignment DataFrames for
    its build/balance stages instead of recomputing the corpus ×
    centroids argmin (the DuckDB oracle materializes `assign` once; the
    Spark side should plan it once too)."""
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators._portable import idiv

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    ivf_hash = md5_int("vec_id", "ivf:")
    centroids = emb.filter(ivf_hash % IVF_SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )

    def nearest(vectors: DataFrame, n: int) -> DataFrame:
        dist = _l2sq(F.col("embedding"), F.col("c_emb"))
        w = Window.partitionBy("vec_id").orderBy("dist", "cent_id")
        return (
            vectors.crossJoin(F.broadcast(centroids))
            .select("vec_id", "embedding", "cent_id", dist.alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
        )

    # r13: per-row norm hoist (see similarity_lsh_neardup)
    assign = nearest(emb, 1).select(
        "vec_id", "embedding",
        _norm(F.col("embedding")).alias("d_norm"),
        F.col("cent_id").alias("cell"),
    )
    probes = nearest(emb.filter(F.col("vec_id") < N_QUERIES), max(NPROBE_GRID)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
        F.col("cent_id").alias("p_cell"),
        F.col("rn").alias("p_rn"),
    )
    cos_raw = _dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_norm") * F.col("d_norm")
    )
    cand = assign.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("p_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "p_rn",
        F.col("vec_id").alias("neighbor_id"),
        cos_raw.alias("cos_raw"),
    )
    grid = jvm_values_df(spark, [(np,) for np in NPROBE_GRID], "np long")
    w = Window.partitionBy("np", "query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        cand.join(F.broadcast(grid), F.col("p_rn") <= F.col("np"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("np", "query_id", "neighbor_id")
    )
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    tot = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy("np").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    sweep = (
        grid.crossJoin(F.broadcast(tot))
        .join(hits, "np", "left")
        .select(
            "np",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            idiv(
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) * 2 * 10000
                + F.col("n_exact"),
                F.col("n_exact") * 2,
            ).alias("recall_bp"),
        )
    )
    return {"emb": emb, "centroids": centroids, "assign": assign,
            "sweep": sweep}


# ---------------------------------------------------------------------------
# JOHNSON-LINDENSTRAUSS PROJECTION AUDIT — does a 16-dim ±1 random
# projection preserve norms well enough to run coarse similarity on the
# cheap sketch? Planes are deterministic md5-parity ±1 rows (the
# sign-LSH hyperplane generator with an independent seed offset),
# embedded as literal arrays in BOTH plans; dims are milli-quantized so
# every projection component and every squared norm is an EXACT int64.
# The per-vector norm-preservation ratio |Px|²/(K·|x|²) quantizes to
# micro-units before the per-label rollup — no cross-row float sums
# anywhere. One corpus pass, zero shuffle until the |labels|-row rollup.
# ---------------------------------------------------------------------------
JL_K = 16
JL_SEED_BASE = 200  # hyperplane seeds disjoint from the LSH family
JL_SCALE = 1_000

_JL_PLANES = [_hyperplane(JL_SEED_BASE + j) for j in range(JL_K)]


def _jl_plane_spark(j: int) -> str:
    return "array(" + ", ".join(f"{int(v)}L" for v in _JL_PLANES[j]) + ")"


def _jl_plane_duck(j: int) -> str:
    """DuckDB literal for plane j, generated from the SAME _JL_PLANES
    rows the Spark plan embeds — one definition, so a future change to
    the hyperplane generator or JL_SEED_BASE can never desynchronize the
    two sides silently in source."""
    return "[" + ", ".join(str(int(v)) for v in _JL_PLANES[j]) + "]::BIGINT[]"


_JL_S_LINES = ",\n".join(
    "                   list_reduce(list_prepend(CAST(0 AS BIGINT), "
    f"list_transform(list_zip(xq, {_jl_plane_duck(j)}), p -> p[1] * p[2])), "
    f"(acc, v) -> acc + v) AS s_{j}"
    for j in range(JL_K)
)
_JL_PX2 = " + ".join(f"(s_{j} * s_{j})" for j in range(JL_K))


@register(
    "embedding_jl_projection_audit",
    oracle=f"""
        WITH q AS (
            SELECT label,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(ROUND(x * 1000.0) AS BIGINT))
                       AS xq
            FROM embeddings
        ),
        pr0 AS (
            SELECT label,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(xq, x -> x * x)),
                       (acc, v) -> acc + v) AS norm2,
{_JL_S_LINES}
            FROM q
        ),
        pr AS (
            SELECT label, norm2, {_JL_PX2} AS px2 FROM pr0
        ),
        ratio AS (
            SELECT label,
                   CAST(ROUND(CAST(px2 AS DOUBLE)
                              / (16.0 * CAST(norm2 AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS ratio_micro
            FROM pr WHERE norm2 > 0
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(ratio_micro) AS BIGINT) AS min_ratio_micro,
               CAST(MAX(ratio_micro) AS BIGINT) AS max_ratio_micro,
               CAST(ROUND(CAST(SUM(ratio_micro) AS BIGINT) * 1.0 / COUNT(*))
                    AS BIGINT) AS avg_ratio_micro
        FROM ratio GROUP BY 1
    """,
    tags=("embeddings", "random-projection", "jl", "sketch"),
)
def embedding_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    xq_sql = (
        f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)"
        f" * {JL_SCALE}.0) AS BIGINT))"
    )
    staged = emb.select("label", F.expr(xq_sql).alias("xq"))
    proj_cols = [
        F.expr(
            f"aggregate(zip_with(xq, {_jl_plane_spark(j)},"
            " (x, s) -> x * s), 0L, (acc, v) -> acc + v)"
        ).alias(f"s_{j}")
        for j in range(JL_K)
    ]
    norm2 = F.expr(
        "aggregate(transform(xq, x -> x * x), 0L, (acc, v) -> acc + v)"
    )
    pr = staged.select("label", norm2.alias("norm2"), *proj_cols)
    px2 = None
    for j in range(JL_K):
        term = F.col(f"s_{j}") * F.col(f"s_{j}")
        px2 = term if px2 is None else px2 + term
    ratio = pr.filter(F.col("norm2") > 0).select(
        "label",
        F.round(
            px2.cast("double")
            / (float(JL_K) * F.col("norm2").cast("double"))
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("ratio_micro"),
    )
    return (
        ratio.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("ratio_micro").alias("min_ratio_micro"),
            F.max("ratio_micro").alias("max_ratio_micro"),
            F.sum("ratio_micro").alias("_sum"),
        )
        .select(
            "label",
            "n_vecs",
            "min_ratio_micro",
            "max_ratio_micro",
            F.round(F.col("_sum") * 1.0 / F.col("n_vecs"), 0)
            .cast("long")
            .alias("avg_ratio_micro"),
        )
    )


# ---------------------------------------------------------------------------
# QUANTIZATION BIT-WIDTH SWEEP — the storage/recall trade behind the
# int8 / PQ / 1-bit family measured in one pass: symmetric quantization
# at 8, 4, and 2 bits against the corpus-wide max-abs scale, with the
# per-vector reconstruction SSE computed by a pinned sequential fold of
# IDENTICAL double expressions on both engines, then rounded to integer
# milli-units BEFORE any cross-row sum (order-free totals). The scale
# constant is one broadcast row; the three widths share the single scan
# (the nested-seeds trick from kmeans_inertia_elbow).
# ---------------------------------------------------------------------------
BW_SCALE = 1_000
BW_BITS = (8, 4, 2)


def _bw_sse_term(l_levels: int) -> str:
    # (x - ROUND(x·L/g)·g/L)² with x already an exact integer in millis
    return (
        "(CAST(x AS DOUBLE)"
        f" - ROUND(CAST(x AS DOUBLE) * {l_levels}.0 / g)"
        f" * g / {l_levels}.0)"
    )


@register(
    "embedding_bitwidth_sweep",
    oracle=f"""
        WITH q AS (
            SELECT list_transform(embedding::DOUBLE[],
                                  x -> CAST(ROUND(x * {BW_SCALE}.0) AS BIGINT))
                       AS xq
            FROM embeddings
        ),
        gmax AS (
            SELECT CAST(MAX(list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(xq, x -> abs(x))),
                       (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END))
                       AS DOUBLE) AS g
            FROM q
        ),
        sse AS (
            SELECT {", ".join(
                "CAST(ROUND(list_reduce(list_prepend(0.0, "
                "list_transform(xq, x -> "
                + _bw_sse_term(2 ** (b - 1) - 1) + " * "
                + _bw_sse_term(2 ** (b - 1) - 1)
                + ")), (acc, v) -> acc + v) * 1000.0) AS BIGINT)"
                " AS sse_milli_" + str(b)
                for b in BW_BITS
            )}
            FROM q, gmax
        ),
        u AS (
            {" UNION ALL ".join(
                f"SELECT {b} AS bits, sse_milli_{b} AS sse_milli FROM sse"
                for b in BW_BITS
            )}
        )
        SELECT CAST(bits AS BIGINT) AS bits,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(sse_milli) AS BIGINT) AS total_sse_milli,
               CAST(ROUND(CAST(SUM(sse_milli) AS BIGINT) * 1.0 / COUNT(*))
                    AS BIGINT) AS avg_sse_milli
        FROM u GROUP BY 1
    """,
    tags=("embeddings", "quantization", "sweep", "sketch"),
)
def embedding_bitwidth_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    q = emb.select(
        F.expr(
            f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)"
            f" * {BW_SCALE}.0) AS BIGINT))"
        ).alias("xq")
    )
    gmax = q.agg(
        F.max(
            F.expr(
                "aggregate(transform(xq, x -> abs(x)), 0L,"
                " (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END)"
            )
        )
        .cast("double")
        .alias("g")
    )
    sse_cols = []
    for b in BW_BITS:
        term = _bw_sse_term(2 ** (b - 1) - 1)
        sse_cols.append(
            F.expr(
                f"CAST(ROUND(aggregate(transform(xq, x -> {term} * {term}),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 1000.0)"
                " AS BIGINT)"
            ).alias(f"sse_milli_{b}")
        )
    sse = q.crossJoin(F.broadcast(gmax)).select(*sse_cols)
    u = sse.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("bits"),
                        F.col(f"sse_milli_{b}").alias("sse_milli"),
                    )
                    for b in BW_BITS
                ]
            )
        ).alias("s")
    ).select("s.bits", "s.sse_milli")
    return (
        u.groupBy("bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sse_milli").cast("long").alias("total_sse_milli"),
        )
        .select(
            "bits",
            "n_vecs",
            "total_sse_milli",
            F.round(F.col("total_sse_milli") * 1.0 / F.col("n_vecs"), 0)
            .cast("long")
            .alias("avg_sse_milli"),
        )
    )


# ---------------------------------------------------------------------------
# EMBEDDING DRIFT, A/B HALVES — did the embedding distribution move
# between two corpus slices? Per label, the centroid of the even-id half
# vs the odd-id half (integer-rounded per-dim means — the silhouette
# discipline), and the exact-integer squared L2 shift between them. The
# per-dim centroid tables are |labels|·DIM·2 rows; nothing data-sized
# survives the first aggregate. This is the model-rot monitor an
# embedding pipeline runs between re-trains.
# ---------------------------------------------------------------------------
DRIFT_SCALE = 1_000


@register(
    "embedding_drift_ab_halves",
    oracle=f"""
        WITH el AS (
            SELECT vec_id % 2 AS half, label, CAST(i AS BIGINT) AS i,
                   CAST(ROUND(embedding[i]::DOUBLE * {DRIFT_SCALE}.0)
                        AS BIGINT) AS x
            FROM (SELECT vec_id, label, embedding,
                         UNNEST(range(1, 1 + len(embedding))) AS i
                  FROM embeddings)
        ),
        cent AS (
            SELECT half, label, i,
                   CAST(ROUND(CAST(SUM(x) AS BIGINT) * 1.0 / COUNT(*))
                        AS BIGINT) AS c
            FROM el GROUP BY 1, 2, 3
        ),
        counts AS (
            SELECT label,
                   CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 0
                                            THEN vec_id END) AS BIGINT) AS n_a,
                   CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 1
                                            THEN vec_id END) AS BIGINT) AS n_b
            FROM embeddings GROUP BY 1
        ),
        shift AS (
            SELECT a.label,
                   CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT)
                       AS l2_shift_sq
            FROM cent a
            JOIN cent b ON b.label = a.label AND b.i = a.i AND b.half = 1
            WHERE a.half = 0
            GROUP BY 1
        )
        SELECT CAST(s.label AS BIGINT) AS label, c.n_a, c.n_b,
               s.l2_shift_sq,
               CAST(ROUND(sqrt(CAST(s.l2_shift_sq AS DOUBLE))) AS BIGINT)
                   AS shift_milli
        FROM shift s JOIN counts c ON c.label = s.label
    """,
    tags=("embeddings", "drift", "monitoring", "stats"),
)
def embedding_drift_ab_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    el = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode("embedding").alias("i0", "v"),
    ).select(
        "half",
        "label",
        (F.col("i0") + 1).cast("long").alias("i"),
        F.round(F.col("v").cast("double") * DRIFT_SCALE, 0)
        .cast("long")
        .alias("x"),
    )
    cent = el.groupBy("half", "label", "i").agg(
        F.round(F.sum("x").cast("long") * 1.0 / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("c")
    )
    counts = emb.groupBy("label").agg(
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        )
        .cast("long")
        .alias("n_a"),
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        )
        .cast("long")
        .alias("n_b"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "i", F.col("c").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "i", F.col("c").alias("cb")
    )
    shift = (
        a.join(b, ["label", "i"])
        .groupBy("label")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("long")
            .alias("l2_shift_sq")
        )
    )
    return shift.join(F.broadcast(counts), "label").select(
        F.col("label").cast("long").alias("label"),
        "n_a",
        "n_b",
        "l2_shift_sq",
        F.round(F.sqrt(F.col("l2_shift_sq").cast("double")), 0)
        .cast("long")
        .alias("shift_milli"),
    )


# ---------------------------------------------------------------------------
# ANN METHOD AGREEMENT — the self-calibrating meta-report over the
# retrieval family: pairwise top-K overlap between the exact ranking
# and each approximate method (sign-LSH buckets, IVF probe, binary
# rerank), from the SAME query set. Each method's top-K is the already-
# registered operator's own output — this op composes them, so a
# regression in any member shows up as an agreement drop. Bounded:
# |methods|² × N_QUERIES × TOP_K rows everywhere.
# ---------------------------------------------------------------------------
def _ann_agreement_oracle() -> str:
    from kafka_stream_job_spark.registry import REGISTRY

    exact = REGISTRY["similarity_topk_cosine"].oracle
    bucketed = REGISTRY["similarity_topk_bucketed"].oracle
    ivf = REGISTRY["similarity_topk_ivf"].oracle
    binary = REGISTRY["similarity_topk_binary_rerank"].oracle
    methods = ", ".join(
        f"m_{name} AS (SELECT query_id, neighbor_id FROM ({sql}))"
        for name, sql in (
            ("exact", exact),
            ("bucketed", bucketed),
            ("ivf", ivf),
            ("binary", binary),
        )
    )
    pairs = " UNION ALL ".join(
        f"""SELECT '{a}' AS method_a, '{b}' AS method_b,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM m_{a} x
                    JOIN m_{b} y ON y.query_id = x.query_id
                               AND y.neighbor_id = x.neighbor_id) AS n_shared,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM m_{a}) AS n_a,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM m_{b}) AS n_b"""
        for a, b in (
            ("exact", "bucketed"),
            ("exact", "ivf"),
            ("exact", "binary"),
            ("bucketed", "ivf"),
            ("bucketed", "binary"),
            ("ivf", "binary"),
        )
    )
    return f"""
        WITH {methods},
        p AS ({pairs})
        SELECT method_a, method_b, n_shared, n_a, n_b,
               CAST((2 * n_shared * 10000 + least(n_a, n_b))
                    // (2 * least(n_a, n_b)) AS BIGINT) AS overlap_bp
        FROM p
    """


@register(
    "ann_method_agreement",
    oracle=_ann_agreement_oracle(),
    tags=("similarity", "embeddings", "recall", "meta-eval"),
)
def ann_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv
    from kafka_stream_job_spark.registry import REGISTRY

    methods = {
        "exact": "similarity_topk_cosine",
        "bucketed": "similarity_topk_bucketed",
        "ivf": "similarity_topk_ivf",
        "binary": "similarity_topk_binary_rerank",
    }
    tops = {
        name: REGISTRY[q].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)  # each feeds several pair joins
        for name, q in methods.items()
    }
    rows = None
    order = ["exact", "bucketed", "ivf", "binary"]
    for i, a in enumerate(order):
        for b in order[i + 1 :]:
            shared = tops[a].join(tops[b], ["query_id", "neighbor_id"]).agg(
                F.count(F.lit(1)).cast("long").alias("n_shared")
            )
            na = tops[a].agg(F.count(F.lit(1)).cast("long").alias("n_a"))
            nb = tops[b].agg(F.count(F.lit(1)).cast("long").alias("n_b"))
            row = (
                shared.crossJoin(F.broadcast(na))
                .crossJoin(F.broadcast(nb))
                .select(
                    F.lit(a).alias("method_a"),
                    F.lit(b).alias("method_b"),
                    "n_shared",
                    "n_a",
                    "n_b",
                )
            )
            rows = row if rows is None else rows.unionByName(row)
    return rows.select(
        "method_a",
        "method_b",
        "n_shared",
        "n_a",
        "n_b",
        idiv(
            F.col("n_shared") * 2 * 10000 + F.least("n_a", "n_b"),
            F.least("n_a", "n_b") * 2,
        ).alias("overlap_bp"),
    )


# ---------------------------------------------------------------------------
# EMBEDDING ISOTROPY PROXY — the Ethayarajh-style "are embeddings using
# the whole space" check: mean cosine between consecutive-id vector
# pairs (a deterministic, data-independent pairing — no sampling state).
# An anisotropic (cone-shaped) embedding space pushes this toward 1 and
# degrades every downstream cosine ranking. Per-pair cosines quantize to
# micro-units BEFORE the corpus mean (order-free); one self-join on the
# shifted id — co-partitioned, never quadratic.
# ---------------------------------------------------------------------------
@register(
    "embedding_isotropy_proxy",
    oracle=f"""
        WITH pairs AS (
            SELECT CAST(ROUND(
                       {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                       / ({_NORM_SQL.format(a='a.embedding')}
                          * {_NORM_SQL.format(a='b.embedding')})
                       * 1000000.0) AS BIGINT) AS cos_micro
            FROM embeddings a
            JOIN embeddings b ON b.vec_id = a.vec_id + 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MIN(cos_micro) AS BIGINT) AS min_cos_micro,
               CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro,
               CAST(ROUND(CAST(SUM(cos_micro) AS BIGINT) * 1.0 / COUNT(*))
                    AS BIGINT) AS mean_cos_micro
        FROM pairs
    """,
    tags=("embeddings", "isotropy", "stats", "quality"),
)
def embedding_isotropy_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    # r13: per-row norm hoist — each vector's norm folds once per SIDE
    # instead of inside every joined pair expression (guide §1.2)
    a = emb.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("ia"), F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    pairs = a.join(b, "ia").select(
        F.round(cos * 1000000.0, 0).cast("long").alias("cos_micro")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("cos_micro").alias("min_cos_micro"),
        F.max("cos_micro").alias("max_cos_micro"),
        F.sum("cos_micro").alias("_s"),
    ).select(
        "n_pairs",
        "min_cos_micro",
        "max_cos_micro",
        F.round(F.col("_s") * 1.0 / F.col("n_pairs"), 0)
        .cast("long")
        .alias("mean_cos_micro"),
    )


# ---------------------------------------------------------------------------
# ANN PIPELINE COMPOSITION — the IVF funnel as ONE attributed report,
# mirroring dedup_pipeline_composition on the similarity side: stage 1
# samples the centroid codebook, stage 2 assigns the corpus (cell count
# + worst-cell share = the balance signal that predicts tail latency at
# 100 TB), stages 3..2+|grid| replay the recall/nprobe trade-off from a
# single candidate-generation pass (ivf_nprobe_sweep's shape), and the
# final stage commits the operating point: the smallest nprobe whose
# recall@TOP_K clears ANN_RECALL_TARGET_BP, falling back to the largest
# probed. One table a platform team reads before a rollout — every row
# is (stage_idx, stage, n_in, n_out, metric_bp) in exact integers.
# ---------------------------------------------------------------------------
ANN_RECALL_TARGET_BP = 4_000


def _ann_composition_oracle() -> str:
    grid_vals = ", ".join(f"({np})" for np in NPROBE_GRID)
    grididx_vals = ", ".join(
        f"({np}, {i + 3})" for i, np in enumerate(NPROBE_GRID)
    )
    choice_idx = 3 + len(NPROBE_GRID)
    return f"""
        WITH centroids AS MATERIALIZED (
            SELECT vec_id AS cent_id, embedding AS c_emb
            FROM embeddings
            WHERE {md5_int_sql("vec_id", "ivf:")} % {IVF_SAMPLE_MOD} = 0
        ),
        assign AS MATERIALIZED (
            SELECT vec_id, embedding, cent_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell,
                   rn AS p_rn
            FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_DIST_SQL.format(a='e.embedding', b='c.c_emb')},
                                    c.cent_id
                       ) AS rn
                FROM embeddings e CROSS JOIN centroids c
                WHERE e.vec_id < {N_QUERIES}
            ) WHERE rn <= {max(NPROBE_GRID)}
        ),
        cand AS (
            SELECT p.query_id, p.p_rn, a.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a='p.q_emb', b='a.embedding')}
                   / ({_NORM_SQL.format(a='p.q_emb')}
                      * {_NORM_SQL.format(a='a.embedding')}) AS cos_raw
            FROM probes p
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
        ),
        grid(np) AS (VALUES {grid_vals}),
        grididx(np, sidx) AS (VALUES {grididx_vals}),
        approx AS (
            SELECT np, query_id, neighbor_id FROM (
                SELECT g.np, c.query_id, c.neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY g.np, c.query_id
                           ORDER BY c.cos_raw DESC, c.neighbor_id) AS rank
                FROM cand c JOIN grid g ON c.p_rn <= g.np
            ) WHERE rank <= {TOP_K}
        ),
        exact AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_dot_qd} / ({_norm_q} * {_norm_d}) DESC,
                                    d.vec_id) AS rank
                FROM embeddings q
                JOIN embeddings d ON d.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rank <= {TOP_K}
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
        hits AS (
            SELECT a.np, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM approx a
            JOIN exact e ON e.query_id = a.query_id
                        AND e.neighbor_id = a.neighbor_id
            GROUP BY 1
        ),
        sweep AS MATERIALIZED (
            SELECT CAST(g.np AS BIGINT) AS np, t.n_exact,
                   COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
                   CAST((2 * COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 10000
                         + t.n_exact) // (2 * t.n_exact) AS BIGINT)
                       AS recall_bp
            FROM grid g CROSS JOIN tot t LEFT JOIN hits h ON h.np = g.np
        ),
        nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM embeddings),
        nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cent FROM centroids),
        cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                   CAST(MAX(c) AS BIGINT) AS max_cell
            FROM (SELECT cell, COUNT(*) AS c FROM assign GROUP BY 1)
        ),
        choice AS (
            SELECT COALESCE(
                MIN(CASE WHEN recall_bp >= {ANN_RECALL_TARGET_BP}
                         THEN np END),
                {max(NPROBE_GRID)}) AS np
            FROM sweep
        )
        SELECT CAST(1 AS BIGINT) AS stage_idx, 'build_centroids' AS stage,
               nv.n_vec AS n_in, nc.n_cent AS n_out,
               (nc.n_cent * 2 * 10000 + nv.n_vec) // (2 * nv.n_vec)
                   AS metric_bp
        FROM nv, nc
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'assign_cells', nv.n_vec, cells.n_cells,
               (cells.max_cell * 2 * 10000 + nv.n_vec) // (2 * nv.n_vec)
        FROM nv, cells
        UNION ALL
        SELECT CAST(gi.sidx AS BIGINT),
               'probe_np' || CAST(s.np AS VARCHAR),
               s.n_exact, s.n_hits, s.recall_bp
        FROM sweep s JOIN grididx gi ON gi.np = s.np
        UNION ALL
        SELECT CAST({choice_idx} AS BIGINT), 'nprobe_choice',
               CAST({ANN_RECALL_TARGET_BP} AS BIGINT), s.np, s.recall_bp
        FROM choice c JOIN sweep s ON s.np = c.np
    """


@register(
    "ann_pipeline_composition",
    oracle=_ann_composition_oracle(),
    tags=("similarity", "ivf", "pipeline", "funnel", "embeddings"),
)
def ann_pipeline_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE candidate-generation pass feeds every stage: the sweep parts
    # expose the same centroids/assignment the recall grid was built
    # from, so the corpus x centroids argmin plans once (the oracle's
    # MATERIALIZED `assign` shape), not once per stage.
    parts = _nprobe_sweep_parts(spark, sf_dir)
    emb, centroids = parts["emb"], parts["centroids"]
    assign = parts["assign"].select("vec_id", "cell")
    nv = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vec"))
    nc = centroids.agg(F.count(F.lit(1)).cast("long").alias("n_cent"))
    cells = (
        assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.max("c").cast("long").alias("max_cell"),
        )
    )
    s1 = nv.crossJoin(F.broadcast(nc)).select(
        F.lit(1).cast("long").alias("stage_idx"),
        F.lit("build_centroids").alias("stage"),
        F.col("n_vec").alias("n_in"),
        F.col("n_cent").alias("n_out"),
        idiv(
            F.col("n_cent") * 2 * 10000 + F.col("n_vec"), 2 * F.col("n_vec")
        ).alias("metric_bp"),
    )
    s2 = nv.crossJoin(F.broadcast(cells)).select(
        F.lit(2).cast("long").alias("stage_idx"),
        F.lit("assign_cells").alias("stage"),
        F.col("n_vec").alias("n_in"),
        F.col("n_cells").alias("n_out"),
        idiv(
            F.col("max_cell") * 2 * 10000 + F.col("n_vec"), 2 * F.col("n_vec")
        ).alias("metric_bp"),
    )
    sweep = parts["sweep"]
    grididx = jvm_values_df(
        spark,
        [(np, i + 3) for i, np in enumerate(NPROBE_GRID)],
        "np long, sidx long",
    )
    s3 = sweep.join(F.broadcast(grididx), "np").select(
        F.col("sidx").alias("stage_idx"),
        F.concat(F.lit("probe_np"), F.col("np").cast("string")).alias("stage"),
        F.col("n_exact").alias("n_in"),
        F.col("n_hits").alias("n_out"),
        F.col("recall_bp").alias("metric_bp"),
    )
    chosen = sweep.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("recall_bp") >= ANN_RECALL_TARGET_BP, F.col("np")
                )
            ),
            F.lit(max(NPROBE_GRID)).cast("long"),
        ).alias("np")
    )
    s4 = chosen.join(sweep, "np").select(
        F.lit(3 + len(NPROBE_GRID)).cast("long").alias("stage_idx"),
        F.lit("nprobe_choice").alias("stage"),
        F.lit(ANN_RECALL_TARGET_BP).cast("long").alias("n_in"),
        F.col("np").alias("n_out"),
        F.col("recall_bp").alias("metric_bp"),
    )
    return s1.unionByName(s2).unionByName(s3).unionByName(s4)
