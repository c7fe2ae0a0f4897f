"""Corpus-assembly operators — the steps between "deduped documents" and
"training batches" in an LLM data pipeline (north star; builds on the
dedup/text/split primitives):

- **Decontamination** — flag train-split documents sharing any word
  K-shingle with the eval split. The eval side of a real pipeline is tiny
  (benchmarks, held-out sets), so its distinct-shingle set broadcasts and
  the train side never shuffles: a 100 TB scan with a map-side semi join.
- **Quota sampling** — at most K documents per language, chosen by a
  deterministic content-independent hash order (reproducible on any
  cluster, stable under repartition — the same argument as
  ``split_train_eval``). One shuffle on the (low-cardinality) stratum key;
  at scale the rank would be replaced by a per-partition pre-filter of the
  top-K candidates (K rows per partition survive) before the final rank.
- **Sequence packing** — assign documents to fixed token-budget packs by
  cumulative token count along a deterministic hash order, partitioned by
  (lang, hash-band) so the running sum parallelizes: BANDS independent
  window partitions per language instead of one global sorted stream.

Reference parity: the reference has no corpus ops at all (SURVEY.md §2.7);
these extend the north-star surface. All arithmetic is integer (token
counts, hash buckets), so every query is exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_job_spark.operators._portable import (
    idiv,
    jvm_values_df,
    md5_int,
    md5_int_sql,
    pround,
)
from kafka_stream_job_spark.operators.dedup import (
    _BANDS_SQL as _DEDUP_BANDS_SQL,
    _PAIRS_SQL as _DEDUP_PAIRS_SQL,
    _SHINGLES_SQL,
    _SHINGLES_SQL as _DEDUP_SHINGLES_SQL,
    _SIGS_SQL as _DEDUP_SIGS_SQL,
    _shingles,
)
from kafka_stream_job_spark.operators.text import EVAL_PCT
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import load_table

QUOTA_K = 25  # max docs kept per language stratum
PACK_BUDGET = 2048  # tokens per pack
PACK_BANDS = 8  # parallel packing streams per language


# ---------------------------------------------------------------------------
# Decontamination: train docs sharing >=1 word 3-shingle with the eval
# split. Eval shingles are DISTINCT and broadcast; the count per train doc
# is the number of distinct shingles it shares with the eval set (train
# shingles are already distinct per doc).
# ---------------------------------------------------------------------------
@register(
    "decontaminate_train_shingles",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        splits AS (
            SELECT doc_id,
                   CASE WHEN {md5_int_sql("doc_id", "split:")} % 100 < {EVAL_PCT}
                        THEN 'eval' ELSE 'train' END AS split
            FROM documents
        ),
        eval_sh AS (
            SELECT DISTINCT shingle
            FROM sh JOIN splits USING (doc_id)
            WHERE split = 'eval'
        )
        SELECT sh.doc_id AS doc_id, COUNT(*) AS n_shared_shingles
        FROM sh
        JOIN splits ON sh.doc_id = splits.doc_id
        JOIN eval_sh ON sh.shingle = eval_sh.shingle
        WHERE splits.split = 'train'
        GROUP BY sh.doc_id
    """,
    tags=("decontamination", "dedup", "documents", "semi-join"),
)
def decontaminate_train_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    is_eval = md5_int("doc_id", "split:") % 100 < EVAL_PCT
    sh = _shingles(docs)
    eval_ids = docs.filter(is_eval).select("doc_id")
    train_ids = docs.filter(~is_eval).select("doc_id")
    eval_sh = sh.join(F.broadcast(eval_ids), "doc_id").select("shingle").distinct()
    return (
        sh.join(train_ids, "doc_id")
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Quota sampling: deterministic top-K per language by hash order
# (tiebreak doc_id — the 28-bit hash can collide).
# ---------------------------------------------------------------------------
@register(
    "quota_sample_per_lang",
    oracle=f"""
        SELECT doc_id, lang, rk
        FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {md5_int_sql("doc_id", "quota:")}, doc_id
                   ) AS rk
            FROM documents
        )
        WHERE rk <= {QUOTA_K}
    """,
    tags=("sampling", "quota", "documents", "window"),
)
def quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(md5_int("doc_id", "quota:"), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= QUOTA_K)
    )


# ---------------------------------------------------------------------------
# Sequence packing: chunk the hash-ordered document stream of each
# (lang, band) into fixed token-budget packs via an exclusive running sum;
# pack_id = floor(tokens_before / budget). Whitespace token counts are
# integers, so the running sum and the floor division are exact in both
# engines. Output is the per-pack manifest a batch loader would consume.
# ---------------------------------------------------------------------------
@register(
    "pack_sequences_manifest",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS n_tok,
                   {md5_int_sql("doc_id", "pack:")} AS h
            FROM documents
            WHERE text IS NOT NULL
        ),
        o AS (
            SELECT lang, h % {PACK_BANDS} AS band, n_tok,
                   COALESCE(SUM(n_tok) OVER (
                       PARTITION BY lang, h % {PACK_BANDS}
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS tokens_before
            FROM t
        )
        SELECT lang, band,
               CAST(FLOOR(tokens_before / {float(PACK_BUDGET)}) AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
        FROM o
        GROUP BY lang, band, pack_id
    """,
    tags=("packing", "window", "documents"),
)
def pack_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    h = md5_int("doc_id", "pack:")
    t = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        h.alias("h"),
        (h % PACK_BANDS).alias("band"),
    )
    w = (
        Window.partitionBy("lang", "band")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn("tokens_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    return (
        o.groupBy(
            "lang",
            "band",
            F.floor(F.col("tokens_before") / float(PACK_BUDGET))
            .cast("long")
            .alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus mixing — rebalance the source composition of a training corpus by
# per-source sampling weights (the "data mixture" step between dedup and
# packing). Weights here derive deterministically from the source name
# (even-indexed sources weight 3, odd weight 1); each doc keeps/drops by a
# seeded md5 hash against its source's rate, so the sampled mix is exact,
# reproducible, and shard-stable — rerunning on any subset of partitions
# samples identically (no RNG state).
# Scale: stateless narrow filter (hash + compare per row) followed by a
# 20-key rollup; nothing shuffles but the per-source summary.
# ---------------------------------------------------------------------------
MIX_DENOM = 3  # weight w ∈ {1, 3} → keep when hash % 3 < w


@register(
    "corpus_mix_rebalance",
    oracle=f"""
        WITH weighted AS (
            SELECT doc_id, source,
                   len(string_split_regex(TRIM(text), '\\s+')) AS n_tok,
                   CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                        THEN 3 ELSE 1 END AS w,
                   {md5_int_sql("doc_id", "mix:")}
                       % {MIX_DENOM} AS bucket
            FROM documents
        )
        SELECT source,
               COUNT(*) AS n_before,
               CAST(SUM(CASE WHEN bucket < w THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
               CAST(SUM(CASE WHEN bucket < w THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_after
        FROM weighted
        GROUP BY source
    """,
    tags=("pipeline", "mixing", "sampling", "documents"),
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = F.when(
        F.substring("source", 4, 10).cast("long") % 2 == 0, F.lit(3)
    ).otherwise(F.lit(1))
    bucket = md5_int("doc_id", "mix:") % MIX_DENOM
    keep = bucket < w
    return (
        docs.select("source", n_tok.alias("n_tok"), keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_after"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).alias(
                "tokens_after"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between per-source token distributions — the
# distribution-drift monitor a corpus-mixing pipeline runs before and after
# rebalancing (pairs with high JS are the sources whose mixture weights
# actually change the token distribution; JS ~ 0 pairs are interchangeable).
#
# Portability: per-source token counts are exact integers; every
# probability/log term is one fixed IEEE expression written identically in
# both engines; the per-pair sum folds over the token-sorted term list
# (collect_list -> array_sort vs list(ORDER BY) -> list_reduce), so the
# summation order is pinned and the double result is bit-identical
# (text_token_entropy pattern; see memory/spark-graft-gotchas).
#
# Scale shape (100 TB): counts/totals are partial-agg groupBys; each pair's
# support is the full-outer join of its two count slices on (pair, token) —
# tokens, the unbounded axis, only ever flow through hash joins/aggs and
# are NEVER collected (only the bounded source catalog is; zero terms
# outside the union support add +0.0 to the fold, an IEEE identity, so
# the restriction is bit-identical to the oracle's full-vocab spine).
# Pairs grow as |sources|^2 — sources are a bounded catalog (tens to
# hundreds). Known bound: the per-pair token-sorted fold materializes one
# array per pair (the price of a pinned summation order and hence an
# EXACT oracle); the order-free scale path is integerizing each term to
# micro-units before a plain SUM, at the cost of a quantized result.
# ---------------------------------------------------------------------------
_JS_P_A = "(ca * 1.0 / na)"
_JS_P_B = "(cb * 1.0 / nb)"
_JS_M = f"(({_JS_P_A} + {_JS_P_B}) / 2.0)"


@register(
    "corpus_js_divergence",
    oracle=rf"""
        WITH toks AS (
            SELECT source,
                   unnest(string_split_regex(TRIM(text), '\s+')) AS token
            FROM documents
        ),
        counts AS (
            SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ),
        totals AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1
        ),
        vocab AS (SELECT DISTINCT token FROM counts),
        srcs AS (SELECT DISTINCT source FROM counts),
        spine AS (
            SELECT a.source AS source_a, b.source AS source_b, v.token
            FROM srcs a
            JOIN srcs b ON a.source < b.source
            CROSS JOIN vocab v
        ),
        terms AS (
            SELECT s.source_a, s.source_b, s.token,
                   COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
                   ta.n AS na, tb.n AS nb
            FROM spine s
            LEFT JOIN counts ca ON ca.source = s.source_a AND ca.token = s.token
            LEFT JOIN counts cb ON cb.source = s.source_b AND cb.token = s.token
            JOIN totals ta ON ta.source = s.source_a
            JOIN totals tb ON tb.source = s.source_b
        ),
        vals AS (
            SELECT source_a, source_b, token,
                   (CASE WHEN ca > 0
                         THEN {_JS_P_A} * ln({_JS_P_A} / {_JS_M})
                         ELSE 0.0 END
                  + CASE WHEN cb > 0
                         THEN {_JS_P_B} * ln({_JS_P_B} / {_JS_M})
                         ELSE 0.0 END) AS term
            FROM terms
        )
        SELECT source_a, source_b,
               ROUND((0.5 * list_reduce(
                   list_prepend(0.0, list(term ORDER BY token)),
                   (acc, x) -> acc + x)) * 1000000.0) / 1000000.0 AS js_div
        FROM vals
        GROUP BY source_a, source_b
    """,
    tags=("pipeline", "monitoring", "documents"),
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    # pair spine from a one-row set aggregate over SOURCES only — a
    # bounded dimension. The vocabulary is NOT collected: a token absent
    # from both of a pair's sources contributes exactly +0.0 to the
    # token-sorted fold, and x + 0.0 is an IEEE identity, so restricting
    # each pair to the UNION of its two sources' token supports (a
    # full-outer join of the two count slices — tokens stay distributed,
    # shuffled on (pair, token)) is bit-identical to the full-vocab spine
    # the DuckDB oracle still materializes. The earlier formulation
    # collect_set the whole vocabulary into one row — a multi-GB single
    # value at web scale.
    sets = counts.agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    pair_expand = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = sets.select(F.explode(pair_expand).alias("p")).select(
        F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
    )
    left = counts.join(
        F.broadcast(pairs), F.col("source") == F.col("source_a")
    ).select("source_a", "source_b", "token", F.col("c").alias("_ca"))
    right = counts.join(
        F.broadcast(pairs), F.col("source") == F.col("source_b")
    ).select("source_a", "source_b", "token", F.col("c").alias("_cb"))
    ta = totals.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    terms = (
        left.join(right, ["source_a", "source_b", "token"], "full")
        .join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "token",
            F.coalesce(F.col("_ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("_cb"), F.lit(0)).alias("cb"),
            "na",
            "nb",
        )
    )
    pa = F.col("ca") * 1.0 / F.col("na")
    pb = F.col("cb") * 1.0 / F.col("nb")
    m = (pa + pb) / 2.0
    term = F.when(F.col("ca") > 0, pa * F.log(pa / m)).otherwise(0.0) + F.when(
        F.col("cb") > 0, pb * F.log(pb / m)
    ).otherwise(0.0)
    folded = (
        terms.select("source_a", "source_b", "token", term.alias("term"))
        .groupBy("source_a", "source_b")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("token", "term"))
                    ),
                    lambda s: s["term"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("js_raw")
        )
    )
    return folded.select(
        "source_a",
        "source_b",
        pround(F.lit(0.5) * F.col("js_raw"), 6).alias("js_div"),
    )


# ---------------------------------------------------------------------------
# Weighted sample without replacement (Efraimidis–Spirakis): each document
# draws an exponential key  -ln(u)/w  from a HASH-derived uniform u (not a
# RNG), and the SAMPLE_K smallest keys win — exact weighted-without-
# replacement semantics, fully deterministic and reproducible from the
# seed string alone. This is the length-weighted document sampler an LLM
# corpus build uses when "sample 1M docs proportional to token count" must
# be replayable across runs and engines.
#
# Scale shape (100 TB): a global top-k, which Spark executes as
# TakeOrderedAndProject — per-partition top-k then a k·P-row driver merge;
# no global sort, no shuffle of the corpus. Portability: u is an exact
# integer-hash ratio, and ln() is bit-identical across engines on this
# data (see memory/spark-graft-gotchas); pround(9) on the emitted key.
# ---------------------------------------------------------------------------
SAMPLE_K = 100
_ES_SEED = "es-sample:"
_ES_DENOM = float((1 << 28) + 1)


@register(
    "weighted_sample_docs",
    oracle=f"""
        SELECT doc_id, lang, n_chars,
               ROUND((-ln(({md5_int_sql("doc_id", _ES_SEED)} + 1)
                          / {_ES_DENOM})
                      / n_chars) * 1000000000.0) / 1000000000.0 AS es_key
        FROM documents
        WHERE n_chars > 0
        ORDER BY -ln(({md5_int_sql("doc_id", _ES_SEED)} + 1)
                     / {_ES_DENOM}) / n_chars ASC,
                 doc_id ASC
        LIMIT {SAMPLE_K}
    """,
    tags=("sampling", "pipeline", "documents"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_int("doc_id", _ES_SEED) + F.lit(1)) / F.lit(_ES_DENOM)
    es_key = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "lang", "n_chars", es_key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("doc_id").asc())
        .limit(SAMPLE_K)
        .select("doc_id", "lang", "n_chars", pround(F.col("_k"), 9).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking — long-document preparation for a fixed training
# context: CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (overlap =
# CHUNK_TOKENS - CHUNK_STRIDE keeps context across boundaries, the
# standard long-doc treatment when packing into fixed-length sequences).
# Emits one manifest row per chunk with its token span and a content
# fingerprint (the dedup key chunk-level pipelines join on).
#
# Scale shape (100 TB): pure per-row expression work — chunk indices come
# from an exploded `sequence`, the chunk text from `slice` on the token
# array; no shuffle at all until a downstream consumer groups on
# chunk_fp. Row multiplier is ~n_tokens/CHUNK_STRIDE per doc (bounded,
# unlike shingling's ~n_tokens), so output stays a small constant factor
# of the corpus.
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


@register(
    "doc_sliding_chunks",
    oracle=rf"""
        WITH sized AS (
            SELECT doc_id, toks, len(toks) AS n,
                   CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                        ELSE 1 + CAST(CEIL((len(toks) - {CHUNK_TOKENS}) * 1.0
                                           / {CHUNK_STRIDE}) AS BIGINT)
                   END AS nc
            FROM (
                SELECT doc_id,
                       string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
                FROM documents
            )
        )
        SELECT doc_id,
               i                                  AS chunk_idx,
               i * {CHUNK_STRIDE}                 AS start_tok,
               LEAST({CHUNK_TOKENS}, n - i * {CHUNK_STRIDE}) AS n_tok,
               substr(md5(array_to_string(
                   toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                   ' ')), 1, 16)                  AS chunk_fp
        FROM (SELECT doc_id, toks, n, UNNEST(range(0, nc)) AS i FROM sized)
    """,
    tags=("pipeline", "chunking", "documents"),
)
def doc_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk manifest of CHUNK_TOKENS-token sliding windows.

    Reference parity: none (SURVEY.md §2.7); north-star long-document
    preparation extension.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    n_chunks = (
        F.when(n <= CHUNK_TOKENS, F.lit(1).cast("long"))
        .otherwise(
            1 + F.ceil((n - CHUNK_TOKENS) * F.lit(1.0) / CHUNK_STRIDE)
        )
    )
    sized = docs.select("doc_id", toks.alias("toks"), n.alias("n"),
                        n_chunks.alias("nc"))
    i = F.col("chunk_idx")
    start = i * CHUNK_STRIDE
    return (
        sized.select(
            "doc_id", "toks", "n",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("nc") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            start.alias("start_tok"),
            F.least(F.lit(CHUNK_TOKENS).cast("long"), F.col("n") - start).alias(
                "n_tok"
            ),
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(F.col("toks"), (start + 1).cast("int"), CHUNK_TOKENS),
                        " ",
                    )
                ),
                1,
                16,
            ).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking — Rabin-style rolling-hash boundaries instead
# of fixed strides: a chunk ends wherever the ROLL_W-token rolling hash
# ≡ 0 (mod CDC_MOD), so boundaries are determined by CONTENT. Insert or
# delete a sentence and only the neighboring chunks change — every other
# chunk keeps its fingerprint, which is what makes chunk-level dedup
# robust to edits (the property fixed-stride chunking lacks; cf.
# doc_sliding_chunks) and is the chunking storage dedup systems and
# SlimPajama-style corpus dedup build on. Expected chunk ≈ CDC_MOD
# tokens; a production variant adds min/max chunk clamps.
#
# Scale shape (100 TB): ZERO shuffles — boundary detection, chunk-span
# construction, and fingerprinting are all per-row array algebra
# (filter/transform over the token-hash array), then one explode. The
# plan composes with any upstream partitioning untouched; downstream
# chunk-dedup groups on chunk_fp exactly like exact-dedup groups on the
# doc fingerprint.
# ---------------------------------------------------------------------------
CDC_MOD = 16  # boundary probability 1/16 per window → ~16-token chunks

from kafka_stream_job_spark.operators.text import ROLL_B, ROLL_P, ROLL_W  # noqa: E402

_CDC_NORM = "LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))"
_CDC_ROLL = (
    f"((((hh[i+1] % {ROLL_P}) * {ROLL_B} + hh[i+2]) % {ROLL_P} * {ROLL_B}"
    f" + hh[i+3]) % {ROLL_P} * {ROLL_B} + hh[i+4]) % {ROLL_P}"
)


@register(
    "content_defined_chunks",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, toks,
                   list_transform(toks,
                                  x -> {md5_int_sql("x")}) AS hh
            FROM (SELECT doc_id, string_split({_CDC_NORM}, ' ') AS toks
                  FROM documents)
        ),
        cutd AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                   CASE WHEN len(toks) >= {ROLL_W} THEN
                       list_transform(
                           list_filter(range(0, len(toks) - {ROLL_W} + 1),
                                       i -> ({_CDC_ROLL}) % {CDC_MOD} = 0),
                           i -> i + {ROLL_W})
                   ELSE CAST([] AS BIGINT[]) END AS cuts
            FROM h
        ),
        spans AS (
            SELECT doc_id, toks, n,
                   list_prepend(CAST(1 AS BIGINT),
                                list_transform(vc, j -> j + 1)) AS starts,
                   list_append(vc, n) AS ends
            FROM (SELECT doc_id, toks, n,
                         list_filter(cuts, j -> j < n) AS vc
                  FROM cutd)
        )
        SELECT doc_id,
               k                        AS chunk_idx,
               starts[k + 1]            AS start_tok,
               ends[k + 1] - starts[k + 1] + 1 AS n_tok,
               substr(md5(array_to_string(
                   toks[starts[k + 1] : ends[k + 1]], ' ')), 1, 16) AS chunk_fp
        FROM (SELECT doc_id, toks, starts, ends,
                     UNNEST(range(0, len(starts))) AS k
              FROM spans)
    """,
    tags=("pipeline", "chunking", "rolling-hash", "documents"),
)
def content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk manifest with content-defined (rolling-hash) boundaries.

    Reference parity: none (SURVEY.md §2.7); north-star chunk-dedup
    extension.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    hh = F.transform(
        F.col("toks"),
        lambda x: md5_int(x),
    )
    n = F.size(F.col("toks")).cast("long")

    def roll(i):
        e = lambda k: F.element_at(F.col("hh"), i + k)  # noqa: E731
        return (
            ((e(1) % ROLL_P) * ROLL_B + e(2)) % ROLL_P * ROLL_B + e(3)
        ) % ROLL_P * ROLL_B + e(4)

    cuts = F.when(
        F.size(F.col("toks")) >= ROLL_W,
        F.transform(
            F.filter(
                F.sequence(F.lit(0), F.size(F.col("toks")) - ROLL_W),
                lambda i: (roll(i) % ROLL_P) % CDC_MOD == 0,
            ),
            lambda i: (i + ROLL_W).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    staged = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", "toks", hh.alias("hh"))
        .select("doc_id", "toks", n.alias("n"), cuts.alias("cuts"))
        .select(
            "doc_id",
            "toks",
            "n",
            F.filter(F.col("cuts"), lambda j: j < F.col("n")).alias("vc"),
        )
        .select(
            "doc_id",
            "toks",
            F.concat(
                F.array(F.lit(1).cast("long")),
                F.transform(F.col("vc"), lambda j: j + 1),
            ).alias("starts"),
            F.concat(F.col("vc"), F.array(F.col("n"))).alias("ends"),
        )
    )
    k = F.col("k")
    start = F.element_at(F.col("starts"), (k + 1).cast("int"))
    end = F.element_at(F.col("ends"), (k + 1).cast("int"))
    return (
        staged.select(
            "doc_id",
            "toks",
            "starts",
            "ends",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.size(F.col("starts")) - 1)
            ).alias("k"),
        )
        .select(
            "doc_id",
            k.alias("chunk_idx"),
            start.alias("start_tok"),
            (end - start + 1).alias("n_tok"),
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("toks"),
                            start.cast("int"),
                            (end - start + 1).cast("int"),
                        ),
                        " ",
                    )
                ),
                1,
                16,
            ).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus filter funnel — the per-stage keep/drop attribution report every
# corpus pipeline publishes: documents flow through MinHash-dedup →
# repetition filter → quality filter, and each stage reports how many
# entered, survived, and were dropped. Composed from the ALREADY
# REGISTERED operators (and, on the oracle side, their registered SQL as
# nested CTE subqueries), so the funnel can never drift from the filters
# it reports on.
#
# Scale shape (100 TB): each filter is one pass over its own inputs (the
# shapes audited by their own plan tests); the funnel adds two 1-row-per-
# doc joins and a single-row aggregate, then explodes three literal stage
# structs — negligible on top of the filters themselves.
# ---------------------------------------------------------------------------
def _funnel_oracle() -> str:
    from kafka_stream_job_spark.operators.dedup import (
        _BANDS_SQL,
        _PAIRS_SQL,
        _SHINGLES_SQL,
        _SIGS_SQL,
    )
    from kafka_stream_job_spark.registry import REGISTRY

    rep_sql = REGISTRY["text_repetition_filter"].oracle
    qual_sql = REGISTRY["text_quality_score"].oracle
    return f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL}),
        rep AS (SELECT doc_id, keep FROM ({rep_sql})),
        qual AS (SELECT doc_id, passes_quality FROM ({qual_sql})),
        flags AS (
            SELECT d.doc_id,
                   CASE WHEN p.doc_b IS NULL THEN 1 ELSE 0 END AS s1,
                   rep.keep, qual.passes_quality
            FROM documents d
            LEFT JOIN (SELECT DISTINCT doc_b FROM pairs) p
                   ON p.doc_b = d.doc_id
            JOIN rep ON rep.doc_id = d.doc_id
            JOIN qual ON qual.doc_id = d.doc_id
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                   CAST(SUM(s1) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN s1 = 1 AND keep
                            THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN s1 = 1 AND keep AND passes_quality = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n3
            FROM flags
        )
        SELECT 1 AS stage_idx, 'minhash_dedup' AS stage,
               n0 AS n_in, n1 AS n_out, n0 - n1 AS n_dropped FROM tot
        UNION ALL
        SELECT 2, 'repetition', n1, n2, n1 - n2 FROM tot
        UNION ALL
        SELECT 3, 'quality', n2, n3, n2 - n3 FROM tot
    """


@register(
    "corpus_filter_funnel",
    oracle=_funnel_oracle(),
    tags=("pipeline", "quality", "funnel", "documents"),
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts for dedup → repetition → quality.

    Reference parity: none (SURVEY.md §2.7); north-star corpus-assembly
    reporting extension.
    """
    from kafka_stream_job_spark.operators.dedup import dedup_minhash_lsh
    from kafka_stream_job_spark.operators.text import (
        text_quality_score,
        text_repetition_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    losers = dedup_minhash_lsh(spark, sf_dir).select("doc_b").distinct()
    rep = text_repetition_filter(spark, sf_dir).select("doc_id", "keep")
    qual = text_quality_score(spark, sf_dir).select("doc_id", "passes_quality")
    flags = (
        docs.join(losers, docs.doc_id == losers.doc_b, "left")
        .select("doc_id", F.when(F.col("doc_b").isNull(), 1).otherwise(0).alias("s1"))
        .join(rep, "doc_id")
        .join(qual, "doc_id")
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("s1").alias("n1"),
        F.sum(
            F.when((F.col("s1") == 1) & F.col("keep"), 1).otherwise(0)
        ).alias("n2"),
        F.sum(
            F.when(
                (F.col("s1") == 1) & F.col("keep") & (F.col("passes_quality") == 1),
                1,
            ).otherwise(0)
        ).alias("n3"),
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("stage_idx"),
            F.lit("minhash_dedup").alias("stage"),
            F.col("n0").alias("n_in"),
            F.col("n1").alias("n_out"),
            (F.col("n0") - F.col("n1")).alias("n_dropped"),
        ),
        F.struct(
            F.lit(2).alias("stage_idx"),
            F.lit("repetition").alias("stage"),
            F.col("n1").alias("n_in"),
            F.col("n2").alias("n_out"),
            (F.col("n1") - F.col("n2")).alias("n_dropped"),
        ),
        F.struct(
            F.lit(3).alias("stage_idx"),
            F.lit("quality").alias("stage"),
            F.col("n2").alias("n_in"),
            F.col("n3").alias("n_out"),
            (F.col("n2") - F.col("n3")).alias("n_dropped"),
        ),
    )
    return tot.select(F.explode(stages).alias("s")).select(
        "s.stage_idx", "s.stage", "s.n_in", "s.n_out", "s.n_dropped"
    )


# ---------------------------------------------------------------------------
# Contrastive triplet manifest — training-data prep for embedding models:
# every MinHash near-dup pair is an (anchor, positive); negatives are
# drawn deterministically by hashing (anchor, k) into one of NEG_BUCKETS
# hash buckets of the corpus and taking that bucket's representative.
# Known near-dups of the anchor are anti-joined out, so a "negative" is
# never actually a duplicate (the hard-negative contamination bug in
# naive samplers).
#
# Scale shape (100 TB): the bucket→representative map is one partial-agg
# groupBy collapsing to NEG_BUCKETS rows — broadcast; negative assignment
# is then a map-side join on a computed key. No global rank/sort, no
# shuffle of the corpus for sampling (the classic mistake is ORDER BY
# rand() — a full sort for a sample). Determinism means the same
# triplets on any cluster, any partitioning, any rerun.
# ---------------------------------------------------------------------------
NEG_K = 3  # negatives per (anchor, positive) pair
NEG_BUCKETS = 64


@register(
    "contrastive_triplets",
    oracle=f"""
        WITH shingles AS ({_DEDUP_SHINGLES_SQL}),
        sigs AS ({_DEDUP_SIGS_SQL}),
        bands AS ({_DEDUP_BANDS_SQL}),
        pairs AS ({_DEDUP_PAIRS_SQL}),
        reps AS (
            SELECT {md5_int_sql("doc_id", "nbk:")}
                       % {NEG_BUCKETS} AS bucket,
                   MIN(doc_id) AS neg_id
            FROM documents
            GROUP BY 1
        ),
        cand AS (
            SELECT p.doc_a AS anchor_id, p.doc_b AS positive_id, k.k AS neg_k,
                   r.neg_id AS negative_id
            FROM pairs p
            CROSS JOIN (SELECT UNNEST(range(1, {NEG_K} + 1)) AS k) k
            JOIN reps r
              ON r.bucket = {md5_int_sql(
                  "'neg:' || CAST(k.k AS VARCHAR) || ':' || CAST(p.doc_a AS VARCHAR)"
              )} % {NEG_BUCKETS}
        )
        SELECT anchor_id, positive_id, neg_k, negative_id
        FROM cand c
        WHERE negative_id <> anchor_id
          AND negative_id <> positive_id
          AND NOT EXISTS (
              SELECT 1 FROM pairs q
              WHERE (q.doc_a = c.anchor_id AND q.doc_b = c.negative_id)
                 OR (q.doc_b = c.anchor_id AND q.doc_a = c.negative_id)
          )
    """,
    tags=("pipeline", "sampling", "contrastive", "documents"),
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training.

    Reference parity: none (SURVEY.md §2.7); north-star embedding-
    training data-prep extension.
    """
    from kafka_stream_job_spark.operators.dedup import dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    reps = (
        docs.select(
            (md5_int("doc_id", "nbk:") % NEG_BUCKETS).alias("bucket"), "doc_id"
        )
        .groupBy("bucket")
        .agg(F.min("doc_id").alias("negative_id"))
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=False)
    anchors = pairs.select(
        F.col("doc_a").alias("anchor_id"), F.col("doc_b").alias("positive_id")
    )
    with_k = anchors.select(
        "*", F.explode(F.sequence(F.lit(1).cast("long"), F.lit(NEG_K))).alias("neg_k")
    )
    target_bucket = (
        md5_int(
            F.concat(
                F.lit("neg:"),
                F.col("neg_k").cast("string"),
                F.lit(":"),
                F.col("anchor_id").cast("string"),
            )
        )
        % NEG_BUCKETS
    )
    cand = with_k.join(
        F.broadcast(reps), target_bucket == F.col("bucket")
    ).drop("bucket")
    dup_edges = pairs.select(
        F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b")
    ).union(
        pairs.select(F.col("doc_b").alias("e_a"), F.col("doc_a").alias("e_b"))
    )
    return (
        cand.filter(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("negative_id") != F.col("positive_id"))
        )
        # dup_edges is the full near-dup pair set — DATA-scaled, so no
        # broadcast hint: a forced broadcast of billions of pairs dies at
        # the 8 GB limit long before 100 TB. AQE may still choose to
        # broadcast it when it is actually small.
        .join(
            dup_edges,
            (F.col("anchor_id") == F.col("e_a"))
            & (F.col("negative_id") == F.col("e_b")),
            "left_anti",
        )
        .select("anchor_id", "positive_id", "neg_k", "negative_id")
    )


# ---------------------------------------------------------------------------
# Token-balanced shard manifest via DISTRIBUTED global rank. Assigning
# docs to training shards round-robin along a size-sorted order (striped
# LPT) balances per-shard token totals — but a naive ROW_NUMBER() over a
# global ORDER BY is a single-partition sort, the classic 100 TB
# scale-killer. Instead: range-repartition on the sort key (parallel
# range exchange), rank locally within each partition, then add each
# partition's cumulative row-count offset (a |partitions|-row side table,
# broadcast back). Range boundaries come from Spark's sampling, but the
# sort key (n_chars DESC, doc_id) is a total order and ranges are
# disjoint under it, so offset + local rank is the exact global rank for
# ANY boundary placement — the output is deterministic even though the
# partitioning isn't.
# Reference parity: none (SURVEY.md §2.7) — north-star corpus op.
# ---------------------------------------------------------------------------
N_SHARDS = 16
_RANK_PARTS = 32  # range partitions for the distributed rank


@register(
    "shard_manifest_balanced",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, n_chars,
                   ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
            FROM documents
        )
        SELECT
            CAST((rnk - 1) % {N_SHARDS} AS BIGINT) AS shard_id,
            COUNT(*)                               AS n_docs,
            CAST(SUM(n_chars) AS BIGINT)           AS total_chars,
            CAST(SUM(rnk) AS BIGINT)               AS rank_checksum
        FROM ranked
        GROUP BY 1
    """,
    tags=("corpus", "shard", "rank", "documents"),
)
def shard_manifest_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = distributed_rank(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], n_parts=_RANK_PARTS
    )
    return (
        ranked.withColumn("shard_id", (F.col("rnk") - 1) % N_SHARDS)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            # diagnostic column: SUM of ranks grows ~N²/(2·N_SHARDS) and
            # saturates int64 at ~1.7e10 documents — past that BOTH
            # engines raise loudly (ANSI / DuckDB overflow), never a
            # silent divergence; a modular checksum would lift the bound
            # at the cost of changing the published value.
            F.sum("rnk").cast("long").alias("rank_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# TOKEN-BUDGET curation plan: fill a fixed token budget with the
# highest-quality documents — the "pick the best N tokens" step that
# turns a scored corpus into a training set. Greedy selection along a
# quality order is a PREFIX SUM over that order, so this is the third
# user of the distributed helper (rank → shards, cum-share → ABC,
# cum-tokens → budget cut). Quality key = integer type-token-ratio in
# basis points (exact in both engines, no float ordering); budget =
# half the corpus tokens, derived from the data so the query is
# meaningful at every SF.
# ---------------------------------------------------------------------------
@register(
    "corpus_token_budget_plan",
    oracle=r"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
                       AS n_tokens,
                   CAST(len(list_distinct(
                            string_split_regex(LOWER(TRIM(text)), '\s+')))
                        * 10000 AS BIGINT)
                   // CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
                       AS ttr_bp
            FROM documents
        ),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM t),
        c AS (
            SELECT n_tokens, ttr_bp,
                   CAST(SUM(n_tokens) OVER (ORDER BY ttr_bp DESC, doc_id)
                        AS BIGINT) AS running
            FROM t
        )
        SELECT COUNT(*)                          AS n_selected,
               CAST(SUM(n_tokens) AS BIGINT)     AS tokens_selected,
               CAST(MIN(ttr_bp) AS BIGINT)       AS min_ttr_bp,
               (SELECT budget FROM tot)          AS budget
        FROM c, tot
        WHERE running <= tot.budget
    """,
    tags=("corpus", "curation", "prefix-sum", "documents"),
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    n_uniq = F.size(
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ).cast("long")
    t = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        idiv(n_uniq * 10000, n_tokens).alias("ttr_bp"),
    )
    budget = t.agg(idiv(F.sum("n_tokens"), 2).alias("budget"))
    c = distributed_prefix_sum(
        t, [F.col("ttr_bp").desc(), F.col("doc_id")], "n_tokens"
    )
    stats = (
        c.crossJoin(F.broadcast(budget))  # one-row scalar
        .filter(F.col("running") <= F.col("budget"))
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("tokens_selected"),
            F.min("ttr_bp").cast("long").alias("min_ttr_bp"),
        )
    )
    # budget joins AFTER the aggregate: an empty selection must still
    # report the budget (the oracle's scalar subquery does).
    return stats.crossJoin(F.broadcast(budget))


# ---------------------------------------------------------------------------
# TEMPERATURE-SAMPLED language mix (the mT5/XLM-R trick): sampling
# probability ∝ n_docs^alpha with alpha = 0.5 — upweights low-resource
# languages without flattening the mix entirely (alpha=1 keeps natural
# proportions, alpha=0 is uniform; 0.5 is sqrt, chosen here because sqrt
# is an exact correctly-rounded IEEE op, so the whole computation stays
# one fixed dag). The Σ sqrt(n) normalizer folds in lang order via the
# module's ordered-sum pattern so both engines add in the same order.
# Output probabilities in integer basis points.
# ---------------------------------------------------------------------------
@register(
    "lang_temperature_weights",
    oracle="""
        WITH counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   sqrt(COUNT(*) * 1.0) AS s
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT list_reduce(list_prepend(0.0, list(s ORDER BY lang)),
                               (acc, x) -> acc + x) AS z
            FROM counts
        )
        SELECT lang, n_docs,
               CAST(ROUND(s / z * 10000.0) AS BIGINT) AS sample_prob_bp
        FROM counts, tot
    """,
    tags=("sampling", "temperature", "llm-pipeline", "documents"),
)
def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn("s", F.sqrt(F.col("n_docs") * 1.0))
    tot = counts.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "s"))),
                lambda x: x["s"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(F.col("s") / F.col("z") * 10000.0, 0)
        .cast("long")
        .alias("sample_prob_bp"),
    )


# ---------------------------------------------------------------------------
# POPULATION STABILITY INDEX (PSI) drift monitor — the standard "did the
# data distribution move" check between a reference window and a current
# window: events are split at the midpoint of the time range (exact
# epoch-microsecond integer midpoint), `value` is binned into 10 fixed
# buckets, and each bucket contributes (p_cur − p_ref)·ln(p_cur/p_ref)
# with +1 Laplace smoothing. Per-bin terms are quantized to integer
# micro-nats (the bigram-LM trick) so the cross-engine comparison is
# exact; PSI > 0.2 over the summed bins is the usual alert threshold.
# Scale shape: two scans collapse into one (CASE side split), one
# 10-bucket aggregate, totals broadcast back.
# ---------------------------------------------------------------------------
PSI_UNATS = 1_000_000


@register(
    "events_psi_value_drift",
    oracle=f"""
        WITH b AS (
            SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
        ),
        binned AS (
            SELECT CAST(LEAST(GREATEST(floor(value / 10.0), 0), 9) AS BIGINT)
                       AS bin,
                   CASE WHEN epoch_us(ts) < (b.lo + b.hi) // 2
                        THEN 'ref' ELSE 'cur' END AS side
            FROM events, b
        ),
        c AS (
            SELECT bin,
                   CAST(1 + SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_ref,
                   CAST(1 + SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
                       AS c_cur
            FROM binned GROUP BY bin
        ),
        t AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS t_ref,
                     CAST(SUM(c_cur) AS BIGINT) AS t_cur FROM c)
        SELECT bin, c_ref, c_cur,
               CAST(ROUND((c_cur * 1.0 / t_cur - c_ref * 1.0 / t_ref)
                          * ln((c_cur * 1.0 / t_cur) / (c_ref * 1.0 / t_ref))
                          * {PSI_UNATS}.0) AS BIGINT) AS psi_unats
        FROM c, t
    """,
    tags=("monitoring", "drift", "psi", "events"),
)
def events_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # unix_micros demands TIMESTAMP; the driver's parquet reads as
    # TIMESTAMP_NTZ. The session tz is pinned UTC (load_table), so the
    # cast is a deterministic relabel.
    ts = F.col("ts").cast("timestamp")
    bounds = events.agg(
        F.unix_micros(F.min(ts)).alias("lo"),
        F.unix_micros(F.max(ts)).alias("hi"),
    )
    binned = events.crossJoin(F.broadcast(bounds)).select(
        F.least(F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(9))
        .cast("long")
        .alias("bin"),
        F.when(
            F.unix_micros(ts) < idiv(F.col("lo") + F.col("hi"), 2), F.lit("ref")
        )
        .otherwise(F.lit("cur"))
        .alias("side"),
    )
    c = binned.groupBy("bin").agg(
        (1 + F.sum(F.when(F.col("side") == "ref", 1).otherwise(0)))
        .cast("long")
        .alias("c_ref"),
        (1 + F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)))
        .cast("long")
        .alias("c_cur"),
    )
    t = c.agg(
        F.sum("c_ref").cast("long").alias("t_ref"),
        F.sum("c_cur").cast("long").alias("t_cur"),
    )
    p_ref = F.col("c_ref") * 1.0 / F.col("t_ref")
    p_cur = F.col("c_cur") * 1.0 / F.col("t_cur")
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        "c_ref",
        "c_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * PSI_UNATS, 0)
        .cast("long")
        .alias("psi_unats"),
    )


# ---------------------------------------------------------------------------
# SEEDED EPOCH SHUFFLE MANIFEST — deterministic training-order
# assignment: each epoch e permutes the corpus by md5('e:doc_id') and
# deals documents round-robin into N_SHUFFLE_SHARDS shards. Reproducible
# (hash-seeded, no RNG state), different every epoch, and balanced to
# ±1 doc per shard by construction. The permutation rank comes from the
# distributed global-rank helper — range-exchange + local rank + offset
# broadcast, the only global-order shape that survives 100 TB (no
# single-partition window). Per-epoch loop is a driver loop over
# declarative plans (2 epochs here).
# ---------------------------------------------------------------------------
N_SHUFFLE_EPOCHS = 2
N_SHUFFLE_SHARDS = 16


@register(
    "corpus_epoch_shuffle_manifest",
    oracle=f"""
        WITH e AS (SELECT unnest(range(0, {N_SHUFFLE_EPOCHS})) AS epoch),
        h AS (
            SELECT e.epoch, d.doc_id,
                   md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
                       AS h
            FROM documents d, e
        ),
        r AS (
            SELECT epoch, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
                       AS rnk
            FROM h
        )
        SELECT CAST(epoch AS BIGINT) AS epoch,
               CAST((rnk - 1) % {N_SHUFFLE_SHARDS} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(arg_min(doc_id, rnk) AS BIGINT) AS first_doc
        FROM r
        GROUP BY 1, 2
    """,
    tags=("llm-pipeline", "shuffle", "sharding", "distributed-rank", "documents"),
)
def corpus_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = None
    for epoch in range(N_SHUFFLE_EPOCHS):
        seeded = docs.select(
            F.lit(epoch).cast("long").alias("epoch"),
            "doc_id",
            F.md5(
                F.concat(F.lit(f"{epoch}:"), F.col("doc_id").cast("string"))
            ).alias("h"),
        )
        ranked = distributed_rank(seeded, [F.col("h"), F.col("doc_id")])
        part = ranked.groupBy(
            "epoch", ((F.col("rnk") - 1) % N_SHUFFLE_SHARDS).cast("long").alias("shard")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # diagnostic column: saturates int64 at ~1e10 dense doc ids
            # per shard-epoch (loud ANSI/DuckDB overflow on both engines,
            # never silent — the rank_checksum posture)
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.min_by("doc_id", "rnk").cast("long").alias("first_doc"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# CROSS-VALIDATION FOLD MANIFEST — deterministic k-fold assignment by
# document hash (stable across runs/engines, the split_train_eval
# discipline extended to k folds) with the per-fold balance audit a
# training pipeline asserts before running: fold sizes, token mass, and
# the largest language share (a skewed fold invalidates CV estimates).
# All integer-exact; one scan, one fold-keyed partial agg.
# ---------------------------------------------------------------------------
CV_FOLDS = 5


@register(
    "cv_fold_manifest",
    oracle=f"""
        WITH assigned AS (
            SELECT {md5_int_sql("doc_id", "cv:")}
                       % {CV_FOLDS} AS fold,
                   lang,
                   len(string_split_regex(trim(text), '\\s+')) AS n_toks
            FROM documents
        ),
        per_lang AS (
            SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS c
            FROM assigned GROUP BY 1, 2
        ),
        folds AS (
            SELECT fold, CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(MAX(c) AS BIGINT) AS max_lang_docs
            FROM per_lang GROUP BY fold
        ),
        toks AS (
            SELECT fold, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM assigned GROUP BY fold
        )
        SELECT f.fold, f.n_docs, t.n_tokens,
               (f.max_lang_docs * 10000) // f.n_docs AS max_lang_share_bp
        FROM folds f JOIN toks t USING (fold)
    """,
    tags=("llm-pipeline", "cross-validation", "sampling", "documents"),
)
def cv_fold_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fold = md5_int("doc_id", "cv:") % CV_FOLDS
    assigned = docs.select(
        fold.alias("fold"),
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_toks"),
    )
    per_lang = assigned.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    folds = per_lang.groupBy("fold").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.max("c").cast("long").alias("max_lang_docs"),
    )
    toks = assigned.groupBy("fold").agg(
        F.sum("n_toks").cast("long").alias("n_tokens")
    )
    return folds.join(toks, "fold").select(
        "fold",
        "n_docs",
        "n_tokens",
        idiv(F.col("max_lang_docs") * 10000, F.col("n_docs")).alias(
            "max_lang_share_bp"
        ),
    )


# ---------------------------------------------------------------------------
# MEDALLION PIPELINE — bronze → silver → gold in one declarative chain,
# with per-layer row accounting (the lakehouse architecture made
# executable): bronze = raw events with the ingestion envelope
# (bronze.py's T4/T5 enrichment); silver = quality-gated (non-null key
# fields, positive value) and DEDUPED on the business key
# (user_id, ts, event_type) keeping the lowest event_id; gold = the
# daily per-type business aggregate. The output reports layer counts
# and the gold rollup rows, so the DROP at each gate is part of the
# hash-checked contract.
# Scale: each layer is a narrow map or a keyed partial agg over the
# previous one — Catalyst fuses the whole chain into two shuffles
# (dedup key, gold key); nothing is materialized between layers here,
# while production would checkpoint each layer to a table (bronze.py
# sinks) without changing the dataflow.
# ---------------------------------------------------------------------------
@register(
    "medallion_pipeline_rollup",
    oracle="""
        WITH bronze AS (SELECT * FROM events),
        silver AS (
            SELECT user_id, ts, event_type, value, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts, event_type
                                      ORDER BY event_id) AS rn
            FROM bronze
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
              AND value > 0
        ),
        silver_d AS (SELECT * FROM silver WHERE rn = 1),
        gold AS (
            SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
                       AS day_ts,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM silver_d GROUP BY 1, 2
        )
        SELECT g.day_ts, g.event_type, g.n_events, g.value_cents,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bronze) AS bronze_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM silver_d) AS silver_rows
        FROM gold g
    """,
    tags=("medallion", "pipeline", "architecture", "events"),
)
def medallion_pipeline_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    bronze = load_table(spark, sf_dir, "events")
    gated = bronze.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & (F.col("value") > 0)
    )
    w = Window.partitionBy("user_id", "ts", "event_type").orderBy("event_id")
    silver = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .localCheckpoint(eager=False)  # gold + the silver count read it
    )
    gold = silver.groupBy(
        F.col("ts").cast("date").cast("string").alias("day_ts"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
    counts = bronze.agg(
        F.count(F.lit(1)).cast("long").alias("bronze_rows")
    ).crossJoin(
        F.broadcast(
            silver.agg(F.count(F.lit(1)).cast("long").alias("silver_rows"))
        )
    )
    return gold.crossJoin(F.broadcast(counts))


# ---------------------------------------------------------------------------
# Preference-pair manifest (DPO/RLHF-style): within every (lang, source)
# prompt group, pair the best and worst response by a deterministic
# quality key — here character length with doc_id as the tie-break, the
# stand-in for a learned reward score. The composite ordering key
# (len * 2^32 ± doc_id) is UNIQUE per doc, so max_by/min_by are
# deterministic in both engines without a window sort: one hash
# aggregation with map-side partials, no per-group ordering shuffle —
# the shape that survives a 100 TB corpus (group count is bounded by the
# lang × source vocabulary, not data volume). At real scale the quality
# key would be a model score column; the pairing plan is unchanged.
# Groups with a single document cannot form a pair and are dropped.
# NULL-text docs are excluded on BOTH engines (pack_sequences_manifest
# precedent): struct(l=NULL, ...) is a non-NULL struct, and Spark
# orders NULL fields FIRST (smallest) while DuckDB MIN/MAX treat NULLs
# as greatest — an unfixable cross-engine ordering divergence if NULL
# texts were allowed to compete for chosen/rejected.
# ---------------------------------------------------------------------------
@register(
    "dpo_preference_pairs",
    oracle="""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               (MAX(struct_pack(l := length(text), nid := -doc_id,
                                id := doc_id))).id AS chosen_doc_id,
               (MIN(struct_pack(l := length(text), id := doc_id))).id
                   AS rejected_doc_id,
               CAST(MAX(length(text)) AS BIGINT) AS chosen_len,
               CAST(MIN(length(text)) AS BIGINT) AS rejected_len,
               CAST(MAX(length(text)) - MIN(length(text)) AS BIGINT)
                   AS len_margin
        FROM documents
        WHERE text IS NOT NULL
        GROUP BY lang, source
        HAVING COUNT(*) >= 2
    """,
    tags=("llm-pipeline", "preference", "dpo", "documents"),
)
def dpo_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    doc_len = F.length("text").cast("long")
    # lexicographic struct keys: longest-then-smallest-id for chosen,
    # shortest-then-smallest-id for rejected. Structs, not the old
    # len*2^32 ± doc_id composite — that arithmetic aliases adjacent
    # lengths once doc_id >= 2^32 (~1e10-doc corpora) and overflows
    # int64 for >= 2^31-char texts; struct comparison has no such cliff
    # and orders identically on both engines.
    chosen_key = F.struct(doc_len.alias("l"), (-F.col("doc_id")).alias("nid"))
    rejected_key = F.struct(doc_len.alias("l"), F.col("doc_id").alias("id"))
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max_by("doc_id", chosen_key).alias("chosen_doc_id"),
            F.min_by("doc_id", rejected_key).alias("rejected_doc_id"),
            F.max(doc_len).alias("chosen_len"),
            F.min(doc_len).alias("rejected_len"),
            (F.max(doc_len) - F.min(doc_len)).alias("len_margin"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# PADDING-WASTE REPORT — the training-efficiency question behind every
# batching strategy: how many pad tokens does a batch layout burn?
# Compares two layouts of the same corpus at batch size B: NAIVE
# (arrival order, batch = rank-by-doc_id div B) vs LENGTH-SORTED
# (rank-by-(len, doc_id) div B — the bucketed batching trick). Per batch
# the pad cost is max_len*rows - sum_len; the report is one row per
# strategy with exact-integer waste basis points — the number that
# justifies (or kills) adding a sort stage to a data loader.
# Scale shape: two distributed_rank passes (range-partitioned, no global
# sort), each followed by a batch-keyed partial agg and a 2-row rollup;
# nothing data-sized after the ranks. Length = the engine's canonical
# whitespace token count (text_token_stats lockstep).
# ---------------------------------------------------------------------------
_PAD_BATCH = 32


@register(
    "padding_waste_report",
    oracle=rf"""
        WITH lens AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
                       AS n_tok
            FROM documents WHERE text IS NOT NULL
        ),
        ranked AS (
            SELECT n_tok,
                   (CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) - 1)
                       // {_PAD_BATCH} AS naive_b,
                   (CAST(ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS BIGINT)
                       - 1) // {_PAD_BATCH} AS sorted_b
            FROM lens
        ),
        per AS (
            SELECT 'naive' AS strategy, naive_b AS b,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(MAX(n_tok) AS BIGINT) AS mx,
                   CAST(SUM(n_tok) AS BIGINT) AS s
            FROM ranked GROUP BY 2
            UNION ALL
            SELECT 'length_sorted', sorted_b,
                   CAST(COUNT(*) AS BIGINT),
                   CAST(MAX(n_tok) AS BIGINT),
                   CAST(SUM(n_tok) AS BIGINT)
            FROM ranked GROUP BY 2
        )
        SELECT strategy,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               CAST(SUM(s) AS BIGINT) AS total_tokens,
               CAST(SUM(mx * n) AS BIGINT) AS padded_tokens,
               (CAST(SUM(mx * n - s) AS BIGINT) * 10000)
                   // CAST(SUM(mx * n) AS BIGINT) AS waste_bp
        FROM per GROUP BY strategy
    """,
    tags=("llm-pipeline", "batching", "documents", "agg"),
)
def padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    # NULL text must be filtered on BOTH engines (pack_sequences_manifest
    # precedent): a NULL n_tok would sort NULLS FIRST in Spark's window
    # but NULLS LAST in DuckDB's ORDER BY, shifting every length_sorted
    # batch boundary — a latent cross-engine divergence the ASCII-only
    # fixtures never exercise.
    lens = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tok"),
    )

    def strategy(df: DataFrame, order, name: str) -> DataFrame:
        ranked = distributed_rank(df, order, rank_col="rk")
        per = ranked.groupBy(
            idiv(F.col("rk") - 1, _PAD_BATCH).alias("b")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("n_tok").alias("mx"),
            F.sum("n_tok").cast("long").alias("s"),
        )
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("s").cast("long").alias("total_tokens"),
            F.sum(F.col("mx") * F.col("n")).cast("long").alias("padded_tokens"),
            idiv(
                F.sum(F.col("mx") * F.col("n") - F.col("s")).cast("long")
                * 10000,
                F.sum(F.col("mx") * F.col("n")).cast("long"),
            ).alias("waste_bp"),
        )

    naive = strategy(lens, [F.col("doc_id")], "naive")
    by_len = strategy(
        lens, [F.col("n_tok"), F.col("doc_id")], "length_sorted"
    )
    return naive.unionByName(by_len)


# ---------------------------------------------------------------------------
# DEDUP-AWARE SAMPLING WEIGHTS — the repetition-control knob: a document
# duplicated C times should carry weight 1/C so its content isn't
# over-represented C-fold in the mixture (the "count once" rule near-dup
# pipelines converge to). Weights are exact integer ppm (1e6 // C), so
# the per-source effective-size rollup is an order-free integer SUM; the
# duplication mass is the bp gap between raw and effective size. Shape:
# one fingerprint hash-agg, one fingerprint-keyed join back, one
# source-key rollup — no doc×doc anything.
# ---------------------------------------------------------------------------
@register(
    "corpus_dedup_aware_weights",
    oracle="""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS fingerprint
            FROM documents
        ),
        sizes AS (
            SELECT fingerprint, COUNT(*) AS c FROM fp GROUP BY fingerprint
        )
        SELECT f.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT f.fingerprint) AS BIGINT) AS n_unique,
               CAST(SUM(1000000 // s.c) AS BIGINT) AS effective_ppm,
               (CAST(COUNT(*) AS BIGINT) * 1000000
                - CAST(SUM(1000000 // s.c) AS BIGINT)) * 10000
                   // (CAST(COUNT(*) AS BIGINT) * 1000000) AS dup_mass_bp
        FROM fp f JOIN sizes s USING (fingerprint)
        GROUP BY f.source
    """,
    tags=("llm-pipeline", "sampling", "dedup", "documents"),
)
def corpus_dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("fingerprint"),
    )
    sizes = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("c"))
    joined = fp.join(sizes, "fingerprint").select(
        "source", idiv(F.lit(1_000_000), F.col("c")).alias("w_ppm"),
        "fingerprint",
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fingerprint").cast("long").alias("n_unique"),
        F.sum("w_ppm").cast("long").alias("effective_ppm"),
        idiv(
            (
                F.count(F.lit(1)).cast("long") * 1_000_000
                - F.sum("w_ppm").cast("long")
            )
            * 10000,
            F.count(F.lit(1)).cast("long") * 1_000_000,
        ).alias("dup_mass_bp"),
    )


# ---------------------------------------------------------------------------
# QUOTA REBALANCE DELTA — incremental mixture maintenance: given the
# TARGET language mix (a curated literal — basis points summing to
# 10000) and the corpus' current counts, emit per language how many
# documents to add (negative = drop) to hit target shares at the current
# total. Pure integer arithmetic on a |langs|-row aggregate; the
# operator a nightly ingest run consults to steer source acquisition.
# ---------------------------------------------------------------------------
QUOTA_TARGET_BP = (
    ("de", 1500), ("en", 4000), ("es", 1500), ("fr", 1500), ("zh", 1500),
)


@register(
    "corpus_quota_rebalance_delta",
    oracle=f"""
        WITH target(lang, target_bp) AS (VALUES
            {", ".join(f"('{l}', {bp})" for l, bp in QUOTA_TARGET_BP)}),
        counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM counts)
        SELECT t.lang,
               COALESCE(c.n_docs, 0) AS n_docs,
               CAST(t.target_bp AS BIGINT) AS target_bp,
               COALESCE(c.n_docs, 0) * 10000 // tot.total AS actual_bp,
               CAST(t.target_bp * tot.total // 10000
                    - COALESCE(c.n_docs, 0) AS BIGINT) AS delta_docs
        FROM target t
        LEFT JOIN counts c ON c.lang = t.lang
        CROSS JOIN tot
    """,
    tags=("llm-pipeline", "quota", "mixture", "documents"),
)
def corpus_quota_rebalance_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    target = jvm_values_df(
        docs.sparkSession, list(QUOTA_TARGET_BP), "lang string, target_bp long"
    )
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("total"))
    return (
        F.broadcast(target)
        .join(counts, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.col("target_bp").cast("long").alias("target_bp"),
            idiv(
                F.coalesce("n_docs", F.lit(0)).cast("long") * 10000,
                F.col("total"),
            ).alias("actual_bp"),
            (
                idiv(F.col("target_bp") * F.col("total"), F.lit(10000))
                - F.coalesce("n_docs", F.lit(0))
            )
            .cast("long")
            .alias("delta_docs"),
        )
    )


# ---------------------------------------------------------------------------
# MIXTURE TEMPERATURE SWEEP — the tau grid a mixture designer actually
# scans before picking lang_temperature_weights' fixed tau: weights
# ∝ n^tau for tau ∈ {1, 3/4, 1/2, 1/4}. Every power is a CHAIN OF
# SQUARE ROOTS (n^(1/2) = sqrt, n^(1/4) = sqrt∘sqrt, n^(3/4) = their
# product) — IEEE sqrt is correctly rounded on every platform, unlike
# libm pow(), so the doubles are bit-identical cross-engine. Each weight
# then quantizes to integer micro-units per LANG (bounded domain) and
# the shares are exact integer bp of the micro-unit sum — no ordered
# fold needed at all.
# ---------------------------------------------------------------------------
TEMP_SWEEP_TAUS = ("1", "3/4", "1/2", "1/4")


def _tau_weight_sql(tau: str, n: str) -> str:
    if tau == "1":
        return f"({n} * 1.0)"
    if tau == "1/2":
        return f"sqrt({n} * 1.0)"
    if tau == "1/4":
        return f"sqrt(sqrt({n} * 1.0))"
    if tau == "3/4":
        return f"(sqrt({n} * 1.0) * sqrt(sqrt({n} * 1.0)))"
    raise ValueError(tau)


@register(
    "mixture_temperature_sweep",
    oracle=f"""
        WITH counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        ),
        w AS (
            {" UNION ALL ".join(
                f"SELECT '{tau}' AS tau, lang, n_docs, "
                f"CAST(ROUND(1000000.0 * {_tau_weight_sql(tau, 'n_docs')}) "
                f"AS BIGINT) AS w_u FROM counts"
                for tau in TEMP_SWEEP_TAUS)}
        ),
        z AS (SELECT tau, CAST(SUM(w_u) AS BIGINT) AS z_u FROM w GROUP BY tau)
        SELECT w.tau, w.lang, w.n_docs,
               w.w_u * 10000 // z.z_u AS share_bp
        FROM w JOIN z ON z.tau = w.tau
    """,
    tags=("llm-pipeline", "mixture", "temperature", "documents"),
)
def mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    n = F.col("n_docs") * 1.0
    tau_w = {
        "1": n,
        "1/2": F.sqrt(n),
        "1/4": F.sqrt(F.sqrt(n)),
        "3/4": F.sqrt(n) * F.sqrt(F.sqrt(n)),
    }
    per_tau = None
    for tau in TEMP_SWEEP_TAUS:
        rows = counts.select(
            F.lit(tau).alias("tau"),
            "lang",
            "n_docs",
            F.round(F.lit(1e6) * tau_w[tau], 0).cast("long").alias("w_u"),
        )
        per_tau = rows if per_tau is None else per_tau.unionByName(rows)
    z = per_tau.groupBy("tau").agg(F.sum("w_u").cast("long").alias("z_u"))
    return (
        per_tau.join(F.broadcast(z), "tau")
        .select(
            "tau",
            "lang",
            "n_docs",
            idiv(F.col("w_u") * 10000, F.col("z_u")).alias("share_bp"),
        )
    )


# ---------------------------------------------------------------------------
# CURRICULUM PACING SCHEDULE — turn a difficulty ranking into the
# tokens-per-epoch table a training loop consumes: rank documents by
# length (the cheap difficulty proxy; swap in the bigram-LM key from
# corpus_difficulty_curriculum for the model-based one), split into 10
# deciles with the exact distributed NTILE, then under linear pacing
# epoch e of CURRICULUM_EPOCHS admits deciles 1..(e*10//EPOCHS). Output
# is EPOCHS rows of exact integer doc/token budgets. Scale shape: one
# distributed_rank (range exchange, no global sort), a bounded decile
# rollup, and an EPOCHS×10 literal join.
# ---------------------------------------------------------------------------
CURRICULUM_EPOCHS = 4


@register(
    "curriculum_pacing_schedule",
    oracle=rf"""
        WITH ranked AS (
            SELECT NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile,
                   CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
                       AS n_tok
            FROM documents
        ),
        per_decile AS (
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM ranked GROUP BY decile
        ),
        epochs AS (SELECT UNNEST(range(1, {CURRICULUM_EPOCHS} + 1)) AS epoch)
        SELECT e.epoch,
               CAST(e.epoch * 10 // {CURRICULUM_EPOCHS} AS BIGINT)
                   AS max_decile,
               CAST(SUM(d.n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens
        FROM epochs e
        JOIN per_decile d ON d.decile <= e.epoch * 10 // {CURRICULUM_EPOCHS}
        GROUP BY e.epoch
    """,
    tags=("llm-pipeline", "curriculum", "schedule", "documents"),
)
def curriculum_pacing_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_rank,
        ntile_from_rank,
    )
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    ranked = distributed_rank(docs, [F.col("n_chars"), F.col("doc_id")])
    total = docs.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    per_decile = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            ntile_from_rank(F.col("rnk"), F.col("_total"), 10).alias("decile"),
            "n_tok",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    epochs = docs.sparkSession.range(1, CURRICULUM_EPOCHS + 1).select(
        F.col("id").cast("long").alias("epoch"),
        idiv(F.col("id") * 10, F.lit(CURRICULUM_EPOCHS)).alias("max_decile"),
    )
    return (
        F.broadcast(epochs)
        .join(per_decile, F.col("decile") <= F.col("max_decile"))
        .groupBy("epoch", "max_decile")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select("epoch", "max_decile", "n_docs", "n_tokens")
    )


# ---------------------------------------------------------------------------
# SFT PAIR MANIFEST — instruction-tuning data prep: split each document
# into a prompt (first SFT_PROMPT_TOKENS tokens) and a response (the
# rest), keep docs long enough to form a pair, and report per language
# the pair counts and the exact response-per-prompt token ratio the
# batch packer needs for budget planning. Narrow stateless projection +
# one lang-key rollup.
# ---------------------------------------------------------------------------
SFT_PROMPT_TOKENS = 8


@register(
    "sft_pair_manifest",
    oracle=rf"""
        WITH pairs AS (
            SELECT lang,
                   CAST({SFT_PROMPT_TOKENS} AS BIGINT) AS p_tok,
                   CAST(len(string_split_regex(TRIM(text), '\s+'))
                        - {SFT_PROMPT_TOKENS} AS BIGINT) AS r_tok
            FROM documents
            WHERE len(string_split_regex(TRIM(text), '\s+'))
                  > {SFT_PROMPT_TOKENS}
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(p_tok) AS BIGINT) AS prompt_tokens,
               CAST(SUM(r_tok) AS BIGINT) AS response_tokens,
               CAST(SUM(r_tok) AS BIGINT) * 10000
                   // CAST(SUM(p_tok) AS BIGINT) AS resp_per_prompt_bp
        FROM pairs
        GROUP BY lang
    """,
    tags=("llm-pipeline", "sft", "manifest", "documents"),
)
def sft_pair_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    pairs = docs.filter(n_tok > SFT_PROMPT_TOKENS).select(
        "lang",
        F.lit(SFT_PROMPT_TOKENS).cast("long").alias("p_tok"),
        (n_tok - SFT_PROMPT_TOKENS).alias("r_tok"),
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("p_tok").cast("long").alias("prompt_tokens"),
        F.sum("r_tok").cast("long").alias("response_tokens"),
        idiv(
            F.sum("r_tok").cast("long") * 10000, F.sum("p_tok").cast("long")
        ).alias("resp_per_prompt_bp"),
    )


# ---------------------------------------------------------------------------
# SFT LOSS-MASKING SPANS — the per-example byte/token offsets an SFT
# trainer needs to zero the loss over the prompt: the first
# ceil(n_tokens/3) whitespace tokens of each document are designated the
# prompt, the rest the response, and the manifest carries both token
# counts and the prompt's exact character length (what a byte-level
# collator slices on). mask_ratio_bp is the fraction of tokens excluded
# from the loss, in basis points (exact half-up integer division). Pure
# single-pass JVM expressions — no shuffle at all.
# ---------------------------------------------------------------------------
SFT_PROMPT_DENOM = 3  # prompt = first ceil(n/3) tokens


@register(
    "sft_loss_masking_spans",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(TRIM(text), ' ') AS toks
            FROM documents
        ),
        k AS (
            SELECT doc_id, toks,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST((len(toks) + {SFT_PROMPT_DENOM - 1})
                        // {SFT_PROMPT_DENOM} AS BIGINT) AS prompt_tokens
            FROM t
        )
        SELECT doc_id, n_tokens, prompt_tokens,
               CAST(LENGTH(array_to_string(toks[1:prompt_tokens], ' '))
                    AS BIGINT) AS prompt_chars,
               n_tokens - prompt_tokens AS response_tokens,
               CAST((2 * prompt_tokens * 10000 + n_tokens)
                    // (2 * n_tokens) AS BIGINT) AS mask_ratio_bp
        FROM k
    """,
    tags=("llm-pipeline", "sft", "loss-mask", "documents"),
)
def sft_loss_masking_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    staged = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.size("toks").cast("long").alias("n_tokens"),
        idiv(
            F.size("toks").cast("long") + (SFT_PROMPT_DENOM - 1),
            SFT_PROMPT_DENOM,
        ).alias("prompt_tokens"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "prompt_tokens",
        F.length(
            F.array_join(
                F.slice(F.col("toks"), 1, F.col("prompt_tokens").cast("int")),
                " ",
            )
        )
        .cast("long")
        .alias("prompt_chars"),
        (F.col("n_tokens") - F.col("prompt_tokens")).alias("response_tokens"),
        idiv(
            F.col("prompt_tokens") * 2 * 10000 + F.col("n_tokens"),
            F.col("n_tokens") * 2,
        ).alias("mask_ratio_bp"),
    )


# ---------------------------------------------------------------------------
# GRPO GROUP-RELATIVE ADVANTAGE — the reward normalization step of
# group-relative policy optimization: rewards (event values in exact
# cents) are grouped by prompt (user_id here), and each sample's
# advantage is its deviation from the group mean in units of the group's
# population std. The ranking key n*r - sum(r) is the EXACT integer
# deviation scaled by n (no division, no double until the final z), so
# ties and ordering are engine-exact; z_micro divides two identically-
# derived doubles (IEEE-correct on both engines) and rounds to integer
# micro-units (portable round-to-int). Groups below GRPO_MIN_GROUP or
# with zero variance are skipped, as a trainer would. One shuffle on the
# group key; group stats broadcast back by the self-join on user_id.
# ---------------------------------------------------------------------------
GRPO_MIN_GROUP = 4
GRPO_TOP = 25


@register(
    "grpo_group_advantage",
    oracle=f"""
        WITH r AS (
            SELECT event_id, user_id,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents
            FROM events
        ),
        g AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(SUM(cents * cents) AS BIGINT) AS ss
            FROM r GROUP BY 1
        ),
        j AS (
            SELECT r.event_id, r.user_id, r.cents, g.n,
                   r.cents * g.n - g.s AS dev_scaled,
                   g.n * g.ss - g.s * g.s AS var_num
            FROM r JOIN g USING (user_id)
            WHERE g.n >= {GRPO_MIN_GROUP} AND g.n * g.ss - g.s * g.s > 0
        ),
        z AS (
            SELECT event_id, user_id, cents, n, dev_scaled,
                   CAST(ROUND(dev_scaled / sqrt(CAST(var_num AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS z_micro
            FROM j
        )
        SELECT event_id, user_id, cents AS reward_cents,
               n AS group_n, z_micro
        FROM z
        ORDER BY abs(dev_scaled) DESC, event_id
        LIMIT {GRPO_TOP}
    """,
    tags=("llm-pipeline", "rl", "grpo", "events"),
)
def grpo_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    r = events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    g = r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    j = (
        r.join(g, "user_id")
        .withColumn("dev_scaled", F.col("cents") * F.col("n") - F.col("s"))
        .withColumn(
            "var_num", F.col("n") * F.col("ss") - F.col("s") * F.col("s")
        )
        .filter((F.col("n") >= GRPO_MIN_GROUP) & (F.col("var_num") > 0))
    )
    z = j.select(
        "event_id",
        "user_id",
        F.col("cents").alias("reward_cents"),
        F.col("n").alias("group_n"),
        "dev_scaled",
        F.round(
            F.col("dev_scaled")
            / F.sqrt(F.col("var_num").cast("double"))
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("z_micro"),
    )
    return (
        z.orderBy(F.abs(F.col("dev_scaled")).desc(), F.col("event_id"))
        .limit(GRPO_TOP)
        .select("event_id", "user_id", "reward_cents", "group_n", "z_micro")
    )


# ---------------------------------------------------------------------------
# BEST-OF-N SELECTION — the rejection-sampling step of an RLHF/RFT data
# pipeline: each user's event sequence (ordered by the (ts, event_id)
# total order — per-user window, never global) is dealt into consecutive
# groups of BON_N candidates, the best reward per complete group is
# selected (max cents, ties to the smallest event_id via one struct
# extreme), and the per-user manifest reports how much reward selection
# kept and the exact selection margin (4·best − group_sum — integers, no
# division). Incomplete trailing groups are dropped on both engines, as
# a sampler would.
# ---------------------------------------------------------------------------
BON_N = 4


@register(
    "best_of_n_selection",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ),
        grp AS (
            SELECT user_id, (rn - 1) // {BON_N} AS g, event_id, cents
            FROM seq
        ),
        full_g AS (
            SELECT user_id, g,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS group_sum,
                   (MAX(struct_pack(c := cents, ne := -event_id))).c
                       AS best_cents
            FROM grp GROUP BY 1, 2
            HAVING COUNT(*) = {BON_N}
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(best_cents) AS BIGINT) AS sum_best_cents,
               CAST(SUM({BON_N} * best_cents - group_sum) AS BIGINT)
                   AS sum_margin{BON_N}x
        FROM full_g GROUP BY 1
    """,
    tags=("llm-pipeline", "rl", "rejection-sampling", "events"),
)
def best_of_n_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
    )
    grp = seq.select(
        "user_id",
        idiv(F.col("rn") - 1, BON_N).alias("g"),
        "event_id",
        "cents",
    )
    full_g = (
        grp.groupBy("user_id", "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("group_sum"),
            F.max(
                F.struct(
                    F.col("cents").alias("c"), (-F.col("event_id")).alias("ne")
                )
            )["c"].alias("best_cents"),
        )
        .filter(F.col("n") == BON_N)
    )
    return full_g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("best_cents").cast("long").alias("sum_best_cents"),
        F.sum(BON_N * F.col("best_cents") - F.col("group_sum"))
        .cast("long")
        .alias(f"sum_margin{BON_N}x"),
    )


# ---------------------------------------------------------------------------
# SPAN-CORRUPTION MANIFEST — the T5-style pretraining objective's data
# layout: deterministic non-overlapping SPAN_LEN-token spans (starts at
# stride SPAN_STRIDE, phase doc_id % SPAN_STRIDE — reproducible on any
# cluster, no RNG state), one sentinel per span. The whole manifest is
# closed-form integer arithmetic on the token count — a single
# shuffle-free pass, the cheapest possible shape at 100 TB.
# ---------------------------------------------------------------------------
SPAN_LEN = 3
SPAN_STRIDE = 16


@register(
    "span_corruption_manifest",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(TRIM(text), ' ')) AS BIGINT)
                       AS n_tokens,
                   CAST(doc_id % {SPAN_STRIDE} AS BIGINT) AS phase
            FROM documents
        ), s AS (
            -- Span count gated on span EXISTENCE: DuckDB // truncates
            -- toward zero, so a negative numerator would yield 0 and the
            -- +1 would fabricate a span for docs shorter than
            -- phase + SPAN_LEN. The CASE guard (not greatest) is the fix.
            SELECT doc_id, n_tokens, phase,
                   CASE WHEN n_tokens >= phase + {SPAN_LEN}
                        THEN (n_tokens - {SPAN_LEN} - phase)
                             // {SPAN_STRIDE} + 1
                        ELSE CAST(0 AS BIGINT) END AS n_spans
            FROM t
        )
        SELECT doc_id, n_tokens, phase, n_spans,
               n_spans * {SPAN_LEN} AS masked_tokens,
               CAST((2 * n_spans * {SPAN_LEN} * 10000 + n_tokens)
                    // (2 * n_tokens) AS BIGINT) AS corruption_bp
        FROM s
    """,
    tags=("llm-pipeline", "pretraining", "masking", "documents"),
)
def span_corruption_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), " ")).cast("long")
    staged = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.col("doc_id") % SPAN_STRIDE).cast("long").alias("phase"),
    )
    # Gate the +1 on span existence: idiv truncates toward zero, so a doc
    # with n_tokens < phase + SPAN_LEN would otherwise report one phantom
    # span (trunc(negative/stride) == 0, +1 == 1) and overstate
    # masked_tokens / corruption_bp for tokens that do not exist.
    n_spans = (
        F.when(
            F.col("n_tokens") >= F.col("phase") + SPAN_LEN,
            idiv(F.col("n_tokens") - SPAN_LEN - F.col("phase"), SPAN_STRIDE)
            + 1,
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "phase",
        n_spans.alias("n_spans"),
        (n_spans * SPAN_LEN).alias("masked_tokens"),
        idiv(
            n_spans * SPAN_LEN * 2 * 10000 + F.col("n_tokens"),
            F.col("n_tokens") * 2,
        ).alias("corruption_bp"),
    )


# ---------------------------------------------------------------------------
# EFFECTIVE SAMPLE SIZE OF THE DEDUP-AWARE WEIGHTS — Kish's ESS
# (Σw)²/Σw² over the 1/cluster-size ppm weights corpus_dedup_aware_weights
# assigns: the one number that says how many INDEPENDENT documents a
# weighted corpus is actually worth (heavy duplication → ESS ≪ N →
# training on it overfits sooner than row counts suggest). Integer ppm
# weights keep Σw and Σw² exact int64 per source; the single ratio is
# one double division on identical trees. One scan, |sources| rows.
# ---------------------------------------------------------------------------
@register(
    "corpus_weights_ess",
    oracle="""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS fingerprint
            FROM documents
        ),
        sizes AS (
            SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS c
            FROM fp GROUP BY fingerprint
        ),
        w AS (
            SELECT f.source, 1000000 // s.c AS w_ppm
            FROM fp f JOIN sizes s USING (fingerprint)
        ),
        g AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(w_ppm) AS BIGINT) AS sum_w_ppm,
                   CAST(SUM(w_ppm * w_ppm) AS BIGINT) AS sum_w2
            FROM w GROUP BY 1
        )
        SELECT source, n_docs, sum_w_ppm,
               CAST(ROUND(CAST(sum_w_ppm AS DOUBLE) * sum_w_ppm / sum_w2
                          * 1000.0) AS BIGINT) AS ess_milli,
               CAST(ROUND(CAST(sum_w_ppm AS DOUBLE) * sum_w_ppm
                          / (CAST(sum_w2 AS DOUBLE) * n_docs)
                          * 10000.0) AS BIGINT) AS ess_ratio_bp
        FROM g
    """,
    tags=("llm-pipeline", "sampling", "dedup", "weights", "documents"),
)
def corpus_weights_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias(
            "fingerprint"
        ),
    )
    sizes = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = fp.join(sizes, "fingerprint").select(
        "source", idiv(F.lit(1_000_000), F.col("c")).alias("w_ppm")
    )
    g = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w_ppm").cast("long").alias("sum_w_ppm"),
        F.sum(F.col("w_ppm") * F.col("w_ppm")).cast("long").alias("sum_w2"),
    )
    return ess_assemble(g)


def ess_assemble(g: DataFrame) -> DataFrame:
    """Kish ESS report from per-source weight moments (source, n_docs,
    sum_w_ppm, sum_w2) — shared verbatim by the batch query above and
    its streaming twin, so both check against the SAME oracle."""
    return g.select(
        "source",
        "n_docs",
        "sum_w_ppm",
        F.round(
            F.col("sum_w_ppm").cast("double")
            * F.col("sum_w_ppm")
            / F.col("sum_w2")
            * 1000.0,
            0,
        )
        .cast("long")
        .alias("ess_milli"),
        F.round(
            F.col("sum_w_ppm").cast("double")
            * F.col("sum_w_ppm")
            / (F.col("sum_w2").cast("double") * F.col("n_docs"))
            * 10000.0,
            0,
        )
        .cast("long")
        .alias("ess_ratio_bp"),
    )


# ---------------------------------------------------------------------------
# INTER-RATER AGREEMENT (COHEN'S KAPPA) — the labeled-data QC gate every
# RLHF/eval pipeline runs before trusting annotations: two independent
# binary raters over each document (here two deterministic heuristics —
# rater A: length >= KAPPA_LEN_T chars; rater B: type-token ratio >= 1/2,
# i.e. 2·|distinct tokens| >= |tokens|), the 2x2 confusion table in
# exact int64, and kappa assembled in the fully-INTEGER form
# (n·(n11+n00) − pe_num) / (n² − pe_num) with
# pe_num = (n11+n10)(n11+n01) + (n01+n00)(n10+n00) — one double division
# at the very end. One scan, one 1-row aggregate.
# ---------------------------------------------------------------------------
KAPPA_LEN_T = 240

# Shared rater SQL pieces — ONE definition of the rater pair, the 2x2
# confusion CTE, and each statistic's CASE; the kappa, McNemar, and
# combined drift-monitor oracles all compose from these so a future
# formula fix cannot silently diverge the copies.
_RATER_RC_SQL = f"""r AS (
            SELECT CASE WHEN length(text) >= {KAPPA_LEN_T} THEN 1 ELSE 0 END
                       AS a,
                   CASE WHEN 2 * len(list_distinct(string_split(
                            LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))),
                            ' ')))
                        >= len(string_split(
                            LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))),
                            ' '))
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(a * b) AS BIGINT) AS n11,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                   CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
            FROM r
        )"""

_KAPPA_CASE_SQL = """CASE WHEN n * n = (n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)
                THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(
                    CAST(n * (n11 + n00)
                         - ((n11 + n10) * (n11 + n01)
                            + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                    / (n * n - ((n11 + n10) * (n11 + n01)
                                + (n01 + n00) * (n10 + n00)))
                    * 1000000.0) AS BIGINT) END"""

_MCNEMAR_CASE_SQL = """CASE WHEN n10 + n01 = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(
                    CAST(greatest(abs(n10 - n01) - 1, 0)
                         * greatest(abs(n10 - n01) - 1, 0)
                         AS DOUBLE) / (n10 + n01) * 1000000.0)
                    AS BIGINT) END"""


def rater_ab_cols() -> tuple[Column, Column]:
    """The two deterministic binary raters (length, type-token ratio) —
    one definition feeds kappa, McNemar, and the streaming monitor."""
    toks = F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
    a = (F.length("text") >= KAPPA_LEN_T).cast("long")
    b = (2 * F.size(F.array_distinct(toks)) >= F.size(toks)).cast("long")
    return a, b


def rater_confusion(docs: DataFrame) -> DataFrame:
    """One-row 2x2 confusion table (n, n11, n10, n01, n00) — the single
    scan all three rater statistics assemble from."""
    a, b = rater_ab_cols()
    r = docs.select(a.alias("a"), b.alias("b"))
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )


def rater_drift_assemble(c: DataFrame) -> DataFrame:
    """kappa_micro + clamped mcnemar_micro from one confusion row
    (n, n11, n10, n01, n00) — the batch kappa/McNemar queries and the
    streaming monitor all project from this one assembly."""
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    kappa = (
        F.when(F.col("n") * F.col("n") == pe_num, F.lit(0).cast("long"))
        .otherwise(
            F.round(
                (
                    F.col("n") * (F.col("n11") + F.col("n00")) - pe_num
                ).cast("double")
                / (F.col("n") * F.col("n") - pe_num)
                * 1000000.0,
                0,
            ).cast("long")
        )
        .alias("kappa_micro")
    )
    diff = F.greatest(F.abs(F.col("n10") - F.col("n01")) - 1, F.lit(0))
    mcnemar = (
        F.when(F.col("n10") + F.col("n01") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(
                (diff * diff).cast("double")
                / (F.col("n10") + F.col("n01"))
                * 1000000.0,
                0,
            ).cast("long")
        )
        .alias("mcnemar_micro")
    )
    return c.select(
        F.col("n").alias("n_docs"), "n11", "n10", "n01", "n00", kappa, mcnemar
    )



@register(
    "quality_rater_agreement_kappa",
    oracle=f"""
        WITH {_RATER_RC_SQL}
        SELECT n AS n_docs, n11, n10, n01, n00,
               {_KAPPA_CASE_SQL} AS kappa_micro
        FROM c
    """,
    tags=("llm-pipeline", "annotation", "agreement", "statistics",
          "documents"),
)
def quality_rater_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rater_drift_assemble(rater_confusion(docs)).select(
        "n_docs", "n11", "n10", "n01", "n00", "kappa_micro"
    )


# ---------------------------------------------------------------------------
# NEYMAN EVAL-BUDGET ALLOCATION — stratified eval-set design: allocate a
# fixed labeling/eval budget across language strata proportional to
# N_h·S_h (stratum size × doc-length std), the variance-minimizing
# split for estimating corpus-level quality from a sample. Int64
# moments per stratum feed N_h·S_h = sqrt(n·Σx² − (Σx)²) with the
# product computed in DOUBLE (the int64 product overflows near the
# 100 TB design point; both engines take the same ≤2^-52 relative
# error, far below the micro-key rounding); the allocation divides
# integer micro-keys half-up so the plan is deterministic on any
# engine. One scan, |langs| rows.
# ---------------------------------------------------------------------------
EVAL_BUDGET_DOCS = 1_000


def neyman_key_micro_expr() -> Column:
    """N_h·S_h micro-key over (n_docs, sum_len, sum_len_sq) columns.

    Computed in DOUBLE (not int64) — see the oracle comment: the int64
    product n_docs·Σx² overflows near the 100 TB design point. Module
    level so the overflow regression test evaluates the exact expression
    the query plans.
    """
    return (
        F.round(
            F.sqrt(
                F.col("n_docs").cast("double")
                * F.col("sum_len_sq").cast("double")
                - F.col("sum_len").cast("double")
                * F.col("sum_len").cast("double")
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("neyman_key_micro")
    )


@register(
    "neyman_allocation_plan",
    oracle=f"""
        WITH m AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_len,
                   CAST(SUM(CAST(length(text) AS BIGINT)
                            * length(text)) AS BIGINT) AS sum_len_sq
            FROM documents GROUP BY 1
        ),
        k AS (
            -- variance key in DOUBLE: n_docs·Σx² approaches 2^63 at the
            -- 100 TB target (1e8-doc strata × 1e12 Σx²) where BIGINT
            -- raises (DuckDB) or wraps (Spark); DOUBLE degrades to ~2^-52
            -- relative error instead, far below the micro-key rounding.
            SELECT lang, n_docs, sum_len,
                   CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)
                                       * CAST(sum_len_sq AS DOUBLE)
                                   - CAST(sum_len AS DOUBLE)
                                       * CAST(sum_len AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS neyman_key_micro
            FROM m
        ),
        t AS (SELECT CAST(SUM(neyman_key_micro) AS BIGINT) AS total FROM k)
        SELECT k.lang, k.n_docs, k.sum_len, k.neyman_key_micro,
               ({EVAL_BUDGET_DOCS} * k.neyman_key_micro * 2 + t.total)
                   // (2 * t.total) AS alloc_docs
        FROM k, t
    """,
    tags=("llm-pipeline", "sampling", "stratified", "eval", "documents"),
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ln = F.length("text").cast("long")
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ln).cast("long").alias("sum_len"),
        F.sum(ln * ln).cast("long").alias("sum_len_sq"),
    )
    return neyman_assemble(m)


def neyman_assemble(m: DataFrame) -> DataFrame:
    """Allocation plan from per-lang moments (lang, n_docs, sum_len,
    sum_len_sq) — shared verbatim by the batch query above and its
    streaming twin, so both check against the SAME oracle."""
    k = m.select("lang", "n_docs", "sum_len", neyman_key_micro_expr())
    t = k.agg(F.sum("neyman_key_micro").cast("long").alias("total"))
    return k.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "sum_len",
        "neyman_key_micro",
        idiv(
            EVAL_BUDGET_DOCS * F.col("neyman_key_micro") * 2 + F.col("total"),
            2 * F.col("total"),
        ).alias("alloc_docs"),
    )


# ---------------------------------------------------------------------------
# POISSON BOOTSTRAP CONFIDENCE INTERVAL — the canonical DISTRIBUTED
# bootstrap (resampling-with-replacement is impossible to coordinate
# across executors, but Binomial(n,1/n) → Poisson(1) per-row resample
# weights need NO coordination at all): each order draws, for each of
# B=32 replicas, a deterministic pseudo-Poisson(1) weight from a hashed
# inverse-CDF lookup, and every replica's weighted mean accumulates in
# the SAME single scan — 64 map-side-partial aggregates, one 1-row
# result, no data movement beyond the final reduce. The 93.75% central
# interval is the 2nd/31st order statistic of the 32 replica means.
# Thresholds are FROZEN integers on the 28-bit hash domain so both
# engines draw bit-identical weights.
# ---------------------------------------------------------------------------
BOOT_B = 32
# cumulative Poisson(1) CDF at k=0..4, scaled to the 2^28 hash domain
_BOOT_CUM = (0.3678794411714423, 0.7357588823428846, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563)
BOOT_T = tuple(int(c * (1 << 28)) for c in _BOOT_CUM)


def _boot_weight_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {BOOT_T[0]} THEN 0"
        f" WHEN {u} < {BOOT_T[1]} THEN 1"
        f" WHEN {u} < {BOOT_T[2]} THEN 2"
        f" WHEN {u} < {BOOT_T[3]} THEN 3"
        f" WHEN {u} < {BOOT_T[4]} THEN 4"
        f" ELSE 5 END"
    )


def _boot_oracle() -> str:
    pairs = ",\n".join(
        f"                   CAST(SUM(w_{b}) AS BIGINT) AS sw_{b},"
        f" CAST(SUM(w_{b} * cents) AS BIGINT) AS swx_{b}"
        for b in range(BOOT_B)
    )
    ws = ",\n".join(
        f"                   {_boot_weight_sql(md5_int_sql('o_orderkey', f'boot{b}:'))}"
        f" AS w_{b}"
        for b in range(BOOT_B)
    )
    means = ", ".join(
        f"CAST(swx_{b} AS DOUBLE) / sw_{b}" for b in range(BOOT_B)
    )
    return f"""
        WITH r AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
{ws}
            FROM orders
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
{pairs}
            FROM r
        ),
        ms AS (
            SELECT n, sum_cents, list_sort([{means}]) AS m FROM agg
        )
        SELECT n AS n_orders,
               CAST(ROUND(CAST(sum_cents AS DOUBLE) / n) AS BIGINT)
                   AS mean_cents,
               CAST(ROUND(m[2]) AS BIGINT) AS boot_lo_cents,
               CAST(ROUND(m[31]) AS BIGINT) AS boot_hi_cents,
               CAST(ROUND(m[31]) AS BIGINT) - CAST(ROUND(m[2]) AS BIGINT)
                   AS boot_spread_cents
        FROM ms
    """


@register(
    "orders_mean_value_bootstrap_ci",
    oracle=_boot_oracle(),
    tags=("statistics", "bootstrap", "resampling", "orders", "scale"),
)
def orders_mean_value_bootstrap_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    r = orders.select(
        cents.alias("cents"),
        *[
            boot_weight_col(b, F.col("o_orderkey")).alias(f"w_{b}")
            for b in range(BOOT_B)
        ],
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        *[
            x
            for b in range(BOOT_B)
            for x in (
                F.sum(F.col(f"w_{b}")).cast("long").alias(f"sw_{b}"),
                F.sum(F.col(f"w_{b}") * F.col("cents"))
                .cast("long")
                .alias(f"swx_{b}"),
            )
        ],
    )
    return boot_ci_assemble(agg)


def boot_ci_assemble(agg: DataFrame) -> DataFrame:
    """CI assembly over the converged (n, sum_cents, sw_b, swx_b) sums —
    shared by the batch op and the streaming running-CI monitor (the
    replica sums are commutative constant-size state, so the streaming
    twin shares this and the oracle verbatim)."""
    means = F.array_sort(
        F.array(
            *[
                F.col(f"swx_{b}").cast("double") / F.col(f"sw_{b}")
                for b in range(BOOT_B)
            ]
        )
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("sum_cents").cast("double") / F.col("n"), 0)
        .cast("long")
        .alias("mean_cents"),
        means.alias("_m"),
    ).select(
        "n_orders",
        "mean_cents",
        F.round(F.element_at("_m", 2), 0).cast("long").alias("boot_lo_cents"),
        F.round(F.element_at("_m", 31), 0).cast("long").alias("boot_hi_cents"),
        (
            F.round(F.element_at("_m", 31), 0).cast("long")
            - F.round(F.element_at("_m", 2), 0).cast("long")
        ).alias("boot_spread_cents"),
    )


def boot_weight_col(b: int, key: "F.Column") -> "F.Column":
    """Deterministic pseudo-Poisson(1) replica-b weight for a key column
    — the same frozen thresholds both engines use."""
    u = md5_int(key, f"boot{b}:")
    return (
        F.when(u < BOOT_T[0], 0)
        .when(u < BOOT_T[1], 1)
        .when(u < BOOT_T[2], 2)
        .when(u < BOOT_T[3], 3)
        .when(u < BOOT_T[4], 4)
        .otherwise(5)
        .cast("long")
    )


# ---------------------------------------------------------------------------
# McNEMAR'S TEST — the paired complement of Cohen's kappa over the SAME
# 2x2 rater confusion table: kappa asks "do the raters agree beyond
# chance", McNemar asks "do they DISAGREE symmetrically" (a skewed
# n10 vs n01 means one rater systematically passes documents the other
# fails — a calibration bug, not noise). Continuity-corrected statistic
# max(|n10 - n01| - 1, 0)^2 / (n10 + n01): the clamp keeps the exactly
# symmetric point (n10 == n01 > 0) at zero, as the standard corrected
# form requires. Exact integer numerator, one division, same
# single-scan shape.
# ---------------------------------------------------------------------------
@register(
    "rater_mcnemar_test",
    oracle=f"""
        WITH {_RATER_RC_SQL}
        SELECT n AS n_docs, n10, n01,
               {_MCNEMAR_CASE_SQL} AS mcnemar_micro
        FROM c
    """,
    tags=("llm-pipeline", "annotation", "agreement", "statistics",
          "documents"),
)
def rater_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rater_drift_assemble(rater_confusion(docs)).select(
        "n_docs", "n10", "n01", "mcnemar_micro"
    )


# ---------------------------------------------------------------------------
# RATER-DRIFT COMBINED ORACLE — kappa + McNemar over ONE confusion
# table, the report a live annotation-QC monitor emits; used by the
# streaming twin (streaming_rater_drift_monitor), whose only stateful
# piece is the five int64 confusion sums in JVM agg state. Composed
# from the SAME shared SQL pieces as the two batch oracles above, and
# assembled Spark-side by the same rater_drift_assemble — one
# definition everywhere.
# ---------------------------------------------------------------------------
RATER_DRIFT_ORACLE = f"""
    WITH {_RATER_RC_SQL}
    SELECT n AS n_docs, n11, n10, n01, n00,
           {_KAPPA_CASE_SQL} AS kappa_micro,
           {_MCNEMAR_CASE_SQL} AS mcnemar_micro
    FROM c
"""


# ---------------------------------------------------------------------------
# SPLIT LEAKAGE AUDIT — the train/val/test contamination check every
# eval pipeline needs BEFORE it trusts a benchmark number: split the
# corpus 80/10/10 by the deterministic doc_id hash (reproducible, the
# split_train_eval construction), fingerprint each doc by its normalized
# token stream (the text_fingerprint definition — content-identical
# docs collide even under different doc_ids), and report, per split,
# how many documents share a fingerprint with ANOTHER split. A leaked
# eval doc means its benchmark answer sits verbatim in training data.
# Scale shape: one fp-keyed aggregate (countDistinct split collapses
# map-side to a 3-element set), one fp-keyed join back, bounded 3-row
# rollup + one broadcast scalar. No windows, no collects.
# ---------------------------------------------------------------------------
@register(
    "split_leakage_audit",
    oracle=rf"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN {md5_int_sql("doc_id", "leak:")} % 10 < 8 THEN 'train'
                        WHEN {md5_int_sql("doc_id", "leak:")} % 10 = 8 THEN 'val'
                        ELSE 'test' END AS split,
                   md5(array_to_string(
                       string_split_regex(LOWER(TRIM(text)), '\s+'), ' '))
                       AS fp
            FROM documents
        ),
        fps AS (
            SELECT fp, CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
            FROM d GROUP BY 1
        ),
        leaked AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS leaked_fp_total
            FROM fps WHERE n_splits > 1
        )
        SELECT d.split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT d.fp) AS BIGINT) AS n_distinct_fp,
               CAST(SUM(CASE WHEN f.n_splits > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaked_docs,
               (SELECT leaked_fp_total FROM leaked) AS leaked_fp_total
        FROM d JOIN fps f ON f.fp = d.fp
        GROUP BY 1
    """,
    tags=("llm-pipeline", "corpus", "leakage", "dedup", "documents"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return split_leakage_assemble(leakage_counters(docs))


def leakage_counters(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) documents -> per-fingerprint (fp, n_train,
    n_val, n_test) counter rows — the ONE definition of the fingerprint
    normalization, the 80/10/10 hash bucketing, and the counter
    aggregation, shared verbatim by the batch audit and the streaming
    monitor (the groupBy works identically on a streaming DataFrame)."""
    fp = F.md5(
        F.array_join(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), " ")
    )
    h = md5_int("doc_id", "leak:") % 10
    d = docs.select(
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
        .alias("split"),
        fp.alias("fp"),
    )
    return d.groupBy("fp").agg(
        *[
            F.sum((F.col("split") == s).cast("long"))
            .cast("long")
            .alias(f"n_{s}")
            for s in ("train", "val", "test")
        ]
    )


def split_leakage_assemble(fps3: DataFrame) -> DataFrame:
    """Leakage report from per-fingerprint (n_train, n_val, n_test)
    counter rows — shared verbatim by the batch query and its streaming
    twin. Everything derives from this table (no join back to the
    corpus): a split's doc count is the counter sum, its distinct-fp
    count is the fps with a nonzero counter, and a doc is leaked iff
    its fp has nonzero counters in ≥2 splits."""
    splits = ("train", "val", "test")
    n_splits = sum(
        (F.col(f"n_{s}") > 0).cast("int") for s in splits
    )
    g = fps3.agg(
        F.sum((n_splits > 1).cast("long"))
        .cast("long")
        .alias("leaked_fp_total"),
        *[
            agg
            for s in splits
            for agg in (
                F.sum(f"n_{s}").cast("long").alias(f"docs_{s}"),
                F.sum((F.col(f"n_{s}") > 0).cast("long"))
                .cast("long")
                .alias(f"fps_{s}"),
                F.sum(
                    F.when(n_splits > 1, F.col(f"n_{s}")).otherwise(0)
                )
                .cast("long")
                .alias(f"leaked_{s}"),
            )
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(s).alias("split"),
                F.col(f"docs_{s}").alias("n_docs"),
                F.col(f"fps_{s}").alias("n_distinct_fp"),
                F.col(f"leaked_{s}").alias("n_leaked_docs"),
            )
            for s in splits
        ]
    )
    return (
        g.select(F.explode(rows).alias("r"), "leaked_fp_total")
        .select(
            F.col("r.split").alias("split"),
            F.col("r.n_docs").alias("n_docs"),
            F.col("r.n_distinct_fp").alias("n_distinct_fp"),
            F.col("r.n_leaked_docs").alias("n_leaked_docs"),
            "leaked_fp_total",
        )
        # the oracle's GROUP BY only yields rows for splits that hold at
        # least one document — mirror it, so an empty (or hash-starved)
        # split never fabricates a ('val', 0, ...) row the oracle lacks;
        # a fully empty corpus yields zero rows on both engines
        .filter(F.col("n_docs") > 0)
    )


# ---------------------------------------------------------------------------
# WINSORIZATION AUDIT — the outlier-clipping decision every
# length-sensitive pipeline stage (packing budgets, quality features,
# compute estimates) needs made explicit: exact p05/p95 document-length
# thresholds by RANK SELECTION (the portable quantile: pick the value
# at position ceil-free k = max(1, n·q//100) of the (n_chars, doc_id)
# total order — engine interpolation rules never enter), then report
# the clipped mass and the exact means before/after clipping. The rank
# rides distributed_rank (range exchange + broadcast offsets — no
# single-partition sort at 100 TB); thresholds are two 1-row filters
# broadcast back over the same pinned ranking.
# ---------------------------------------------------------------------------
@register(
    "doc_length_winsorize_audit",
    oracle="""
        WITH d AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
        ),
        r AS (
            SELECT n_chars,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                        AS BIGINT) AS rnk
            FROM d
        ),
        ks AS (
            SELECT GREATEST(1, CAST(COUNT(*) AS BIGINT) * 5 // 100) AS k05,
                   GREATEST(1, CAST(COUNT(*) AS BIGINT) * 95 // 100) AS k95
            FROM d
        ),
        th AS (
            SELECT (SELECT n_chars FROM r, ks WHERE rnk = k05) AS t05,
                   (SELECT n_chars FROM r, ks WHERE rnk = k95) AS t95
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(t05) AS p05_chars,
               MIN(t95) AS p95_chars,
               CAST(SUM(CASE WHEN n_chars < t05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_low,
               CAST(SUM(CASE WHEN n_chars > t95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_high,
               CAST(ROUND(SUM(n_chars) * 1000.0 / COUNT(*)) AS BIGINT)
                   AS mean_before_milli,
               CAST(ROUND(SUM(CASE WHEN n_chars < t05 THEN t05
                                   WHEN n_chars > t95 THEN t95
                                   ELSE n_chars END) * 1000.0 / COUNT(*))
                    AS BIGINT) AS mean_after_milli
        FROM d CROSS JOIN th
    """,
    tags=("llm-pipeline", "corpus", "winsorize", "quantile", "documents"),
)
def doc_length_winsorize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_rank,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    ranked = distributed_rank(
        docs, [F.col("n_chars"), F.col("doc_id")]
    ).localCheckpoint(eager=False)  # thresholds + audit share one ranking
    ks = ranked.agg(
        F.greatest(F.lit(1), idiv(F.count(F.lit(1)) * 5, 100))
        .cast("long")
        .alias("k05"),
        F.greatest(F.lit(1), idiv(F.count(F.lit(1)) * 95, 100))
        .cast("long")
        .alias("k95"),
    )
    marked = ranked.crossJoin(F.broadcast(ks))
    th = (
        marked.filter(
            (F.col("rnk") == F.col("k05")) | (F.col("rnk") == F.col("k95"))
        )
        .agg(
            F.min(F.when(F.col("rnk") == F.col("k05"), F.col("n_chars")))
            .cast("long")
            .alias("t05"),
            F.min(F.when(F.col("rnk") == F.col("k95"), F.col("n_chars")))
            .cast("long")
            .alias("t95"),
        )
    )
    clipped = F.when(F.col("n_chars") < F.col("t05"), F.col("t05")).when(
        F.col("n_chars") > F.col("t95"), F.col("t95")
    ).otherwise(F.col("n_chars"))
    return (
        ranked.crossJoin(F.broadcast(th))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("t05").cast("long").alias("p05_chars"),
            F.min("t95").cast("long").alias("p95_chars"),
            F.sum((F.col("n_chars") < F.col("t05")).cast("long"))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum((F.col("n_chars") > F.col("t95")).cast("long"))
            .cast("long")
            .alias("n_clipped_high"),
            F.round(F.sum("n_chars") * 1000.0 / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("mean_before_milli"),
            F.round(F.sum(clipped) * 1000.0 / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("mean_after_milli"),
        )
    )


# ---------------------------------------------------------------------------
# TEXT-CURATION FUNNEL — the corpus-hygiene counterpart of
# dedup_pipeline_composition (r10 brief #5a): the five curation stages a
# pretraining run applies (quality filter → language-ID gate →
# dedup-aware per-language quota → eval decontamination → pack-overflow
# drop) composed into ONE attributed survivor report. Same composition
# discipline as the dedup funnel: every stage's loser set is computed
# INDEPENDENTLY over the full corpus by the existing stage rules
# (text_quality_score's passes_quality, text_language_id's 'und' verdict,
# exact-fingerprint dedup + hash-ordered quota, decontaminate_train_
# shingles' eval-shingle semi-join, pack_sequences_manifest's token
# count), and attribution is by PRECEDENCE — a doc failing several gates
# counts against the earliest — so the funnel telescopes exactly:
# n_out(k) = n_in(k+1), with the surviving whitespace-token volume
# (tokens_out) reported per stage. Scale shape: one corpus scan builds
# every per-doc flag (the quota rank is the only per-lang shuffle; the
# eval shingle set broadcasts exactly as in decontaminate_train_shingles);
# the report is 5 rows from one aggregate.
# ---------------------------------------------------------------------------
FUNNEL_KEEP_PCT = 60  # dedup-aware quota: keep top 60% of each lang stratum

_FUNNEL_STAGES = (
    (1, "quality"),
    (2, "langid"),
    (3, "dedup_quota"),
    (4, "decontaminate"),
    (5, "pack_overflow"),
)


def _funnel_oracle() -> str:
    from kafka_stream_job_spark.operators.dedup import _NORM_SQL
    from kafka_stream_job_spark.operators.text import LANG_MARKERS

    marker_counts = ", ".join(
        f"len(regexp_extract_all(LOWER(text), '{pat}')) AS n_{code}"
        for code, pat in LANG_MARKERS.items()
    )
    greatest = f"greatest({', '.join(f'n_{c}' for c in LANG_MARKERS)})"
    n_tok = r"len(string_split_regex(TRIM(text), '\s+'))"
    n_uniq = r"len(list_distinct(string_split_regex(LOWER(TRIM(text)), '\s+')))"
    stage_rows = []
    for k, label in _FUNNEL_STAGES:
        n_in = "n" + "".join(f" - r{j}" for j, _ in _FUNNEL_STAGES if j < k)
        n_out = n_in + f" - r{k}"
        tokens_out = "t0" + "".join(
            f" - t{j}" for j, _ in _FUNNEL_STAGES if j <= k
        )
        stage_rows.append(
            f"SELECT CAST({k} AS BIGINT) AS stage_idx, '{label}' AS stage, "
            f"CAST({n_in} AS BIGINT) AS n_in, "
            f"CAST(r{k} AS BIGINT) AS n_removed, "
            f"CAST({n_out} AS BIGINT) AS n_out, "
            f"CAST({tokens_out} AS BIGINT) AS tokens_out FROM c"
        )
        if k == 1:
            stage_rows[-1] = stage_rows[-1].replace(
                "CAST(n AS BIGINT) AS n_in", "n AS n_in"
            )
    union = "\n        UNION ALL\n        ".join(stage_rows)
    return f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id, lang,
                   {n_tok} AS n_tok,
                   CASE WHEN {n_tok} BETWEEN 20 AND 1000
                             AND {n_uniq} * 1.0 / {n_tok} > 0.3
                        THEN 0 ELSE 1 END AS q_loser,
                   {marker_counts},
                   md5({_NORM_SQL}) AS fp,
                   {md5_int_sql("doc_id", "quota:")} AS qh,
                   CASE WHEN {md5_int_sql("doc_id", "split:")} % 100 < {EVAL_PCT}
                        THEN 1 ELSE 0 END AS is_eval
            FROM documents
        ),
        dup AS (
            SELECT doc_id,
                   CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY fp)
                        THEN 1 ELSE 0 END AS dup_loser
            FROM base
        ),
        winners AS (
            SELECT b.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.lang ORDER BY b.qh, b.doc_id
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY b.lang) AS n_lang
            FROM base b JOIN dup d ON d.doc_id = b.doc_id
            WHERE d.dup_loser = 0
        ),
        sh AS ({_SHINGLES_SQL}),
        eval_sh AS (
            SELECT DISTINCT shingle
            FROM sh JOIN base ON sh.doc_id = base.doc_id
            WHERE base.is_eval = 1
        ),
        contam AS (
            SELECT DISTINCT sh.doc_id
            FROM sh JOIN eval_sh ON sh.shingle = eval_sh.shingle
        ),
        staged AS (
            SELECT b.n_tok,
                   CASE WHEN b.q_loser = 1 THEN 1
                        WHEN {greatest} = 0 THEN 2
                        WHEN d.dup_loser = 1
                             OR w.rk > (w.n_lang * {FUNNEL_KEEP_PCT}) // 100
                             THEN 3
                        WHEN b.is_eval = 1 OR c.doc_id IS NOT NULL THEN 4
                        WHEN b.n_tok > {PACK_BUDGET} THEN 5
                        ELSE 0 END AS first_removed
            FROM base b
            JOIN dup d ON d.doc_id = b.doc_id
            LEFT JOIN winners w ON w.doc_id = b.doc_id
            LEFT JOIN contam c ON c.doc_id = b.doc_id
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_tok) AS BIGINT) AS t0,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN first_removed = {k} THEN 1 "
                       f"ELSE 0 END) AS BIGINT) AS r{k}, "
                       f"CAST(SUM(CASE WHEN first_removed = {k} THEN n_tok "
                       f"ELSE 0 END) AS BIGINT) AS t{k}"
                       for k, _ in _FUNNEL_STAGES
                   )}
            FROM staged
        )
        {union}
    """


@register(
    "text_curation_funnel",
    oracle=_funnel_oracle(),
    tags=("text", "pipeline", "funnel", "curation", "documents"),
    bench_ext=True,
)
def text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_funnel_report(
        load_table(spark, sf_dir, "documents", rebalance=True)
    )


def curation_funnel_report(docs: DataFrame) -> DataFrame:
    """Funnel report from a (doc_id, text, lang, ...) documents frame —
    shared verbatim by the batch query and its streaming twin (per-doc
    rows replay-dedupe in keyed agg state drained in complete mode; this
    assembles post-stream)."""
    from kafka_stream_job_spark.operators.dedup import _norm_text
    from kafka_stream_job_spark.operators.text import LANG_MARKERS

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_uniq = F.size(
        F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    )
    counts = {
        code: F.regexp_count(F.lower(F.col("text")), F.lit(pat))
        for code, pat in LANG_MARKERS.items()
    }
    base = docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        F.when(
            n_tok.between(20, 1000) & (n_uniq * F.lit(1.0) / n_tok > 0.3),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("q_loser"),
        (F.greatest(*counts.values()) == 0).cast("int").alias("l_loser"),
        F.md5(_norm_text()).alias("fp"),
        md5_int("doc_id", "quota:").alias("qh"),
        (md5_int("doc_id", "split:") % 100 < EVAL_PCT).cast("int").alias("is_eval"),
    ).localCheckpoint(eager=False)  # flags feed 3 downstream joins
    dup = base.select(
        "doc_id",
        (
            F.col("doc_id")
            > F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .cast("int")
        .alias("dup_loser"),
    )
    w_rank = Window.partitionBy("lang").orderBy("qh", "doc_id")
    w_lang = Window.partitionBy("lang")
    winners = (
        base.join(dup, "doc_id")
        .filter(F.col("dup_loser") == 0)
        .select(
            "doc_id",
            F.row_number().over(w_rank).alias("rk"),
            F.count(F.lit(1)).over(w_lang).alias("n_lang"),
        )
    )
    sh = _shingles(docs)
    eval_sh = (
        sh.join(
            F.broadcast(base.filter(F.col("is_eval") == 1).select("doc_id")),
            "doc_id",
        )
        .select("shingle")
        .distinct()
    )
    contam = (
        sh.join(F.broadcast(eval_sh), "shingle").select("doc_id").distinct()
    )
    staged = (
        base.join(dup, "doc_id")
        .join(winners, "doc_id", "left")
        .join(contam.withColumn("contaminated", F.lit(1)), "doc_id", "left")
        .select(
            "n_tok",
            F.when(F.col("q_loser") == 1, 1)
            .when(F.col("l_loser") == 1, 2)
            .when(
                (F.col("dup_loser") == 1)
                | (
                    F.col("rk")
                    > idiv(F.col("n_lang") * FUNNEL_KEEP_PCT, 100)
                ),
                3,
            )
            .when(
                (F.col("is_eval") == 1) | F.col("contaminated").isNotNull(),
                4,
            )
            .when(F.col("n_tok") > PACK_BUDGET, 5)
            .otherwise(0)
            .alias("first_removed"),
        )
    )
    c = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_tok").cast("long").alias("t0"),
        *[
            agg
            for k, _ in _FUNNEL_STAGES
            for agg in (
                F.sum(F.when(F.col("first_removed") == k, 1).otherwise(0))
                .cast("long")
                .alias(f"r{k}"),
                F.sum(
                    F.when(F.col("first_removed") == k, F.col("n_tok"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"t{k}"),
            )
        ],
    )
    rows = []
    n_in = F.col("n")
    tokens_out = F.col("t0")
    for k, label in _FUNNEL_STAGES:
        removed = F.col(f"r{k}")
        tokens_out = tokens_out - F.col(f"t{k}")
        rows.append(
            F.struct(
                F.lit(k).cast("long").alias("stage_idx"),
                F.lit(label).alias("stage"),
                n_in.cast("long").alias("n_in"),
                removed.cast("long").alias("n_removed"),
                (n_in - removed).cast("long").alias("n_out"),
                tokens_out.cast("long").alias("tokens_out"),
            )
        )
        n_in = n_in - removed
    return c.select(F.explode(F.array(*rows)).alias("row")).select("row.*")
