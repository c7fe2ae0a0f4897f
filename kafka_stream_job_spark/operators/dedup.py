"""Deduplication operators over the ``documents`` table — a core
training-data-pipeline capability (north star; SURVEY.md §7.3 step 5).

Four families, all shuffle-disciplined for 100 TB:

- **Exact dedup** — fingerprint = md5(normalized text); one hash-groupBy.
  At scale this is a single shuffle on an (effectively) unique key; the
  canonical-representative choice (min doc_id) is an agg, not a sort.
- **MinHash + LSH near-dup** — shingle → k min-hashes → b bands → equi-join
  on band signature. NO cross join anywhere: candidate pairs only arise
  inside an LSH bucket, which is the whole point of banding. The min-hash
  itself uses lexicographic min over md5(seed‖shingle) hex strings — a
  uniform hash ordering both Spark and DuckDB compute identically, so the
  operator is fully oracle-checkable (rare for MinHash pipelines).
- **SimHash** — 64-bit-ish bit-vote fingerprint from shingle hashes;
  near-dup candidates = equal fingerprint prefix bands.
- **N-gram Jaccard** — exact pairwise Jaccard, but only over LSH candidate
  pairs (never all pairs), as the verify stage of the near-dup pipeline.

Scale notes: shingling multiplies rows by ~tokens/doc — that explode happens
AFTER projecting (doc_id, text) only (column pruning), and the groupBy that
collapses back to one row per doc is a partial-agg-friendly min. Band join
keys are (band_idx, band_sig) — high cardinality, naturally skew-resistant;
pathological repeated-text skew is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_job_spark.operators._portable import md5_int, md5_int_sql, pround
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import load_table

# MinHash parameters: k = NUM_HASHES total signatures folded into
# NUM_BANDS bands of ROWS_PER_BAND each (k = b*r). Jaccard threshold ≈
# (1/b)^(1/r) ≈ 0.55 with b=8, r=2.
NUM_BANDS = 8
ROWS_PER_BAND = 2
NUM_HASHES = NUM_BANDS * ROWS_PER_BAND
SHINGLE_K = 3  # word-level 3-shingles

# Universal-hash family for the MinHash permutations: each shingle is
# md5-hashed ONCE to a 28-bit integer h (7 hex digits), then permutation
# s is the pure-integer map (A[s]*h + B[s]) mod P — classic (a*x+b) mod p
# MinHash. This is 16× less hashing than md5-per-seed, and the per-seed
# work is codegen-friendly integer arithmetic. Constants are fixed,
# deterministic, and reproduced literally in the DuckDB oracle SQL.
MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 - 1
MINHASH_A = [pow(1_000_003, s + 1, MINHASH_P) for s in range(NUM_HASHES)]
MINHASH_B = [pow(999_983, s + 1, MINHASH_P) for s in range(NUM_HASHES)]


# SimHash parameters: fingerprint width matches the 28-bit shingle hash;
# 4 bands × 7 bits — pigeonhole guarantees any pair with Hamming distance
# ≤ 3 shares at least one identical band, so the band join is EXACT for
# the ≤3 threshold (no recall loss), while never comparing all pairs.
SIMHASH_BITS = 28
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 7
SIMHASH_HAMMING_MAX = 3


def _norm_text(col: str = "text"):
    """Whitespace-collapse + lowercase; the normalization both engines
    apply before fingerprinting."""
    return F.lower(F.trim(F.regexp_replace(F.col(col), r"\s+", " ")))


_NORM_SQL = "LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))"


def seen_before(key: str):
    """1 when a smaller ``doc_id`` holds the same ``key`` value, else 0
    (long): the first-occurrence test as one keyed window, no aggregate
    joined back to the rows it came from."""
    first = F.min("doc_id").over(Window.partitionBy(key))
    return (first < F.col("doc_id")).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup: md5-of-normalized-text fingerprint, keep min doc_id.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
        SELECT
            md5({_NORM_SQL})  AS fingerprint,
            COUNT(*)          AS n_docs,
            MIN(doc_id)       AS keep_doc_id
        FROM documents
        GROUP BY 1
        HAVING COUNT(*) > 1
    """,
    tags=("dedup", "documents"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(_norm_text()).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _shingle_array():
    """Per-row array of word-level K-shingles (JVM-side, no explode)."""
    toks = F.split(_norm_text(), " ")
    n = F.size(toks)
    # positions 0..n-K; each yields the K-token shingle joined by space.
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE_K, F.lit(0)))
    shingle_at = lambda i: F.array_join(F.slice(toks, i + 1, SHINGLE_K), " ")  # noqa: E731
    return F.transform(idx, shingle_at)


def _hashed_shingle_expr():
    """Test reference twin, unused by the ops: the JVM array of 28-bit
    integer shingle hashes per row (shingling and ``md5_int`` fused in one
    ``transform``). The tests pin the Arrow bodies' hashlib loops against
    it bit for bit."""
    toks = F.split(_norm_text(), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE_K, F.lit(0)))
    return F.transform(
        idx,
        lambda i: md5_int(F.array_join(F.slice(toks, i + 1, SHINGLE_K), " ")),
    )


def _py_norm_shingles(text: str, ws) -> list:
    """Python twin of ``transform(sequence(...), i -> array_join(slice(
    toks, i+1, K), ' '))`` over the normalized text — ALL positions
    (multiset), order preserved. ``ws`` is the compiled Java-\\s class;
    ``strip(" ")`` mirrors SQL TRIM (plain spaces only — the
    _anchored_gram_batches discipline). Shared by every Arrow shingle
    body so the normalization can never fork."""
    norm = ws.sub(" ", text).strip(" ").lower()
    toks = norm.split(" ")
    m = len(toks) - SHINGLE_K
    if m < 0:
        m = 0
    return [" ".join(toks[i : i + SHINGLE_K]) for i in range(m + 1)]


def _minhash_sig_batches(it):
    """mapInArrow body: (doc_id, text) → (doc_id, h0..h{k-1}) — the FULL
    per-document MinHash signature computed in one Python pass.

    Replaces the former JVM pipeline (interpreted ``transform`` HOF
    building each shingle via slice+array_join, explode, 16 codegen
    min-aggregates): the HOF evaluated interpreted per element and r13
    measured ~22 s of executor CPU at sf0.1 for ~260k shingles (~85 µs
    each) vs 0.5 s single-thread for this body (guide §4.2 — hand whole
    batches to native/vectorized code). Emitting finished signatures
    also deletes the explode AND the groupBy(doc_id) exchange outright:
    a document's shingles never leave the task that scanned it (§2.4).

    Arithmetic is the JVM expression's twin, term for term: md5 over
    UTF-8 bytes, leading 7 hex digits as a 28-bit int, seed s's hash =
    min over shingles of (A[s]·h + B[s]) % P in exact int64 (A < 2³¹,
    h < 2²⁸ → products < 2⁵⁹, no overflow). Min over the position
    multiset == min over the shingle set, so no distinct — same
    argument the aggregate form relied on. Pinned bit-for-bit against
    the JVM expression pipeline by
    test_minhash_arrow_sigs_match_jvm (incl. Unicode-whitespace edges).
    """
    import hashlib
    import re

    import numpy as np
    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    md5 = hashlib.md5
    A = np.array(MINHASH_A, dtype=np.int64)[:, None]
    B = np.array(MINHASH_B, dtype=np.int64)[:, None]
    for batch in it:
        ids, texts = [], []
        for doc_id, text in zip(
            batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
        ):
            if text is None:  # no shingles: the oracle's UNNEST emits no row
                continue
            ids.append(doc_id)
            texts.append(text)
        sigs = np.empty((len(ids), NUM_HASHES), dtype=np.int64)
        for r, text in enumerate(texts):
            grams = _py_norm_shingles(text, ws)
            h = np.fromiter(
                (
                    int(md5(g.encode("utf-8")).hexdigest()[:7], 16)
                    for g in grams
                ),
                dtype=np.int64,
                count=len(grams),
            )
            sigs[r] = ((A * h + B) % MINHASH_P).min(axis=1)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64())]
            + [pa.array(sigs[:, s]) for s in range(NUM_HASHES)],
            ["doc_id"] + [f"h{s}" for s in range(NUM_HASHES)],
        )


def _shingle_rows_batches(it):
    """mapInArrow body: (doc_id, text) → per-document DISTINCT
    (doc_id, shingle) rows — the Arrow twin of
    explode(array_distinct(shingles)). Same normalization/shingling as
    _minhash_sig_batches via _py_norm_shingles; the per-doc ``seen``
    set IS array_distinct (first occurrence kept; row order inside a
    doc is irrelevant to every consumer — all are joins/aggregates).
    Output is globally unique by construction (one input row per doc),
    so callers need NO post-explode distinct exchange."""
    import re

    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for batch in it:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        o_id, o_sh = [], []
        for did, text in zip(ids, texts):
            if text is None:  # explode(NULL) dropped the row; mirror it
                continue
            seen = set()
            for g in _py_norm_shingles(text, ws):
                if g not in seen:
                    seen.add(g)
                    o_id.append(did)
                    o_sh.append(g)
        yield pa.RecordBatch.from_arrays(
            [pa.array(o_id, pa.int64()), pa.array(o_sh, pa.string())],
            ["doc_id", "shingle"],
        )


def _source_hash_rows_batches(it):
    """mapInArrow body: (source, text) → per-DOCUMENT distinct
    (source, h) rows — the Arrow twin of
    explode(array_distinct(hashed shingles)) keyed by source. Callers
    still apply their own cross-document distinct."""
    import hashlib
    import re

    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    md5 = hashlib.md5
    for batch in it:
        srcs = batch.column("source").to_pylist()
        texts = batch.column("text").to_pylist()
        o_src, o_h = [], []
        for src, text in zip(srcs, texts):
            if text is None:  # explode(NULL) dropped the row; mirror it
                continue
            hs = {
                int(md5(g.encode("utf-8")).hexdigest()[:7], 16)
                for g in _py_norm_shingles(text, ws)
            }
            o_src.extend([src] * len(hs))
            o_h.extend(hs)
        yield pa.RecordBatch.from_arrays(
            [pa.array(o_src, pa.string()), pa.array(o_h, pa.int64())],
            ["source", "h"],
        )


def _simhash_fp_batches(it):
    """mapInArrow body: (doc_id, text) → (doc_id, fp) — the 28-bit
    SimHash fingerprint per document, computed whole (guide §4.2).

    Twin of the former JVM pipeline, term for term: per-doc DISTINCT
    28-bit shingle hashes (dedup of HASHED values — 28-bit collisions
    are vote-weight-relevant, exactly array_distinct's semantics), bit
    j's vote = Σ over distinct hashes of (+1 if bit set else −1), fp
    bit j set iff vote ≥ 0. Integer-exact throughout; pinned against
    the JVM expression by test_simhash_arrow_fp_match_jvm."""
    import hashlib
    import re

    import numpy as np
    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    md5 = hashlib.md5
    bits = np.arange(SIMHASH_BITS, dtype=np.int64)
    for batch in it:
        ids, texts = [], []
        for doc_id, text in zip(
            batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
        ):
            if text is None:  # no shingles: the oracle's UNNEST emits no row
                continue
            ids.append(doc_id)
            texts.append(text)
        fps = np.empty(len(ids), dtype=np.int64)
        for r, text in enumerate(texts):
            hs = {
                int(md5(g.encode("utf-8")).hexdigest()[:7], 16)
                for g in _py_norm_shingles(text, ws)
            }
            h = np.fromiter(hs, dtype=np.int64, count=len(hs))
            # vote_j = Σ ±1 = 2·(count of set bits) − n; fp bit j iff ≥ 0
            set_counts = ((h[:, None] >> bits[None, :]) & 1).sum(axis=0)
            votes = 2 * set_counts - len(hs)
            fps[r] = int(((votes >= 0).astype(np.int64) << bits).sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(fps)], ["doc_id", "fp"]
        )


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word-level K-shingles per document.

    Arrow-batched since r13 (was: interpreted transform HOF + explode +
    a global distinct exchange — the HOF cost ~85 µs/shingle of
    executor CPU and the distinct re-shuffled every shingle row for a
    set that is already unique per construction; guide §4.2 and §2.4).
    The Jaccard verify stage and the funnel/decontamination joins
    consume the same rows as before, bit for bit
    (test_shingle_rows_arrow_match_jvm).

    Precondition: ``df`` holds ONE row per ``doc_id``. The Arrow body
    dedups shingles within a row only, so since the global ``.distinct()``
    was dropped the output is unique per (doc_id, shingle) only because
    the input is unique per doc_id (true of ``documents``, whose key is
    doc_id, and of every caller's filtered/projected view of it).
    """
    return df.select("doc_id", "text").mapInArrow(
        _shingle_rows_batches, "doc_id long, shingle string"
    )


# DuckDB equivalent of _shingles as a CTE body (word 3-shingles, distinct).
_SHINGLES_SQL = f"""
    SELECT DISTINCT
        doc_id,
        array_to_string(toks[i + 1 : i + {SHINGLE_K}], ' ') AS shingle
    FROM (
        SELECT doc_id, toks,
               UNNEST(range(0, greatest(len(toks) - {SHINGLE_K}, 0) + 1)) AS i
        FROM (
            SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
            FROM documents
        )
    )
"""

_SIGS_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"MIN(({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_P}) AS h{s}"
        for s in range(NUM_HASHES)
    )
    + f" FROM (SELECT doc_id, {md5_int_sql('shingle')} AS h"
    "   FROM shingles) GROUP BY doc_id"
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"md5(concat_ws('|', {', '.join(f'CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)' for r in range(ROWS_PER_BAND))}))"
    f" AS band_sig FROM sigs"
    for b in range(NUM_BANDS)
)


_SIG_SCHEMA = "doc_id long, " + ", ".join(f"h{s} long" for s in range(NUM_HASHES))


def signature_stage(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{k-1}) for the non-NULL-text rows of any documents
    frame, batch or stream: ONE ``mapInArrow`` stage
    (_minhash_sig_batches), stateless, so a stream keeps its semantics.
    Every MinHash signature in the package is built here."""
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .mapInArrow(_minhash_sig_batches, _SIG_SCHEMA)
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{k-1}) — per-doc MinHash signature (bigint columns).

    Scale design (r13 — see _minhash_sig_batches for the full argument):
    one Arrow stage computes finished signatures per document, so a
    document's shingles never exist outside the task that scanned it —
    zero exchanges in the signature pass itself (the under-split
    rebalance self-disables at 100 TB scan widths). History: r12 ran
    shingling as a JVM transform HOF + explode + 16 codegen
    min-aggregates; the HOF is interpreted per element and profiled as
    ~22 s of executor CPU at sf0.1 (~85 µs/shingle) vs 0.5 s
    single-thread for the Python/numpy body — guide §4.2's "do the
    heavy lifting in native code inside the batch" beats per-element
    interpreted JVM eval by far more than the Arrow crossing costs.
    The rebalance is round-robin (no key): there is no exchange left to
    share, and round-robin balances the Python CPU best.
    """
    return signature_stage(load_table(spark, sf_dir, "documents", rebalance=True))


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup candidate pairs: band the signature, equi-join on
# (band_idx, band_sig). Output canonical (a < b) pairs.
# ---------------------------------------------------------------------------
def _band_sig_cols():
    # F.expr parse per band (vs per-column py4j construction); identical
    # expression, verified row-for-row at both SFs before the swap
    return [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(
                f"CAST(h{b * ROWS_PER_BAND + r} AS STRING)"
                for r in range(ROWS_PER_BAND)
            )
            + "))"
        ).alias(f"band{b}")
        for b in range(NUM_BANDS)
    ]


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx INT, band_sig) — the NUM_BANDS band rows of each
    signature row, the Spark twin of ``_BANDS_SQL``. Stateless, so it
    bands a stream too; outputs that report band_idx cast it to BIGINT."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(NUM_BANDS)]),
                F.array(*_band_sig_cols()),
            )
        ).alias("band_idx", "band_sig"),
    )


def candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, sharing at least one band
    of ``sigs`` — the band self-join of ``_PAIRS_SQL``.

    Scale design: the self-join is pinned to a sort-merge join (``merge``
    hint). At 100 TB both sides are the full banded corpus, so a
    broadcast is impossible and a shuffled-hash build risks OOM on hot
    buckets — SMJ spills. Pinning the strategy has a second payoff: both
    join children are canonically identical plans shuffled on the same
    (band_idx, band_sig) keys, so Spark's ReusedExchange kicks in and the
    signature pipeline (scan → shingle → md5 → minhash → band) runs ONCE,
    not once per side (AQE's broadcast conversion would break the reuse
    and double the scan).
    """
    banded = minhash_bands(sigs)
    return (
        banded.alias("a")
        .hint("merge")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx
         AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "lsh", "documents"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs via band self-join (see candidate_pairs)."""
    return candidate_pairs(minhash_signatures(spark, sf_dir))


def shingle_overlap(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for the (doc_a, doc_b) rows of
    ``pairs``: distinct shingles the two documents share, and each one's
    distinct-shingle count, from the ``_shingles`` rows ``sh``. An inner
    join, like every oracle's ``inter`` CTE: a pair sharing no shingle
    has no row. ``sh`` is read three times (counts and both join sides);
    a caller that wants it computed once pins it first."""
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(
        F.col("doc_id").alias("_sb_doc"), F.col("shingle").alias("_sb_shingle")
    )
    inter = (
        pairs.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("_sb_doc"))
            & (F.col("shingle") == F.col("_sb_shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def _exact_jaccard():
    """|A∩B| / |A∪B| over shingle_overlap's columns (as a double)."""
    return F.col("n_common") * F.lit(1.0) / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard verify stage: exact Jaccard similarity computed ONLY over
# the LSH candidate pairs (never all pairs — that is the 100 TB discipline:
# the O(n²) verify collapses to O(candidates)). Shuffles: the candidate
# join keys are doc ids; shingle sets join per pair via two hash joins.
# ---------------------------------------------------------------------------
_PAIRS_SQL = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b
      ON a.band_idx = b.band_idx
     AND a.band_sig = b.band_sig
     AND a.doc_id < b.doc_id
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN shingles sa ON sa.doc_id = p.doc_a
            JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT
            doc_a,
            doc_b,
            ROUND((n_common * 1.0 / (ca.n + cb.n - n_common)) * 10000.0) / 10000.0 AS jaccard
        FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE ROUND((n_common * 1.0 / (ca.n + cb.n - n_common)) * 10000.0) / 10000.0 >= 0.2
    """,
    tags=("dedup", "jaccard", "documents"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # key="doc_id": the shingle distinct + per-doc counts ride the
    # under-split rebalance exchange locally (no-op at 100 TB scan widths)
    docs = load_table(spark, sf_dir, "documents", rebalance=True, key="doc_id")
    overlap = shingle_overlap(dedup_minhash_lsh(spark, sf_dir), _shingles(docs))
    return (
        overlap.select("doc_a", "doc_b", pround(_exact_jaccard(), 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


# ---------------------------------------------------------------------------
# SimHash near-dup: bit-vote fingerprint over the hashed shingle SET, then
# banded Hamming-distance candidate pairs. Unlike MinHash's min (multiset-
# invariant), bit votes are multiplicity-sensitive, so BOTH engines dedup
# (doc_id, h) before voting.
# ---------------------------------------------------------------------------
_HASHED_SET_SQL = (
    f"SELECT DISTINCT doc_id, {md5_int_sql('shingle')} AS h FROM shingles"
)

_VOTES_SQL = (
    "SELECT doc_id, "
    + ", ".join(
        f"SUM(CASE WHEN (h >> {j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    + " FROM hashed GROUP BY doc_id"
)

_FP_SQL = (
    "SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    + " AS BIGINT) AS fp FROM votes"
)

_SIMBANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, fp, {b} AS band_idx,"
    f" (fp >> {b * SIMHASH_BAND_BITS}) % {1 << SIMHASH_BAND_BITS} AS band_val FROM fps"
    for b in range(SIMHASH_BANDS)
)


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) — 28-bit SimHash fingerprint per document.

    Same single-pass shape as minhash_signatures: explode the distinct
    hashed shingles to rows, then 28 codegen'd conditional-sum aggregates
    (bit votes) with map-side partial aggregation — the shuffle carries
    one 28-int row per doc. The fingerprint assembles sign bits in a
    cheap post-agg projection (cardinality = documents).

    r13: one Arrow stage (_simhash_fp_batches) computes the finished
    fingerprint per document — the per-doc dedup of HASHED values that
    forced the md5 to stay inside the interpreted ``transform`` HOF
    (r12's refusal) is a set() in Python, the 28 bit votes are numpy
    popcount arithmetic, and the explode + vote exchange are gone
    entirely (same argument as minhash_signatures; guide §4.2/§2.4).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .mapInArrow(_simhash_fp_batches, "doc_id long, fp long")
    )


@register(
    "dedup_simhash",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        hashed AS ({_HASHED_SET_SQL}),
        votes AS ({_VOTES_SQL}),
        fps AS ({_FP_SQL}),
        bands AS ({_SIMBANDS_SQL})
        SELECT DISTINCT
            a.doc_id AS doc_a,
            b.doc_id AS doc_b,
            CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx
         AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_HAMMING_MAX}
    """,
    tags=("dedup", "simhash", "documents"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ 3.

    Banding 28 bits into 4×7 makes the equi-join EXACT for the ≤3
    threshold (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands
    untouched), so this never scans all pairs yet loses no recall.
    Same sort-merge self-join discipline as dedup_minhash_lsh.
    """
    fps = simhash_fingerprints(spark, sf_dir)
    banded = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)]),
                F.array(
                    *[
                        F.shiftright(F.col("fp"), b * SIMHASH_BAND_BITS)
                        % (1 << SIMHASH_BAND_BITS)
                        for b in range(SIMHASH_BANDS)
                    ]
                ),
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"), "band_idx", "band_val"
    ).hint("merge")
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Survivor selection — the decision stage of the dedup pipeline: a document
# survives unless it appears as the GREATER side of a near-dup pair (keep
# the min doc_id of each pair; one-hop approximation of connected
# components — exact for the pair relation itself, and the standard
# greedy policy in web-scale dedup where full CC needs iteration).
# Anti-join formulation: no pair materialization beyond the LSH stage.
# ---------------------------------------------------------------------------
@register(
    "dedup_survivors",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL})
        SELECT d.doc_id, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs)
    """,
    tags=("dedup", "documents", "anti-join"),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    losers = dedup_minhash_lsh(spark, sf_dir).select("doc_b")
    return docs.join(
        losers, docs.doc_id == losers.doc_b, "left_anti"
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup on DOCUMENTS: semantic near-duplicates among
# documents that carry an embedding (doc_id ⋈ embeddings.vec_id), via the
# same sign-LSH bucket join as similarity_lsh_neardup — content dedup by
# meaning rather than surface n-grams, the complement of MinHash/SimHash.
# ---------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    oracle=None,  # assembled below (needs similarity SQL helpers)
    tags=("dedup", "embeddings", "documents", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators.similarity import (
        _dot,
        _norm,
        lsh_buckets,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    buckets = lsh_buckets(spark, sf_dir).join(
        docs, F.col("vec_id") == F.col("doc_id"), "left_semi"
    )
    a = buckets.select(
        F.col("vec_id").alias("doc_a"), F.col("embedding").alias("emb_a"), "bucket"
    )
    b = buckets.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("emb_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cos_raw = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", cos_raw.alias("cos_raw"))
        .filter(F.col("cos_raw") > 0.25)
        .select("doc_a", "doc_b", pround("cos_raw", 4).alias("cosine"))
    )


def _install_embedding_cosine_oracle() -> None:
    """The oracle needs similarity.py's SQL builders; installed after both
    modules exist to keep imports acyclic."""
    from kafka_stream_job_spark.operators.similarity import (
        _DOT_SQL,
        _NORM_SQL,
        _bucket_sql,
    )
    from kafka_stream_job_spark.registry import REGISTRY

    spec = REGISTRY["dedup_embedding_cosine"]
    oracle = f"""
        WITH buckets AS (
            SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
            FROM embeddings
            WHERE vec_id IN (SELECT doc_id FROM documents)
        ),
        pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / ({_NORM_SQL.format(a='a.embedding')} * {_NORM_SQL.format(a='b.embedding')})
                   AS cos_raw
            FROM buckets a
            JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT doc_a, doc_b, ROUND((cos_raw) * 10000.0) / 10000.0 AS cosine
        FROM pairs WHERE cos_raw > 0.25
    """
    REGISTRY["dedup_embedding_cosine"] = type(spec)(
        name=spec.name, fn=spec.fn, oracle=oracle, tags=spec.tags,
        bench=spec.bench, bench_ext=spec.bench_ext,
    )


_install_embedding_cosine_oracle()


# ---------------------------------------------------------------------------
# Connected components over the near-dup graph — the exact grouping that
# dedup_survivors' one-hop policy approximates. Iterative min-label
# propagation (Pregel-style): each round every vertex takes the min label
# among itself and its neighbors; converges in O(component diameter)
# rounds (near-dup clusters are short-diameter). This is the engine's
# iterative-algorithm surface: a driver loop over DataFrame ops with
# per-round ``localCheckpoint`` to truncate lineage (without it the plan
# tree grows exponentially and planning time dominates), and a scalar
# convergence check — no row data ever reaches the driver. The oracle is
# DuckDB's recursive CTE computing min-reachable-id per vertex.
# ---------------------------------------------------------------------------
CC_MAX_ITERS = 20


@register(
    "dedup_connected_components",
    oracle=f"""
        WITH RECURSIVE
        shingles AS ({_SHINGLES_SQL}),
        -- MATERIALIZED: DuckDB inlines plain CTEs; the recursive reach
        -- expansion references edges every iteration, which would
        -- otherwise re-run the whole shingle->minhash->band pipeline
        sigs AS MATERIALIZED ({_SIGS_SQL}),
        bands AS MATERIALIZED ({_BANDS_SQL}),
        pairs AS MATERIALIZED ({_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM verts
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        )
        SELECT src AS doc_id, MIN(dst) AS component
        FROM reach GROUP BY src
    """,
    tags=("dedup", "graph", "iterative", "documents"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint(eager=False)
    )
    changed = -1
    for _ in range(CC_MAX_ITERS):
        msgs = (
            edges.join(labels, edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "component")
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "doc_id")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds "
            f"({changed} labels still changing) — refusing to emit a partial "
            "propagation that silently diverges from the transitive closure"
        )
    return labels


# ---------------------------------------------------------------------------
# Chunk-level boilerplate dedup (CCNet/RefinedWeb-style paragraph dedup,
# adapted to newline-free corpora): split every document into consecutive
# CHUNK_TOKENS-token chunks, call a chunk "boilerplate" when it appears
# verbatim in >= CHUNK_BOILER_DOCS distinct documents, and report per-doc
# how much of the text survives boilerplate removal.
#
# Scale shape (100 TB): one explode over chunks, one shuffle on the chunk
# string for the cross-doc frequency count, one shuffle back on the chunk
# for the mark join, one partial-agg rollup on doc_id. The boilerplate set
# is NEVER collected or broadcast — it grows with corpus size, so the mark
# join stays a shuffle join on the chunk key (skew-safe: a chunk that is
# boilerplate everywhere is exactly what AQE skew split handles).
# The reference has no text operators at all; this extends the north-star
# LLM-pipeline surface (SURVEY.md §2.7).
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 10
CHUNK_BOILER_DOCS = 3


@register(
    "text_chunk_dedup",
    oracle=rf"""
        WITH d AS (
            SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
            FROM documents
        ),
        ch AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(0, (len(toks) - 1) // {CHUNK_TOKENS}),
                       i -> array_to_string(
                           list_slice(toks, i * {CHUNK_TOKENS} + 1,
                                      i * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' ')
                   )) AS chunk
            FROM d
        ),
        boiler AS (
            SELECT chunk FROM ch
            GROUP BY chunk
            HAVING COUNT(DISTINCT doc_id) >= {CHUNK_BOILER_DOCS}
        )
        SELECT ch.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler_chunks,
               CAST(SUM(CASE WHEN b.chunk IS NULL
                             THEN len(string_split(ch.chunk, ' '))
                             ELSE 0 END) AS BIGINT) AS n_kept_tokens
        FROM ch LEFT JOIN boiler b USING (chunk)
        GROUP BY ch.doc_id
    """,
    tags=("dedup", "text", "documents"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    chunked = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(toks) - F.lit(1)) / F.lit(CHUNK_TOKENS)).cast(
                        "int"
                    ),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)
                ),
            )
        ).alias("chunk"),
    )
    boiler = (
        chunked.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= CHUNK_BOILER_DOCS)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    marked = chunked.join(boiler, "chunk", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias("n_boiler_chunks"),
        F.sum(
            F.when(F.col("is_boiler").isNull(), F.size(F.split(F.col("chunk"), " ")))
            .otherwise(0)
        ).alias("n_kept_tokens"),
    )


# ---------------------------------------------------------------------------
# Edit-distance verify stage: exact Levenshtein distance computed ONLY over
# the LSH candidate pairs — the character-level sibling of the n-gram
# Jaccard verify (same 100 TB discipline: O(candidates), never O(n²); each
# pair costs O(len_a·len_b) DP, which is the exact-verify floor — at scale
# a banded/bounded-distance DP cuts it further, at the cost of the exact
# distance for far pairs). Both engines implement unit-cost Levenshtein,
# so the distance is integer-exact and portable.
# ---------------------------------------------------------------------------
@register(
    "dedup_edit_distance",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL})
        SELECT p.doc_a,
               p.doc_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
               ROUND((1.0 - levenshtein(da.text, db.text) * 1.0
                      / GREATEST(LENGTH(da.text), LENGTH(db.text))) * 10000.0)
                   / 10000.0 AS edit_sim
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
    """,
    tags=("dedup", "levenshtein", "documents"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    lev = F.levenshtein(F.col("_ta"), F.col("_tb"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            pround(
                F.lit(1.0)
                - lev * F.lit(1.0)
                / F.greatest(F.length("_ta"), F.length("_tb")),
                4,
            ).alias("edit_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication: cross-document repeated word N-grams — the
# span-level primitive behind exact-substring dedup (find the literal
# phrases that recur across distinct documents, e.g. licenses, headers,
# boilerplate sentences). Complements MinHash (whole-doc near-dup) and
# chunk dedup (fixed blocks): spans slide one token at a time, so any
# duplicated run of >= SPAN_N tokens is caught regardless of alignment.
#
# Scale shape (100 TB): one projection-then-explode (rows x ~tokens/doc,
# same multiplier as shingling), then ONE hash-shuffle on the span with
# partial aggregation — the map-side combine collapses within-partition
# repeats before the exchange. At scale you'd group on a 64-bit span hash
# instead of the span text to cut shuffle width (the text shown here keeps
# the output human-auditable and the oracle portable); heavy-hitter spans
# (a license repeated in 1% of docs) are exactly what partial agg absorbs.
# Top-k is a TakeOrdered over the (small) >= MIN_DOCS survivor set, never
# a global sort of all spans.
# ---------------------------------------------------------------------------
SPAN_N = 8  # tokens per span
SPAN_MIN_DOCS = 2  # cross-document threshold
SPAN_TOP_K = 50


@register(
    "repeated_ngram_spans",
    oracle=f"""
        WITH occ AS (
            SELECT doc_id,
                   array_to_string(toks[i + 1 : i + {SPAN_N}], ' ') AS span
            FROM (
                SELECT doc_id, toks,
                       UNNEST(range(0, len(toks) - {SPAN_N} + 1)) AS i
                FROM (
                    SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
                    FROM documents
                )
                WHERE len(toks) >= {SPAN_N}
            )
        )
        SELECT span, n_docs, n_occ
        FROM (
            SELECT span,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT)               AS n_occ
            FROM occ
            GROUP BY span
        )
        WHERE n_docs >= {SPAN_MIN_DOCS}
        ORDER BY n_occ DESC, n_docs DESC, span ASC
        LIMIT {SPAN_TOP_K}
    """,
    tags=("dedup", "documents", "ngram", "substring"),
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-document repeated SPAN_N-token spans.

    Reference parity: none (SURVEY.md §2.7 — the reference has no text
    operators); north-star training-pipeline extension (exact-substring
    dedup primitive).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = F.split(_norm_text(), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - SPAN_N)  # only rows with n >= SPAN_N
    span_at = lambda i: F.array_join(F.slice(toks, i + 1, SPAN_N), " ")  # noqa: E731
    occ = (
        docs.select("doc_id", "text")
        .filter(n >= SPAN_N)
        .select("doc_id", F.explode(F.transform(idx, span_at)).alias("span"))
    )
    return (
        occ.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= SPAN_MIN_DOCS)
        .orderBy(F.col("n_occ").desc(), F.col("n_docs").desc(), F.col("span").asc())
        .limit(SPAN_TOP_K)
    )


# ---------------------------------------------------------------------------
# MinHash calibration — signature-agreement Jaccard ESTIMATE vs the exact
# shingle-set Jaccard, per LSH candidate pair: the sketch-accuracy twin of
# similarity.ivf_recall_report. E[agree/k] = true Jaccard, so this report
# is how a production dedup pipeline validates its k (NUM_HASHES) and band
# geometry against real data before trusting the estimate at 100 TB.
#
# Scale shape: signatures and exact intersections are the SAME
# computations the LSH pipeline already runs (ReusedExchange collapses
# the shared subplans); the calibration join touches only candidate
# pairs — never all pairs.
# ---------------------------------------------------------------------------
_agree_sql = " + ".join(
    f"(CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END)" for s in range(NUM_HASHES)
)
_exact_raw_sql = "n_common * 1.0 / (ca.n + cb.n - n_common)"


def _paired_sigs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b) with doc_a's signature as a0..a{k-1} and
    doc_b's as b0..b{k-1}."""
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(NUM_HASHES)],
    )
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _n_agree(parity: bool = False):
    """BIGINT count of seeds s where a{s} equals b{s} (in parity only,
    the b = 1 bit, when ``parity``) over _paired_sigs' columns."""
    def v(c):
        return c % 2 if parity else c

    return sum(
        F.when(v(F.col(f"a{s}")) == v(F.col(f"b{s}")), 1).otherwise(0)
        for s in range(NUM_HASHES)
    ).cast("long")


@register(
    "minhash_jaccard_calibration",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN shingles sa ON sa.doc_id = p.doc_a
            JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY p.doc_a, p.doc_b
        ),
        agree AS (
            SELECT p.doc_a, p.doc_b, CAST({_agree_sql} AS BIGINT) AS n_equal
            FROM pairs p
            JOIN sigs sa ON sa.doc_id = p.doc_a
            JOIN sigs sb ON sb.doc_id = p.doc_b
        )
        SELECT a.doc_a, a.doc_b, a.n_equal,
               a.n_equal / {NUM_HASHES}.0 AS est_jaccard,
               ROUND(({_exact_raw_sql}) * 10000.0) / 10000.0 + 0.0 AS exact_jaccard,
               ROUND(ABS(a.n_equal / {NUM_HASHES}.0 - ({_exact_raw_sql}))
                     * 10000.0) / 10000.0 + 0.0 AS abs_err
        FROM agree a
        JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
        JOIN counts ca ON ca.doc_id = a.doc_a
        JOIN counts cb ON cb.doc_id = a.doc_b
    """,
    tags=("dedup", "lsh", "calibration", "documents"),
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs exact Jaccard with |error|.

    Reference parity: none (SURVEY.md §2.7); north-star dedup-tooling
    extension.
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # Lazy localCheckpoint pins each shared intermediate to ONE physical
    # computation (same RDD referenced from every consumer) — without it,
    # composing pairs+signatures+exact-Jaccard re-derives the
    # scan→shingle→md5 pipeline up to 10× in one plan. Same pattern as
    # bpe_learn_merges; at 100 TB this is "compute signatures once,
    # reuse", which is how a real dedup run is staged.
    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    pairs = candidate_pairs(sigs)
    overlap = shingle_overlap(pairs, _shingles(docs).localCheckpoint(eager=False))
    est = F.col("n_equal") / F.lit(float(NUM_HASHES))
    exact_raw = _exact_jaccard()
    return (
        _paired_sigs(pairs, sigs)
        .select("doc_a", "doc_b", _n_agree().alias("n_equal"))
        .join(overlap, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_equal",
            est.alias("est_jaccard"),
            pround(exact_raw, 4).alias("exact_jaccard"),
            pround(F.abs(est - exact_raw), 4).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup — the production ingestion path: a new batch of
# documents is checked against the EXISTING corpus's band index, not
# against itself and not by re-running dedup over the whole corpus. A
# deterministic hash splits documents into corpus (~75%) and incoming
# (~25%) to model the two sides; the asymmetric band join flags each
# incoming doc that shares any LSH band with any corpus doc.
#
# Scale shape (100 TB): this is THE reason LSH dedup scales operationally
# — the corpus side is a persisted band index (banded once, stored
# bucketed by (band_idx, band_sig)); each incoming delta computes only
# its own signatures and joins against the index. Per-ingest cost is
# O(delta), not O(corpus). Here both sides derive from one checkpointed
# signature computation (shared scan); the join itself is the same
# skew-resistant (band_idx, band_sig) equi-join as the batch LSH.
# ---------------------------------------------------------------------------
INCR_MOD = 4  # hash % 4 == 0 → incoming (~25%), else corpus


@register(
    "dedup_incremental_delta",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        side AS (
            SELECT doc_id,
                   CASE WHEN {md5_int_sql("doc_id", "incr:")} % {INCR_MOD} = 0
                        THEN 'in' ELSE 'corpus' END AS side
            FROM documents
        )
        SELECT i.doc_id AS doc_id,
               CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_matches,
               MIN(c.doc_id) AS first_match
        FROM bands i
        JOIN side si ON si.doc_id = i.doc_id AND si.side = 'in'
        JOIN bands c ON c.band_idx = i.band_idx AND c.band_sig = i.band_sig
        JOIN side sc ON sc.doc_id = c.doc_id AND sc.side = 'corpus'
        GROUP BY i.doc_id
    """,
    tags=("dedup", "lsh", "incremental", "documents"),
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming docs flagged as near-dups of the existing corpus.

    Reference parity: none (SURVEY.md §2.7); north-star incremental-
    ingestion extension.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    incr = md5_int("doc_id", "incr:") % INCR_MOD
    incoming_ids = docs.filter(incr == 0)
    corpus_ids = docs.filter(incr != 0)

    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    banded = minhash_bands(sigs).localCheckpoint(eager=False)
    in_bands = banded.join(incoming_ids, "doc_id", "left_semi")
    corpus_bands = banded.join(corpus_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("c_doc"), "band_idx", "band_sig"
    )
    return (
        in_bands.hint("merge")
        .join(corpus_bands, ["band_idx", "band_sig"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("c_doc").alias("n_corpus_matches"),
            F.min("c_doc").alias("first_match"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware survivor selection — per near-dup CLUSTER (connected
# component), keep the best member by (passes_quality DESC, n_chars DESC,
# doc_id ASC) instead of dedup_survivors' "drop every doc_b" one-hop
# policy. This is how production dedup actually chooses canonicals: the
# longest high-quality copy survives, truncated/mangled copies drop —
# min-doc-id keeps whichever happened to be crawled first.
#
# Scale shape: the component labels come from the iterative CC operator
# (its own scale story); ranking members within a component is one
# window over (component) — components are near-dup clusters, i.e. tiny,
# so the partition sizes are bounded and skew-free by construction.
# ---------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    # The passes_quality predicate is inlined (not pulled from the
    # text_quality_score registry entry) because dedup registers before
    # text at import time; the expression is identical by construction
    # and covered by text_quality_score's own oracle check.
    quality_sql = r"""
        SELECT doc_id,
               CASE WHEN len(string_split_regex(TRIM(text), '\s+'))
                         BETWEEN 20 AND 1000
                     AND len(list_distinct(
                             string_split_regex(LOWER(TRIM(text)), '\s+')))
                         * 1.0
                         / len(string_split_regex(TRIM(text), '\s+')) > 0.3
                    THEN 1 ELSE 0 END AS passes_quality
        FROM documents
    """
    return f"""
        WITH RECURSIVE
        shingles AS ({_SHINGLES_SQL}),
        -- MATERIALIZED: the recursive reach expansion references edges
        -- every iteration (see dedup_connected_components)
        sigs AS MATERIALIZED ({_SIGS_SQL}),
        bands AS MATERIALIZED ({_BANDS_SQL}),
        pairs AS MATERIALIZED ({_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM verts
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        ),
        comp AS (SELECT src AS doc_id, MIN(dst) AS component
                 FROM reach GROUP BY src),
        qual AS (SELECT doc_id, passes_quality FROM ({quality_sql})),
        ranked AS (
            SELECT c.component, c.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.component
                       ORDER BY q.passes_quality DESC, d.n_chars DESC,
                                c.doc_id ASC
                   ) AS rn
            FROM comp c
            JOIN qual q ON q.doc_id = c.doc_id
            JOIN documents d ON d.doc_id = c.doc_id
        )
        SELECT component,
               MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
        FROM ranked
        GROUP BY component
    """


@register(
    "dedup_keep_best_quality",
    oracle=_keep_best_oracle(),
    tags=("dedup", "graph", "quality", "documents"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per duplicate cluster: best-quality canonical + member counts.

    Reference parity: none (SURVEY.md §2.7); north-star dedup-policy
    extension.
    """
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators.text import text_quality_score

    comp = dedup_connected_components(spark, sf_dir)
    qual = text_quality_score(spark, sf_dir).select("doc_id", "passes_quality")
    chars = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.col("passes_quality").desc(), F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = (
        comp.join(qual, "doc_id")
        .join(chars, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    return ranked.groupBy("component").agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Span mask manifest — the ACTIONABLE form of exact-substring dedup:
# every occurrence of a cross-document repeated SPAN_N-gram becomes a
# token interval, and per document the overlapping intervals merge into
# maximal masked ranges (the ranges an exact-substring dedup pass
# actually deletes). Interval merge = the gaps-and-islands pattern: sort
# a doc's intervals by start, open a new island when start exceeds the
# running max end, island id = cumulative count of opens.
#
# Scale shape (100 TB): occurrences join the repeated-span set on the
# span key (partial-agg'd, skew-absorbed — a boilerplate span hot
# everywhere is the AQE skew-split case); the islands window partitions
# by doc_id, so interval merging is per-doc local work after one
# doc-keyed shuffle. No collect, no per-doc Python.
# ---------------------------------------------------------------------------
@register(
    "dedup_span_mask_manifest",
    oracle=f"""
        WITH occ AS (
            SELECT doc_id,
                   CAST(i + 1 AS BIGINT) AS start_tok,
                   CAST(i + {SPAN_N} AS BIGINT) AS end_tok,
                   array_to_string(toks[i + 1 : i + {SPAN_N}], ' ') AS span
            FROM (
                SELECT doc_id, toks,
                       UNNEST(range(0, len(toks) - {SPAN_N} + 1)) AS i
                FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
                      FROM documents)
                WHERE len(toks) >= {SPAN_N}
            )
        ),
        repeated AS (
            SELECT span FROM occ GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
        ),
        hits AS (
            SELECT o.doc_id, o.start_tok, o.end_tok
            FROM occ o JOIN repeated r ON r.span = o.span
        ),
        marked AS (
            SELECT doc_id, start_tok, end_tok,
                   CASE WHEN start_tok > COALESCE(MAX(end_tok) OVER (
                            PARTITION BY doc_id ORDER BY start_tok, end_tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), CAST(-1 AS BIGINT)) THEN 1 ELSE 0 END AS opens
            FROM hits
        ),
        islands AS (
            SELECT doc_id, start_tok, end_tok,
                   CAST(SUM(opens) OVER (
                        PARTITION BY doc_id ORDER BY start_tok, end_tok
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) AS BIGINT) AS island
            FROM marked
        )
        SELECT doc_id, island,
               MIN(start_tok) AS mask_start,
               MAX(end_tok)   AS mask_end,
               CAST(COUNT(*) AS BIGINT) AS n_spans_merged
        FROM islands
        GROUP BY doc_id, island
    """,
    tags=("dedup", "documents", "substring", "interval"),
)
def dedup_span_mask_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc merged token intervals covered by cross-doc repeated spans.

    Reference parity: none (SURVEY.md §2.7); north-star exact-substring
    dedup extension (the delete manifest).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = F.split(_norm_text(), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - SPAN_N)
    span_at = lambda i: F.struct(  # noqa: E731
        (i + 1).cast("long").alias("start_tok"),
        (i + SPAN_N).cast("long").alias("end_tok"),
        F.array_join(F.slice(toks, i + 1, SPAN_N), " ").alias("span"),
    )
    occ = (
        docs.select("doc_id", "text")
        .filter(n >= SPAN_N)
        .select("doc_id", F.explode(F.transform(idx, span_at)).alias("s"))
        .select("doc_id", "s.start_tok", "s.end_tok", "s.span")
    )
    repeated = (
        occ.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= SPAN_MIN_DOCS)
        .select("span")
    )
    hits = occ.join(repeated, "span").select("doc_id", "start_tok", "end_tok")
    order = Window.partitionBy("doc_id").orderBy("start_tok", "end_tok")
    prev_max_end = F.max("end_tok").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "opens",
        F.when(
            F.col("start_tok") > F.coalesce(prev_max_end, F.lit(-1).cast("long")),
            1,
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("opens")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("start_tok").alias("mask_start"),
        F.max("end_tok").alias("mask_end"),
        F.count(F.lit(1)).alias("n_spans_merged"),
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle CONTAINMENT over the LSH candidates — the subset-
# duplicate detector Jaccard structurally misses. Jaccard(A,B) =
# |A∩B|/|A∪B| stays low when a short document is wholly embedded in a
# long one (quote-in-article, doc-in-concatenation, boilerplate-wrapped
# reposts), but containment(A→B) = |A∩B|/|A| hits 1.0. Same 100 TB
# discipline as dedup_ngram_jaccard: exact set arithmetic runs ONLY over
# the banded-LSH candidate pairs (O(candidates), never O(n²)); the two
# per-pair semi-computations share the one shingle table.
# A pair is reported when EITHER direction's containment clears
# CONTAINMENT_T, with both directions emitted so downstream policy can
# keep the superset doc and drop the contained one.
# ---------------------------------------------------------------------------
CONTAINMENT_T = 0.6


@register(
    "dedup_containment",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN shingles sa ON sa.doc_id = p.doc_a
            JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT
            doc_a,
            doc_b,
            ROUND((n_common * 1.0 / ca.n) * 10000.0) / 10000.0 AS cont_a_in_b,
            ROUND((n_common * 1.0 / cb.n) * 10000.0) / 10000.0 AS cont_b_in_a
        FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE GREATEST(
            ROUND((n_common * 1.0 / ca.n) * 10000.0) / 10000.0,
            ROUND((n_common * 1.0 / cb.n) * 10000.0) / 10000.0
        ) >= {CONTAINMENT_T}
    """,
    tags=("dedup", "containment", "documents"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment over LSH candidate pairs.

    Reference parity: none (SURVEY.md §2.7); north-star dedup-family
    extension (subset/boilerplate duplicates the Jaccard verifier
    under-scores).
    """
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    overlap = shingle_overlap(dedup_minhash_lsh(spark, sf_dir), _shingles(docs))
    cont_ab = pround(F.col("n_common") * F.lit(1.0) / F.col("n_a"), 4)
    cont_ba = pround(F.col("n_common") * F.lit(1.0) / F.col("n_b"), 4)
    return (
        overlap.select(
            "doc_a",
            "doc_b",
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= F.lit(CONTAINMENT_T)
        )
    )


# ---------------------------------------------------------------------------
# SET-SIMILARITY JOIN with PREFIX FILTERING (the PPJoin family) — the
# fuzzy-join / entity-resolution operator: match every probe name (here:
# a deterministic pluralized variant of each distinct part name) to the
# catalog names whose character-trigram Jaccard ≥ τ. The scale technique
# is the PREFIX FILTER: order each string's distinct trigrams by global
# rarity (document frequency asc, trigram asc) and index only the first
#     k = n − ceil(τ·n) + 1
# of them — any pair with Jaccard ≥ τ MUST share at least one trigram
# inside both prefixes (pigeonhole on the ≥ ceil(τ·n) shared trigrams),
# so the candidate join touches the rarest slivers of each set instead
# of every trigram, and high-df trigrams never generate candidates.
# Verification is exact integer arithmetic: shared·10 ≥ 6·union ⟺
# J ≥ 0.6, and the reported jaccard_bp is shared·10000 // union.
# Completeness of the filter is property-tested against brute force
# (tests/test_properties.py).
# ---------------------------------------------------------------------------
FUZZY_TAU_X10 = 6  # τ = 0.6


def _fuzzy_oracle() -> str:
    trigs = (
        "list_distinct(list_transform(range(1, length({s}) - 1),"
        " i -> substr({s}, i, 3)))"
    )
    return f"""
        WITH a AS (
            SELECT DISTINCT lower(p_name) AS name FROM part
        ),
        b AS (
            SELECT name || 's' AS name FROM a
        ),
        sides AS (
            SELECT 'a' AS side, name, {trigs.format(s='name')} AS trigs FROM a
            UNION ALL
            SELECT 'b', name, {trigs.format(s='name')} FROM b
        ),
        toks AS (
            SELECT side, name, UNNEST(trigs) AS trig, len(trigs) AS n
            FROM sides
        ),
        df AS (SELECT trig, COUNT(*) AS df FROM toks GROUP BY trig),
        ranked AS (
            SELECT t.side, t.name, t.trig, t.n,
                   ROW_NUMBER() OVER (PARTITION BY t.side, t.name
                                      ORDER BY d.df, t.trig) AS rk
            FROM toks t JOIN df d USING (trig)
        ),
        prefix AS (
            SELECT side, name, trig, n FROM ranked
            WHERE rk <= n - (({FUZZY_TAU_X10} * n + 9) // 10) + 1
        ),
        cands AS (
            SELECT DISTINCT pa.name AS a_name, pb.name AS b_name
            FROM prefix pa JOIN prefix pb
              ON pa.trig = pb.trig AND pa.side = 'a' AND pb.side = 'b'
        ),
        verified AS (
            SELECT c.a_name, c.b_name,
                   len(list_intersect(sa.trigs, sb.trigs)) AS shared,
                   len(sa.trigs) + len(sb.trigs)
                       - len(list_intersect(sa.trigs, sb.trigs)) AS un
            FROM cands c
            JOIN sides sa ON sa.side = 'a' AND sa.name = c.a_name
            JOIN sides sb ON sb.side = 'b' AND sb.name = c.b_name
        )
        SELECT b_name AS probe_name, a_name AS match_name,
               CAST(shared * 10000 // un AS BIGINT) AS jaccard_bp
        FROM verified
        WHERE shared * 10 >= {FUZZY_TAU_X10} * un
    """


@register(
    "fuzzy_join_part_names",
    oracle=_fuzzy_oracle(),
    tags=("fuzzy-join", "entity-resolution", "prefix-filter", "part"),
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_job_spark.operators._portable import idiv

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.lower("p_name").alias("name"))
        .distinct()
    )
    a = names
    b = names.select(F.concat("name", F.lit("s")).alias("name"))

    # substring with a column start needs expr; built as a SQL expression.
    # Guarded for names shorter than 3 chars: Spark's sequence(1, len-2)
    # COUNTS DOWN when len < 3 (e.g. [1, 0, -1]), fabricating junk
    # trigrams, while DuckDB's range(1, len-1) is empty — a latent
    # cross-engine divergence the long TPC-H part names never exercise.
    trigs = F.expr(
        "CASE WHEN length(name) >= 3 THEN"
        " array_distinct(transform(sequence(1, length(name) - 2),"
        " i -> substring(name, i, 3)))"
        " ELSE array() END"
    )
    sides = (
        a.select(F.lit("a").alias("side"), "name", trigs.alias("trigs"))
        .unionByName(b.select(F.lit("b").alias("side"), "name", trigs.alias("trigs")))
        # both the df count, the prefix ranking, and the verify step read
        # this; pin one materialization (same reason as the PQ codebook)
        .localCheckpoint(eager=False)
    )
    toks = sides.select(
        "side", "name", F.explode("trigs").alias("trig"), F.size("trigs").alias("n")
    )
    df = toks.groupBy("trig").agg(F.count(F.lit(1)).alias("df"))
    rk = F.row_number().over(
        Window.partitionBy("side", "name").orderBy("df", "trig")
    )
    k = F.col("n") - idiv(FUZZY_TAU_X10 * F.col("n") + 9, F.lit(10)) + 1
    prefix = (
        toks.join(df, "trig")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= k)
        .select("side", "name", "trig")
    )
    cands = (
        prefix.filter(F.col("side") == "a")
        .select(F.col("name").alias("a_name"), "trig")
        .join(
            prefix.filter(F.col("side") == "b").select(
                F.col("name").alias("b_name"), "trig"
            ),
            "trig",
        )
        .select("a_name", "b_name")
        .distinct()
    )
    sa = sides.filter(F.col("side") == "a").select(
        F.col("name").alias("a_name"), F.col("trigs").alias("a_trigs")
    )
    sb = sides.filter(F.col("side") == "b").select(
        F.col("name").alias("b_name"), F.col("trigs").alias("b_trigs")
    )
    shared = F.size(F.array_intersect("a_trigs", "b_trigs"))
    un = F.size("a_trigs") + F.size("b_trigs") - shared
    return (
        cands.join(sa, "a_name")
        .join(sb, "b_name")
        .select(
            "a_name",
            "b_name",
            shared.alias("shared"),
            un.alias("un"),
        )
        .filter(F.col("shared") * 10 >= FUZZY_TAU_X10 * F.col("un"))
        .select(
            F.col("b_name").alias("probe_name"),
            F.col("a_name").alias("match_name"),
            idiv(F.col("shared").cast("long") * 10000, F.col("un").cast("long"))
            .cast("long")
            .alias("jaccard_bp"),
        )
    )


# ---------------------------------------------------------------------------
# b-BIT MINHASH CALIBRATION (b = 1) — store ONE bit per hash (the
# min-hash value's parity) instead of the full 31-bit value: 31× less
# signature storage, and for unrelated docs bits agree half the time, so
# the unbiased estimate is Ĵ = 2·(A/k) − 1 with A the bit-agreement
# count. This query reports, per LSH candidate pair, the 1-bit estimate
# beside the full-signature estimate and the exact Jaccard — the
# storage/accuracy trade measured on real candidates (Li & König's
# b-bit minwise hashing, evaluated with the registry's exact-oracle
# discipline). Shares signatures/pairs/exact-Jaccard CTE definitions
# with minhash_jaccard_calibration, so the dags stay one definition.
# ---------------------------------------------------------------------------
_bit_agree_sql = " + ".join(
    f"CASE WHEN sa.h{s} % 2 = sb.h{s} % 2 THEN 1 ELSE 0 END"
    for s in range(NUM_HASHES)
)


@register(
    "minhash_bbit_calibration",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS ({_PAIRS_SQL}),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN shingles sa ON sa.doc_id = p.doc_a
            JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
            GROUP BY p.doc_a, p.doc_b
        ),
        agree AS (
            SELECT p.doc_a, p.doc_b,
                   CAST({_agree_sql} AS BIGINT) AS n_equal,
                   CAST({_bit_agree_sql} AS BIGINT) AS n_bit_equal
            FROM pairs p
            JOIN sigs sa ON sa.doc_id = p.doc_a
            JOIN sigs sb ON sb.doc_id = p.doc_b
        )
        SELECT a.doc_a, a.doc_b, a.n_bit_equal,
               ROUND((2.0 * (a.n_bit_equal / {NUM_HASHES}.0) - 1.0)
                     * 10000.0) / 10000.0 + 0.0 AS est_bbit,
               a.n_equal / {NUM_HASHES}.0 AS est_full,
               ROUND(({_exact_raw_sql}) * 10000.0) / 10000.0 + 0.0
                   AS exact_jaccard,
               ROUND(ABS((2.0 * (a.n_bit_equal / {NUM_HASHES}.0) - 1.0)
                         - ({_exact_raw_sql})) * 10000.0) / 10000.0 + 0.0
                   AS abs_err_bbit
        FROM agree a
        JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
        JOIN counts ca ON ca.doc_id = a.doc_a
        JOIN counts cb ON cb.doc_id = a.doc_b
    """,
    tags=("dedup", "lsh", "bbit-minhash", "calibration", "documents"),
)
def minhash_bbit_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    pairs = candidate_pairs(sigs)
    scored = _paired_sigs(pairs, sigs).select(
        "doc_a",
        "doc_b",
        _n_agree().alias("n_equal"),
        _n_agree(parity=True).alias("n_bit_equal"),
    )
    overlap = shingle_overlap(pairs, _shingles(docs).localCheckpoint(eager=False))
    exact = _exact_jaccard()
    est_bbit = (
        F.lit(2.0) * (F.col("n_bit_equal") / F.lit(float(NUM_HASHES)))
        - F.lit(1.0)
    )
    return scored.join(overlap, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "n_bit_equal",
        pround(est_bbit, 4).alias("est_bbit"),
        (F.col("n_equal") / F.lit(float(NUM_HASHES))).alias("est_full"),
        pround(exact, 4).alias("exact_jaccard"),
        pround(F.abs(est_bbit - exact), 4).alias("abs_err_bbit"),
    )


# ---------------------------------------------------------------------------
# CORPUS SHINGLE NOVELTY — how much of each document's content is NEW at
# the point it enters the corpus (doc_id = accretion order)? A shingle
# "first appears" in the minimum doc_id that contains it; every later
# occurrence is repeated content. The per-language rollup is the
# freshness dashboard a crawl pipeline watches: novelty_bp trending down
# means the crawler is re-reading the web faster than the web changes —
# time to re-weight seeds, before dedup spends compute discarding it.
# Complements dedup_incremental_delta (which answers "is THIS batch
# duplicated" against a band index) by measuring the corpus's own
# marginal-novelty curve in one pass.
# Scale shape: one Arrow shingling, one shingle-keyed window
# (seen_before) flagging shingles a smaller doc_id holds, a doc-keyed
# partial agg, a small documents join for lang and a vocabulary-bounded
# rollup; no pin (hot-key trade-off: see dedup_exact_substring).
# Integer basis points via div — no float drift in the hash.
# Reference parity: none (SURVEY.md §2.7) — north-star dedup extension.
# ---------------------------------------------------------------------------
@register(
    "corpus_shingle_novelty",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        first_seen AS (
            SELECT shingle, MIN(doc_id) AS first_doc
            FROM shingles GROUP BY 1
        ),
        per_doc AS (
            SELECT s.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sh,
                   CAST(SUM(CASE WHEN f.first_doc < s.doc_id
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
            FROM shingles s JOIN first_seen f USING (shingle)
            GROUP BY 1
        )
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(p.n_sh) AS BIGINT) AS sum_shingles,
               CAST(SUM(p.n_seen) AS BIGINT) AS sum_seen_before,
               (CAST(SUM(p.n_sh - p.n_seen) AS BIGINT) * 10000)
                   // CAST(SUM(p.n_sh) AS BIGINT) AS novelty_bp
        FROM per_doc p JOIN documents d USING (doc_id)
        GROUP BY 1
    """,
    tags=("dedup", "novelty", "documents", "agg"),
)
def corpus_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        _shingles(docs)
        .select("doc_id", seen_before("shingle").alias("seen"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum("seen").cast("long").alias("n_seen"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("sum_shingles"),
            F.sum("n_seen").cast("long").alias("sum_seen_before"),
            idiv(
                F.sum(F.col("n_sh") - F.col("n_seen")).cast("long") * 10000,
                F.sum("n_sh").cast("long"),
            ).alias("novelty_bp"),
        )
    )


# ---------------------------------------------------------------------------
# EXACT-SUBSTRING DEDUP (suffix-array complement of MinHash) — the
# RefinedWeb/Gopher-style check MinHash can't do: literal 32-character
# runs copied between documents. Grams are CONTENT-ANCHORED (winnowing
# style): every position's 32-char gram is hashed and kept iff
# hash % GRAM_STRIDE == 0 — the anchor decision depends only on the
# gram's BYTES, so two copies of the same run select the same grams at
# ANY alignment. (A fixed-stride scheme is phase-blind: copies whose
# offsets differ mod the stride share zero grams — the r8 review
# finding this rewrite fixes.) Expected 1-in-GRAM_STRIDE positions
# survive, so the explode stays ~len/16 rows per doc. A full suffix
# array is sequential by construction; the anchored-gram relaxation is
# the distributed form: grams are cut inside scan tasks and one
# gram-keyed window (seen_before) flags a gram a smaller doc_id holds —
# never doc×doc. All rows of a hot gram meet in one window task, in a
# spillable buffer; the former min-aggregate joined back could be
# skew-split by AQE, but needed a localCheckpoint pin that held every
# gram row in block managers and cut lineage. Report per source:
# fraction of docs containing a substring first seen in an EARLIER doc.
# A copied run is caught iff it contains an anchored gram — expected
# once per GRAM_STRIDE chars of run length, alignment-free
# (probabilistic, not the false fixed-stride "guarantee").
# Reference parity: none (SURVEY.md §2.7) — north-star dedup extension.
# ---------------------------------------------------------------------------
GRAM_LEN = 32
GRAM_STRIDE = 16  # _anchored_gram_batches tests one hex digit


def _anchored_gram_batches(it):
    """mapInArrow body for dedup_exact_substring: per document, emit the
    DISTINCT content-anchored 32-grams (md5(gram) % GRAM_STRIDE == 0),
    one output row per gram carrying every input column except ``text``
    (an Arrow ``take`` on the emitting rows) plus ``gram``. A NULL text
    emits nothing, as the oracle's UNNEST does.

    Mirrors the engine's former JVM expression exactly:
    - normalization = lower(trim(regexp_replace(text, '\\s+', ' '))):
      the regex class below IS Java's \\s ([ \\t\\n\\x0b\\f\\r]); the
      collapse leaves plain spaces OR non-ASCII whitespace (\\xa0,
      \\u2028, ...) at the edges, and SQL TRIM removes only plain
      spaces — so strip(" "), never bare strip(), which would also eat
      the Unicode whitespace TRIM keeps. ASCII lowercase agrees across
      engines.
    - md5 over UTF-8 bytes; md5_int(g) % 16 == 0 says the 7th hex digit,
      the high nibble of digest byte 3, is 0: ``digest()[3] < 16``. An
      ASCII text is encoded once and hashed in byte slices; any other
      text encodes gram by gram (a character slice is no byte slice).
    - the `seen` set dedups per document over the anchored grams only;
      selection is a deterministic function of the gram, so that equals
      the former filter-then-array_distinct (duplicates select alike),
      first occurrences in the same order.
    """
    import hashlib
    import re

    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    md5 = hashlib.md5
    for batch in it:
        rows, o_gram = [], []
        for r, text in enumerate(batch.column("text").to_pylist()):
            if text is None:
                continue
            norm = ws.sub(" ", text).strip(" ").lower()
            n = len(norm) - GRAM_LEN + 1
            if norm.isascii():
                b = norm.encode("ascii")
                grams = (b[i : i + GRAM_LEN] for i in range(n))
            else:
                grams = (norm[i : i + GRAM_LEN].encode() for i in range(n))
            seen = set()
            for g in grams:
                if md5(g).digest()[3] < 16 and g not in seen:
                    seen.add(g)
                    rows.append(r)
                    o_gram.append(g)
        idx = pa.array(rows, pa.int32())
        keep = [c for c in batch.schema.names if c != "text"]
        yield pa.RecordBatch.from_arrays(
            [batch.column(c).take(idx) for c in keep]
            + [pa.array(o_gram, pa.string())],
            keep + ["gram"],
        )


@register(
    "dedup_exact_substring",
    oracle=f"""
        WITH grams AS (
            SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, substr(norm, i + 1, {GRAM_LEN}) AS gram
                FROM (
                    SELECT doc_id, norm,
                           UNNEST(range(0, length(norm) - {GRAM_LEN} + 1))
                               AS i
                    FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
                    WHERE length(norm) >= {GRAM_LEN}
                )
            )
            WHERE {md5_int_sql("gram")}
                  % {GRAM_STRIDE} = 0
        ),
        first_seen AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        ),
        flags AS (
            SELECT g.doc_id,
                   MAX(CASE WHEN f.first_doc < g.doc_id
                            THEN 1 ELSE 0 END) AS flagged
            FROM grams g JOIN first_seen f USING (gram)
            GROUP BY g.doc_id
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(f.flagged) AS BIGINT) AS n_flagged,
               CAST(SUM(f.flagged) AS BIGINT) * 10000
                   // CAST(COUNT(*) AS BIGINT) AS flagged_bp
        FROM flags f JOIN documents d USING (doc_id)
        GROUP BY d.source
    """,
    tags=("dedup", "substring", "documents"),
    bench_ext=True,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    # Gram extraction runs as mapInArrow (guide §4.2): r12 measured
    # 1.85 s → 1.16 s at sf0.1 against the interpreted transform/filter
    # HOF pair it replaced (same hash and normalization, see
    # _anchored_gram_batches). Only the ~1-in-GRAM_STRIDE anchored grams
    # come back, each with its doc's doc_id and source.
    flags = (
        docs.select("doc_id", "source", "text")
        .mapInArrow(
            _anchored_gram_batches, "doc_id bigint, source string, gram string"
        )
        .select("doc_id", "source", seen_before("gram").alias("seen"))
        .groupBy("doc_id", "source")
        .agg(F.max("seen").alias("flagged"))
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            idiv(
                F.sum("flagged").cast("long") * 10000,
                F.count(F.lit(1)).cast("long"),
            ).alias("flagged_bp"),
        )
    )


# ---------------------------------------------------------------------------
# URL-LEVEL DEDUP for web corpora — canonicalize, then exact-dup by
# canonical URL. The corpus tables carry no URL column, so a
# deterministic fixture URL is synthesized per document (same spirit as
# the multimodal payload encoders: the SYNTHESIS is fixture plumbing,
# the CANONICALIZER is the real operator). Canonical steps, in order:
# lowercase, strip fragment, strip utm_* tracking queries, drop the
# default :443 port, drop www., drop the trailing slash — each a single
# regexp/replace both engines run identically. One hash-aggregate on the
# canonical string: map-side partials, no skew (URL space is the key).
# Reference parity: none (SURVEY.md §2.7) — north-star dedup extension.
# ---------------------------------------------------------------------------
_URL_SQL = (
    "('HTTPS://WWW.' || source || '.Example.COM:443/p/'"
    " || CAST(doc_id % 23 AS VARCHAR)"
    " || (CASE WHEN doc_id % 3 = 0"
    "          THEN '/?utm_source=feed&utm_id=' || CAST(doc_id % 7 AS VARCHAR)"
    "          ELSE '/' END)"
    " || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END))"
)

_CANON_STEPS_SQL = (
    "regexp_replace(regexp_replace(replace(replace("
    "regexp_replace(regexp_replace(lower({u}), '#.*$', ''), "
    "'\\?utm[^#]*$', ''), ':443/', '/'), '://www.', '://'), '/$', ''), "
    "'^$', '')"
)


def _url_col() -> "F.Column":
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM:443/p/"),
        (F.col("doc_id") % 23).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("/?utm_source=feed&utm_id="),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).otherwise(F.lit("/")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(
            F.lit("")
        ),
    )


def _canonical_url(u: "F.Column") -> "F.Column":
    c = F.lower(u)
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"\?utm[^#]*$", "")
    c = F.replace(c, F.lit(":443/"), F.lit("/"))
    c = F.replace(c, F.lit("://www."), F.lit("://"))
    c = F.regexp_replace(c, r"/$", "")
    return c


@register(
    "dedup_url_canonical",
    oracle=f"""
        WITH canon AS (
            SELECT doc_id,
                   {_CANON_STEPS_SQL.format(u=_URL_SQL)} AS canonical_url
            FROM documents
        )
        SELECT canonical_url,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS keep_doc_id
        FROM canon
        GROUP BY canonical_url
        HAVING COUNT(*) > 1
    """,
    tags=("dedup", "url", "web", "documents"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            _canonical_url(_url_col()).alias("canonical_url"), "doc_id"
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# PER-DOMAIN WEB-CORPUS PROFILE — the curation view over the same
# canonical URLs: per registrable domain, how many pages, how many
# distinct canonical URLs, and the duplication in basis points — the
# table a crawl-frontier operator consults to deprioritize mirror-heavy
# domains. Shape: two nested hash aggregates over bounded keys.
# ---------------------------------------------------------------------------
@register(
    "web_domain_profile",
    oracle=f"""
        WITH canon AS (
            SELECT doc_id,
                   {_CANON_STEPS_SQL.format(u=_URL_SQL)} AS canonical_url
            FROM documents
        ),
        by_url AS (
            SELECT regexp_extract(canonical_url, '://([^/]+)', 1) AS domain,
                   canonical_url, COUNT(*) AS n
            FROM canon GROUP BY 1, 2
        )
        SELECT domain,
               CAST(SUM(n) AS BIGINT) AS n_pages,
               CAST(COUNT(*) AS BIGINT) AS n_unique_urls,
               (CAST(SUM(n) AS BIGINT) - CAST(COUNT(*) AS BIGINT)) * 10000
                   // CAST(SUM(n) AS BIGINT) AS dup_bp
        FROM by_url
        GROUP BY domain
    """,
    tags=("dedup", "url", "web", "profile", "documents"),
)
def web_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    by_url = (
        docs.select(_canonical_url(_url_col()).alias("canonical_url"))
        .groupBy(
            F.regexp_extract("canonical_url", r"://([^/]+)", 1).alias(
                "domain"
            ),
            "canonical_url",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return by_url.groupBy("domain").agg(
        F.sum("n").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_unique_urls"),
        idiv(
            (F.sum("n").cast("long") - F.count(F.lit(1)).cast("long"))
            * 10000,
            F.sum("n").cast("long"),
        ).alias("dup_bp"),
    )


# ---------------------------------------------------------------------------
# POSITION-ANCHORED PREFIX DEDUP — the news-wire/syndication check:
# documents that open with the same first PREFIX_TOKENS tokens are
# near-certain re-posts even when their tails diverge (chunk dedup is
# position-free and misses this asymmetry cheaply). One hash-aggregate
# on the prefix fingerprint; groups spanning >1 source are the
# syndication signal.
# ---------------------------------------------------------------------------
PREFIX_TOKENS = 8


@register(
    "dedup_prefix_collision",
    oracle=f"""
        WITH pref AS (
            SELECT doc_id, source,
                   md5(array_to_string(
                       (string_split({_NORM_SQL}, ' '))[1 : {PREFIX_TOKENS}],
                       ' ')) AS prefix_fp
            FROM documents
        )
        SELECT prefix_fp,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS keep_doc_id
        FROM pref
        GROUP BY prefix_fp
        HAVING COUNT(*) > 1
    """,
    tags=("dedup", "prefix", "documents"),
)
def dedup_prefix_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix_fp = F.md5(
        F.array_join(
            F.slice(F.split(_norm_text(), " "), 1, PREFIX_TOKENS), " "
        )
    )
    return (
        docs.select(prefix_fp.alias("prefix_fp"), "doc_id", "source")
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MINHASH BAND-GEOMETRY SWEEP — the (b, r) calibration every LSH rollout
# runs before committing a geometry: for each banding of the same 16-hash
# signature (16x1, 8x2, 4x4, 2x8), measure candidate precision/recall
# against exact shingle Jaccard >= SWEEP_TAU, next to the theoretical
# S-curve value 1-(1-tau^r)^b. The evaluation universe is the (16,1)
# candidate set — the most permissive geometry, and a superset of every
# coarser one (an r-row band match implies each row matches) — so ground
# truth is computed ONLY on pairs some geometry could ever emit, never
# all pairs. At 100 TB this runs on a documented sample; the shapes
# (signature reuse, pair-keyed joins, constant-width config aggregate)
# are the production ones. Extends minhash_jaccard_calibration.
# ---------------------------------------------------------------------------
SWEEP_TAU_PCT = 50  # truth threshold: exact Jaccard >= 0.50
#: (bands, rows_per_band, round(1e6 * (1-(1-0.5**r)**b))) — theory at tau
SWEEP_CONFIGS = ((16, 1, 999985), (8, 2, 899887), (4, 4, 227524), (2, 8, 7797))


def _sweep_candidate_sql(b: int, r: int) -> str:
    """Pair-level predicate: some band of geometry (b, r) fully agrees."""
    bands = []
    for band in range(b):
        rows = " AND ".join(
            f"a{band * r + i} = b{band * r + i}" for i in range(r)
        )
        bands.append(f"({rows})")
    return "(" + " OR ".join(bands) + ")"


@register(
    "dedup_band_sweep_calibration",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        hash_rows AS (
            SELECT doc_id, seed, h FROM (
                SELECT doc_id, {", ".join(f"h{s}" for s in range(NUM_HASHES))}
                FROM sigs
            ) UNPIVOT (h FOR seed IN ({", ".join(f"h{s}" for s in range(NUM_HASHES))}))
        ),
        universe AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM hash_rows a JOIN hash_rows b
              ON a.seed = b.seed AND a.h = b.h AND a.doc_id < b.doc_id
        ),
        counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT u.doc_a, u.doc_b, COUNT(*) AS n_common
            FROM universe u
            JOIN shingles sa ON sa.doc_id = u.doc_a
            JOIN shingles sb ON sb.doc_id = u.doc_b AND sb.shingle = sa.shingle
            GROUP BY u.doc_a, u.doc_b
        ),
        pairs AS (
            SELECT u.doc_a, u.doc_b,
                   {", ".join(f"sa.h{s} AS a{s}, sb.h{s} AS b{s}" for s in range(NUM_HASHES))},
                   (COALESCE(i.n_common, 0) * 100 >=
                    {SWEEP_TAU_PCT} * (ca.n + cb.n - COALESCE(i.n_common, 0)))
                       AS is_true_pair
            FROM universe u
            JOIN sigs sa ON sa.doc_id = u.doc_a
            JOIN sigs sb ON sb.doc_id = u.doc_b
            JOIN counts ca ON ca.doc_id = u.doc_a
            JOIN counts cb ON cb.doc_id = u.doc_b
            LEFT JOIN inter i ON i.doc_a = u.doc_a AND i.doc_b = u.doc_b
        )
        {" UNION ALL ".join(f'''
        SELECT '{b}x{r}' AS config,
               CAST({b} AS BIGINT) AS bands,
               CAST({r} AS BIGINT) AS rows_per_band,
               CAST({theo} AS BIGINT) AS theo_collision_ppm_at_tau,
               CAST(SUM(CASE WHEN {_sweep_candidate_sql(b, r)}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN is_true_pair THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_truth,
               CAST(SUM(CASE WHEN {_sweep_candidate_sql(b, r)} AND is_true_pair
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
               CASE WHEN SUM(CASE WHEN {_sweep_candidate_sql(b, r)}
                                  THEN 1 ELSE 0 END) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(SUM(CASE WHEN {_sweep_candidate_sql(b, r)}
                                       AND is_true_pair
                                  THEN 1 ELSE 0 END) AS BIGINT) * 10000
                         // CAST(SUM(CASE WHEN {_sweep_candidate_sql(b, r)}
                                          THEN 1 ELSE 0 END) AS BIGINT)
               END AS precision_bp,
               CASE WHEN SUM(CASE WHEN is_true_pair THEN 1 ELSE 0 END) = 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(SUM(CASE WHEN {_sweep_candidate_sql(b, r)}
                                       AND is_true_pair
                                  THEN 1 ELSE 0 END) AS BIGINT) * 10000
                         // CAST(SUM(CASE WHEN is_true_pair
                                          THEN 1 ELSE 0 END) AS BIGINT)
               END AS recall_bp
        FROM pairs''' for b, r, theo in SWEEP_CONFIGS)}
    """,
    tags=("dedup", "lsh", "calibration", "sweep", "documents"),
)
def dedup_band_sweep_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    sigs = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    hash_rows = sigs.select(
        "doc_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(s) for s in range(NUM_HASHES)]),
                F.array(*[F.col(f"h{s}") for s in range(NUM_HASHES)]),
            )
        ).alias("seed", "h"),
    )
    universe = (
        hash_rows.alias("a")
        .hint("merge")
        .join(
            hash_rows.alias("b"),
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    overlap = shingle_overlap(universe, _shingles(docs).localCheckpoint(eager=False))
    # a pair sharing no shingle has no overlap row and is never a true
    # pair (every non-NULL text has at least one shingle, so the
    # oracle's 0 >= TAU·(n_a + n_b) is false)
    is_true = F.col("n_common") * 100 >= SWEEP_TAU_PCT * (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    pairs = (
        _paired_sigs(universe, sigs)
        .join(overlap, ["doc_a", "doc_b"], "left")
        .select(
            *[F.col(f"a{s}") for s in range(NUM_HASHES)],
            *[F.col(f"b{s}") for s in range(NUM_HASHES)],
            F.coalesce(is_true, F.lit(False)).alias("is_true_pair"),
        )
        .localCheckpoint(eager=False)  # 4 config aggregates read it
    )
    reports = []
    for b, r, theo in SWEEP_CONFIGS:
        cand = F.expr(_sweep_candidate_sql(b, r).lower())
        n_cand = F.sum(F.when(cand, 1).otherwise(0)).cast("long")
        n_truth = F.sum(F.when(F.col("is_true_pair"), 1).otherwise(0)).cast(
            "long"
        )
        n_tp = F.sum(
            F.when(cand & F.col("is_true_pair"), 1).otherwise(0)
        ).cast("long")
        reports.append(
            pairs.agg(
                n_cand.alias("n_candidates"),
                n_truth.alias("n_truth"),
                n_tp.alias("n_tp"),
            ).select(
                F.lit(f"{b}x{r}").alias("config"),
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(theo).cast("long").alias("theo_collision_ppm_at_tau"),
                "n_candidates",
                "n_truth",
                "n_tp",
                F.when(F.col("n_candidates") == 0, F.lit(0).cast("long"))
                .otherwise(idiv(F.col("n_tp") * 10000, F.col("n_candidates")))
                .alias("precision_bp"),
                F.when(F.col("n_truth") == 0, F.lit(0).cast("long"))
                .otherwise(idiv(F.col("n_tp") * 10000, F.col("n_truth")))
                .alias("recall_bp"),
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


# ---------------------------------------------------------------------------
# CROSS-LINGUAL CONTAMINATION CHECK — translated/copied passages leak
# between language buckets (mislabeled language IDs, machine-translated
# spam): shingles shared by documents of DIFFERENT langs. Shape: the
# distinct (shingle, lang) projection self-joins on shingle with
# lang_a < lang_b — per-shingle fanout is bounded by the LANG VOCABULARY
# (≤ |langs|² pairs per shingle), never by document count, so the join
# output is |shared shingles| × O(1). Contamination rate is vs the
# smaller lang's shingle inventory (the bucket most at risk).
# ---------------------------------------------------------------------------
@register(
    "crosslingual_contamination",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sl AS (
            SELECT DISTINCT s.shingle, d.lang
            FROM shingles s JOIN documents d USING (doc_id)
        ),
        totals AS (SELECT lang, COUNT(*) AS n FROM sl GROUP BY lang),
        shared AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   COUNT(*) AS n_shared_shingles
            FROM sl a JOIN sl b
              ON a.shingle = b.shingle AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT s.lang_a, s.lang_b, CAST(s.n_shared_shingles AS BIGINT)
                   AS n_shared_shingles,
               CAST(ta.n AS BIGINT) AS n_shingles_a,
               CAST(tb.n AS BIGINT) AS n_shingles_b,
               CAST(s.n_shared_shingles AS BIGINT) * 10000
                   // CAST(least(ta.n, tb.n) AS BIGINT) AS contamination_bp
        FROM shared s
        JOIN totals ta ON ta.lang = s.lang_a
        JOIN totals tb ON tb.lang = s.lang_b
    """,
    tags=("dedup", "contamination", "crosslingual", "documents"),
)
def crosslingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    sl = (
        _shingles(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("shingle", "lang")
        .distinct()
        .localCheckpoint(eager=False)  # totals AND the pair join read it
    )
    totals = sl.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        sl.alias("a")
        .join(
            sl.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )
    ta = totals.select(F.col("lang").alias("lang_a"), F.col("n").alias("_na"))
    tb = totals.select(F.col("lang").alias("lang_b"), F.col("n").alias("_nb"))
    return (
        shared.join(F.broadcast(ta), "lang_a")
        .join(F.broadcast(tb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared_shingles",
            F.col("_na").cast("long").alias("n_shingles_a"),
            F.col("_nb").cast("long").alias("n_shingles_b"),
            idiv(
                F.col("n_shared_shingles") * 10000,
                F.least("_na", "_nb").cast("long"),
            ).alias("contamination_bp"),
        )
    )


# ---------------------------------------------------------------------------
# CRAWL-FRONTIER BLOOM DEDUP — the incremental web-scale shape: the SEEN
# corpus (here doc_id % 5 != 0, ~80%) is folded ONCE into a DEDUP_BF_M-bit
# Bloom filter (constant-size, mergeable, broadcastable); each FRONTIER
# batch probes the bits instead of joining the full seen set. The report
# scores the filter against exact ground truth per source: miss rate is
# structurally zero (no false negatives), the false-positive rate is the
# price of the constant memory. At 100 TB the seen set never re-joins —
# only the bit array travels. totals-broadcast exception: the bit set is
# ≤ DEDUP_BF_M positions by construction.
# ---------------------------------------------------------------------------
DEDUP_BF_M = 4096
DEDUP_BF_K = 3


#: Shared by the batch op and its streaming twin
#: (streaming_frontier_bloom): the streaming state is the same OR-merged
#: bit array, so both gates run one oracle definition.
_FRONTIER_ORACLE_SQL = f"""
        WITH fp AS (
            SELECT doc_id, source, md5({_NORM_SQL}) AS fingerprint,
                   (doc_id % 5 = 0) AS is_frontier
            FROM documents
        ),
        seen AS (SELECT DISTINCT fingerprint FROM fp WHERE NOT is_frontier),
        bits AS (
            SELECT DISTINCT
                   CASE i WHEN 0 THEN ({md5_int_sql("fingerprint", "fr0:")} % {DEDUP_BF_M})
                          WHEN 1 THEN ({md5_int_sql("fingerprint", "fr1:")} % {DEDUP_BF_M})
                          ELSE ({md5_int_sql("fingerprint", "fr2:")} % {DEDUP_BF_M}) END AS pos
            FROM seen, (SELECT unnest([0, 1, 2]) AS i)
        ),
        probe AS (
            SELECT f.source,
                   (f.fingerprint IN (SELECT fingerprint FROM seen))
                       AS truth_seen,
                   (({md5_int_sql("f.fingerprint", "fr0:")} % {DEDUP_BF_M})
                        IN (SELECT pos FROM bits)
                    AND ({md5_int_sql("f.fingerprint", "fr1:")} % {DEDUP_BF_M})
                        IN (SELECT pos FROM bits)
                    AND ({md5_int_sql("f.fingerprint", "fr2:")} % {DEDUP_BF_M})
                        IN (SELECT pos FROM bits)) AS bloom_seen
            FROM fp f WHERE f.is_frontier
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_frontier,
               CAST(SUM(CASE WHEN truth_seen THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_truth_dup,
               CAST(SUM(CASE WHEN bloom_seen THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bloom_hit,
               CAST(SUM(CASE WHEN bloom_seen AND NOT truth_seen
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               CAST(SUM(CASE WHEN bloom_seen AND NOT truth_seen
                             THEN 1 ELSE 0 END) AS BIGINT) * 10000
                   // CAST(COUNT(*) AS BIGINT) AS false_pos_bp
        FROM probe
        GROUP BY source
"""


@register(
    "dedup_frontier_bloom",
    oracle=_FRONTIER_ORACLE_SQL,
    tags=("dedup", "bloom", "frontier", "web", "documents"),
    bench_ext=True,
)
def dedup_frontier_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(_norm_text()).alias("fingerprint"),
        (F.col("doc_id") % 5 == 0).alias("is_frontier"),
    )
    seen = (
        fp.filter(~F.col("is_frontier")).select("fingerprint").distinct()
    ).localCheckpoint(eager=False)  # bits AND the truth join read it
    bits = seen.select(
        F.explode(
            F.array(
                *[
                    md5_int("fingerprint", f"fr{i}:") % DEDUP_BF_M
                    for i in range(DEDUP_BF_K)
                ]
            )
        ).alias("pos")
    ).agg(F.array_sort(F.collect_set("pos")).alias("bits"))
    probe = (
        fp.filter(F.col("is_frontier"))
        .crossJoin(F.broadcast(bits))
        # truth join: seen is DATA-scaled — NO broadcast hint (policy);
        # AQE picks the strategy while it fits
        .join(
            seen.withColumn("truth_seen", F.lit(True)),
            "fingerprint",
            "left",
        )
        .select(
            "source",
            F.coalesce(F.col("truth_seen"), F.lit(False)).alias("truth_seen"),
            (
                F.array_contains(
                    F.col("bits"), md5_int("fingerprint", "fr0:") % DEDUP_BF_M
                )
                & F.array_contains(
                    F.col("bits"), md5_int("fingerprint", "fr1:") % DEDUP_BF_M
                )
                & F.array_contains(
                    F.col("bits"), md5_int("fingerprint", "fr2:") % DEDUP_BF_M
                )
            ).alias("bloom_seen"),
        )
    )
    return probe.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_frontier"),
        F.sum(F.when(F.col("truth_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_truth_dup"),
        F.sum(F.when(F.col("bloom_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_hit"),
        F.sum(F.when(F.col("bloom_seen") & ~F.col("truth_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        idiv(
            F.sum(
                F.when(F.col("bloom_seen") & ~F.col("truth_seen"), 1).otherwise(
                    0
                )
            ).cast("long")
            * 10000,
            F.count(F.lit(1)).cast("long"),
        ).alias("false_pos_bp"),
    )


# ---------------------------------------------------------------------------
# DUP-CLUSTER SIZE HISTOGRAM — the one-screen "how duplicated is this
# corpus" summary: exact-fingerprint cluster sizes bucketed into the
# bands dedup planning reasons about (unique / pair / small / viral),
# with the doc-mass share per band in exact bp. Two nested bounded-key
# hash aggregates.
# ---------------------------------------------------------------------------
@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
        WITH sizes AS (
            SELECT md5({_NORM_SQL}) AS fp, CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY 1
        ),
        banded AS (
            SELECT CASE WHEN c = 1 THEN '1-unique'
                        WHEN c = 2 THEN '2-pair'
                        WHEN c <= 8 THEN '3-small(3-8)'
                        ELSE '4-viral(9+)' END AS size_band,
                   c
            FROM sizes
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_docs FROM sizes)
        SELECT b.size_band,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(b.c) AS BIGINT) AS n_docs,
               CAST(SUM(b.c) AS BIGINT) * 10000 // t.n_docs AS doc_mass_bp
        FROM banded b, tot t
        GROUP BY b.size_band, t.n_docs
    """,
    tags=("dedup", "histogram", "documents"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    sizes = (
        docs.select(F.md5(_norm_text()).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    banded = sizes.select(
        F.when(F.col("c") == 1, "1-unique")
        .when(F.col("c") == 2, "2-pair")
        .when(F.col("c") <= 8, "3-small(3-8)")
        .otherwise("4-viral(9+)")
        .alias("size_band"),
        "c",
    )
    tot = sizes.agg(F.sum("c").cast("long").alias("n_docs_total"))
    return (
        banded.crossJoin(F.broadcast(tot))
        .groupBy("size_band", "n_docs_total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("c").cast("long").alias("n_docs"),
        )
        .select(
            "size_band",
            "n_clusters",
            "n_docs",
            idiv(F.col("n_docs") * 10000, F.col("n_docs_total")).alias(
                "doc_mass_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CROSS-SOURCE OVERLAP MATRIX — the corpus-curation question one level
# above per-document dedup: which SOURCES substantially duplicate each
# other (mirrors, scrapes of scrapes, re-crawls)? Each source is reduced
# to its distinct word-K-shingle hash set; the pairwise Jaccard comes
# from one equi-join on the shingle hash (per-hash fan-out is bounded by
# the source count, never the corpus), and set sizes ride a broadcast.
# This is the report that decides source-level drops before any
# document-level pass spends compute.
# ---------------------------------------------------------------------------
SRC_OVERLAP_TOP = 20


@register(
    "source_overlap_jaccard",
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT source,
                   {md5_int_sql(f'''array_to_string(
                        toks[i + 1 : i + {SHINGLE_K}], ' ')''')}
                       AS h
            FROM (
                SELECT source, toks,
                       UNNEST(range(0, greatest(len(toks) - {SHINGLE_K}, 0)
                                       + 1)) AS i
                FROM (SELECT source, string_split({_NORM_SQL}, ' ') AS toks
                      FROM documents)
            )
        ),
        sizes AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
        ),
        inter AS (
            SELECT a.source AS s1, b.source AS s2,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT i.s1, i.s2, i.n_shared, z1.n AS n1, z2.n AS n2,
               CAST((2 * i.n_shared * 1000000
                     + (z1.n + z2.n - i.n_shared))
                    // (2 * (z1.n + z2.n - i.n_shared)) AS BIGINT)
                   AS jaccard_micro
        FROM inter i
        JOIN sizes z1 ON z1.source = i.s1
        JOIN sizes z2 ON z2.source = i.s2
        ORDER BY jaccard_micro DESC, s1, s2
        LIMIT {SRC_OVERLAP_TOP}
    """,
    tags=("dedup", "web-corpus", "jaccard", "sources", "documents"),
)
def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    docs = load_table(spark, sf_dir, "documents")
    # r13: per-doc distinct hashes from an Arrow body (the interpreted
    # shingling HOF was the CPU hot spot — see _minhash_sig_batches);
    # the global distinct stays: it dedups ACROSS documents per source.
    sh = docs.select("source", "text").mapInArrow(
        _source_hash_rows_batches, "source string, h long"
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.select(F.col("source").alias("s1"), "h")
    b = sh.select(F.col("source").alias("s2"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    z1 = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    z2 = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    union = F.col("n1") + F.col("n2") - F.col("n_shared")
    return (
        inter.join(F.broadcast(z1), "s1")
        .join(F.broadcast(z2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            "n1",
            "n2",
            idiv(F.col("n_shared") * 2 * 1000000 + union, union * 2).alias(
                "jaccard_micro"
            ),
        )
        .orderBy(F.desc("jaccard_micro"), "s1", "s2")
        .limit(SRC_OVERLAP_TOP)
    )


# ---------------------------------------------------------------------------
# DEDUP PAIR PROVENANCE — are near-dup pairs mirrors WITHIN a source or
# contamination ACROSS sources? The answer routes the fix (drop one
# crawl vs tighten the crawler). Classifies the LSH candidate pairs by
# endpoint provenance; the pairs side is the (already banded, already
# bounded) candidate set, joined twice against the slim (doc_id, source)
# projection. Rollup is two rows.
# ---------------------------------------------------------------------------
@register(
    "dedup_pair_provenance",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx
             AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
        SELECT CASE WHEN da.source = db.source THEN 1 ELSE 0 END
                   AS same_source,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT p.doc_a) + COUNT(DISTINCT p.doc_b)
                    AS BIGINT) AS n_endpoint_slots
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
        GROUP BY 1
    """,
    tags=("dedup", "lsh", "provenance", "documents"),
)
def dedup_pair_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.when(F.col("src_a") == F.col("src_b"), 1)
            .otherwise(0)
            .alias("same_source")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.countDistinct("doc_a") + F.countDistinct("doc_b"))
            .cast("long")
            .alias("n_endpoint_slots"),
        )
    )


# ---------------------------------------------------------------------------
# DEDUP TRANSITIVITY AUDIT — is "near-duplicate" transitive enough to
# cluster? Wedge/triangle census over the LSH candidate-pair graph: a
# high closure rate justifies connected-component collapsing
# (dedup_connected_components); a low one means clusters over-merge and
# the keep-best policy needs pairwise verification. Wedges come from the
# degree table (no path enumeration); triangles from one ordered
# two-hop join constrained a<b<c — both sides are the bounded candidate
# graph, never the corpus.
# ---------------------------------------------------------------------------
@register(
    "dedup_transitivity_audit",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        -- MATERIALIZED: edges feeds the triangle triple-join AND five
        -- scalar subqueries; inlined, each re-runs the whole
        -- shingle->minhash->band pipeline (measured 16.4 s -> sub-second
        -- at sf0.1)
        sigs AS MATERIALIZED ({_SIGS_SQL}),
        bands AS MATERIALIZED ({_BANDS_SQL}),
        edges AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM bands a
            JOIN bands b
              ON a.band_idx = b.band_idx
             AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        ),
        deg AS MATERIALIZED (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
            ) GROUP BY 1
        ),
        tri AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
                   AS n_wedges,
               (SELECT t FROM tri) AS n_triangles,
               CAST((2 * 3 * (SELECT t FROM tri) * 10000
                     + (SELECT SUM(d * (d - 1) // 2) FROM deg))
                    // (2 * (SELECT SUM(d * (d - 1) // 2) FROM deg))
                    AS BIGINT) AS closure_bp
    """,
    tags=("dedup", "lsh", "graph", "audit", "documents"),
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    edges = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=False)  # degree, two-hop, and closure all read it
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    wedges = deg.agg(
        F.sum(idiv(F.col("d") * (F.col("d") - 1), 2)).cast("long").alias("w")
    )
    counts = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        counts.crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            idiv(
                F.col("t") * 3 * 2 * 10000 + F.col("w"), F.col("w") * 2
            ).alias("closure_bp"),
        )
    )


# ---------------------------------------------------------------------------
# DEDUP PIPELINE COMPOSITION — the report a real corpus run needs: the
# four dedup stages (URL-canonical → exact text → MinHash-LSH → semantic
# embedding-cosine) composed into one per-stage survivor funnel. Each
# stage's loser set is computed INDEPENDENTLY over the full corpus by the
# existing stage builders (at 100 TB the four loser sets materialize in
# parallel — no stage waits on upstream recomputation), and attribution
# is by PRECEDENCE: a document removed by several stages counts against
# the earliest, so the funnel telescopes exactly (n_out of stage k is
# n_in of stage k+1). Reuses dedup_url_canonical / dedup_exact /
# dedup_minhash_lsh / dedup_embedding_cosine logic verbatim — one new
# oracle, zero new dedup math.
# ---------------------------------------------------------------------------
_PIPELINE_STAGES = (
    (1, "url_canonical"),
    (2, "exact_text"),
    (3, "minhash_lsh"),
    (4, "semantic_cosine"),
)


def _pipeline_composition_oracle() -> str:
    from kafka_stream_job_spark.operators.similarity import (
        _DOT_SQL,
        _bucket_sql,
    )
    from kafka_stream_job_spark.operators.similarity import (
        _NORM_SQL as _VEC_NORM_SQL,
    )

    canon = _CANON_STEPS_SQL.format(u=_URL_SQL)
    return f"""
        WITH canon AS (
            SELECT doc_id, {canon} AS canonical_url FROM documents
        ),
        url_losers AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep
                FROM canon
            ) WHERE doc_id > keep
        ),
        exact_losers AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       MIN(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS keep
                FROM documents
            ) WHERE doc_id > keep
        ),
        shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        mh_pairs AS ({_PAIRS_SQL}),
        mh_losers AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs),
        buckets AS (
            SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
            FROM embeddings
            WHERE vec_id IN (SELECT doc_id FROM documents)
        ),
        sem_pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM buckets a
            JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                  / ({_VEC_NORM_SQL.format(a='a.embedding')}
                     * {_VEC_NORM_SQL.format(a='b.embedding')}) > 0.25
        ),
        sem_losers AS (SELECT DISTINCT doc_b AS doc_id FROM sem_pairs),
        staged AS (
            SELECT d.doc_id,
                   CASE WHEN u.doc_id IS NOT NULL THEN 1
                        WHEN e.doc_id IS NOT NULL THEN 2
                        WHEN m.doc_id IS NOT NULL THEN 3
                        WHEN s.doc_id IS NOT NULL THEN 4
                        ELSE 0 END AS first_removed
            FROM documents d
            LEFT JOIN url_losers u ON u.doc_id = d.doc_id
            LEFT JOIN exact_losers e ON e.doc_id = d.doc_id
            LEFT JOIN mh_losers m ON m.doc_id = d.doc_id
            LEFT JOIN sem_losers s ON s.doc_id = d.doc_id
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN first_removed = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS r1,
                   CAST(SUM(CASE WHEN first_removed = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS r2,
                   CAST(SUM(CASE WHEN first_removed = 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS r3,
                   CAST(SUM(CASE WHEN first_removed = 4 THEN 1 ELSE 0 END)
                        AS BIGINT) AS r4
            FROM staged
        )
        SELECT CAST(1 AS BIGINT) AS stage_idx, 'url_canonical' AS stage,
               n AS n_in, r1 AS n_removed, n - r1 AS n_out FROM c
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'exact_text', n - r1, r2,
               n - r1 - r2 FROM c
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'minhash_lsh', n - r1 - r2, r3,
               n - r1 - r2 - r3 FROM c
        UNION ALL
        SELECT CAST(4 AS BIGINT), 'semantic_cosine', n - r1 - r2 - r3, r4,
               n - r1 - r2 - r3 - r4 FROM c
    """


@register(
    "dedup_pipeline_composition",
    oracle=_pipeline_composition_oracle(),
    tags=("dedup", "pipeline", "funnel", "documents", "embeddings"),
)
def dedup_pipeline_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w_url = Window.partitionBy("canonical_url")
    url_losers = (
        docs.select("doc_id", _canonical_url(_url_col()).alias("canonical_url"))
        .withColumn("keep", F.min("doc_id").over(w_url))
        .filter(F.col("doc_id") > F.col("keep"))
        .select("doc_id")
    )
    w_fp = Window.partitionBy("fingerprint")
    exact_losers = (
        docs.select("doc_id", F.md5(_norm_text()).alias("fingerprint"))
        .withColumn("keep", F.min("doc_id").over(w_fp))
        .filter(F.col("doc_id") > F.col("keep"))
        .select("doc_id")
    )
    mh_losers = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    sem_losers = (
        dedup_embedding_cosine(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flagged = (
        docs.select("doc_id")
        .join(url_losers.withColumn("u", F.lit(1)), "doc_id", "left")
        .join(exact_losers.withColumn("e", F.lit(1)), "doc_id", "left")
        .join(mh_losers.withColumn("m", F.lit(1)), "doc_id", "left")
        .join(sem_losers.withColumn("s", F.lit(1)), "doc_id", "left")
        .select(
            F.when(F.col("u").isNotNull(), 1)
            .when(F.col("e").isNotNull(), 2)
            .when(F.col("m").isNotNull(), 3)
            .when(F.col("s").isNotNull(), 4)
            .otherwise(0)
            .alias("first_removed")
        )
    )
    c = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("first_removed") == k, 1).otherwise(0))
            .cast("long")
            .alias(f"r{k}")
            for k, _ in _PIPELINE_STAGES
        ],
    )
    # telescope the funnel: n_out of stage k feeds n_in of stage k+1
    rows = []
    n_in = F.col("n")
    for k, label in _PIPELINE_STAGES:
        removed = F.col(f"r{k}")
        rows.append(
            F.struct(
                F.lit(k).cast("long").alias("stage_idx"),
                F.lit(label).alias("stage"),
                n_in.cast("long").alias("n_in"),
                removed.cast("long").alias("n_removed"),
                (n_in - removed).cast("long").alias("n_out"),
            )
        )
        n_in = n_in - removed
    return c.select(F.explode(F.array(*rows)).alias("row")).select("row.*")


# ---------------------------------------------------------------------------
# LSH INDEX MAINTENANCE — the other half of dedup_incremental_delta
# (r10 brief #5c): that op flags which INCOMING docs near-dup the
# corpus; this one reports what the same batch does to the FROZEN band
# index itself — the state-sizing question a streaming dedup service
# answers before appending: per band, how many postings arrive, how
# many land in existing buckets vs open new ones, and the worst bucket
# size after the append (the LSH hot-bucket skew signal). Same frozen
# split (incr-hash % INCR_MOD), same banded signatures. Scale shape:
# two (band_idx, band_sig)-keyed aggregates and one equi-join between
# them — the join carries BUCKET summaries, never doc pairs, so the
# report is linear in distinct buckets regardless of duplication skew.
# ---------------------------------------------------------------------------
@register(
    "dedup_lsh_index_maintenance",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sigs AS ({_SIGS_SQL}),
        bands AS ({_BANDS_SQL}),
        side AS (
            SELECT doc_id,
                   CASE WHEN {md5_int_sql("doc_id", "incr:")} % {INCR_MOD} = 0
                        THEN 'in' ELSE 'corpus' END AS side
            FROM documents
        ),
        index_b AS (
            SELECT band_idx, band_sig, CAST(COUNT(*) AS BIGINT) AS idx_n
            FROM bands b JOIN side s ON s.doc_id = b.doc_id
            WHERE s.side = 'corpus'
            GROUP BY 1, 2
        ),
        newp AS (
            SELECT band_idx, band_sig, CAST(COUNT(*) AS BIGINT) AS add_n
            FROM bands b JOIN side s ON s.doc_id = b.doc_id
            WHERE s.side = 'in'
            GROUP BY 1, 2
        ),
        idxs AS (
            SELECT band_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_index_buckets,
                   CAST(MAX(idx_n) AS BIGINT) AS max_bucket_before
            FROM index_b GROUP BY 1
        ),
        adds AS (
            SELECT n.band_idx,
                   CAST(SUM(n.add_n) AS BIGINT) AS n_new_postings,
                   CAST(SUM(CASE WHEN i.idx_n IS NOT NULL THEN n.add_n
                                 ELSE 0 END) AS BIGINT) AS n_into_existing,
                   CAST(SUM(CASE WHEN i.idx_n IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new_buckets,
                   CAST(MAX(COALESCE(i.idx_n, 0) + n.add_n) AS BIGINT)
                       AS max_appended
            FROM newp n
            LEFT JOIN index_b i
              ON i.band_idx = n.band_idx AND i.band_sig = n.band_sig
            GROUP BY 1
        )
        SELECT CAST(a.band_idx AS BIGINT) AS band_idx,
               x.n_index_buckets, x.max_bucket_before,
               a.n_new_postings, a.n_into_existing, a.n_new_buckets,
               CAST(greatest(x.max_bucket_before, a.max_appended) AS BIGINT)
                   AS max_bucket_after
        FROM adds a JOIN idxs x ON x.band_idx = a.band_idx
    """,
    tags=("dedup", "lsh", "incremental", "index", "documents"),
)
def dedup_lsh_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band index-append report: frozen corpus index vs incoming
    postings. Reference parity: none (SURVEY.md §2.7); north-star
    incremental-ingestion extension paired with dedup_incremental_delta.
    """
    return lsh_index_report(
        minhash_signatures(spark, sf_dir),
        load_table(spark, sf_dir, "documents").select("doc_id"),
    )


def lsh_index_report(sigs: DataFrame, docs: DataFrame) -> DataFrame:
    """Index-append report from converged (doc_id, h0..h15) signatures
    plus the doc_id universe — shared verbatim by the batch query and
    its streaming twin (which drains the per-doc signature mins in
    complete mode; this assembles post-stream)."""
    incr = md5_int("doc_id", "incr:") % INCR_MOD
    incoming_ids = docs.filter(incr == 0)
    corpus_ids = docs.filter(incr != 0)
    banded = minhash_bands(sigs.localCheckpoint(eager=False))
    index_b = (
        banded.join(corpus_ids, "doc_id", "left_semi")
        .groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).cast("long").alias("idx_n"))
        .localCheckpoint(eager=False)  # feeds both idxs and the append join
    )
    newp = (
        banded.join(incoming_ids, "doc_id", "left_semi")
        .groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).cast("long").alias("add_n"))
    )
    idxs = index_b.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_index_buckets"),
        F.max("idx_n").cast("long").alias("max_bucket_before"),
    )
    adds = (
        newp.join(index_b, ["band_idx", "band_sig"], "left")
        .groupBy("band_idx")
        .agg(
            F.sum("add_n").cast("long").alias("n_new_postings"),
            F.sum(
                F.when(F.col("idx_n").isNotNull(), F.col("add_n")).otherwise(0)
            )
            .cast("long")
            .alias("n_into_existing"),
            F.sum(F.when(F.col("idx_n").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new_buckets"),
            F.max(F.coalesce(F.col("idx_n"), F.lit(0)) + F.col("add_n"))
            .cast("long")
            .alias("max_appended"),
        )
    )
    return adds.join(idxs, "band_idx").select(
        F.col("band_idx").cast("long").alias("band_idx"),
        "n_index_buckets",
        "max_bucket_before",
        "n_new_postings",
        "n_into_existing",
        "n_new_buckets",
        F.greatest(F.col("max_bucket_before"), F.col("max_appended"))
        .cast("long")
        .alias("max_bucket_after"),
    )
