"""Independent-reference tests: tiny crafted corpora run through the
REGISTERED Spark operators and compared against from-scratch pure-Python
implementations written directly from the operator definitions.

The DuckDB oracle proves Spark and DuckDB agree; these prove the shared
definition itself is the intended one (an engine-vs-engine check cannot
catch both engines computing the same wrong thing)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_stream_job_spark.registry import all_specs

SPECS = all_specs()


def _mk_docs_dir(tmp_path, texts):
    tbl = pa.table(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = tmp_path / "micro_sf"
    d.mkdir()
    pq.write_table(tbl, d / "documents.parquet")
    return str(d)


def _md5_28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def _round_half_away(x: float) -> int:
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def _pround(x: float, scale: int) -> float:
    f = float(10**scale)
    return _round_half_away(x * f) / f + 0.0


def _norm_tokens(text: str) -> list[str]:
    import re

    return re.sub(r"\s+", " ", text).strip().lower().split(" ")


def _cdc_chunks_reference(text: str):
    """Pure-Python re-derivation of content_defined_chunks for one doc."""
    from kafka_stream_job_spark.operators.pipeline import CDC_MOD
    from kafka_stream_job_spark.operators.text import ROLL_B, ROLL_P, ROLL_W

    toks = _norm_tokens(text)
    n = len(toks)
    hh = [_md5_28(t) for t in toks]
    cuts = []
    if n >= ROLL_W:
        for i in range(0, n - ROLL_W + 1):
            acc = hh[i] % ROLL_P
            for k in range(1, ROLL_W):
                acc = (acc * ROLL_B + hh[i + k]) % ROLL_P
            if acc % CDC_MOD == 0:
                cuts.append(i + ROLL_W)
    vc = [j for j in cuts if j < n]
    starts = [1] + [j + 1 for j in vc]
    ends = vc + [n]
    out = []
    for k, (s, e) in enumerate(zip(starts, ends)):
        chunk = " ".join(toks[s - 1 : e])
        out.append(
            (k, s, e - s + 1, hashlib.md5(chunk.encode()).hexdigest()[:16])
        )
    return out


def test_cdc_chunks_match_pure_python_reference(spark, tmp_path):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4,
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen fourteen fifteen sixteen " * 3,
        "short doc",  # below the rolling window width → single chunk
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the fence " * 2,
    ]
    sf = _mk_docs_dir(tmp_path, texts)
    got = {
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_tok"], r["chunk_fp"])
        for r in SPECS["content_defined_chunks"].fn(spark, sf).collect()
    }
    want = {
        (doc_id, k, s, ln, fp)
        for doc_id, text in enumerate(texts)
        for (k, s, ln, fp) in _cdc_chunks_reference(text)
    }
    assert got == want


def test_repeated_spans_match_pure_python_reference(spark, tmp_path):
    from kafka_stream_job_spark.operators.dedup import SPAN_MIN_DOCS, SPAN_N

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly SPAN_N tokens
    texts = [
        f"prefixa {shared} sufa",
        f"prefixb longer here {shared} sufb tail",
        f"{shared} {shared}",  # twice in one doc → n_occ credits both
        "completely different words without any overlap at all zzz yyy",
    ]
    assert len(shared.split()) == SPAN_N
    sf = _mk_docs_dir(tmp_path, texts)
    got = {
        (r["span"], r["n_docs"], r["n_occ"])
        for r in SPECS["repeated_ngram_spans"].fn(spark, sf).collect()
    }
    # reference: slide an 8-token window over every normalized doc
    occ = Counter()
    docs_of = {}
    for doc_id, text in enumerate(texts):
        toks = _norm_tokens(text)
        for i in range(0, max(len(toks) - SPAN_N, -1) + 1):
            span = " ".join(toks[i : i + SPAN_N])
            if len(toks) >= SPAN_N:
                occ[span] += 1
                docs_of.setdefault(span, set()).add(doc_id)
    want = {
        (span, len(docs_of[span]), n)
        for span, n in occ.items()
        if len(docs_of[span]) >= SPAN_MIN_DOCS
    }
    assert want  # the fixture must actually produce cross-doc spans
    assert want <= got  # top-k may truncate, but fixture is far below k
    assert got == want


def test_bigram_lm_scores_match_pure_python_reference(spark, tmp_path):
    from kafka_stream_job_spark.operators.text import LM_UNATS

    texts = [
        "a b a b a b",
        "a b c d e f",
        "f e d c b a",
    ]
    sf = _mk_docs_dir(tmp_path, texts)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nats"])
        for r in SPECS["bigram_lm_score"].fn(spark, sf).collect()
    }
    # reference LM: add-1 smoothed bigram logprob in integer micro-nats
    bigrams = Counter()
    left = Counter()
    vocab = set()
    docs_bg = {}
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.lower().strip().split()]
        vocab.update(toks)
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        docs_bg[doc_id] = bgs
        for bg in bgs:
            bigrams[bg] += 1
            left[bg.split(" ")[0]] += 1
    V = len(vocab)
    want = {}
    for doc_id, bgs in docs_bg.items():
        unats = [
            _round_half_away(
                math.log((bigrams[bg] + 1) * 1.0 / (left[bg.split(" ")[0]] + V))
                * LM_UNATS
            )
            for bg in bgs
        ]
        score = sum(unats)
        want[doc_id] = (
            len(bgs),
            _pround((score / float(LM_UNATS)) / len(bgs), 4),
        )
    assert got == want


def test_mcnemar_clamps_to_zero_at_symmetric_point(spark, tmp_path):
    """Regression (r10 advice): the continuity-corrected McNemar
    statistic is max(|n10-n01|-1, 0)^2/(n10+n01) — at the exactly
    symmetric point n10 == n01 > 0 the clamp keeps it at 0, where the
    unclamped (|0|-1)^2 = 1 overstated asymmetry. Both engines must
    agree on the clamped form."""
    import duckdb

    from kafka_stream_job_spark.operators.pipeline import KAPPA_LEN_T

    texts = [
        # a=1 (long), b=0 (low type-token ratio): one token repeated
        "word " * ((KAPPA_LEN_T // 5) + 10),
        # a=0 (short), b=1 (all tokens distinct)
        "alpha beta gamma",
    ]
    sf = _mk_docs_dir(tmp_path, texts)
    spec = SPECS["rater_mcnemar_test"]
    got = spec.fn(spark, sf).collect()
    assert len(got) == 1
    row = got[0].asDict()
    assert (row["n10"], row["n01"]) == (1, 1), "fixture must hit n10==n01>0"
    assert row["mcnemar_micro"] == 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    oracle = con.execute(spec.oracle).fetchall()
    con.close()
    assert oracle == [(2, 1, 1, 0)]


def test_neyman_key_survives_int64_overflow_scale(spark):
    """Regression (r10 advice): the N_h·S_h variance key is computed in
    DOUBLE — at 100 TB-scale strata (1e8 docs × 1e12 Σx²) the int64
    product n_docs·Σx² exceeds 2^63, where DuckDB raises and Spark
    silently wraps. Pin that (a) the planned expression matches the
    Python float reference at overflow scale, and (b) the DuckDB form
    of the fixed expression agrees, while the old BIGINT form errors."""
    import duckdb

    from kafka_stream_job_spark.operators.pipeline import neyman_key_micro_expr

    n_docs, sum_len, sum_len_sq = 200_000_000, 10_000_000_000, 5_000_000_000_000
    assert n_docs * sum_len_sq > 2**63  # the scale the fix is about
    want = _round_half_away(
        math.sqrt(
            float(n_docs) * float(sum_len_sq) - float(sum_len) * float(sum_len)
        )
        * 1_000_000.0
    )

    df = spark.createDataFrame(
        [(n_docs, sum_len, sum_len_sq)], "n_docs long, sum_len long, sum_len_sq long"
    )
    got = df.select(neyman_key_micro_expr()).collect()[0][0]
    assert got == want

    con = duckdb.connect()
    fixed = con.execute(
        f"""SELECT CAST(ROUND(sqrt(CAST({n_docs} AS DOUBLE)
                                       * CAST({sum_len_sq} AS DOUBLE)
                                   - CAST({sum_len} AS DOUBLE)
                                       * CAST({sum_len} AS DOUBLE))
                              * 1000000.0) AS BIGINT)"""
    ).fetchone()[0]
    assert fixed == want
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(
            f"""SELECT sqrt(CAST(CAST({n_docs} AS BIGINT)
                                     * CAST({sum_len_sq} AS BIGINT)
                                 - CAST({sum_len} AS BIGINT)
                                     * CAST({sum_len} AS BIGINT) AS DOUBLE))"""
        )
    con.close()


def _unigram_fit_reference(texts):
    """From-scratch pure-Python re-derivation of tokenizer_unigram_fit:
    blocks -> seed counts -> two hard-EM (Viterbi) rounds -> top pieces.
    Written directly from the operator definition, independent of the
    shared _UNI_SPINE table (segmentations enumerated recursively here),
    so a spine-generation bug fails this test even though both engines
    share the spine."""
    from kafka_stream_job_spark.operators.text import (
        UNI_BLOCK,
        UNI_MAX_TOK,
        UNI_PIECE_MAX,
        UNI_TOPN,
    )

    bcnt: Counter = Counter()
    for text in texts:
        for tok in _norm_tokens(text):
            if not tok:
                continue
            tok = tok[:UNI_MAX_TOK]
            for k in range(0, len(tok), UNI_BLOCK):
                bcnt[tok[k : k + UNI_BLOCK]] += 1

    cands: Counter = Counter()
    for block, c in bcnt.items():
        for i in range(len(block)):
            for l in range(1, min(UNI_PIECE_MAX, len(block) - i) + 1):
                cands[block[i : i + l]] += c
    tot0 = sum(cands.values())
    v0 = len(cands)
    lp0 = {
        p: _round_half_away(math.log(c / tot0) * 1e6) for p, c in cands.items()
    }

    def segmentations(blen):
        # all (mask, [(start, len)...]) with parts <= UNI_PIECE_MAX;
        # mask bit k set = cut after char k+1 (the operator's identity)
        out = []
        for mask in range(1 << max(blen - 1, 0)):
            segs, prev, ok = [], 0, True
            for pos in range(1, blen + 1):
                if pos == blen or (mask >> (pos - 1)) & 1:
                    if pos - prev > UNI_PIECE_MAX:
                        ok = False
                        break
                    segs.append((prev + 1, pos - prev))
                    prev = pos
            if ok:
                out.append((mask, segs))
        return out

    def viterbi_counts(lp):
        cnt: Counter = Counter()
        for block, c in bcnt.items():
            best = max(
                segmentations(len(block)),
                key=lambda ms: (
                    sum(lp[block[s - 1 : s - 1 + l]] for s, l in ms[1]),
                    -ms[0],
                ),
            )
            for s, l in best[1]:
                cnt[block[s - 1 : s - 1 + l]] += c
        return cnt

    cnt1 = viterbi_counts(lp0)
    tot1 = sum(cnt1.values())
    lp1 = {
        p: _round_half_away(math.log((cnt1.get(p, 0) + 1) / (tot1 + v0)) * 1e6)
        for p in cands
    }
    cnt2 = viterbi_counts(lp1)
    tot2 = sum(cnt2.values())
    head = sorted(cnt2.items(), key=lambda kv: (-kv[1], kv[0]))[:UNI_TOPN]
    return [
        (
            rank + 1,
            piece,
            len(piece),
            n,
            _round_half_away(math.log((n + 1) / (tot2 + v0)) * 1e6),
        )
        for rank, (piece, n) in enumerate(head)
    ]


def test_unigram_fit_matches_pure_python_reference(spark, tmp_path):
    texts = [
        "interesting interesting rest rest rest nest",
        "the interest in resting is interesting",
        "abcd abcd abcdabcd xyz",
        "a ab abc abcd abcde abcdef",
        "zzzz zzzz zzzzzzzz",
    ]
    sf = _mk_docs_dir(tmp_path, texts)
    got = [
        (r["rank"], r["piece"], r["piece_len"], r["n_uses"], r["lp_micro"])
        for r in SPECS["tokenizer_unigram_fit"]
        .fn(spark, sf)
        .orderBy("rank")
        .collect()
    ]
    want = _unigram_fit_reference(texts)
    assert got == want


def test_sprt_first_crossing_matches_pure_python_walk(spark, tmp_path):
    """Crafted event sequence through the REGISTERED events_sprt_monitor
    vs a from-scratch Python walk of Wald's test — pins the
    first-crossing semantics (strictly the FIRST index whose cumulative
    LLR touches a boundary, ordered by (ts, event_id)) independently of
    the SQL oracle that shares the engine formula."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_job_spark.operators.relational import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_INC0,
        _SPRT_INC1,
    )

    # long purchase run first (drives LLR up across A), then views
    types = ["purchase"] * 40 + ["view"] * 30
    base = datetime.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": list(range(len(types))),
            "ts": [base + datetime.timedelta(seconds=i) for i in range(len(types))],
            "user_id": [i % 3 for i in range(len(types))],
            "event_type": types,
            "value": [1.0] * len(types),
            "props": ["{}"] * len(types),
        }
    )
    d = tmp_path / "sprt_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    row = SPECS["events_sprt_monitor"].fn(spark, str(d)).collect()[0].asDict()

    llr, first_up, first_down = 0, 0, 0
    for i, t in enumerate(types, start=1):
        llr += _SPRT_INC1 if t == "purchase" else _SPRT_INC0
        if first_up == 0 and llr >= _SPRT_A:
            first_up = i
        if first_down == 0 and llr <= _SPRT_B:
            first_down = i
    assert first_up > 0, "fixture must actually cross the upper boundary"
    assert row["n_events"] == len(types)
    assert row["n_success"] == 40
    assert row["llr_final_milli"] == llr
    assert row["first_up_idx"] == first_up
    assert row["first_down_idx"] == first_down
    assert row["decision"] == "accept_h1"


def test_cuped_matches_pure_python_reference(spark, tmp_path):
    """Crafted two-period orders through the REGISTERED
    orders_cuped_adjustment vs a from-scratch Python CUPED fit
    (pooled theta over the customer universe with zero-fill, per-arm
    adjusted means) — independent of the SQL oracle sharing the engine
    formula."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_job_spark.operators.relational import CUPED_SPLIT

    custkeys = list(range(1, 13))
    pre = datetime.datetime(1997, 1, 1)
    post = datetime.datetime(1999, 1, 1)
    orders_rows = []
    # pre spend k*100.37, post spend k*150.11 for even keys; odd keys
    # have pre only — exercises the zero-fill path
    oid = 0
    for k in custkeys:
        orders_rows.append((oid, k, pre, k * 100.37))
        oid += 1
        if k % 2 == 0:
            orders_rows.append((oid, k, post, k * 150.11))
            oid += 1
    o_tbl = pa.table(
        {
            "o_orderkey": [r[0] for r in orders_rows],
            "o_custkey": [r[1] for r in orders_rows],
            "o_orderstatus": ["F"] * len(orders_rows),
            "o_totalprice": [r[3] for r in orders_rows],
            "o_orderdate": [r[2] for r in orders_rows],
            "o_orderpriority": ["1-URGENT"] * len(orders_rows),
            "o_clerk": ["c"] * len(orders_rows),
            "o_shippriority": [0] * len(orders_rows),
            "o_comment": [""] * len(orders_rows),
        }
    )
    c_tbl = pa.table(
        {
            "c_custkey": custkeys + [99],  # 99 = customer with no orders
            "c_name": [f"c{k}" for k in custkeys] + ["c99"],
            "c_address": [""] * (len(custkeys) + 1),
            "c_nationkey": [0] * (len(custkeys) + 1),
            "c_phone": [""] * (len(custkeys) + 1),
            "c_acctbal": [0.0] * (len(custkeys) + 1),
            "c_mktsegment": ["BUILDING"] * (len(custkeys) + 1),
            "c_comment": [""] * (len(custkeys) + 1),
        }
    )
    d = tmp_path / "cuped_sf"
    d.mkdir()
    pq.write_table(o_tbl, d / "orders.parquet")
    pq.write_table(c_tbl, d / "customer.parquet")

    got = {
        r["arm"]: r.asDict()
        for r in SPECS["orders_cuped_adjustment"].fn(spark, str(d)).collect()
    }

    # pure-Python reference
    split = datetime.datetime.fromisoformat(CUPED_SPLIT)
    units = {}
    for k in custkeys + [99]:
        xc = sum(
            _round_half_away(r[3] * 100)
            for r in orders_rows
            if r[1] == k and r[2] < split
        )
        yc = sum(
            _round_half_away(r[3] * 100)
            for r in orders_rows
            if r[1] == k and r[2] >= split
        )
        arm = _md5_28(f"cuped:{k}") % 2
        units[k] = (arm, xc // 100, yc // 100)
    n = len(units)
    sx = sum(x for _, x, _ in units.values())
    sy = sum(y for _, _, y in units.values())
    sxx = sum(x * x for _, x, _ in units.values())
    syy = sum(y * y for _, _, y in units.values())
    sxy = sum(x * y for _, x, y in units.values())
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_red = 1.0 - (
        (n * syy - sy * sy) - (n * sxy - sx * sy) ** 2 / (n * sxx - sx * sx)
    ) / (n * syy - sy * sy)
    for arm in (0, 1):
        au = [(x, y) for a, x, y in units.values() if a == arm]
        an, ax, ay = len(au), sum(x for x, _ in au), sum(y for _, y in au)
        assert got[arm]["n_users"] == an
        assert got[arm]["pre_dollars"] == ax
        assert got[arm]["post_dollars"] == ay
        assert got[arm]["mean_post_centidollars"] == _round_half_away(
            ay / an * 100.0
        )
        assert got[arm]["mean_adj_centidollars"] == _round_half_away(
            (ay / an - theta * (ax / an - sx / n)) * 100.0
        )
        assert got[arm]["theta_micro"] == _round_half_away(theta * 1e6)
        assert got[arm]["var_reduction_bp"] == _round_half_away(var_red * 1e4)


def test_cuped_overflow_raises_loudly(spark):
    """Regression (r10 advice): past the exact-int64 design point the
    CUPED moments must fail LOUDLY on the Spark side, matching DuckDB's
    overflow-raise — never wrap into a confusing value mismatch. The
    engine pins ANSI mode on (session.ENGINE_DEFAULTS), so the quadratic
    moment raises ARITHMETIC_OVERFLOW; this test is the tripwire that
    fires if ANSI is ever switched off."""
    from kafka_stream_job_spark.operators.relational import cuped_assemble

    big = 3_100_000_000  # big^2 > 2^63: the x*x moment must overflow
    u = spark.createDataFrame(
        [(0, big, 5), (1, big, 7), (0, big - 100, 2)],
        "arm int, x long, y long",
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        cuped_assemble(u).collect()


def test_distributed_primitives_guard_reserved_names(spark):
    """Regression (r10 advice): the distributed-order primitives stamp
    temp columns (_pid, _lcum{i}, ...) and join back on _pid; a caller
    column with a reserved name must raise up front instead of silently
    corrupting ranks/sums."""
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_max,
        distributed_prefix_sums,
        distributed_rank,
    )

    df = spark.range(10).select(
        F.col("id"), F.lit(1).alias("v"), F.lit(0).alias("_pid")
    )
    for fn in (
        lambda d: distributed_rank(d, [F.col("id")]),
        lambda d: distributed_prefix_sums(d, [F.col("id")], {"v": "run"}),
        lambda d: distributed_prefix_max(d, [F.col("id")], "v"),
    ):
        with pytest.raises(ValueError, match="_pid"):
            fn(df)
    # per-value temp names are guarded too (second sum -> _lcum1)
    df2 = spark.range(10).select(
        F.col("id"), F.lit(1).alias("v"), F.lit(2).alias("_lcum1")
    )
    with pytest.raises(ValueError, match="_lcum1"):
        distributed_prefix_sums(
            df2, [F.col("id")], {"v": "a", "_lcum1": "b"}
        )
    # clean inputs still work and produce the right running sum
    clean = spark.range(5).select(F.col("id"), F.lit(2).alias("v"))
    rows = (
        distributed_prefix_sums(clean, [F.col("id")], {"v": "run"})
        .orderBy("id")
        .collect()
    )
    assert [r["run"] for r in rows] == [2, 4, 6, 8, 10]


def test_sprt_fold_rejects_out_of_order_batches():
    """Regression (r10 advice): streaming_sprt_monitor's walk assumes
    global (ts_us, event_id) order ACROSS micro-batches — true for the
    single-file replay source, silently wrong otherwise. The shared fold
    now asserts it: a batch whose first key precedes (or equals) the
    last folded key must raise, and in-order batch splits must fold to
    exactly the single-batch result."""
    import pandas as pd

    from kafka_stream_job_spark.operators.relational import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_INC0,
        _SPRT_INC1,
    )
    from kafka_stream_job_spark.streaming.pipeline import _sprt_fold_ordered

    def mk(rows):
        return pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "x": [r[2] for r in rows],
            }
        )

    init = (0, 0, 0, 0, 0, -(1 << 62), -(1 << 62))
    args = (_SPRT_A, _SPRT_B, _SPRT_INC0, _SPRT_INC1)
    all_rows = [(10, 1, 1), (10, 2, 0), (20, 3, 1), (30, 4, 1), (40, 5, 0)]
    whole = _sprt_fold_ordered(init, mk(all_rows), *args)
    split = _sprt_fold_ordered(init, mk(all_rows[:2]), *args)
    split = _sprt_fold_ordered(split, mk(all_rows[2:]), *args)
    assert split == whole
    assert whole[5:] == (40, 5)  # last (ts, event_id) tracked

    # batch 2 reaches back before batch 1's frontier -> loud failure
    st = _sprt_fold_ordered(init, mk([(10, 1, 1), (20, 2, 0)]), *args)
    with pytest.raises(ValueError, match="event-time-ordered"):
        _sprt_fold_ordered(st, mk([(15, 9, 1)]), *args)
    # equal key (duplicate delivery) is also a contract violation
    with pytest.raises(ValueError, match="event-time-ordered"):
        _sprt_fold_ordered(st, mk([(20, 2, 1)]), *args)
    # same ts, later event_id is fine (tie broken by event_id)
    out = _sprt_fold_ordered(st, mk([(20, 3, 1)]), *args)
    assert out[0] == 3


def test_distributed_adjacent_changes_matches_python(spark):
    """The adjacency primitive behind events_runs_test vs a from-scratch
    sorted-Python walk, on a value pattern crafted to put changes both
    INSIDE range partitions and ACROSS their boundaries."""
    import random

    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators._distributed import (
        distributed_adjacent_changes,
    )

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 1)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, x int")
    got = distributed_adjacent_changes(
        df, [F.col("k")], "x", n_parts=16
    ).collect()[0]["n_changes"]
    xs = [x for _, x in sorted(rows)]
    want = sum(1 for a, b in zip(xs, xs[1:]) if a != b)
    assert got == want
    # empty input -> 0, single row -> 0
    empty = spark.createDataFrame([], "k long, x int")
    assert (
        distributed_adjacent_changes(empty, [F.col("k")], "x").collect()[0][
            "n_changes"
        ]
        == 0
    )
    one = spark.createDataFrame([(1, 1)], "k long, x int")
    assert (
        distributed_adjacent_changes(one, [F.col("k")], "x").collect()[0][
            "n_changes"
        ]
        == 0
    )


def test_runs_test_matches_pure_python_walk(spark, tmp_path):
    """Crafted event sequence through the REGISTERED events_runs_test vs
    a from-scratch Python Wald–Wolfowitz computation — independent of
    the SQL oracle that shares the engine formula."""
    import datetime
    import math as _math

    import pyarrow as pa
    import pyarrow.parquet as pq

    # deliberate clumping: long runs, then alternation
    types = (
        ["purchase"] * 10 + ["view"] * 10 + ["purchase", "view"] * 15
        + ["purchase"] * 5
    )
    base = datetime.datetime(2024, 1, 1)
    tbl = pa.table(
        {
            "event_id": list(range(len(types))),
            "ts": [
                base + datetime.timedelta(seconds=i) for i in range(len(types))
            ],
            "user_id": [i % 7 for i in range(len(types))],
            "event_type": types,
            "value": [1.0] * len(types),
            "props": ["{}"] * len(types),
        }
    )
    d = tmp_path / "runs_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    row = SPECS["events_runs_test"].fn(spark, str(d)).collect()[0].asDict()

    xs = [1 if t == "purchase" else 0 for t in types]
    n, n1 = len(xs), sum(xs)
    r = 1 + sum(1 for a, b in zip(xs, xs[1:]) if a != b)
    m = 2.0 * n1 * (n - n1)
    e = 1.0 + m / n
    v = (m * (m - n)) / ((float(n) * n) * (n - 1.0))
    z = (r - e) / _math.sqrt(v)
    assert row["n_events"] == n
    assert row["n_success"] == n1
    assert row["n_runs"] == r
    assert row["expected_runs_micro"] == round(e * 1e6)
    assert row["z_micro"] == round(z * 1e6)


def test_runs_fold_rejects_out_of_order_batches():
    """streaming_runs_monitor's shared fold: in-order batch splits fold
    to exactly the single-batch result (boundary change counted once);
    a batch reaching back before the frontier raises (shared
    _ordered_batch_or_raise contract with the SPRT monitor)."""
    import pandas as pd

    from kafka_stream_job_spark.streaming.pipeline import _runs_fold_ordered

    def mk(rows):
        return pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "x": [r[2] for r in rows],
            }
        )

    init = (0, 0, 0, -1, -(1 << 62), -(1 << 62))
    rows = [(10, 1, 1), (20, 2, 1), (30, 3, 0), (40, 4, 1), (50, 5, 1)]
    whole = _runs_fold_ordered(init, mk(rows))
    split = _runs_fold_ordered(init, mk(rows[:3]))
    split = _runs_fold_ordered(split, mk(rows[3:]))
    assert split == whole
    # (n, n1, changes): 5 events, 4 successes, runs 1,1,0,1,1 -> 2 changes
    assert whole[:3] == (5, 4, 2)
    # boundary change across the split is counted exactly once
    a = _runs_fold_ordered(init, mk([(10, 1, 1), (20, 2, 1)]))
    b = _runs_fold_ordered(a, mk([(30, 3, 0)]))
    assert b[2] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="event-time-ordered"):
        _runs_fold_ordered(b, mk([(25, 9, 1)]))
    # duplicate keys WITHIN one micro-batch also fail loudly (sorting
    # would otherwise hide them and the fold would double-count)
    with _pytest.raises(ValueError, match="duplicate"):
        _runs_fold_ordered(b, mk([(60, 7, 1), (60, 7, 0)]))


def test_permutation_test_matches_pure_python(spark, tmp_path):
    """Crafted events through the REGISTERED events_permutation_test vs
    a from-scratch Python permutation walk over the same 28 hash bits —
    independent of the SQL oracle sharing the engine formula."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    # 40 users, uneven purchase propensity so uplifts are non-trivial
    rows = []
    eid = 0
    base = datetime.datetime(2024, 3, 1)
    for u in range(40):
        n_ev = 3 + (u % 5)
        for i in range(n_ev):
            is_p = (u * 7 + i) % 3 == 0
            rows.append((eid, base + datetime.timedelta(seconds=eid), u,
                         "purchase" if is_p else "view"))
            eid += 1
    tbl = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    d = tmp_path / "perm_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    row = (
        SPECS["events_permutation_test"].fn(spark, str(d)).collect()[0]
        .asDict()
    )

    users = {}
    for _, _, u, t in rows:
        e, p = users.get(u, (0, 0))
        users[u] = (e + 1, p + (1 if t == "purchase" else 0))
    e_tot = sum(e for e, _ in users.values())
    p_tot = sum(p for _, p in users.values())

    def uplift(mask):
        e1 = sum(e for u, (e, _) in users.items() if mask(u))
        p1 = sum(p for u, (_, p) in users.items() if mask(u))
        return p1 * 1.0 / e1 - (p_tot - p1) * 1.0 / (e_tot - e1)

    obs = uplift(lambda u: _md5_28(f"perm:{u}") % 2 == 1)
    n_ge = sum(
        1
        for k in range(28)
        if abs(uplift(lambda u: (_md5_28(f"permbits:{u}") >> k) & 1 == 1))
        >= abs(obs)
    )
    assert row["n_users"] == 40
    assert row["n_events"] == e_tot
    assert row["n_purchases"] == p_tot
    assert row["obs_uplift_micro"] == _round_half_away(obs * 1e6)
    assert row["n_ge_obs"] == n_ge
    assert row["p_value_bp"] == n_ge * 10000 // 28


def test_split_leakage_assemble_omits_empty_splits(spark):
    """Regression (r11 self-review): the assemble must mirror the
    oracle's GROUP BY — a split holding zero documents gets NO row (the
    explode over the literal 3-struct array used to fabricate one)."""
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators.pipeline import (
        split_leakage_assemble,
    )

    fps3 = spark.createDataFrame(
        [("a", 2, 0, 1), ("b", 1, 0, 0)],
        "fp string, n_train long, n_val long, n_test long",
    )
    rows = {r["split"]: r.asDict() for r in split_leakage_assemble(fps3).collect()}
    assert set(rows) == {"train", "test"}  # no fabricated 'val' row
    assert rows["train"]["n_docs"] == 3
    assert rows["train"]["n_distinct_fp"] == 2
    assert rows["train"]["n_leaked_docs"] == 2  # fp 'a' spans 2 splits
    assert rows["test"]["n_leaked_docs"] == 1
    assert rows["train"]["leaked_fp_total"] == 1
    # fully empty input -> zero rows, matching the oracle
    empty = spark.createDataFrame(
        [], "fp string, n_train long, n_val long, n_test long"
    )
    assert split_leakage_assemble(empty).count() == 0


def test_mann_kendall_matches_pure_python(spark, tmp_path):
    """Crafted daily series through the REGISTERED
    events_mann_kendall_trend vs a from-scratch Python S / tie-corrected
    variance / z computation — independent of the SQL oracle sharing the
    engine formula. The fixture mixes a strongly increasing type, a
    flat (all-tied) type, and a noisy one."""
    import datetime
    import math as _math

    import pyarrow as pa
    import pyarrow.parquet as pq

    # per-type daily counts, day 0..9
    series = {
        "up": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],     # strict increase
        "flat": [4] * 10,                            # all tied -> var18=0
        "noisy": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3],
    }
    rows = []
    eid = 0
    base = datetime.datetime(2024, 5, 1)
    for t, counts in series.items():
        for day, c in enumerate(counts):
            for _ in range(c):
                rows.append(
                    (eid, base + datetime.timedelta(days=day, seconds=eid % 800), t)
                )
                eid += 1
    tbl = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[0] % 5 for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    d = tmp_path / "mk_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    got = {
        r["event_type"]: r.asDict()
        for r in SPECS["events_mann_kendall_trend"].fn(spark, str(d)).collect()
    }
    for t, cs in series.items():
        n = len(cs)
        s = sum(
            (1 if cs[j] > cs[i] else -1 if cs[j] < cs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = Counter(cs)
        tie_sum = sum(v * (v - 1) * (2 * v + 5) for v in ties.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie_sum
        if var18 <= 0:
            z = 0.0
        elif s > 0:
            z = (s - 1) / _math.sqrt(var18 / 18.0)
        elif s < 0:
            z = (s + 1) / _math.sqrt(var18 / 18.0)
        else:
            z = 0.0
        row = got[t]
        assert row["n_days"] == n
        assert row["s_stat"] == s
        assert row["var_s_x18"] == var18
        assert row["z_micro"] == _round_half_away(z * 1e6)
        want_trend = (
            "increasing" if row["z_micro"] >= 1_960_000
            else "decreasing" if row["z_micro"] <= -1_960_000
            else "none"
        )
        assert row["trend"] == want_trend
    assert got["up"]["trend"] == "increasing"
    assert got["flat"]["s_stat"] == 0 and got["flat"]["var_s_x18"] == 0
    assert got["flat"]["trend"] == "none"


def test_did_matches_pure_python(spark, tmp_path):
    """Crafted orders through the REGISTERED orders_did_estimator vs a
    from-scratch Python DiD (cell means in cents, pooled SE over
    whole-dollar values) — independent of the SQL oracle sharing the
    engine formula."""
    import datetime
    import math as _math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_job_spark.operators.relational import DID_SPLIT

    split = datetime.datetime.fromisoformat(DID_SPLIT)
    rows = []
    # 60 customers; price varies by customer and period so every cell
    # has non-trivial variance
    for ok in range(240):
        cust = ok % 60
        pre = ok % 2 == 0
        when = split + datetime.timedelta(days=-30 if pre else 30, hours=ok % 20)
        price = 100.0 + (ok % 17) * 13.37 + (0.0 if pre else (cust % 7) * 9.5)
        rows.append((ok, cust, when, price))
    tbl = pa.table(
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": [r[1] for r in rows],
            "o_orderdate": [r[2] for r in rows],
            "o_totalprice": [r[3] for r in rows],
            "o_orderstatus": ["F"] * len(rows),
            "o_orderpriority": ["1-URGENT"] * len(rows),
        }
    )
    d = tmp_path / "did_sf"
    d.mkdir()
    pq.write_table(tbl, d / "orders.parquet")

    got = {
        (r["arm"], r["period"]): r.asDict()
        for r in SPECS["orders_did_estimator"].fn(spark, str(d)).collect()
    }

    cells = {}
    for ok, cust, when, price in rows:
        arm = _md5_28(f"did:{cust}") % 2
        period = "pre" if when < split else "post"
        cents = _round_half_away(price * 100)
        dol = cents // 100
        c = cells.setdefault((arm, period), [0, 0, 0, 0])
        c[0] += 1
        c[1] += cents
        c[2] += dol
        c[3] += dol * dol

    def mean_c(a, p):
        n, sc, _, _ = cells[(a, p)]
        return sc * 1.0 / n

    def var_d(a, p):
        n, _, sd, sd2 = cells[(a, p)]
        return (n * sd2 - float(sd) * sd) / (n * (n - 1.0))

    did_cents = (mean_c(1, "post") - mean_c(1, "pre")) - (
        mean_c(0, "post") - mean_c(0, "pre")
    )
    se = _math.sqrt(
        sum(var_d(a, p) / cells[(a, p)][0]
            for a in (1, 0) for p in ("post", "pre"))
    )
    for (a, p), c in cells.items():
        row = got[(a, p)]
        assert row["n_orders"] == c[0]
        assert row["mean_order_cents"] == _round_half_away(c[1] / c[0])
        assert row["did_millicent"] == _round_half_away(did_cents * 1000)
        assert row["se_millidollar"] == _round_half_away(se * 1000)
        assert row["t_milli"] == _round_half_away(did_cents / 100.0 / se * 1000)


def test_brier_decomposition_matches_pure_python(spark, tmp_path):
    """Crafted events through the REGISTERED brier_score_decomposition
    vs a from-scratch Python Murphy decomposition in integer bp units —
    independent of the SQL oracle sharing the engine formula."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    # users with distinct purchase shares to fill several bins
    users = {0: (10, 0), 1: (10, 1), 2: (10, 3), 3: (10, 5),
             4: (10, 9), 5: (5, 5), 6: (20, 2), 7: (8, 4)}
    rows = []
    eid = 0
    base = datetime.datetime(2024, 6, 1)
    for u, (n, k) in users.items():
        for i in range(n):
            rows.append((eid, base + datetime.timedelta(seconds=eid), u,
                         "purchase" if i < k else "view"))
            eid += 1
    tbl = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    d = tmp_path / "brier_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    row = (
        SPECS["brier_score_decomposition"].fn(spark, str(d)).collect()[0]
        .asDict()
    )

    bins = {}
    n_tot = y_tot = bs_tot = 0
    for n, k in users.values():
        s = k * 10000 // n
        b = s // 1000
        e = bins.setdefault(b, [0, 0, 0, 0])  # n_b, sum_s, sum_y, brier
        e[0] += n
        e[1] += n * s
        e[2] += k
        e[3] += k * (10000 - s) ** 2 + (n - k) * s * s
        n_tot += n
        y_tot += k
        bs_tot += k * (10000 - s) ** 2 + (n - k) * s * s
    o = y_tot * 10000 // n_tot
    rel = sum(
        nb * ((ss // nb) - (sy * 10000 // nb)) ** 2
        for nb, ss, sy, _ in bins.values()
    ) // n_tot
    ow = sum(nb * (sy * 10000 // nb) for nb, _, sy, _ in bins.values())
    o2w = sum(nb * (sy * 10000 // nb) ** 2 for nb, _, sy, _ in bins.values())
    res = (o2w - 2 * o * ow + n_tot * o * o) // n_tot
    unc = o * (10000 - o) // 10000
    brier = bs_tot // n_tot
    assert row["n_events"] == n_tot
    assert row["n_bins"] == len(bins)
    assert row["brier_bp2"] == brier
    assert row["reliability_bp2"] == rel
    assert row["resolution_bp2"] == res
    assert row["uncertainty_bp2"] == unc
    assert row["residual_bp2"] == brier - (rel - res + unc)


def test_winsorize_audit_matches_pure_python(spark, tmp_path):
    """Crafted length distribution through the REGISTERED
    doc_length_winsorize_audit vs a from-scratch Python rank-selection
    winsorization — pins the exact quantile positions (max(1, n·q//100)
    of the (n_chars, doc_id) order) and the clip arithmetic."""
    texts = ["x" * ln for ln in
             [5, 7, 7, 9, 12, 15, 18, 22, 30, 41, 55, 80, 120, 200, 999]]
    sf = _mk_docs_dir(tmp_path, texts)
    row = (
        SPECS["doc_length_winsorize_audit"].fn(spark, sf).collect()[0]
        .asDict()
    )
    lens = sorted(len(t) for t in texts)
    n = len(lens)
    k05 = max(1, n * 5 // 100)
    k95 = max(1, n * 95 // 100)
    t05, t95 = lens[k05 - 1], lens[k95 - 1]
    clipped = [min(max(v, t05), t95) for v in lens]
    assert row["n_docs"] == n
    assert (row["p05_chars"], row["p95_chars"]) == (t05, t95)
    assert row["n_clipped_low"] == sum(1 for v in lens if v < t05)
    assert row["n_clipped_high"] == sum(1 for v in lens if v > t95)
    assert row["mean_before_milli"] == _round_half_away(sum(lens) * 1000 / n)
    assert row["mean_after_milli"] == _round_half_away(
        sum(clipped) * 1000 / n
    )


def test_wav_zcr_matches_pure_python(spark, tmp_path):
    """Crafted texts through the REGISTERED multimodal_wav_zcr_real vs a
    from-scratch Python walk of the character->PCM model — independent
    of both the numpy decode path and the SQL oracle. Includes exact
    zeros (chr(128) -> sample 0), which break runs under the strict
    product<0 definition."""
    texts = [
        "aZaZaZ",                      # alternating signs
        chr(200) * 4 + chr(50) * 4,    # one crossing
        "ab" + chr(128) + "YZ",        # a zero sample breaks the run
        chr(127) + chr(129) + chr(127) + chr(129),  # -256/+256 flips
    ]
    sf = _mk_docs_dir(tmp_path, texts)
    got = {
        r["doc_id"]: r.asDict()
        for r in SPECS["multimodal_wav_zcr_real"].fn(spark, sf).collect()
    }
    for doc_id, text in enumerate(texts):
        samples = [((ord(c) % 256) - 128) * 256 for c in text]
        nc = sum(1 for a, b in zip(samples, samples[1:]) if a * b < 0)
        row = got[doc_id]
        assert row["n_samples"] == len(samples)
        assert row["n_crossings"] == nc
        assert row["zcr_bp"] == nc * 10000 // (len(samples) - 1)
    # the zero-sample fixture must actually exercise the strict rule
    s2 = [((ord(c) % 256) - 128) * 256 for c in texts[2]]
    assert 0 in s2 and got[2]["n_crossings"] == 0


def test_permutation_assemble_degenerate_arm_yields_null(spark):
    """Regression (r11 ADVICE): an empty replica or observed arm must
    yield a NULL uplift (hit counts 0), not an ANSI DIVIDE_BY_ZERO
    raise. One user -> every hash arm it lands in holds ALL events, so
    at least one side of every split is empty."""
    from kafka_stream_job_spark.operators.relational import (
        permutation_assemble,
    )

    one = spark.createDataFrame(
        [(7, 5, 2)], "user_id long, e long, p long"
    )
    row = permutation_assemble(one).collect()[0]
    assert row["n_users"] == 1
    assert row["n_events"] == 5
    assert row["obs_uplift_micro"] is None  # undefined, not a raise
    assert row["n_ge_obs"] == 0
    assert row["p_value_bp"] == 0


def test_power_mde_assemble_degenerate_inputs_yield_null(spark):
    """Regression (r11 ADVICE): n_events in {0, 1} and n_purch = 0 must
    produce NULL plan columns on the engine side (the oracle mirrors
    the same CASE branches), never an ANSI DIVIDE_BY_ZERO raise."""
    from kafka_stream_job_spark.operators.relational import (
        power_mde_assemble,
    )

    def run(n_events, n_purch):
        c = spark.createDataFrame(
            [(n_events, n_purch)], "n_events long, n_purch long"
        )
        return power_mde_assemble(c).collect()[0]

    empty = run(0, 0)
    assert empty["baseline_rate_bp"] is None
    assert empty["mde_abs_micro"] is None
    assert empty["mde_rel_bp"] is None

    single = run(1, 0)  # n_per_arm == 0, and no purchases
    assert single["baseline_rate_bp"] == 0
    assert single["mde_abs_micro"] is None
    assert single["mde_rel_bp"] is None

    no_purchases = run(100, 0)  # abs MDE defined (p = 0), relative not
    assert no_purchases["baseline_rate_bp"] == 0
    assert no_purchases["mde_abs_micro"] == 0
    assert no_purchases["mde_rel_bp"] is None


def test_did_assemble_degenerate_cell_yields_null_report(spark):
    """Regression (r11 ADVICE): a missing or singleton (arm, period)
    cell routes the three report columns through an explicit NULL
    branch on both engines instead of Spark raising under ANSI where
    DuckDB yields NULL. Per-cell means stay defined."""
    from kafka_stream_job_spark.operators.relational import did_assemble

    schema = (
        "arm int, period string, n long, sum_cents long, "
        "sum_d long, sum_d2 long"
    )
    # only 3 of 4 cells present, one of them a singleton
    cells = spark.createDataFrame(
        [
            (0, "pre", 2, 400, 4, 10),
            (0, "post", 1, 300, 3, 9),
            (1, "pre", 2, 500, 5, 13),
        ],
        schema,
    )
    rows = did_assemble(cells).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["did_millicent"] is None
        assert r["se_millidollar"] is None
        assert r["t_milli"] is None
        assert r["mean_order_cents"] is not None


def test_adjacent_changes_rejects_sortorder(spark):
    """Regression (r11 ADVICE): distributed_adjacent_changes' boundary
    struct key only matches the shuffle order for plain ascending
    columns — passing a desc()/asc() SortOrder must fail loudly, not
    silently miscount boundary pairs."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators._distributed import (
        distributed_adjacent_changes,
    )

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("v")
    )
    with _pytest.raises(ValueError, match="plain ascending"):
        distributed_adjacent_changes(df, [F.col("id").desc()], "v")
    with _pytest.raises(ValueError, match="plain ascending"):
        distributed_adjacent_changes(df, [F.col("id").asc()], "v")
    # plain column still works and counts the 6 changes in 0 1 2 0 1 2...
    got = distributed_adjacent_changes(df, [F.col("id")], "v", n_parts=4)
    assert got.collect()[0]["n_changes"] == 9


def test_wav_pcm_samples_guards(spark):
    """Regression (r11 ADVICE): _wav_pcm_samples must raise ValueError
    (not a -O-strippable assert) on a metadata mismatch and must reject
    multi-channel PCM whose data chunk interleaves frames."""
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import (
        _wav_pcm_samples,
        decode_wav_real,
    )

    def wav(n_channels, samples):
        data = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack(
            "<HHIIHH", 1, n_channels, 8000, 8000 * 2 * n_channels,
            2 * n_channels, 16,
        )
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    mono = wav(1, [100, -100, 50, -50])
    meta = decode_wav_real(mono)
    assert list(_wav_pcm_samples(mono, meta)) == [100, -100, 50, -50]

    stereo = wav(2, [1, 2, 3, 4])
    smeta = decode_wav_real(stereo)
    assert smeta["n_channels"] == 2 and smeta["n_samples"] == 2
    with _pytest.raises(ValueError, match="mono"):
        _wav_pcm_samples(stereo, smeta)

    with _pytest.raises(ValueError, match="validated metadata"):
        _wav_pcm_samples(mono, {**meta, "n_samples": 99})


def test_map_rows_emits_any_row_count_with_declared_types(spark):
    """map_rows runs a per-row function in ONE MapInArrow stage: a row
    may emit 0, 1 or 8 output rows, an empty input partition (and an
    empty input) yields none, and int / long / string / binary /
    array<int> columns arrive with their declared types."""
    from pyspark.sql import types as T

    from kafka_stream_job_spark.operators.multimodal import map_rows

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("tag", T.StringType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("ks", T.ArrayType(T.IntegerType())),
        ]
    )

    def fan_out(doc_id):
        return [
            (doc_id, k, f"d{doc_id}", bytes([k]) * k, list(range(k)))
            for k in range((0, 1, 8)[doc_id % 3])
        ]

    # 6 rows over 8 partitions: at least two partitions are empty
    docs = spark.range(0, 6, numPartitions=8).withColumnRenamed("id", "doc_id")
    out = map_rows(docs, fan_out, schema)
    assert "MapInArrow" in out._jdf.queryExecution().executedPlan().toString()
    got = sorted(
        (r["doc_id"], r["k"], r["tag"], bytes(r["blob"]), r["ks"])
        for r in out.collect()
    )
    assert got == sorted(r for d in range(6) for r in fan_out(d))
    assert len(got) == 2 * (0 + 1 + 8)
    assert map_rows(docs.where("doc_id < 0"), fan_out, schema).collect() == []


def _mk_emb_dir(tmp_path, vecs, labels):
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(len(vecs))), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    d = tmp_path / "micro_emb_sf"
    d.mkdir()
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def _crafted_embeddings(n=60, dim=64):
    """Deterministic vectors with components k/256, |k| <= 7 — exact in
    float32, and k*1000/256 / k*10000/256 never land on a .5 rounding
    boundary (|k| <= 7 < 8), so HALF_UP vs HALF_EVEN can never differ."""
    vecs = []
    for v in range(n):
        vec = []
        for i in range(dim):
            h = int(hashlib.md5(f"refvec:{v}:{i}".encode()).hexdigest()[:4], 16)
            k = (h % 15) - 7  # -7..7
            vec.append(k / 256.0)
        vecs.append(vec)
    # crafted near-dup block: 11 and 12 collide with 10 by construction
    vecs[11] = list(vecs[10])
    vecs[12] = [2.0 * x for x in vecs[10]]
    labels = [v % 3 for v in range(n)]
    return vecs, labels


def _plane_from_rule(j, dim=64):
    """The DOCUMENTED hyperplane rule, re-implemented from scratch (no
    import of similarity._hyperplane): parity of the ascii code of the
    first hex char of md5('<j>:<i>')."""
    return [
        1.0
        if ord(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0]) % 2 == 1
        else -1.0
        for i in range(dim)
    ]


def test_lsh_hyperplanes_match_pure_python(spark, tmp_path):
    """Shared-constant audit (r11 brief #4): the sign-LSH HYPERPLANES
    literal is injected into BOTH engines, so a generator bug would
    match itself invisibly. This drives the registered
    similarity_lsh_neardup on crafted vectors against a from-scratch
    Python pipeline whose planes come from the documented md5-parity
    rule, not the shared constant."""
    import math as _math

    vecs, labels = _crafted_embeddings()
    sf = _mk_emb_dir(tmp_path, vecs, labels)
    planes = [_plane_from_rule(j) for j in range(12)]

    def bucket(v):
        bits = []
        for p in planes:
            acc = 0.0
            for x, s in zip(v, p):
                acc = acc + float(x) * s
            bits.append("1" if acc >= 0 else "0")
        return "".join(bits)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    buckets = {v: bucket(vec) for v, vec in enumerate(vecs)}
    expected = set()
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            if buckets[a] != buckets[b]:
                continue
            cos = dot(vecs[a], vecs[b]) / (
                _math.sqrt(dot(vecs[a], vecs[a]))
                * _math.sqrt(dot(vecs[b], vecs[b]))
            )
            if cos > 0.25:
                expected.add((a, b, _pround(cos, 4)))
    got = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in SPECS["similarity_lsh_neardup"].fn(spark, sf).collect()
    }
    assert (10, 11, 1.0) in expected and (10, 12, 1.0) in expected
    assert got == expected


def test_jl_planes_match_pure_python(spark, tmp_path):
    """Shared-constant audit: _JL_PLANES (seed base 200) feeds both
    engines of embedding_jl_projection_audit. From-scratch Python —
    planes from the documented rule at the documented seed offset,
    integer projection, ratio stats — must agree with the registered
    query on crafted vectors."""
    vecs, labels = _crafted_embeddings()
    sf = _mk_emb_dir(tmp_path, vecs, labels)
    planes = [_plane_from_rule(200 + j) for j in range(16)]
    per_label = {}
    for v, vec in enumerate(vecs):
        xq = [_round_half_away(x * 1000.0) for x in vec]
        norm2 = sum(x * x for x in xq)
        if norm2 <= 0:
            continue
        px2 = 0
        for p in planes:
            s = sum(x * int(c) for x, c in zip(xq, p))
            px2 += s * s
        ratio = _round_half_away(float(px2) / (16.0 * float(norm2)) * 1e6)
        per_label.setdefault(labels[v], []).append(ratio)
    expected = {
        (
            lab,
            len(rs),
            min(rs),
            max(rs),
            _round_half_away(sum(rs) * 1.0 / len(rs)),
        )
        for lab, rs in per_label.items()
    }
    got = {
        (
            r["label"],
            r["n_vecs"],
            r["min_ratio_micro"],
            r["max_ratio_micro"],
            r["avg_ratio_micro"],
        )
        for r in SPECS["embedding_jl_projection_audit"].fn(spark, sf).collect()
    }
    assert got == expected


def test_pq_codes_match_pure_python(spark, tmp_path):
    """Shared-constant audit: the PQ codebook derives from the shared
    md5('pq:<id>') % 32 seed rule on both engines. From-scratch Python —
    seed pick, 8x8 slicing, nearest-centroid with (dist, cent_id)
    tiebreak — must reproduce embedding_pq_codes exactly. vec_ids 15
    and 49 are seeds under the rule (verified in-test), so the crafted
    60-vector corpus has a non-trivial 2-centroid codebook."""
    vecs, labels = _crafted_embeddings()
    sf = _mk_emb_dir(tmp_path, vecs, labels)
    q = [[_round_half_away(x * 10000.0) for x in vec] for vec in vecs]
    seeds = [
        v
        for v in range(len(vecs))
        if int(hashlib.md5(f"pq:{v}".encode()).hexdigest()[:7], 16) % 32 == 0
    ]
    assert seeds == [15, 49]

    def sub(vq, s):
        return vq[8 * s : 8 * (s + 1)]

    expected = set()
    for v in range(len(vecs)):
        code = []
        err = 0
        for s in range(8):
            best = None
            for c in seeds:
                d = 0.0
                for x, y in zip(sub(q[v], s), sub(q[c], s)):
                    d = d + (float(x) - float(y)) * (float(x) - float(y))
                key = (d, c)
                if best is None or key < best:
                    best = key
            code.append(str(best[1]))
            err += int(best[0])
        expected.add((v, "-".join(code), err))
    got = {
        (r["vec_id"], r["pq_code"], r["err_q"])
        for r in SPECS["embedding_pq_codes"].fn(spark, sf).collect()
    }
    assert got == expected


def test_quantile_uplift_matches_pure_python(spark, tmp_path):
    """Crafted event values through the REGISTERED events_quantile_uplift
    vs a from-scratch Python rank selection: arms re-derived from the
    documented md5 rule, quantile rank k = max(1, n*q//100) under the
    (cents, event_id) total order — independent of the SQL oracle that
    shares the engine's construction."""
    import datetime

    n = 120
    base = datetime.datetime(2024, 5, 1)
    # values k/4 dollars avoid every *100 rounding boundary ambiguity
    # except exact quarters; 25*k cents is an integer so ROUND is exact
    values = [((i * 37) % 29) * 0.25 + 1.0 for i in range(n)]
    tbl = pa.table(
        {
            "event_id": list(range(n)),
            "ts": [base + datetime.timedelta(seconds=i) for i in range(n)],
            "user_id": [i % 17 for i in range(n)],
            "event_type": ["view"] * n,
            "value": values,
            "props": ["{}"] * n,
        }
    )
    d = tmp_path / "qte_sf"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")

    row = SPECS["events_quantile_uplift"].fn(spark, str(d)).collect()[0]

    arms = {
        i: _md5_28(f"qte:{i % 17}") % 2 for i in range(n)
    }
    per_arm = {0: [], 1: []}
    for i in range(n):
        per_arm[arms[i]].append((_round_half_away(values[i] * 100.0), i))
    q = {}
    for a in (0, 1):
        rows = sorted(per_arm[a])
        na = len(rows)
        q[a] = {
            p: rows[max(1, na * p // 100) - 1][0] for p in (25, 50, 75)
        }
        assert na > 4  # both arms populated
        q[a]["n"] = na
    assert row["n_0"] == q[0]["n"] and row["n_1"] == q[1]["n"]
    assert row["p50_0_cents"] == q[0][50]
    assert row["p50_1_cents"] == q[1][50]
    assert row["median_uplift_cents"] == q[1][50] - q[0][50]
    assert row["iqr_0_cents"] == q[0][75] - q[0][25]
    assert row["iqr_1_cents"] == q[1][75] - q[1][25]
    assert row["iqr_shift_cents"] == (q[1][75] - q[1][25]) - (
        q[0][75] - q[0][25]
    )
