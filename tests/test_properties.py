"""Property-based tests (hypothesis) for the pure algorithmic primitives —
no SparkSession needed, so these run in milliseconds and explore input
space far beyond the fixture corpora."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_stream_job_spark.operators.sketches import (
    hll_estimate_from_registers,
    mg_merge,
)

# ---------------------------------------------------------------------------
# Misra-Gries: for ANY stream, ANY batch split, ANY capacity —
#   (1) the summary never exceeds capacity,
#   (2) every key with true count > n/capacity survives,
#   (3) estimates never overcount and undercount by at most n/(capacity+1).
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    stream=st.lists(st.integers(min_value=0, max_value=30), max_size=400),
    capacity=st.integers(min_value=1, max_value=12),
    n_batches=st.integers(min_value=1, max_value=6),
)
def test_mg_merge_invariants(stream, capacity, n_batches):
    keys = [str(k) for k in stream]
    n = len(keys)
    size = max(1, (n + n_batches - 1) // n_batches)
    counters: dict[str, int] = {}
    for i in range(0, n, size):
        counters = mg_merge(counters, dict(Counter(keys[i : i + size])), capacity)
        assert len(counters) <= capacity
    exact = Counter(keys)
    for k, c in exact.items():
        if c > n / capacity:
            assert k in counters, f"heavy key {k} ({c}/{n}) evicted"
    for k, est in counters.items():
        assert est <= exact[k]
        assert exact[k] - est <= n / (capacity + 1) + 1e-9


# ---------------------------------------------------------------------------
# HLL estimator: monotone in register ranks, positive, and exact-ish in
# the linear-counting regime (few registers hit -> estimate ~ V-based
# formula, which is exact for n_present == estimate domain checks).
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    ranks=st.dictionaries(
        st.integers(min_value=0, max_value=255),
        st.integers(min_value=1, max_value=21),
        max_size=255,
    )
)
def test_hll_estimate_positive_and_monotone(ranks):
    est = hll_estimate_from_registers(ranks)
    assert est >= 0.0
    if ranks:
        # raising any one register's rank can only raise the estimate
        k = next(iter(ranks))
        bumped = dict(ranks)
        bumped[k] = min(21, bumped[k] + 1)
        assert hll_estimate_from_registers(bumped) >= est - 1e-9


def test_hll_estimate_empty_is_zero():
    assert hll_estimate_from_registers({}) == 0.0


# ---------------------------------------------------------------------------
# Morton interleave (the zorder_layout_stats bit math, reproduced in
# Python): bijective on 16-bit pairs, and bucket ranges nest — equal
# high-order z-bits imply equal high-order bits of BOTH keys.
# ---------------------------------------------------------------------------


def _morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for b in range(bits):
        z += ((x >> b) & 1) * (4**b) + ((y >> b) & 1) * (2 * 4**b)
    return z


@settings(max_examples=300, deadline=None)
@given(
    x1=st.integers(min_value=0, max_value=65535),
    y1=st.integers(min_value=0, max_value=65535),
    x2=st.integers(min_value=0, max_value=65535),
    y2=st.integers(min_value=0, max_value=65535),
)
def test_morton_bijective_and_nests(x1, y1, x2, y2):
    z1, z2 = _morton(x1, y1), _morton(x2, y2)
    assert (z1 == z2) == ((x1, y1) == (x2, y2))
    # same top-6 z-bits (the 64-bucket split) bounds both key prefixes:
    if z1 >> 26 == z2 >> 26:
        assert x1 >> 13 == x2 >> 13
        assert y1 >> 13 == y2 >> 13


# ---------------------------------------------------------------------------
# Content-defined chunking: the ORACLE-side SQL (rolling hash, boundary
# selection, span algebra in DuckDB list expressions) must agree with an
# independent pure-Python reference on arbitrary corpora — hypothesis
# drives random token streams through both. (The Spark side is pinned to
# the same reference in tests/test_reference_impl.py; together the three
# implementations triangulate.)
# ---------------------------------------------------------------------------
_WORDS = ["alpha", "beta", "gamma", "delta", "zz", "q", "longerword", "x1"]


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=30),
        min_size=1,
        max_size=5,
    )
)
def test_cdc_oracle_sql_matches_reference(docs):
    import duckdb

    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _cdc_chunks_reference

    oracle = all_specs()["content_defined_chunks"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {
        (r[0], r[1], r[2], r[3], r[4])
        for r in con.sql(oracle).fetchall()
    }
    want = {
        (doc_id, k, s, ln, fp)
        for doc_id, text in rows
        for (k, s, ln, fp) in _cdc_chunks_reference(text)
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=15),
        min_size=1,
        max_size=5,
    )
)
def test_bigram_lm_oracle_sql_matches_reference(docs):
    import math

    import duckdb

    from kafka_stream_job_spark.operators.text import LM_TOP_K, LM_UNATS
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround, _round_half_away

    oracle = all_specs()["bigram_lm_score"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {(r[0], r[1], r[2]) for r in con.sql(oracle).fetchall()}

    from collections import Counter

    bigrams, left, vocab, docs_bg = Counter(), Counter(), set(), {}
    for doc_id, text in rows:
        toks = text.lower().strip().split() if text.strip() else [""]
        # mirror string_split_regex on empty text: [''] single empty token
        vocab.update(toks)
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        docs_bg[doc_id] = bgs
        for bg in bgs:
            bigrams[bg] += 1
            left[bg.split(" ")[0]] += 1
    V = len(vocab)
    scored = []
    for doc_id, bgs in docs_bg.items():
        if not bgs:
            continue
        unats = sum(
            _round_half_away(
                math.log((bigrams[bg] + 1) * 1.0 / (left[bg.split(" ")[0]] + V))
                * LM_UNATS
            )
            for bg in bgs
        )
        scored.append(
            (doc_id, len(bgs), _pround((unats / float(LM_UNATS)) / len(bgs), 4))
        )
    scored.sort(key=lambda t: (t[2], t[0]))
    want = set(scored[:LM_TOP_K])
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:4]), min_size=0, max_size=20),
        min_size=1,
        max_size=6,
    )
)
def test_repeated_spans_oracle_sql_matches_reference(docs):
    """Random small-alphabet corpora (4 words → dense 8-gram repeats)
    through the DuckDB spans oracle vs an independent sliding-window
    counter; top-k truncation replayed with the same tiebreak."""
    import duckdb

    from kafka_stream_job_spark.operators.dedup import (
        SPAN_MIN_DOCS,
        SPAN_N,
        SPAN_TOP_K,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["repeated_ngram_spans"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = [(r[0], r[1], r[2]) for r in con.sql(oracle).fetchall()]

    occ, docs_of = Counter(), {}
    for doc_id, text in rows:
        toks = text.lower().split() if text else []
        if len(toks) < SPAN_N:
            continue
        for i in range(len(toks) - SPAN_N + 1):
            span = " ".join(toks[i : i + SPAN_N])
            occ[span] += 1
            docs_of.setdefault(span, set()).add(doc_id)
    want = sorted(
        (
            (span, len(docs_of[span]), n)
            for span, n in occ.items()
            if len(docs_of[span]) >= SPAN_MIN_DOCS
        ),
        key=lambda t: (-t[2], -t[1], t[0]),
    )[:SPAN_TOP_K]
    assert sorted(got, key=lambda t: (-t[2], -t[1], t[0])) == want


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "zh"]),
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pack_sequences_oracle_sql_matches_reference(docs):
    """Token-budget sequence packing: the DuckDB oracle (hash order,
    banded exclusive running sum, floor-division pack ids) vs an
    independent Python reference."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.pipeline import (
        PACK_BANDS,
        PACK_BUDGET,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["pack_sequences_manifest"].oracle
    con = duckdb.connect()
    rows = [(i, lang, " ".join(words)) for i, (lang, words) in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    def h(doc_id):
        return int(
            hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()[:7], 16
        )

    from collections import defaultdict

    streams = defaultdict(list)
    for doc_id, lang, text in rows:
        n_tok = len(text.lower().strip().split())
        streams[(lang, h(doc_id) % PACK_BANDS)].append((h(doc_id), doc_id, n_tok))
    want = defaultdict(lambda: [0, 0])  # (lang, band, pack) -> [n_docs, tokens]
    for (lang, band), items in streams.items():
        items.sort()  # hash order, doc_id tiebreak
        before = 0
        for _, _, n_tok in items:
            pack = before // PACK_BUDGET
            want[(lang, band, pack)][0] += 1
            want[(lang, band, pack)][1] += n_tok
            before += n_tok
    want_set = {
        (lang, band, pack, nd, tk)
        for (lang, band, pack), (nd, tk) in want.items()
    }
    assert got == want_set


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:5]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    )
)
def test_minhash_lsh_oracle_sql_matches_reference(docs):
    """The full shingle → minhash → band → candidate-pair oracle chain
    vs an independent Python MinHash implementation (set shingles, 28-bit
    md5 hashes, (a*h+b) mod p permutations, banded md5 signatures)."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        SHINGLE_K,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _md5_28

    oracle = all_specs()["dedup_minhash_lsh"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {(r[0], r[1]) for r in con.sql(oracle).fetchall()}

    bands_of = {}
    for doc_id, text in rows:
        toks = text.lower().split() if text else [""]
        # norm: whitespace-collapse + lower; single '' token for empty
        if not text.strip():
            toks = [""]
        n = len(toks)
        upper = max(n - SHINGLE_K, 0)
        shingles = {" ".join(toks[i : i + SHINGLE_K]) for i in range(upper + 1)}
        hs = [_md5_28(s) for s in shingles]
        sig = [
            min((MINHASH_A[s] * h + MINHASH_B[s]) % MINHASH_P for h in hs)
            for s in range(NUM_HASHES)
        ]
        bands_of[doc_id] = {
            (
                b,
                hashlib.md5(
                    "|".join(
                        str(sig[b * ROWS_PER_BAND + r])
                        for r in range(ROWS_PER_BAND)
                    ).encode()
                ).hexdigest(),
            )
            for b in range(NUM_BANDS)
        }
    want = {
        (a, b)
        for a in bands_of
        for b in bands_of
        if a < b and bands_of[a] & bands_of[b]
    }
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    user_ids=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=400
    )
)
def test_hll_oracle_sql_matches_reference(user_ids):
    """The from-scratch HLL estimator's DuckDB SQL (register fold,
    bias-corrected raw estimate, linear-counting branch) vs an
    independent Python implementation over random id multisets."""
    import hashlib
    import math

    import duckdb

    from kafka_stream_job_spark.operators.sketches import HLL_M
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    oracle = all_specs()["hll_distinct_users"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?)", [(u,) for u in user_ids])
    n_exact, n_hit, est = con.sql(oracle).fetchall()[0]

    regs = {}
    for u in set(user_ids):
        hv = int(hashlib.md5(f"hll:{u}".encode()).hexdigest()[:7], 16)
        reg, w = hv % HLL_M, hv // HLL_M
        rank = 21 if w == 0 else 21 - len(bin(w)[2:])
        regs[reg] = max(regs.get(reg, 0), rank)
    present_sum = sum(
        1.0 / (1 << r) for _, r in sorted(regs.items())
    )  # register-order fold, matching both engines' pinned order
    m = float(HLL_M)
    raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / (
        present_sum + (HLL_M - len(regs)) * 1.0
    )
    if raw <= 2.5 * m and len(regs) < HLL_M:
        corrected = m * math.log(m / (HLL_M - len(regs)))
    else:
        corrected = raw
    assert n_exact == len(set(user_ids))
    assert n_hit == len(regs)
    assert est == _pround(corrected, 6)


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:5]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    )
)
def test_simhash_oracle_sql_matches_reference(docs):
    """The SimHash chain (set-shingle bit votes → 28-bit fingerprint →
    7-bit bands → Hamming<=3 pairs) vs an independent Python
    implementation."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.dedup import (
        SHINGLE_K,
        SIMHASH_BAND_BITS,
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_HAMMING_MAX,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["dedup_simhash"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    fps = {}
    for doc_id, text in rows:
        toks = text.lower().split() if text.strip() else [""]
        upper = max(len(toks) - SHINGLE_K, 0)
        shingles = {" ".join(toks[i : i + SHINGLE_K]) for i in range(upper + 1)}
        hs = {
            int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in shingles
        }
        fp = 0
        for j in range(SIMHASH_BITS):
            vote = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if vote >= 0:
                fp |= 1 << j
        fps[doc_id] = fp

    def bands(fp):
        return {
            (b, (fp >> (b * SIMHASH_BAND_BITS)) % (1 << SIMHASH_BAND_BITS))
            for b in range(SIMHASH_BANDS)
        }

    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps
        for b in fps
        if a < b
        and bands(fps[a]) & bands(fps[b])
        and bin(fps[a] ^ fps[b]).count("1") <= SIMHASH_HAMMING_MAX
    }
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:5]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    )
)
def test_connected_components_oracle_matches_union_find(docs):
    """The recursive-CTE min-label components oracle vs union-find over
    the independently-computed LSH candidate pairs."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        SHINGLE_K,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _md5_28

    oracle = all_specs()["dedup_connected_components"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    bands_of = {}
    for doc_id, text in rows:
        toks = text.lower().split() if text.strip() else [""]
        upper = max(len(toks) - SHINGLE_K, 0)
        hs = [
            _md5_28(s)
            for s in {" ".join(toks[i : i + SHINGLE_K]) for i in range(upper + 1)}
        ]
        sig = [
            min((MINHASH_A[s] * h + MINHASH_B[s]) % MINHASH_P for h in hs)
            for s in range(NUM_HASHES)
        ]
        bands_of[doc_id] = {
            (
                b,
                hashlib.md5(
                    "|".join(
                        str(sig[b * ROWS_PER_BAND + r])
                        for r in range(ROWS_PER_BAND)
                    ).encode()
                ).hexdigest(),
            )
            for b in range(NUM_BANDS)
        }
    pairs = [
        (a, b)
        for a in bands_of
        for b in bands_of
        if a < b and bands_of[a] & bands_of[b]
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    lines=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_pagerank_oracle_matches_reference(lines):
    """The 3-iteration integer-quantized PageRank CTE chain vs an
    independent implementation over random basket graphs."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import (
        PR_ITERS,
        PR_SCALE,
        PR_TOP,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _round_half_away

    oracle = all_specs()["graph_pagerank_parts"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", lines)
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    from collections import defaultdict

    baskets = defaultdict(set)
    for ok, pk in set(lines):
        baskets[ok].add(pk)
    edges = {
        (a, b)
        for parts in baskets.values()
        for a in parts
        for b in parts
        if a != b
    }
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = {s for s, _ in edges}
    r = {p: PR_SCALE for p in nodes}
    for _ in range(PR_ITERS):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += r[s] // deg[s]
        r = {
            p: _round_half_away(0.15 * PR_SCALE + 0.85 * contrib.get(p, 0))
            for p in nodes
        }
    want = sorted(((p, rv) for p, rv in r.items()), key=lambda t: (-t[1], t[0]))[
        :PR_TOP
    ]
    assert sorted(got, key=lambda t: (-t[1], t[0])) == want


@settings(max_examples=40, deadline=None)
@given(
    lines=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=3,
        max_size=30,
    )
)
def test_triangle_stats_oracle_matches_reference(lines):
    """Triangle/wedge/clustering oracle vs an independent enumeration
    over random basket graphs."""
    from hypothesis import assume

    import duckdb

    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    from collections import defaultdict
    from itertools import combinations

    baskets = defaultdict(set)
    for ok, pk in set(lines):
        baskets[ok].add(pk)
    edges = set()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assume(wedges > 0)  # cc undefined on wedge-free graphs

    oracle = all_specs()["graph_triangle_stats"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", lines)
    n_nodes, n_edges, n_wedges, n_tri, cc = con.sql(oracle).fetchall()[0]

    tris = sum(
        1
        for (a, b) in edges
        for c in deg
        if b < c and (b, c) in edges and (a, c) in edges
    )
    assert n_nodes == len(deg)
    assert n_edges == len(edges)
    assert n_wedges == wedges
    assert n_tri == tris
    assert cc == _pround(tris * 3.0 / wedges, 6)


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=10),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_js_divergence_oracle_matches_reference(docs):
    """Per-source-pair Jensen-Shannon divergence oracle (pinned
    token-sorted fold) vs an independent implementation folding in the
    same order."""
    import math

    import duckdb

    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    oracle = all_specs()["corpus_js_divergence"].oracle
    con = duckdb.connect()
    rows = [(f"d{i}", src, " ".join(words)) for i, (src, words) in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id VARCHAR, source VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    from collections import Counter, defaultdict

    counts = defaultdict(Counter)
    for _, src, text in rows:
        counts[src].update(text.strip().split())
    totals = {s: sum(c.values()) for s, c in counts.items()}
    vocab = sorted({t for c in counts.values() for t in c})
    want = set()
    for a in sorted(counts):
        for b in sorted(counts):
            if a >= b:
                continue
            acc = 0.0
            for tok in vocab:  # token-sorted fold, matching both engines
                ca, cb = counts[a][tok], counts[b][tok]
                pa, pb = ca * 1.0 / totals[a], cb * 1.0 / totals[b]
                m = (pa + pb) / 2.0
                term = (pa * math.log(pa / m) if ca > 0 else 0.0) + (
                    pb * math.log(pb / m) if cb > 0 else 0.0
                )
                acc += term
            want.add((a, b, _pround(0.5 * acc, 6)))
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=25),
        min_size=1,
        max_size=6,
    )
)
def test_rolling_fingerprint_oracle_matches_reference(docs):
    """Winnowing fingerprint (min rolling-window hash + window count) vs
    the same Horner-rolling-hash reference the CDC chunker uses."""
    import duckdb

    from kafka_stream_job_spark.operators.text import ROLL_B, ROLL_P, ROLL_W
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _md5_28, _norm_tokens

    oracle = all_specs()["text_rolling_fingerprint"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    want = set()
    for doc_id, text in rows:
        toks = _norm_tokens(text)
        if len(toks) < ROLL_W:
            continue
        hh = [_md5_28(t) for t in toks]
        whs = []
        for i in range(0, len(toks) - ROLL_W + 1):
            acc = hh[i] % ROLL_P
            for k in range(1, ROLL_W):
                acc = (acc * ROLL_B + hh[i + k]) % ROLL_P
            whs.append(acc)
        want.add((doc_id, min(whs), len(whs)))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(_WORDS + ["stream", "join", "vector"]),
            min_size=1,
            max_size=15,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_bm25_oracle_matches_reference(docs):
    """Okapi BM25 ranked retrieval (idf/tf saturation/length norm) vs an
    independent implementation, term-sum order mirrored exactly."""
    import math
    import re

    import duckdb

    from kafka_stream_job_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOP,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    oracle = all_specs()["text_bm25_search"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    stats = []
    for doc_id, text in rows:
        dl = len(text.strip().split())
        tfs = {
            t: len(re.findall(rf"\b{t}\b", text.lower())) for t in BM25_TERMS
        }
        stats.append((doc_id, dl, tfs))
    n_docs = len(stats)
    avgdl = sum(dl for _, dl, _ in stats) * 1.0 / n_docs
    dfs = {
        t: sum(1 for _, _, tfs in stats if tfs[t] > 0) for t in BM25_TERMS
    }
    scored = []
    for doc_id, dl, tfs in stats:
        score = 0.0
        for t in BM25_TERMS:  # same term order as the SQL's + chain
            idf = math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            score += (
                idf
                * (tfs[t] * (BM25_K1 + 1.0))
                / (tfs[t] + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
            )
        scored.append((doc_id, _pround(score, 6)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    want = scored[:BM25_TOP]
    assert sorted(got, key=lambda x: (-x[1], x[0])) == want


@settings(max_examples=60, deadline=None)
@given(
    cents_list=st.lists(
        st.integers(min_value=1, max_value=20_000_000), min_size=1, max_size=300
    )
)
def test_quantile_bins_oracle_matches_reference(cents_list):
    """The mergeable histogram-quantile oracle SQL vs an independent
    Python implementation, plus the sketch's bin-width error bound
    against the true (exact) quantile."""
    import duckdb

    from kafka_stream_job_spark.operators.sketches import QD_BINS, QD_PCTS
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["sketch_quantile_bins"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_extendedprice DOUBLE)")
    con.executemany(
        "INSERT INTO lineitem VALUES (?)", [(c / 100.0,) for c in cents_list]
    )
    got = {int(r[0]): (r[1], int(r[2]), int(r[3])) for r in con.sql(oracle).fetchall()}

    mn, mx, n = min(cents_list), max(cents_list), len(cents_list)
    span = mx - mn + 1
    from collections import Counter

    bins = Counter(((c - mn) * QD_BINS) // span for c in cents_list)
    ordered = sorted(bins)
    srt = sorted(cents_list)
    want = {}
    for pct in QD_PCTS:
        target = (n * pct + 99) // 100
        cum = 0
        est_bin = None
        for b in ordered:
            cum += bins[b]
            if cum >= target:
                est_bin = b
                break
        est_cents = mn + (est_bin * span) // QD_BINS + span // (2 * QD_BINS)
        want[pct] = (est_cents / 100.0, target, n)
        # Error bound: the estimate lives inside the target bin, whose
        # width is span/QD_BINS cents (midpoint -> at most one width off).
        true_q = srt[target - 1]
        assert abs(est_cents - true_q) <= span / QD_BINS + 1
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:5]), min_size=0, max_size=14),
        min_size=1,
        max_size=8,
    )
)
def test_containment_oracle_matches_reference(docs):
    """Directional containment over LSH candidates vs an independent
    Python implementation (same MinHash candidate chain, then exact
    |A∩B|/|A| and |A∩B|/|B| with the shared threshold)."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.dedup import (
        CONTAINMENT_T,
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
        SHINGLE_K,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _md5_28, _pround

    oracle = all_specs()["dedup_containment"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {(r[0], r[1], r[2], r[3]) for r in con.sql(oracle).fetchall()}

    shingles_of, bands_of = {}, {}
    for doc_id, text in rows:
        toks = text.lower().split() if text.strip() else [""]
        upper = max(len(toks) - SHINGLE_K, 0)
        sh = {" ".join(toks[i : i + SHINGLE_K]) for i in range(upper + 1)}
        shingles_of[doc_id] = sh
        hs = [_md5_28(s) for s in sh]
        sig = [
            min((MINHASH_A[s] * h + MINHASH_B[s]) % MINHASH_P for h in hs)
            for s in range(NUM_HASHES)
        ]
        bands_of[doc_id] = {
            (
                b,
                hashlib.md5(
                    "|".join(
                        str(sig[b * ROWS_PER_BAND + r])
                        for r in range(ROWS_PER_BAND)
                    ).encode()
                ).hexdigest(),
            )
            for b in range(NUM_BANDS)
        }
    want = set()
    for a in bands_of:
        for b in bands_of:
            if a < b and bands_of[a] & bands_of[b]:
                common = len(shingles_of[a] & shingles_of[b])
                c_ab = _pround(common * 1.0 / len(shingles_of[a]), 4)
                c_ba = _pround(common * 1.0 / len(shingles_of[b]), 4)
                if max(c_ab, c_ba) >= CONTAINMENT_T:
                    want.add((a, b, c_ab, c_ba))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    items=st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(_WORDS + ["stream", "join", "vector"]),
                min_size=1,
                max_size=10,
            ),
            st.lists(
                st.integers(min_value=-3, max_value=3), min_size=3, max_size=3
            ),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_hybrid_rrf_oracle_matches_reference(items):
    """Reciprocal-rank fusion (BM25 list + cosine list, full-outer fuse,
    1/(k+rank) scoring) vs an independent Python implementation."""
    import math
    import re

    import duckdb

    from kafka_stream_job_spark.operators.similarity import (
        RRF_DEPTH,
        RRF_K,
        RRF_QUERY_ID,
        RRF_TOP,
    )
    from kafka_stream_job_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )
    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    oracle = all_specs()["search_hybrid_rrf"].oracle
    con = duckdb.connect()
    doc_rows = [(i, " ".join(words)) for i, (words, _) in enumerate(items)]
    vec_rows = [(i, [1.0] + [float(x) for x in vec]) for i, (_, vec) in enumerate(items)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", doc_rows)
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vec_rows)
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    # BM25 reference (same chain as test_bm25_oracle_matches_reference)
    stats = []
    for doc_id, text in doc_rows:
        dl = len(text.strip().split())
        tfs = {t: len(re.findall(rf"\b{t}\b", text.lower())) for t in BM25_TERMS}
        stats.append((doc_id, dl, tfs))
    n_docs = len(stats)
    avgdl = sum(dl for _, dl, _ in stats) * 1.0 / n_docs
    dfs = {t: sum(1 for _, _, tfs in stats if tfs[t] > 0) for t in BM25_TERMS}
    bm_scored = []
    for doc_id, dl, tfs in stats:
        score = 0.0
        for t in BM25_TERMS:
            idf = math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            score += (
                idf
                * (tfs[t] * (BM25_K1 + 1.0))
                / (tfs[t] + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
            )
        bm_scored.append((doc_id, _pround(score, 6)))
    bm_scored.sort(key=lambda x: (-x[1], x[0]))
    bm_rank = {d: i + 1 for i, (d, _) in enumerate(bm_scored[:RRF_DEPTH])}

    # Cosine reference: sequential fold in list order, doubles throughout.
    qv = dict(vec_rows)[RRF_QUERY_ID]
    cos_scored = []
    for vid, vec in vec_rows:
        if vid == RRF_QUERY_ID:
            continue
        dot = 0.0
        for a, b in zip(qv, vec):
            dot += a * b
        nq = math.sqrt(sum(a * a for a in qv))
        nd = math.sqrt(sum(b * b for b in vec))
        cos_scored.append((vid, _pround(dot / (nq * nd), 4)))
    cos_scored.sort(key=lambda x: (-x[1], x[0]))
    cos_rank = {d: i + 1 for i, (d, _) in enumerate(cos_scored[:RRF_DEPTH])}

    fused = []
    for d in set(bm_rank) | set(cos_rank):
        s = (1.0 / (RRF_K + bm_rank[d]) if d in bm_rank else 0.0) + (
            1.0 / (RRF_K + cos_rank[d]) if d in cos_rank else 0.0
        )
        fused.append((d, bm_rank.get(d), cos_rank.get(d), _pround(s, 9)))
    fused.sort(key=lambda x: (-x[3], x[0]))
    assert got == fused[:RRF_TOP]


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user_id
            st.integers(min_value=0, max_value=20_000), # ts offset (s)
            st.integers(min_value=-50, max_value=50),   # value (int-exact)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_session_window_oracle_matches_reference(rows):
    """The gaps-and-islands session SQL (30-min idle gap, [ts, ts+gap)
    windows, end = last+gap) vs an independent Python sessionizer."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    data = [
        (uid, base + datetime.timedelta(seconds=off), float(val), i)
        for i, (uid, off, val) in enumerate(rows)
    ]
    oracle = all_specs()["session_window_rollup"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, ts TIMESTAMP,"
        " value DOUBLE, event_id BIGINT)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    gap = datetime.timedelta(minutes=30)
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    want = set()
    by_user: dict[int, list] = {}
    for uid, ts, val, eid in data:
        by_user.setdefault(uid, []).append((ts, eid, val))
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        sess: list = []
        for ts, eid, val in evs:
            if sess and ts - sess[-1][0] >= gap:
                want.add(
                    (
                        uid,
                        sess[0][0].strftime(fmt),
                        (sess[-1][0] + gap).strftime(fmt),
                        len(sess),
                        float(sum(v for _, _, v in sess)),
                    )
                )
                sess = []
            sess.append((ts, eid, val))
        want.add(
            (
                uid,
                sess[0][0].strftime(fmt),
                (sess[-1][0] + gap).strftime(fmt),
                len(sess),
                float(sum(v for _, _, v in sess)),
            )
        )
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),        # user_id
            st.integers(min_value=0, max_value=5_000),    # ts offset (s)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_asof_join_oracle_matches_reference(rows):
    """DuckDB's native ASOF JOIN (the attribution oracle) vs an
    independent Python last-touch-before-or-at implementation — pins the
    t.ts <= p.ts tie semantics and the per-(user, ts) touch collapse."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (uid, base + datetime.timedelta(seconds=off), typ, i)
        for i, (uid, off, typ) in enumerate(rows)
    ]
    oracle = all_specs()["asof_purchase_attribution"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, ts TIMESTAMP,"
        " event_type VARCHAR, event_id BIGINT)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    touches: dict[tuple, tuple] = {}
    for uid, ts, typ, eid in data:
        if typ in ("view", "click"):
            cur = touches.get((uid, ts))
            if cur is None or eid > cur[0]:
                touches[(uid, ts)] = (eid, typ)
    by_user: dict[int, list] = {}
    for (uid, ts), (eid, typ) in touches.items():
        by_user.setdefault(uid, []).append((ts, eid, typ))
    for lst in by_user.values():
        lst.sort()
    want = set()
    for uid, ts, typ, eid in data:
        if typ != "purchase":
            continue
        best = None
        for tts, teid, ttyp in by_user.get(uid, []):
            if tts <= ts and (best is None or tts > best[0]):
                best = (tts, teid, ttyp)
        if best is not None:
            want.add(
                (eid, uid, best[1], best[2], int((ts - best[0]).total_seconds()))
            )
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    orders=st.lists(
        st.integers(min_value=0, max_value=5),  # o_custkey per orderkey i
        min_size=1,
        max_size=12,
    ),
    lines=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),  # l_orderkey (may dangle)
            st.integers(min_value=0, max_value=4),   # l_suppkey
            st.integers(min_value=1, max_value=500), # price (whole units)
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_pareto_frontier_oracle_matches_reference(orders, lines):
    """The sweep-based skyline SQL vs an independent dominance check:
    keep a (revenue, n_customers) point iff no other point weakly
    dominates it with one strict edge, and only the lowest suppkey
    survives among exact duplicates."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["supplier_pareto_frontier"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT)")
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)", list(enumerate(orders))
    )
    con.execute(
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_suppkey BIGINT,"
        " l_extendedprice DOUBLE, l_discount DOUBLE)"
    )
    con.executemany(
        "INSERT INTO lineitem VALUES (?, ?, ?, ?)",
        [(ok, sk, float(p), 0.0) for ok, sk, p in lines],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    agg: dict[int, list] = {}
    for ok, sk, p in lines:
        if ok >= len(orders):
            continue  # inner join drops dangling lineitems
        agg.setdefault(sk, [0, set()])
        agg[sk][0] += p * 100
        agg[sk][1].add(orders[ok])
    pts = {sk: (rev, len(custs)) for sk, (rev, custs) in agg.items()}
    want = set()
    for sk, (rev, nc) in pts.items():
        dominated = False
        for qk, (qrev, qnc) in pts.items():
            if qk == sk:
                continue
            if qrev >= rev and qnc >= nc and (qrev > rev or qnc > nc):
                dominated = True
            if qrev == rev and qnc == nc and qk < sk:
                dominated = True
        if not dominated:
            want.add((sk, rev, nc))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:8]), min_size=1, max_size=20),
        min_size=1,
        max_size=6,
    )
)
def test_cms_oracle_matches_reference(docs):
    """The Count-Min oracle SQL vs an independent Python CMS (md5 row
    hashes, min-over-depth point queries) — and the one-sided error
    guarantee: estimates never undercount."""
    import hashlib
    from collections import Counter

    import duckdb

    from kafka_stream_job_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_REPORT_K,
        CMS_WIDTH,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["cms_token_counts"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    toks = [t for _, text in rows for t in text.strip().lower().split()]
    exact = Counter(toks)

    def col(d, tok):
        return int(hashlib.md5(f"cms{d}:{tok}".encode()).hexdigest()[:7], 16) % CMS_WIDTH

    cells: Counter = Counter()
    for t in toks:
        for d in range(CMS_DEPTH):
            cells[(d, col(d, t))] += 1
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_REPORT_K]
    want = set()
    for tok, cnt in top:
        est = min(cells[(d, col(d, tok))] for d in range(CMS_DEPTH))
        assert est >= cnt  # CMS never undercounts
        want.add((tok, cnt, est, est - cnt))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:4]), min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    )
)
def test_span_mask_oracle_matches_reference(docs):
    """The span-mask manifest SQL (repeated n-gram occurrences →
    per-doc merged token intervals) vs an independent Python interval
    merger over random low-entropy corpora."""
    import duckdb

    from kafka_stream_job_spark.operators.dedup import SPAN_MIN_DOCS, SPAN_N
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["dedup_span_mask_manifest"].oracle
    con = duckdb.connect()
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    occ = []  # (doc_id, start, end, span)
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        for i in range(len(toks) - SPAN_N + 1):
            occ.append((doc_id, i + 1, i + SPAN_N, " ".join(toks[i : i + SPAN_N])))
    by_span: dict[str, set] = {}
    for d, _, _, s in occ:
        by_span.setdefault(s, set()).add(d)
    repeated = {s for s, ds in by_span.items() if len(ds) >= SPAN_MIN_DOCS}
    hits: dict[int, list] = {}
    for d, a, b, s in occ:
        if s in repeated:
            hits.setdefault(d, []).append((a, b))
    want = set()
    for d, ivals in hits.items():
        ivals.sort()
        island = 0
        cur_start, cur_end, n_merged = None, -1, 0
        for a, b in ivals:
            if a > cur_end:
                if cur_start is not None:
                    want.add((d, island, cur_start, cur_end, n_merged))
                island += 1
                cur_start, cur_end, n_merged = a, b, 1
            else:
                cur_end = max(cur_end, b)
                n_merged += 1
        if cur_start is not None:
            want.add((d, island, cur_start, cur_end, n_merged))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user_id
            st.integers(min_value=0, max_value=200),    # ts offset (s)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_funnel_oracle_matches_reference(rows):
    """The strict view→click→purchase funnel SQL (first-view, then first
    later click, then first later purchase) vs an independent Python
    sequencer over random event streams."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (uid, base + datetime.timedelta(seconds=off), typ)
        for uid, off, typ in rows
    ]
    oracle = all_specs()["events_funnel_view_click_purchase"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, ts TIMESTAMP, event_type VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", data)
    n_view, n_vc, n_vcp = con.sql(oracle).fetchall()[0]

    users = {u for u, _, _ in data}
    cnt_v = cnt_c = cnt_p = 0
    for u in users:
        evs = [(ts, typ) for uu, ts, typ in data if uu == u]
        t_view = min((ts for ts, t in evs if t == "view"), default=None)
        if t_view is None:
            continue
        cnt_v += 1
        t_click = min(
            (ts for ts, t in evs if t == "click" and ts > t_view), default=None
        )
        if t_click is None:
            continue
        cnt_c += 1
        t_purch = min(
            (ts for ts, t in evs if t == "purchase" and ts > t_click), default=None
        )
        if t_purch is None:
            continue
        cnt_p += 1
    assert (n_view, n_vc, n_vcp) == (cnt_v, cnt_c, cnt_p)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user_id
            st.integers(min_value=0, max_value=200_000),  # ts offset (s) ~2.3 days
        ),
        min_size=1,
        max_size=50,
    )
)
def test_peak_concurrency_oracle_matches_reference(rows):
    """The interval sweep-line SQL (sessions → per-day segments → +1/-1
    net events → running-sum peak) vs an independent Python sweep."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1, 5, 0, 0)
    data = [
        (uid, base + datetime.timedelta(seconds=off), i)
        for i, (uid, off) in enumerate(rows)
    ]
    oracle = all_specs()["events_peak_concurrency"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP, event_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    gap = datetime.timedelta(minutes=30)
    day_len = datetime.timedelta(days=1)
    # 1. sessionize per user
    sessions = []
    by_user: dict[int, list] = {}
    for uid, ts, eid in data:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        evs.sort()
        cur = [evs[0][0], evs[0][0]]
        for ts, _ in evs[1:]:
            if ts - cur[1] >= gap:
                sessions.append((cur[0], cur[1] + gap))
                cur = [ts, ts]
            else:
                cur[1] = ts
        sessions.append((cur[0], cur[1] + gap))
    # 2. split into per-day segments
    segs: dict[datetime.datetime, list] = {}
    for s, e in sessions:
        day = s.replace(hour=0, minute=0, second=0, microsecond=0)
        last = (e - datetime.timedelta(microseconds=1)).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        while day <= last:
            segs.setdefault(day, []).append((max(s, day), min(e, day + day_len)))
            day += day_len
    # 3. per-day sweep with same-instant +1/-1 cancellation
    want = set()
    for day, ivals in segs.items():
        net: dict[datetime.datetime, int] = {}
        for a, b in ivals:
            net[a] = net.get(a, 0) + 1
            net[b] = net.get(b, 0) - 1
        cum, peak = 0, None
        for ts in sorted(net):
            cum += net[ts]
            peak = cum if peak is None else max(peak, cum)
        want.add((day.strftime("%Y-%m-%d"), len(ivals), peak))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["view", "click"]),          # event_type
            st.integers(min_value=0, max_value=30),      # hour offset
            st.integers(min_value=-40, max_value=40),    # value (int-exact)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_gapfill_oracle_matches_reference(rows):
    """The hour-spine gap-fill SQL (dense grid, LEFT JOIN, last-value
    forward fill) vs an independent Python forward-filler."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (typ, base + datetime.timedelta(hours=h, minutes=17), float(v))
        for typ, h, v in rows
    ]
    oracle = all_specs()["events_hourly_gapfill"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_type VARCHAR, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    hourly: dict[tuple, list] = {}
    for typ, ts, v in data:
        h = ts.replace(minute=0, second=0, microsecond=0)
        hourly.setdefault((typ, h), []).append(v)
    hours = [h for _, h in hourly]
    lo, hi = min(hours), max(hours)
    spine = []
    h = lo
    while h <= hi:
        spine.append(h)
        h += datetime.timedelta(hours=1)
    want = set()
    for typ in {t for t, _, _ in data}:
        ff = 0.0
        for h in spine:
            vals = hourly.get((typ, h))
            if vals is not None:
                n = len(vals)
                sv = round(sum(vals) * 100.0) / 100.0
                ff = sv
                was_gap = False
            else:
                n, was_gap = 0, True
            want.add((typ, str(h), n, was_gap, ff))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),       # day offset
            st.integers(min_value=100, max_value=500000), # price cents
        ),
        min_size=3,
        max_size=40,
    )
)
def test_ols_oracle_matches_reference(days):
    """The integer-moments OLS SQL (slope/intercept/R² from exact
    Σx,Σy,Σxy,Σx²,Σy²) vs an independent Python closed form."""
    import datetime
    import math

    import duckdb

    from kafka_stream_job_spark.registry import all_specs
    from .test_reference_impl import _pround

    base = datetime.date(1992, 1, 1)
    data = [
        (base + datetime.timedelta(days=d), c / 100.0) for d, c in days
    ]
    # degenerate slopes (single distinct day / zero y-variance) divide by
    # zero; the real table never does, so keep inputs non-degenerate
    xs = {d for d, _ in days}
    if len(xs) < 2:
        return
    oracle = all_specs()["revenue_trend_ols"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_orderdate DATE, o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?, ?)", data)
    n_g, slope_g, inter_g, r2_g = con.sql(oracle).fetchall()[0]

    daily: dict[int, int] = {}
    for d, c in days:
        daily[d] = daily.get(d, 0) + c
    # cents -> whole units with HALF-AWAY rounding (both engines' ROUND),
    # not Python's banker's round: x.5 must go UP for positive cents.
    pts = [(x, math.floor(c / 100.0 + 0.5)) for x, c in daily.items()]
    if len({y for _, y in pts}) < 2:
        return
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    num = n * 1.0 * sxy - sx * 1.0 * sy
    den = n * 1.0 * sxx - sx * 1.0 * sx
    slope = num / den
    inter = (sy * 1.0 / n) - slope * (sx * 1.0 / n)
    r2 = (num * num) / (den * (n * 1.0 * syy - sy * 1.0 * sy))
    assert n_g == n
    assert slope_g == _pround(slope, 6)
    assert inter_g == _pround(inter, 6)
    assert r2_g == _pround(r2, 6)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # user_id
            st.integers(min_value=0, max_value=10),  # day offset
            st.integers(min_value=0, max_value=23),  # hour
        ),
        min_size=1,
        max_size=50,
    )
)
def test_retention_oracle_matches_reference(rows):
    """The day-over-day retention SQL (distinct active days per user,
    LAG gap == 1) vs an independent Python implementation."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (uid, base + datetime.timedelta(days=d, hours=h)) for uid, d, h in rows
    ]
    oracle = all_specs()["events_user_retention"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    active: dict[int, set] = {}
    for uid, ts in data:
        active.setdefault(uid, set()).add(ts.date())
    per_day: dict[datetime.date, list] = {}
    for uid, ds in active.items():
        for d in ds:
            retained = (d - datetime.timedelta(days=1)) in ds
            per_day.setdefault(d, []).append(retained)
    want = {
        (str(d), len(flags), sum(flags)) for d, flags in per_day.items()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id pool (dedup below)
            st.integers(min_value=0, max_value=5_000),   # n_chars
        ),
        min_size=1,
        max_size=120,
    )
)
def test_shard_manifest_oracle_matches_reference(docs):
    """The shard-manifest oracle (global ROW_NUMBER over n_chars DESC,
    doc_id; striped shard = (rnk-1) % 16) vs an independent Python
    sort-and-stripe — pins the tie order and the checksum arithmetic.
    Also asserts the striping invariant the operator exists for: per-shard
    doc counts never differ by more than one."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for doc_id, n_chars in docs:
        seen.setdefault(doc_id, n_chars)  # unique doc_id, first wins
    data = sorted(seen.items())

    oracle = all_specs()["shard_manifest_balanced"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    ordered = sorted(data, key=lambda d: (-d[1], d[0]))
    shards: dict[int, list] = {}
    for i, (doc_id, n_chars) in enumerate(ordered):
        shards.setdefault(i % 16, []).append((i + 1, n_chars))
    want = {
        (
            sid,
            len(members),
            sum(nc for _, nc in members),
            sum(rnk for rnk, _ in members),
        )
        for sid, members in shards.items()
    }
    assert got == want
    counts = [len(m) for m in shards.values()] + [0] * (16 - len(shards))
    assert max(counts) - min(c for c in counts if c >= 0) <= 1


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6 * 24 * 3600),  # ts offset (s)
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=100),            # whole-number value
        ),
        min_size=1,
        max_size=80,
    )
)
def test_late_drop_oracle_matches_reference(rows):
    """The streaming late-data-drop oracle vs an independent Python
    watermark simulator: late subset = ts < max(ts) - 3 h AND
    event_id % 8 = 0; emitted windows = hourly buckets whose end <=
    max(ts) - 1 h, aggregating only the on-time rows. Whole-number values
    keep the ROUND() leg exact in both engines."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    data = [
        (i, base + datetime.timedelta(seconds=off), etype, float(val))
        for i, (off, etype, val) in enumerate(rows)
    ]
    oracle = all_specs()["streaming_late_data_drop"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP,"
        " event_type VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    maxts = max(ts for _, ts, _, _ in data)
    late_cut = maxts - datetime.timedelta(hours=3)
    frontier = maxts - datetime.timedelta(hours=1)
    agg: dict[tuple, list] = {}
    for eid, ts, etype, val in data:
        if ts < late_cut and eid % 8 == 0:
            continue  # dropped by the watermark
        win_start = ts.replace(minute=0, second=0, microsecond=0)
        if win_start + datetime.timedelta(hours=1) > frontier:
            continue  # window not yet closed at final watermark
        agg.setdefault((win_start, etype), []).append(val)
    want = {
        (ws.strftime("%Y-%m-%d %H:%M:%S"), et, len(vals), float(sum(vals)))
        for (ws, et), vals in agg.items()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),              # user_id
            st.integers(min_value=0, max_value=4 * 3600),       # ts offset (s)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_outer_attribution_oracle_matches_reference(rows):
    """The streaming left-outer attribution oracle vs an independent
    Python reference: matched (purchase, touch) pairs for touches within
    the preceding 30 minutes, plus NULL-touch rows for unmatched
    purchases strictly below the final watermark
    min(max touch ts, max purchase ts) - 1 h."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    data = [
        (i, base + datetime.timedelta(seconds=off), uid, etype)
        for i, (uid, off, etype) in enumerate(rows)
    ]
    oracle = all_specs()["streaming_unattributed_purchases"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    fmt = "%Y-%m-%d %H:%M:%S.%f"
    touches = [(eid, ts, uid) for eid, ts, uid, et in data if et in ("view", "click")]
    purchases = [(eid, ts, uid) for eid, ts, uid, et in data if et == "purchase"]
    want = set()
    horizon = datetime.timedelta(minutes=30)
    for pid, pts, puid in purchases:
        matched = False
        for tid, tts, tuid in touches:
            if tuid == puid and tts <= pts <= tts + horizon:
                want.add((pid, puid, pts.strftime(fmt), tid, tts.strftime(fmt)))
                matched = True
        if not matched and touches and purchases:
            wm = min(
                max(ts for _, ts, _ in touches),
                max(ts for _, ts, _ in purchases),
            ) - datetime.timedelta(hours=1)
            if pts < wm:
                want.add((pid, puid, pts.strftime(fmt), None, None))
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),          # custkey
            st.integers(min_value=0, max_value=500_000),     # price cents
        ),
        min_size=1,
        max_size=100,
    )
)
def test_abc_classification_oracle_matches_reference(orders):
    """The ABC oracle (cumulative revenue share over revenue-desc order,
    integer-cents thresholds cum*10 <= t*{5,8}) vs an independent Python
    prefix-sum classifier. Also pins the invariant that every customer
    lands in exactly one class and class totals sum to the grand total."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    data = [(ck, cents / 100.0) for ck, cents in orders]
    oracle = all_specs()["abc_customer_classification"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_custkey BIGINT, o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    rev: dict[int, int] = {}
    for ck, cents in orders:
        rev[ck] = rev.get(ck, 0) + cents
    total = sum(rev.values())
    running = 0
    classes: dict[str, list] = {}
    for ck, cents in sorted(rev.items(), key=lambda kv: (-kv[1], kv[0])):
        running += cents
        cls = "A" if running * 10 <= total * 5 else (
            "B" if running * 10 <= total * 8 else "C"
        )
        classes.setdefault(cls, []).append(cents)
    want = {(c, len(v), sum(v)) for c, v in classes.items()}
    assert got == want
    assert sum(n for _, n, _ in got) == len(rev)
    assert sum(t for _, _, t in got) == total


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # user_id
            st.integers(min_value=0, max_value=5_000_000),  # ts offset (ms)
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_forward_asof_oracle_matches_reference(rows):
    """The forward as-of oracle (first touch at-or-after each purchase,
    ties by event_id, NULL row when no future touch) vs an independent
    Python scan — pins the >= inclusivity and full-elapsed-seconds
    semantics."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    data = [
        (i, base + datetime.timedelta(milliseconds=off), uid, etype)
        for i, (uid, off, etype) in enumerate(rows)
    ]
    oracle = all_specs()["asof_next_touch_latency"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP,"
        " user_id BIGINT, event_type VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    touches = [(eid, ts, uid, et) for eid, ts, uid, et in data if et in ("view", "click")]
    want = set()
    for pid, pts, puid, et in data:
        if et != "purchase":
            continue
        cands = sorted(
            [(ts, eid, tt) for eid, ts, uid, tt in touches if uid == puid and ts >= pts]
        )
        if cands:
            tts, tid, ttype = cands[0]
            want.add((pid, puid, tid, ttype, int((tts - pts).total_seconds())))
        else:
            want.add((pid, puid, None, None, None))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),      # month offset
            st.integers(min_value=0, max_value=27),      # day-of-month offset
            st.integers(min_value=0, max_value=100_000), # price cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_recursive_month_spine_oracle_matches_reference(orders):
    """The recursive-CTE month-spine oracle vs a Python calendar walk:
    every month between the first and last order appears exactly once,
    empty months carry zeros, monthly totals match."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    def add_months(d: datetime.date, n: int) -> datetime.date:
        y, m = divmod(d.month - 1 + n, 12)
        return datetime.date(d.year + y, m + 1, 1)

    base = datetime.date(1995, 1, 1)
    data = [
        (
            datetime.datetime.combine(
                add_months(base, mo).replace(day=1) + datetime.timedelta(days=dd),
                datetime.time(),
            ),
            cents / 100.0,
        )
        for mo, dd, cents in orders
    ]
    oracle = all_specs()["recursive_month_spine"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_orderdate TIMESTAMP, o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    months: dict[datetime.date, list] = {}
    for ts, price in data:
        months.setdefault(ts.date().replace(day=1), []).append(price)
    lo = min(months)
    hi = max(months)
    want = set()
    m = lo
    while m <= hi:
        vals = months.get(m, [])
        want.add(
            (
                m.isoformat(),
                len(vals),
                round(sum(round(v * 100) for v in vals)) / 100.0,
            )
        )
        m = add_months(m, 1)
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab c")),  # spaces + tiny alphabet
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_udtf_word_expand_oracle_matches_reference(texts):
    """The UDTF word-expansion oracle (string_split on single spaces,
    empty tokens dropped) vs a Python split — pins the consecutive-space
    and leading/trailing-space semantics that the Spark UDTF's
    text.split(' ') filter reproduces."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    # doc_id % 50 == 0 filter in the oracle: give every doc id 50*i
    data = [(50 * i, t) for i, t in enumerate(texts)]
    oracle = all_specs()["udtf_word_expand"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    by_len: dict[int, list] = {}
    for _, t in data:
        for w in t.split(" "):
            if w:
                by_len.setdefault(len(w), []).append(w)
    want = {(n, len(ws), len(set(ws))) for n, ws in by_len.items()}
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),       # nationkey
            st.integers(min_value=-99999, max_value=99999),  # acctbal cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_lateral_topk_oracle_matches_reference(custs):
    """The LATERAL top-3-per-nation oracle (window rewrite) vs a Python
    per-group sort — pins DESC order, the custkey tie-break, and groups
    smaller than k."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    nations = [(nk, f"N{nk}") for nk in range(5)]
    data = [(ck, nk, cents / 100.0) for ck, (nk, cents) in enumerate(custs)]
    oracle = all_specs()["lateral_top_customers_per_nation"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE nation (n_nationkey BIGINT, n_name VARCHAR)")
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_nationkey BIGINT,"
        " c_acctbal DOUBLE)"
    )
    con.executemany("INSERT INTO nation VALUES (?, ?)", nations)
    con.executemany("INSERT INTO customer VALUES (?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    by_nation: dict[int, list] = {}
    for ck, nk, bal in data:
        by_nation.setdefault(nk, []).append((-bal, ck))
    want = set()
    for nk, members in by_nation.items():
        for negbal, ck in sorted(members)[:3]:
            want.add((f"N{nk}", ck, -negbal))
    assert got == want


@settings(max_examples=80, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet=st.sampled_from(list("ringbolt ")), min_size=0, max_size=16),
        min_size=1,
        max_size=30,
    )
)
def test_trigram_search_candidates_never_miss(names):
    """Trigram posting-list intersection is a SUPERSET of the LIKE answer
    (no false negatives), and after the contains() verify it equals the
    LIKE answer exactly — the invariant the trigram_like_search operator
    rests on. Pure-Python model of the same pipeline."""
    needle = "ring"
    needle_tr = {needle[i : i + 3] for i in range(len(needle) - 2)}
    like = {i for i, n in enumerate(names) if needle in n}
    cands = set()
    for i, n in enumerate(names):
        trigrams = {n[j : j + 3] for j in range(max(len(n) - 2, 0))}
        if needle_tr <= trigrams:
            cands.add(i)
    assert like <= cands, "posting intersection must never miss a true match"
    verified = {i for i in cands if needle in names[i]}
    assert verified == like


@settings(max_examples=60, deadline=None)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=1_000_000), min_size=1, max_size=200
    )
)
def test_distributed_percentile_formula_matches_quantile_cont(cents):
    """The rank-probe interpolation (h = (n-1)p zero-based, v_lo +
    frac·(v_hi − v_lo)) used by percentile_distributed_exact vs DuckDB's
    quantile_cont on random data — pins the continuous-quantile
    definition the operator re-derives from global ranks."""
    import duckdb

    vals = [c / 100.0 for c in cents]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    s = sorted(vals)
    n = len(s)
    for p in (0.0, 0.25, 0.5, 0.9, 0.95, 1.0):
        (want,) = con.sql(f"SELECT quantile_cont(v, {p}) FROM t").fetchone()
        h = p * (n - 1)
        lo = int(h)
        hi = min(lo + 1, n - 1)
        frac = h - lo
        got = s[lo] + frac * (s[hi] - s[lo])
        assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


@settings(max_examples=30, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("abc ")), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_apply_oracle_matches_reference(texts):
    """The BPE apply oracle (learn 3 merges, fold all of them, report
    frequency-weighted token counts) vs an independent Python BPE — the
    learn half is already property-tested; this pins the APPLY fold and
    the before/after accounting."""
    import re
    from collections import Counter

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    data = [(i, t) for i, t in enumerate(texts)]
    oracle = all_specs()["bpe_apply_merges"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    got = set(map(tuple, con.sql(oracle).fetchall()))

    words = Counter()
    for _, t in data:
        for w in re.split(r"\s+", t.strip().lower()):
            words[w] += 1
    vocab = {w: [list(w), c] for w, c in words.items()}
    for _ in range(3):
        pairs = Counter()
        for toks, c in vocab.values():
            for a, b in zip(toks, toks[1:]):
                pairs[f"{a} {b}"] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        pa, pb = best.split(" ")
        for entry in vocab.values():
            toks, _c = entry
            out = []
            for x in toks:
                if out and out[-1] == pa and x == pb:
                    out[-1] = pa + pb
                else:
                    out.append(x)
            entry[0] = out
    want = {
        (
            len(vocab),
            sum(c * len(w) for w, (t, c) in vocab.items()),
            sum(c * len(t) for w, (t, c) in vocab.items()),
        )
    }
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    lines=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # orderkey
            st.integers(min_value=0, max_value=12),  # partkey
        ),
        min_size=1,
        max_size=80,
    )
)
def test_kcore_oracle_matches_reference(lines):
    """The k-core peel oracle vs an independent Python peeler over the
    co-purchase graph — pins the degree threshold, the simultaneous
    (not sequential) removal within a round, and the edge/2 accounting."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import KCORE_K, KCORE_ROUNDS
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["graph_kcore_peel"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", lines)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    baskets: dict[int, set] = {}
    for ok, pk in lines:
        baskets.setdefault(ok, set()).add(pk)
    edges = set()
    for parts in baskets.values():
        for a in parts:
            for b in parts:
                if a != b:
                    edges.add((a, b))
    want = set()
    cur = edges
    for r in range(1, KCORE_ROUNDS + 1):
        deg: dict[int, int] = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {n for n, d in deg.items() if d >= KCORE_K}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
        want.add((r, len({a for a, _ in cur}), len(cur) // 2))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),  # hour offset
            st.integers(min_value=1, max_value=20),   # events in that hour
        ),
        min_size=2,
        max_size=40,
    )
)
def test_autocorr_oracle_matches_reference(counts):
    """The hourly autocorrelation oracle vs a Python Pearson over the
    lagged series — pins the LEAD alignment (lag over the hour-sorted
    aggregate, not over wall-time gaps), the exact-integer moments, and
    the NULL guard for degenerate variance."""
    import datetime
    import math

    import duckdb

    from kafka_stream_job_spark.operators.relational import _AC_LAGS
    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    hours = {}
    for off, n in counts:
        hours[off] = hours.get(off, 0) + n
    data = []
    eid = 0
    for off, n in hours.items():
        for _ in range(n):
            data.append((eid, base + datetime.timedelta(hours=off, minutes=1)))
            eid += 1
    oracle = all_specs()["events_hourly_autocorr"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    series = [hours[k] for k in sorted(hours)]
    want = set()
    for lag in _AC_LAGS:
        xs = series[:-lag] if lag < len(series) else []
        ys = series[lag:]
        n = len(xs)
        if n == 0:
            want.add((lag, 0, None))
            continue
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        varx = n * 1.0 * sxx - sx * 1.0 * sx
        vary = n * 1.0 * syy - sy * 1.0 * sy
        if varx <= 0 or vary <= 0:
            want.add((lag, n, None))
        else:
            corr = (n * 1.0 * sxy - sx * 1.0 * sy) / (
                math.sqrt(varx) * math.sqrt(vary)
            )
            want.add((lag, n, round(corr * 1000000.0) / 1000000.0 + 0.0))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from(list("abcd ")), min_size=1, max_size=24),
        min_size=1,
        max_size=30,
    )
)
def test_token_budget_oracle_matches_reference(texts):
    """The token-budget curation oracle vs a Python greedy fill — pins
    the integer TTR quality key, the half-of-total budget, the
    prefix-sum cut (running <= budget), and the empty-selection edge."""
    import re

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    data = [(i, t) for i, t in enumerate(texts)]
    oracle = all_specs()["corpus_token_budget_plan"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    docs = []
    for i, t in data:
        toks = re.split(r"\s+", t.strip())
        n = len(toks)
        uniq = len({w.lower() for w in toks})
        docs.append((i, n, uniq * 10000 // n))
    budget = sum(n for _, n, _ in docs) // 2
    running = 0
    sel = []
    for i, n, ttr in sorted(docs, key=lambda d: (-d[2], d[0])):
        running += n
        if running > budget:
            break
        sel.append((n, ttr))
    want = {
        (
            len(sel),
            sum(n for n, _ in sel) if sel else None,
            min(t for _, t in sel) if sel else None,
            budget,
        )
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    hours=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # hour offset
            st.integers(min_value=1, max_value=30),  # count
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cusum_oracle_matches_reference(hours):
    """The CUSUM oracle vs a Python accumulator — pins the integer
    scaling (deviation × n, no fractional mean), the excursion extrema,
    and the earliest-hour tiebreak for peak/trough."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    agg: dict[int, int] = {}
    for off, n in hours:
        agg[off] = agg.get(off, 0) + n
    data = []
    eid = 0
    for off, n in agg.items():
        for _ in range(n):
            data.append((eid, base + datetime.timedelta(hours=off, minutes=2)))
            eid += 1
    oracle = all_specs()["events_cusum_drift"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    got = set(map(tuple, con.sql(oracle).fetchall()))

    series = sorted(agg.items())
    n = len(series)
    sx = sum(c for _, c in series)
    s = 0
    vals = []
    for off, c in series:
        s += c * n - sx
        vals.append((off, s))
    mx = max(v for _, v in vals)
    mn = min(v for _, v in vals)
    fmt = "%Y-%m-%d %H:%M:%S"
    peak = (base + datetime.timedelta(hours=min(o for o, v in vals if v == mx))).strftime(fmt)
    trough = (base + datetime.timedelta(hours=min(o for o, v in vals if v == mn))).strftime(fmt)
    assert got == {(mx, mn, peak, trough, n)}


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),      # custkey
            st.integers(min_value=0, max_value=4),        # nationkey
            st.integers(min_value=-50000, max_value=50000),  # balance cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_merge_full_cdc_oracle_matches_reference(custs):
    """The CRUD-merge oracle vs a Python applier — pins delete-wins
    precedence for keys matching both the update and delete predicates
    (custkey divisible by 91), the 10% restatement arithmetic, and the
    per-nation inserts."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for ck, nk, cents in custs:
        seen.setdefault(ck, (nk, cents))
    data = [(ck, nk, cents / 100.0) for ck, (nk, cents) in seen.items()]
    nations = [(nk,) for nk in range(5)]
    oracle = all_specs()["merge_full_cdc"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_nationkey BIGINT,"
        " c_acctbal DOUBLE)"
    )
    con.execute("CREATE TABLE nation (n_nationkey BIGINT)")
    con.executemany("INSERT INTO customer VALUES (?, ?, ?)", data)
    con.executemany("INSERT INTO nation VALUES (?)", nations)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    by_nation: dict[int, list] = {nk: [] for nk in range(5)}
    for ck, (nk, cents) in seen.items():
        if ck % 13 == 0:
            continue  # delete wins, even when ck % 7 == 0 too
        if ck % 7 == 0:
            # Integer-exact round-half-away: (|c|*11+5)//10 on the
            # non-negative magnitude — mirrors engine + oracle exactly.
            newc = (abs(cents) * 11 + 5) // 10 * (1 if cents >= 0 else -1)
            by_nation.setdefault(nk, []).append((newc, 1))
        else:
            by_nation.setdefault(nk, []).append((cents, 0))
    for nk in range(5):
        by_nation[nk].append((100000, 0))  # insert: 1000.00
    want = {
        (
            nk,
            len(rows),
            sum(c for c, _ in rows) / 100.0,
            sum(u for _, u in rows),
        )
        for nk, rows in by_nation.items()
        if rows
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    cents=st.lists(
        st.integers(min_value=100, max_value=99_999_999), min_size=1, max_size=80
    )
)
def test_benford_oracle_matches_reference(cents):
    """The Benford audit oracle vs a Python digit counter — pins the
    floor-then-first-digit extraction and the share arithmetic."""
    import math

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    vals = [c / 100.0 for c in cents]
    oracle = all_specs()["benford_digit_audit"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_totalprice DOUBLE)")
    con.executemany("INSERT INTO orders VALUES (?)", [(v,) for v in vals])
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    counts: dict[int, int] = {}
    for v in vals:
        d = int(str(int(math.floor(v)))[0])
        counts[d] = counts.get(d, 0) + 1
    total = sum(counts.values())
    want = {
        (
            d,
            n,
            round(n * 1.0 / total * 1e6) / 1e6 + 0.0,
            round(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6 + 0.0,
        )
        for d, n in counts.items()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),             # nationkey
            st.sampled_from(["A", "B"]),                       # segment
            st.integers(min_value=-5000, max_value=5000),      # balance
        ),
        min_size=1,
        max_size=60,
    )
)
def test_k_anonymity_oracle_matches_reference(custs):
    """The k-anonymity oracle vs a Python class counter — pins the
    quasi-identifier bucketing (floor of balance/1000) and the risky
    class/row accounting at the threshold boundary."""
    import math

    import duckdb

    from kafka_stream_job_spark.operators.relational import _KANON_K
    from kafka_stream_job_spark.registry import all_specs

    data = [(i, nk, seg, float(bal)) for i, (nk, seg, bal) in enumerate(custs)]
    oracle = all_specs()["k_anonymity_audit"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_nationkey BIGINT,"
        " c_mktsegment VARCHAR, c_acctbal DOUBLE)"
    )
    con.executemany("INSERT INTO customer VALUES (?, ?, ?, ?)", data)
    got = set(map(tuple, con.sql(oracle).fetchall()))

    classes: dict[tuple, int] = {}
    for _, nk, seg, bal in data:
        key = (nk, seg, math.floor(bal / 1000.0))
        classes[key] = classes.get(key, 0) + 1
    sizes = list(classes.values())
    want = {
        (
            len(sizes),
            sum(1 for n in sizes if n < _KANON_K),
            sum(n for n in sizes if n < _KANON_K),
            min(sizes),
            sum(sizes),
        )
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    hours=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),   # hour-of-day
            st.integers(min_value=0, max_value=9),    # day
            st.integers(min_value=1, max_value=15),   # events in cell
        ),
        min_size=1,
        max_size=50,
    )
)
def test_seasonal_profile_oracle_matches_reference(hours):
    """The seasonal-profile oracle vs a Python hod accumulator — pins
    the basis-point floor division and the per-(day, hod) min/max."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    cells: dict[tuple, int] = {}
    for hod, day, n in hours:
        cells[(day, hod)] = cells.get((day, hod), 0) + n
    data = []
    eid = 0
    for (day, hod), n in cells.items():
        for _ in range(n):
            data.append(
                (eid, base + datetime.timedelta(days=day, hours=hod, minutes=3))
            )
            eid += 1
    oracle = all_specs()["events_seasonal_profile"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    total = sum(cells.values())
    by_hod: dict[int, list] = {}
    for (day, hod), n in cells.items():
        by_hod.setdefault(hod, []).append(n)
    want = {
        (hod, sum(ns), sum(ns) * 10000 // total, min(ns), max(ns))
        for hod, ns in by_hod.items()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # user_id
            st.integers(min_value=0, max_value=10_800),     # ts offset (s)
            st.integers(min_value=0, max_value=50),         # whole value
        ),
        min_size=1,
        max_size=50,
    )
)
def test_range_frame_oracle_matches_reference(rows):
    """The RANGE-frame trailing-hour oracle vs a Python scan — pins the
    inclusive [ts − 1 h, ts] bound and the PEER-row semantics (events at
    the exact same timestamp see each other regardless of row order)."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (i, uid, base + datetime.timedelta(seconds=off), float(val))
        for i, (uid, off, val) in enumerate(rows)
    ]
    oracle = all_specs()["window_range_trailing_hour"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT,"
        " ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    hour = datetime.timedelta(hours=1)
    want = set()
    for eid, uid, ts, _ in data:
        peers = [
            v
            for _, u2, t2, v in data
            if u2 == uid and ts - hour <= t2 <= ts
        ]
        want.add((eid, uid, len(peers), float(sum(peers))))
    assert got == want


@settings(max_examples=80, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    k=st.sampled_from([2, 3, 4, 7, 10, 16]),
)
def test_ntile_from_rank_formula_matches_duckdb(n, k):
    """The closed-form NTILE(k) bucket arithmetic used on top of the
    distributed global rank (operators/_distributed.py:ntile_from_rank)
    vs DuckDB's NTILE over every rank 1..n — pins the big-buckets-first
    split for all n mod k shapes, including n < k."""
    import duckdb

    con = duckdb.connect()
    want = dict(
        con.sql(
            f"SELECT r, ntile({k}) OVER (ORDER BY r) FROM range(1, {n + 1}) t(r)"
        ).fetchall()
    )
    q, r = divmod(n, k)
    big = q + 1
    got = {}
    for rank in range(1, n + 1):
        if rank <= r * big:
            got[rank] = (rank - 1) // big + 1
        else:
            # q == 0 only possible when rank <= r*big covers all rows
            got[rank] = r + (rank - r * big - 1) // q + 1
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # user_id
            st.integers(min_value=0, max_value=3 * 24 * 3600 - 1),  # sec offset
        ),
        min_size=1,
        max_size=120,
    )
)
def test_interval_overlap_oracle_matches_reference(rows):
    """The bucketed interval-overlap oracle vs a brute-force Python scan:
    per-day user activity spans against the daily [02:00, 04:00) incident
    window — pins the strict-overlap predicate (zero-length spans at the
    window open edge excluded) and the floor-seconds arithmetic."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (i, uid, base + datetime.timedelta(seconds=off), "view", 0.0, None)
        for i, (uid, off) in enumerate(rows)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT, ts TIMESTAMP,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", data)
    oracle = all_specs()["events_interval_overlap_join"].oracle
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    spans: dict = {}
    for _, uid, ts, *_ in data:
        d = ts.date()
        s, e = spans.get((d, uid), (ts, ts))
        spans[(d, uid)] = (min(s, ts), max(e, ts))
    per_day: dict = {}
    for (d, uid), (s, e) in spans.items():
        i_s = datetime.datetime(d.year, d.month, d.day, 2)
        i_e = datetime.datetime(d.year, d.month, d.day, 4)
        if s < i_e and i_s < e:
            lo = max(s, i_s)
            hi = min(e, i_e)
            us = int((hi - lo).total_seconds() * 1_000_000)
            n, tot = per_day.get(d, (0, 0))
            per_day[d] = (n + 1, tot + us)
    want = {
        (str(d), n, tot // 1_000_000) for d, (n, tot) in per_day.items()
    }
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-0.5, max_value=0.5, allow_nan=False, width=32),
            min_size=16,
            max_size=16,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pq_oracle_matches_reference(vecs):
    """The PQ code/reconstruction-error oracle vs a pure-Python PQ on
    random 16-d embeddings (4 subspaces of width 4 at DIM=16 scale —
    the oracle is regenerated for the small dim so the test exercises the
    same SQL generator, not a copy). Pins seeding, integer quantization,
    argmin tie-break, and the code string assembly."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.operators.similarity import (
        PQ_SCALE,
        _pq_oracle,
    )
    import kafka_stream_job_spark.operators.similarity as sim

    # regenerate the oracle for a 16-d table (4 subspaces × width 4)
    old = (sim.PQ_SUBSPACES, sim.PQ_WIDTH)
    sim.PQ_SUBSPACES, sim.PQ_WIDTH = 4, 4
    try:
        oracle = _pq_oracle()
    finally:
        sim.PQ_SUBSPACES, sim.PQ_WIDTH = old
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INT)")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?, ?)",
        [(i, v, 0) for i, v in enumerate(vecs)],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    def seed_hash(vid: int) -> int:
        return int(hashlib.md5(f"pq:{vid}".encode()).hexdigest()[:7], 16)

    def quant(v):
        # float32→double widening is exact, so float(x) * PQ_SCALE is the
        # same double the engines compute
        return [round_half_away(float(x) * PQ_SCALE) for x in v]

    def round_half_away(x: float) -> float:
        import math

        return math.floor(abs(x) + 0.5) * (1 if x >= 0 else -1)

    q = {i: quant(v) for i, v in enumerate(vecs)}
    seeds = [i for i in range(len(vecs)) if seed_hash(i) % 32 == 0]
    want = set()
    if seeds:
        for i, qv in q.items():
            code, err = [], 0
            for s in range(4):
                sub = qv[4 * s : 4 * s + 4]
                best = None
                for cid in seeds:
                    csub = q[cid][4 * s : 4 * s + 4]
                    d = sum((a - b) * (a - b) for a, b in zip(sub, csub))
                    if best is None or (d, cid) < best:
                        best = (d, cid)
                code.append(str(best[1]))
                err += int(best[0])
            want.add((i, "-".join(code), err))
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    toks=st.lists(
        st.tuples(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
            st.sampled_from(["en", "fr"]),
        ),
        min_size=1,
        max_size=200,
    ),
    top_k=st.integers(min_value=1, max_value=5),
)
def test_vocab_coverage_formula_matches_reference(toks, top_k):
    """The vocab-coverage basis-point arithmetic vs a Python reference:
    top-K by (count DESC, token ASC), integer // coverage — exercised by
    swapping VOCAB_TOP_K into the oracle, one doc per token."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["text_vocab_coverage"].oracle.replace(
        "<= 200", f"<= {top_k}"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
        [(i, t, lang, "s", len(t)) for i, (t, lang) in enumerate(toks)],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    from collections import Counter, defaultdict

    per_lang: dict = defaultdict(Counter)
    for t, lang in toks:
        per_lang[lang][t] += 1
    want = set()
    for lang, counts in per_lang.items():
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(counts.values())
        covered = sum(c for _, c in ranked[:top_k])
        bp = covered * 10000 // total
        want.add((lang, total, len(counts), bp, 10000 - bp))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet="abr ", min_size=0, max_size=12),
        min_size=1,
        max_size=25,
    )
)
def test_fuzzy_join_prefix_filter_is_complete(names):
    """PPJoin prefix-filter completeness: the fuzzy-join oracle (prefix
    candidates → exact verify) must find EXACTLY the pairs brute force
    finds at J ≥ 0.6 — the prefix filter may prune candidates but can
    never lose a qualifying pair (pigeonhole on ≥ ceil(τ·n) shared
    trigrams), and the integer jaccard_bp arithmetic must agree."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["fuzzy_join_part_names"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE part (p_partkey BIGINT, p_name VARCHAR)")
    con.executemany(
        "INSERT INTO part VALUES (?, ?)", list(enumerate(names))
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    def trigs(s: str) -> set:
        return {s[i : i + 3] for i in range(len(s) - 2)}

    a_names = sorted({n.lower() for n in names})
    want = set()
    for an in a_names:
        ta = trigs(an)
        if not ta:
            continue
        for bn in (x + "s" for x in a_names):
            tb = trigs(bn)
            if not tb:
                continue
            shared = len(ta & tb)
            union = len(ta | tb)
            if shared * 10 >= 6 * union:
                want.add((bn, an, shared * 10000 // union))
    assert got == want


@settings(max_examples=120, deadline=None)
@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=2, max_size=60
    )
)
def test_holt_fold_oracle_matches_reference(xs):
    """The list-encoded Holt double-exponential fold embedded in the
    events_holt_forecast oracle vs the textbook recurrence in pure
    Python — bit-for-bit, any series. (The state is a [level, trend]
    DOUBLE list because DuckDB 1.0 mis-evaluates struct accumulators
    that reference acc twice; this test also pins that encoding.)"""
    import duckdb

    con = duckdb.connect()
    st_l, st_b = con.execute(
        """
        SELECT st[1], st[2] FROM (
            SELECT list_reduce(
                list_prepend([xs[1], xs[2] - xs[1]],
                             [[x, CAST(0 AS DOUBLE)] for x in xs[3:]]),
                (acc, s) ->
                    [0.25 * s[1] + 0.75 * (acc[1] + acc[2]),
                     0.5 * ((0.25 * s[1] + 0.75 * (acc[1] + acc[2]))
                            - acc[1]) + 0.5 * acc[2]]) AS st
            FROM (SELECT ?::DOUBLE[] AS xs)
        )
        """,
        [list(map(float, xs))],
    ).fetchone()
    lvl, trd = float(xs[0]), float(xs[1]) - float(xs[0])
    for x in map(float, xs[2:]):
        new_l = 0.25 * x + 0.75 * (lvl + trd)
        trd = 0.5 * (new_l - lvl) + 0.5 * trd
        lvl = new_l
    assert st_l == lvl and st_b == trd


@settings(max_examples=60, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_bfs_unrolled_min_join_matches_python_bfs(edges):
    """The 3-hop unrolled min-distance CTE (graph_bfs_hops oracle shape)
    vs a plain Python BFS capped at 3 hops, from the min source node,
    over arbitrary directed graphs (self-loops dropped like the real
    edge derivation)."""
    import duckdb

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    sql = "WITH d0 AS (SELECT MIN(src) AS part, 0 AS dist FROM edges)"
    for i in range(1, 4):
        sql += f""",
        d{i} AS (
            SELECT part, MIN(dist) AS dist FROM (
                SELECT part, dist FROM d{i - 1}
                UNION ALL
                SELECT e.dst, d.dist + 1 FROM edges e
                JOIN d{i - 1} d ON e.src = d.part
            ) GROUP BY part
        )"""
    sql += " SELECT part, dist FROM d3"
    got = dict(con.sql(sql).fetchall())

    from collections import deque

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    seed = min(a for a, _ in edges)
    want, frontier = {seed: 0}, deque([(seed, 0)])
    while frontier:
        node, d = frontier.popleft()
        if d == 3:
            continue
        for nxt in adj.get(node, ()):
            if nxt not in want:
                want[nxt] = d + 1
                frontier.append((nxt, d + 1))
    assert got == want


@settings(max_examples=80, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=200
    )
)
def test_prefix_max_decomposition_matches_sequential(vals):
    """The distributed prefix-max law: for ANY partitioning of the
    sequence into ordered ranges, local running max combined with the
    max of all earlier ranges equals the sequential running max."""
    import itertools

    seq = list(itertools.accumulate(vals, max))
    for cut in range(1, len(vals) + 1):
        parts = [vals[:cut], vals[cut:]]
        out = []
        earlier = None
        for p in parts:
            run = list(itertools.accumulate(p, max)) if p else []
            for v in run:
                out.append(v if earlier is None or v >= earlier else earlier)
            if run:
                earlier = run[-1] if earlier is None else max(earlier, run[-1])
        assert out == seq


@settings(max_examples=50, deadline=None)
@given(
    files=st.lists(
        st.tuples(
            st.sampled_from(["click", "view"]),       # event_type
            st.integers(min_value=0, max_value=40),    # day offset
            st.integers(min_value=1, max_value=200),   # n rows that day
        ),
        min_size=1,
        max_size=60,
    )
)
def test_compaction_plan_oracle_matches_reference(files):
    """The bin-packing oracle vs a Python first-fit model — pins the
    exclusive-prefix fill rule (a file straddling the target boundary
    belongs to the bucket its PRECEDING bytes land in) and the per-type
    independence of the packing streams."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.operators.relational import (
        _COMPACT_TARGET_BYTES,
    )
    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    data, eid = [], 0
    for etype, day_off, n in files:
        for _ in range(n):
            data.append(
                (eid, base + datetime.timedelta(days=day_off), 7, etype, 1.0, "pp")
            )
            eid += 1
    oracle = all_specs()["compaction_bin_packing_plan"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    # python model: per (type, day) file of len('pp')+64 bytes per row,
    # first-fit by exclusive prefix within each type's day order
    per_cell: dict = {}
    for etype, day_off, n in files:
        key = (etype, day_off)
        per_cell[key] = per_cell.get(key, 0) + n * (2 + 64)
    plans: dict = {}
    for etype in sorted({t for t, _ in per_cell}):
        cum = 0
        for day_off in sorted(d for t, d in per_cell if t == etype):
            size = per_cell[(etype, day_off)]
            bucket = cum // _COMPACT_TARGET_BYTES
            day = (base + datetime.timedelta(days=day_off)).strftime("%Y-%m-%d")
            gk = (etype, bucket)
            n_files, total, first, last = plans.get(gk, (0, 0, day, day))
            plans[gk] = (n_files + 1, total + size, min(first, day), max(last, day))
            cum += size
    want = {
        (etype, bucket, nf, tot, first, last)
        for (etype, bucket), (nf, tot, first, last) in plans.items()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # doc_id
            st.sampled_from(["en", "de"]),            # lang
            st.sampled_from(["web", "book"]),         # source
            st.integers(min_value=0, max_value=30),   # text length
        ),
        min_size=1,
        max_size=60,
    )
)
def test_dpo_pair_oracle_matches_reference(docs):
    """The preference-pair oracle vs a Python model — pins the composite
    ordering keys (longest-then-smallest-id chosen, shortest-then-
    smallest-id rejected) and the ≥2-docs group gate."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for did, lang, source, ln in docs:
        seen.setdefault(did, (lang, source, ln))
    rows = [
        (did, "x" * ln, lang, source, ln)
        for did, (lang, source, ln) in seen.items()
    ]
    oracle = all_specs()["dpo_preference_pairs"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    groups: dict = {}
    for did, (lang, source, ln) in seen.items():
        groups.setdefault((lang, source), []).append((did, ln))
    want = set()
    for (lang, source), members in groups.items():
        if len(members) < 2:
            continue
        chosen = max(members, key=lambda m: (m[1], -m[0]))
        rejected = min(members, key=lambda m: (m[1], m[0]))
        mx = max(ln for _, ln in members)
        mn = min(ln for _, ln in members)
        want.add(
            (lang, source, len(members), chosen[0], rejected[0], mx, mn, mx - mn)
        )
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # nationkey
            st.sampled_from(["AUTO", "BLDG"]),              # mktsegment
            st.integers(min_value=-500000, max_value=900000),  # bal cents
        ),
        min_size=1,
        max_size=80,
    )
)
def test_l_diversity_oracle_matches_reference(custs):
    """The l-diversity oracle vs a Python model — pins the floor-banding
    of negatives, the weak-class threshold, and the strict-majority
    homogeneity predicate."""
    import math

    import duckdb

    from kafka_stream_job_spark.operators.relational import _LDIV_L
    from kafka_stream_job_spark.registry import all_specs

    data = [(i, nk, seg, c / 100.0) for i, (nk, seg, c) in enumerate(custs)]
    oracle = all_specs()["l_diversity_audit"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_nationkey BIGINT,"
        " c_mktsegment VARCHAR, c_acctbal DOUBLE)"
    )
    con.executemany("INSERT INTO customer VALUES (?, ?, ?, ?)", data)
    got = set(map(tuple, con.sql(oracle).fetchall()))

    cells: dict = {}
    for _, nk, seg, bal in data:
        band = math.floor(bal / 1000.0)
        cells[(nk, seg, band)] = cells.get((nk, seg, band), 0) + 1
    classes: dict = {}
    for (nk, seg, band), n in cells.items():
        d, rows, mx = classes.get((nk, seg), (0, 0, 0))
        classes[(nk, seg)] = (d + 1, rows + n, max(mx, n))
    want = (
        len(classes),
        sum(1 for d, _, _ in classes.values() if d < _LDIV_L),
        sum(r for d, r, _ in classes.values() if d < _LDIV_L),
        min(d for d, _, _ in classes.values()),
        sum(1 for _, r, mx in classes.values() if mx * 2 > r),
    )
    assert got == {want}


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),          # custkey
            st.integers(min_value=-40000, max_value=40000),   # bal cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_change_data_feed_oracle_matches_reference(custs):
    """The CDF oracle vs a Python model — pins snapshot membership (md5
    prefix mod rules), the update predicate (restated balance differs ⇔
    custkey % 7 == 0), pre/post image pairing, and that unchanged rows
    emit nothing."""
    import hashlib

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for ck, cents in custs:
        seen.setdefault(ck, cents)
    data = [(ck, cents / 100.0) for ck, cents in seen.items()]
    oracle = all_specs()["change_data_feed_report"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_acctbal DOUBLE)")
    con.executemany("INSERT INTO customer VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    def h(ck):
        return int(hashlib.md5(f"cdf:{ck}".encode()).hexdigest()[:7], 16)

    want = set()
    for ck, cents in seen.items():
        in_old, in_new = h(ck) % 3 != 0, h(ck) % 5 != 0
        new_cents = cents + (100000 if ck % 7 == 0 else 0)
        if in_new and not in_old:
            want.add((ck, "insert", None, new_cents))
        elif in_old and not in_new:
            want.add((ck, "delete", cents, None))
        elif in_old and in_new and cents != new_cents:
            want.add((ck, "update_preimage", cents, None))
            want.add((ck, "update_postimage", None, new_cents))
    assert got == want


# ---------------------------------------------------------------------------
# Fellegi-Sunter linkage: the blocking + comparison-vector + milliweight
# oracle vs a pure-Python reference on adversarial customers — negative
# balances (truncating band division), band-boundary cents, nation
# collisions, and custkeys hitting every perturbation residue.
# ---------------------------------------------------------------------------
def _round_half_away(x: float) -> int:
    """DuckDB/Spark ROUND(double): nearest integer, ties away from zero,
    applied to the double's exact binary value."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _trunc_div(a: int, b: int) -> int:
    """Truncation toward zero — Spark's div and DuckDB's // (NOT Python //)."""
    s = -1 if a < 0 else 1
    return s * (abs(a) // b)


def _linkage_views(custs):
    """(crm, billing) record views with the deterministic perturbations,
    mirroring the registered oracle's CTEs term for term."""
    from kafka_stream_job_spark.operators.linkage import _BAND_CENTS

    crm, billing = [], []
    for ck, nk, cents in custs:
        bal = cents / 100.0
        c = _round_half_away(bal * 100.0)
        nam3 = f"Customer#{ck:09d}"[-3:]
        crm.append((ck, nk, c, "SEG%d" % (ck % 5), nam3, _trunc_div(c, _BAND_CENTS)))
        bc = c + (1 if ck % 5 == 0 else 0)
        bseg = "UNKNOWN" if ck % 7 == 0 else "SEG%d" % (ck % 5)
        bnam = nam3[::-1] if ck % 11 == 0 else nam3
        billing.append((ck, nk, bc, bseg, bnam, _trunc_div(bc, _BAND_CENTS)))
    return crm, billing


@settings(max_examples=60, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # custkey
            st.integers(min_value=0, max_value=3),  # nation: force collisions
            st.integers(min_value=-10_050, max_value=10_050),  # cents
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_linkage_oracle_matches_reference(custs):
    import duckdb

    from kafka_stream_job_spark.operators.linkage import (
        _THRESHOLD_MILLI,
        _W,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["linkage_fellegi_sunter"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR,"
        " c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)"
    )
    con.executemany(
        "INSERT INTO customer VALUES (?, ?, ?, ?, ?)",
        [
            (ck, f"Customer#{ck:09d}", nk, cents / 100.0, "SEG%d" % (ck % 5))
            for ck, nk, cents in custs
        ],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    crm, billing = _linkage_views(custs)
    agg: dict[int, list] = {}
    for ak, ankey, ac, aseg, anam, aband in crm:
        for bk, bnkey, bc, bseg, bnam, bband in billing:
            if ankey != bnkey or aband != bband:
                continue
            w = (
                (_W["bal_a"] if ac == bc else _W["bal_d"])
                + (_W["seg_a"] if aseg == bseg else _W["seg_d"])
                + (_W["nam_a"] if anam == bnam else _W["nam_d"])
            )
            mw = _round_half_away(1000.0 * w)
            row = agg.setdefault(ankey, [0, 0, 0, 0, 0])
            row[0] += 1
            if mw > _THRESHOLD_MILLI:
                row[1] += 1
                if ak == bk:
                    row[2] += 1
                else:
                    row[3] += 1
            row[4] += mw
    want = {(nk, *vals) for nk, vals in agg.items()}
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=-10_050, max_value=10_050),
        ),
        min_size=2,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_linkage_em_oracle_matches_reference(custs):
    """The EM oracle vs a pure-Python EM over the same combo counts —
    pins the integerize-before-sum discipline and the exact-integer
    M-step numerators/denominators on arbitrary inputs."""
    import duckdb

    from kafka_stream_job_spark.operators.linkage import (
        _EM_INIT,
        _EM_ITERS,
        _FIELDS,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["linkage_em_parameters"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR,"
        " c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)"
    )
    con.executemany(
        "INSERT INTO customer VALUES (?, ?, ?, ?, ?)",
        [
            (ck, f"Customer#{ck:09d}", nk, cents / 100.0, "SEG%d" % (ck % 5))
            for ck, nk, cents in custs
        ],
    )
    got_rows = con.sql(oracle).fetchall()

    crm, billing = _linkage_views(custs)
    combos = Counter()
    for ak, ankey, ac, aseg, anam, aband in crm:
        for bk, bnkey, bc, bseg, bnam, bband in billing:
            if ankey == bnkey and aband == bband:
                combos[(int(ac == bc), int(aseg == bseg), int(anam == bnam))] += 1
    if not combos:
        assert got_rows == [] or got_rows[0][-1] is None or got_rows == []
        return

    lam = _EM_INIT["lam"]
    m = {f: _EM_INIT["m"] for f in _FIELDS}
    u = {f: _EM_INIT["u"] for f in _FIELDS}
    n_pairs = sum(combos.values())
    for _ in range(_EM_ITERS):
        s_p, s_pg, s_g = 0, dict.fromkeys(_FIELDS, 0), dict.fromkeys(_FIELDS, 0)
        for (gb, gs, gn), cnt in combos.items():
            g = dict(zip(_FIELDS, (gb, gs, gn)))
            num, den = lam, 1.0 - lam
            for f in _FIELDS:
                num = num * (m[f] if g[f] == 1 else 1.0 - m[f])
                den = den * (u[f] if g[f] == 1 else 1.0 - u[f])
            pmicro = _round_half_away((cnt * (num / (num + den))) * 1000000.0)
            s_p += pmicro
            for f in _FIELDS:
                if g[f] == 1:
                    s_pg[f] += pmicro
                    s_g[f] += cnt
        lam = float(s_p) / (float(n_pairs) * 1000000.0)
        for f in _FIELDS:
            m[f] = float(s_pg[f]) / float(s_p)
            u[f] = float(s_g[f] * 1000000 - s_pg[f]) / float(
                n_pairs * 1000000 - s_p
            )
    want = (lam, m["bal"], u["bal"], m["seg"], u["seg"], m["nam"], u["nam"], n_pairs)
    assert got_rows == [want]


# ---------------------------------------------------------------------------
# VERDICT r4 item 7: the other ROUND(x*100)-family oracles, property-tested
# with exact-integer models over the cents domain (prices/balances/values in
# the test tables are exact 2-decimal numbers, i.e. cents/100.0 doubles —
# for |cents| < 2^45 the double (cents/100.0)*100.0 rounds back to exactly
# cents, so ROUND(x*100) is tie-free by construction on this domain; the
# only genuinely tie-PRONE arithmetic was the 4dp avg division in
# incremental_agg_maintenance, now integer-exact like merge_full_cdc).
# ---------------------------------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),          # custkey
            st.integers(min_value=-50000, max_value=50000),   # balance cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_scd2_merge_oracle_matches_reference(custs):
    """The SCD2 merge oracle vs a Python cents-exact applier — pins the
    change-batch predicate (custkey % 20), the +100.00 restatement, the
    version-1 close-out flags, and tie-free cent rounding."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for ck, cents in custs:
        seen.setdefault(ck, cents)
    data = [(ck, cents / 100.0) for ck, cents in seen.items()]
    oracle = all_specs()["scd2_customer_merge"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_acctbal DOUBLE)")
    con.executemany("INSERT INTO customer VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    want = set()
    for ck, cents in seen.items():
        changed = ck % 20 == 0
        want.add((ck, cents / 100.0, 1, not changed))
        if changed:
            want.add((ck, (cents + 10000) / 100.0, 2, True))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    orders=st.lists(
        st.tuples(
            st.sampled_from(["1-URGENT", "2-HIGH"]),          # priority
            st.sampled_from(["O", "F"]),                      # status
            st.integers(min_value=1, max_value=60_000_000),   # price cents
            st.integers(min_value=-400, max_value=400),       # days vs cutoff
        ),
        min_size=1,
        max_size=60,
    )
)
def test_incremental_agg_oracle_matches_reference(orders):
    """The IVM merge oracle vs an exact-integer model — pins the
    order-independent cents sum and the tie-free 4dp average
    ((a*2+b) // (2b)), including exact .00005 ties the old double
    arithmetic could flip."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    cutoff = datetime.datetime(2000, 1, 1)
    data = [
        (pr, stt, cents / 100.0, cutoff + datetime.timedelta(days=d))
        for pr, stt, cents, d in orders
    ]
    oracle = all_specs()["incremental_agg_maintenance"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders (o_orderpriority VARCHAR, o_orderstatus VARCHAR,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP)"
    )
    con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    groups: dict[tuple, list] = {}
    for pr, stt, cents, _ in orders:
        groups.setdefault((pr, stt), []).append(cents)
    want = set()
    for (pr, stt), cs in groups.items():
        n = len(cs)
        s = sum(cs)
        want.add(
            (
                pr,
                stt,
                n,
                s / 100.0,
                min(cs) / 100.0,
                max(cs) / 100.0,
                ((s * 200 + n) // (2 * n)) / 10000.0,
            )
        )
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    evs=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),   # user
            st.integers(min_value=0, max_value=3),                         # hour
            st.one_of(st.none(), st.sampled_from(["view", "click"])),      # type
            st.integers(min_value=-2000, max_value=2000),                  # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_medallion_rollup_oracle_matches_reference(evs):
    """The medallion oracle vs a Python layer-by-layer model — pins the
    silver quality gate (non-null keys, value > 0), keep-lowest-event_id
    dedup on (user, ts, type), and the gold exact-cents rollup."""
    import datetime

    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    data = [
        (eid, base + datetime.timedelta(hours=h), u, t, cents / 100.0)
        for eid, (u, h, t, cents) in enumerate(evs)
    ]
    oracle = all_specs()["medallion_pipeline_rollup"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    bronze_rows = len(data)
    best: dict[tuple, tuple] = {}  # (user, ts, type) -> (event_id, cents)
    for eid, (u, h, t, cents) in enumerate(evs):
        if u is None or t is None or cents <= 0:
            continue
        k = (u, h, t)
        if k not in best or eid < best[k][0]:
            best[k] = (eid, cents)
    silver_rows = len(best)
    gold: dict[tuple, list] = {}
    for (u, h, t), (_, cents) in best.items():
        gold.setdefault((base.date().isoformat(), t), []).append(cents)
    want = {
        (day, t, len(cs), sum(cs), bronze_rows, silver_rows)
        for (day, t), cs in gold.items()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    parts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),   # partkey
            st.sampled_from(["B#1", "B#2", "B#3"]),    # brand
        ),
        min_size=1,
        max_size=60,
    )
)
def test_surrogate_key_oracle_matches_reference(parts):
    """The surrogate-key contract oracle vs a sorted-enumerate model —
    pins dense 1..N contiguity and the order-defining (brand, partkey)
    key; pure integer arithmetic, no rounding surface at all."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    seen = {}
    for pk, b in parts:
        seen.setdefault(pk, b)
    data = [(pk, b) for pk, b in seen.items()]
    oracle = all_specs()["surrogate_key_assignment"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE part (p_partkey BIGINT, p_brand VARCHAR)")
    con.executemany("INSERT INTO part VALUES (?, ?)", data)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    ordered = sorted(seen.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(ordered)
    checksum = sum((i + 1) * pk for i, (pk, _) in enumerate(ordered))
    want = {(n, 1, n, n, True, checksum)}
    assert got == want


def test_dp_noise_intervals_tile_the_draw_space():
    """The truncated-geometric inverse-CDF table must tile [0, 3*2^20)
    exactly — disjoint, gap-free, with interior interval widths equal to
    the exact PMF masses 2^(20-|j|) and the truncated tail mass folded
    into the two end intervals."""
    from kafka_stream_job_spark.operators.relational import (
        _DP_DENOM,
        _DP_TRUNC,
        _dp_noise_rows,
    )

    rows = _dp_noise_rows()
    assert [j for j, _, _ in rows] == list(range(-_DP_TRUNC, _DP_TRUNC + 1))
    by_u = sorted(rows, key=lambda r: r[1])
    assert by_u[0][1] == 0 and by_u[-1][2] == _DP_DENOM
    for (_, _, hi), (_, lo, _) in zip(by_u, by_u[1:]):
        assert hi == lo  # gap-free and disjoint
    for j, lo, hi in rows:
        if abs(j) < _DP_TRUNC:
            assert hi - lo == 1 << (_DP_TRUNC - abs(j))
        else:  # end intervals absorb the tail: mass 2^0 + sum beyond = 2
            assert hi - lo == 2


@settings(max_examples=50, deadline=None)
@given(
    nations=st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=80
    )
)
def test_dp_noisy_counts_oracle_matches_reference(nations):
    """The DP oracle vs a Python replay of the LCG + inverse-CDF walk —
    pins the integer noise derivation end to end."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import (
        _DP_DENOM,
        _dp_noise_rows,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["dp_noisy_nation_counts"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE customer (c_nationkey BIGINT)")
    con.executemany("INSERT INTO customer VALUES (?)", [(n,) for n in nations])
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    from collections import Counter

    want = set()
    for nk, n_true in Counter(nations).items():
        u = (((nk * 1103515245 + 12345) % 2147483648) * 48271) % _DP_DENOM
        noise = next(j for j, lo, hi in _dp_noise_rows() if lo <= u < hi)
        want.add((nk, n_true, noise, max(0, n_true + noise)))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),    # nationkey
            st.sampled_from(["A", "B", "C"]),         # segment
        ),
        min_size=1,
        max_size=120,
    )
)
def test_k_anonymity_generalize_oracle_matches_reference(custs):
    """The generalization-cascade oracle vs a Python lattice walker —
    pins the greedy first-level-that-meets-K settlement, the unsettled-
    records-only recount at each level, and the suppression tally."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import _KANON_GEN_K
    from kafka_stream_job_spark.registry import all_specs

    regions = {nk: nk % 3 for nk in range(8)}
    oracle = all_specs()["k_anonymity_generalize"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_nationkey BIGINT,"
                " c_mktsegment VARCHAR)")
    con.execute("CREATE TABLE nation (n_nationkey BIGINT, n_regionkey BIGINT)")
    con.executemany(
        "INSERT INTO customer VALUES (?, ?, ?)",
        [(i, nk, seg) for i, (nk, seg) in enumerate(custs)],
    )
    con.executemany(
        "INSERT INTO nation VALUES (?, ?)", list(regions.items())
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    from collections import Counter

    recs = [(nk, seg, regions[nk]) for nk, seg in custs]
    want = set()
    for level, key in ((0, lambda r: (r[0], r[1])),
                       (1, lambda r: (r[2], r[1])),
                       (2, lambda r: (r[2],))):
        sizes = Counter(key(r) for r in recs)
        kept = {k: n for k, n in sizes.items() if n >= _KANON_GEN_K}
        want.add((
            level,
            len(kept),
            sum(kept.values()),
            min(kept.values()) if kept else 0,
        ))
        recs = [r for r in recs if key(r) not in kept]
    want.add((3, 0, len(recs), 0))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40000),   # value cents
            st.booleans(),                               # is purchase
        ),
        min_size=1,
        max_size=100,
    )
)
def test_stump_split_oracle_matches_reference(evs):
    """The split-scoring oracle vs a Python replay of the floor-composed
    integer Gini — pins bucket edges, the triangular prefix counts, the
    n=0 guard, and min-flag ties."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import (
        _STUMP_BUCKET_CENTS,
    )
    from kafka_stream_job_spark.registry import all_specs

    oracle = all_specs()["decision_stump_split_scores"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (value DOUBLE, event_type VARCHAR)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?)",
        [(c / 100.0, "purchase" if p else "view") for c, p in evs],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    from collections import Counter

    n_b, pos_b = Counter(), Counter()
    for c, p in evs:
        b = c // _STUMP_BUCKET_CENTS
        n_b[b] += 1
        pos_b[b] += int(p)

    def gini(n, p):
        if n == 0:
            return 0
        pbp = p * 10000 // n
        return 10000 - (pbp * pbp + (10000 - pbp) * (10000 - pbp)) // 10000

    n_tot, pos_tot = sum(n_b.values()), sum(pos_b.values())
    scored = []
    for t in n_b:
        n_l = sum(n for b, n in n_b.items() if b <= t)
        p_l = sum(p for b, p in pos_b.items() if b <= t)
        n_r, p_r = n_tot - n_l, pos_tot - p_l
        w = (n_l * gini(n_l, p_l) + n_r * gini(n_r, p_r)) // n_tot
        scored.append((t, n_l, n_r, w))
    best = min(w for _, _, _, w in scored)
    want = {(t, nl, nr, w, w == best) for t, nl, nr, w in scored}
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),          # user
            st.sampled_from(["a", "b", "c", "d"]),          # type
            st.integers(min_value=1, max_value=5000),       # cents
        ),
        min_size=2,
        max_size=80,
    )
)
def test_bradley_terry_oracle_matches_reference(evs):
    """The BT oracle vs a Python Zermelo/MM replay with the same
    integerized reductions — pins comparison derivation (strict cents
    wins, ties dropped), the micro-unit rounding at every reduction, and
    the final exact-integer ppm normalization."""
    import duckdb

    from hypothesis import assume

    from kafka_stream_job_spark.operators.relational import _BT_ITERS
    from kafka_stream_job_spark.registry import all_specs

    from collections import Counter, defaultdict

    sums = Counter()
    for u, t, c in evs:
        sums[(u, t)] += c
    per_user = defaultdict(dict)
    for (u, t), c in sums.items():
        per_user[u][t] = c
    wins = Counter()
    for u, by_t in per_user.items():
        ts = sorted(by_t)
        for x in range(len(ts)):
            for y in range(x + 1, len(ts)):
                ca, cb = by_t[ts[x]], by_t[ts[y]]
                if ca > cb:
                    wins[(ts[x], ts[y])] += 1
                elif cb > ca:
                    wins[(ts[y], ts[x])] += 1
    assume(wins)  # no games -> query returns empty; nothing to pin

    oracle = all_specs()["bradley_terry_strengths"].oracle
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, event_type VARCHAR,"
        " value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?)",
        [(u, t, c / 100.0) for u, t, c in evs],
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    games = Counter()
    for (i, j), w in wins.items():
        games[(i, j)] += w
        games[(j, i)] += w
    totw = Counter()
    for (i, _), w in wins.items():
        totw[i] += w
    players = sorted({i for i, _ in games})
    p = {t: 1.0 for t in players}
    for _ in range(_BT_ITERS):
        s = Counter()
        for (i, j), n in games.items():
            s[i] += _round_half_away(1000000.0 * n / (p[i] + p[j]))
        p = {t: totw[t] * 1000000.0 / s[t] for t in players}
    q = {t: _round_half_away(p[t] * 1000000.0) for t in players}
    qsum = sum(q.values())
    n_games = sum(games.values()) // 2
    want = {
        (t, totw[t], n_games, q[t] * 1000000 // qsum) for t in players
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["hash", "join", "big", "table", "x"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_blocklist_oracle_matches_reference(docs):
    """The blocklist oracle vs a Python scanner — pins token-boundary
    matching and the non-overlapping padded-needle occurrence count
    (consecutive 'hash join hash join' counts twice, overlaps do not)."""
    import duckdb

    from kafka_stream_job_spark.operators.text import _BLOCKLIST_PHRASES
    from kafka_stream_job_spark.registry import all_specs

    texts = [" ".join(toks) for toks in docs]
    oracle = all_specs()["blocklist_phrase_filter"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    want = set()
    for phrase in _BLOCKLIST_PHRASES:
        needle = f" {phrase} "
        n_docs = n_occ = 0
        for t in texts:
            padded = f" {t.lower().strip()} "
            # replace-shortening identity: one space removed per
            # NON-overlapping occurrence, scanning left to right
            k = (
                len(padded)
                - len(padded.replace(needle, f" {phrase}"))
            )
            n_occ += k
            n_docs += k > 0
        want.add((phrase, n_docs, n_occ, n_docs * 10000 // len(texts)))
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    lens=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=90)
)
def test_padding_waste_oracle_matches_reference(lens):
    """The padding-waste oracle vs a Python batcher — pins the
    rank-div-B batch assignment (last partial batch included), per-batch
    max*rows padding, and the exact-integer waste basis points."""
    import duckdb

    from kafka_stream_job_spark.operators.pipeline import _PAD_BATCH
    from kafka_stream_job_spark.registry import all_specs

    texts = [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)]
    oracle = all_specs()["padding_waste_report"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", texts)
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    def report(name, ordered):
        batches = [
            ordered[i : i + _PAD_BATCH]
            for i in range(0, len(ordered), _PAD_BATCH)
        ]
        total = sum(ordered)
        padded = sum(max(b) * len(b) for b in batches)
        return (
            name,
            len(batches),
            total,
            padded,
            (padded - total) * 10000 // padded,
        )

    want = {
        report("naive", lens),
        report("length_sorted", sorted(lens)),
    }
    assert got == want


@settings(max_examples=80, deadline=None)
@given(
    evs=st.lists(
        st.integers(min_value=0, max_value=12),  # user per event
        min_size=1,
        max_size=120,
    )
)
def test_maxmin_fair_oracle_matches_progressive_filling(evs):
    """The closed-form water level (sorted-prefix identity) vs the
    textbook ITERATIVE progressive-filling algorithm — the identity is
    the whole correctness claim of the non-iterative distributed form."""
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    from collections import Counter

    oracle = all_specs()["maxmin_fair_allocation"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT)")
    con.executemany("INSERT INTO events VALUES (?)", [(u,) for u in evs])
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    dems = sorted(Counter(evs).values())
    n, tot = len(dems), sum(dems)
    cap = tot // 2
    # progressive filling: raise the level until capacity is exhausted
    lvl, used, active = 0, 0, list(dems)
    while active and used + len(active) <= cap - 0:
        # raise by the largest step that keeps everyone below next demand
        nxt = min(active)
        step = min(nxt - lvl, (cap - used) // len(active))
        if step == 0:
            break
        lvl += step
        used += step * len(active)
        active = [d for d in active if d > lvl]
    # the closed form floors the final partial raise into lvl directly
    full = [d for d in dems if d <= lvl]
    allocated = sum(min(d, lvl) for d in dems)
    want_lvl = next(iter(got))[3]
    assert want_lvl == lvl
    assert got == {
        (
            n,
            tot,
            cap,
            lvl,
            len(full),
            n - len(full),
            allocated,
            cap - allocated,
        )
    }


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(
                st.sampled_from(["a", "bb", "ccc", "dddd", "veryverylongword"]),
                min_size=1,
                max_size=70,
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_gopher_rules_oracle_matches_reference(docs):
    """The Gopher-rules oracle vs a direct Python rule evaluator — pins
    the division-free integer forms (LO·n ≤ Σlen ≤ HI·n etc.), the
    per-rule fail counts, and the all-rules n_pass conjunction."""
    import duckdb

    from kafka_stream_job_spark.operators.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MEANLEN_HI,
        GOPHER_MEANLEN_LO,
        GOPHER_MIN_WORDS,
        GOPHER_TOPTOK_DEN,
        GOPHER_TTR_NUM,
    )
    from kafka_stream_job_spark.registry import all_specs

    rows = [(i, " ".join(toks), lang) for i, (lang, toks) in enumerate(docs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    oracle = all_specs()["gopher_quality_rules"].oracle
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    agg: dict[str, list] = {}
    for _, text, lang in rows:
        toks = text.split(" ")
        n_words = len(toks)
        n_types = len(set(toks))
        max_tok = max(Counter(toks).values())
        sum_len = sum(len(t) for t in toks)
        fails = [
            n_words < GOPHER_MIN_WORDS or n_words > GOPHER_MAX_WORDS,
            sum_len < GOPHER_MEANLEN_LO * n_words
            or sum_len > GOPHER_MEANLEN_HI * n_words,
            max_tok * GOPHER_TOPTOK_DEN > n_words,
            n_types * GOPHER_TTR_NUM < n_words,
        ]
        a = agg.setdefault(lang, [0, 0, 0, 0, 0, 0])
        a[0] += 1
        for j, f in enumerate(fails):
            a[1 + j] += f
        a[5] += not any(fails)
    want = {
        (lang, a[0], a[1], a[2], a[3], a[4], a[5]) for lang, a in agg.items()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user_id
            st.integers(min_value=0, max_value=1_500_000_000),  # epoch micros
        ),
        min_size=1,
        max_size=80,
    )
)
def test_interval_coverage_oracle_matches_bruteforce(evs):
    """The interval-union oracle vs the textbook sweep-line merge —
    pins the gaps-and-islands formulation (prev-max-end window + island
    id) against sorted interval merging, including duplicate timestamps
    and exactly-adjacent interval boundaries (t == prev_e fuses)."""
    import duckdb

    from kafka_stream_job_spark.operators.relational import _COVWIN_US
    from kafka_stream_job_spark.registry import all_specs

    rows = [(u, i, t) for i, (u, t) in enumerate(evs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, event_id BIGINT, ts TIMESTAMP)")
    con.executemany(
        "INSERT INTO events VALUES (?, ?, make_timestamp(?))", rows
    )
    oracle = all_specs()["events_interval_union_coverage"].oracle
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    per_user: dict[int, list[int]] = {}
    for u, _, t in rows:
        per_user.setdefault(u, []).append(t)
    want = []
    for u, ts in per_user.items():
        islands = 0
        covered = 0
        cur_end = None
        for t in sorted(ts):
            e = t + _COVWIN_US
            if cur_end is None or t > cur_end:
                islands += 1
                covered += _COVWIN_US
                cur_end = e
            else:
                covered += max(0, e - cur_end)
                cur_end = max(cur_end, e)
        want.append((u, len(ts), islands, covered))
    want.sort(key=lambda r: (-r[3], r[0]))
    assert got == want[:25]


@settings(max_examples=60, deadline=None)
@given(
    presence=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # user
            st.integers(min_value=0, max_value=9),  # week index
        ),
        min_size=1,
        max_size=60,
    )
)
def test_growth_accounting_oracle_matches_set_model(presence):
    """The growth-accounting oracle vs a direct set model — pins the
    lag/lead classification (new/retained/resurrected), the churn
    attribution to week+1, the suppression of the unobserved week after
    the data's end, and the actives(w) = new+retained+resurrected
    identity."""
    import datetime
    import duckdb

    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 1, 1)  # a Monday — week-stable
    rows = [
        (u, base + datetime.timedelta(weeks=w, hours=u))
        for u, w in presence
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    oracle = all_specs()["events_growth_accounting"].oracle
    got = {
        (r[0].isoformat() if hasattr(r[0], "isoformat") else str(r[0]),)
        + tuple(r[1:])
        for r in con.sql(oracle).fetchall()
    }

    weeks_of: dict[int, set[int]] = {}
    for u, w in presence:
        weeks_of.setdefault(u, set()).add(w)
    max_w = max(w for _, w in presence)
    flows: dict[int, list[int]] = {}
    for u, ws in weeks_of.items():
        first = min(ws)
        for w in ws:
            f = flows.setdefault(w, [0, 0, 0, 0])
            if w == first:
                f[0] += 1
            elif w - 1 in ws:
                f[1] += 1
            else:
                f[2] += 1
            if w + 1 not in ws and w + 1 <= max_w:
                flows.setdefault(w + 1, [0, 0, 0, 0])[3] += 1
    want = {
        ((base + datetime.timedelta(weeks=w)).date().isoformat(), *f)
        for w, f in flows.items()
    }
    assert got == want
    # decomposition identity: actives(w) = new + retained + resurrected
    for w, f in flows.items():
        actives = sum(1 for ws in weeks_of.values() if w in ws)
        assert f[0] + f[1] + f[2] == actives


@settings(max_examples=50, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=15
            ),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_kneser_ney_oracle_matches_textbook(docs):
    """The KN oracle vs a direct textbook interpolated-KN scorer — pins
    the discounted numerator, the N1+ continuation terms, the type-count
    normalizer, and the micro-nat integerization (round half away)."""
    import math

    import duckdb

    from kafka_stream_job_spark.operators.text import KN_DISCOUNT
    from kafka_stream_job_spark.registry import all_specs

    rows = [(i, " ".join(toks), lang) for i, (lang, toks) in enumerate(docs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    oracle = all_specs()["text_kneser_ney_bigram_score"].oracle
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    cab: Counter = Counter()
    doc_bgs = []
    for _, text, lang in rows:
        toks = text.split(" ")
        bgs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
        doc_bgs.append((lang, bgs))
        cab.update(bgs)
    ca: Counter = Counter()
    n1a: Counter = Counter()
    n1b: Counter = Counter()
    for (a, b), c in cab.items():
        ca[a] += c
        n1a[a] += 1
        n1b[b] += 1
    t = len(cab)

    def w(bgram):
        a, b = bgram
        p = (
            max(cab[bgram] - KN_DISCOUNT, 0.0)
            + KN_DISCOUNT * n1a[a] * n1b[b] / t
        ) / ca[a]
        x = 1_000_000.0 * math.log(p)
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    agg: dict[str, list[int]] = {}
    for lang, bgs in doc_bgs:
        score = sum(w(g) for g in bgs)
        a = agg.setdefault(lang, [0, 0, None, None])
        a[0] += 1
        a[1] += score
        a[2] = score if a[2] is None else min(a[2], score)
        a[3] = score if a[3] is None else max(a[3], score)
    want = {(lang, *a) for lang, a in agg.items()}
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=25),  # day index
        ),
        min_size=1,
        max_size=120,
    )
)
def test_rate_limiter_oracle_matches_simulation(evs):
    """The token-bucket fold oracle vs a direct day-by-day simulator —
    pins the refill-on-gap arithmetic, the capacity clamp, the
    first-bucket full-bucket start, and the throttled accumulation."""
    import datetime
    import duckdb

    from kafka_stream_job_spark.operators.relational import _RL_CAP, _RL_REFILL
    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (u, base + datetime.timedelta(days=d, minutes=i))
        for i, (u, d) in enumerate(evs)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    oracle = all_specs()["rate_limiter_backtest"].oracle
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    daily: dict[int, Counter] = {}
    for u, d in evs:
        daily.setdefault(u, Counter())[d] += 1
    want = []
    for u, cnts in daily.items():
        tokens, throttled = _RL_CAP, 0
        prev = None
        for d in sorted(cnts):
            if prev is not None:
                tokens = min(_RL_CAP, tokens + (d - prev) * _RL_REFILL)
            served = min(cnts[d], tokens)
            throttled += cnts[d] - served
            tokens -= served
            prev = d
        want.append((u, sum(cnts.values()), len(cnts), throttled))
    want.sort(key=lambda r: (-r[3], r[0]))
    assert got == want[:20]


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # shipdate day offset
            st.integers(min_value=1, max_value=60),  # quantity
            st.integers(min_value=100, max_value=90000),  # price
        ),
        min_size=1,
        max_size=120,
    )
)
def test_zonemap_oracle_matches_simulation(rows):
    """The zone-map oracle vs a direct Python row-group simulator —
    pins the rank-div grouping under both layouts, the min/max zone
    construction, and the skip predicates (date-range disjointness,
    min-quantity, max-price)."""
    import datetime
    import duckdb

    from kafka_stream_job_spark.operators.relational import (
        _ZM_PRICE_GT,
        _ZM_QTY_LT,
        _ZM_RG_ROWS,
    )
    from kafka_stream_job_spark.registry import all_specs

    base = datetime.datetime(1995, 6, 1)
    data = [
        (i, 1, base + datetime.timedelta(days=d), float(q), float(p))
        for i, (d, q, p) in enumerate(rows)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_linenumber INT, "
        "l_shipdate TIMESTAMP, l_quantity DOUBLE, l_extendedprice DOUBLE)"
    )
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?, ?, ?)", data)
    oracle = all_specs()["zonemap_skip_simulation"].oracle
    got = {tuple(r) for r in con.sql(oracle).fetchall()}

    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 12, 31, 23, 59, 59)
    want = set()
    for layout, keyfn in (
        ("insertion", lambda r: (r[0], r[1])),
        ("shipdate_sorted", lambda r: (r[2], r[0], r[1])),
    ):
        ordered = sorted(data, key=keyfn)
        groups = [
            ordered[i : i + _ZM_RG_ROWS]
            for i in range(0, len(ordered), _ZM_RG_ROWS)
        ]
        preds = {
            "ship_1996": lambda g: max(r[2] for r in g) < lo
            or min(r[2] for r in g) > hi,
            f"qty_lt_{_ZM_QTY_LT}": lambda g: min(r[3] for r in g)
            >= _ZM_QTY_LT,
            f"price_gt_{_ZM_PRICE_GT}": lambda g: max(r[4] for r in g)
            <= _ZM_PRICE_GT,
        }
        for name, skipfn in preds.items():
            skipped = [skipfn(g) for g in groups]
            want.add(
                (
                    layout,
                    name,
                    len(groups),
                    sum(skipped),
                    sum(len(g) for g, s in zip(groups, skipped) if not s),
                )
            )
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["hash", "join", "scan", "x"]),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_term_proximity_oracle_matches_bruteforce(docs):
    """The proximity oracle vs brute-force position scanning — pins the
    1-based positions, the min |pa-pb| distance, the distinct-occurrence
    counts, and the (min_dist, doc_id) top-20 ordering."""
    import duckdb

    from kafka_stream_job_spark.operators.text import (
        PROX_TERM_A,
        PROX_TERM_B,
        PROX_TOP_N,
    )
    from kafka_stream_job_spark.registry import all_specs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = all_specs()["text_term_proximity_search"].oracle
    got = [tuple(r) for r in con.sql(oracle).fetchall()]

    want = []
    for i, toks in enumerate(docs):
        pa = [p + 1 for p, t in enumerate(toks) if t == PROX_TERM_A]
        pb = [p + 1 for p, t in enumerate(toks) if t == PROX_TERM_B]
        if pa and pb:
            want.append(
                (
                    i,
                    len(pa),
                    len(pb),
                    min(abs(a - b) for a in pa for b in pb),
                )
            )
    want.sort(key=lambda r: (r[3], r[0]))
    assert got == want[:PROX_TOP_N]


# ---------------------------------------------------------------------------
# ILN — the integer micro-log behind naive_bayes_langid's weights
# (text.py:_iln_py). Three pins: (1) the pure-Python model tracks
# 1e6*ln(m) within the documented Pade + 15-bit-mantissa budget and is
# monotone; (2) DuckDB, evaluating the registered SQL fragment over the
# same 63-row literal table, equals the model bit-for-bit; the Spark
# twin of (2) lives in test_oracle_queries.py::test_iln_spark_matches_model
# (needs a session).
# ---------------------------------------------------------------------------
_ILN_EDGE = (
    [1, 2, 3, (1 << 63) - 1]
    + [(1 << e) + d for e in (14, 15, 16, 40, 62) for d in (-1, 0, 1)]
)


@settings(max_examples=300, deadline=None)
@given(
    m=st.one_of(
        st.integers(min_value=1, max_value=(1 << 63) - 1),
        st.sampled_from(_ILN_EDGE),
    )
)
def test_iln_model_accuracy_and_monotone(m):
    import math

    from kafka_stream_job_spark.operators.text import _iln_py

    got = _iln_py(m)
    # budget: Pade [2/2] max error 8.6e-4 on [1,2) -> 860 micro-units,
    # 15-bit mantissa truncation -> <= 31 micro-units, rounding -> 1.
    assert abs(got - 1_000_000 * math.log(m)) <= 900, (m, got)
    if m > 1:
        assert _iln_py(m - 1) <= got, m
    assert _iln_py(1) == 0


@settings(max_examples=60, deadline=None)
@given(
    ms=st.lists(
        st.one_of(
            st.integers(min_value=1, max_value=(1 << 63) - 1),
            st.sampled_from(_ILN_EDGE),
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_iln_oracle_sql_matches_reference(ms):
    import duckdb

    from kafka_stream_job_spark.operators.text import (
        _ILN_VALUES_SQL,
        _iln_frac_sql,
        _iln_py,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE xs (m BIGINT)")
    con.executemany("INSERT INTO xs VALUES (?)", [(m,) for m in ms])
    frac = _iln_frac_sql("((x.m // t.sdiv) * t.smul)")
    got = dict(
        con.sql(
            f"""
            WITH ilntab(e, lo, hi, sdiv, smul, eln) AS (VALUES {_ILN_VALUES_SQL})
            SELECT x.m, t.eln + {frac}
            FROM xs x JOIN ilntab t ON x.m >= t.lo AND x.m <= t.hi
            """
        ).fetchall()
    )
    assert got == {m: _iln_py(m) for m in ms}


# ---------------------------------------------------------------------------
# decode_wav_real — the genuine RIFF/WAVE parser behind
# multimodal_wav_stats. Round-trip: any PCM16 stream, any rate/channel
# count, any unknown chunks (before AND after fmt/data, odd-sized to
# force word-alignment handling) parses back to exact stats. Malformed
# containers must raise, never guess.
# ---------------------------------------------------------------------------
def _wav_bytes(samples, rate, channels, extra_pre=b"", extra_post=b""):
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    chunks = (
        extra_pre
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
        + (b"\x00" if len(data) & 1 else b"")
        + extra_post
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@settings(max_examples=200, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=64
    ),
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=8),
    junk=st.binary(min_size=0, max_size=9),
)
def test_wav_parser_roundtrip(samples, rate, channels, junk):
    import struct

    from kafka_stream_job_spark.operators.multimodal import decode_wav_real

    # whole frames only — the parser (correctly) rejects partial frames
    samples = samples[: len(samples) // channels * channels]
    # unknown odd-sized chunk before fmt and another after data — the
    # parser must walk (word-aligned), not assume a fixed layout
    pre = b"LIST" + struct.pack("<I", len(junk)) + junk + (b"\x00" if len(junk) & 1 else b"")
    post = b"fact" + struct.pack("<I", 4) + b"\x01\x00\x00\x00"
    got = decode_wav_real(_wav_bytes(samples, rate, channels, pre, post))
    assert got == {
        "sample_rate": rate,
        "n_channels": channels,
        "bits_per_sample": 16,
        "n_samples": len(samples) // channels,
        "sq_sum": sum(s * s for s in samples),
    }


def test_wav_parser_rejects_malformed():
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import decode_wav_real

    good = _wav_bytes([1, -2, 3], 8000, 1)
    for bad in (
        b"",                                   # empty
        b"RIFX" + good[4:],                    # wrong magic
        good[:8] + b"AVEW" + good[12:],        # wrong form type
        good[: len(good) - 2],                 # truncated data chunk
        _wav_bytes([], 8000, 1)[:20],          # no fmt/data reached
    ):
        with _pytest.raises(ValueError):
            decode_wav_real(bad)
    # non-PCM format code and non-16-bit depth refuse loudly
    alaw = bytearray(good)
    fmt_at = good.find(b"fmt ") + 8
    alaw[fmt_at : fmt_at + 2] = struct.pack("<H", 6)
    with _pytest.raises(ValueError):
        decode_wav_real(bytes(alaw))
    # odd-length data chunk (half a PCM16 sample): must raise, never
    # silently drop the trailing byte
    odd = bytearray(_wav_bytes([1, -2, 3], 8000, 1))
    data_at = bytes(odd).find(b"data")
    (dsz,) = struct.unpack("<I", odd[data_at + 4 : data_at + 8])
    odd[data_at + 4 : data_at + 8] = struct.pack("<I", dsz - 1)
    del odd[data_at + 8 + dsz - 1]  # body now matches the odd size
    with _pytest.raises(ValueError, match="odd PCM16"):
        decode_wav_real(bytes(odd))
    # sample count not divisible by channel count (partial frame): must
    # raise, never silently drop the partial frame
    with _pytest.raises(ValueError, match="not divisible"):
        decode_wav_real(_wav_bytes([1, -2, 3], 8000, 2))


# ---------------------------------------------------------------------------
# linkage_blocking_quality's overflow-free reduction ratio: the rewrite
# 10^4 - ceil(cand*10^4 / n^2), with the ceil nested as two ceil-divs by
# n, must equal the textbook (n^2 - cand)*10^4 // n^2 for every
# n >= 1, 0 <= cand <= n^2 — while never forming an intermediate larger
# than cand*10^4 + n - 1.
# ---------------------------------------------------------------------------
@settings(max_examples=500, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=10**9),
    frac=st.integers(min_value=0, max_value=10**12),
)
def test_linkage_reduction_ratio_identity(n, frac):
    cand = frac % (n * n + 1)  # any candidate count within the n^2 space
    textbook = (n * n - cand) * 10000 // (n * n)
    a = cand * 10000
    inner = (a + n - 1) // n
    outer = (inner + n - 1) // n
    assert 10000 - outer == textbook


# ---------------------------------------------------------------------------
# BMP parser round-trip + malformed rejection (the WAV-test twin for the
# r8 image decoder): build a 24bpp BMP with arbitrary content, any row
# order, real row padding — decode must return exact channel sums.
# ---------------------------------------------------------------------------
def _bmp_bytes(width, height, pix, top_down=False):
    """pix: flat list of (b, g, r) per pixel index p = y*width + x in
    IMAGE order (top row first)."""
    import struct

    row_size = ((width * 3 + 3) // 4) * 4
    pad = b"\xab" * (row_size - width * 3)  # nonzero pad: must be skipped
    ys = range(height) if top_down else range(height - 1, -1, -1)
    rows = []
    for y in ys:
        row = bytearray()
        for x in range(width):
            b, g, r = pix[y * width + x]
            row += bytes((b, g, r))
        rows.append(bytes(row) + pad)
    pixels = b"".join(rows)
    h_field = -height if top_down else height
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, h_field, 1, 24, 0, len(pixels),
            2835, 2835, 0, 0,
        )
        + pixels
    )


@settings(max_examples=100, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=9),
    height=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=2**31),
    top_down=st.booleans(),
)
def test_bmp_parser_roundtrip(width, height, seed, top_down):
    from kafka_stream_job_spark.operators.multimodal import decode_bmp_real

    rng = seed
    pix = []
    for _ in range(width * height):
        vals = []
        for _ in range(3):
            rng = (1103515245 * rng + 12345) % (1 << 31)
            vals.append(rng % 256)
        pix.append(tuple(vals))
    got = decode_bmp_real(_bmp_bytes(width, height, pix, top_down))
    assert got == {
        "width": width,
        "height": height,
        "bits_per_pixel": 24,
        "n_pixels": width * height,
        "sum_r": sum(p[2] for p in pix),
        "sum_g": sum(p[1] for p in pix),
        "sum_b": sum(p[0] for p in pix),
    }


def test_bmp_parser_rejects_malformed():
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import decode_bmp_real

    good = _bmp_bytes(3, 2, [(1, 2, 3)] * 6)
    for bad, why in (
        (b"", "empty"),
        (b"XX" + good[2:], "wrong magic"),
        (good[: len(good) - 1], "truncated pixel array"),
    ):
        with _pytest.raises(ValueError):
            decode_bmp_real(bad)
    # non-40-byte DIB header (e.g. BITMAPV5HEADER) refuses loudly
    v5 = bytearray(good)
    v5[14:18] = struct.pack("<I", 124)
    with _pytest.raises(ValueError, match="BITMAPINFOHEADER"):
        decode_bmp_real(bytes(v5))
    # 8bpp refuses loudly
    p8 = bytearray(good)
    p8[28:30] = struct.pack("<H", 8)
    with _pytest.raises(ValueError, match="24bpp"):
        decode_bmp_real(bytes(p8))
    # RLE compression refuses loudly
    rle = bytearray(good)
    rle[30:34] = struct.pack("<I", 1)
    with _pytest.raises(ValueError, match="BI_RGB"):
        decode_bmp_real(bytes(rle))


@settings(max_examples=100, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=11),
    height=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
    top_down=st.booleans(),
)
def test_bmp_luma_grid_matches_direct_sampling(width, height, seed, top_down):
    """decode_bmp_luma_grid must return exactly the BT.601 luma of pixel
    (i*H//8, j*W//8) regardless of stored row order or padding."""
    from kafka_stream_job_spark.operators.multimodal import (
        decode_bmp_luma_grid,
    )

    rng = seed
    pix = []
    for _ in range(width * height):
        vals = []
        for _ in range(3):
            rng = (1103515245 * rng + 12345) % (1 << 31)
            vals.append(rng % 256)
        pix.append(tuple(vals))
    got = decode_bmp_luma_grid(_bmp_bytes(width, height, pix, top_down))
    assert got["width"] == width and got["height"] == height
    want = []
    for i in range(8):
        for j in range(8):
            b, g, r = pix[(i * height // 8) * width + (j * width // 8)]
            want.append(299 * r + 587 * g + 114 * b)
    assert got["lumas"] == want


# ---------------------------------------------------------------------------
# PNG parser round-trip + malformed rejection (the BMP-test twin for the
# r8 compressed-image decoder): encode arbitrary grayscale content with
# EVERY row filter type, decode must reconstruct exact luma sums; and
# every validation branch (signature, CRC, IHDR position/fields, IDAT
# length, filter byte, IEND) must raise loudly.
# ---------------------------------------------------------------------------
def _png_bytes(width, height, pix, filters):
    """pix: flat grayscale bytes in image order; filters: per-row PNG
    filter type 0-4 applied by a reference encoder independent of the
    operator's fixture encoder."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = [0] * width
    for y in range(height):
        cur = pix[y * width : (y + 1) * width]
        ft = filters[y]
        raw.append(ft)
        for x in range(width):
            a = cur[x - 1] if x > 0 else 0
            b = prev[x]
            c = prev[x - 1] if x > 0 else 0
            if ft == 0:
                v = cur[x]
            elif ft == 1:
                v = (cur[x] - a) % 256
            elif ft == 2:
                v = (cur[x] - b) % 256
            elif ft == 3:
                v = (cur[x] - (a + b) // 2) % 256
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (cur[x] - pr) % 256
            raw.append(v)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@settings(max_examples=100, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=11),
    height=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
    data=st.data(),
)
def test_png_parser_roundtrip(width, height, seed, data):
    from kafka_stream_job_spark.operators.multimodal import decode_png_real

    rng = seed
    pix = []
    for _ in range(width * height):
        rng = (1103515245 * rng + 12345) % (1 << 31)
        pix.append(rng % 256)
    filters = [
        data.draw(st.integers(min_value=0, max_value=4)) for _ in range(height)
    ]
    got = decode_png_real(_png_bytes(width, height, pix, filters))
    assert got == {
        "width": width,
        "height": height,
        "bit_depth": 8,
        "n_pixels": width * height,
        "sum_luma": sum(pix),
    }


def test_png_parser_rejects_malformed():
    import struct
    import zlib

    import pytest

    from kafka_stream_job_spark.operators.multimodal import decode_png_real

    good = _png_bytes(4, 3, list(range(12)), [0, 1, 4])
    # bad signature
    with pytest.raises(ValueError):
        decode_png_real(b"\x89PNJ" + good[4:])
    # flipped CRC on the IHDR chunk
    bad_crc = bytearray(good)
    bad_crc[8 + 8 + 13] ^= 0xFF  # last IHDR data byte → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png_real(bytes(bad_crc))
    # first chunk not IHDR
    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    with pytest.raises(ValueError, match="IHDR"):
        decode_png_real(good[:8] + chunk(b"IDAT", b"x") + good[8:])
    # unsupported color type (RGB)
    ihdr_rgb = struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="grayscale"):
        decode_png_real(good[:8] + chunk(b"IHDR", ihdr_rgb) + good[8 + 25 :])
    # missing IEND
    with pytest.raises(ValueError, match="IEND"):
        decode_png_real(good[: len(good) - 12])
    # inflated length mismatch: IDAT inflates to the wrong size
    wrong = good[:8] + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    ) + chunk(b"IDAT", zlib.compress(b"\x00" * 7)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflated"):
        decode_png_real(wrong)
    # unknown filter type byte
    raw = bytearray(b"\x00" * (3 * 5))
    raw[0] = 9
    wrong_ft = good[:8] + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    ) + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="filter"):
        decode_png_real(wrong_ft)


# ---------------------------------------------------------------------------
# GIF/LZW round-trip + malformed rejection (the dictionary-codec member
# of the decoder test family): the LZW pair must be exact inverses over
# streams long and repetitive enough to force code-width growth 9→12 and
# mid-stream dictionary clears, and the container walk must reject every
# malformed shape loudly.
# ---------------------------------------------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    n=st.integers(min_value=0, max_value=12000),
    alphabet=st.integers(min_value=1, max_value=256),
)
def test_lzw_roundtrip(seed, n, alphabet):
    from kafka_stream_job_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = seed
    seq = []
    for _ in range(n):
        rng = (1103515245 * rng + 12345) % (1 << 31)
        seq.append(rng % alphabet)
    assert _lzw_decode(_lzw_encode(seq)) == seq


def test_lzw_width_growth_and_clear_boundaries():
    from kafka_stream_job_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    # low-entropy stream: dictionary growth is fastest, crossing every
    # width boundary (511/1023/2047) and the 4096 clear several times
    seq = [i % 5 for i in range(40000)]
    assert _lzw_decode(_lzw_encode(seq)) == seq
    # KwKwK pattern (code == next_code case)
    seq = [7] * 5000
    assert _lzw_decode(_lzw_encode(seq)) == seq


def test_gif_parser_roundtrip_and_rejects_malformed():
    import pytest

    from kafka_stream_job_spark.operators.multimodal import (
        _gif_encode,
        decode_gif_real,
    )

    for doc_id, text in ((3, "hello world"), (11, "spark")):
        w, h = 6 + doc_id % 5, 4 + doc_id % 4
        tb = [ord(c) % 256 for c in text]
        got = decode_gif_real(_gif_encode(doc_id, text))
        assert got["width"] == w and got["height"] == h
        assert got["sum_luma"] == sum(
            tb[j % len(tb)] for j in range(w * h)
        )
    good = _gif_encode(3, "hello world")
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_real(b"JIF87a" + good[6:])
    with pytest.raises(ValueError, match="trailer"):
        decode_gif_real(good[:-1])
    with pytest.raises(ValueError, match="truncated|sub-block|trailer|EOI"):
        decode_gif_real(good[: len(good) // 2])
    # flip a bit inside the LZW data → pixel count or code-range error
    bad = bytearray(good)
    bad[-10] ^= 0x55
    with pytest.raises(ValueError):
        decode_gif_real(bytes(bad))


# ---------------------------------------------------------------------------
# Mann-Whitney doubled-midrank identity: the operator's rank-sum formula
# (2·rank sums via exclusive prefix counts) must equal the pair-counting
# definition 2U_a = 2·#(a>b) + #(a==b) on any two samples — the identity
# that makes the test exact under ties with pure integer arithmetic.
# ---------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    a=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40),
    b=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40),
)
def test_mann_whitney_doubled_midrank_identity(a, b):
    # pair-counting definition
    u2_pairs = sum(2 for x in a for y in b if x > y) + sum(
        1 for x in a for y in b if x == y
    )
    # the operator's formula: group by value, exclusive prefix counts
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    vals = sorted(set(a) | set(b))
    running = 0
    r2a = 0
    for v in vals:
        n_a, n_b = ca.get(v, 0), cb.get(v, 0)
        n = n_a + n_b
        r2a += n_a * (2 * running + n + 1)
        running += n
    na = len(a)
    u2_formula = r2a - na * (na + 1)
    assert u2_formula == u2_pairs


# ---------------------------------------------------------------------------
# Haar energy conservation (Parseval for the unnormalized transform):
# with s = a+b, d = a-b per pair, a² + b² == (s² + d²)/2, so the total
# signal energy decomposes EXACTLY as E = E1/2 + E2/4 + E3/8 + A3/8
# where E_k is level k's detail energy and A3 the final approximation
# energy. Pins events_haar_wavelet_energy's transform arithmetic
# independently of either engine.
# ---------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**31),
    n_oct=st.integers(min_value=1, max_value=16),
)
def test_haar_unnormalized_parseval(seed, n_oct):
    rng = seed
    xs = []
    for _ in range(8 * n_oct):
        rng = (1103515245 * rng + 12345) % (1 << 31)
        xs.append(rng % 1000 - 500)

    def level(vals):
        s = [vals[2 * i] + vals[2 * i + 1] for i in range(len(vals) // 2)]
        d = [vals[2 * i] - vals[2 * i + 1] for i in range(len(vals) // 2)]
        return s, d

    s1, d1 = level(xs)
    s2, d2 = level(s1)
    s3, d3 = level(s2)
    e = lambda v: sum(x * x for x in v)  # noqa: E731
    total8 = 8 * e(xs)
    decomposed = 4 * e(d1) + 2 * e(d2) + e(d3) + e(s3)
    assert total8 == decomposed


# ---------------------------------------------------------------------------
# decode_avi_real — the genuine RIFF/AVI demuxer behind
# multimodal_avi_stats. Round-trip: any frame count / pixel content /
# fps, with the idx1 index present or absent, parses back to exact
# stats; header-vs-movi disagreement and non-BI_RGB streams must raise.
# The builder here is written INDEPENDENTLY of the operator's encoder
# (flat assembly, top-down option exercised via strf negation is not
# used — AVI DIBs are bottom-up), so a fixture-shaped shortcut in the
# parser fails the property.
# ---------------------------------------------------------------------------
def _avi_bytes(frames_px, fps, width=4, height=2, with_idx=True, lie_frames=None):
    """frames_px: list of frames, each a list of width*height gray values."""
    import struct

    frame_bytes = width * height * 3
    row_pad = (-width * 3) % 4
    n = len(frames_px) if lie_frames is None else lie_frames
    us = 1_000_000 // fps
    avih = (
        b"avih" + struct.pack("<I", 56)
        + struct.pack("<10I", us, frame_bytes * fps, 0, 0x10, n, 0, 1,
                      frame_bytes, width, height)
        + b"\x00" * 16
    )
    strh = (
        b"strh" + struct.pack("<I", 56) + b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0)
        + struct.pack("<IHHHH", 0, 0, 0, width, height)
    )
    strf = b"strf" + struct.pack("<I", 40) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes, 0, 0, 0, 0
    )
    strl_body = b"strl" + strh + strf
    hdrl_body = (
        b"hdrl" + avih
        + b"LIST" + struct.pack("<I", len(strl_body)) + strl_body
    )
    movi_body = b"movi"
    for px in frames_px:
        rows = b""
        for y in range(height - 1, -1, -1):
            rows += b"".join(bytes((v, v, v)) for v in px[y * width:(y + 1) * width])
            rows += b"\x00" * row_pad
        movi_body += b"00db" + struct.pack("<I", len(rows)) + rows
        if len(rows) & 1:
            movi_body += b"\x00"
    parts = (
        b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
        + b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    )
    if with_idx:
        entries = b""
        off = 4
        for px in frames_px:
            sz = height * (width * 3 + row_pad)
            entries += b"00db" + struct.pack("<III", 0x10, off, sz)
            off += 8 + sz + (sz & 1)
        parts += b"idx1" + struct.pack("<I", len(entries)) + entries
    body = b"AVI " + parts
    return b"RIFF" + struct.pack("<I", len(body)) + body


@settings(max_examples=100, deadline=None)
@given(
    frames=st.lists(
        st.lists(st.integers(min_value=0, max_value=255), min_size=8, max_size=8),
        min_size=1,
        max_size=6,
    ),
    fps=st.integers(min_value=1, max_value=60),
    with_idx=st.booleans(),
)
def test_avi_parser_roundtrip(frames, fps, with_idx):
    from kafka_stream_job_spark.operators.multimodal import decode_avi_real

    got = decode_avi_real(_avi_bytes(frames, fps, with_idx=with_idx))
    assert got["n_frames"] == len(frames)
    assert (got["width"], got["height"]) == (4, 2)
    assert got["us_per_frame"] == 1_000_000 // fps
    assert got["channel_sum"] == 3 * sum(sum(px) for px in frames)


def test_avi_parser_rejects_malformed():
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import decode_avi_real

    good = _avi_bytes([[10] * 8, [20] * 8], 10)
    for bad in (
        b"",                                # empty
        b"RIFX" + good[4:],                 # wrong magic
        good[:8] + b"WAVE" + good[12:],     # wrong form type
        good[: len(good) - 4],              # truncated idx1
    ):
        with _pytest.raises(ValueError):
            decode_avi_real(bad)
    # avih frame count disagreeing with the movi list must raise
    with _pytest.raises(ValueError, match="frames"):
        decode_avi_real(_avi_bytes([[10] * 8, [20] * 8], 10, lie_frames=3))
    # a compressed (non-BI_RGB) stream refuses loudly
    comp = bytearray(good)
    strf_at = good.find(b"strf") + 8 + 16  # biCompression offset in strf body
    comp[strf_at : strf_at + 4] = struct.pack("<I", 1)  # BI_RLE8
    with _pytest.raises(ValueError, match="BI_RGB"):
        decode_avi_real(bytes(comp))


def test_avi_parser_validates_strh_fields():
    """Regression (r10 advice): strh was unpacked with a misaligned
    layout, silently storing garbage. It now parses the canonical
    AVISTREAMHEADER layout AND cross-checks dwLength against the movi
    frame count and dwScale/dwRate against avih's dwMicroSecPerFrame —
    so a lying strh (avih/movi agreeing) must raise."""
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import decode_avi_real

    good = _avi_bytes([[10] * 8, [20] * 8], 10)
    at = good.find(b"strh")
    # strh chunk: tag(4) size(4) fccType(4) fccHandler(4) dwFlags(4)
    # wPriority(2) wLanguage(2) dwInitialFrames(4) dwScale(4) dwRate(4)
    # dwStart(4) dwLength(4) ...
    bad_len = bytearray(good)
    bad_len[at + 40 : at + 44] = struct.pack("<I", 7)  # dwLength lies
    with _pytest.raises(ValueError, match="strh dwLength"):
        decode_avi_real(bytes(bad_len))
    bad_rate = bytearray(good)
    bad_rate[at + 28 : at + 32] = struct.pack("<I", 2)  # dwScale lies
    with _pytest.raises(ValueError, match="scale/rate"):
        decode_avi_real(bytes(bad_rate))


def test_avi_parser_tolerates_round_vs_floor_us():
    """Regression (r10 advice): encoders legitimately derive avih
    dwMicroSecPerFrame by ROUNDING 1e6*dwScale/dwRate (NTSC 1001/30000
    -> 33367us) where we floored (33366us). Both must parse; +/-2us or
    more is still a lying header and must raise."""
    import struct

    import pytest as _pytest

    from kafka_stream_job_spark.operators.multimodal import decode_avi_real

    good = _avi_bytes([[10] * 8, [20] * 8], 10)
    strh_at = good.find(b"strh")
    avih_at = good.find(b"avih")

    def variant(us):
        b = bytearray(good)
        b[strh_at + 28 : strh_at + 32] = struct.pack("<I", 1001)  # dwScale
        b[strh_at + 32 : strh_at + 36] = struct.pack("<I", 30000)  # dwRate
        b[avih_at + 8 : avih_at + 12] = struct.pack("<I", us)
        return bytes(b)

    assert decode_avi_real(variant(33366))["us_per_frame"] == 33366  # floor
    assert decode_avi_real(variant(33367))["us_per_frame"] == 33367  # round
    for lying in (33365, 33368, 40000):
        with _pytest.raises(ValueError, match="scale/rate"):
            decode_avi_real(variant(lying))


# ---------------------------------------------------------------------------
# Poisson-bootstrap weight thresholds — the frozen integers both engines
# draw replica weights from. Pin their integrity: strictly increasing,
# inside the 28-bit hash domain, and the implied weight distribution has
# mean within 0.2% of 1 (the Poisson(1) bootstrap requirement — a wrong
# edit here silently biases every CI).
# ---------------------------------------------------------------------------
def test_bootstrap_thresholds_mean_one():
    from kafka_stream_job_spark.operators.pipeline import BOOT_T

    dom = 1 << 28
    assert list(BOOT_T) == sorted(set(BOOT_T)), "thresholds must increase"
    assert 0 < BOOT_T[0] and BOOT_T[-1] < dom
    edges = (0,) + tuple(BOOT_T) + (dom,)
    mean = sum(
        k * (edges[k + 1] - edges[k]) for k in range(len(edges) - 1)
    ) / dom
    assert abs(mean - 1.0) < 2e-3, f"implied weight mean {mean} is not ~1"


# ---------------------------------------------------------------------------
# dedup_exact_substring normalization must mirror the engine's JVM
# expression lower(trim(regexp_replace(text, '\\s+', ' '))) exactly:
# the Java \\s collapse can leave NON-ASCII whitespace (\xa0, \u2028,
# \x85 ...) at the document edges, and Spark's TRIM strips only plain
# spaces (0x20). A bare Python str.strip() also eats the Unicode
# whitespace and diverges (r12 ADVICE item). Pin the Arrow batch
# extractor against the JVM expression path run through Spark itself.
# (DuckDB's own TRIM strips Zs chars like \xa0 and its RE2 \s excludes
# \x0b, so the DuckDB oracle is NOT the reference for these edge chars;
# the fixture corpus contains none, which is why the declared query
# matches the oracle — the contract pinned here is Arrow ≡ JVM.)
# Docs 6 and 7 are longer than GRAM_LEN with multi-byte characters, so
# the per-gram encode path is pinned beside the ASCII byte-slice path;
# the `tag` column must come back row-aligned with its doc.
# ---------------------------------------------------------------------------
def test_anchored_grams_match_jvm_norm_on_unicode_edges(spark):
    import pyarrow as pa
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators.dedup import (
        GRAM_LEN,
        GRAM_STRIDE,
        _anchored_gram_batches,
    )

    docs = [
        (1, "\xa0 The Quick\tBrown Fox " + "jumps over the lazy dog " * 3),
        (2, " lead and trail unicode ws " + "x" * 40 + " \x85"),
        (3, "  plain ascii edges  " + "abcdefgh " * 8),
        (4, "\x0bvertical tab collapses\x0b" + "y" * 40),
        (5, "\xa0" * 5 + "short"),  # under GRAM_LEN after norm
        (6, "Café Crème brûlée, DÉJÀ VU " * 4),
        (7, "日本語のテキスト 東京 " * 6 + "mixed ascii tail é"),
        (8, None),
    ]
    tags = {d: (None if d == 3 else f"t{d}") for d, _ in docs}
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], pa.int64()),
            pa.array([t for _, t in docs], pa.string()),
            pa.array([tags[d] for d, _ in docs], pa.string()),
        ],
        ["doc_id", "text", "tag"],
    )
    got = set()
    for out in _anchored_gram_batches(iter([batch])):
        assert out.schema.names == ["doc_id", "tag", "gram"]
        ids = out.column("doc_id").to_pylist()
        assert out.column("tag").to_pylist() == [tags[d] for d in ids]
        got.update(zip(ids, out.column("gram").to_pylist()))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    jvm = (
        df.withColumn(
            "norm", F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        )
        .where(F.length("norm") >= GRAM_LEN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"  sequence(1, length(norm) - {GRAM_LEN} + 1),"
                    f"  i -> substring(norm, i, {GRAM_LEN})))"
                )
            ).alias("gram"),
        )
        .where(
            F.expr(
                f"conv(substring(md5(gram), 1, 7), 16, 10) % {GRAM_STRIDE} = 0"
            )
        )
    )
    expected = {(r["doc_id"], r["gram"]) for r in jvm.collect()}
    assert got == expected, (
        f"gram sets diverge on unicode-edged docs: "
        f"only_arrow={sorted(got - expected)[:3]} "
        f"only_jvm={sorted(expected - got)[:3]}"
    )
    # the \xa0-edged doc must have produced a gram containing the
    # preserved non-ASCII whitespace, and both multi-byte docs anchored
    # grams, otherwise the test is vacuous
    assert any("\xa0" in g or "\x85" in g for _, g in expected)
    assert {6, 7} <= {d for d, _ in expected}


def test_first_occurrence_ops_match_oracle_on_hot_run_and_edges(spark, tmp_path):
    """dedup_exact_substring and corpus_shingle_novelty against their
    DuckDB oracles on one small documents file: an anchored 32-char run
    copied into 40 docs (the minimum doc_id among them, so its gram and
    shingles are one hot window key whose first holder is doc 0), a
    NULL text, a text under GRAM_LEN after normalization, a non-ASCII
    doc holding the run, and a doc with a NULL source."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    from kafka_stream_job_spark.operators.dedup import GRAM_LEN
    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.tables import TABLE_NAMES

    run = next(
        r
        for k in range(1000)
        if hashlib.md5((r := f"copied boilerplate run no {k:06d}").encode()).digest()[3] < 16
    )
    assert len(run) == GRAM_LEN
    texts = [f"doc {i} opens with words {i * 7} then {run} and closes {i}" for i in range(40)]
    texts += [
        None,
        "  Short   text  ",
        f"déjà vu 日本語のテキスト {run} ünïcödé tail",
        "a unique document with no copied run at all, long enough to gram",
        f"null source holds {run} too",
    ]
    n = len(texts)
    docs = pa.table(
        {
            "doc_id": list(range(n)),
            "text": texts,
            "lang": [("en", "de", "fr")[i % 3] for i in range(n)],
            "source": [f"src{i % 4}" for i in range(n - 1)] + [None],
            "n_chars": [len(t or "") for t in texts],
        },
        schema=pq.read_schema(f"{SF_SMOKE}/documents.parquet"),
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(f"{SF_SMOKE}/{name}.parquet", tmp_path / f"{name}.parquet")
    sf = str(tmp_path)
    specs = all_specs()
    for name in ("dedup_exact_substring", "corpus_shingle_novelty"):
        spec = specs[name]
        assert_matches_oracle(spark, sf, spec.fn(spark, sf), spec.oracle, name)
    flagged = {
        r["source"]: r["n_flagged"]
        for r in specs["dedup_exact_substring"].fn(spark, sf).collect()
    }
    # every run holder after doc 0 is flagged, whatever its source
    assert sum(flagged.values()) == 41 and flagged[None] == 1


# ---------------------------------------------------------------------------
# r13 Arrow shingle bodies must be bit-for-bit twins of the JVM
# expressions they replaced (interpreted transform HOF + explode +
# aggregates). Adversarial inputs: unicode whitespace edges (\xa0
# survives the Java-\s collapse and Spark TRIM), short docs (< K
# tokens), empty-after-collapse docs, repeated shingles, plus real
# fixture docs so token statistics are representative.
# ---------------------------------------------------------------------------
def _shingle_test_docs(spark):
    from tests.conftest import SF_SMOKE

    from kafka_stream_job_spark.tables import load_table

    docs = [
        (900001, "\xa0 The quick\tbrown fox jumps over the lazy dog \xa0"),
        (900002, "one two"),
        (900003, "solo"),
        (900004, " \t "),
        (900005, "a b c a b c a b c"),
        (900006, "x   y z w"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    real = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(60)
    )
    return df.unionAll(real)


def _with_null_text(spark, df):
    """``df`` plus one NULL-text document: the Arrow bodies must drop it
    (a NULL text has no shingles, so the DuckDB oracle emits no row for
    it) and leave every other row unchanged."""
    null_doc = spark.createDataFrame([(900007, None)], "doc_id long, text string")
    return df.unionAll(null_doc)


def test_minhash_arrow_sigs_match_jvm(spark):
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_HASHES,
        _minhash_sig_batches,
        _shingle_array,
    )

    df = _shingle_test_docs(spark).where(F.col("text").isNotNull())
    got = {
        r["doc_id"]: tuple(r[f"h{s}"] for s in range(NUM_HASHES))
        for r in _with_null_text(spark, df).mapInArrow(
            _minhash_sig_batches,
            "doc_id long, " + ", ".join(f"h{s} long" for s in range(NUM_HASHES)),
        ).collect()
    }
    staged = df.select(
        "doc_id", F.explode(_shingle_array()).alias("shingle")
    ).select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(shingle), 1, 7), 16, 10) AS BIGINT)").alias("h"),
    )
    jvm = {
        r["doc_id"]: tuple(r[f"h{s}"] for s in range(NUM_HASHES))
        for r in staged.groupBy("doc_id")
        .agg(
            *[
                F.expr(
                    f"min(({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_P})"
                ).alias(f"h{s}")
                for s in range(NUM_HASHES)
            ]
        )
        .collect()
    }
    assert got == jvm


def test_shingle_rows_arrow_match_jvm(spark):
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators.dedup import (
        _shingle_array,
        _shingle_rows_batches,
    )

    df = _shingle_test_docs(spark)
    got_rows = df.select("doc_id", "text").mapInArrow(
        _shingle_rows_batches, "doc_id long, shingle string"
    ).collect()
    got = {(r["doc_id"], r["shingle"]) for r in got_rows}
    assert len(got) == len(got_rows), "Arrow shingle rows must be unique"
    jvm = {
        (r["doc_id"], r["shingle"])
        for r in df.select(
            "doc_id",
            F.explode(F.array_distinct(_shingle_array())).alias("shingle"),
        )
        .distinct()
        .collect()
    }
    assert got == jvm


def test_simhash_arrow_fp_match_jvm(spark):
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators.dedup import (
        SIMHASH_BITS,
        _hashed_shingle_expr,
        _simhash_fp_batches,
    )

    df = _shingle_test_docs(spark).where(F.col("text").isNotNull())
    got = {
        r["doc_id"]: r["fp"]
        for r in _with_null_text(spark, df.select("doc_id", "text"))
        .mapInArrow(_simhash_fp_batches, "doc_id long, fp long")
        .collect()
    }
    staged = df.select(
        "doc_id", F.explode(F.array_distinct(_hashed_shingle_expr())).alias("h")
    )
    votes = staged.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j) % 2 == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    jvm = {
        r["doc_id"]: r["fp"]
        for r in votes.select("doc_id", fp.cast("long").alias("fp")).collect()
    }
    assert got == jvm


def test_multimodal_null_text_matches_oracle(spark, tmp_path):
    """The five multimodal ops whose row functions read documents.text
    unfiltered, on SF_SMOKE plus the `_with_null_text` document and one
    empty-text document: each returns exactly its DuckDB oracle's rows
    (for NULL: NULL size and hash columns, no sampled frame, an all-zero
    aHash; for '': an all-ones aHash) instead of failing the task."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.tables import TABLE_NAMES

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    edge_docs = pa.table(
        {f.name: [None, None] for f in docs.schema}
        | {"doc_id": [900007, 900008], "text": [None, ""]},
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, edge_docs]), tmp_path / "documents.parquet"
    )
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(f"{SF_SMOKE}/{name}.parquet", tmp_path / f"{name}.parquet")
    sf = str(tmp_path)
    specs = all_specs()
    for name in (
        "multimodal_decode_features",
        "multimodal_resize",
        "multimodal_frame_sample",
        "multimodal_ahash_neardup",
        "multimodal_ahash_cluster_reps",
    ):
        spec = specs[name]
        assert_matches_oracle(spark, sf, spec.fn(spark, sf), spec.oracle, name)


def test_md5_int_pair_matches_hashlib(spark):
    """md5_int (Spark), md5_int_sql (DuckDB) and hashlib agree bit for bit
    on long and string keys, with and without a prefix, at 7 and 13
    digits; a NULL key hashes to NULL on both engines."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from kafka_stream_job_spark.operators._portable import md5_int, md5_int_sql

    rows = [
        (0, 0, "plain ascii"),
        (1, 1, "naïve 日本語 ✓"),
        (2, -1, ""),
        (3, 1 << 40, None),
        (4, None, "x"),
    ]
    cases = [
        (col, prefix, digits)
        for col in ("n", "s")
        for prefix in ("", "split:")
        for digits in (7, 13)
    ]
    spark_cols = [
        md5_int(
            F.col(col).cast("string") if not prefix else col, prefix, digits
        ).alias(f"h{j}")
        for j, (col, prefix, digits) in enumerate(cases)
    ]
    sql_cols = ", ".join(
        md5_int_sql(f"CAST({col} AS VARCHAR)" if not prefix else col, prefix, digits)
        + f" AS h{j}"
        for j, (col, prefix, digits) in enumerate(cases)
    )
    got_spark = [
        tuple(r)
        for r in spark.createDataFrame(rows, "i bigint, n bigint, s string")
        .orderBy("i")
        .select(*spark_cols)
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, n BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    got_sql = con.sql(f"SELECT {sql_cols} FROM t ORDER BY i").fetchall()

    def ref(key, prefix, digits):
        if key is None:
            return None
        return int(hashlib.md5((prefix + str(key)).encode()).hexdigest()[:digits], 16)

    want = [
        tuple(
            ref(n if col == "n" else s, prefix, digits)
            for col, prefix, digits in cases
        )
        for _, n, s in rows
    ]
    assert got_spark == want
    assert got_sql == want
