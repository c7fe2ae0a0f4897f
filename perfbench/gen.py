"""Seeded input generators owned by the benchmark.

The engine under test receives only the files written here. Every
generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed gives byte-identical inputs.

* :func:`write_tables` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names, types and
  value domains of the engine's table catalog (``tables.SCHEMAS``).
* :func:`expand_near_duplicates` — a near-duplicate expansion of
  ``documents``: heavy-tailed cluster sizes, each copy a few word
  substitutions away from its seed document.
* :func:`split_events` — ``events`` cut by event time into files, with
  a share of rows delivered one file late (out of order, never later
  than the pipelines' watermark allows) and a share delivered twice.
* :func:`bronze_payload_file` — one file of Kafka-shaped binary
  ``value`` payloads (``ORDER_EVENT_STRUCT`` JSON).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100.0) / 100.0


def _profile(draw, n: int, rng: np.random.Generator) -> np.ndarray:
    """A size profile that is the same for every seed (drawn from a fixed
    stream), in an order the run's seed shuffles: the seed changes which
    row gets which size, never the total work."""
    return rng.permutation(draw(np.random.default_rng(0), n))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = _profile(lambda r, k: r.integers(10, 100, k), n, rng)
    words = np.array(WORDS, dtype=object)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for n_words in lens:
        out.append(" ".join(words[picks[pos : pos + n_words]]))
        pos += n_words
    return out


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, rng: np.random.Generator) -> dict[str, int]:
    """Write all ten catalog tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": adj + " " + noun,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(price, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_ORDER_EPOCH_US + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_ORDER_EPOCH_US + rng.integers(1, 2499, n_line) * _US_PER_DAY),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)) + _EVENT_EPOCH_US
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, _cents(rng.exponential(50.0, n_ev))),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs)
    _write(out_dir, "documents", _documents_cols(rng, np.arange(n_docs), texts))
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_vec,
    }


def _documents_cols(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> dict:
    n = len(texts)
    return {
        "doc_id": ids.astype("int64"),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def expand_near_duplicates(
    base_dir: str,
    out_dir: str,
    rng: np.random.Generator,
    max_cluster: int = 24,
    zipf_a: float = 1.8,
    max_edits: int = 3,
) -> dict[str, int]:
    """Write ``out_dir/documents.parquet`` as near-duplicate clusters of the
    base corpus and link every other table unchanged.

    Cluster sizes are Zipf-distributed (heavy tail, capped at
    ``max_cluster`` so the quadratic pair operators stay bounded), with the
    same size profile for every seed; each
    copy substitutes up to ``max_edits`` words of its seed document, so
    copies share most shingles and collide in the LSH bands.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(base_dir):
        if name != "documents.parquet":
            os.symlink(os.path.join(base_dir, name), os.path.join(out_dir, name))
    base = pq.read_table(os.path.join(base_dir, "documents.parquet")).column("text").to_pylist()
    sizes = _profile(lambda r, k: np.minimum(r.zipf(zipf_a, k), max_cluster), len(base), rng)
    texts: list[str] = []
    for text, size in zip(base, sizes):
        words = text.split(" ")
        texts.append(text)
        for _ in range(int(size) - 1):
            copy = list(words)
            for pos in rng.integers(0, len(copy), rng.integers(0, max_edits + 1)):
                copy[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(copy))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    _write(out_dir, "documents", _documents_cols(rng, np.arange(len(texts)), texts))
    return {"documents": len(texts), "clusters": len(base), "max_cluster": int(sizes.max())}


def _exact_share(mask: np.ndarray, share: float, rng: np.random.Generator) -> np.ndarray:
    """A random subset of exactly ``round(share * mask.sum())`` of the rows
    in ``mask``, so the amount of work does not vary with the seed."""
    picked = np.zeros(len(mask), dtype=bool)
    idx = np.flatnonzero(mask)
    picked[rng.choice(idx, int(round(share * len(idx))), replace=False)] = True
    return picked


def split_events(
    events_path: str,
    out_dir: str,
    rng: np.random.Generator,
    n_files: int,
    late_share: float = 0.1,
    late_window_us: int = 3_600_000_000,
    dup_share: float = 0.02,
) -> list[str]:
    """Cut ``events`` by event time into ``n_files`` parquet files in
    ``out_dir`` (named so that lexical order is delivery order).

    A ``late_share`` of the rows within ``late_window_us`` before a cut
    move into the next file (out of order, but never later than one
    hour, inside the pipelines' two-hour watermark, so no row is
    dropped). A ``dup_share`` of rows is delivered again in the next
    file (at-least-once redelivery, same ``event_id`` and ``ts``).
    """
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events_path)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    cuts = np.quantile(ts, np.linspace(0, 1, n_files + 1)[1:-1]).astype("int64")
    file_of = np.searchsorted(cuts, ts, side="right")
    near_cut = np.zeros(len(ts), dtype=bool)
    has_next = file_of < n_files - 1
    near_cut[has_next] = cuts[file_of[has_next]] - ts[has_next] <= late_window_us
    late = _exact_share(near_cut, late_share, rng)
    delivered = file_of + late
    dup = _exact_share(has_next, dup_share, rng)
    paths = []
    for f in range(n_files):
        idx = np.concatenate([np.flatnonzero(delivered == f), np.flatnonzero(dup & (file_of == f - 1))])
        idx = idx[rng.permutation(len(idx))]
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table.take(pa.array(idx)), path)
        paths.append(path)
    return paths


def bronze_payload_file(
    path: str, rng: np.random.Generator, first_id: int, n_rows: int
) -> int:
    """Write ``n_rows`` OrderEvent JSON payloads (``orderId`` unique from
    ``first_id``) as one parquet file with a binary ``value`` column, via
    a hidden temp name and an atomic rename so a file source never sees
    it half-written. Returns the sum of ``amount`` in cents."""
    cents = rng.integers(0, 100_000, n_rows)
    secs = rng.integers(1_700_000_000, 1_700_086_400, n_rows)
    values = [
        ('{"orderId":"o-%d","amount":%d.%02d,"ts":"%d"}' % (first_id + i, c // 100, c % 100, s)).encode()
        for i, (c, s) in enumerate(zip(cents.tolist(), secs.tolist()))
    ]
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.table({"value": pa.array(values, pa.binary())}), tmp)
    os.replace(tmp, path)
    return int(cents.sum())
