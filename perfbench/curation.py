"""``curation_dup``: the LLM-curation registry set, closed loop, on a
near-duplicate-heavy corpus.

One operation is ``QuerySpec.fn(spark, data_dir)`` (the driver-side plan
build) followed by ``.count()`` (execution). Each pass runs the whole set
once, one client, in an order the seed shuffles per pass. Every execution
is checked against the row count the spec's DuckDB ``oracle`` SQL gives on
the same inputs. The warm-up pass collects every result and compares its
order-independent fingerprint with the oracle's.
"""

from __future__ import annotations

import time

from perfbench import common, gen

#: The LLM-curation set: dedup, text and multimodal operators
#: whose plans cross the Python/Arrow boundary and pin with localCheckpoint.
CURATION = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_token_stats",
    "dedup_exact_substring",
    "multimodal_ahash_neardup",
    "multimodal_png_stats",
)

SCALE = {"bench": 0.01, "tiny": 0.001}


class CurationDup:
    def __init__(self) -> None:
        self.queries = CURATION
        self.expected: dict[str, tuple[int, str]] = {}
        self.lat: dict[str, list[float]] = {q: [] for q in self.queries}
        self.passes: list[tuple[bool, float]] = []  # (traced, seconds)

    # -- benchmark-owned ----------------------------------------------------
    def generate(self, h) -> None:
        base = h.dirs.path("data", "base")
        counts = gen.write_tables(base, SCALE[h.args.scale], h.rng(1))
        self.data_dir = h.dirs.path("data", "dup")
        dup = gen.expand_near_duplicates(base, self.data_dir, h.rng(2))
        h.report["corpus"] = dup
        # documents and embeddings are the only tables the set reads
        self.input_rows = dup["documents"] + counts["embeddings"]
        h.report["input_rows"] = self.input_rows

    def expectations(self, h) -> None:
        import duckdb

        from kafka_stream_job_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for q in self.queries:
                cur = con.execute(h.specs[q].oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                self.expected[q] = (len(rows), common.fingerprint(cols, rows))
        finally:
            con.close()
        if h.args.corrupt_expectation:
            q = self.queries[0]
            self.expected[q] = (self.expected[q][0], "0" * 16)

    # -- the program --------------------------------------------------------
    def stage(self, h) -> None:
        """Inputs are the generated parquet files; nothing to stage."""

    def _op(self, h, q: str, traced: bool) -> float:
        tracer = h.tracer if traced else common.UNTRACED
        t0 = time.perf_counter()
        with h.checks.guard(f"{q}"):
            with tracer.span("operators.build", query=q):
                df = h.specs[q].fn(h.spark, self.data_dir)
            with tracer.span("operators.exec", query=q):
                n = df.count()
            if n != self.expected[q][0]:
                raise AssertionError(f"rows {n} != oracle {self.expected[q][0]}")
        return time.perf_counter() - t0

    def _check(self, h, q: str) -> None:
        """Collect one result and compare its fingerprint with the oracle's."""
        with h.checks.guard(f"{q} fingerprint"):
            df = h.specs[q].fn(h.spark, self.data_dir)
            rows = [tuple(r) for r in df.collect()]
            got = (len(rows), common.fingerprint(df.columns, rows))
            if got != self.expected[q]:
                raise AssertionError(f"{got} != oracle {self.expected[q]}")

    def warmup(self, h) -> None:
        """One pass in the set's order, every result checked in full."""
        for q in self.queries:
            self._check(h, q)

    def measure(self, h) -> dict:
        rng = h.rng(3)
        deadline = time.perf_counter() + h.seconds
        k = 0
        while time.perf_counter() < deadline or k < 2:
            traced = h.trace and k % 2 == 1
            order = [self.queries[j] for j in rng.permutation(len(self.queries))]
            t0 = time.perf_counter()
            with (h.tracer if traced else common.UNTRACED).span("pass", index=k):
                for q in order:
                    lat = self._op(h, q, traced)
                    if not traced:
                        self.lat[q].append(lat)
            self.passes.append((traced, time.perf_counter() - t0))
            k += 1
        plain = [s for t, s in self.passes if not t]
        p, tail = common.high_percentile(plain)
        h.report.update(
            pass_samples=len(plain), pass_p_high=[p, tail], op_samples=sum(map(len, self.lat.values())),
            query_median_s={q: common.median(v) for q, v in self.lat.items()},
        )
        pass_s = common.median(plain)
        # percentiles over operations of each one's median latency: a pooled
        # percentile of mixed operations jumps between neighbouring queries
        medians = [common.median(v) for v in self.lat.values()]
        return {
            "pass_s": pass_s,
            "query_geomean_s": common.geomean(medians),
            "ingest_rows_per_s": self.input_rows / pass_s,
            "freshness_p50_s": common.median(medians),
            "freshness_p90_s": common.percentile(medians, 90),
        }

    def verify(self, h) -> None:
        """Results were compared in full during the warm-up pass."""

    # -- traced run ---------------------------------------------------------
    def layers(self, h) -> dict:
        spans = h.tracer.spans
        n_traced = sum(1 for t, _ in self.passes if t)
        windows = [(s["start"], s["end"]) for s in spans
                   if s["name"] in ("operators.build", "operators.exec")]
        counters = common.SparkCounters(h.spark)
        stages = counters.stage_totals(windows)
        python, _ = counters.python_totals(windows)
        unmetered = []
        for q in self.queries:
            qw = [(s["start"], s["end"]) for s in spans
                  if s.get("query") == q and s["name"] in ("operators.build", "operators.exec")]
            if not counters.python_totals(qw)[1]:
                unmetered.append(q)
        build = h.tracer.total("operators.build") / n_traced
        execute = h.tracer.total("operators.exec") / n_traced
        traced = [s for t, s in self.passes if t]
        plain = [s for t, s in self.passes if not t]
        h.report["python_unmetered_queries"] = unmetered
        out = {f"operators.{k}": v / n_traced for k, v in stages.items()}
        out.update({f"operators.{k}": v / n_traced for k, v in python.items()})
        out.update({
            "operators.build_s": build,
            "operators.exec_s": execute,
            "operators.build_share": build / (build + execute),
            "operators.python_unmetered_queries": len(unmetered),
            "trace.overhead_s": common.median(traced) - common.median(plain),
        })
        return out


