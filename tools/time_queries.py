"""Time individual registry queries with the bench.py methodology
(one warmup pass, min of two timed passes, count() action) without
running the whole bench — for iterating on one operator.

Usage::

    python tools/time_queries.py <query> [query ...]
    SIM_SF=/root/testdata/sf0.1 python tools/time_queries.py q1_pricing_summary

Specs tagged ``streaming`` print with a ``[streaming]`` mark: their ``fn``
runs the whole drain while it builds the DataFrame, so their time is not
comparable with a batch spec's.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SIM_SF", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        print("usage: time_queries.py <query> [query ...]", file=sys.stderr)
        return 2

    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for n in names:
        if n not in specs:
            print(f"unknown query {n!r}", file=sys.stderr)
            return 2
    for n in names:
        spec = specs[n]
        spec.fn(spark, sf_dir).count()  # warmup
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        mark = " [streaming]" if "streaming" in spec.tags else ""
        print(f"{n}: {best:.3f}s{mark}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
