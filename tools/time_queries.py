"""Time individual registry queries with the bench.py methodology
(one warmup pass, min of two timed passes, count() action) without
running the whole bench — for iterating on one operator.

Usage::

    python tools/time_queries.py <query> [query ...]
    SIM_SF=/root/testdata/sf0.1 python tools/time_queries.py q1_pricing_summary

Each line splits the best pass into ``build`` (``spec.fn``: plan
assembly, plus any work the spec does eagerly while building) and
``exec`` (the ``count()`` action). Specs that work at build time show as
build-heavy: the streaming drains and the ``localCheckpoint(eager=True)``
paths. Specs tagged ``streaming`` also print with a ``[streaming]`` mark:
their ``fn`` runs the whole drain, so their time is not comparable with a
batch spec's. The header line names the local FileSystem path the timings
measured (``session.local_fs_mode``): the drains' checkpoint writes are
several times slower on stock Hadoop. It also names the Python worker
daemon (``spark.python.daemon.module``): under the stock
``pyspark.daemon`` every Python task re-reads ``pyspark.zip``'s directory
about 16 times before its body runs.
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
    from kafka_stream_job_spark.session import get_spark, local_fs_mode

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon")
    print(f"# sf_dir={sf_dir} local_fs={local_fs_mode(spark)} python_daemon={daemon}")
    specs = all_specs()
    for n in names:
        if n not in specs:
            print(f"unknown query {n!r}", file=sys.stderr)
            return 2
    for n in names:
        spec = specs[n]
        spec.fn(spark, sf_dir).count()  # warmup
        best = (float("inf"), 0.0, 0.0)  # (total, build, exec)
        for _ in range(2):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            best = min(best, (t2 - t0, t1 - t0, t2 - t1))
        mark = " [streaming]" if "streaming" in spec.tags else ""
        total, build, exec_ = best
        print(f"{n}: {total:.3f}s (build {build:.3f}s, exec {exec_:.3f}s){mark}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
