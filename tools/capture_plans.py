"""Capture ``explain("formatted")`` output for registry queries.

Usage::

    python tools/capture_plans.py <outdir> <suffix> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for every named query (default:
all bench + bench_ext queries). The optimization judge reads these files
to check plan claims (Exchange count, join strategy, PushedFilters,
BatchEvalPython nodes) without running Spark.

Spark numbers lambda variables (``x_279``), expression ids (``#2084``),
exchange plan ids (``plan_id=67``) and RDDs (``MapPartitionsRDD[8]``)
from process-wide counters, so the raw text of one spec depends on what
the specs captured before it built. Each counter is renumbered by first
appearance within the file, so a spec's file is the same whatever the
spec list and its order.

Streaming queries build a real streaming pipeline inside ``fn``; those
are captured by explaining the RESULT DataFrame the function returns
(the post-stream batch plan) — the streaming micro-batch plan itself is
not reachable via explain, so the file notes that limitation.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (prefix, number) of each process-wide counter in explain output
_PROCESS_IDS = re.compile(r"(lambda [A-Za-z]\w*?_|#|plan_id=|RDD\[)(\d+)")


def mask_process_ids(text: str) -> str:
    """Renumber every process-wide id by first appearance, per kind."""
    seen: dict[str, dict[str, int]] = {}

    def renumber(m: re.Match) -> str:
        prefix, n = m.groups()
        kind = seen.setdefault("lambda" if prefix.startswith("lambda") else prefix, {})
        return f"{prefix}{kind.setdefault(n, len(kind) + 1)}"

    return _PROCESS_IDS.sub(renumber, text)


def main() -> int:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "plans/r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]

    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.session import get_spark

    specs = all_specs()
    if not names:
        names = [n for n, s in specs.items() if s.bench or getattr(s, "bench_ext", False)]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        spec = specs[name]
        try:
            df = spec.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = mask_process_ids(buf.getvalue())
        except Exception as exc:  # noqa: BLE001 — record, keep capturing
            text = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(f"-- query: {name}\n-- sf_dir: {sf_dir}\n")
            if "streaming" in name:
                fh.write(
                    "-- NOTE: streaming query; this is the plan of the "
                    "post-stream result DataFrame (the micro-batch plan is "
                    "not reachable via explain).\n"
                )
            fh.write(text)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
