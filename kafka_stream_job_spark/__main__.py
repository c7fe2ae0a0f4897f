"""Command-line surface: the spark-submit-style entry point a user of the
reference jobs (KafkaAvroToIceberg / KafkaBatchJob main classes) would
reach for first.

    python -m kafka_stream_job_spark list [--tag TAG]
    python -m kafka_stream_job_spark run QUERY [--sf-dir DIR] [--limit N]
                                               [--explain] [--json]
    python -m kafka_stream_job_spark bronze --input DIR --table NAME
                                            [--streaming] [--checkpoint DIR]

`run` executes any registry query against the parquet tables in --sf-dir;
`bronze` drives the decode→enrich→append pipeline (the reference's job)
over a directory of raw binary `value` payloads.
"""

from __future__ import annotations

import argparse
import json
import sys


def _cmd_list(args) -> int:
    from kafka_stream_job_spark.registry import all_specs

    for name, spec in sorted(all_specs().items()):
        if args.tag and args.tag not in spec.tags:
            continue
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:40s} [{oracle}] {','.join(spec.tags)}")
    return 0


def _cmd_run(args) -> int:
    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.session import get_spark

    specs = all_specs()
    if args.query not in specs:
        print(f"unknown query {args.query!r}; `list` shows all", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"ksj-run-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    df = specs[args.query].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    if args.as_json:
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    else:
        header = df.columns
        print("\t".join(header))
        for r in rows:
            print("\t".join(str(v) for v in r))
    return 0


def _cmd_bronze(args) -> int:
    from kafka_stream_job_spark import bronze
    from kafka_stream_job_spark.session import get_spark

    spark = get_spark(app_name="ksj-bronze")
    spark.sparkContext.setLogLevel("ERROR")
    bronze.create_bronze_table(spark, args.table, provider=args.provider)
    if args.streaming:
        if not args.checkpoint:
            print("--streaming requires --checkpoint", file=sys.stderr)
            return 2
        raw = spark.readStream.schema("value binary").parquet(args.input)
        decoded = bronze.decode_events(raw, source_tag="kafka-stream")
        q = bronze.write_stream_append(decoded, args.table, args.checkpoint)
        q.processAllAvailable()  # bounded drain; long-running jobs use awaitTermination
        q.stop()
    else:
        raw = spark.read.parquet(args.input)
        decoded = bronze.decode_events(raw, source_tag="kafka-batch")
        bronze.write_batch_append(decoded, args.table)
    print(f"{args.table}: {spark.table(args.table).count()} rows")
    return 0


def _cmd_checkpoint(args) -> int:
    """Inspect a Structured Streaming checkpoint the way the reference's
    dev.md does by hand (`cat offsets/0`, `cat commits/5`, dev.md:15-21):
    every offsets batch with parsed per-partition end offsets, whether it
    committed, and the watermark carried in the batch metadata. The last
    offsets batch without a commit file is the in-flight batch a recovery
    will re-run (exactly-once replay point)."""
    from kafka_stream_job_spark.checkpoint import (
        list_commit_batches,
        list_offset_batches,
        read_offsets_file,
    )

    batches = list_offset_batches(args.checkpoint_dir)
    if not batches:
        print(f"no offsets batches under {args.checkpoint_dir!r}", file=sys.stderr)
        return 2
    committed = {b for b, _ in list_commit_batches(args.checkpoint_dir)}
    rows = []
    for batch_id, path in batches:
        meta, offsets = read_offsets_file(path)
        rows.append(
            {
                "batch_id": batch_id,
                "committed": batch_id in committed,
                "watermark_ms": meta.get("batchWatermarkMs"),
                "offsets": {f"{t}-{p_}": o for (t, p_), o in sorted(offsets.items())},
            }
        )
    if args.as_json:
        for r in rows:
            print(json.dumps(r))
    else:
        for r in rows:
            state = "committed" if r["committed"] else "IN-FLIGHT (replays on recovery)"
            offs = ", ".join(f"{k}={v}" for k, v in r["offsets"].items()) or "-"
            print(f"batch {r['batch_id']:>4}  {state:<34} wm={r['watermark_ms']}  {offs}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="kafka_stream_job_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registry queries")
    p_list.add_argument("--tag", help="filter by tag")
    p_list.set_defaults(fn=_cmd_list)

    p_run = sub.add_parser("run", help="run a registry query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")
    p_run.add_argument("--json", dest="as_json", action="store_true")
    p_run.set_defaults(fn=_cmd_run)

    p_br = sub.add_parser("bronze", help="run the bronze ingestion pipeline")
    p_br.add_argument("--input", required=True, help="dir of parquet with binary `value`")
    p_br.add_argument("--table", required=True)
    p_br.add_argument("--provider", default="parquet", help="parquet | iceberg")
    p_br.add_argument("--streaming", action="store_true")
    p_br.add_argument("--checkpoint")
    p_br.set_defaults(fn=_cmd_bronze)

    p_ck = sub.add_parser(
        "checkpoint", help="inspect a streaming checkpoint's offsets/commits"
    )
    p_ck.add_argument("checkpoint_dir")
    p_ck.add_argument("--json", dest="as_json", action="store_true")
    p_ck.set_defaults(fn=_cmd_checkpoint)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
