"""Kill-and-restart recovery for the stateful streaming twins — the
exactly-once claim of K2 extended to STATE.

Every registry streaming twin drains via processAllAvailable in one
process; these tests prove the other half of the production contract:
kill the process mid-stream, restart the identical query on the same
checkpoint, and the resumed run must converge to the SAME oracle answer
— with the already-committed input NOT re-read (asserted from the
checkpoint's sources log, so a cheating fresh-start that re-reads
everything cannot pass).

One representative per state machinery — the full quartet:
- streaming_frontier_bloom — applyInPandasWithState custom Python state
  (OR-merged int64 Bloom words; recovery goes through the state store's
  pickled GroupState rows);
- streaming_psi_drift      — built-in complete-mode aggregation state
  (HDFSBackedStateStore rows of a streaming groupBy);
- dropDuplicates           — StreamingDeduplicationExec state, with
  phase 2 deliberately re-sending phase-1 rows;
- streaming_brand_mi_drift — built-in UPDATE-mode keyed aggregation
  state with post-stream assembly over the converged max-per-key
  emissions (the r9-era twin shape: streaming_brand_mi_drift,
  streaming_bootstrap_ci, streaming_neyman_allocation, ...).

Each phase runs in its OWN OS process (subprocess → new JVM + new state
store provider cache), so recovery genuinely exercises the on-disk
checkpoint, not the in-memory StateStore cache of a shared JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from kafka_stream_job_spark.registry import all_specs

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh process per phase. argv: twin phase srcdir ckpt out sf_dir
_PHASE_SCRIPT = """
import json, os, sys
twin, phase, srcdir, ckpt, outpath, sf_dir = sys.argv[1:7]
sys.path.insert(0, {repo!r})
from kafka_stream_job_spark.session import get_spark
# all_specs() import side effect FIRST: operator modules register in
# order (streaming.pipeline's registrations read relational's oracles)
from kafka_stream_job_spark.registry import all_specs
all_specs()
from kafka_stream_job_spark.streaming import pipeline as sp

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
table = {{"frontier": "documents", "dedup": "events", "psi": "events",
          "brandmi": "part", "runs": "events"}}[twin]
schema = spark.read.parquet(os.path.join(sf_dir, table + ".parquet")).schema
stream = spark.readStream.schema(schema).parquet(srcdir)
if twin == "runs":
    # the ordered sequential fold: 6-long applyInPandasWithState state
    # whose LAST-KEY guard must survive the restart — a lost state
    # would reset the walk to zero (undershoot) and a re-read of
    # phase-1 input would trip the duplicate-key guard loudly
    stream = stream.withColumn("ts", stream["ts"].cast("timestamp"))
    emitted_stream = sp.runs_walk_emissions(stream)
    mode = "append"
elif twin == "frontier":
    emitted_stream = sp.frontier_bloom_emissions(stream)
    mode = "append"
elif twin == "dedup":
    # streaming deduplication state: phase 2's input deliberately
    # RE-SENDS half of phase 1's rows — only recovered dedup state
    # keeps them from being emitted twice
    emitted_stream = stream.dropDuplicates(["event_id"])
    mode = "append"
elif twin == "brandmi":
    # update-mode keyed JVM agg state: later emissions supersede
    # earlier rows per key; phase 2 must resume the phase-1 counts
    from pyspark.sql import functions as _F
    emitted_stream = (
        stream.select(
            _F.explode(_F.split("p_name", " ")).alias("token"), "p_brand"
        )
        .groupBy("token", "p_brand")
        .agg(_F.count(_F.lit(1)).cast("long").alias("c"))
    )
    mode = "update"
else:
    # same NTZ->TIMESTAMP normalization stream_table applies (session
    # tz pinned UTC, so the cast is deterministic)
    stream = stream.withColumn("ts", stream["ts"].cast("timestamp"))
    mid = sp.psi_epoch_mid(spark, sf_dir)
    emitted_stream = sp.psi_binned_counts(stream, mid)
    mode = "complete"

# The memory sink refuses checkpoint recovery, so the restartable sink
# here is foreachBatch -> per-batch-tagged parquet appends (the K2
# exactly-once discipline, batch-id column instead of _SUCCESS gate).
emitdir = os.path.join(os.path.dirname(ckpt), "emit")
from pyspark.sql import functions as F

def write_batch(df, bid):
    df.withColumn("_batch", F.lit(int(bid))).write.mode("append").parquet(emitdir)

q = (
    emitted_stream.writeStream.foreachBatch(write_batch)
    .option("checkpointLocation", ckpt)
    .outputMode(mode)
    .start()
)
q.processAllAvailable()
q.stop()

if phase == "2":
    all_emitted = spark.read.parquet(emitdir)
    if twin == "frontier":
        # append mode: every emission participates (max_by popcount)
        emitted = all_emitted.drop("_batch")
        result = sp.frontier_bloom_report(spark, sf_dir, emitted)
    elif twin == "dedup":
        # total EMITTED rows: lost dedup state would re-emit the
        # re-sent duplicates and overshoot the distinct count
        result = all_emitted.agg(
            F.count(F.lit(1)).cast("long").alias("n_events")
        )
    elif twin == "runs":
        # append mode, one cumulative row per batch: the converged walk
        # is the max-n emission; runs_report is the shared batch
        # assembly, so the comparison target is the batch oracle
        from kafka_stream_job_spark.operators.relational import runs_report
        final = all_emitted.drop("_batch").orderBy(F.col("n").desc()).limit(1)
        result = runs_report(final)
    elif twin == "brandmi":
        # update mode: counts are monotone per key, so the converged
        # table is max(c) per key — lost agg state would restart the
        # phase-2 counts from zero and undershoot
        from kafka_stream_job_spark.operators.relational import (
            name_brand_mi_assemble,
        )
        c_tb = (
            all_emitted.groupBy("token", "p_brand")
            .agg(F.max("c").cast("long").alias("c"))
            .localCheckpoint(eager=False)
        )
        result = name_brand_mi_assemble(spark, c_tb)
    else:
        # complete mode: the LAST batch is the converged state
        last = all_emitted.agg(F.max("_batch")).collect()[0][0]
        emitted = all_emitted.filter(F.col("_batch") == last).drop("_batch")
        result = sp.psi_report(emitted)
    rows = [r.asDict() for r in result.collect()]
    with open(outpath, "w") as f:
        json.dump(rows, f, default=str)
spark.stop()
""".format(repo=REPO)


def _split_table(
    table: str,
    key: str,
    dest: str,
    overlap: bool = False,
    by_time: bool = False,
) -> tuple[str, str]:
    """Deterministic half-split of one sf0.001 table into two parquet
    files (by key parity — both halves hit every stateful group). With
    ``overlap``, part1 also RE-SENDS half of part0's rows (key % 4 == 0)
    — cross-phase duplicates only recovered dedup state can suppress.
    With ``by_time``, the split is the FIRST/SECOND half of the
    (ts, {key}) total order instead — the ordered sequential folds
    (runs/SPRT walks) require phase 2's events to come strictly after
    phase 1's, exactly like a live resumed stream."""
    src = os.path.join(SF_SMOKE, f"{table}.parquet")
    a = os.path.join(dest, "part0.parquet")
    b = os.path.join(dest, "part1.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{src}')")
    if by_time:
        con.execute(
            f"CREATE VIEW r AS SELECT *, ROW_NUMBER() OVER "
            f"(ORDER BY ts, {key}) AS _rn FROM t"
        )
        con.execute(
            f"COPY (SELECT * EXCLUDE _rn FROM r WHERE _rn <= "
            f"(SELECT COUNT(*) // 2 FROM t)) TO '{a}'"
        )
        con.execute(
            f"COPY (SELECT * EXCLUDE _rn FROM r WHERE _rn > "
            f"(SELECT COUNT(*) // 2 FROM t)) TO '{b}'"
        )
    else:
        p1 = (
            f"{key} % 2 = 1 OR {key} % 4 = 0" if overlap else f"{key} % 2 = 1"
        )
        con.execute(f"COPY (SELECT * FROM t WHERE {key} % 2 = 0) TO '{a}'")
        con.execute(f"COPY (SELECT * FROM t WHERE {p1}) TO '{b}'")
    con.close()
    return a, b


def _run_phase(twin: str, phase: str, srcdir: str, ckpt: str, out: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", _PHASE_SCRIPT, twin, phase, srcdir, ckpt, out, SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"{twin} phase {phase} subprocess failed:\n"
        f"stdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-2000:]}"
    )


def _sources_log_files(ckpt: str) -> dict[int, list[str]]:
    """Parse checkpoint sources/0/<batch> manifests → batch -> basenames."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[int, list[str]] = {}
    for name in os.listdir(d):
        if not name.isdigit():
            continue
        files = []
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    files.append(os.path.basename(json.loads(line)["path"]))
        out[int(name)] = sorted(files)
    return out


def _oracle_rows(oracle: str) -> list[dict]:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    rel = con.sql(oracle)
    cols = rel.columns
    rows = [dict(zip(cols, r)) for r in rel.fetchall()]
    con.close()
    return rows


def _norm(rows: list[dict]) -> list[tuple]:
    return sorted(
        tuple((k, str(r[k])) for k in sorted(r)) for r in rows
    )


#: third machinery: dropDuplicates (StreamingDeduplicationExec state);
#: its "oracle" is the distinct count over ALL events — emitted-row
#: count overshoots it if the re-sent duplicates survive a lost state
_DEDUP_ORACLE = (
    "SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events FROM events"
)


@pytest.mark.parametrize(
    "twin,table,key,oracle_name",
    [
        ("frontier", "documents", "doc_id", "streaming_frontier_bloom"),
        ("psi", "events", "event_id", "streaming_psi_drift"),
        ("dedup", "events", "event_id", None),
        ("brandmi", "part", "p_partkey", "streaming_brand_mi_drift"),
        ("runs", "events", "event_id", "events_runs_test"),
    ],
    ids=[
        "frontier_bloom_applyInPandasWithState",
        "psi_drift_agg_state",
        "drop_duplicates_dedup_state",
        "brand_mi_update_mode_agg_state",
        "runs_walk_ordered_fold_state",
    ],
)
def test_stateful_twin_recovers_across_process_kill(
    tmp_path, twin, table, key, oracle_name
):
    srcdir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "result.json")
    os.makedirs(srcdir)
    os.makedirs(stage)
    part0, part1 = _split_table(
        table,
        key,
        stage,
        overlap=(twin == "dedup"),
        by_time=(twin == "runs"),
    )

    # phase 1: only half the input exists; process the batch, then the
    # process EXITS — the kill point (JVM dies, state store cache gone)
    os.link(part0, os.path.join(srcdir, "part0.parquet"))
    _run_phase(twin, "1", srcdir, ckpt, out)
    assert not os.path.exists(out), "phase 1 must not publish a result"

    # phase 2: the rest arrives; an identical query restarts from the
    # same checkpoint in a NEW process and must converge to the oracle
    os.link(part1, os.path.join(srcdir, "part1.parquet"))
    _run_phase(twin, "2", srcdir, ckpt, out)

    with open(out) as f:
        got = json.load(f)
    oracle = _DEDUP_ORACLE if oracle_name is None else all_specs()[oracle_name].oracle
    expect = _oracle_rows(oracle)
    assert _norm(got) == _norm(expect), (
        f"{twin}: resumed run diverged from the oracle — state was not "
        "recovered from the checkpoint"
    )

    # structural proof the restart RESUMED rather than re-read: the
    # sources log must show part0 committed by phase 1's batch and part1
    # (alone) by phase 2's
    log = _sources_log_files(ckpt)
    assert log[0] == ["part0.parquet"], log
    later = sorted(f for b, fs in log.items() if b > 0 for f in fs)
    assert later == ["part1.parquet"], (
        f"restart re-read already-committed input: {log}"
    )
