"""Driver-contract simulator: run EVERY registry query on a bare
SparkSession AND its DuckDB oracle on the same parquet, then compare the
way the external driver does — column set, coarse type tags (this is what
catches DuckDB HUGEINT vs Spark BIGINT before the driver's type-tagged
hash does), and order-insensitive values.

Usage:
    python tools/verify_oracle.py                 # all queries at sf0.01
    python tools/verify_oracle.py q1_pricing_summary dedup_exact   # subset
    SIM_SF=/root/testdata/sf0.1 python tools/verify_oracle.py      # other SF
    SIM_PAR=1 python tools/verify_oracle.py       # serial (default min(6, cores))

Exit code 1 on any mismatch. Queries run CONCURRENTLY from SIM_PAR
threads on the one SparkSession (Spark schedules concurrent jobs fine;
the wall is dominated by per-query driver overhead, not executor work,
so threading cuts the full-registry sweep ~3×). Each worker compares on
its own duckdb cursor. Set SIM_PAR=1 to bisect any suspected
interference — results must be identical either way (staged /tmp inputs
are content-keyed + immutable, memory-sink names are uuid-unique, and
the drain clamp serializes behind its own lock).

Sized to the host: the master gets ``SPARK_GRAFT_CPUS`` cores (else the
cores this process may run on), SIM_PAR is capped at that count, and the
driver heap and DuckDB's ``memory_limit`` each get a quarter of physical
memory (heap capped at 8g), because DuckDB runs inside this Python
process and its default limit alone is 80% of RAM.
"""
import os, sys, time
sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))
from concurrent.futures import ThreadPoolExecutor
from threading import Lock

from pyspark.sql import SparkSession
import duckdb

sf = os.environ.get("SIM_SF", "/root/testdata/sf0.01")
only = sys.argv[1:] or None
n_cpu = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
n_par = min(int(os.environ.get("SIM_PAR", "6")), n_cpu)
quarter_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (4 << 20)
spark = (SparkSession.builder.master(f"local[{n_cpu}]").appName("driver-sim")
         # SIM_PAR concurrent queries share one driver heap; the 1g
         # default is where "looks small" broadcast builds OOM first.
         .config("spark.driver.memory", f"{min(quarter_mb, 8192)}m")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
qs, oracles = e.queries(), e.oracle_sql()

con = duckdb.connect(config={"memory_limit": f"{quarter_mb}MB", "threads": n_cpu})
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

import datetime, decimal

def norm(v):
    if isinstance(v, (datetime.datetime, datetime.date)): return v.isoformat()
    if isinstance(v, decimal.Decimal): return str(v)
    if isinstance(v, float): return repr(v)
    return v

def key(row): return tuple((x is None, str(type(x)), str(x)) for x in row)

def spark_tag(dt):
    s = dt.simpleString()
    return {"int": "int", "bigint": "int", "smallint": "int", "tinyint": "int",
            "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
            "date": "date", "timestamp": "ts", "timestamp_ntz": "ts"}.get(s, s)

def duck_tag(duck_type_name):
    t = duck_type_name.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"): return "int"
    if t == "HUGEINT": return "HUGEINT!"
    if t == "DOUBLE": return "f64"
    if t in ("FLOAT", "REAL"): return "f32"
    if t in ("VARCHAR",): return "str"
    if t == "BOOLEAN": return "bool"
    if t == "DATE": return "date"
    if t.startswith("TIMESTAMP"): return "ts"
    return t

fails = []
t_total = time.time()
report = {}  # driver-format rows, written to $SIM_JSON if set
out_lock = Lock()


def run_one(name):
    t0 = time.time()
    try:
        # Worker threads start with no JVM-side active session; the
        # DataFrameWriter resolves Python DataSources through it, so
        # custom-sink queries would fail with DATA_SOURCE_NOT_FOUND.
        from kafka_stream_job_spark.session import ensure_thread_active_session
        ensure_thread_active_session(spark)
        sdf = qs[name](spark, sf)
        scols = sdf.columns
        stypes = {f.name: spark_tag(f.dataType) for f in sdf.schema.fields}
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            with out_lock:
                print(f"{name}: rows-only ok ({len(srows)}) [{time.time()-t0:.1f}s]")
                report[name] = {"rows_match": None, "schema_match": None,
                                "hash_match": None, "spark_rows": len(srows),
                                "oracle_rows": None, "err": "no_oracle",
                                "secs": round(time.time() - t0, 2)}
            return
        cur = con.cursor()  # duckdb connections are not thread-shareable
        try:
            rel = cur.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = {c: duck_tag(str(t)) for c, t in zip(rel.columns, rel.types)}
            orows = rel.fetchall()
        finally:
            cur.close()
        so = [scols.index(c) for c in sorted(scols)]
        oo = [ocols.index(c) for c in sorted(ocols)]
        s = sorted((tuple(norm(r[i]) for i in so) for r in srows), key=key)
        o = sorted((tuple(norm(r[i]) for i in oo) for r in orows), key=key)
        cols_ok = sorted(scols) == sorted(ocols)
        types_ok = cols_ok and all(stypes[c] == otypes[c] for c in scols)
        vals_ok = s == o
        ok = cols_ok and types_ok and vals_ok
        msg = "MATCH" if ok else "MISMATCH"
        detail = ""
        if cols_ok and not types_ok:
            detail = " types: " + str({c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]})
        elif not cols_ok:
            detail = f" cols spark={sorted(scols)} oracle={sorted(ocols)}"
        elif not vals_ok:
            bad = next((i for i, (a, b) in enumerate(zip(s, o)) if a != b), None)
            detail = f" first diff row {bad}: {s[bad] if bad is not None else ''} vs {o[bad] if bad is not None else ''}"[:300]
        with out_lock:
            print(f"{name}: {msg} ({len(srows)} rows) [{time.time()-t0:.1f}s]{detail}")
            report[name] = {"rows_match": len(srows) == len(orows),
                            "schema_match": cols_ok and types_ok,
                            "hash_match": ok, "spark_rows": len(srows),
                            "oracle_rows": len(orows), "err": None,
                            "secs": round(time.time() - t0, 2)}
            if not ok: fails.append(name)
    except Exception as ex:
        with out_lock:
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:200]}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None,
                            "err": f"{type(ex).__name__}: {str(ex)[:120]}",
                            "secs": round(time.time() - t0, 2)}
            fails.append(name)


names = [n for n in qs if not only or n in only]
if n_par <= 1:
    for n in names:
        run_one(n)
else:
    with ThreadPoolExecutor(max_workers=n_par) as pool:
        list(pool.map(run_one, names))

# report keys in registry order regardless of completion order
report = {n: report[n] for n in names if n in report}
if os.environ.get("SIM_JSON"):
    import json
    with open(os.environ["SIM_JSON"], "w") as fh:
        json.dump(report, fh, indent=1)
print(f"\nTOTAL {time.time()-t_total:.1f}s  FAILURES: {fails or 'none'}")
sys.exit(1 if fails else 0)
