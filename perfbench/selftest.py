"""Self-test of the benchmark on sf0.001-sized inputs.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run prints each end-to-end
metric of ``BENCHMARK.json`` with its unit and passes its output checks,
that a traced run prints each per-layer metric with its unit, and that a
run whose expected fingerprint is deliberately wrong reports a failed
operation (``failed_ratio`` above 0). It also checks that the metric lists
in ``BENCHMARK.json`` and in ``run.py`` agree. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    errors = []
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if e2e != dict(run.END_TO_END):
        errors.append(f"end_to_end differs from run.END_TO_END: {e2e} vs {dict(run.END_TO_END)}")
    if layer != dict(run.PER_LAYER):
        errors.append("per_layer differs from run.PER_LAYER")
    if [w["name"] for w in spec["workloads"]] != list(run.WORKLOADS):
        errors.append("workloads differ from run.WORKLOADS")
    for w in run.WORKLOADS:
        for trace, expected in ((0, e2e), (1, layer)):
            try:
                res = _run(w, trace)
            except AssertionError as exc:
                errors.append(str(exc))
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected:
                errors.append(f"{w} trace={trace}: metrics/units {got} != {expected}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] > 0):
                errors.append(f"{w} trace={trace}: checks failed: {res}")
            print(f"ok {w} trace={trace}: {len(got)} metrics, {res['attempted']} operations checked",
                  flush=True)
        try:
            bad = _run(w, 0, "--corrupt-expectation")
        except AssertionError as exc:
            errors.append(str(exc))
            continue
        if bad["failed"] == 0 or bad["correct"]:
            errors.append(f"{w}: a wrong expected fingerprint did not fail a check: {bad}")
        else:
            print(f"ok {w}: wrong expectation gives failed_ratio "
                  f"{bad['failed'] / bad['attempted']:.3f}", flush=True)
    for e in errors:
        print("FAIL", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
