#!/usr/bin/env python3
"""Self-test of the lakehouse benchmark on a tiny seed.

Usage (from the repository root): python3 lakebench/selftest.py

1. Every workload runs at the tiny size, passes its output checks and prints
   every end-to-end metric of BENCHMARK.json, by name, with its unit.
2. A traced run of each workload prints every per-layer metric and writes a
   span around each layer call; the traced etl_hourly run also builds and
   executes every registry entry it times, checked against the DuckDB oracle.
3. Planted defects (a duplicated gold row, a corrupted chunk text) fail the
   output checks, and the command exits non-zero.
Exits non-zero on the first expectation that does not hold.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SEED = 7


def run(workload, trace=0, plant=None):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if plant:
        cmd += ["--plant", plant]
    p = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if lines else None


def expect(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        sys.exit(1)


def expect_metrics(workload, lines, res, spec):
    for m in spec:
        got = res["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"] and isinstance(got["value"], (int, float)),
               f"{workload}: {m['name']} reported in {m['unit']}")
        expect(any(re.match(rf"{workload} {re.escape(m['name'])} = \S+ {re.escape(m['unit'])} \(n=\d+\)$", l)
                   for l in lines), f"{workload}: {m['name']} printed with its unit and sample count")
    expect(set(res["metrics"]) == {m["name"] for m in spec}, f"{workload}: no metric beyond the spec")


def main():
    for w in (w["name"] for w in SPEC["workloads"]):
        code, lines, res = run(w)
        expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: clean run passes its checks")
        expect_metrics(w, lines, res, SPEC["end_to_end"])

    entries = [m["name"][len("queries."):-len(".build_s")] for m in SPEC["per_layer"]
               if m["name"].startswith("queries.q_") and m["name"].endswith(".build_s")]
    spans_of = {"etl_hourly": {"sources.read", "ops.transform", "ops.dedup", "sinks.commit",
                               "sinks.snapshot_read", "ops.dq"} |
                              {f"queries.{side}.{e}" for e in entries for side in ("build", "exec")},
                "gate_chunkstore": {"streaming.batch", "streaming.reconstruct", "ext.chunk"}}
    for w, expected in spans_of.items():
        code, lines, res = run(w, trace=1)
        expect(code == 0 and res["correct"], f"{w} traced: passes its checks")
        expect_metrics(w, lines, res, SPEC["per_layer"])
        spans = HERE / "out" / f"{w}-{SEED}-trace1-spans.json"
        expect(expected <= {s["name"] for s in json.loads(spans.read_text())}, f"{w} traced: a span around every layer call")

    for w, plant in [("etl_hourly", "dup_gold_row"), ("gate_chunkstore", "corrupt_chunk")]:
        code, lines, res = run(w, plant=plant)
        expect(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: planted {plant} is caught")
    print("selftest passed")


if __name__ == "__main__":
    main()
