#!/usr/bin/env python3
"""Smoke test of the benchmark: a tiny run of every workload, untraced and
traced, must pass every output check and print every metric with its unit.

    python3 perfbench/smoke.py

Run from the root of a checkout. Uses scale factor 0.001 (about 6,000 base
lines, 200-document batches) and `--seconds 1`, which gives two timed ops
per run.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# every end-to-end metric a workload prints, by name and unit
PRINTED = {
    "setup_s": "s", "op_ms_p50": "ms", "ops_per_s": "1/s", "rows_per_s": "rows/s",
    "error_rate": "ratio", "heap_live_mb": "MB",
}
PRINTED_BY_WORKLOAD = {"warehouse_etl": {"bytes_written_per_input_byte": "ratio"}}


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit("%s trace %d: exit code %d" % (workload, trace, out.returncode))
    return out.stdout.strip().splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            lines = run(w, trace)
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append("%s trace %d: checks failed: %s" % (w, trace, lines[-1][:200]))
            metrics = result["metrics"]
            if set(metrics) != {m["name"] for m in declared}:
                problems.append("%s trace %d: metric names differ from BENCHMARK.json" % (w, trace))
            for m in declared:
                got = metrics.get(m["name"], {})
                if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append("%s trace %d: bad %s: %s" % (w, trace, m["name"], got))
            printed = {}
            for l in lines:
                parts = l.split()
                if len(parts) == 4 and parts[0] == "metric":
                    printed[parts[1]] = parts[3]
            for name, unit in {**PRINTED, **PRINTED_BY_WORKLOAD.get(w, {})}.items():
                if printed.get(name) != unit:
                    problems.append("%s trace %d: %s not printed with unit %s" % (w, trace, name, unit))
            if trace == 1 and not os.path.isfile(os.path.join(
                    BENCH, "out", "%s-seed7-trace1.spans.jsonl" % w)):
                problems.append("%s: traced run wrote no spans" % w)
            print("%s trace %d: %d ops, %d failed" % (w, trace, result["attempted"], result["failed"]))
    if problems:
        sys.exit("\n".join(problems))
    print("smoke ok")


if __name__ == "__main__":
    main()
