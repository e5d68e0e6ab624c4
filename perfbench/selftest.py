#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny input size. Run from the
repository root:

    python3 perfbench/selftest.py

Checks that run.py's metric lists match BENCHMARK.json, that every
workload prints every metric with its unit in both modes and a parseable
last line, and that a deliberately corrupted result fails the check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if lines else None


def main():
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END,
           "end_to_end metrics in BENCHMARK.json match run.py")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER,
           "per_layer metrics in BENCHMARK.json match run.py")
    expect([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
           "workloads in BENCHMARK.json match run.py")

    for w in run.WORKLOADS:
        for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            code, lines, res = bench(w, trace)
            expect(code == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: exit 0 and correct")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}
                   and res["attempted"] >= 1 and res["failed"] == 0,
                   f"{w} trace={trace}: result keys and counts")
            expect({k: v["unit"] for k, v in res["metrics"].items()} == units,
                   f"{w} trace={trace}: every metric reported with its unit")
            printed = {ln.split()[2] for ln in lines if ln.startswith("perfbench: metric ")}
            expect(printed == set(units), f"{w} trace={trace}: every metric printed by name")
        # with --trace 1, a workload corrupts the check only the traced
        # run makes: ref_distances its format round trip, dedup_pipeline
        # a family query's result
        for trace in (0, 1):
            code, _, res = bench(w, trace, corrupt=True)
            expect(code != 0 and res is not None and not res["correct"],
                   f"{w} trace={trace}: a corrupted result fails the check")
    print("selftest: " + ("PASS" if not failures else f"{len(failures)} FAILED"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
