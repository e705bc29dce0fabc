#!/usr/bin/env python3
"""Self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

Runs every workload once on a tiny fixture with every output check on,
one traced run, and one negative case: cube_build with one fact row
dropped from the read-back, which must be reported as a failed operation.
Also checks that the metric names printed match BENCHMARK.json. Exits 0
when every expectation holds.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace=0, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
           "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    problems = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in [x["name"] for x in bench["workloads"]]:
        r = run(w)
        expect(r is not None, "%s: run printed a result" % w)
        if r:
            expect(sorted(r) == ["attempted", "correct", "failed", "metrics"],
                   "%s: result has exactly the contract keys" % w)
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   "%s: every output check passed (%d attempted, %d failed)"
                   % (w, r["attempted"], r["failed"]))
            expect(list(r["metrics"]) == e2e, "%s: end-to-end metric names" % w)
            expect(all(r["metrics"][m]["value"] > 0 for m in e2e),
                   "%s: every end-to-end metric is non-zero" % w)

    r = run(bench["workloads"][0]["name"], trace=1)
    expect(r is not None and list(r["metrics"]) == layers,
           "traced run reports exactly the per-layer metrics")

    r = run("cube_build", corrupt=1)
    expect(r is not None and not r["correct"] and r["failed"] >= 1,
           "a dropped fact row is reported as a failed operation")

    print("self-check %s" % ("passed" if not problems else "FAILED"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
