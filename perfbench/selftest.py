#!/usr/bin/env python3
"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at ``--scale toy`` and checks that:

* each run exits 0 with ``correct: true`` and no failed operation;
* every end-to-end metric of BENCHMARK.json is emitted with its unit
  (``--trace 0``), and every per-layer metric (``--trace 1``);
* an injected wrong oracle label (pipeline) or wrong oracle hash
  (query_suite) makes checks fail: ``failed`` > 0 and ``correct: false``.

Exits 0 when all hold.  Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "toy", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(res: dict, spec: list[dict], what: str) -> list[str]:
    got = res["metrics"]
    errors = []
    for m in spec:
        if m["name"] not in got:
            errors.append(f"{what}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{what}: {m['name']} unit {got[m['name']]['unit']} "
                          f"!= {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{what}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = bench(w, trace)
            what = f"{w} --trace {trace}"
            print(f"{what}: attempted {res['attempted']} failed {res['failed']}",
                  flush=True)
            if not res["correct"] or res["failed"]:
                errors.append(f"{what}: not correct ({res['failed']} failed)")
            errors += expect_metrics(res, spec[key], what)
    for w, fault in (("pipeline_fresh", "label"), ("query_suite", "hash")):
        res = bench(w, 0, "--inject", fault)
        frac = res["failed"] / res["attempted"]
        print(f"{w} --inject {fault}: failed_frac {frac:.3f}", flush=True)
        if res["correct"] or frac <= 0:
            errors.append(f"{w}: injected wrong oracle {fault} was not detected")
    for e in errors:
        print("FAIL", e)
    print("self-test", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
