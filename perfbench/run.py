#!/usr/bin/env python3
"""Benchmark of the packs_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout.  It makes its inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts one Spark session
at ``local[nproc]`` and drives the workload as a closed loop with one
client until ``--seconds`` of operations have been timed.  Every output
is checked.  With ``--trace 1`` it then makes one traced operation and
times each layer from outside (perfbench/layers.py).

Standard output: a human-readable report, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.  The
metrics are the end-to-end ones with ``--trace 0`` and the per-layer ones
with ``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from harness import ROOT, SCALES, WORKLOADS, Bench, log


def prepare_env(bench: Bench) -> None:
    """Before the JVM starts: every write stays in the checkout, and the
    Python workers can import packs_spark (without the repo root on their
    path the enrich UDF fails with ModuleNotFoundError)."""
    for d in ("tmp", "spark-local", "data", "out"):
        os.makedirs(bench.path(d), exist_ok=True)
    old = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + old)
    os.environ["TMPDIR"] = bench.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = bench.path("spark-local")
    # the program, and the oracles the checks use: tests/pandas_oracle.py
    # and tools/check_oracle.py
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--inject", choices=("label", "hash"), default=None,
                   help="self-test only: corrupt an oracle so checks fail")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "packs_spark", "__init__.py")):
        log(f"no packs_spark sources under {ROOT}: run from a source checkout")
        return 2
    bench = Bench(args)
    prepare_env(bench)
    import workloads

    try:
        workloads.run(bench)
    finally:
        try:
            bench.stop_spark()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(bench.work))
            except OSError:
                pass
    bench.report()
    log("finished")
    print(json.dumps(bench.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
