#!/usr/bin/env python3
"""Closed-loop lakehouse benchmark: one client thread, one Spark session.

Usage (from the repository root)::

    python3 lakebench/run.py --workload lakehouse_cycle --seed 1 --seconds 5 --trace 0

A run starts Spark on ``local[N]`` (N = min(4, usable cores)), stages the
workload's input files, builds its expected values, runs one untimed
warm-up pass, then runs passes until ``--seconds`` have elapsed.
Each pass runs the same operation list on a fresh table and checks every
output against a model computed from the seed. The last stdout line is the result object; the line
before it carries details (percentiles, sample counts, environment).

``--trace 1`` alternates traced and untraced passes (traced first), reports
the per-layer metrics of the traced ones plus the tracing overhead (traced
minus untraced end-to-end metrics), and writes the spans out when the run
ends. ``--counts FILE`` compares this run's per-pass counts with FILE (written by
an earlier traced run with the same workload and seed) and names every
counter that differs; ``--selftest`` perturbs one expected value so the run
must fail.

Every run gets its own warehouse, Spark local directory and temp directory
under ``.lakebench_tmp/`` in the repository root, removes them at exit, and
waits for the JVM and its Python workers to end before it returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyiceberg_lakehouse_spark"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--counts", help="per-pass counts file to compare with, or to create")
    ap.add_argument("--spans", help="where a traced run writes its spans (JSON lines)")
    ap.add_argument("--selftest", action="store_true", help="perturb one expected value")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"lakebench: {PACKAGE}/ and BENCHMARK.json must sit next to lakebench/", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"lakebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # keep the checkout clean: no bytecode caches, every temp file in the run dir
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.path[:0] = [ROOT]
    run_dir = os.path.join(ROOT, ".lakebench_tmp", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        from lakebench.bench import run_benchmark

        detail, result = run_benchmark(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
