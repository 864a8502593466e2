"""Benchmark entry point.

    python3 perfbench/run.py --workload verdicts_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from --seed into
bench_data/ (once per input kind and seed); every temporary file the run
makes lives under bench_data/tmp/ and is removed at the end. The last line
of standard output is the JSON result record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _environment(root: str) -> str:
    """Point every temporary and worker path of this run inside root;
    returns the run's scratch directory."""
    scratch = os.path.join(root, "bench_data", "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={scratch}", "-XX:-UsePerfData"))
    )
    return scratch


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import __spark_entry__  # noqa: F401  (the registry workload's queries)
        import jsonschema_validator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scratch = _environment(root)
    try:
        result = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
