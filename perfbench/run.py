#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload wide_fuzzy --seed 1 --seconds 15 --trace 0

Run from the repository root. The workload's inputs are generated from the
seed under ``.perfbench_work/`` (removed on exit); the package is driven
through its public entry points in this process on ``local[<cores>]``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one traced unit (see perfbench/README.md). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is non-zero
when an output check failed or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    # read by datagen at import: transcript caches go under the work dir
    os.environ["SJSPARK_DATA_DIR"] = os.path.join(work, "transcripts")
    sys.path.insert(0, ROOT)
    try:
        import mannheimsearchjoinsengine_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
