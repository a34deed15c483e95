"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload bulk_sync --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with spans
at the layer boundaries and prints the per-layer metrics instead (spans are
also written to ``.perfbench_out/``). Workloads and metrics are described
in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it: it exits once its stdin
    closes, and Spark's Python worker daemon exits with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    # run as a script: import this package from the checkout root, not
    # its modules as top-level names from the script's own directory
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
            os.path.abspath(__file__)):
        sys.path.pop(0)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="syncmaven_spark sync benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("syncmaven_spark") is None:
        print("perfbench: the syncmaven_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2

    from perfbench.workloads import run

    spans = (os.path.join(ROOT, ".perfbench_out",
                          f"spans-{args.workload}-seed{args.seed}.jsonl")
             if args.trace else None)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  spans_out=spans)
    finally:
        _stop_jvm()
    print(f"[perfbench] {args.workload} evidence: {json.dumps(out.evidence)}",
          file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in out.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
