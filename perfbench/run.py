"""Street-graph benchmark: one workload per run, from the repository root.

    python3 perfbench/run.py --workload ingest_tile --seed 1 --seconds 10 --trace 0

Prints each metric by name with its unit, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see BENCHMARK.json). Exits non-zero without a
result when the engine (``ophois_spark/``) is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ophois_spark", "__init__.py")):
        print(f"error: no ophois_spark/ under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import bench

    if args.workload not in bench.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(bench.WORKLOADS)}", file=sys.stderr)
        return 2

    res = bench.run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} {res.passes}")
    print(f"fail_frac = {res.failed / res.attempted:.4f} ({res.failed} of {res.attempted} attempted)")
    for name, (value, unit) in res.metrics.items():
        print(f"{name:28s} {value:16.6f} {unit}")
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in res.metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
