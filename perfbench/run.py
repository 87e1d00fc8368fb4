"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. Prints a detail
line (host fingerprint, plan record, samples) and, as the last line of
standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. ``--smoke`` runs the sf0.01-sized inputs used by the
benchmark's own tests. Exits non-zero, printing no result, when the
engine sources are not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = ("s2js_spark/spark/tagjoin.py", "__spark_entry__.py")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Spark's Python workers import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from perfbench import harness, host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    metrics, detail, attempted, failed = harness.run(
        args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, work
    )
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "smoke": args.smoke, "host": host.fingerprint(ROOT, detail.pop("java")),
              "topology": f"local[{host.nproc()}]", **detail}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
