"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Builds (or reuses) the seeded inputs,
runs the named workload as a closed loop with one client for S seconds,
checks the outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1).  Progress and details go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("outliertree_spark/__init__.py", "outliertree_spark/session.py",
            "scripts/run_validate.py", "BENCHMARK.json")


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED
               if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"benchmark needs the program's sources; missing: {missing}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import common, gen
    common.become_subreaper()
    # temp files of earlier runs (warm-up parquet, package zips)
    shutil.rmtree(os.path.join(common.WORK, "tmp"), ignore_errors=True)
    os.environ.update(common.child_env())
    inputs = gen.ensure_inputs(common.WORK, args.workload, args.seed)
    print(f"inputs: {inputs['tables']} (generation {inputs['gen_s']:.1f}s)",
          file=sys.stderr)
    if args.workload == "validate_steady":
        from perfbench import validate_steady as wl
    else:
        from perfbench import cli_snapshot as wl
    res = wl.run(inputs, args.seconds, bool(args.trace))
    if args.trace:
        res["layer"]["host.membw_gbps"] = common.membw_gbps(common.cpus())
    common.reap_children()

    for e in res["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print("op seconds: " + " ".join(f"{o['s']:.3f}" for o in res["ops"]),
          file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layer"] if args.trace else res["metrics"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": not res["errors"],
                      "attempted": len(res["ops"]),
                      "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
