"""Traced-run report for one workload and seed.

    python3 perfbench/report.py --workload query_floor --seed 3 --out trace.jsonl

Makes one timed run and two traced runs of the same seed (or reads
them from ``--out`` when they are already there) and prints:

* the per-layer table of both traced runs;
* the tracing overhead: traced minus untraced ``pass_s``;
* whether the per-layer split (construction + Catalyst optimization
  and planning + execution) sums to within 5 % of the traced pass wall;
* whether the count metrics repeat exactly across the two traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from collect import run_once  # noqa: E402
from common import benchmark_spec, read_jsonl  # noqa: E402

EXACT = (
    "construct.py4j_calls",
    "construct.jobs",
    "exec.jobs",
    "exec.stages",
    "stream.batches",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="JSON-lines file of runs (read, appended to)")
    args = ap.parse_args()
    spec = benchmark_spec()
    have = read_jsonl(args.out) if os.path.exists(args.out) else []
    mine = [r for r in have if r["workload"] == args.workload and r["seed"] == args.seed and r.get("result")]
    timed = [r for r in mine if r["trace"] == 0][:1]
    traced = [r for r in mine if r["trace"] == 1][:2]
    for trace, runs, need in ((0, timed, 1), (1, traced, 2)):
        while len(runs) < need:
            rec = run_once(args.workload, args.seed, spec["run_seconds"], trace)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            if not rec["result"]:
                print(f"run failed: {args.workload} seed {args.seed} trace {trace}")
                return 1
            runs.append(rec)

    a, b = (r["result"]["metrics"] for r in traced)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    print(f"{args.workload}, seed {args.seed}: per-layer medians over the timed passes of each traced run")
    print(f"  {'metric':28} {'unit':>6} {'traced #1':>12} {'traced #2':>12}")
    for name in a:
        print(f"  {name:28} {units[name]:>6} {a[name]['value']:12.4f} {b[name]['value']:12.4f}")

    untraced = timed[0]["result"]["metrics"]["pass_s"]["value"]
    traced_pass = (a["traced.pass_s"]["value"] + b["traced.pass_s"]["value"]) / 2
    print(f"\ntracing overhead: traced pass {traced_pass:.3f} s - untraced pass {untraced:.3f} s "
          f"= {traced_pass - untraced:+.3f} s ({(traced_pass - untraced) / untraced:+.1%})")

    ok = True
    for r in (a, b):
        share = r["traced.layer_sum_share"]["value"]
        good = abs(share - 1.0) <= 0.05
        ok &= good
        print(f"layer split / traced pass wall = {share:.3f}  {'within 5 %' if good else 'OFF BY MORE THAN 5 %'}")
    for name in EXACT:
        same = a[name]["value"] == b[name]["value"]
        ok &= same
        print(f"{name:22} {a[name]['value']:>10} {b[name]['value']:>10}  {'exact' if same else 'DIFFERS'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
