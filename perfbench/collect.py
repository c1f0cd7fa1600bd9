"""Run the benchmark over several seeds and keep every result.

    python3 perfbench/collect.py --out parent.jsonl --seeds 1-10
    python3 perfbench/collect.py --out change.jsonl --seeds 1-10 --workload weather_stream --trace 1

Each run of ``run.py`` becomes one JSON line: workload, seed, trace
flag, the run's box record and its result. At the end it prints, per
workload and metric, the median, the quartiles and the spread
(interquartile distance as a share of the median) with the metric's
bound from BENCHMARK.json. Feed two such files to ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import ROOT, benchmark_spec, quartiles, read_jsonl, spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
                "exit": proc.returncode, "result": None}
    box = next((json.loads(x[5:]) for x in lines if x.startswith("box: ")), None)
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "exit": 0, "box": box, "result": json.loads(lines[-1])}


def summarize(records: list[dict]) -> None:
    spec = benchmark_spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    groups: dict[tuple, list[dict]] = {}
    for r in records:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    for (workload, trace), recs in sorted(groups.items()):
        ok = [r for r in recs if r["result"]]
        walls = [r["wall_s"] for r in recs]
        print(f"\n{workload} trace={trace}: {len(ok)}/{len(recs)} runs ok, "
              f"correct {sum(r['result']['correct'] for r in ok)}, "
              f"run wall median {sorted(walls)[len(walls) // 2]:.1f} s, max {max(walls):.1f} s")
        if not ok:
            continue
        print(f"  {'metric':28} {'q1':>11} {'median':>11} {'q3':>11} {'spread':>8} {'bound':>6}")
        for name in ok[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            q1, q2, q3 = quartiles(vals)
            sp = spread(vals) if q2 else 0.0
            bound = bounds.get(name)
            flag = "" if bound is None else ("  OK" if sp <= bound / 3 else ("  <bound" if sp <= bound else "  OVER"))
            print(f"  {name:28} {q1:11.4f} {q2:11.4f} {q3:11.4f} {sp:8.3f} "
                  f"{'' if bound is None else bound:>6}{flag}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="JSON-lines file to append to")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = benchmark_spec()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    for seed in parse_seeds(args.seeds):
        for w in workloads:
            rec = run_once(w, seed, spec["run_seconds"], args.trace)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"{w} seed={seed} wall={rec['wall_s']:.1f}s exit={rec['exit']}", flush=True)
    summarize(read_jsonl(args.out))


if __name__ == "__main__":
    main()
