"""Compare two result sets written by ``collect.py``.

    python3 perfbench/compare.py parent.jsonl change.jsonl

For each workload and end-to-end metric it prints both sides' median
and quartiles, the change of the median, and the paired win share:
runs of the same workload and seed are paired, and a pair is a win
when the change is better in the metric's direction (ties count for
neither side). The verdict follows the rule in the metrics guide:

* ``worse``       — the change's median is worse than the parent's by
  more than the metric's bound;
* ``failing``     — otherwise, when the change fails a larger share of
  its operations, or loses more runs, than the parent: a failing query
  or drain ends early, so it would read as a speed-up;
* ``gain``        — the change wins at least 9 of 10 pairs and the
  medians differ by more than the parent's own quartile distance;
* ``unresolved``  — the parent's own spread is wider than the bound;
* ``flat``        — otherwise.

Traced runs (``--trace 1``) in both files add a per-layer table: the
median of every per-layer metric on each side and the change, so a
saving can be located in a layer.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import benchmark_spec, quartiles, read_jsonl  # noqa: E402


def _values(records: list[dict], workload: str, trace: int) -> dict[int, dict]:
    """seed -> metric values, for successful runs."""
    out = {}
    for r in records:
        if r["workload"] == workload and r["trace"] == trace and r.get("result"):
            out[r["seed"]] = {k: v["value"] for k, v in r["result"]["metrics"].items()}
    return out


def _failures(records: list[dict], workload: str) -> tuple[int, int, int]:
    """(failed operations, attempted operations, runs without a result)
    over the timed runs of ``workload``."""
    failed = attempted = lost = 0
    for r in records:
        if r["workload"] != workload or r["trace"] != 0:
            continue
        if not r.get("result"):
            lost += 1
            continue
        failed += r["result"]["failed"]
        attempted += r["result"]["attempted"]
    return failed, attempted, lost


def _pct(new: float, old: float) -> str:
    return f"{(new - old) / old * 100:+7.1f}%" if old else "    n/a"


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"


def compare_end_to_end(parent: list[dict], change: list[dict], workload: str) -> None:
    spec = benchmark_spec()
    p, c = _values(parent, workload, 0), _values(change, workload, 0)
    seeds = sorted(set(p) & set(c))
    print(f"\n{workload}: {len(p)} parent runs, {len(c)} change runs, {len(seeds)} pairs")
    pf, cf = _failures(parent, workload), _failures(change, workload)
    print(f"  failed operations: parent {pf[0]}/{pf[1]}, change {cf[0]}/{cf[1]}; "
          f"runs without a result: parent {pf[2]}, change {cf[2]}")
    # A change that fails more often cannot claim a gain: a failing
    # operation ends early and makes its pass shorter.
    more_failures = cf[0] * max(pf[1], 1) > pf[0] * max(cf[1], 1) or cf[2] > pf[2]
    if more_failures:
        print("  the change fails more operations than the parent, so no metric can read `gain`")
    if not p or not c:
        return
    print(f"  {'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'delta':>8} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        pv = [v[name] for v in p.values()]
        cv = [v[name] for v in c.values()]
        pq, cq = quartiles(pv), quartiles(cv)
        wins = ties = 0
        for s in seeds:
            a, b = p[s][name], c[s][name]
            if a == b:
                ties += 1
            elif (b > a) == higher:
                wins += 1
        decided = len(seeds) - ties
        share = wins / decided if decided else 0.0
        worse = (pq[1] - cq[1]) / pq[1] if higher else (cq[1] - pq[1]) / pq[1]
        if worse > m["bound"]:
            verdict = "worse"
        elif more_failures:
            verdict = "failing"
        elif decided and share >= 0.9 and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
            verdict = "gain"
        elif (pq[2] - pq[0]) / pq[1] > m["bound"]:
            verdict = "unresolved"
        else:
            verdict = "flat"
        print(f"  {name:16} {_fmt(pq):>30} {_fmt(cq):>30} {_pct(cq[1], pq[1])} "
              f"{share:6.0%}  {verdict}")


def compare_layers(parent: list[dict], change: list[dict], workload: str) -> None:
    p, c = _values(parent, workload, 1), _values(change, workload, 1)
    if not p or not c:
        return
    print(f"\n{workload} per layer: {len(p)} parent / {len(c)} change traced runs (medians)")
    for name in next(iter(p.values())):
        a = statistics.median(v[name] for v in p.values())
        b = statistics.median(v[name] for v in c.values())
        if a or b:
            print(f"  {name:28} {a:14.4f} {b:14.4f} {_pct(b, a)}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    parent, change = read_jsonl(args.parent), read_jsonl(args.change)
    for w in [w["name"] for w in benchmark_spec()["workloads"]]:
        compare_end_to_end(parent, change, w)
        compare_layers(parent, change, w)


if __name__ == "__main__":
    main()
