#!/usr/bin/env python
"""Optimization measurement harness.

Times named queries (noop sink, N runs each, min reported) at
$SPARK_GRAFT_SF_DIR with bench.py's timing core, and optionally dumps
`explain("formatted")` to plans/<query>_<tag>.txt.

    python tools/opt_measure.py --tag before --runs 3 q1_pricing_summary ...
    python tools/opt_measure.py --top 40 --tag before    # slowest 40 per BENCH_COMMITTED
    python tools/opt_measure.py --runs 3 <names...>      # time only, no plan dump

Prints one JSON line {name: sec} at the end.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SF_DIR, plan_text, time_noop, warm  # noqa: E402

PLANS = REPO / "plans"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default=None, help="dump plans/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0,
                    help="add the N slowest queries per BENCH_COMMITTED.json")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        committed = json.loads((REPO / "BENCH_COMMITTED.json").read_text())[
            "queries"
        ]
        ranked = sorted(committed, key=lambda n: -committed[n])
        for n in ranked[: args.top]:
            if n not in names:
                names.append(n)

    from ibd_pipeline_spark.queries import all_queries
    from ibd_pipeline_spark.session import get_spark

    spark = get_spark(app_name="opt-measure")
    registry = all_queries()
    warm(spark, registry)

    if args.tag:
        PLANS.mkdir(parents=True, exist_ok=True)

    timings: dict[str, float] = {}
    for name in names:
        fn = registry[name]
        if args.tag:
            (PLANS / f"{name}_{args.tag}.txt").write_text(
                plan_text(fn(spark, SF_DIR))
            )
        spark.sparkContext.setJobDescription(f"opt:{name}")
        rs = time_noop(lambda: fn(spark, SF_DIR), args.runs)
        timings[name] = min(rs)
        print(f"  {name}: {min(rs)} {rs}", file=sys.stderr)
    print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
