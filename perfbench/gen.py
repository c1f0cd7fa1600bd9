"""Seeded input generator for the benchmark.

    python3 perfbench/gen.py --seed 7 --workload query_floor --out .perfbench/inputs

Writes, under ``<out>/seed-<n>/``, what the workload needs:

* ``query/pass-NN/`` — fresh copies of the sf0.01 fixture tables the
  queries read (``perfbench/fixture/``), one directory per query pass,
  so no pass hits a cache filled by another; ``query/order.json`` —
  the query order of each pass after the cold one, drawn from the seed;
* ``stream/files/`` — the weather backlog as JSON-line files, each
  message built by the engine's own feeder
  (``sources.weather_sim.weather_message``) with its event time
  displaced by a seeded jitter, plus ``stream/expected.json``: the
  generator's own per-window aggregates, against which the sink output
  is checked.

The same seed gives byte-identical inputs. Only one seed is kept: a new
seed replaces the previous one. Runs in its own process before any
timed process starts; it does not start Spark.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads as W  # noqa: E402


def make_queries(seed: int, out_dir: str) -> None:
    fixture = os.path.join(HERE, W.FIXTURE_DIR)
    for p in range(W.QUERY_COPIES):
        copy = os.path.join(out_dir, f"pass-{p:02d}")
        os.makedirs(copy)
        for name in W.FIXTURE_TABLES:
            shutil.copyfile(
                os.path.join(fixture, f"{name}.parquet"), os.path.join(copy, f"{name}.parquet")
            )
    rng = random.Random(seed)
    orders = [rng.sample(W.QUERY_FLOOR, len(W.QUERY_FLOOR)) for _ in range(W.QUERY_COPIES - 1)]
    with open(os.path.join(out_dir, "order.json"), "w") as fh:
        json.dump(orders, fh)


def _window_aggregates(rows: list[dict]) -> dict:
    """The pipeline's aggregates for one window, computed directly."""
    temp = [r["temperature"]["value"] for r in rows]
    n = len(temp)
    mean_t = math.fsum(temp) / n
    sd = math.sqrt(math.fsum((x - mean_t) ** 2 for x in temp) / (n - 1)) if n > 1 else 0.0

    def avg(vals):
        return math.fsum(vals) / n

    return {
        "avg_temperature_c": mean_t,
        "avg_apparent_temperature_c": avg(r["temperature"]["apparent"] for r in rows),
        "temperature_stddev": sd,
        "avg_wind_speed_kmph": avg(r["wind"]["speed"] for r in rows),
        "max_wind_gust_kmph": max(r["wind"]["gusts"] for r in rows),
        "avg_pressure_hpa": avg(r["atmosphere"]["pressure_msl"] for r in rows),
        "avg_humidity_pct": avg(r["humidity"]["value"] for r in rows),
        "total_precipitation_mm": avg(r["precipitation"]["total"] for r in rows),
        "sample_count": float(n),
    }


def make_stream(seed: int, out_dir: str) -> None:
    from ibd_pipeline_spark.sources.weather_sim import weather_message

    rng = random.Random(seed)
    m = W.STREAM_MSGS_PER_FILE
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    windows: dict[int, list[dict]] = {}
    os.makedirs(out_dir)
    for f in range(W.STREAM_FILES):
        lines = []
        for i in range(f * m, (f + 1) * m):
            jitter = rng.randint(-W.STREAM_JITTER_S, W.STREAM_JITTER_S)
            t = t0 + dt.timedelta(seconds=i + jitter)
            msg = weather_message(t, i, rng)
            lines.append(json.dumps(msg, separators=(",", ":")))
            epoch = int(t.replace(tzinfo=dt.timezone.utc).timestamp())
            win_end = (epoch // W.STREAM_WINDOW_S + 1) * W.STREAM_WINDOW_S
            windows.setdefault(win_end, []).append(msg["current_conditions"])
        with open(os.path.join(out_dir, f"batch-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    expected = {
        str(end * 10**9): _window_aggregates(rows) for end, rows in sorted(windows.items())
    }
    meta = {"messages": W.STREAM_FILES * m, "files": W.STREAM_FILES, "windows": expected}
    with open(os.path.join(os.path.dirname(out_dir), "expected.json"), "w") as fh:
        json.dump(meta, fh)


def generate(seed: int, out_root: str, workload: str) -> str:
    """Write the inputs ``workload`` needs for ``seed`` unless they are
    already cached; return the seed's directory."""
    target = os.path.join(out_root, f"seed-{seed}")
    done = os.path.join(target, f"DONE-{workload}")
    if os.path.exists(done):
        return target
    if os.path.isdir(out_root):
        for old in os.listdir(out_root):
            if old != f"seed-{seed}":
                shutil.rmtree(os.path.join(out_root, old))
    if workload == "weather_stream":
        shutil.rmtree(os.path.join(target, "stream"), ignore_errors=True)
        make_stream(seed, os.path.join(target, "stream", "files"))
    else:
        shutil.rmtree(os.path.join(target, "query"), ignore_errors=True)
        make_queries(seed, os.path.join(target, "query"))
    with open(done, "w") as fh:
        fh.write(f"{seed}\n")
    return target


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    args = ap.parse_args()
    print(generate(args.seed, args.out, args.workload))


if __name__ == "__main__":
    main()
