"""The benchmark's single command.

    python3 perfbench/run.py --workload query_floor --seed 7 --seconds 6 --trace 0

Run from the root of a checkout of the engine. One run:

1. generates the seed's inputs in a separate process (``gen.py``);
2. measures set-up time in a fresh process that only sets up and
   stops (``setup_s`` is the median of its set-up and the worker's);
3. runs the workload in one more fresh process (``worker.py``): a cold
   pass, untimed warm-up passes (the first is also the query
   correctness gate), then a fixed number of timed warm passes set
   by ``--seconds`` (``--trace 0``), or the same passes with tracing
   installed (``--trace 1``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it, prefixed ``box:``, records the machine the run saw; it is
never used to rescale a metric. Exits non-zero, printing no result,
when the engine is not there or a process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import box  # noqa: E402
import workloads as W  # noqa: E402
from common import ROOT, WORK, benchmark_spec  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_PROBES = 1
# A whole run must end within 180 s; children share this budget.
RUN_BUDGET_S = 170


def child_env() -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)  # leftovers of a killed run
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(min(W.SPARK_CORES, box.nproc())),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        TMPDIR=tmp,
        # Keep the JVM's temp files in the checkout; -UsePerfData stops
        # it writing /tmp/hsperfdata_<user>.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONHASHSEED="0",
    )
    return env


def _reap_group(pgid: int) -> None:
    """Kill what is left of a process group (a JVM outliving its
    Python parent) and wait until the group is empty."""
    try:
        os.killpg(pgid, signal.SIGKILL)
        while True:
            time.sleep(0.05)
            os.killpg(pgid, 0)
    except ProcessLookupError:
        pass


def run_child(cmd: list[str], env: dict[str, str], deadline: float) -> None:
    """Run ``cmd`` in its own process group until ``deadline``
    (monotonic); on the way out kill whatever the group still holds."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap_group(proc.pid)
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"{'timed out' if rc is None else f'exit {rc}'}: {' '.join(cmd)}")


def worker(mode: str, args, inputs: str, env: dict[str, str], deadline: float) -> dict:
    scratch = os.path.join(WORK, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    fd, out = tempfile.mkstemp(suffix=".json", dir=env["TMPDIR"])
    os.close(fd)
    try:
        run_child(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--mode", mode,
                "--workload", args.workload,
                "--inputs", inputs,
                "--scratch", scratch,
                "--seconds", str(args.seconds),
                "--out", out,
            ],
            env,
            deadline,
        )
        with open(out) as fh:
            return json.load(fh)
    finally:
        os.unlink(out)


def end_to_end(res: dict, setups: list[float]) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setups),
        "first_pass_s": res["first_pass_s"],
        "pass_s": statistics.median(res["passes"]),
        "msgs_per_s": statistics.median(res["msgs_per_s"]),
        "batch_p50_s": res["batch_p50_s"],
        "batch_tail_s": res["batch_tail_s"],
        "jvm_retained_mb": res["jvm_retained_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ibd_pipeline_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    spec = benchmark_spec()
    env = child_env()
    before = box.snapshot()
    try:
        gen_out = os.path.join(WORK, "inputs")
        gen = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed),
               "--workload", args.workload, "--out", gen_out]
        run_child(gen, env, deadline)
        inputs = os.path.join(gen_out, f"seed-{args.seed}")
        # setup_s is an end-to-end metric only; a traced run skips the probes.
        probes = 0 if args.trace else SETUP_PROBES
        setups = [worker("setup", args, inputs, env, deadline)["setup_s"] for _ in range(probes)]
        res = worker("traced" if args.trace else "timed", args, inputs, env, deadline)
    except RuntimeError as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 1
    setups.append(res["setup_s"])

    if args.trace:
        values = res["layers"]
        values["session.start_s"] = res["session.start_s"]
        values["registry.import_s"] = res["registry.import_s"]
        wanted = spec["per_layer"]
    else:
        values = end_to_end(res, setups)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = box.record(before, box.snapshot())
    record.update(
        setup_samples_s=setups, passes_s=res["passes"], n_passes=res["n_passes"], n_ops=res["n_ops"]
    )
    if res["errors"]:
        record["errors"] = res["errors"]
    print("box: " + json.dumps(record))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
