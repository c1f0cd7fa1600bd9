"""Instrumentation for the traced run. Nothing here is loaded by a
timed run.

Every number is taken from outside the engine, at the calls into its
layers:

* gateway commands — a wrapper on py4j's ``send_command``; memory
  deletes (``m d``, issued by Python's garbage collector) are not
  counted, so the count repeats exactly;
* ``catalog.load`` — every module binding of it is replaced by a timed
  wrapper once the registry is imported;
* jobs, stages, tasks, shuffle, spill and the Python-worker metrics —
  from an uncompressed, non-rolling Spark event log, attributed to a
  phase by the wall-clock window the job was submitted in;
* Catalyst phases — from the final DataFrame's ``QueryPlanningTracker``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict


class Py4jCounter:
    """Counts gateway commands sent by this Python process."""

    def __init__(self) -> None:
        self.count = 0

    def install(self) -> None:
        import py4j.clientserver as cs

        orig = cs.ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if not command.startswith("m\nd\n"):
                counter.count += 1
            return orig(conn, command, *args, **kwargs)

        cs.ClientServerConnection.send_command = send_command


class CatalogTimer:
    """Times and counts ``ibd_pipeline_spark.catalog.load``."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def install(self) -> None:
        import ibd_pipeline_spark.catalog as catalog

        orig = catalog.load
        timer = self

        def load(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                timer.calls += 1
                timer.seconds += time.perf_counter() - t

        # Builders bind ``load`` at import time, so rebind every copy.
        for name, mod in list(sys.modules.items()):
            if name.startswith("ibd_pipeline_spark") and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, load)


def event_log_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def catalyst_ms(df) -> dict[str, float]:
    """Phase durations of ``df``'s query planning tracker, in ms."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    out = {}
    for key in ("analysis", "optimization", "planning"):
        found = phases.get(key)
        out[key] = float(found.get().durationMs()) if found.isDefined() else 0.0
    return out


PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "boot_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}


def read_event_log(directory: str) -> dict:
    """Jobs (with their stages) and per-stage totals from the single
    event log in ``directory``."""
    paths = [p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"], "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                st["completed"] = 1
                for acc in info.get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key:
                        st[key] += float(acc.get("Value") or 0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    for sid, jid in stage_job.items():
        jobs[jid].setdefault("stages", []).append(sid)
    return {"jobs": jobs, "stages": stages}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Totals over the jobs submitted inside any of ``windows``
    (epoch-ms intervals)."""
    picked = [
        j
        for j in log["jobs"].values()
        if any(s <= j["start"] <= e for s, e in windows)
    ]
    out: dict[str, float] = defaultdict(float)
    out["jobs"] = len(picked)
    out["job_s"] = (
        _union_ms([(j["start"], j["end"] or j["start"]) for j in picked]) / 1000.0
    )
    for j in picked:
        for sid in j.get("stages", []):
            st = log["stages"].get(sid)
            if not st:
                continue
            out["stages"] += st.get("completed", 0)
            for k, v in st.items():
                if k != "completed":
                    out[k] += v
    return out


STREAM_KEYS = (
    "stream.batches",
    "stream.input_rows",
    "stream.add_batch_ms",
    "stream.query_planning_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.latest_offset_ms",
    "stream.get_batch_ms",
    "stream.state_rows",
    "stream.state_mb",
    "stream.late_dropped",
    "sink.s",
    "sink.lines",
)


STREAM_PHASES = (
    "stream.add_batch_ms",
    "stream.query_planning_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.latest_offset_ms",
    "stream.get_batch_ms",
)


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records each operation's construction and execution windows and
    turns them, with the event log, into the per-layer split."""

    def __init__(self, eventlog_dir: str) -> None:
        self.eventlog_dir = eventlog_dir
        self.py4j = Py4jCounter()
        self.catalog = CatalogTimer()
        self.sink_s = 0.0
        self._mark: dict = {}

    def install_py4j(self) -> None:
        self.py4j.install()

    def install_catalog(self) -> None:
        self.catalog.install()

    def spark_conf(self) -> dict[str, str]:
        shutil.rmtree(self.eventlog_dir, ignore_errors=True)
        return event_log_conf(self.eventlog_dir)

    def before(self) -> dict:
        self.sink_s = 0.0
        self._mark = {
            "perf": time.perf_counter(),
            "py4j": self.py4j.count,
            "cat_calls": self.catalog.calls,
            "cat_s": self.catalog.seconds,
        }
        return {"t0_ms": _now_ms()}

    def after_construct(self) -> dict:
        m = self._mark
        now = time.perf_counter()
        rec = {
            "t1_ms": _now_ms(),
            "construct_s": now - m["perf"],
            "py4j_calls": self.py4j.count - m["py4j"],
            "catalog_calls": self.catalog.calls - m["cat_calls"],
            "catalog_s": self.catalog.seconds - m["cat_s"],
        }
        m["perf"] = now
        return rec

    def plan(self, df) -> dict:
        """Optimize and plan ``df`` on its own QueryExecution, so its
        tracker holds all three Catalyst phases. The noop write then
        plans again; that repeat is part of the tracing overhead."""
        df._jdf.queryExecution().executedPlan()
        rec = {"t1p_ms": _now_ms(), "catalyst": catalyst_ms(df)}
        self._mark["perf"] = time.perf_counter()
        return rec

    def after_exec(self) -> dict:
        return {
            "t2_ms": _now_ms(),
            "exec_wall_s": time.perf_counter() - self._mark["perf"],
            "sink_s": self.sink_s,
        }

    def wrap_sink(self, handler):
        def timed(batch_df, batch_id):
            t = time.perf_counter()
            try:
                handler(batch_df, batch_id)
            finally:
                self.sink_s += time.perf_counter() - t

        return timed

    # -- summary --------------------------------------------------------

    def _query_pass(self, log: dict, wall: float, recs: list[dict]) -> dict:
        recs = [r for r in recs if "t2_ms" in r]
        cons = jobs_in(log, [(r["t0_ms"], r["t1_ms"]) for r in recs])
        exe = jobs_in(log, [(r["t1p_ms"], r["t2_ms"]) for r in recs])
        every = jobs_in(log, [(r["t0_ms"], r["t2_ms"]) for r in recs])
        cat = {k: sum(r["catalyst"][k] for r in recs) for k in ("analysis", "optimization", "planning")}
        out = {
            "construct.s": sum(r["construct_s"] for r in recs),
            "construct.py4j_calls": sum(r["py4j_calls"] for r in recs),
            "construct.jobs": cons["jobs"],
            "construct.job_s": cons["job_s"],
            "catalog.load_calls": sum(r["catalog_calls"] for r in recs),
            "catalog.load_s": sum(r["catalog_s"] for r in recs),
            "catalyst.analysis_ms": cat["analysis"],
            "catalyst.optimization_ms": cat["optimization"],
            "catalyst.planning_ms": cat["planning"],
        }
        out.update(_exec_metrics(exe, every))
        out["exec.s"] = sum(r["exec_wall_s"] for r in recs)
        # No stream and no sink in a query pass.
        out.update({k: 0 for k in STREAM_KEYS})
        # The split adds figures measured apart: construction wall
        # (analysis runs eagerly in it), the tracker's optimization and
        # planning, and the event log's job spans of the noop write.
        # Driver-side time outside those (the write planning the query
        # again, job submission, result handling) is not in it, so the
        # share can fall short of 1.
        catalyst_s = (cat["optimization"] + cat["planning"]) / 1000.0
        split = out["construct.s"] + catalyst_s + out["exec.job_s"]
        out["traced.pass_s"] = wall
        out["traced.layer_sum_share"] = split / wall
        return out

    def _drain(self, log: dict, drain: dict) -> dict:
        r = drain["trace"]
        progress = drain["progress"]
        window = [(r["t0_ms"], r["t2_ms"])]
        every = jobs_in(log, window)

        def dur(key: str) -> float:
            return float(sum(p["durationMs"].get(key, 0) for p in progress))

        ops = [op for p in progress[-1:] for op in p.get("stateOperators", [])]
        out = {
            "construct.s": r["construct_s"],
            "construct.py4j_calls": r["py4j_calls"],
            "construct.jobs": 0,
            "construct.job_s": 0.0,
            "catalog.load_calls": r["catalog_calls"],
            "catalog.load_s": r["catalog_s"],
            "catalyst.analysis_ms": 0.0,
            "catalyst.optimization_ms": 0.0,
            "catalyst.planning_ms": 0.0,
            "stream.batches": len(progress),
            "stream.input_rows": sum(p["numInputRows"] for p in progress),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
            "stream.state_mb": sum(op.get("memoryUsedBytes", 0) for op in ops) / 2**20,
            "stream.late_dropped": sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in progress
                for op in p.get("stateOperators", [])
            ),
            "sink.s": r["sink_s"],
            "sink.lines": r.get("sink_lines", 0),
        }
        out.update(_exec_metrics(every, every))
        out["exec.s"] = sum(p["batchDuration"] for p in progress) / 1000.0
        # The split adds the engine's own per-phase trigger timings to
        # the construction wall; batchDuration is not used, because
        # batches are back to back and would cover the drain by
        # construction.
        phases_s = sum(out[k] for k in STREAM_PHASES) / 1000.0
        split = out["construct.s"] + phases_s
        out["traced.pass_s"] = drain["wall"]
        out["traced.layer_sum_share"] = split / drain["wall"]
        return out

    def summarize(self, workload: str, result: dict) -> dict:
        """Per-layer metrics: the median over the timed passes of each
        pass's totals."""
        log = read_event_log(self.eventlog_dir)
        if workload == "weather_stream":
            per_pass = [self._drain(log, d) for d in result["drains"] if d["progress"]]
        else:
            per_pass = [
                self._query_pass(log, wall, recs)
                for wall, recs in zip(result["passes"], result["trace"])
            ]
        return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def _exec_metrics(exe: dict, every: dict) -> dict:
    mb = 2**20
    return {
        "exec.job_s": exe["job_s"],
        "exec.jobs": exe["jobs"],
        "exec.stages": int(exe["stages"]),
        "exec.tasks": int(exe["tasks"]),
        "exec.task_cpu_s": exe["cpu_ns"] / 1e9,
        "exec.gc_s": exe["gc_ms"] / 1000.0,
        "exec.shuffle_write_mb": exe["shuffle_write"] / mb,
        "exec.shuffle_read_mb": exe["shuffle_read"] / mb,
        "exec.spill_mb": exe["spill"] / mb,
        "arrow.python_s": every["python_ms"] / 1000.0,
        "arrow.worker_start_s": every["boot_ms"] / 1000.0,
        "arrow.mb_sent": every["sent_bytes"] / mb,
        "arrow.mb_returned": every["returned_bytes"] / mb,
    }
