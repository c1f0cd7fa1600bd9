"""One benchmark process: set up a session, then run one workload.

    python3 perfbench/worker.py --mode timed --workload query_floor \
        --inputs .perfbench/inputs/seed-7 --scratch .perfbench/run \
        --seconds 6 --out result.json

Modes:

* ``setup``  — measure set-up only (import, session, registry), stop;
* ``timed``  — cold pass, warm-up passes (the first is the query gate), then a
  fixed number of timed warm passes (``--seconds`` over a nominal
  pass time, see ``workloads.timed_passes``); no instrumentation;
* ``traced`` — the same passes with the tracing layer installed; it
  reports the per-layer split instead of end-to-end metrics.

``run.py`` starts this script; it is not meant to be run by hand
except when debugging. The result is written as JSON to ``--out``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import workloads as W  # noqa: E402
from common import percentile  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- gate


def _normalize(value):
    """Make Spark and DuckDB cells comparable (the normalization of the
    engine's oracle-parity tests)."""
    import datetime
    import decimal

    if isinstance(value, decimal.Decimal):
        return float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value + 0.0, 9)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    return value


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((v is not None, str(v)) for v in r))


def oracle_mismatch(df, sql: str, duck) -> str | None:
    """None when ``df`` equals the oracle's result, else a reason."""
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    a, b = _canonical(cols, rows), _canonical(dcols, drows)
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"{bad} rows differ" if bad else None


def duck_over(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in W.FIXTURE_TABLES:
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def stream_mismatch(sink_dir: str, expected: dict) -> tuple[str | None, int]:
    """Compare the final line-protocol point of every window with the
    generator's own aggregate. Returns (reason or None, lines read)."""
    final: dict[str, dict] = {}
    n_lines = 0
    for path in sorted(os.listdir(sink_dir)):
        with open(os.path.join(sink_dir, path)) as fh:
            for line in fh:
                n_lines += 1
                head, fields, ts = line.rstrip("\n").split(" ")
                final[ts] = {
                    k: float(v) for k, v in (f.split("=") for f in fields.split(","))
                }
    want = expected["windows"]
    if set(final) != set(want):
        return f"{len(final)} windows written, {len(want)} expected", n_lines
    for ts, exp in want.items():
        got = final[ts]
        if got["sample_count"] != exp["sample_count"]:
            return f"window {ts}: count {got['sample_count']} != {exp['sample_count']}", n_lines
        for k, v in exp.items():
            if not math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-9):
                return f"window {ts}: {k} {got[k]} != {v}", n_lines
    return None, n_lines


# ------------------------------------------------------------ workloads


class Run:
    def __init__(self, args, spark, queries, oracles, tracer):
        self.args = args
        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_timed = W.timed_passes(args.workload, args.seconds)

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {reason}")
        log(f"FAILED {what}: {reason}")

    # -- query workloads -------------------------------------------------

    def query_pass(self, sf_dir: str, order: list[str], gate=None) -> tuple[float, list[dict]]:
        """One pass over ``order``. Returns (wall, per-query trace
        records)."""
        records = []
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            rec: dict = {"query": name}
            try:
                if self.tracer is not None:
                    rec.update(self.tracer.before())
                df = self.queries[name](self.spark, sf_dir)
                if self.tracer is not None:
                    rec.update(self.tracer.after_construct())
                    rec.update(self.tracer.plan(df))
                if gate is not None:
                    reason = oracle_mismatch(df, self.oracles[name], gate)
                    if reason:
                        self.fail(name, reason)
                else:
                    df.write.format("noop").mode("overwrite").save()
                if self.tracer is not None:
                    rec.update(self.tracer.after_exec())
            except Exception as ex:  # a failing query counts; the run goes on
                traceback.print_exc()
                self.fail(name, repr(ex)[:300])
            records.append(rec)
        return time.perf_counter() - t_pass, records

    def run_queries(self) -> dict:
        query_dir = os.path.join(self.args.inputs, "query")
        with open(os.path.join(query_dir, "order.json")) as fh:
            orders = json.load(fh)
        copies = [os.path.join(query_dir, f"pass-{p:02d}") for p in range(W.QUERY_COPIES)]
        first, _ = self.query_pass(copies[0], list(W.QUERY_FLOOR))
        warmup = W.WARMUP_PASSES["query_floor"]
        for p in range(warmup):
            gate = duck_over(copies[1 + p]) if p == 0 else None
            self.query_pass(copies[1 + p], orders[p], gate=gate)
            if gate is not None:
                gate.close()
        passes, recs = [], []
        for p in range(1 + warmup, 1 + warmup + self.n_timed):
            wall, rec = self.query_pass(copies[p], orders[p - 1])
            passes.append(wall)
            recs.append(rec)
        return {
            "first_pass_s": first,
            "passes": passes,
            # A query pass is the batch: the median single-query wall
            # landed on one query (the Python-worker one) and moved
            # with it by over a quarter between runs.
            "ops": passes,
            "msgs_per_s": [len(W.QUERY_FLOOR) / p for p in passes],
            "trace": recs,
        }

    # -- weather stream --------------------------------------------------

    def drain(self, tag: str, expected: dict) -> dict:
        from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query
        from ibd_pipeline_spark.streaming.sinks import file_line_writer, influx_foreach_batch

        base = os.path.join(self.args.scratch, "stream", tag)
        shutil.rmtree(base, ignore_errors=True)
        sink_dir = os.path.join(base, "sink")
        src = os.path.join(self.args.inputs, "stream", "files")
        self.attempted += 1
        rec: dict = {}
        t = time.perf_counter()
        try:
            if self.tracer is not None:
                rec.update(self.tracer.before())
            handler = influx_foreach_batch(
                W.STREAM_MEASUREMENT,
                W.STREAM_TAGS,
                list(W.STREAM_FIELDS),
                lambda: file_line_writer(sink_dir),
            )
            if self.tracer is not None:
                handler = self.tracer.wrap_sink(handler)
            raw = file_json_source(self.spark, src, max_files_per_trigger=1)
            query = run_weather_query(
                raw,
                os.path.join(base, "checkpoint"),
                foreach_batch=handler,
                trigger_available_now=True,
            )
            if self.tracer is not None:
                rec.update(self.tracer.after_construct())
            query.awaitTermination()
            wall = time.perf_counter() - t
            if self.tracer is not None:
                rec.update(self.tracer.after_exec())
            progress = [json.loads(p.json) for p in query.recentProgress]
        except Exception as ex:  # a failing drain counts; the run goes on
            traceback.print_exc()
            self.fail(f"drain {tag}", repr(ex)[:300])
            return {"wall": time.perf_counter() - t, "batches": [], "progress": [], "trace": rec}
        rows = sum(p["numInputRows"] for p in progress)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        reason, n_lines = stream_mismatch(sink_dir, expected)
        if rows != expected["messages"]:
            reason = f"{rows} rows read, {expected['messages']} written"
        elif dropped:
            reason = f"{dropped} rows dropped as late"
        if reason:
            self.fail(f"drain {tag}", reason)
        rec["sink_lines"] = n_lines
        return {
            "wall": wall,
            "batches": [p["batchDuration"] / 1000.0 for p in progress if p["numInputRows"]],
            "progress": progress,
            "trace": rec,
        }

    def run_stream(self) -> dict:
        with open(os.path.join(self.args.inputs, "stream", "expected.json")) as fh:
            expected = json.load(fh)
        first = self.drain("cold", expected)
        for p in range(W.WARMUP_PASSES["weather_stream"]):
            self.drain(f"warm{p}", expected)
        drains = [self.drain(f"timed{p}", expected) for p in range(self.n_timed)]
        return {
            "first_pass_s": first["wall"],
            "passes": [d["wall"] for d in drains],
            "ops": [b for d in drains for b in d["batches"]],
            "msgs_per_s": [expected["messages"] / d["wall"] for d in drains],
            "drains": drains,
        }


GC_ROUNDS = 8


def jvm_retained_mb(spark) -> float:
    """Driver heap in use once the garbage is gone. Python's cyclic
    garbage is collected first, because py4j proxies waiting in it pin
    their JVM objects (up to 15 MB at the end of a query run); the JVM
    then needs about three full collections to settle, so it gets
    GC_ROUNDS and the lowest reading is kept."""
    import gc

    gc.collect()
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark process")
    ap.add_argument("--mode", choices=("setup", "timed", "traced"), required=True)
    ap.add_argument("--workload", choices=W.WORKLOADS, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = None
    if args.mode == "traced":
        from tracing import Tracer

        tracer = Tracer(os.path.join(args.scratch, "eventlog"))
        tracer.install_py4j()

    t_import = time.perf_counter()
    from ibd_pipeline_spark.session import get_spark  # imports the registry too

    t_session = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf=tracer.spark_conf() if tracer else None,
    )
    t_registry = time.perf_counter()
    from ibd_pipeline_spark.queries import all_oracles, all_queries

    queries = all_queries()
    t_ready = time.perf_counter()
    result = {
        "setup_s": t_ready - T0,
        "session.start_s": t_registry - t_session,
        "registry.import_s": (t_session - t_import) + (t_ready - t_registry),
    }
    try:
        if args.mode != "setup":
            if tracer is not None:
                tracer.install_catalog()
            run = Run(args, spark, queries, all_oracles(), tracer)
            body = run.run_stream() if args.workload == "weather_stream" else run.run_queries()
            result.update(body)
            result["jvm_retained_mb"] = jvm_retained_mb(spark)
            result.update(attempted=run.attempted, failed=run.failed, errors=run.errors)
    finally:
        spark.stop()
    if tracer is not None:
        result["layers"] = tracer.summarize(args.workload, result)
    if args.mode != "setup":
        ops = result["ops"]
        result["batch_p50_s"] = statistics.median(ops)
        result["batch_tail_s"] = percentile(ops, W.TAIL_PERCENTILE)
        result["n_ops"] = len(ops)
        result["n_passes"] = len(result["passes"])
    for key in ("trace", "drains"):
        result.pop(key, None)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
