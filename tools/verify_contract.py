#!/usr/bin/env python
"""Drive the driver contract end-to-end: run entry(), then execute
named queries (or every oracle-backed query) through BOTH engines —
the Spark DataFrame from __spark_entry__.queries() and the DuckDB SQL
from oracle_sql() — and compare with the driver's normalization
(columns sorted by name, rows sorted, floats rounded at 1e-9,
dates/timestamps collapsed to their date-or-instant string).

    python tools/verify_contract.py                 # entry() + 8-query sample
    python tools/verify_contract.py q1_pricing_summary stats_ks_two_sample
    python tools/verify_contract.py --all           # every oracle pair
    SPARK_GRAFT_VERIFY_SF=/root/testdata/sf0.001 python tools/verify_contract.py

Exit code 0 only if everything matches. This is the /verify skill's
workhorse (".claude/skills/verify/SKILL.md").
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# the default quick sample: one representative per major family
SAMPLE = [
    "q1_pricing_summary",
    "join_star_broadcast",
    "events_tumbling_window",
    "dedup_exact",
    "text_token_stats",
    "train_pack_sequences",
    "quality_expectations_audit",
    "stats_ks_two_sample",
]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if isinstance(v, datetime.datetime):
        v = v.replace(tzinfo=None)
        # DuckDB's fetch_df materializes DATE as midnight datetime64;
        # collapse midnight instants to the date string so the two
        # engines' date spellings compare equal (the driver's
        # canonicalizer does the same through its dtype kinds)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    try:  # numpy scalars from duckdb's fetch_df
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return _norm(float(v))
        if isinstance(v, np.bool_):
            return bool(v)
    except ImportError:
        pass
    return v


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from ibd_pipeline_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    run_all = "--all" in sys.argv[1:]

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    n_entry = len(entry_mod.entry(spark).collect())
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    print(f"entry(): {n_entry} rows | registry {len(queries)} | oracles {len(oracles)}")

    names = args or (list(oracles) if run_all else [n for n in SAMPLE if n in oracles])
    failures = []
    for name in names:
        try:
            sdf = queries[name](spark, SF)
            scols = sorted(sdf.columns)
            srows = sorted(
                (tuple(_norm(r[c]) for c in scols) for r in sdf.collect()),
                key=_key,
            )
            if name in oracles:
                # fetchall(), NOT fetch_df(): pandas coerces SQL NULL
                # to NaN/NaT and widens ints to float64 — native
                # Python objects compare cleanly
                cur = con.execute(oracles[name])
                raw_cols = [d[0] for d in cur.description]
                order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
                ocols = [raw_cols[i] for i in order]
                orows = sorted(
                    (tuple(_norm(r[i]) for i in order) for r in cur.fetchall()),
                    key=_key,
                )
                ok = scols == ocols and [_key(r) for r in srows] == [
                    _key(r) for r in orows
                ]
                verdict = "MATCH" if ok else "MISMATCH"
                if not ok:
                    failures.append(name)
                print(f"  {name}: {verdict} ({len(srows)} rows)")
            else:
                print(f"  {name}: rows-only ({len(srows)} rows)")
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            failures.append(name)
            print(f"  {name}: ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:140]}")
    spark.stop()
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
