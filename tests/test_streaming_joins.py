"""Stream-stream join (streaming/joins.py): the streaming result must
converge to the batch join over the same data — differential testing
with the batch engine as the oracle, mirroring the oracle-parity
policy for batch queries (SURVEY §5).
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from pathlib import Path

import pyspark.sql.functions as F

from ibd_pipeline_spark.streaming.joins import attribution_join

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _spool(tmp_path: Path) -> str:
    """Deterministic two-stream fixture: 40 users; clicks at t0+u min;
    purchases for even users 10 min after their click (inside the
    30-min horizon), for users % 4 == 1 ninety minutes after (outside
    the horizon), none for the rest. A far-future row advances the
    watermark past every outer-join deadline."""
    t0 = datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    for u in range(40):
        ct = t0 + timedelta(minutes=u)
        rows.append((1000 + u, ct, u, "click", 0.0))
        if u % 2 == 0:
            rows.append((2000 + u, ct + timedelta(minutes=10), u, "purchase", 9.99 + u))
        elif u % 4 == 1:
            rows.append((3000 + u, ct + timedelta(minutes=90), u, "purchase", 5.0 + u))
    rows.append((9999, t0 + timedelta(days=2), 9999, "click", 0.0))
    spool = tmp_path / "events_spool"
    spool.mkdir()
    (spool / "data.jsonl").write_text(
        "\n".join(
            json.dumps(
                {
                    "event_id": e,
                    "ts": ts.isoformat(),
                    "user_id": u,
                    "event_type": et,
                    "value": v,
                }
            )
            for e, ts, u, et, v in rows
        )
    )
    return str(spool)


def _run_stream(spark, spool: str, ckpt: str, how: str):
    raw = spark.readStream.schema(SCHEMA).json(spool)
    out = attribution_join(
        raw.filter(F.col("event_type") == "click"),
        raw.filter(F.col("event_type") == "purchase"),
        how=how,
    )
    name = f"ssj_{how}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _batch(spark, spool: str, how: str):
    raw = spark.read.schema(SCHEMA).json(spool)
    return attribution_join(
        raw.filter(F.col("event_type") == "click"),
        raw.filter(F.col("event_type") == "purchase"),
        how=how,
        streaming=False,
    ).collect()


def _key(rows):
    return sorted((r.user_id, r.click_id, r.purchase_id) for r in rows)


def test_stream_stream_inner_matches_batch(spark, tmp_path):
    spool = _spool(tmp_path)
    got = _run_stream(spark, spool, str(tmp_path / "ck_inner"), "inner")
    want = _batch(spark, spool, "inner")
    assert _key(got) == _key(want)
    # exactly the even users match, inside the horizon only
    assert len(got) == 20
    assert all(r.purchase_id == 2000 + r.user_id for r in got)


def test_stream_stream_left_outer_matches_batch(spark, tmp_path):
    spool = _spool(tmp_path)
    got = _run_stream(spark, spool, str(tmp_path / "ck_outer"), "left_outer")
    want = _batch(spark, spool, "left_outer")
    # The advancer click is the max-event-time row: the watermark can
    # never pass its own outer-join deadline, so streaming (correctly)
    # withholds its NULL match while batch emits it — the documented
    # watermark-delayed-outer semantics, excluded from the compare.
    want_settled = [r for r in want if r.user_id != 9999]
    assert _key(got) == _key(want_settled)
    unmatched = [r for r in got if r.purchase_id is None]
    # odd users: % 4 == 1 purchased outside the horizon, % 4 == 3 never
    assert len(unmatched) == 20
    assert all(r.purchase_value is None for r in unmatched)
