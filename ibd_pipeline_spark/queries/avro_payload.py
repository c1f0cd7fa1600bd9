"""Avro message-payload queries: the schema-registry form of the
reference's core ingest step.

The reference decodes Kafka binary payloads with CAST + from_json
(`spark_processor.py:123-124`); production Kafka topics carry
Confluent-framed Avro instead (magic byte + schema id + Avro binary).
These queries run that path END TO END on the events fixture — encode
with the engine's codec (`sources/avro_codec.py`), frame, unframe,
decode, aggregate from the DECODED columns — so any codec bug flips
the value hash. The DuckDB oracle cannot run Avro, so it attests two
independent things instead:

- the round-trip IDENTITY: aggregates over decoded values must equal
  the same aggregates over the raw table;
- the ENCODED SIZE, from first principles: Avro's varint arithmetic
  (zigzag + base-128 length ladder) reproduced in exact integer SQL
  and compared against the Spark-side measured octet_length sums.

Byte-level parity with Spark's own JVM AvroSerializer is pinned
separately in tests/test_avro_codec.py (uncompressed-OCF split).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import dsum_sql, query
from ibd_pipeline_spark.sources import avro_codec as A

_SCHEMA_ID = 7

_MSG_SCHEMA = (
    '{"type":"record","name":"event_msg","fields":['
    '{"name":"event_id","type":"long"},'
    '{"name":"event_type","type":"string"},'
    '{"name":"value","type":["null","double"]},'
    '{"name":"ts_us","type":"long"}]}'
)


def _vlen_sql(zz: str) -> str:
    """SQL byte-count of an unsigned base-128 varint — thresholds are
    the exact powers 2^(7k), integer comparisons only."""
    return f"""CASE
      WHEN {zz} < 128 THEN 1
      WHEN {zz} < 16384 THEN 2
      WHEN {zz} < 2097152 THEN 3
      WHEN {zz} < 268435456 THEN 4
      WHEN {zz} < 34359738368 THEN 5
      WHEN {zz} < 4398046511104 THEN 6
      WHEN {zz} < 562949953421312 THEN 7
      WHEN {zz} < 72057594037927936 THEN 8
      WHEN {zz} <= 9223372036854775807 THEN 9
      ELSE 10 END"""


def _zz_sql(x: str) -> str:
    """Zigzag as HUGEINT (2x can exceed BIGINT for large inputs)."""
    return (
        f"CASE WHEN {x} >= 0 THEN CAST({x} AS HUGEINT) * 2 "
        f"ELSE CAST({x} AS HUGEINT) * -2 - 1 END"
    )


# Per-record Avro body size: varint(event_id) + [varint(len)+len bytes
# of event_type] + 1 union-index byte + 0|8 value bytes +
# varint(ts_us); the Confluent frame adds 5.
_BODY_BYTES_SQL = (
    f"{_vlen_sql(_zz_sql('event_id'))} "
    f"+ {_vlen_sql(_zz_sql('strlen(event_type)'))} + strlen(event_type) "
    f"+ 1 + CASE WHEN value IS NULL THEN 0 ELSE 8 END "
    f"+ {_vlen_sql(_zz_sql('epoch_us(CAST(ts AS TIMESTAMP))'))}"
)

_ROUNDTRIP_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       {dsum_sql('value', 2)} AS sum_value,
       CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_ts_us,
       CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
       CAST(SUM({_BODY_BYTES_SQL}) AS BIGINT) AS payload_bytes,
       CAST(SUM({_BODY_BYTES_SQL}) + 5 * COUNT(*) AS BIGINT) AS wire_bytes
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _message_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as the (event_id, event_type, value, ts_us) message both
    payload codecs carry."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )


def _plant_damage(
    wire: DataFrame, flip_mod: int, cut_mod: int, cut_len: int
) -> DataFrame:
    """(orig_type, wire) with planted damage: the magic byte flipped to
    0x01 (the frame check must null it) for event_id % flip_mod == 1,
    and the frame cut to its first cut_len bytes (the decoder must
    quarantine it) for event_id % cut_mod == 0, the cut taking
    precedence."""
    return wire.select(
        F.col("event_type").alias("orig_type"),
        F.when(
            F.col("event_id") % cut_mod == 0,
            F.substring(F.col("wire"), 1, cut_len),
        )
        .when(
            F.col("event_id") % flip_mod == 1,
            F.concat(
                F.lit(b"\x01"),
                F.substring(
                    F.col("wire"), F.lit(2), F.length("wire") - F.lit(1)
                ),
            ),
        )
        .otherwise(F.col("wire"))
        .alias("wire"),
    )


def _quarantine_counts(dec: DataFrame) -> DataFrame:
    """Per event type of (orig_type, frame_null, r) decodes: messages,
    bad frames, bad payloads (a null decode of an intact frame), clean
    decodes and the id-sum of the clean ones."""
    return (
        dec.groupBy(F.col("orig_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
            F.sum(F.when(F.col("frame_null"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bad_frame"),
            F.sum(
                F.when(
                    ~F.col("frame_null") & F.col("r.event_id").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_bad_payload"),
            F.sum(F.when(F.col("r.event_id").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ok"),
            F.sum(F.coalesce(F.col("r.event_id"), F.lit(0)))
            .cast("bigint")
            .alias("sum_ok_event_id"),
        )
        .orderBy("event_type")
    )


@query("io_avro_payload_roundtrip", oracle=_ROUNDTRIP_SQL)
def io_avro_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-payload Avro round-trip: events → Avro binary
    (sources/avro_codec.py, native JVM expressions when spark-avro is
    deployed, Arrow pandas-UDF codec otherwise) → Confluent wire frame
    → unframe (schema-id-checked, pure Column exprs) → decode →
    aggregate FROM THE DECODED COLUMNS. The oracle attests round-trip
    identity (aggregates equal the raw table's) and the encoded sizes
    from first-principles varint arithmetic — a wrong byte anywhere
    shifts payload_bytes/wire_bytes; a wrong value shifts the sums.

    Scale: framing/unframing is whole-stage codegen; the codec is one
    Arrow batch round-trip per partition in the fallback and pure JVM
    when spark-avro is deployed. Aggregation is map-side combined on
    the event_type key. Cite: reference ingest decode is
    spark_processor.py:123-124; this is its schema-registry form."""
    ev = _message_fields(spark, sf_dir)
    payload = A.to_avro_binary(
        F.struct("event_id", "event_type", "value", "ts_us"),
        _MSG_SCHEMA,
        spark,
    )
    wire = ev.select(A.to_confluent_wire(payload, _SCHEMA_ID).alias("wire"))
    dec = wire.select(
        F.octet_length("wire").alias("wire_len"),
        A.from_avro_binary(
            A.wire_payload(F.col("wire"), _SCHEMA_ID),
            _MSG_SCHEMA,
            spark,
            mode="FAILFAST",
        ).alias("r"),
    ).select("wire_len", "r.*")
    return (
        dec.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_value"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.min("ts_us").cast("bigint").alias("min_ts_us"),
            F.max("ts_us").cast("bigint").alias("max_ts_us"),
            (F.sum("wire_len") - F.lit(5) * F.count(F.lit(1)))
            .cast("bigint")
            .alias("payload_bytes"),
            F.sum("wire_len").cast("bigint").alias("wire_bytes"),
        )
        .orderBy("event_type")
    )


_MALFORMED_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 AND event_id % 89 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_frame,
       CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_payload,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 AND event_id % 89 <> 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(SUM(CASE WHEN event_id % 97 <> 0 AND event_id % 89 <> 1
                THEN event_id ELSE 0 END) AS BIGINT) AS sum_ok_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("io_avro_malformed_audit", oracle=_MALFORMED_SQL)
def io_avro_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode malformed-payload audit with PLANTED damage in
    two classes (deterministic by event_id, so the oracle knows the
    truth): frame damage (magic byte flipped to 0x01 — the unframer
    must null it) for event_id % 89 == 1, and payload damage (body
    truncated to zero bytes — the decoder must quarantine it) for
    event_id % 97 == 0, payload damage taking precedence. Per
    event_type: how many landed in each quarantine class, how many
    decoded clean, and the id-sum of the clean ones (pins that intact
    payloads survive the damaged batch — PERMISSIVE isolates rows,
    not batches).

    Scale: same pipeline as io_avro_payload_roundtrip plus two
    codegen CASE branches for the planting; quarantine classes come
    from null-pattern inspection, no extra pass."""
    ev = _message_fields(spark, sf_dir)
    payload = A.to_avro_binary(
        F.struct("event_id", "event_type", "value", "ts_us"),
        _MSG_SCHEMA,
        spark,
    )
    wire = ev.select(
        "event_id",
        "event_type",
        A.to_confluent_wire(payload, _SCHEMA_ID).alias("wire"),
    )
    # cut to the 5-byte frame: an empty Avro body
    damaged = _plant_damage(wire, flip_mod=89, cut_mod=97, cut_len=5)
    unframed = damaged.select(
        "orig_type",
        A.wire_payload(F.col("wire"), _SCHEMA_ID).alias("payload"),
    )
    dec = unframed.select(
        "orig_type",
        F.col("payload").isNull().alias("frame_null"),
        A.from_avro_binary(
            F.col("payload"), _MSG_SCHEMA, spark, mode="PERMISSIVE"
        ).alias("r"),
    )
    return _quarantine_counts(dec)


# ---------------------------------------------------------------------------
# Multi-schema topic: dispatch by wire schema id + reader defaulting
# (r14; r15 moved the encode/decode transforms to
# streaming/avro_dispatch.py so the SAME code path runs under
# readStream — stream-equals-batch pinned in
# tests/test_streaming_avro_dispatch.py)
# ---------------------------------------------------------------------------

from ibd_pipeline_spark.streaming.avro_dispatch import (  # noqa: E402
    V1_ID as _V1_ID,
    V2_ID as _V2_ID,
    dispatch_decode as _dispatch_decode,
    encode_topic as _encode_topic,
)

_DISPATCH_SQL = f"""
WITH e AS (
  SELECT event_id, event_type, value,
         CASE WHEN event_id % 3 = 0 THEN {_V1_ID} ELSE {_V2_ID} END AS sid
  FROM events
)
SELECT CAST(sid AS INT) AS schema_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM(CASE WHEN sid = {_V1_ID} OR value IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
       {dsum_sql(f'CASE WHEN sid = {_V2_ID} THEN value END', 2)}
         AS sum_value,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM e GROUP BY sid, event_type
ORDER BY schema_id, event_type
"""


@query("io_avro_schema_dispatch", oracle=_DISPATCH_SQL)
def io_avro_schema_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-schema Kafka topic, END TO END: a third of the events
    encode under the v1 record (no `value` field, wire schema id 7),
    the rest under v2 (nullable `value`, id 8) — the real shape of any
    topic that has lived through a schema migration. The consumer
    dispatches on the WIRE schema id (pure Column exprs), decodes each
    route with its own codec, and applies the READER default (v1 rows
    surface value = NULL, exactly what Avro schema resolution does
    when the reader's added field carries a null default) before the
    unionByName. Aggregates come from the DECODED columns, so a wrong
    route, codec, or default flips the hash.

    Exactness: routing is deterministic modular planting the oracle
    replays; decoded sums follow the dsum decimal rule; counts exact.

    Scale: the id dispatch is a codegen CASE on 5 bytes — no
    shuffle added over the single-schema path; each route is one
    Arrow-batched decode over ITS rows only (filter pushes before the
    UDF), and the union is plan-level. This is how a 100 TB consumer
    handles rolling producer upgrades without a stop-the-world
    re-encode."""
    ev = _message_fields(spark, sf_dir)
    topic = _encode_topic(ev, spark)
    dec = _dispatch_decode(topic, spark)
    return (
        dec.groupBy(F.col("schema_id").cast("int").alias("schema_id"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_value"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        .orderBy("schema_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Logical types through the payload codec (the CDC/Debezium set)
# ---------------------------------------------------------------------------

_LOGICAL_ID = 11

_LOGICAL_SCHEMA = (
    '{"type":"record","name":"order_msg","fields":['
    '{"name":"o_orderkey","type":"long"},'
    '{"name":"price","type":{"type":"bytes","logicalType":"decimal",'
    '"precision":12,"scale":2}},'
    '{"name":"odate","type":{"type":"int","logicalType":"date"}},'
    '{"name":"ots","type":["null",'
    '{"type":"long","logicalType":"timestamp-micros"}]},'
    '{"name":"status","type":"string"}]}'
)

# exact unscaled decimal cents: o_totalprice carries 2-dp values, so
# the double product is integer-valued up to float noise and ROUND
# recovers it exactly in both engines
_CENTS_SQL = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"

# minimal two's-complement byte width of the (positive) unscaled
# value — the Avro bytes-decimal ladder, thresholds at 2^(8k-1)
_DECLEN_SQL = f"""CASE
  WHEN {_CENTS_SQL} < 128 THEN 1
  WHEN {_CENTS_SQL} < 32768 THEN 2
  WHEN {_CENTS_SQL} < 8388608 THEN 3
  WHEN {_CENTS_SQL} < 2147483648 THEN 4
  WHEN {_CENTS_SQL} < 549755813888 THEN 5
  ELSE 6 END"""

_DAYS_SQL = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
_OTS_NULL_SQL = "o_orderkey % 7 = 3"
_OUS_SQL = "epoch_us(CAST(o_orderdate AS TIMESTAMP))"

# Per-record body: varint(key) + [varint(declen) + declen bytes of
# decimal] + varint(days) + [1 union byte + 0|varint(micros)] +
# [varint(len) + len bytes of status]; the Confluent frame adds 5.
_LOGICAL_BODY_SQL = (
    f"{_vlen_sql(_zz_sql('o_orderkey'))} "
    f"+ 1 + {_DECLEN_SQL} "
    f"+ {_vlen_sql(_zz_sql(_DAYS_SQL))} "
    f"+ 1 + CASE WHEN {_OTS_NULL_SQL} THEN 0 "
    f"ELSE {_vlen_sql(_zz_sql(_OUS_SQL))} END "
    f"+ {_vlen_sql(_zz_sql('strlen(o_orderstatus)'))} "
    f"+ strlen(o_orderstatus)"
)

_LOGICAL_SQL = f"""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_price,
       strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS min_odate,
       strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS max_odate,
       CAST(SUM(CASE WHEN {_OTS_NULL_SQL} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_ts,
       CAST(MIN(CASE WHEN {_OTS_NULL_SQL} THEN NULL ELSE {_OUS_SQL} END)
         AS BIGINT) AS min_ts_us,
       CAST(SUM({_LOGICAL_BODY_SQL}) AS BIGINT) AS payload_bytes,
       CAST(SUM({_LOGICAL_BODY_SQL}) + 5 * COUNT(*) AS BIGINT) AS wire_bytes
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""


@query("io_avro_logical_roundtrip", oracle=_LOGICAL_SQL)
def io_avro_logical_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL TYPES through the payload codec, END TO END — the
    first message a Debezium/CDC consumer actually hits: a decimal
    (bytes + logicalType, minimal two's-complement unscaled), a date
    (int days), and a NULLABLE timestamp-micros (union + logical),
    encoded → Confluent-framed → unframed → decoded → aggregated FROM
    THE DECODED COLUMNS. The money column keeps the dsum rule intact:
    the decoded DecimalType(12,2) sums exactly (order-independent) and
    rounds in the decimal domain before one cast to double. Planted
    NULL timestamps (o_orderkey ≡ 3 mod 7) exercise the union path
    both ways. The oracle attests identity AND the encoded sizes —
    including the bytes-decimal minimal-width ladder (thresholds at
    2^(8k−1)) — so a non-minimal decimal encoding or a wrong
    union/logical byte flips the hash. JVM byte parity for these
    shapes is pinned separately against Spark's own Avro writer
    (tests/test_avro_codec.py::test_jvm_byte_parity_logical_types_via_ocf).

    Scale: same budget as io_avro_payload_roundtrip — framing is
    codegen, the codec one Arrow batch per partition (JVM-native when
    spark-avro is deployed), aggregation map-side combined on the
    3-value status key."""
    od = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.to_date("o_orderdate").alias("odate"),
        F.when(F.col("o_orderkey") % 7 == 3, F.lit(None))
        .otherwise(F.col("o_orderdate").cast("timestamp"))
        .alias("ots"),
    )
    payload = A.to_avro_binary(
        F.struct("o_orderkey", "price", "odate", "ots", "status"),
        _LOGICAL_SCHEMA,
        spark,
    )
    wire = od.select(
        A.to_confluent_wire(payload, _LOGICAL_ID).alias("wire")
    )
    dec = wire.select(
        F.octet_length("wire").alias("wire_len"),
        A.from_avro_binary(
            A.wire_payload(F.col("wire"), _LOGICAL_ID),
            _LOGICAL_SCHEMA,
            spark,
            mode="FAILFAST",
        ).alias("r"),
    ).select("wire_len", "r.*")
    return (
        dec.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("price"), 2).cast("double").alias("sum_price"),
            F.date_format(F.min("odate"), "yyyy-MM-dd").alias("min_odate"),
            F.date_format(F.max("odate"), "yyyy-MM-dd").alias("max_odate"),
            F.sum(F.when(F.col("ots").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_ts"),
            F.unix_micros(F.min("ots")).cast("bigint").alias("min_ts_us"),
            (F.sum("wire_len") - F.lit(5) * F.count(F.lit(1)))
            .cast("bigint")
            .alias("payload_bytes"),
            F.sum("wire_len").cast("bigint").alias("wire_bytes"),
        )
        .orderBy("status")
    )
