"""Protobuf message-payload queries: the OTHER schema-registry form of
the reference's core ingest step.

The reference decodes Kafka binary payloads with CAST + from_json
(`spark_processor.py:123-124`); production topics carry Confluent-
framed Avro (r14, `queries/avro_payload.py`) or PROTOBUF (this
module). These queries run the proto path END TO END on the events
fixture — encode with the engine's codec (`sources/proto_codec.py`),
frame (magic + schema id + message-index byte), unframe, decode,
aggregate from the DECODED columns — so any codec bug flips the value
hash. The DuckDB oracle cannot run protobuf, so it attests two
independent things instead (the avro_payload doctrine):

- the round-trip IDENTITY: aggregates over decoded values must equal
  the same aggregates over the raw table, INCLUDING the proto3
  default-refill (planted zero ids decode back to 0, planted absent
  optional values decode to NULL);
- the ENCODED SIZE, from first principles: proto's tag/varint/zigzag
  arithmetic (with proto3 default ELISION — zero-valued implicit
  fields occupy 0 bytes) reproduced in exact integer SQL and compared
  against the Spark-side measured octet_length sums.

Byte-level parity is pinned against the public spec's published
vectors in tests/test_proto_codec.py (no JVM reference encoding is
obtainable in-container: no spark-protobuf jar, no protoc, no
google.protobuf — SKIPS.md §2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import dsum_sql, query
from ibd_pipeline_spark.queries.avro_payload import (
    _message_fields,
    _plant_damage,
    _quarantine_counts,
    _vlen_sql,
    _zz_sql,
)
from ibd_pipeline_spark.sources import proto_codec as P

_SCHEMA_ID = 9

# field numbers/types chosen to exercise every wire arithmetic the
# oracle reproduces: plain varint (int64), LEN (string), explicit
# presence + I64 (optional double), zigzag varint (sint64)
_MSG_PROTO = """
syntax = "proto3";
message event_msg {
  int64 event_id = 1;
  string event_type = 2;
  optional double value = 3;
  sint64 ts_us = 4;
}
"""

# planted proto3-semantics classes (deterministic by event_id so the
# oracle knows the truth): ids ≡ 0 (mod 11) encode as the int64
# default 0 — the field is ELIDED on the wire and must decode back to
# 0; ids ≡ 5 (mod 13) drop `value` — the optional field is ABSENT and
# must decode back to NULL
_ID_SQL = "CASE WHEN event_id % 11 = 0 THEN 0 ELSE event_id END"
_VAL_SQL = "CASE WHEN event_id % 13 = 5 THEN NULL ELSE value END"

# Per-record proto body size: [tag + varint(id)] elided when id = 0
# + [tag + varint(len) + len] elided when event_type = '' +
# [tag + 8 LE bytes] when value present + [tag + varint(zigzag(ts))]
# elided when ts = 0; the Confluent proto frame adds 6 (magic + 4-byte
# id + message-index byte 0x00).
_BODY_BYTES_SQL = (
    f"CASE WHEN {_ID_SQL} = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql(f'CAST({_ID_SQL} AS HUGEINT)')} END "
    f"+ CASE WHEN strlen(event_type) = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql('CAST(strlen(event_type) AS HUGEINT)')} "
    f"+ strlen(event_type) END "
    f"+ CASE WHEN {_VAL_SQL} IS NULL THEN 0 ELSE 9 END "
    f"+ CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql(_zz_sql('epoch_us(CAST(ts AS TIMESTAMP))'))} END"
)

_ROUNDTRIP_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM({_ID_SQL}) AS BIGINT) AS sum_event_id,
       CAST(SUM(CASE WHEN {_ID_SQL} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_default_id,
       CAST(SUM(CASE WHEN {_VAL_SQL} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       {dsum_sql(_VAL_SQL, 2)} AS sum_value,
       CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_ts_us,
       CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
       CAST(SUM({_BODY_BYTES_SQL}) AS BIGINT) AS payload_bytes,
       CAST(SUM({_BODY_BYTES_SQL}) + 6 * COUNT(*) AS BIGINT) AS wire_bytes
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("io_proto_payload_roundtrip", oracle=_ROUNDTRIP_SQL)
def io_proto_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-payload protobuf round-trip: events → proto binary
    (sources/proto_codec.py, native JVM expressions when
    spark-protobuf is deployed, Arrow pandas-UDF codec otherwise) →
    Confluent proto wire frame (magic + schema id + message-index
    byte) → unframe (schema-id-checked, pure Column exprs) → decode →
    aggregate FROM THE DECODED COLUMNS. Planted proto3 semantics make
    the round-trip non-vacuous: ids ≡ 0 (mod 11) encode as the
    default 0 (field ELIDED on the wire, refilled on decode — counted
    by n_default_id), ids ≡ 5 (mod 13) drop the optional value
    (absent on the wire, NULL on decode). The oracle attests identity
    AND the encoded sizes from first-principles tag/varint/zigzag/
    elision arithmetic — a wrong byte anywhere shifts payload_bytes/
    wire_bytes; a wrong value or default shifts the sums.

    Scale: framing/unframing is whole-stage codegen; the codec is one
    Arrow batch round-trip per partition in the fallback and pure JVM
    when spark-protobuf is deployed. Aggregation is map-side combined
    on the event_type key. Cite: reference ingest decode is
    spark_processor.py:123-124; this is its schema-registry proto
    form."""
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 11 == 0, F.lit(0))
        .otherwise(F.col("event_id"))
        .alias("event_id"),
        "event_type",
        F.when(F.col("event_id") % 13 == 5, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.unix_micros("ts").alias("ts_us"),
    )
    payload = P.to_protobuf_binary(
        F.struct("event_id", "event_type", "value", "ts_us"),
        _MSG_PROTO,
        spark,
    )
    wire = ev.select(
        P.to_confluent_proto_wire(payload, _SCHEMA_ID).alias("wire")
    )
    dec = wire.select(
        F.octet_length("wire").alias("wire_len"),
        P.from_protobuf_binary(
            P.proto_wire_payload(F.col("wire"), _SCHEMA_ID),
            _MSG_PROTO,
            spark,
            mode="FAILFAST",
        ).alias("r"),
    ).select("wire_len", "r.*")
    return (
        dec.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.sum(F.when(F.col("event_id") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_default_id"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_value"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.min("ts_us").cast("bigint").alias("min_ts_us"),
            F.max("ts_us").cast("bigint").alias("max_ts_us"),
            (F.sum("wire_len") - F.lit(6) * F.count(F.lit(1)))
            .cast("bigint")
            .alias("payload_bytes"),
            F.sum("wire_len").cast("bigint").alias("wire_bytes"),
        )
        .orderBy("event_type")
    )


_MALFORMED_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(SUM(CASE WHEN event_id % 101 <> 0 AND event_id % 83 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_frame,
       CAST(SUM(CASE WHEN event_id % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_payload,
       CAST(SUM(CASE WHEN event_id % 101 <> 0 AND event_id % 83 <> 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(SUM(CASE WHEN event_id % 101 <> 0 AND event_id % 83 <> 1
                THEN event_id ELSE 0 END) AS BIGINT) AS sum_ok_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("io_proto_malformed_audit", oracle=_MALFORMED_SQL)
def io_proto_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode malformed-payload audit for the proto codec,
    with PLANTED damage in two classes (deterministic by event_id):
    frame damage (magic byte flipped to 0x01 — the unframer must null
    it) for event_id % 83 == 1, and payload damage (body truncated to
    ONE byte — a dangling tag, which the decoder must quarantine as a
    truncated field; note an EMPTY proto body is VALID, all defaults,
    so proto malformation planting must cut MID-field, unlike Avro's)
    for event_id % 101 == 0, payload damage taking precedence. Per
    event_type: each quarantine class, clean decodes, and the id-sum
    of the clean ones (PERMISSIVE isolates rows, not batches).

    Detection detail: a valid decode NEVER nulls an implicit-presence
    field (absent → default 0), so r.event_id IS NULL is exactly the
    quarantine marker. Since the fixture's ts_us is never 0, every
    intact body is non-empty and the one-byte truncation always lands
    mid-field.

    Scale: same pipeline as io_proto_payload_roundtrip plus two
    codegen CASE branches for the planting."""
    ev = _message_fields(spark, sf_dir)
    payload = P.to_protobuf_binary(
        F.struct("event_id", "event_type", "value", "ts_us"),
        _MSG_PROTO,
        spark,
    )
    wire = ev.select(
        "event_id",
        "event_type",
        P.to_confluent_proto_wire(payload, _SCHEMA_ID).alias("wire"),
    )
    # cut to the 6-byte frame + 1 dangling body byte
    damaged = _plant_damage(wire, flip_mod=83, cut_mod=101, cut_len=7)
    unframed = damaged.select(
        "orig_type",
        P.proto_wire_payload(F.col("wire"), _SCHEMA_ID).alias("payload"),
    )
    dec = unframed.select(
        "orig_type",
        F.col("payload").isNull().alias("frame_null"),
        P.from_protobuf_binary(
            F.col("payload"), _MSG_PROTO, spark, mode="PERMISSIVE"
        ).alias("r"),
    )
    return _quarantine_counts(dec)


# ---------------------------------------------------------------------------
# Packed repeated fields: embedding vectors over proto payloads (r15)
# ---------------------------------------------------------------------------

_VEC_ID = 12

_VEC_PROTO = """
syntax = "proto3";
message vec_msg {
  int64 vec_id = 1;
  sint32 label = 2;
  repeated float embedding = 3;
}
"""

# planted: vec_id ≡ 3 (mod 17) ships an EMPTY embedding (elided on
# the wire, [] on decode); vec_id 0 and label 0 occur naturally and
# exercise the scalar elision/refill paths
_EMB_SQL = (
    "CASE WHEN vec_id % 17 = 3 THEN CAST([] AS FLOAT[]) "
    "ELSE embedding END"
)

# Per-record body: [tag + varint(vec_id)] elided when 0 + [tag +
# varint(zigzag(label))] elided when 0 + packed embedding: [tag +
# varint(4·dim) + 4·dim] elided when empty; Confluent frame adds 6.
_VEC_BODY_SQL = (
    f"CASE WHEN vec_id = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql('CAST(vec_id AS HUGEINT)')} END "
    f"+ CASE WHEN label = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql(_zz_sql('label'))} END "
    f"+ CASE WHEN len({_EMB_SQL}) = 0 THEN 0 "
    f"ELSE 1 + {_vlen_sql(f'CAST(4 * len({_EMB_SQL}) AS HUGEINT)')} "
    f"+ 4 * len({_EMB_SQL}) END"
)

_VEC_SQL = f"""
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
       CAST(SUM(CASE WHEN vec_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty,
       CAST(MAX(len({_EMB_SQL})) AS BIGINT) AS dim_max,
       CAST(ROUND(SUM(COALESCE(list_sum(list_transform({_EMB_SQL},
             x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  AS DECIMAL(28,12)))), 0)), 4) AS DOUBLE) AS sum_norm2,
       CAST(SUM({_VEC_BODY_SQL}) AS BIGINT) AS payload_bytes,
       CAST(SUM({_VEC_BODY_SQL}) + 6 * COUNT(*) AS BIGINT) AS wire_bytes
FROM embeddings
GROUP BY label
ORDER BY label
"""


@query("io_proto_embedding_roundtrip", oracle=_VEC_SQL)
def io_proto_embedding_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING vectors over proto payloads — the multimodal-column
    transport case: `repeated float` encodes PACKED (proto3 default
    for scalar numerics; spec vector `32 06 03 8E 02 9E A7 05`
    pinned in tests/test_proto_codec.py), decodes to a Spark
    array<float>, and the aggregates come FROM THE DECODED VECTORS.
    Planted empty embeddings (vec_id ≡ 3 mod 17) exercise the
    repeated-elision path (absent on the wire, [] on decode); the
    naturally-occurring vec_id 0 and label 0 exercise scalar elision
    + default refill. The oracle attests identity AND sizes — packed
    length arithmetic (tag + varint(4·dim) + 4·dim) in exact integer
    SQL, so a non-packed encoding or a wrong element count flips the
    byte totals.

    Exactness: per-vector Σx² folds float→double element squares
    cast to DECIMAL(28,12) BEFORE summation (decimal addition
    commutes, so neither the in-vector fold order nor the cross-row
    aggregation order matters), one decimal-domain round, one cast.

    Scale: the packed codec is one Arrow batch per partition; the
    vector fold is a codegen higher-order aggregate; the 10-key label
    aggregate is map-side combined. This is how embedding shards move
    through Kafka at 100 TB — length-prefixed packed floats, not one
    message per element."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.when(
            F.col("vec_id") % 17 == 3,
            F.array().cast("array<float>"),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    payload = P.to_protobuf_binary(
        F.struct("vec_id", "label", "embedding"),
        _VEC_PROTO,
        spark,
    )
    wire = emb.select(
        P.to_confluent_proto_wire(payload, _VEC_ID).alias("wire")
    )
    dec = wire.select(
        F.octet_length("wire").alias("wire_len"),
        P.from_protobuf_binary(
            P.proto_wire_payload(F.col("wire"), _VEC_ID),
            _VEC_PROTO,
            spark,
            mode="FAILFAST",
        ).alias("r"),
    ).select("wire_len", "r.*")
    # fold type discipline: DECIMAL(37,12) + DECIMAL(28,12) widens to
    # (38,12) with NO scale loss (scale-12 addition is exact); the
    # cast back to (37,12) is range-check-only (same scale), keeping
    # the accumulator type invariant Spark's aggregate() requires
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("decimal(37,12)"),
        lambda acc, x: (
            acc + (x.cast("double") * x.cast("double")).cast("decimal(28,12)")
        ).cast("decimal(37,12)"),
    )
    return (
        dec.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
            F.sum(F.when(F.size("embedding") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_empty"),
            F.max(F.size("embedding")).cast("bigint").alias("dim_max"),
            F.round(F.sum(norm2), 4).cast("double").alias("sum_norm2"),
            (F.sum("wire_len") - F.lit(6) * F.count(F.lit(1)))
            .cast("bigint")
            .alias("payload_bytes"),
            F.sum("wire_len").cast("bigint").alias("wire_bytes"),
        )
        .orderBy("label")
    )
