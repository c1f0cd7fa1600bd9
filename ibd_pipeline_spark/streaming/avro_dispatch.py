"""Multi-schema Avro topic dispatch as a SOURCE-AGNOSTIC transform,
so the batch-attested decode also runs on a stream.

The query `io_avro_schema_dispatch` attested the wire-id routing +
reader-defaulting decode in batch; the reference's actual shape is a
STREAMING consumer (`spark_processor.py:47-69,123-124` — readStream
from Kafka, then payload decode). This module holds that decode path
as a transform over any DataFrame with a binary `wire` column —
batch or streaming — built exclusively from streaming-legal operators
(filter / select / unionByName; no collect, no windows, no state), so
`df.transform(dispatch_decode, spark)` works identically under
`spark.read` and `spark.readStream`. The stream-equals-batch pin is
tests/test_streaming_avro_dispatch.py, the same contract every other
streaming module carries.

Topic contract (the r14 schema-evolution story): records are
Confluent-framed Avro; wire schema id 7 = v1 (no `value` field),
id 8 = v2 (nullable `value`). The consumer dispatches on the WIRE id
(pure Column exprs on 5 bytes), decodes each route with its own
codec, and applies the READER default (v1 rows surface value = NULL —
what Avro schema resolution does when the reader's added field
carries a null default) before the unionByName.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.sources import avro_codec as A

V1_ID, V2_ID = 7, 8

V1_SCHEMA = (
    '{"type":"record","name":"event_msg","fields":['
    '{"name":"event_id","type":"long"},'
    '{"name":"event_type","type":"string"},'
    '{"name":"ts_us","type":"long"}]}'
)

V2_SCHEMA = (
    '{"type":"record","name":"event_msg","fields":['
    '{"name":"event_id","type":"long"},'
    '{"name":"event_type","type":"string"},'
    '{"name":"value","type":["null","double"]},'
    '{"name":"ts_us","type":"long"}]}'
)


def encode_topic(ev: DataFrame, spark: SparkSession) -> DataFrame:
    """Producer side of the mixed topic: events with
    (event_id, event_type, value, ts_us) columns → one binary `wire`
    column, a third under v1 (id 7, deterministic event_id % 3
    routing the oracle replays), the rest under v2 (id 8)."""
    v1 = ev.filter(F.col("event_id") % 3 == 0)
    v2 = ev.filter(F.col("event_id") % 3 != 0)
    w1 = v1.select(
        A.to_confluent_wire(
            A.to_avro_binary(
                F.struct("event_id", "event_type", "ts_us"),
                V1_SCHEMA,
                spark,
            ),
            V1_ID,
        ).alias("wire")
    )
    w2 = v2.select(
        A.to_confluent_wire(
            A.to_avro_binary(
                F.struct("event_id", "event_type", "value", "ts_us"),
                V2_SCHEMA,
                spark,
            ),
            V2_ID,
        ).alias("wire")
    )
    return w1.unionByName(w2)


def dispatch_decode(topic: DataFrame, spark: SparkSession) -> DataFrame:
    """Consumer side: `wire` column → decoded rows
    (schema_id, event_id, event_type, value, ts_us), v1 rows carrying
    the reader's null default for `value`. Streaming-legal end to end:
    the id dispatch is a codegen filter on 5 bytes, each route is one
    Arrow-batched decode over ITS rows only, and the union is
    plan-level — identical physical shape under readStream."""
    sid = A.wire_schema_id(F.col("wire"))
    r1 = (
        topic.filter(sid == V1_ID)
        .select(
            F.lit(V1_ID).alias("schema_id"),
            A.from_avro_binary(
                A.wire_payload(F.col("wire"), V1_ID),
                V1_SCHEMA,
                spark,
                mode="FAILFAST",
            ).alias("r"),
        )
        .select(
            "schema_id",
            "r.event_id",
            "r.event_type",
            F.lit(None).cast("double").alias("value"),  # reader default
            "r.ts_us",
        )
    )
    r2 = (
        topic.filter(sid == V2_ID)
        .select(
            F.lit(V2_ID).alias("schema_id"),
            A.from_avro_binary(
                A.wire_payload(F.col("wire"), V2_ID),
                V2_SCHEMA,
                spark,
                mode="FAILFAST",
            ).alias("r"),
        )
        .select(
            "schema_id", "r.event_id", "r.event_type", "r.value", "r.ts_us"
        )
    )
    return r1.unionByName(r2)
