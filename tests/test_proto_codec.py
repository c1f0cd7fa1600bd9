"""Proto wire-format codec pins (sources/proto_codec.py).

Byte parity is pinned against the PUBLIC spec's published vectors
(https://protobuf.dev/programming-guides/encoding/) — a JVM reference
encoding is not obtainable in this container (no spark-protobuf jar,
no protoc, no google.protobuf; SKIPS.md §2), so the spec vectors ARE
the parity contract, the same role the OCF split plays for Avro.
"""

from __future__ import annotations

import math
import struct

import pytest

from ibd_pipeline_spark.sources.proto_codec import (
    MessageCodec,
    descriptor_set_bytes,
    parse_proto,
    read_uvarint,
    uvarint_len,
    write_uvarint,
)

# ---------------------------------------------------------------------------
# wire primitives — spec vectors
# ---------------------------------------------------------------------------


def test_uvarint_spec_vectors():
    # spec: 150 -> 96 01 ; 1 -> 01 ; 300 -> ac 02
    for v, hexs in [(1, "01"), (150, "9601"), (300, "ac02"), (0, "00")]:
        out = bytearray()
        write_uvarint(v, out)
        assert bytes(out).hex() == hexs
        got, pos = read_uvarint(bytes(out), 0)
        assert (got, pos) == (v, len(out))
        assert uvarint_len(v) == len(out)


def test_field1_varint_150_is_089601():
    # the canonical spec example: message Test1 { int32 a = 1; } a=150
    c = MessageCodec("message Test1 { int32 a = 1; }")
    assert c.encode([150]).hex() == "089601"
    assert c.decode(bytes.fromhex("089601")) == [150]


def test_field2_string_testing_is_1207():
    # spec example: message Test2 { string b = 2; } b="testing"
    c = MessageCodec("message Test2 { string b = 2; }")
    assert c.encode(["testing"]).hex() == "120774657374696e67"
    assert c.decode(bytes.fromhex("120774657374696e67")) == ["testing"]


def test_negative_int64_ten_byte_twos_complement():
    # spec: negative int32/int64 serialize as the 10-byte 2^64 form
    c = MessageCodec("message T { int64 a = 1; }")
    assert c.encode([-1]).hex() == "08ffffffffffffffffff01"
    assert c.decode(bytes.fromhex("08ffffffffffffffffff01")) == [-1]
    c32 = MessageCodec("message T { int32 a = 1; }")
    assert c32.encode([-2]).hex() == "08feffffffffffffffff01"
    assert c32.decode(c32.encode([-2])) == [-2]


def test_sint_zigzag_spec_table():
    # spec zigzag table: 0->0, -1->1, 1->2, -2->3, 2147483647->...e,
    # -2147483648->...f
    c = MessageCodec("message T { sint32 a = 1; }")
    for orig, zz in [(0, 0), (-1, 1), (1, 2), (-2, 3),
                     (2147483647, 4294967294), (-2147483648, 4294967295)]:
        enc = c.encode([orig])
        if orig == 0:
            assert enc == b""  # implicit presence: default elided
            continue
        body = bytearray()
        write_uvarint(zz, body)
        assert enc == b"\x08" + bytes(body)
        assert c.decode(enc) == [orig]


def test_fixed_and_float_little_endian():
    c = MessageCodec(
        "message T { fixed32 a = 1; sfixed64 b = 2; float f = 3; "
        "double d = 4; }"
    )
    enc = c.encode([1, -2, 1.5, -0.25])
    assert enc == (
        b"\x0d" + struct.pack("<I", 1)
        + b"\x11" + struct.pack("<q", -2)
        + b"\x1d" + struct.pack("<f", 1.5)
        + b"\x21" + struct.pack("<d", -0.25)
    )
    assert c.decode(enc) == [1, -2, 1.5, -0.25]


# ---------------------------------------------------------------------------
# proto3 presence semantics
# ---------------------------------------------------------------------------

_M = """
syntax = "proto3";
message M {
  int64 id = 1;        // implicit presence
  string s = 2;
  optional double v = 3;
  bool f = 4;
  bytes raw = 5;
}
"""


def test_default_elision_and_refill():
    c = MessageCodec(_M)
    # all-default message is ZERO bytes on the wire...
    assert c.encode([0, "", None, False, b""]) == b""
    # ...and decodes back to defaults (optional -> None)
    assert c.decode(b"") == [0, "", None, False, b""]
    # implicit None is treated as the default (pandas NaN caveat)
    assert c.encode([None, None, None, None, None]) == b""


def test_optional_explicit_presence():
    c = MessageCodec(_M)
    # optional double 0.0 IS serialized (explicit presence)
    enc = c.encode([0, "", 0.0, False, b""])
    assert enc == b"\x19" + struct.pack("<d", 0.0)
    assert c.decode(enc) == [0, "", 0.0, False, b""]
    # absent optional decodes to None, not 0.0
    assert c.decode(b"")[2] is None


def test_nan_encodes_as_absent_in_optional():
    c = MessageCodec(_M)
    assert c.encode([1, "x", math.nan, True, b""]) == c.encode(
        [1, "x", None, True, b""]
    )


def test_unknown_fields_skipped_all_wire_types():
    c = MessageCodec("message T { int64 a = 1; }")
    base = c.encode([7])
    # unknown varint (field 9), I64 (10), LEN (11), I32 (12)
    extra = (
        bytes([0x48, 0x05])
        + bytes([0x51]) + b"\x00" * 8
        + bytes([0x5A, 0x03]) + b"abc"
        + bytes([0x65]) + b"\x00" * 4
    )
    assert c.decode(base + extra) == [7]
    # duplicate known field: last one wins (spec)
    assert c.decode(c.encode([7]) + c.encode([9])) == [9]


def test_decode_malformations():
    c = MessageCodec(_M)
    cases = {
        "dangling tag": bytes([0x08]),
        "truncated varint": bytes([0x08, 0x80]),
        "overlong varint": bytes([0x08]) + b"\x80" * 10 + b"\x01",
        "bad wire type 7": bytes([0x0F, 0x00]),
        "bad wire type 3": bytes([0x0B]),
        "LEN overrun": bytes([0x12, 0x05]) + b"ab",
        "truncated I64": bytes([0x19]) + b"\x00" * 4,
        "invalid utf8": bytes([0x12, 0x02, 0xC3, 0x28]),
        "field number 0": bytes([0x00, 0x00]),
        "wire type mismatch": bytes([0x0A, 0x01, 0x61]),  # LEN for int64
    }
    for name, buf in cases.items():
        with pytest.raises(ValueError):
            c.decode(buf)
        # and must be a clean ValueError, never a crash
    # uint64 beyond the Spark-long-safe range is refused loudly
    cu = MessageCodec("message T { uint64 a = 1; }")
    big = bytearray([0x08])
    write_uvarint(2**63, big)
    with pytest.raises(ValueError):
        cu.decode(bytes(big))
    with pytest.raises(ValueError):
        cu.encode([2**63])


def test_schema_subset_rejections():
    for bad in [
        "message M { }",  # no fields
        "message M { int64 a = 0; }",  # field number 0
        "message M { int64 a = 19000; }",  # reserved range
        "message M { int64 a = 1; int32 b = 1; }",  # duplicate number
        "message M { map<string,int64> a = 1; }",  # unsupported type
        "message M { repeated string a = 1; }",  # repeated is packed-scalar only
        "not a proto at all",
    ]:
        with pytest.raises(ValueError):
            parse_proto(bad)
    # comments and syntax line are tolerated
    name, fields = parse_proto(_M)
    assert name == "M" and [f.name for f in fields] == [
        "id", "s", "v", "f", "raw",
    ]


def test_field_order_is_canonical_ascending():
    c = MessageCodec("message T { string b = 2; int64 a = 1; }")
    # declared b-first, but the wire is field-1 then field-2
    assert c.encode(["x", 3]).hex() == "0803" + "120178"


# ---------------------------------------------------------------------------
# descriptor-set generator (descriptor.proto field numbers)
# ---------------------------------------------------------------------------


def test_descriptor_set_structure():
    """Walk the generated FileDescriptorSet with a generic tag walker
    and assert the descriptor.proto structure: file(1) →
    {name(1), message_type(4), syntax(12)}; message_type →
    {name(1), field(2)+, oneof_decl(8) per optional}; field →
    {name(1), number(3), label(4)=1, type(5), and for optional:
    oneof_index(9), proto3_optional(17)=1}."""
    src = "message M { int64 id = 1; optional string s = 2; }"
    buf = descriptor_set_bytes(src, file_name="m.proto")

    def walk(b):
        out = []
        pos = 0
        while pos < len(b):
            key, pos = read_uvarint(b, pos)
            num, wt = key >> 3, key & 7
            if wt == 2:
                ln, pos = read_uvarint(b, pos)
                out.append((num, b[pos : pos + ln]))
                pos += ln
            elif wt == 0:
                v, pos = read_uvarint(b, pos)
                out.append((num, v))
            else:
                raise AssertionError(f"unexpected wire type {wt}")
        return out

    (file_entry,) = walk(buf)
    assert file_entry[0] == 1
    fdp = dict(walk(file_entry[1]))
    assert fdp[1] == b"m.proto" and fdp[12] == b"proto3"
    msg = walk(fdp[4])
    fields = [v for n, v in msg if n == 2]
    oneofs = [v for n, v in msg if n == 8]
    assert dict(msg)[1] == b"M"
    assert len(fields) == 2 and len(oneofs) == 1
    f_id = dict(walk(fields[0]))
    assert f_id[1] == b"id" and f_id[3] == 1 and f_id[4] == 1 and f_id[5] == 3
    assert 17 not in f_id  # implicit field carries no proto3_optional
    f_s = dict(walk(fields[1]))
    assert f_s[1] == b"s" and f_s[3] == 2 and f_s[5] == 9
    assert f_s[17] == 1 and f_s[9] == 0  # proto3_optional + oneof 0
    assert dict(walk(oneofs[0]))[1] == b"_s"


# ---------------------------------------------------------------------------
# Column-level API + Confluent proto framing
# ---------------------------------------------------------------------------


def test_column_roundtrip_and_wire(spark):
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.sources import proto_codec as P

    df = spark.createDataFrame(
        [(1, "a", 2.5, -10), (0, "", None, 7), (2**40, "βμ", 0.0, 0)],
        "id bigint, s string, v double, z bigint",
    )
    wire = df.select(
        P.to_confluent_proto_wire(
            P.to_protobuf_binary(
                F.struct("id", "s", "v", "z"),
                "message T { int64 id = 1; string s = 2; "
                "optional double v = 3; sint64 z = 4; }",
                spark,
                use_native="fallback",
            ),
            42,
        ).alias("w")
    )
    dec = wire.select(
        P.proto_wire_schema_id(F.col("w")).alias("sid"),
        P.from_protobuf_binary(
            P.proto_wire_payload(F.col("w"), 42),
            "message T { int64 id = 1; string s = 2; "
            "optional double v = 3; sint64 z = 4; }",
            spark,
            mode="FAILFAST",
            use_native="fallback",
        ).alias("r"),
    ).select("sid", "r.*")
    rows = sorted(dec.collect(), key=lambda r: r.id)
    assert [r.sid for r in rows] == [42, 42, 42]
    assert (rows[0].id, rows[0].s, rows[0].v, rows[0].z) == (0, "", None, 7)
    assert (rows[1].id, rows[1].s, rows[1].v, rows[1].z) == (1, "a", 2.5, -10)
    # explicit-presence 0.0 survives; multi-byte UTF-8 survives
    assert (rows[2].id, rows[2].s, rows[2].v, rows[2].z) == (
        2**40, "βμ", 0.0, 0,
    )


def test_wire_rejects_bad_frames(spark):
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.sources import proto_codec as P

    df = spark.createDataFrame(
        [
            (b"\x00\x00\x00\x00\x2a\x00\x08\x01",),  # good, id 42
            (b"\x01\x00\x00\x00\x2a\x00\x08\x01",),  # bad magic
            (b"\x00\x00\x00\x00\x2a\x01\x08\x01",),  # non-0x00 index list
            (b"\x00\x00\x00",),  # short frame
            (b"\x00\x00\x00\x00\x07\x00\x08\x01",),  # wrong schema id
        ],
        "w binary",
    )
    got = df.select(
        P.proto_wire_payload(F.col("w"), 42).alias("p")
    ).collect()
    assert got[0].p == b"\x08\x01"
    assert [r.p for r in got[1:]] == [None, None, None, None]


def test_permissive_vs_failfast(spark):
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.sources import proto_codec as P

    src = "message T { int64 id = 1; }"
    df = spark.createDataFrame(
        [(b"\x08\x05",), (b"\x08",), (None,)], "p binary"
    )
    perm = df.select(
        P.from_protobuf_binary(
            F.col("p"), src, spark, mode="PERMISSIVE",
            use_native="fallback",
        ).alias("r")
    ).collect()
    assert [r.r.id for r in perm] == [5, None, None]
    with pytest.raises(Exception, match="malformed protobuf"):
        df.select(
            P.from_protobuf_binary(
                F.col("p"), src, spark, mode="FAILFAST",
                use_native="fallback",
            ).alias("r")
        ).collect()


def test_native_probe_contract(spark):
    """The probe must answer False in this container (no
    spark-protobuf jar) and use_native='native' must then fail LOUDLY
    at import/class-load, never silently fall back."""
    from ibd_pipeline_spark.sources import proto_codec as P

    assert P.protobuf_expressions_available(spark) is False
    import pyspark.sql.functions as F

    with pytest.raises(Exception):
        spark.range(1).select(
            P.to_protobuf_binary(
                F.struct(F.col("id")),
                "message T { int64 id = 1; }",
                spark,
                use_native="native",
            )
        ).collect()


def test_proto_decode_under_readstream(spark, tmp_path):
    """The proto decode path must be streaming-legal, like the Avro
    dispatch (r15): the same from_protobuf_binary column over a
    file-source stream must equal the batch decode row-for-row."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.sources import proto_codec as P

    src_proto = (
        "message T { int64 id = 1; string s = 2; optional double v = 3; }"
    )
    rows = [(i, f"s{i}", None if i % 3 == 0 else i / 4.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, s string, v double")
    wire = df.select(
        P.to_confluent_proto_wire(
            P.to_protobuf_binary(
                F.struct("id", "s", "v"), src_proto, spark,
                use_native="fallback",
            ),
            5,
        ).alias("wire")
    )
    src = str(tmp_path / "proto_topic")
    wire.repartition(4).write.parquet(src)

    def decode(frame):
        return frame.select(
            P.from_protobuf_binary(
                P.proto_wire_payload(F.col("wire"), 5),
                src_proto,
                spark,
                mode="FAILFAST",
                use_native="fallback",
            ).alias("r")
        ).select("r.*")

    batch = sorted(tuple(r) for r in decode(spark.read.parquet(src)).collect())
    stream = (
        spark.readStream.schema("wire binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        decode(stream)
        .writeStream.format("memory")
        .queryName("proto_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2
    got = sorted(
        tuple(r) for r in spark.table("proto_stream_sink").collect()
    )
    assert got == batch == sorted(rows)


# ---------------------------------------------------------------------------
# packed repeated fields (r15 second wave — embedding transport)
# ---------------------------------------------------------------------------


def test_packed_repeated_spec_vector():
    """The spec's canonical packed example: repeated int32 field 6
    with [3, 270, 86942] -> `32 06 03 8E 02 9E A7 05`."""
    c = MessageCodec("message Test5 { repeated int32 f = 6; }")
    enc = c.encode([[3, 270, 86942]])
    assert enc.hex() == "3206038e029ea705"
    assert c.decode(enc) == [[3, 270, 86942]]


def test_packed_repeated_semantics():
    c = MessageCodec("message Test5 { repeated int32 f = 6; }")
    # empty/None elided; absent decodes to []
    assert c.encode([[]]) == b"" and c.encode([None]) == b""
    assert c.decode(b"") == [[]]
    # spec: parsers accept UNPACKED occurrences and concatenate
    unpacked = bytes([0x30, 0x03, 0x30, 0x8E, 0x02])
    assert c.decode(unpacked) == [[3, 270]]
    assert c.decode(c.encode([[1]]) + unpacked) == [[1, 3, 270]]
    # truncated packed chunk is malformation
    cf = MessageCodec("message V { repeated float xs = 1; }")
    good = cf.encode([[1.5, -2.0]])
    with pytest.raises(ValueError):
        cf.decode(good[:-1])
    # float packing is 4-byte little-endian per element
    assert good.hex() == "0a080000c03f000000c0"
    assert cf.decode(good) == [[1.5, -2.0]]


def test_packed_repeated_zigzag_and_double():
    c = MessageCodec(
        "message P { repeated sint64 a = 1; repeated double b = 2; }"
    )
    enc = c.encode([[-1, 0, 2**40], [0.5, -0.0]])
    got = c.decode(enc)
    assert got == [[-1, 0, 2**40], [0.5, -0.0]]


def test_descriptor_label_repeated():
    from ibd_pipeline_spark.sources.proto_codec import read_uvarint

    buf = descriptor_set_bytes("message V { repeated float xs = 1; }")

    def walk(b):
        out, pos = [], 0
        while pos < len(b):
            key, pos = read_uvarint(b, pos)
            num, wt = key >> 3, key & 7
            if wt == 2:
                ln, pos = read_uvarint(b, pos)
                out.append((num, b[pos : pos + ln]))
                pos += ln
            else:
                v, pos = read_uvarint(b, pos)
                out.append((num, v))
        return out

    (file_entry,) = walk(buf)
    fdp = dict(walk(file_entry[1]))
    msg = walk(fdp[4])
    (field,) = [v for n, v in msg if n == 2]
    f = dict(walk(field))
    assert f[4] == 3  # LABEL_REPEATED
    assert f[5] == 2  # TYPE_FLOAT
    assert 17 not in f  # no proto3_optional on repeated
