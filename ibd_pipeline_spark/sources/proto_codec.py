"""Protobuf MESSAGE-payload codec: `from_protobuf`/`to_protobuf` for
Kafka value columns, with Confluent wire-format framing — the OTHER
schema-registry payload form production topics carry, beside the Avro
sibling (`sources/avro_codec.py`).

Reference parity: the reference's core ingest step is binary-payload
decode — `spark_processor.py:123-124` does `CAST(value AS STRING)` +
`from_json`; schema-registry topics carry Confluent-framed Avro OR
protobuf instead. This module is that step's protobuf form.

Native-vs-fallback (probe-don't-assume, the avro_codec doctrine
verbatim): Spark's `from_protobuf`/`to_protobuf` Column expressions
live in the EXTERNAL spark-protobuf module (deployed with
``--packages org.apache.spark:spark-protobuf_2.13:<ver>``); the
bundled spark-sql jar does not carry them, and this container has no
``google.protobuf`` either (SKIPS.md §2). So:

- when the expressions ARE loadable we return them directly — the
  JVM path, fed a binary FileDescriptorSet that `descriptor_set_bytes`
  generates from the SAME parsed schema (no protoc needed: a
  descriptor set is itself a proto message, and this module can
  encode proto messages);
- otherwise we fall back to an Arrow-batched pandas-UDF codec
  implementing the PUBLIC protobuf wire format
  (https://protobuf.dev/programming-guides/encoding/ — base-128
  varints, zigzag sint32/sint64, little-endian I32/I64 fields,
  length-delimited strings/bytes, tag = field_number << 3 | wire_type)
  for the proto3 scalar subset below. Byte parity is pinned against
  the spec's published vectors (`08 96 01` for field1 = 150,
  `12 07 74 65 73 74 69 6e 67` for field2 = "testing", the 10-byte
  two's-complement negative int64, zigzag tables) in
  tests/test_proto_codec.py — a JVM reference encoding is not
  obtainable in this container (no spark-protobuf jar, no protoc,
  no google.protobuf), which is an env gap, documented not hidden.

Supported schema subset (proto3, single message, scalar fields):
int32 int64 uint32 uint64 sint32 sint64 bool fixed64 sfixed64 double
fixed32 sfixed32 float string bytes — each either implicit-presence
(proto3 default: zero values are NOT serialized; absent decodes to
the default) or `optional` (explicit presence: absent decodes to
NULL, present-even-if-default serializes). uint64/fixed64 values must
fit a signed 64-bit Spark long (enforced loudly — Spark has no
unsigned type). Unknown fields are SKIPPED on decode per the spec
(forward compatibility); malformation = mid-field truncation,
overlong varint, wire type ∉ {0,1,2,5}, LEN overrun, or invalid
UTF-8 in a string field.

Fallback caveat (same as avro_codec): pandas collapses None and NaN
in float64 columns, so in the fallback a NaN in an `optional`
float/double field encodes as ABSENT, and in an implicit-presence
field as the zero default. Fixture data carries no NaNs.

Scale: the framing helpers are pure built-in Column expressions —
JVM-side at any scale. The codec is JVM-native when spark-protobuf
is deployed; the fallback is an Arrow-batched scalar pandas UDF (one
Python round-trip per batch, the same budget class as the Avro/PNG/
WAV decode paths).
"""

from __future__ import annotations

import re
import struct as _struct

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ibd_pipeline_spark.sources.avro_codec import (
    struct_decoder,
    struct_encoder,
    zigzag_decode,
    zigzag_encode,
)

# ---------------------------------------------------------------------------
# Proto wire primitives (public spec: protobuf.dev encoding guide)
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5
_MASK64 = (1 << 64) - 1


def write_uvarint(u: int, out: bytearray) -> None:
    """Unsigned base-128 varint, little-endian groups of 7 bits —
    same byte layout as Avro's, but proto feeds it UNSIGNED values
    (negative int32/int64 go through two's complement, not zigzag)."""
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    """Returns (value, new_pos). Raises ValueError on truncation or an
    overlong (>10 byte) varint."""
    u = 0
    shift = 0
    n = len(buf)
    for _ in range(10):
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not (b & 0x80):
            return u, pos
        shift += 7
    raise ValueError("overlong varint (>10 bytes)")


def uvarint_len(u: int) -> int:
    n = 1
    while u >= 0x80:
        u >>= 7
        n += 1
    return n


def write_tag(field_number: int, wire_type: int, out: bytearray) -> None:
    write_uvarint((field_number << 3) | wire_type, out)


# ---------------------------------------------------------------------------
# proto3 schema subset parser
# ---------------------------------------------------------------------------

_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "sint32", "sint64", "bool"}
_I64_TYPES = {"fixed64", "sfixed64", "double"}
_I32_TYPES = {"fixed32", "sfixed32", "float"}
_LEN_TYPES = {"string", "bytes"}
_ALL_TYPES = _VARINT_TYPES | _I64_TYPES | _I32_TYPES | _LEN_TYPES

_SPARK_TYPE: dict[str, DataType] = {
    "int32": IntegerType(),
    "sint32": IntegerType(),
    "sfixed32": IntegerType(),
    "uint32": LongType(),
    "fixed32": LongType(),  # unsigned 32 always fits a long
    "int64": LongType(),
    "sint64": LongType(),
    "sfixed64": LongType(),
    "uint64": LongType(),  # < 2**63 enforced (Spark has no unsigned)
    "fixed64": LongType(),
    "bool": BooleanType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
}

_DEFAULTS = {
    "bool": False,
    "float": 0.0,
    "double": 0.0,
    "string": "",
    "bytes": b"",
}

_FIELD_RE = re.compile(
    r"^\s*(optional\s+|repeated\s+)?([a-z0-9]+)\s+([A-Za-z_][A-Za-z0-9_]*)"
    r"\s*=\s*(\d+)\s*;\s*$"
)

# packable element types (proto3 packs scalar numerics/bool by
# default; repeated string/bytes are never packed and stay outside
# this subset)
_PACKABLE = _VARINT_TYPES | _I64_TYPES | _I32_TYPES
_MSG_RE = re.compile(
    r"message\s+([A-Za-z_][A-Za-z0-9_]*)\s*\{(.*?)\}", re.S
)


class _PField:
    __slots__ = ("name", "ptype", "number", "optional", "repeated", "wire_type")

    def __init__(
        self,
        name: str,
        ptype: str,
        number: int,
        optional: bool,
        repeated: bool = False,
    ):
        self.name = name
        self.ptype = ptype
        self.number = number
        self.optional = optional
        self.repeated = repeated
        if ptype in _VARINT_TYPES:
            self.wire_type = _WT_VARINT
        elif ptype in _I64_TYPES:
            self.wire_type = _WT_I64
        elif ptype in _I32_TYPES:
            self.wire_type = _WT_I32
        else:
            self.wire_type = _WT_LEN


def parse_proto(proto_src: str) -> tuple[str, list[_PField]]:
    """Parse the proto3 subset: one `message` with scalar fields, each
    optionally marked `optional`. Comments (// and /* */) and a
    `syntax = "proto3";` line are tolerated and ignored."""
    src = re.sub(r"//[^\n]*", "", proto_src)
    src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
    m = _MSG_RE.search(src)
    if not m:
        raise ValueError("schema subset: expected one `message {...}`")
    name, body = m.group(1), m.group(2)
    fields: list[_PField] = []
    seen_nums: set[int] = set()
    for line in body.split(";"):
        line = line.strip()
        if not line:
            continue
        fm = _FIELD_RE.match(line + ";")
        if not fm:
            raise ValueError(f"unsupported field declaration: {line!r}")
        label = (fm.group(1) or "").strip()
        opt, rep = label == "optional", label == "repeated"
        ptype, fname, num = fm.group(2), fm.group(3), int(fm.group(4))
        if ptype not in _ALL_TYPES:
            raise ValueError(f"unsupported field type {ptype!r}")
        if rep and ptype not in _PACKABLE:
            raise ValueError(
                f"repeated {ptype} is outside the packed-scalar subset"
            )
        if num < 1 or 19000 <= num <= 19999 or num > 536870911:
            raise ValueError(f"invalid field number {num}")
        if num in seen_nums:
            raise ValueError(f"duplicate field number {num}")
        seen_nums.add(num)
        fields.append(_PField(fname, ptype, num, opt, rep))
    if not fields:
        raise ValueError("schema subset: message has no fields")
    return name, fields


# ---------------------------------------------------------------------------
# Message codec
# ---------------------------------------------------------------------------


def _decode_scalar(t: str, buf, pos: int):
    """One numeric/bool element from the wire (no tag) → (value,
    new_pos) — shared by the singular, packed, and unpacked paths."""
    if t in _VARINT_TYPES:
        u, pos = read_uvarint(buf, pos)
        if t in ("int32", "int64"):
            v = u - (1 << 64) if u >= (1 << 63) else u
            if t == "int32":
                if not (-(2**31) <= v < 2**31):
                    raise ValueError("int32 out of range")
                v = int(v)
        elif t in ("uint32", "uint64"):
            hi = 2**32 if t == "uint32" else 2**63
            if u >= hi:
                raise ValueError(f"{t} out of range")
            v = u
        elif t in ("sint32", "sint64"):
            v = zigzag_decode(u)
            if t == "sint32" and not (-(2**31) <= v < 2**31):
                raise ValueError("sint32 out of range")
        else:  # bool
            v = bool(u)
        return v, pos
    if t in _I64_TYPES:
        if pos + 8 > len(buf):
            raise ValueError("truncated 64-bit element")
        if t == "double":
            (v,) = _struct.unpack_from("<d", buf, pos)
        elif t == "sfixed64":
            (v,) = _struct.unpack_from("<q", buf, pos)
        else:  # fixed64
            (v,) = _struct.unpack_from("<Q", buf, pos)
            if v >= 2**63:
                raise ValueError("fixed64 out of the Spark-long-safe range")
        return v, pos + 8
    if t in _I32_TYPES:
        if pos + 4 > len(buf):
            raise ValueError("truncated 32-bit element")
        if t == "float":
            (v,) = _struct.unpack_from("<f", buf, pos)
        elif t == "sfixed32":
            (v,) = _struct.unpack_from("<i", buf, pos)
        else:  # fixed32
            (v,) = _struct.unpack_from("<I", buf, pos)
        return v, pos + 4
    raise ValueError(f"non-scalar element type {t!r}")


def _encode_scalar(t: str, v, out: bytearray, name: str) -> None:
    """One numeric/bool element's wire bytes (no tag) — shared by the
    singular path and the packed-repeated path."""
    if t in ("int32", "int64"):
        iv = int(v)
        if t == "int32" and not (-(2**31) <= iv < 2**31):
            raise ValueError(f"{name}: int32 out of range")
        write_uvarint(iv & _MASK64, out)  # two's complement
    elif t in ("uint32", "uint64"):
        iv = int(v)
        hi = 2**32 if t == "uint32" else 2**63
        if not (0 <= iv < hi):
            raise ValueError(
                f"{name}: {t} out of the Spark-long-safe range [0, {hi})"
            )
        write_uvarint(iv, out)
    elif t in ("sint32", "sint64"):
        bits = 32 if t == "sint32" else 64
        iv = int(v)
        if t == "sint32" and not (-(2**31) <= iv < 2**31):
            raise ValueError(f"{name}: sint32 out of range")
        write_uvarint(zigzag_encode(iv, bits), out)
    elif t == "bool":
        write_uvarint(1 if v else 0, out)
    elif t == "double":
        out += _struct.pack("<d", float(v))
    elif t == "float":
        out += _struct.pack("<f", float(v))
    elif t == "fixed64":
        iv = int(v)
        if not (0 <= iv < 2**63):
            raise ValueError(
                f"{name}: fixed64 out of the Spark-long-safe range"
            )
        out += _struct.pack("<Q", iv)
    elif t == "sfixed64":
        out += _struct.pack("<q", int(v))
    elif t == "fixed32":
        iv = int(v)
        if not (0 <= iv < 2**32):
            raise ValueError(f"{name}: fixed32 out of range")
        out += _struct.pack("<I", iv)
    elif t == "sfixed32":
        out += _struct.pack("<i", int(v))
    else:
        raise ValueError(f"{name}: non-scalar element type {t!r}")


class MessageCodec:
    """Encoder/decoder for one proto3 message schema (subset — see
    module docstring). Pure Python, no third-party deps."""

    def __init__(self, proto_src: str):
        self.name, self.fields = parse_proto(proto_src)
        self._by_num = {f.number: f for f in self.fields}

    # -- encode ------------------------------------------------------------

    def encode(self, values) -> bytes:
        """values: sequence aligned with self.fields. Fields are
        written in ascending field-number order (the canonical
        serialization order). Implicit-presence zero values are
        elided per proto3; None in an optional field means absent;
        repeated fields encode PACKED (the proto3 default for scalar
        numerics), with None/empty elided."""
        out = bytearray()
        pairs = sorted(zip(self.fields, values), key=lambda p: p[0].number)
        for fld, v in pairs:
            t = fld.ptype
            if fld.repeated:
                if v is None or len(v) == 0:
                    continue  # proto3: empty repeated is elided
                packed = bytearray()
                for el in v:
                    _encode_scalar(t, el, packed, fld.name)
                write_tag(fld.number, _WT_LEN, out)
                write_uvarint(len(packed), out)
                out += packed
                continue
            if v is None or v is pd.NaT or (
                isinstance(v, float) and v != v  # NaN caveat
            ):
                if fld.optional:
                    continue  # absent
                v = _DEFAULTS.get(t, 0)  # implicit: None == default
            if not fld.optional:
                # proto3 implicit presence: defaults are not serialized
                if t == "bool" and v is False:
                    continue
                if t in ("string",) and v == "":
                    continue
                if t == "bytes" and bytes(v) == b"":
                    continue
                if t in ("float", "double") and float(v) == 0.0:
                    continue
                if (
                    t in _VARINT_TYPES
                    and t != "bool"
                    and int(v) == 0
                ):
                    continue
                if t in ("fixed32", "sfixed32", "fixed64", "sfixed64") and (
                    int(v) == 0
                ):
                    continue
            write_tag(fld.number, fld.wire_type, out)
            if t == "string":
                b = str(v).encode("utf-8")
                write_uvarint(len(b), out)
                out += b
            elif t == "bytes":
                b = bytes(v)
                write_uvarint(len(b), out)
                out += b
            else:
                _encode_scalar(t, v, out, fld.name)
        return bytes(out)

    # -- decode ------------------------------------------------------------

    def decode(self, buf):
        """Returns a values list aligned with self.fields. Unknown
        fields are skipped per the spec; duplicates: last one wins.
        Raises ValueError on malformation (truncation, overlong
        varint, wire type 3/4/6/7, LEN overrun, invalid UTF-8,
        wire type mismatching the schema's for a known field)."""
        got: dict[int, object] = {}
        pos, n = 0, len(buf)
        while pos < n:
            key, pos = read_uvarint(buf, pos)
            num, wt = key >> 3, key & 7
            if num == 0:
                raise ValueError("field number 0")
            fld = self._by_num.get(num)
            if fld is not None:
                ok_wts = (
                    (fld.wire_type, _WT_LEN) if fld.repeated
                    else (fld.wire_type,)
                )
                if wt not in ok_wts:
                    raise ValueError(
                        f"field {num}: wire type {wt}, schema says "
                        f"{fld.wire_type}"
                    )
            if wt == _WT_VARINT:
                if fld is None:
                    _, pos = read_uvarint(buf, pos)
                    continue
                t = fld.ptype
                if t not in _VARINT_TYPES:
                    raise ValueError(f"varint for non-varint {t}")
                v, pos = _decode_scalar(t, buf, pos)
            elif wt == _WT_I64:
                if pos + 8 > n:
                    raise ValueError("truncated 64-bit field")
                if fld is None:
                    pos += 8
                    continue
                t = fld.ptype
                if t not in _I64_TYPES:
                    raise ValueError(f"64-bit wire for {t}")
                v, pos = _decode_scalar(t, buf, pos)
            elif wt == _WT_I32:
                if pos + 4 > n:
                    raise ValueError("truncated 32-bit field")
                if fld is None:
                    pos += 4
                    continue
                t = fld.ptype
                if t not in _I32_TYPES:
                    raise ValueError(f"32-bit wire for {t}")
                v, pos = _decode_scalar(t, buf, pos)
            elif wt == _WT_LEN:
                ln, pos = read_uvarint(buf, pos)
                if ln < 0 or pos + ln > n:
                    raise ValueError("LEN field overruns the buffer")
                raw = bytes(buf[pos : pos + ln])
                pos += ln
                if fld is None:
                    continue
                t = fld.ptype
                if fld.repeated:
                    # packed elements fill the chunk exactly
                    els, p2 = [], 0
                    while p2 < ln:
                        el, p2 = _decode_scalar(t, raw, p2)
                        els.append(el)
                    got.setdefault(num, []).extend(els)
                    continue
                if t == "string":
                    v = raw.decode("utf-8")  # ValueError on bad UTF-8
                elif t == "bytes":
                    v = raw
                else:
                    raise ValueError(f"LEN for scalar {t}")
            else:
                raise ValueError(f"invalid wire type {wt}")
            if fld.repeated:
                # unpacked occurrence (spec: parsers accept both forms
                # and concatenate across occurrences)
                got.setdefault(num, []).append(v)
            else:
                got[num] = v
        vals = []
        for fld in self.fields:
            if fld.number in got:
                vals.append(got[fld.number])
            elif fld.repeated:
                vals.append([])  # proto3: absent repeated == empty
            elif fld.optional:
                vals.append(None)
            else:
                vals.append(_DEFAULTS.get(fld.ptype, 0))
        return vals

    def spark_schema(self) -> StructType:
        """Spark shape of a decoded message. Every field is nullable
        regardless of presence mode (same Arrow/PERMISSIVE rationale
        as avro_codec.RecordCodec.spark_schema)."""
        from pyspark.sql.types import ArrayType

        def typ(f: _PField) -> DataType:
            base = _SPARK_TYPE[f.ptype]
            return ArrayType(base, False) if f.repeated else base

        return StructType(
            [StructField(f.name, typ(f), True) for f in self.fields]
        )


# UnicodeDecodeError is not a ValueError; normalize so callers catch one
_DECODE_ERRORS = (ValueError, UnicodeDecodeError)


# ---------------------------------------------------------------------------
# FileDescriptorSet generator (feeds the NATIVE spark-protobuf path —
# field numbers from the public google/protobuf/descriptor.proto)
# ---------------------------------------------------------------------------

_TYPE_ENUM = {
    "double": 1, "float": 2, "int64": 3, "uint64": 4, "int32": 5,
    "fixed64": 6, "fixed32": 7, "bool": 8, "string": 9, "bytes": 12,
    "uint32": 13, "sfixed32": 15, "sfixed64": 16, "sint32": 17,
    "sint64": 18,
}


def _len_field(num: int, payload: bytes, out: bytearray) -> None:
    write_tag(num, _WT_LEN, out)
    write_uvarint(len(payload), out)
    out += payload


def _varint_field(num: int, v: int, out: bytearray) -> None:
    write_tag(num, _WT_VARINT, out)
    write_uvarint(v, out)


def descriptor_set_bytes(
    proto_src: str, file_name: str = "generated.proto"
) -> bytes:
    """Serialized google.protobuf.FileDescriptorSet for the parsed
    schema — what `pyspark.sql.protobuf.functions.from_protobuf`
    accepts as `binaryDescriptorSet`, generated with THIS module's own
    wire encoder (a descriptor set is itself a proto message), so the
    native path needs no protoc. proto3 `optional` fields carry the
    spec-required synthetic oneof (DescriptorProto.oneof_decl +
    FieldDescriptorProto.oneof_index/proto3_optional).

    Field numbers (public descriptor.proto): FileDescriptorSet.file=1;
    FileDescriptorProto{name=1, message_type=4, syntax=12};
    DescriptorProto{name=1, field=2, oneof_decl=8};
    FieldDescriptorProto{name=1, number=3, label=4, type=5,
    oneof_index=9, json_name=10, proto3_optional=17};
    OneofDescriptorProto{name=1}."""
    name, fields = parse_proto(proto_src)
    msg = bytearray()
    _len_field(1, name.encode(), msg)  # DescriptorProto.name
    oneof_idx = 0
    oneofs: list[bytes] = []
    for f in fields:
        fd = bytearray()
        _len_field(1, f.name.encode(), fd)  # name
        _varint_field(3, f.number, fd)  # number
        # label: LABEL_REPEATED = 3, else LABEL_OPTIONAL = 1
        _varint_field(4, 3 if f.repeated else 1, fd)
        _varint_field(5, _TYPE_ENUM[f.ptype], fd)  # type
        if f.optional:
            _varint_field(9, oneof_idx, fd)  # oneof_index
            _varint_field(17, 1, fd)  # proto3_optional
            oo = bytearray()
            _len_field(1, f"_{f.name}".encode(), oo)
            oneofs.append(bytes(oo))
            oneof_idx += 1
        _len_field(2, bytes(fd), msg)  # DescriptorProto.field
    for oo in oneofs:
        _len_field(8, oo, msg)  # DescriptorProto.oneof_decl
    fdp = bytearray()
    _len_field(1, file_name.encode(), fdp)  # FileDescriptorProto.name
    _len_field(4, bytes(msg), fdp)  # .message_type
    _len_field(12, b"proto3", fdp)  # .syntax
    fds = bytearray()
    _len_field(1, bytes(fdp), fds)  # FileDescriptorSet.file
    return bytes(fds)


# ---------------------------------------------------------------------------
# Native-expression probe
# ---------------------------------------------------------------------------


def protobuf_expressions_available(spark: SparkSession) -> bool:
    """True when spark-protobuf's from_protobuf/to_protobuf EXPRESSIONS
    are on the classpath (the external module — never bundled)."""
    try:
        return bool(
            spark._jvm.org.apache.spark.util.Utils.classIsLoadable(
                "org.apache.spark.sql.protobuf.CatalystDataToProtobuf"
            )
        )
    except Exception:  # noqa: BLE001 — conservative on odd JVMs
        return False


# ---------------------------------------------------------------------------
# Column-level API
# ---------------------------------------------------------------------------


def to_protobuf_binary(
    data: Column,
    proto_src: str,
    spark: SparkSession,
    use_native: str = "auto",
) -> Column:
    """Encode a STRUCT column to a proto-binary payload column.

    `use_native`: 'auto' (JVM expression when loadable, else the
    pandas-UDF codec), 'native' (require it), 'fallback' (force the
    Python codec — what the spec-vector parity tests pin)."""
    native = use_native == "native" or (
        use_native == "auto" and protobuf_expressions_available(spark)
    )
    if native:
        from pyspark.sql.protobuf.functions import to_protobuf

        name, _ = parse_proto(proto_src)
        return to_protobuf(
            data, name, binaryDescriptorSet=descriptor_set_bytes(proto_src)
        )

    return struct_encoder(MessageCodec(proto_src))(data)


def from_protobuf_binary(
    data: Column,
    proto_src: str,
    spark: SparkSession,
    mode: str = "FAILFAST",
    use_native: str = "auto",
) -> Column:
    """Decode a proto-binary payload column to a STRUCT column.

    mode: FAILFAST (default — raise on the first malformed payload,
    with the reason) or PERMISSIVE (malformed → all-null struct row,
    the quarantine-downstream idiom; note spark-protobuf's native
    mode option is `mode=PERMISSIVE` too). NULL input stays an
    all-null row in both modes (a tombstone is not malformation)."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST|PERMISSIVE, got {mode!r}")
    native = use_native == "native" or (
        use_native == "auto" and protobuf_expressions_available(spark)
    )
    if native:
        from pyspark.sql.protobuf.functions import from_protobuf

        name, _ = parse_proto(proto_src)
        return from_protobuf(
            data,
            name,
            binaryDescriptorSet=descriptor_set_bytes(proto_src),
            options={"mode": mode},
        )

    codec = MessageCodec(proto_src)
    return struct_decoder(
        codec.decode, codec, mode, _DECODE_ERRORS, "protobuf"
    )(data)


# ---------------------------------------------------------------------------
# Confluent schema-registry wire framing for protobuf (pure Column
# expressions). Protobuf framing differs from Avro's by one element:
# magic 0x00 + 4-byte big-endian schema id + MESSAGE-INDEX list
# (varint count then varint indexes; the first top-level message in
# the schema compresses to the single byte 0x00) + body. This module
# handles the single-top-level-message form (index list == 0x00) —
# the overwhelmingly common case and the only one our one-message
# schema subset can name.
# ---------------------------------------------------------------------------


def to_confluent_proto_wire(payload: Column, schema_id: int) -> Column:
    """Frame a proto payload as a Confluent wire message. Pure
    `concat` of a 6-byte binary literal — JVM-side at any scale."""
    if not (0 <= schema_id < 2**31):
        raise ValueError("schema_id must fit a 4-byte unsigned int")
    prefix = b"\x00" + schema_id.to_bytes(4, "big") + b"\x00"
    return F.concat(F.lit(prefix), payload)


def proto_wire_schema_id(wire: Column) -> Column:
    """Schema id of a proto wire message (int), null when the frame is
    too short, the magic byte is wrong, or the message-index list is
    not the single-message 0x00 form."""
    ok = (
        (F.length(wire) >= F.lit(6))
        & (F.substring(wire, 1, 1) == F.lit(b"\x00"))
        & (F.substring(wire, 6, 1) == F.lit(b"\x00"))
    )
    return F.when(
        ok,
        F.conv(F.hex(F.substring(wire, 2, 4)), 16, 10).cast("int"),
    )


def proto_wire_payload(
    wire: Column, expected_schema_id: int | None = None
) -> Column:
    """Proto body of a wire message (binary), null when the frame is
    malformed (short / bad magic / non-0x00 index list) or — when
    `expected_schema_id` is given — the id doesn't match."""
    ok = (
        (F.length(wire) >= F.lit(6))
        & (F.substring(wire, 1, 1) == F.lit(b"\x00"))
        & (F.substring(wire, 6, 1) == F.lit(b"\x00"))
    )
    if expected_schema_id is not None:
        ok = ok & (proto_wire_schema_id(wire) == F.lit(expected_schema_id))
    return F.when(
        ok, F.substring(wire, F.lit(7), F.length(wire) - F.lit(6))
    )
