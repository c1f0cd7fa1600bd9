"""Avro MESSAGE-payload codec: `from_avro`/`to_avro` for Kafka value
columns, with Confluent wire-format framing.

Reference parity: the reference's core ingest step is binary-payload
decode — `spark_processor.py:123-124` does `CAST(value AS STRING)` +
`from_json`; schema-registry Avro payloads are the production form of
exactly that step (magic byte + 4-byte schema id + Avro binary body
instead of UTF-8 JSON). This module is that step's Avro sibling,
landed beside the r13 file-level pair (`io.py:read_avro/write_avro`).

Native-vs-fallback (probe-don't-assume, same doctrine as
`io._avro_format`): Spark's `from_avro`/`to_avro` Column expressions
live in the EXTERNAL spark-avro module — the bundled spark-sql jar
ships `AvroFileFormat`/`AvroSerializer` but NOT the expression classes
(`AvroDataToCatalyst`/`CatalystDataToAvro`; probed in-container —
calling `pyspark.sql.avro.functions.to_avro` raises
AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE). So:

- when the expressions ARE loadable (deployed with
  ``--packages org.apache.spark:spark-avro_2.13:<ver>``) we return
  them directly — whole-stage-codegen JVM path, the 100-TB default;
- otherwise we fall back to an Arrow-batched pandas-UDF codec
  implementing the PUBLIC Avro binary spec
  (https://avro.apache.org/docs/1.11.1/specification/ — zigzag
  varint longs, little-endian IEEE floats, length-prefixed
  strings/bytes, union-index prefix, record = field concatenation)
  for the record subset {boolean, int, long, float, double, string,
  bytes, two-branch null unions}. Byte-compatibility with the JVM
  serializer is pinned by tests/test_avro_codec.py: records written
  by Spark's own AvroFileFormat (uncompressed OCF container) are
  split out of the container and must equal this codec's output
  byte-for-byte, and decode back value-for-value — against the avro
  schema Spark itself generated into the container header.

Fallback caveat (documented, not hidden): pandas' float64 column
representation collapses None and NaN, so in the fallback a NaN in a
NULLABLE float/double field encodes as null; the native JVM path
keeps them distinct. Fixture data carries no NaNs.

Scale: the framing helpers (`to_confluent_wire`/`from_confluent_wire`)
are pure built-in Column expressions — JVM-side at any scale. The
codec itself is JVM-native when spark-avro is deployed; the fallback
is an Arrow-batched scalar pandas UDF (one Python round-trip per
batch, the same budget class as the PNG/WAV decode paths).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import struct as _struct

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Avro binary primitives (public spec)
# ---------------------------------------------------------------------------


def zigzag_encode(v: int, bits: int = 64) -> int:
    """Two's-complement signed → zigzag unsigned (spec: 0,-1,1,-2 →
    0,1,2,3). Python's arithmetic right shift gives -1 for negative
    ints, so the canonical (v << 1) ^ (v >> bits-1) form holds."""
    return (v << 1) ^ (v >> (bits - 1))


def zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def write_varint(z: int, out: bytearray) -> None:
    """Unsigned base-128 varint, little-endian groups of 7 bits."""
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def write_long(v: int, out: bytearray) -> None:
    write_varint(zigzag_encode(v, 64), out)


def read_varint(buf, pos: int) -> tuple[int, int]:
    """Returns (value, new_pos). Raises ValueError on truncation or
    an overlong (>10 byte) varint."""
    z = 0
    shift = 0
    n = len(buf)
    for _ in range(10):
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not (b & 0x80):
            return z, pos
        shift += 7
    raise ValueError("overlong varint (>10 bytes)")


def read_long(buf, pos: int) -> tuple[int, int]:
    z, pos = read_varint(buf, pos)
    return zigzag_decode(z), pos


def varint_len(z: int) -> int:
    """Encoded byte count of an unsigned varint — the arithmetic the
    io_avro_payload_roundtrip oracle reproduces in SQL."""
    n = 1
    while z >= 0x80:
        z >>= 7
        n += 1
    return n


# ---------------------------------------------------------------------------
# Schema-subset parser → record codec
# ---------------------------------------------------------------------------

_PRIMITIVES = {"boolean", "int", "long", "float", "double", "string", "bytes"}

_SPARK_TYPE: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
}


class _Field:
    __slots__ = (
        "name", "prim", "nullable", "null_index",
        "precision", "scale", "fixed_size",
    )

    def __init__(
        self,
        name: str,
        prim: str,
        nullable: bool,
        null_index: int,
        precision: int = 0,
        scale: int = 0,
        fixed_size: int = 0,
    ):
        self.name = name
        self.prim = prim
        self.nullable = nullable
        # union branch index of the "null" member (0 or 1) — Spark's
        # SchemaConverters emits ["type","null"] OR ["null","type"]
        # depending on version; honor whatever the schema says.
        self.null_index = null_index
        self.precision = precision
        self.scale = scale
        self.fixed_size = fixed_size


# logical types (Avro spec §Logical Types — the CDC/Debezium set that
# real change-data topics carry): decimal over bytes (length-prefixed minimal
# two's-complement big-endian unscaled int — the Debezium form) and
# over fixed (constant-size sign-extended — what Spark's own
# SchemaConverters emits for DecimalType), timestamp-micros/-millis
# over long, date over int (days since epoch)
_LOGICAL_KINDS = {
    "decimal-bytes", "decimal-fixed",
    "timestamp-micros", "timestamp-millis", "date",
}


def _parse_type(t) -> tuple[str, int, int, int]:
    """Normalize a field-type schema node (string primitive or
    logical-type dict) → (kind, precision, scale, fixed_size)."""
    if isinstance(t, str):
        if t not in _PRIMITIVES:
            raise ValueError(f"unsupported field type {t!r}")
        return t, 0, 0, 0
    if not isinstance(t, dict):
        raise ValueError(f"unsupported field type {t!r}")
    base = t.get("type")
    lt = t.get("logicalType")
    if lt == "decimal" and base in ("bytes", "fixed"):
        prec = int(t.get("precision", 0))
        scale = int(t.get("scale", 0))
        if not (1 <= prec <= 38) or not (0 <= scale <= prec):
            raise ValueError(
                f"decimal(precision={prec}, scale={scale}) outside the "
                "Spark DecimalType range"
            )
        if base == "fixed":
            size = int(t.get("size", 0))
            if size < 1:
                raise ValueError("fixed decimal needs a positive size")
            return "decimal-fixed", prec, scale, size
        return "decimal-bytes", prec, scale, 0
    if lt == "timestamp-micros" and base == "long":
        return "timestamp-micros", 0, 0, 0
    if lt == "timestamp-millis" and base == "long":
        return "timestamp-millis", 0, 0, 0
    if lt == "date" and base == "int":
        return "date", 0, 0, 0
    if lt is None and isinstance(base, str) and base in _PRIMITIVES:
        # spec: attributes other than a recognized logicalType are
        # annotations; honor the underlying primitive
        return base, 0, 0, 0
    raise ValueError(f"unsupported logical type {t!r}")


_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


def _twos_complement_bytes(u: int) -> bytes:
    """Minimal big-endian two's-complement of a signed int (the Avro
    bytes-decimal payload — Java BigInteger.toByteArray minimality:
    -128 is ONE byte 0x80, 128 is TWO bytes 0x0080)."""
    n = (u.bit_length() if u >= 0 else (u + 1).bit_length()) // 8 + 1
    return u.to_bytes(n, "big", signed=True)


def _to_epoch_int(v, kind: str, name: str) -> int:
    """Epoch micros/millis of a timestamp value. Naive timestamps are
    taken as UTC — correct when spark.sql.session.timeZone is UTC
    (the fixture/driver configuration); the JVM byte-parity test pins
    this against Spark's own Avro writer."""
    if isinstance(v, pd.Timestamp):
        ns = v.value
        return ns // 1000 if kind == "timestamp-micros" else ns // 10**6
    if isinstance(v, _dt.datetime):
        d = v - _EPOCH_DT
        us = (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
        return us if kind == "timestamp-micros" else us // 1000
    return int(v)


def _unscaled(v, scale: int, name: str) -> int:
    """Exact unscaled integer of a Decimal at the schema scale."""
    d = v if isinstance(v, _decimal.Decimal) else _decimal.Decimal(str(v))
    q = d.scaleb(scale)
    u = int(q)
    if q != u:
        raise ValueError(
            f"{name}: {d} does not fit scale {scale} exactly"
        )
    return u


class RecordCodec:
    """Encoder/decoder for one Avro record schema (subset — see
    module docstring). Pure Python, no third-party deps; built either
    from a hand-written schema or from the `avro.schema` Spark itself
    writes into an OCF container header."""

    def __init__(self, schema_json: str):
        s = json.loads(schema_json)
        if not isinstance(s, dict) or s.get("type") != "record":
            raise ValueError("schema subset: top level must be a record")
        self.name = s.get("name", "record")
        self.fields: list[_Field] = []
        for f in s["fields"]:
            t = f["type"]
            if isinstance(t, list):
                if len(t) != 2 or "null" not in t:
                    raise ValueError(
                        "schema subset: only two-branch null unions"
                    )
                null_index = t.index("null")
                kind, prec, scale, size = _parse_type(t[1 - null_index])
                self.fields.append(
                    _Field(
                        f["name"], kind, True, null_index,
                        prec, scale, size,
                    )
                )
            else:
                kind, prec, scale, size = _parse_type(t)
                self.fields.append(
                    _Field(f["name"], kind, False, -1, prec, scale, size)
                )

    # -- encode ------------------------------------------------------------

    def encode(self, values) -> bytes:
        """values: sequence aligned with self.fields."""
        out = bytearray()
        for fld, v in zip(self.fields, values):
            # None, NaT (pandas' null timestamp), or NaN (fallback
            # caveat) all mean "no value"
            is_null = (
                v is None
                or v is pd.NaT
                or (isinstance(v, float) and v != v)
            )
            if fld.nullable:
                if is_null:
                    write_varint(zigzag_encode(fld.null_index, 64), out)
                    continue
                write_varint(zigzag_encode(1 - fld.null_index, 64), out)
            elif is_null:
                raise ValueError(
                    f"null in non-nullable field {fld.name!r}"
                )
            p = fld.prim
            if p == "long":
                write_long(int(v), out)
            elif p == "int":
                write_varint(zigzag_encode(int(v), 32), out)
            elif p == "double":
                out += _struct.pack("<d", float(v))
            elif p == "float":
                out += _struct.pack("<f", float(v))
            elif p == "string":
                b = str(v).encode("utf-8")
                write_long(len(b), out)
                out += b
            elif p == "bytes":
                b = bytes(v)
                write_long(len(b), out)
                out += b
            elif p == "boolean":
                out.append(1 if v else 0)
            elif p == "decimal-bytes":
                b = _twos_complement_bytes(_unscaled(v, fld.scale, fld.name))
                write_long(len(b), out)
                out += b
            elif p == "decimal-fixed":
                u = _unscaled(v, fld.scale, fld.name)
                try:
                    out += u.to_bytes(fld.fixed_size, "big", signed=True)
                except OverflowError as e:
                    raise ValueError(
                        f"{fld.name}: unscaled {u} overflows "
                        f"fixed({fld.fixed_size})"
                    ) from e
            elif p in ("timestamp-micros", "timestamp-millis"):
                write_long(_to_epoch_int(v, p, fld.name), out)
            elif p == "date":
                if isinstance(v, _dt.datetime):
                    v = v.date()
                if isinstance(v, _dt.date):
                    days = (v - _EPOCH_DATE).days
                else:
                    days = int(v)
                write_varint(zigzag_encode(days, 32), out)
        return bytes(out)

    # -- decode ------------------------------------------------------------

    def decode(self, buf, pos: int = 0, strict_trailing: bool = True):
        """Returns (values list, new_pos). Raises ValueError on any
        malformation: truncation, overlong varint, bad union index,
        invalid UTF-8, or (strict_trailing) leftover bytes."""
        vals = []
        for fld in self.fields:
            if fld.nullable:
                idx, pos = read_long(buf, pos)
                if idx == fld.null_index:
                    vals.append(None)
                    continue
                if idx != 1 - fld.null_index:
                    raise ValueError(f"bad union index {idx}")
            p = fld.prim
            if p == "long":
                v, pos = read_long(buf, pos)
            elif p == "int":
                v, pos = read_long(buf, pos)
                if not (-(2**31) <= v < 2**31):
                    raise ValueError("int out of range")
            elif p == "double":
                if pos + 8 > len(buf):
                    raise ValueError("truncated double")
                (v,) = _struct.unpack_from("<d", buf, pos)
                pos += 8
            elif p == "float":
                if pos + 4 > len(buf):
                    raise ValueError("truncated float")
                (v,) = _struct.unpack_from("<f", buf, pos)
                pos += 4
            elif p == "string":
                n, pos = read_long(buf, pos)
                if n < 0 or pos + n > len(buf):
                    raise ValueError("truncated string")
                v = bytes(buf[pos : pos + n]).decode("utf-8")
                pos += n
            elif p == "bytes":
                n, pos = read_long(buf, pos)
                if n < 0 or pos + n > len(buf):
                    raise ValueError("truncated bytes")
                v = bytes(buf[pos : pos + n])
                pos += n
            elif p == "boolean":
                if pos >= len(buf):
                    raise ValueError("truncated boolean")
                b = buf[pos]
                pos += 1
                if b not in (0, 1):
                    raise ValueError("bad boolean byte")
                v = bool(b)
            elif p in ("decimal-bytes", "decimal-fixed"):
                if p == "decimal-bytes":
                    n, pos = read_long(buf, pos)
                    if n < 1 or pos + n > len(buf):
                        raise ValueError("truncated decimal bytes")
                else:
                    n = fld.fixed_size
                    if pos + n > len(buf):
                        raise ValueError("truncated decimal fixed")
                u = int.from_bytes(
                    bytes(buf[pos : pos + n]), "big", signed=True
                )
                pos += n
                v = _decimal.Decimal(u).scaleb(-fld.scale)
                if len(v.as_tuple().digits) > fld.precision:
                    raise ValueError(
                        f"decimal overflows precision {fld.precision}"
                    )
            elif p in ("timestamp-micros", "timestamp-millis"):
                n, pos = read_long(buf, pos)
                us = n if p == "timestamp-micros" else n * 1000
                v = _EPOCH_DT + _dt.timedelta(microseconds=us)
            elif p == "date":
                n, pos = read_long(buf, pos)
                if not (-(2**31) <= n < 2**31):
                    raise ValueError("date out of range")
                v = _EPOCH_DATE + _dt.timedelta(days=n)
            else:
                raise ValueError(f"unsupported kind {p!r}")
            vals.append(v)
        if strict_trailing and pos != len(buf):
            raise ValueError(f"{len(buf) - pos} trailing bytes")
        return vals, pos

    def spark_schema(self) -> StructType:
        """Spark shape of a decoded record. Every field is nullable
        regardless of the avro schema: PERMISSIVE decode fills a
        malformed payload with an all-null row, and Arrow rejects a
        null in a non-nullable vector at read time ("Value at index
        is null") — the avro-level nullability is still enforced,
        by encode()/decode() themselves."""
        def typ(f: _Field) -> DataType:
            if f.prim in ("decimal-bytes", "decimal-fixed"):
                return DecimalType(f.precision, f.scale)
            if f.prim in ("timestamp-micros", "timestamp-millis"):
                return TimestampType()
            if f.prim == "date":
                return DateType()
            return _SPARK_TYPE[f.prim]

        return StructType(
            [StructField(f.name, typ(f), True) for f in self.fields]
        )


# ---------------------------------------------------------------------------
# Native-expression probe
# ---------------------------------------------------------------------------


def avro_expressions_available(spark: SparkSession) -> bool:
    """True when spark-avro's from_avro/to_avro EXPRESSIONS are on the
    classpath (distinct from the file datasource, which the bundled
    jar carries — io.avro_available can be True while this is False)."""
    try:
        return bool(
            spark._jvm.org.apache.spark.util.Utils.classIsLoadable(
                "org.apache.spark.sql.avro.AvroDataToCatalyst"
            )
        )
    except Exception:  # noqa: BLE001 — conservative on odd JVMs
        return False


# ---------------------------------------------------------------------------
# Column-level API
# ---------------------------------------------------------------------------


def struct_encoder(codec):
    """A pandas UDF encoding each row of a STRUCT column to BINARY
    with `codec.encode(values)`, the values in `codec.fields` order and
    nulls as None. The Python fallback of both to_avro_binary and
    proto_codec.to_protobuf_binary."""
    names = [f.name for f in codec.fields]

    @F.pandas_udf(BinaryType())
    def _enc(pdf: pd.DataFrame) -> pd.Series:
        out = []
        cols = [pdf[n] for n in names]
        for tup in zip(*cols):
            vals = [None if v is pd.NA else v for v in tup]
            out.append(codec.encode(vals))
        return pd.Series(out, dtype=object)

    return _enc


def to_avro_binary(
    data: Column,
    schema_json: str,
    spark: SparkSession,
    use_native: str = "auto",
) -> Column:
    """Encode a STRUCT column to an Avro-binary payload column.

    `use_native`: 'auto' (JVM expression when loadable, else the
    pandas-UDF codec), 'native' (require it), 'fallback' (force the
    Python codec — what the byte-parity tests pin)."""
    native = use_native == "native" or (
        use_native == "auto" and avro_expressions_available(spark)
    )
    if native:
        from pyspark.sql.avro.functions import to_avro

        return to_avro(data, schema_json)

    return struct_encoder(RecordCodec(schema_json))(data)


def from_avro_binary(
    data: Column,
    schema_json: str,
    spark: SparkSession,
    mode: str = "FAILFAST",
    use_native: str = "auto",
) -> Column:
    """Decode an Avro-binary payload column to a STRUCT column.

    mode: FAILFAST (default — raise on the first malformed payload,
    with the reason; a corrupt payload on a schema-registry topic is
    an upstream incident) or PERMISSIVE (malformed → all-null struct
    row, the quarantine-downstream idiom — matching the file-level
    read_avro contract and Spark's own from_avro modes)."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST|PERMISSIVE, got {mode!r}")
    native = use_native == "native" or (
        use_native == "auto" and avro_expressions_available(spark)
    )
    if native:
        from pyspark.sql.avro.functions import from_avro

        opts = {"mode": mode}
        return from_avro(data, schema_json, opts)

    codec = RecordCodec(schema_json)
    return struct_decoder(
        lambda b: codec.decode(b)[0], codec, mode, ValueError, "Avro"
    )(data)


def struct_decoder(decode, codec, mode: str, errors, what: str):
    """The Arrow pandas-UDF fallback decoder of from_avro_binary and
    from_protobuf_binary: `decode(bytes)` yields one row of
    `codec.fields`; a null input is a null row. A payload raising
    `errors` is a null row under PERMISSIVE and a ValueError naming
    `what` under FAILFAST."""
    names = [f.name for f in codec.fields]
    permissive = mode == "PERMISSIVE"

    @F.pandas_udf(codec.spark_schema())
    def _dec(s: pd.Series) -> pd.DataFrame:
        rows = []
        for b in s:
            if b is None:
                rows.append([None] * len(names))
                continue
            try:
                rows.append(decode(bytes(b)))
            except errors as e:
                if permissive:
                    rows.append([None] * len(names))
                else:
                    raise ValueError(
                        f"malformed {what} payload ({e}); rerun with "
                        "mode='PERMISSIVE' to quarantine"
                    ) from e
        return pd.DataFrame(rows, columns=names, dtype=object)

    return _dec


# ---------------------------------------------------------------------------
# Confluent schema-registry wire framing (pure Column expressions)
# ---------------------------------------------------------------------------


def to_confluent_wire(payload: Column, schema_id: int) -> Column:
    """Frame an Avro payload as a schema-registry wire message:
    magic byte 0x00 + 4-byte big-endian schema id + body. Pure
    `concat` of a 5-byte binary literal — JVM-side at any scale."""
    if not (0 <= schema_id < 2**31):
        raise ValueError("schema_id must fit a 4-byte unsigned int")
    prefix = b"\x00" + schema_id.to_bytes(4, "big")
    return F.concat(F.lit(prefix), payload)


def wire_schema_id(wire: Column) -> Column:
    """Schema id of a wire message (int), null when the frame is too
    short or the magic byte is wrong."""
    ok = (F.length(wire) >= F.lit(5)) & (
        F.substring(wire, 1, 1) == F.lit(b"\x00")
    )
    return F.when(
        ok,
        F.conv(F.hex(F.substring(wire, 2, 4)), 16, 10).cast("int"),
    )


def wire_payload(wire: Column, expected_schema_id: int | None = None) -> Column:
    """Avro body of a wire message (binary), null when the frame is
    malformed (short / bad magic) or — when `expected_schema_id` is
    given — the id doesn't match (the reader-pinned-schema idiom)."""
    ok = (F.length(wire) >= F.lit(5)) & (
        F.substring(wire, 1, 1) == F.lit(b"\x00")
    )
    if expected_schema_id is not None:
        ok = ok & (wire_schema_id(wire) == F.lit(expected_schema_id))
    return F.when(
        ok, F.substring(wire, F.lit(6), F.length(wire) - F.lit(5))
    )


# ---------------------------------------------------------------------------
# OCF container splitter (test harness for JVM byte-parity — public
# container spec: https://avro.apache.org/docs/1.11.1/specification/
# #object-container-files)
# ---------------------------------------------------------------------------


def split_ocf_records(path: str) -> tuple[str, list[bytes]]:
    """Parse an UNCOMPRESSED Avro Object Container File and return
    (writer schema json, [per-record raw bytes]). Minimal reader used
    by tests to compare Spark's JVM serializer output byte-for-byte
    with RecordCodec — not a general Avro reader (no codecs, no
    schema resolution)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:4] != b"Obj\x01":
        raise ValueError("not an Avro OCF (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long(buf, pos)
        if count == 0:
            break
        if count < 0:  # block form: abs(count) items + byte size
            count = -count
            _, pos = read_long(buf, pos)
        for _ in range(count):
            klen, pos = read_long(buf, pos)
            key = buf[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen, pos = read_long(buf, pos)
            meta[key] = buf[pos : pos + vlen]
            pos += vlen
    codec_name = meta.get("avro.codec", b"null").decode()
    if codec_name != "null":
        raise ValueError(
            f"split_ocf_records handles uncompressed only, got {codec_name}"
        )
    schema_json = meta["avro.schema"].decode("utf-8")
    codec = RecordCodec(schema_json)
    sync = buf[pos : pos + 16]
    pos += 16
    records: list[bytes] = []
    while pos < len(buf):
        n_rec, pos = read_long(buf, pos)
        _size, pos = read_long(buf, pos)
        for _ in range(n_rec):
            start = pos
            _, pos = codec.decode(buf, pos, strict_trailing=False)
            records.append(bytes(buf[start:pos]))
        if buf[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return schema_json, records
